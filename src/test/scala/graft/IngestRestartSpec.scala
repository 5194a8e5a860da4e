package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.StreamingJobs

/** The production ingest contract end to end (r14 verdict #7): the
  * persisted-index dedup stream killed BETWEEN its two micro-batches
  * and resumed against the SAME checkpoint — a brand-new query object,
  * as after a process crash — must produce exactly the audit a clean
  * uninterrupted run produces. This composes the two properties pinned
  * separately elsewhere: stream_restart_recovery (checkpoint resume is
  * exactly-once over the file-source log) and stream_ingest_dedup
  * (candidates come from the persisted band index, never a corpus
  * rescan). The serving path is cross-session by construction, so the
  * restart must also NOT rebuild the index (pinned via the root's
  * marker mtime).
  */
class IngestRestartSpec extends SparkSpec {

  test("ingest dedup survives kill-between-batches on one checkpoint") {
    val outDir = Tmp.dir("ingest_rr_out").toString
    val watch = Tmp.dir("ingest_rr_watch")
    val ckpt = Tmp.dir("ingest_rr_ckpt").toString
    val incoming = StreamingJobs.ingestIncoming(spark, sf)
    val stage = StreamingJobs.stageChunks(incoming, "ingest_rr", 1L)
    val schema = org.apache.spark.sql.types.StructType(
      incoming.schema.filterNot(_.name == "chunk"))

    val t0 = System.currentTimeMillis()
    def feed(chunk: Long): Unit = StreamingJobs.moveChunk(stage, chunk, watch, t0)

    // run 1: first micro-batch only, then the "crash" (query stopped,
    // object discarded — only the checkpoint survives)
    val mk = StreamingJobs.ingestDedupQuery(spark, sf, outDir)
    def start() = mk(spark.readStream.schema(schema).parquet(watch.toString))
      .option("checkpointLocation", ckpt).start()
    val marker = Paths.get(sys.env.getOrElse("GRAFT_MINHASH_INDEX_ROOT",
      "/tmp/graft_minhash_index"), Paths.get(sf).getFileName.toString, "_INDEX")
    val markerMtime = Files.getLastModifiedTime(marker)
    val q1 = start()
    try { feed(0L); q1.processAllAvailable() } finally q1.stop()

    // run 2: resume from the checkpoint with a NEW query; only the new
    // chunk may be read (the file-source log already holds chunk 0 —
    // a re-read would duplicate batch ids and pairs)
    val q2 = start()
    try { feed(1L); q2.processAllAvailable() } finally q2.stop()

    val resumed = spark.read.parquet(outDir)
      .select("a", "b", "j").orderBy("a", "b")
      .collect().map(_.toString).toSeq
    // the clean uninterrupted run (fresh scratch via the bench key)
    val clean = StreamingJobs.ingestDedup(spark, sf)
      .collect().map(_.toString).toSeq
    assert(resumed.nonEmpty, "restart run produced no near-dup audit rows")
    assert(resumed == clean,
      s"restart audit diverged: ${resumed.size} vs clean ${clean.size} rows")
    // both batches committed exactly once: one sink dir per batch id
    val batches = Files.list(Paths.get(outDir)).iterator()
    var dirs = List.empty[String]
    while (batches.hasNext) {
      val n = batches.next().getFileName.toString
      if (n.startsWith("batch=")) dirs ::= n
    }
    assert(dirs.sorted == List("batch=0", "batch=1"), s"sink dirs: $dirs")
    // serving across the restart never rebuilt the persisted index
    assert(Files.getLastModifiedTime(marker) == markerMtime,
      "restart rebuilt the persisted index — serving should only load it")
  }
}
