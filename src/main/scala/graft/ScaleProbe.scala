package graft

import org.apache.spark.sql.functions._

/** Corpus-scale throughput probe — the measurement behind BASELINE.md
  * §corpus-scale-probe. The correctness fixtures top out at 5 k
  * documents / 2 k embeddings even at sf0.1, so the dedup / text /
  * vector / streaming families' 100 TB design claims ("the mining is
  * linear in the corpus", "state scales with users, not events/batch")
  * had no measured scale datapoint. This main builds an F×-replicated
  * derivative of sf0.1 in scratch and times one representative key per
  * family at ×1 vs ×F through the UNCHANGED production query code
  * (`SparkEntry.queries`), printing one JSON line with the measured
  * scaling ratios.
  *
  * Replication preserves the workload's statistical shape while
  * keeping shards independent — the regime the linear-scaling claim is
  * actually about (F× more content), not F× literal copies (which
  * would manufacture a quadratic near-dup pair explosion the fixtures
  * don't have):
  *   - documents: per-replica vocabulary remap (every token suffixed
  *     `_i`) — replica i shares no shingles/tokens with replica j, so
  *     mining/tf-idf see F independent corpora; n_chars recomputed.
  *   - embeddings: dimensions rotated by i (a permutation — norms and
  *     intra-replica geometry exactly preserved, cross-replica cosine
  *     decorrelated), vec_id offset in lockstep with doc_id.
  *   - events: event_id offset by exactly n·i (the replay contract
  *     needs a dense 0-based id), ts shifted +35 d·i (id order stays
  *     time order), user_id offset — F× users, the stateful-streaming
  *     state-size axis.
  *   - orders/lineitem/customer/part/supplier: FK ids offset per
  *     replica → F disjoint graph components.
  *
  * Run: `sbt "runMain graft.ScaleProbe"`; env GRAFT_PROBE_FACTOR
  * (default 16), GRAFT_PROBE_KEYS (comma list overriding the default
  * family representatives), SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object ScaleProbe {

  private val DefaultKeys = Seq(
    "dedup_jaccard_pairs", // inverted-index near-dup mining
    "text_dup_spans",      // duplicated-span audit (gram df + owner pick)
    "text_tfidf",          // text aggregation
    "dedup_embedding",     // metric-blocked vector near-dup
    "sim_kmeans",          // iterative trained clustering
    "stream_stateful_count", // arbitrary stateful streaming, F× users
    "pipeline_corpus"      // end-to-end corpus artifact
  )

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.get("GRAFT_PROBE_FACTOR").flatMap(v =>
      scala.util.Try(v.toInt).toOption).getOrElse(16)
    val keys = sys.env.get("GRAFT_PROBE_KEYS")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(DefaultKeys)
    // GRAFT_PROBE_SHUFFLE sizes shuffle partitions to the WORKING SET,
    // not the core count (the Session default): at ×F beyond RAM,
    // cpus-many partitions make each task's sort spill hundreds of
    // runs, and the final spill-merge OOMs on the per-run
    // ReadAheadInputStream buffers before any row moves (measured: ×16
    // wedge fan, 8 partitions, 4 GiB heap). A real cluster runs
    // thousands of shuffle partitions for exactly this reason; AQE
    // coalesces them back when small.
    val spark = Session.local()
    sys.env.get("GRAFT_PROBE_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    // replication lives in graft.Replicate (shared with FixtureGen);
    // the probe keeps identityRep0=false for continuity with the
    // BASELINE.md probe numbers (its x1 corpus is the `_0` remap)
    def replicate(dest: String, f: Int): Unit =
      Replicate.corpus(spark, base, dest, f)

    // per-pass shuffle/spill telemetry (the beyond-RAM datapoint the
    // r12 verdict asked for: run with SPARK_DRIVER_MEM=4g and
    // GRAFT_SCRATCH_DIR on real disk, and the spill columns say whether
    // the run actually exercised disk-backed shuffle instead of RAM)
    val spill = new org.apache.spark.scheduler.SparkListener {
      val disk = new java.util.concurrent.atomic.AtomicLong
      val mem = new java.util.concurrent.atomic.AtomicLong
      val shufW = new java.util.concurrent.atomic.AtomicLong
      val cpuNs = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          disk.addAndGet(m.diskBytesSpilled)
          mem.addAndGet(m.memoryBytesSpilled)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          cpuNs.addAndGet(m.executorCpuTime)
        }
      }
      def snap(): (Long, Long, Long, Long) = (disk.get, mem.get, shufW.get, cpuNs.get)
    }
    spark.sparkContext.addSparkListener(spill)

    def time(dir: String, key: String): (Double, Long, (Long, Long, Long), Double) = {
      // fresh cache state per (dir, key) set so the memoized family
      // minings are paid inside the measured pass, same as a cold run
      // listener delivery is async and the bus drain API is
      // private[spark]; a short settle sleep after the blocking count()
      // bounds attribution error to the final few task-end events
      def settled(): (Long, Long, Long, Long) = { Thread.sleep(400); spill.snap() }
      val (d0, m0, w0, c0) = settled()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(key)(spark, dir)
      val nRows = df.count()
      require(nRows > 0, s"$key returned 0 rows on $dir")
      val sec = (System.nanoTime() - t0) / 1e9
      val (d1, m1, w1, c1) = settled()
      (sec, nRows, (d1 - d0, m1 - m0, w1 - w0), (c1 - c0) / 1e9)
    }

    val out = new StringBuilder
    out.append(s"""{"base":"$base","factor":$factor,"keys":{""")
    // GRAFT_PROBE_CORPUS_DIR: persistent corpus root. Replication is
    // harness SETUP, not the operator under measurement, and its ×F
    // parquet write needs full-size buffers (under a 4 GiB heap the
    // 32 MiB write allocations × 32 tasks starve the GCLocker and die
    // in UNABLE_TO_ACQUIRE_MEMORY before any key runs). With this set,
    // a beyond-RAM pass builds the corpus once under the normal heap
    // and the constrained JVM reuses it: layout $root/x1, $root/x$F;
    // nation is written last, so its _SUCCESS marks a complete build.
    val dirs = sys.env.get("GRAFT_PROBE_CORPUS_DIR") match {
      case Some(root) => Map(1 -> s"$root/x1", factor -> s"$root/x$factor")
      case None => Map(1 -> s"${Tmp.dir("probe_x1")}",
        factor -> s"${Tmp.dir(s"probe_x$factor")}")
    }
    // a cached corpus is only valid for the base it was derived from —
    // a BASE marker (written after nation, the last table) carries the
    // provenance; a mismatch fails loudly instead of silently timing
    // keys against a stale corpus while stamping the new base
    def markerPath(dir: String) = java.nio.file.Paths.get(dir, "BASE")
    def ready(dir: String): Boolean = {
      val done = java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "nation.parquet", "_SUCCESS"))
      if (!done) false
      else if (java.nio.file.Files.exists(markerPath(dir))) {
        val built = new String(
          java.nio.file.Files.readAllBytes(markerPath(dir)), "UTF-8").trim
        require(built == base,
          s"cached probe corpus at $dir was built from $built, not $base — " +
            "delete it or point GRAFT_PROBE_CORPUS_DIR elsewhere")
        true
      } else {
        // nation _SUCCESS without the BASE marker = a build that died
        // between the two writes; its provenance is unknowable, which is
        // exactly the stale-corpus hazard the marker exists to catch —
        // treat as incomplete and rebuild (overwrite mode makes it safe)
        System.err.println(
          s"[probe] $dir has nation _SUCCESS but no BASE marker — rebuilding")
        false
      }
    }
    def build(dir: String, f: Int): Unit = {
      replicate(dir, f)
      java.nio.file.Files.write(markerPath(dir), base.getBytes("UTF-8"))
    }
    if (!ready(dirs(1))) build(dirs(1), 1)
    if (!ready(dirs(factor))) build(dirs(factor), factor)
    if (sys.env.contains("GRAFT_PROBE_BUILD_ONLY")) {
      System.err.println(s"[probe] corpus built at ${dirs(factor)}; exiting (BUILD_ONLY)")
      spark.stop(); return
    }
    val entries = keys.map { key =>
      spark.catalog.clearCache()
      SessionMemo.clear(spark)
      val (warm, _, _, _) = time(dirs(1), key) // warm JIT/codegen on the small corpus
      spark.catalog.clearCache()
      SessionMemo.clear(spark)
      val (t1, r1, _, _) = time(dirs(1), key)
      spark.catalog.clearCache()
      SessionMemo.clear(spark)
      val (tF, rF, (dSp, mSp, shW), cpuS) = time(dirs(factor), key)
      val ratio = tF / t1
      // mean core occupancy of the xF pass: executor CPU seconds / wall
      // (the 2.5-core symptom the fan-split exists to fix is only
      // visible as a number here)
      val occ = cpuS / tF
      System.err.println(f"[probe] $key%-24s x1 $t1%7.2f s/$r1%d rows  x$factor $tF%7.2f s/$rF%d rows  ratio ${ratio}%5.2f (warm $warm%5.2f, xF spill disk ${dSp / 1048576}%d MiB / mem ${mSp / 1048576}%d MiB, shuffle write ${shW / 1048576}%d MiB, occ $occ%4.1f cores)")
      f""""$key":{"x1_sec":$t1%.3f,"x${factor}_sec":$tF%.3f,"ratio":$ratio%.2f,"x1_rows":$r1%d,"x${factor}_rows":$rF%d,"xf_disk_spill_bytes":$dSp%d,"xf_mem_spill_bytes":$mSp%d,"xf_shuffle_write_bytes":$shW%d,"xf_cpu_sec":$cpuS%.1f,"xf_occupancy_cores":$occ%.2f}"""
    }
    out.append(entries.mkString(","))
    out.append("}}")
    println(out.toString)
    spark.stop()
  }
}
