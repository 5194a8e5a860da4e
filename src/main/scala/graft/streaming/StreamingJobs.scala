package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.{Session, Tables => T, Tmp}

/** SURVEY.md §2B category J — the trigger-dependent streaming operators
  * plus the stateful-processing family: watermark late-drop,
  * dropDuplicatesWithinWatermark, stream–stream interval join,
  * mapGroupsWithState, transformWithState, and a foreachBatch external
  * sink.
  *
  * EVERY job replays the `events` table through the production FILE
  * source (`readStream.schema(...).parquet(watchDir)`): executors stage
  * the table as `chunk=`-partitioned parquet, then the driver moves file
  * NAMES into the watched directory one chunk per micro-batch — it never
  * touches rows, so driver memory is flat in sf and the exercised source
  * is the one a deployment runs. Rounds 1–3 replayed four of these jobs
  * through MemoryStream instead, which (a) shipped each chunk inside the
  * task binary (the round-3 "3.5 MiB task binary" warnings — the driver
  * as data conduit), and (b) fed the chunker with orderBy+toLocalIterator,
  * whose one-job-per-partition fetch serialized 32 scheduler round-trips
  * per key — the root cause of stream_dedup_stateful's 6→36 s inflation
  * under driver-environment load.
  *
  * Lateness/duplication schedules that rounds 1–3 produced with driver-
  * side iterator transforms are now COLUMN EXPRESSIONS on the staged
  * chunk id (a %40 slice shifted two chunks, a %10 slice re-emitted in
  * the next chunk), so the same arrival schedule is reproduced with zero
  * driver buffering.
  *
  * State design for scale: keys are user_id / event_id hashes (uniform),
  * state is O(1) per key, and watermarks bound state retention — the
  * RocksDB state store provider handles >memory state at 100 TB.
  */
object StreamingJobs {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  private val EventCols =
    Seq(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  /** How [[replayFileSource]] feeds its staged chunks to the query. */
  private sealed trait Feed

  /** One long-lived query, one deterministic micro-batch per chunk:
    * chunk c is moved in, then processAllAvailable. `sleepMs` pauses
    * BETWEEN batches (never before the first) — the processing-time gap
    * the TTL semantics test needs to let state expire across batches.
    */
  private final case class PerChunk(sleepMs: Long = 0L) extends Feed

  /** The production "drain the backlog" mode a periodic (cron-style)
    * ingest job runs instead of an always-on stream: for each entry of
    * `drainAfter`, move in every chunk up to it, then run one
    * Trigger.AvailableNow query with maxFilesPerTrigger = 1 — bounded
    * micro-batches of one file each — until it self-terminates. Every
    * drain is a fresh query object on the SAME checkpoint, so each one
    * after the first is a restarted process recovering source offsets
    * and operator state.
    */
  private final case class AvailableNow(drainAfter: Seq[Long]) extends Feed

  /** Stage `rowsWithChunk` (the replayed slice plus a `chunk` column) as
    * chunk-partitioned parquet, then feed chunks 0..maxChunk into a
    * watched directory that `query` reads through the production file
    * source, as `feed` says. `query` builds the writer; the replay adds
    * the checkpoint (and the AvailableNow trigger) and starts it. A
    * memory sink is named `tag`; the caller drains it via [[drain]].
    * All scaffolding lives in RAM-backed scratch (graft.Tmp) and is
    * deleted quietly — a cleanup IO hiccup must never mask the result.
    */
  private def replayFileSource(spark: SparkSession, tag: String,
      rowsWithChunk: DataFrame, maxChunk: Long,
      query: DataFrame => DataStreamWriter[Row],
      feed: Feed = PerChunk(),
      keepNoDataBatches: Boolean = false,
      rocksDbState: Boolean = false): Unit = {
    val watch = Tmp.dir(s"${tag}_watch")
    val ckpt = Tmp.dir(s"${tag}_ckpt")
    var stage: String = null
    try Session.withConfs(spark, replayConfs(keepNoDataBatches, rocksDbState): _*) {
      stage = stageChunks(rowsWithChunk, tag, maxChunk)
      assertStagedWithin(stage, maxChunk)
      val schema = StructType(rowsWithChunk.schema.filterNot(_.name == "chunk"))
      val t0 = System.currentTimeMillis()
      // start the query, hand it to `drive`, stop it however drive ends
      def run(availableNow: Boolean)(drive: StreamingQuery => Unit): Unit = {
        val reader = spark.readStream.schema(schema)
        val source = (if (availableNow) reader.option("maxFilesPerTrigger", "1")
          else reader).parquet(watch.toString)
        val writer = query(source).option("checkpointLocation", ckpt.toString)
        val q = (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
        try drive(q) finally {
          sinkDescriptions.put(tag,
            Option(q.lastProgress).map(_.sink.description).getOrElse(""))
          q.stop()
        }
      }
      feed match {
        case PerChunk(sleepMs) =>
          run(availableNow = false) { q =>
            for (c <- 0L to maxChunk) {
              if (c > 0 && sleepMs > 0) Thread.sleep(sleepMs)
              moveChunk(stage, c, watch, t0)
              q.processAllAvailable()
            }
          }
        case AvailableNow(drainAfter) =>
          var next = 0L
          for (last <- drainAfter) {
            for (c <- next to last) moveChunk(stage, c, watch, t0)
            next = last + 1
            run(availableNow = true)(_.awaitTermination()) // self-terminates when drained
          }
      }
    } finally Seq(Option(stage).map(Paths.get(_).getParent).orNull, watch, ckpt)
      .foreach(Tmp.quietDeleteRecursively)
  }

  /** Session confs [[replayFileSource]] scopes to one replay (the stream
    * pins each at its first batch, so set-before-start is the contract):
    *
    *  - shuffle.partitions = 8: modest state-partition count for the
    *    local replay; state-store commit cost scales with
    *    partitions × batches.
    *  - checkpoint.fileChecksum (Spark 4.1, default on) OFF: every
    *    checkpoint file — offsets, commit log, each state partition's
    *    delta/snapshot, per batch — otherwise gets a sibling checksum
    *    file written and verified. These checkpoints are ephemeral
    *    scratch on tmpfs, deleted seconds after the query stops;
    *    corruption detection buys nothing while costing ~3 file ops ×
    *    ~30 checkpoint files per key. Integrity check, never semantics.
    *  - noDataMicroBatches (r17, measured) OFF: with watermarks on, the
    *    engine interleaves a no-data batch after nearly every data
    *    batch (watermark advanced → shouldRunAnotherBatch) — profiled
    *    replays ran 11 batches for 6 chunks at ~450 ms of driver-side
    *    floor per batch. Every replay's emission is complete without
    *    them: the terminal flush chunks are DATA batches (two where
    *    watermark-gated emission or timers need the flush-advanced
    *    watermark), and watermark VALUES at data batches are a pure
    *    function of the data seen, not of interleaved no-data batches —
    *    so the union-of-batches output is unchanged (the DuckDB oracle
    *    re-proves it per key at every SF). Update/Complete-mode keys
    *    never emitted from no-data batches at all. (An always-on
    *    deployment wants them for eager state cleanup and timely timers
    *    between arrivals — a replay draining a staged backlog does not.)
    *    ONE key keeps them (`keepNoDataBatches`): stream_watermark_late.
    *    Spark filters LATE records with the PREVIOUS batch's watermark
    *    while evicting state with the current one (SPARK-24634), and the
    *    no-data batches are what advance that previous-batch value
    *    between data batches — for the key whose declared semantics ARE
    *    the late-drop schedule, they are load-bearing (measured: without
    *    them the moved slice lands one watermark behind and 60 extra
    *    rows survive). Every other replay's output is emission-complete
    *    and late-schedule-free, re-proven per key per SF by the oracle.
    *    stream_tws_ttl REQUIRES them off: in ProcessingTime mode
    *    TransformWithStateExec.shouldRunAnotherBatch is unconditionally
    *    true, so noNewData never latches and processAllAvailable() would
    *    block forever. Its expiry is enforced at the state READ layer
    *    (an expired value reads as absent), so maintenance batches are
    *    needed only for eager cleanup, never for the semantics.
    *  - stateStore.providerClass = RocksDB when `rocksDbState`:
    *    transformWithState requires the RocksDB provider — which is also
    *    the provider a 100 TB deployment runs for larger-than-memory
    *    state. Every other replay runs the session's provider, so a
    *    deployment that sets spark.sql.streaming.stateStore.providerClass
    *    gets it; results are provider-INVARIANT (SemanticsSpec replays
    *    the mapGroupsWithState and dropDuplicates keys under both).
    */
  private def replayConfs(keepNoDataBatches: Boolean,
      rocksDbState: Boolean): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> keepNoDataBatches.toString) ++
      (if (rocksDbState) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
       else Nil)

  /** Move staged chunk `c`'s parquet files into `watch` with
    * chunk-ordered names (c000_0, c001_0, …) AND mtime t0 + c seconds,
    * so the file source's (mtime, path) discovery order equals event
    * order whichever key it sorts by — the order an AvailableNow drain
    * of a pre-loaded backlog depends on. A chunk with no rows has no
    * staged directory and moves nothing.
    */
  private[graft] def moveChunk(stage: String, c: Long, watch: Path, t0: Long): Unit = {
    val dir = Paths.get(stage, s"chunk=$c")
    if (Files.exists(dir)) {
      val listing = Files.list(dir)
      val files =
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
        } finally listing.close()
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = watch.resolve(f"c$c%03d_$i.parquet")
        Files.move(f, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + c * 1000))
      }
    }
  }

  /** The events in `nChunks` id-range arrival chunks: event_id is a
    * dense time-ordered sequence (TESTDATA.md), so floor(id / per) with
    * per = ceil(n / nChunks) IS the arrival order. Only the (count,
    * maxTs) bounds row crosses to the driver. Returns the five replay
    * columns, the chunk-id column and the last event time.
    */
  private def idChunks(spark: SparkSession, sfDir: String,
      nChunks: Long): (DataFrame, Column, Timestamp) = {
    val ev = T.events(spark, sfDir).select(EventCols: _*)
    val b = ev.agg(count(lit(1)).as("n"), max(col("ts")).as("maxTs")).head()
    val per = math.max(1L, math.ceil(b.getLong(0).toDouble / nChunks).toLong)
    (ev, floor(col("event_id") / lit(per.toDouble)).cast("long"), b.getTimestamp(1))
  }

  /** The events staged for a replay: each row in its [[idChunks]] chunk
    * as rewritten by `arrival` (stream_watermark_late's late slice),
    * followed, when `flush`, by the [[FlushChunks]] terminal flush
    * chunks. Returns the rows and their last chunk id.
    */
  private def eventChunks(spark: SparkSession, sfDir: String, nChunks: Long,
      flush: Boolean, arrival: Column => Column = identity): (DataFrame, Long) = {
    val (ev, chunk, maxTs) = idChunks(spark, sfDir, nChunks)
    val rows = ev.withColumn("chunk", arrival(chunk))
    if (flush) (rows.unionByName(flushRows(spark, maxTs, nChunks, FlushChunks)),
      nChunks + FlushChunks - 1)
    else (rows, nChunks - 1)
  }

  /** How many terminal flush CHUNKS an Append-mode watermark replay
    * must stage while [[replayConfs]] disables no-data micro-batches
    * (the default): the FIRST flush batch advances the watermark past
    * every real window/session/timer deadline, and the SECOND is the
    * data batch in which the engine evaluates emission/timers against
    * that advanced watermark — the work the trailing no-data batch used
    * to do. A key that paired ONE flush chunk with the disabled default
    * would leave its last window unemitted (r17 ADVICE: the coupling
    * was spread across six call sites as a bare literal 2 — it now has
    * one name, defined next to the conf it compensates). Keys that keep
    * no-data batches (stream_watermark_late) or run Update/Complete
    * mode don't need the second chunk but stay on the shared constant:
    * one extra sub-second batch buys a single invariant for the family.
    */
  private[graft] val FlushChunks = 2

  /** terminal flush rows: far-future events that advance the watermark
    * past every real window so Append mode emits them all. */
  private def flushRows(spark: SparkSession, maxTs: Timestamp, firstChunk: Long,
      nFlush: Int): DataFrame = {
    import spark.implicits._
    val flushTs = new Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000)
    (0 until nFlush).map(i =>
        (-(i + 1).toLong, flushTs, -1L, "___flush", 0.0, firstChunk + i))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "chunk")
  }

  /** foreachBatch body of every batch-keyed sink: write `shape` of the
    * micro-batch to its own batchId-keyed subdir with overwrite, never
    * append to a shared dir — foreachBatch is at-least-once, so a
    * retried micro-batch must REPLACE its output instead of re-appending
    * it (exactly-once by idempotence, the production pattern). A
    * restarted query's ids continue from its checkpoint, so an earlier
    * run's batches are never clobbered.
    */
  private def sinkBatches(outDir: String,
      shape: DataFrame => DataFrame = identity): (DataFrame, Long) => Unit =
    (batch, id) => shape(batch).write.mode("overwrite").parquet(s"$outDir/batch=$id")

  /** Run `replay` against a fresh [[sinkBatches]] directory and return
    * `result` of the union of its batches. The batch=<id> layout is
    * partition-style, so the read-back is one parquet table whose
    * `batch` column is the micro-batch id — stream_tws_ttl keeps each
    * user's last batch by it; every other result projects it away. The
    * result is small (aggregated or |users|-bounded) and pinned to
    * executor blocks, so the sink directory is deleted eagerly instead
    * of leaking one dir per run for a lazy read-back.
    */
  private def viaBatchSink(spark: SparkSession, tag: String)(replay: String => Unit)(
      result: DataFrame => DataFrame): DataFrame = {
    val outDir = Tmp.dir(tag)
    try {
      replay(outDir.toString)
      result(spark.read.parquet(outDir.toString)).localCheckpoint(true)
    } finally Tmp.quietDeleteRecursively(outDir)
  }

  /** sink description per replay tag — the test suite pins the
    * stream_stream_join / stream_stateful_count sinks here
    * (ForeachBatchSink, never a driver-heap MemorySink of raw rows; the
    * r5 weak mark). Keyed by tag, not a process-global last-writer-wins
    * scalar, so a parallel test run or interleaved replay can never read
    * another job's sink (r6 advice).
    */
  private val sinkDescriptions =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def sinkDescription(tag: String): String =
    Option(sinkDescriptions.get(tag)).getOrElse("")

  private[graft] def stageChunks(rowsWithChunk: DataFrame, tag: String,
      maxChunk: Long): String = {
    // maxChunk + 1 becomes the range-partition count: reject what an Int
    // cannot hold before any scratch dir exists
    require(maxChunk >= 0 && maxChunk < Int.MaxValue,
      s"stageChunks($tag): maxChunk $maxChunk outside [0, Int.MaxValue)")
    val root = Tmp.dir(s"${tag}_stage")
    val stage = root.resolve("p").toString
    try {
      // r18 (guide §2.5): the bare repartition(col) let AQE coalesce the
      // few-MB staged slice to ONE partition, so every replay key encoded
      // its whole input serially (profiled 1.24 s single-task write in
      // stream_session_tws). Range-partition on the chunk value with an
      // explicit count instead: each chunk lands whole in its own
      // partition (the one-file-per-chunk discovery-order contract the
      // AvailableNow keys document), the writes run chunk-parallel, and
      // the explicit count keeps AQE's coalescer out of it. Distinct
      // chunk values are dense 0..maxChunk (assertStagedWithin enforces
      // the caller's contract), so the range sample splits them exactly;
      // the count is data-derived, not the core count.
      // uncompressed: the staged chunks are RAM-backed scratch read
      // exactly once by the file source — snappy costs ~0.2 s per key
      // here and buys nothing on tmpfs (A/B in OPTIMIZATION_r18.md)
      rowsWithChunk.repartitionByRange(maxChunk.toInt + 1, col("chunk"))
        .write.option("compression", "uncompressed")
        .partitionBy("chunk").parquet(stage)
      stage
    } catch {
      // a failed staging write must not leak its partial output
      case e: Throwable => Tmp.quietDeleteRecursively(root); throw e
    }
  }

  /** The chunk expression floor(event_id/per) only stays ≤ maxChunk
    * because event_id is 0-based dense (TESTDATA.md); a 1-based or
    * sparse id table would stage rows into a chunk the feeder never
    * moves and they would SILENTLY vanish from the result. Fail loudly
    * instead — the staged `chunk=` partition directories are the ground
    * truth, so check them (one directory listing, no extra Spark job).
    */
  private[graft] def assertStagedWithin(stage: String, maxChunk: Long): Unit = {
    val listing = Files.list(java.nio.file.Paths.get(stage))
    val staged =
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.map(_.getFileName.toString)
          .collect { case s if s.startsWith("chunk=") =>
            s.stripPrefix("chunk=").toLong }
          .toSeq
      } finally listing.close()
    val over = staged.filter(_ > maxChunk)
    require(over.isEmpty,
      s"staged chunks [${over.sorted.mkString(",")}] exceed maxChunk=$maxChunk " +
        "and would never be fed (0-based dense event_id contract broken?)")
  }

  /** memory-sink drain: pin the (small, aggregated) result to executor
    * blocks and DROP the sink table. The memory sink stores its rows on
    * the DRIVER heap; nine streaming keys leaving their sinks registered
    * for the session held megabytes of raw rows alive across the rest of
    * the bench (GC pressure that round 3 measured as 4-11× inflation of
    * the CPU keys that ran after the streams). localCheckpoint blocks
    * are released by the ContextCleaner once the frame is unreferenced.
    */
  private def drain(spark: SparkSession, sinkName: String): DataFrame = {
    val out = spark.table(sinkName).localCheckpoint(true)
    spark.catalog.dropTempView(sinkName)
    out
  }

  /** 1-h tumbling counts with a 10-min watermark; events that arrive
    * after the watermark passed their window are DROPPED. Every 40th
    * event is shifted two chunks later to manufacture late data (a
    * column expression, not driver buffering; the %40 slice of chunk i
    * arrives with chunk i+2, capped into the first flush chunk — the
    * same lateness schedule the round-1/2 MemoryStream replay produced).
    */
  def watermarkLate(spark: SparkSession, sfDir: String): DataFrame = {
    val nChunks = 4L
    val (staged, maxChunk) = eventChunks(spark, sfDir, nChunks, flush = true,
      arrival = base => when(col("event_id") % 40 === 0,
        least(base + 2, lit(nChunks))).otherwise(base))
    replayFileSource(spark, "wm_late", staged, maxChunk,
      stream => stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("wm_late")
        .outputMode(OutputMode.Append()),
      // the late-drop SCHEDULE is this key's declared semantics, and
      // Spark filters late records with the PREVIOUS batch's watermark —
      // the no-data batches between chunks are what advance it, so this
      // one replay keeps them (see replayConfs)
      keepNoDataBatches = true)
    drain(spark, "wm_late")
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .filter(col("event_type") =!= "___flush")
      .orderBy("ws", "event_type")
  }

  /** stream-static enrichment join — THE most common production
    * streaming shape: each event enriched against a broadcast dimension
    * (user → nation) inside the micro-batch, then watermarked tumbling
    * counts per (window, nation). The static side is stateless (no
    * join state, re-broadcast per batch); the flush rows' user_id = -1
    * never matches the dimension, so they advance the watermark at the
    * SOURCE (watermark tracks pre-join event time) without surviving
    * into the output — no sentinel filter needed. Append-mode emission
    * over the in-order replay makes the union-of-batches equal the
    * batch join+aggregate, which is the oracle.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (staged, maxChunk) = eventChunks(spark, sfDir, 4L, flush = true)
    val dim = T.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_nationkey").as("nation"))
    replayFileSource(spark, "ss_join", staged, maxChunk, stream =>
      stream
        .withWatermark("ts", "10 minutes")
        .join(broadcast(dim), Seq("user_id"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("nation"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("ss_join")
        .outputMode(OutputMode.Append()))
    drain(spark, "ss_join")
      .select(col("w.start").as("ws"), col("nation"), col("n"))
      .orderBy("ws", "nation")
  }

  /** streaming exact dedup on event_id within the watermark horizon; the
    * replay re-sends every 10th event of chunk i inside chunk i+1 (a
    * second staged copy of the %10 slice, chunk-shifted — no driver
    * buffering) — the duplicates must not survive.
    */
  def dedupStateful(spark: SparkSession, sfDir: String): DataFrame = {
    val nChunks = 3L
    val (ev, base, _) = idChunks(spark, sfDir, nChunks)
    // duplicates: the %10 slice of chunks 0..nChunks-2, arriving one
    // chunk later (the last chunk's slice is never re-sent — the same
    // schedule the round-1/2 driver-side reinject transform produced)
    val dups = ev.filter(col("event_id") % 10 === 0 && base < nChunks - 1)
      .withColumn("chunk", base + 1)
    val staged = ev.withColumn("chunk", base).unionByName(dups)
    replayFileSource(spark, "dedup_stream", staged, nChunks - 1,
      stream => stream
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(Seq("event_id"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("dedup_stream")
        .outputMode(OutputMode.Complete()))
    drain(spark, "dedup_stream").orderBy("event_type")
  }

  /** stream–stream interval join: purchases joined to the same user's
    * clicks within the preceding 10 minutes. Both sides are watermarked
    * so Spark can bound the join state; the time-range predicate gives
    * the state eviction condition. 2 chunks: state still crosses a
    * batch boundary, but fewer micro-batches = fewer state-store
    * commits; inner-join matches emit as soon as both sides arrive, so
    * the result equals the batch interval join (the oracle).
    *
    * Sink: rounds 1–5 landed the RAW pair rows in a `memory` sink —
    * O(matches) rows on the driver heap, and the match count is
    * data-dependent (every click within 10 min of a purchase), so at
    * 100× scale that was a driver-OOM path and the bench's worst load
    * outlier (25.5 s in r5 vs its 5.9 s envelope). Now each
    * micro-batch's matches are aggregated per user INSIDE foreachBatch
    * on the executors and only the tiny per-batch partial counts land
    * in scratch parquet; the read-back sums the partials. Counts are
    * additive across batches because Append-mode inner joins emit each
    * match exactly once.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    viaBatchSink(spark, "ss_join_out") { outDir =>
      val (staged, maxChunk) = eventChunks(spark, sfDir, 2L, flush = false)
      replayFileSource(spark, "ss_join", staged, maxChunk, stream => {
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "30 minutes")
        val buys = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "30 minutes")
        buys.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
            col("c_ts") < col("p_ts"))
          .writeStream
          .outputMode(OutputMode.Append())
          .foreachBatch(sinkBatches(outDir,
            _.groupBy("p_user").agg(count(lit(1)).as("np"))))
      })
    } {
      _.groupBy(col("p_user").as("user_id"))
        .agg(sum("np").as("n_pairs"))
        .orderBy("user_id")
    }

  case class TypeAgg(event_type: String, n: Long, sv: Double)
  // `value` is 2-dp money stored as doubles; the state accumulates EXACT
  // Long cents (rint recovers the intended 2-dp decimal from the nearest
  // double) so the running sum is order-independent — a raw double fold
  // could drift vs the oracle's decimal SUM on half-cent boundaries.
  private def cents(v: Double): Long = math.rint(v * 100.0).toLong

  /** Spark 4 `transformWithState` variant of arbitrary state: a
    * StatefulProcessor with a typed ValueState keeps running
    * (count, Σvalue) per event_type and emits the updated aggregate
    * every batch. Same operator family as mapGroupsWithState but with
    * composable state handles (the forward-looking API).
    */
  private class TypeAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, TypeAgg] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      state = getHandle.getValueState[(Long, Double)]("agg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeAgg] = {
      val prev = Option(state.get()).getOrElse((0L, 0.0))
      // second slot holds Long cents widened to double (exact ≤ 2^53)
      val next = rows.foldLeft(prev) { case ((n, sc), e) =>
        (n + 1L, sc + cents(e.value).toDouble)
      }
      state.update(next)
      Iterator(TypeAgg(key, next._1, next._2 / 100.0))
    }
  }

  /** running per-type aggregates via the transformWithState API; the
    * final per-type row (max count) is the steady state.
    */
  def transformWithStateAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (staged, maxChunk) = eventChunks(spark, sfDir, 2L, flush = false)
    replayFileSource(spark, "tws_agg", staged, maxChunk,
      stream => stream.as[Event]
        .groupByKey(_.event_type)
        .transformWithState(new TypeAggProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
        .toDF()
        .writeStream.format("memory").queryName("tws_agg")
        .outputMode(OutputMode.Update()),
      rocksDbState = true)
    // final state per type = the update with the largest count
    // (counts are strictly monotone per update)
    drain(spark, "tws_agg")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("sv"))).as("m"))
      .select(col("event_type"), col("m.n").as("n"),
        round(col("m.sv"), 2).as("sv"))
      .orderBy("event_type")
  }

  case class UserLast3(user_id: Long, n_seen: Long,
      id1: java.lang.Long, v1: java.lang.Double,
      id2: java.lang.Long, v2: java.lang.Double,
      id3: java.lang.Long, v3: java.lang.Double)

  /** transformWithState with COMPOSABLE handles — a bounded ListState
    * (the last-3 events per user by event_id) next to a ValueState
    * counter in ONE processor: the session-buffer shape (recent-items
    * feature windows) ValueState can't express. Order-INDEPENDENT by
    * construction: the buffer keeps the 3 largest event_ids seen, so
    * any batch/shuffle arrival order converges to the same state —
    * which is what makes the key oracle-able (rank-by-event_id in SQL).
    */
  private class UserLast3Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserLast3] {
    @transient private var buf: org.apache.spark.sql.streaming.ListState[(Long, Double)] = _
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[(Long, Double)]("last3",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserLast3] = {
      val incoming = rows.map(e => (e.event_id, e.value)).toSeq
      val merged = (buf.get().toSeq ++ incoming)
        .sortBy(-_._1).take(3)
      buf.clear()
      buf.put(merged.toArray)
      // explicit absent-state guard (the TtlCountProcessor pattern):
      // Option(seen.get()) is a dead branch here — unboxing to scala
      // Long already null→0L-coerces before Option wraps it
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.size
      seen.update(n)
      def id(i: Int): java.lang.Long =
        if (merged.isDefinedAt(i)) Long.box(merged(i)._1) else null
      def v(i: Int): java.lang.Double =
        if (merged.isDefinedAt(i)) Double.box(merged(i)._2) else null
      Iterator(UserLast3(key, n, id(0), v(0), id(1), v(1), id(2), v(2)))
    }
  }

  def transformWithStateList(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (staged, maxChunk) = eventChunks(spark, sfDir, 2L, flush = false)
    replayFileSource(spark, "tws_list", staged, maxChunk,
      stream => stream.as[Event]
        .groupByKey(_.user_id)
        .transformWithState(new UserLast3Processor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
        .toDF()
        .writeStream.format("memory").queryName("tws_list")
        .outputMode(OutputMode.Update()),
      rocksDbState = true)
    // n_seen is strictly monotone per user → the final buffer is the
    // update with the largest n_seen
    drain(spark, "tws_list")
      .groupBy("user_id")
      .agg(max(struct(col("n_seen"), col("id1"), col("v1"),
        col("id2"), col("v2"), col("id3"), col("v3"))).as("m"))
      .select(col("user_id"), col("m.n_seen").as("n_seen"),
        col("m.id1").as("id1"), col("m.v1").as("v1"),
        col("m.id2").as("id2"), col("m.v2").as("v2"),
        col("m.id3").as("id3"), col("m.v3").as("v3"))
      .orderBy("user_id")
  }

  case class TtlCount(user_id: Long, n: Long)

  /** per-user running count whose ValueState carries a PROCESSING-TIME
    * TTL — the unbounded-key-space guard at 100 TB: a crawl-scale
    * user/session key space grows state forever without expiry; with a
    * TTL, a key idle past the horizon is dropped by the store and a late
    * return starts fresh. ttlMs <= 0 disables expiry (state then behaves
    * exactly like stream_stateful_count's NoTimeout state).
    */
  private class TtlCountProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TtlCount] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val ttl = if (ttlMs > 0)
        org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(ttlMs))
      else org.apache.spark.sql.streaming.TTLConfig.NONE
      state = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, ttl)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TtlCount] = {
      // exists() respects TTL at the store read layer: an expired value
      // reads as absent, which IS the semantics under test
      val prev = if (state.exists()) state.get() else 0L
      val next = prev + rows.size
      state.update(next)
      Iterator(TtlCount(key, next))
    }
  }

  /** per-user FINAL counts from a TTL-state replay; `sleepMs` spaces the
    * micro-batches so a short TTL can expire between them (the
    * SemanticsSpec hook). Final value per user = its row in the LAST
    * batch that touched it (max batch id) — with expiry, counts are NOT
    * monotone, so statefulCount's max-n drain would resurrect
    * pre-expiry state. ProcessingTime mode needs the replay's default
    * of no no-data micro-batches (see [[replayConfs]]).
    */
  private[graft] def twsTtlCounts(spark: SparkSession, sfDir: String,
      ttlMs: Long, sleepMs: Long): DataFrame = {
    import spark.implicits._
    viaBatchSink(spark, "tws_ttl_out") { outDir =>
      val (staged, maxChunk) = eventChunks(spark, sfDir, 2L, flush = false)
      replayFileSource(spark, "tws_ttl", staged, maxChunk,
        stream => stream.as[Event]
          .groupByKey(_.user_id)
          .transformWithState(new TtlCountProcessor(ttlMs),
            org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
            OutputMode.Update())
          .toDF()
          .writeStream
          .outputMode(OutputMode.Update())
          .foreachBatch(sinkBatches(outDir)),
        PerChunk(sleepMs), rocksDbState = true)
    } {
      _.groupBy("user_id")
        .agg(max(struct(col("batch"), col("n"))).as("m"))
        .select(col("user_id"), col("m.n").as("n"))
    }
  }

  /** the `stream_tws_ttl` key: a 1-hour TTL never fires inside an
    * in-process replay, so the output is deterministic — the
    * production-shaped bounded-horizon state — while the expiry
    * semantics are pinned in SemanticsSpec with a millisecond TTL and a
    * real inter-batch gap. Output is the per-user-final-count
    * distribution (compact and stable at every SF).
    */
  def twsTtl(spark: SparkSession, sfDir: String): DataFrame =
    twsTtlCounts(spark, sfDir, ttlMs = 3600L * 1000, sleepMs = 0L)
      .groupBy(col("n").as("n_events"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("n_events")

  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Timestamp ↔ epoch-µs, exact (getTime alone is ms and would drop
    * the µs the regenerated testdata carries). */
  private def tsToUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Event-time session windows as CUSTOM state + timers — the shape
    * the built-in `session_window` aggregate (stream_session) cannot
    * express once the per-session payload stops being an aggregate
    * (here it could carry arbitrary state). One ValueState per user
    * holds the open session (startUs, lastUs, n); rows extend it or —
    * when the event-time gap is exceeded — close it and emit; ONE live
    * event-time timer per key, re-armed at every extension, closes the
    * session when the WATERMARK passes its gap end (the idle-user
    * path; at 100 TB this is what bounds state: closed sessions leave
    * the store immediately instead of accumulating until job end).
    *
    * Emission is exactly-once and content-deterministic under the
    * in-order chunk replay: a future chunk's rows all carry
    * ts ≥ maxTs(previous chunks) and the timer only fires once
    * last + gap ≤ watermark = maxTs − delay < any future ts — so a
    * timer-closed session can never be extended by in-order data, and
    * a session extended in the same batch its old timer expires is
    * protected by the expiry-vs-state validity check (stale timer ⇒
    * no-op). Within a batch, a user's rows are sorted by (ts,
    * event_id) before folding — handleInputRows has no intra-batch
    * order contract.
    */
  private class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] {
    @transient private var sess: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    // timer registration is ms-granular; +1 ms so the timer sits
    // strictly AFTER the gap end (a µs-truncated timer could fire one
    // watermark-ms early — harmless under in-order replay, but the
    // strict form matches the > gap session predicate)
    private def timerMs(lastUs: Long): Long =
      Math.floorDiv(lastUs + gapUs, 1000L) + 1L

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toArray.sortBy(e => (tsToUs(e.ts), e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur: Option[(Long, Long, Long)] =
        if (sess.exists()) Some(sess.get()) else None
      val oldTimer = cur.map(c => timerMs(c._2))
      for (e <- sorted) {
        val us = tsToUs(e.ts)
        cur = cur match {
          case Some((s0, l0, n0)) if us - l0 > gapUs =>
            out += SessionOut(key, usToTs(s0), usToTs(l0), n0)
            Some((us, us, 1L))
          case Some((s0, l0, n0)) =>
            Some((s0, math.max(l0, us), n0 + 1L))
          case None =>
            Some((us, us, 1L))
        }
      }
      cur.foreach { c =>
        sess.update(c)
        val t = timerMs(c._2)
        if (!oldTimer.contains(t)) {
          oldTimer.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(t)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      if (sess.exists()) {
        val (s0, l0, n0) = sess.get()
        if (expiredTimerInfo.getExpiryTimeInMs == timerMs(l0)) {
          sess.clear()
          Iterator.single(SessionOut(key, usToTs(s0), usToTs(l0), n0))
        } else Iterator.empty // stale: session extended after this timer armed
      } else Iterator.empty
    }
  }

  /** the `stream_session_tws` key: per-user event-time sessionization
    * (gap 1 day — the corpus has ~7 events/user/day over 30 days, so
    * the day gap yields real multi-event sessions; a web-scale 30-min
    * gap would make every event its own session here) via
    * transformWithState + event-time timers under RocksDB. The
    * terminal flush chunks push the watermark a week past the data so
    * every open session's timer fires and the output is the COMPLETE
    * session table — which equals batch gaps-islands sessionization,
    * the DuckDB oracle. The second flush chunk is the DATA batch in
    * which the engine evaluates timers against the advanced watermark
    * (see [[FlushChunks]]); the flush user's own session still never
    * closes and is filtered below. Sink = batchId-keyed scratch parquet
    * (idempotent overwrite), driver never holds rows.
    */
  def twsSessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    viaBatchSink(spark, "tws_sess_out") { outDir =>
      val (staged, maxChunk) = eventChunks(spark, sfDir, 3L, flush = true)
      replayFileSource(spark, "tws_sess", staged, maxChunk,
        stream => stream
          .withWatermark("ts", "10 minutes")
          .as[Event]
          .groupByKey(_.user_id)
          .transformWithState(new SessionProcessor(24L * 3600 * 1000000L),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            OutputMode.Append())
          .toDF()
          .writeStream
          .outputMode(OutputMode.Append())
          .foreachBatch(sinkBatches(outDir)),
        rocksDbState = true)
    } {
      _.filter(col("user_id") >= 0) // the ___flush row's session never closes
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }
  }

  /** The watermarked 1-h tumbling counts per event_type into a
    * batch-keyed sink, replayed from `nChunks` in-order id-range chunks
    * plus the [[FlushChunks]] flush chunks (they advance the watermark
    * past every real window, so nothing is left unemitted) and fed as
    * `feed(lastChunk)` says. Append mode emits each window exactly once,
    * when the watermark finalizes it, so the sink's union-of-batches
    * equals the batch tumbling aggregate — the one oracle of
    * stream_foreachbatch_sink, stream_available_now and
    * stream_restart_recovery, which differ only in how the chunks
    * arrive.
    */
  private def tumblingCountReplay(spark: SparkSession, sfDir: String, tag: String,
      nChunks: Long, feed: Long => Feed): DataFrame =
    viaBatchSink(spark, s"${tag}_sink") { outDir =>
      val (staged, maxChunk) = eventChunks(spark, sfDir, nChunks, flush = true)
      replayFileSource(spark, tag, staged, maxChunk,
        stream => stream
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").as("ws"), col("event_type"), col("n"))
          .writeStream
          .outputMode(OutputMode.Append())
          .foreachBatch(sinkBatches(outDir)),
        feed(maxChunk))
    } {
      _.filter(col("event_type") =!= "___flush")
        .select("ws", "event_type", "n")
        .orderBy("ws", "event_type")
    }

  /** streaming → EXTERNAL sink through foreachBatch: the tumbling
    * aggregate emitted per micro-batch into batchId-keyed parquet, then
    * read back — one long-lived query, one micro-batch per chunk.
    */
  def foreachBatchSink(spark: SparkSession, sfDir: String): DataFrame =
    tumblingCountReplay(spark, sfDir, "fb", 2L, _ => PerChunk())

  /** the production "drain the backlog" mode: every staged chunk file
    * sits in the watched dir UP FRONT, and one Trigger.AvailableNow run
    * drains them as bounded micro-batches, then self-terminates.
    * Append-mode watermark parity needs event-time-ordered discovery:
    * stageChunks lands each id-range chunk in exactly ONE file, and
    * [[moveChunk]] gives the files chunk-ordered names and mtimes.
    * Result = the same oracle as stream_foreachbatch_sink.
    */
  def availableNowDrain(spark: SparkSession, sfDir: String): DataFrame =
    tumblingCountReplay(spark, sfDir, "an", 2L, last => AvailableNow(Seq(last)))

  case class UserState(n: Long, lastSeenUs: Long)
  case class UserCount(user_id: Long, n: Long, last_seen_us: Long)

  /** arbitrary per-user state via mapGroupsWithState: running event
    * count + last-seen event time, emitted every update; the final
    * per-user row is the steady state (counts are monotone, so max
    * over the updates recovers it).
    *
    * Sink: the update stream is one row per TOUCHED USER per batch —
    * unlike the other memory-sink drains (event-type / window keyed,
    * bounded vocab), user_id cardinality grows with the data, so a
    * driver-heap memory sink here was the same O(data) driver path
    * removed from stream_stream_join this round. foreachBatch writes
    * each batch's updates to a batchId-keyed scratch-parquet subdir
    * (overwrite — idempotent under at-least-once retries) on the
    * executors and the read-back takes the per-user max.
    */
  def statefulCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    viaBatchSink(spark, "user_state_out") { outDir =>
      val (staged, maxChunk) = eventChunks(spark, sfDir, 2L, flush = false)
      replayFileSource(spark, "user_state", staged, maxChunk,
        stream => stream.as[Event]
          .groupByKey(_.user_id)
          .mapGroupsWithState[UserState, UserCount](GroupStateTimeout.NoTimeout()) {
            (user: Long, evs: Iterator[Event], state: GroupState[UserState]) =>
              val prev = state.getOption.getOrElse(UserState(0L, Long.MinValue))
              val next = evs.foldLeft(prev) { (st, e) =>
                // getTime is ms-truncated; getNanos carries the full
                // fractional second, so add back the sub-ms microseconds
                // (events.ts is µs-precision after the nanos→µs read).
                val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
                UserState(st.n + 1L, math.max(st.lastSeenUs, us))
              }
              state.update(next)
              UserCount(user, next.n, next.lastSeenUs)
          }.toDF()
          .writeStream
          .outputMode(OutputMode.Update())
          .foreachBatch(sinkBatches(outDir)))
    } {
      _.groupBy("user_id")
        .agg(max("n").as("n"), max("last_seen_us").as("last_seen_us"))
        .orderBy("user_id")
    }
  }

  /** the incoming slice of `documents`, chunked for the 2-micro-batch
    * replay; shared by the bench key and IngestRestartSpec. */
  private[graft] def ingestIncoming(spark: SparkSession, sfDir: String): DataFrame =
    T.documents(spark, sfDir)
      .filter(col("doc_id") % 5 >= 3)
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 5 - 3).cast("long").as("chunk"))

  /** the ingest-dedup streaming plan as a stream => writer function for
    * replayFileSource: loads the persisted index ONCE (building it if
    * absent). Extracted so IngestRestartSpec can run the SAME plan
    * across a kill + resume on one checkpoint — the production restart
    * contract composed with the persisted-index serving path (r14
    * verdict #7). */
  private[graft] def ingestDedupQuery(spark: SparkSession, sfDir: String,
      outDir: String): DataFrame => DataStreamWriter[Row] = {
    import graft.ops.{MinHashLSH, TextOps}
    val root = minhashIndexRoot(sfDir)
    buildMinhashIndexIfAbsent(spark, sfDir, root)
    val idxBands = spark.read.parquet(s"$root/bands.parquet")
      .select(col("doc_id").as("a"), col("band"), col("key"))
    val sets = spark.read.parquet(s"$root/shingles.parquet")
      .select(col("doc_id").as("a"), col("sh").as("sha"))
    stream => {
      val sig = stream
        .select(col("doc_id").as("b"), array_distinct(
          TextOps.shingles(TextOps.tokens(col("text")), 3)).as("shb"))
        .filter(size(col("shb")) > 0)
        .withColumn("hashes", transform(col("shb"), TextOps.md5Long(_)))
        .withColumn("sig", MinHashLSH.signature(col("hashes"), 16))
      val probeBands =
        MinHashLSH.bandKeys(sig, "b", "sig", 16, 2, carry = Seq("shb"))
      probeBands.join(idxBands, Seq("band", "key"))
        .select("a", "b", "shb")
        .writeStream
        .outputMode(OutputMode.Append())
        // band-key multiplicity collapsed per batch (each incoming doc
        // arrives in exactly ONE chunk, so cross-batch pairs cannot
        // repeat); exact Jaccard against the persisted shingle sets
        // removes banding false positives
        .foreachBatch(sinkBatches(outDir, _.dropDuplicates("a", "b")
          .join(sets, "a")
          .withColumn("j", round(
            size(array_intersect(col("sha"), col("shb"))).cast("double") /
              size(array_union(col("sha"), col("shb"))), 4))
          .filter(col("j") >= 0.5)
          .select("a", "b", "j")))
    }
  }

  /** ingest-time near-dup screening against a PERSISTED MinHash index
    * (r13 verdict #7a — the incremental-corpus shape). The already-
    * ingested corpus (doc_id % 5 < 3, ~60 %) has its LSH band table and
    * shingle sets written once to a stable parquet root (provenance-
    * stamped, reused across sessions exactly like the ANN index); new
    * documents (doc_id % 5 ∈ {3,4}) then arrive through the production
    * file source in two micro-batches. The STREAMING plan computes each
    * batch's minhash signatures and band keys and joins them
    * stream-static against the loaded band table — candidate
    * generation never rescans the corpus text, only the index. The
    * exact-Jaccard verify (against the persisted shingle sets) and the
    * batch's pair output run inside foreachBatch on the executors;
    * per-batch results land in batchId-keyed scratch parquet
    * (idempotent under retries), and the read-back is the audit: every
    * incoming doc's corpus near-dups at J ≥ 0.5.
    *
    * Scale: the index join is shuffled on (band, key) — at 100 TB the
    * band table is corpus-sized and must NOT broadcast (size-based
    * auto-broadcast decides locally); incoming-batch state is one
    * micro-batch of documents, and no state store is involved
    * (stateless plan). Deterministic end to end: same md5 shingle
    * hashes, same fixed permutations as dedup_minhash_lsh, so the
    * DuckDB oracle replays corpus-side and stream-side banding exactly.
    */
  def ingestDedup(spark: SparkSession, sfDir: String): DataFrame =
    viaBatchSink(spark, "ingest_dedup_out") { outDir =>
      replayFileSource(spark, "ingest_dedup",
        ingestIncoming(spark, sfDir), 1L,
        ingestDedupQuery(spark, sfDir, outDir))
    } {
      _.select("a", "b", "j").orderBy("a", "b")
    }

  /** stable per-SF MinHash index root — cross-session reuse is the
    * semantics under test (see the ANN index root in SimQueries). */
  private def minhashIndexRoot(d: String): String = {
    val base = sys.env.getOrElse("GRAFT_MINHASH_INDEX_ROOT",
      "/tmp/graft_minhash_index")
    s"$base/${java.nio.file.Paths.get(d).getFileName}"
  }

  /** build the corpus-slice band table + shingle sets once, published
    * via IndexStore's build-into-temp + atomic-rename protocol (r14
    * ADVICE: the stamp fingerprints the input corpus, so two sessions
    * racing the same stale stamp must each publish a COMPLETE build —
    * marker-after-data inside the temp keeps the crash property, the
    * rename swap adds the single-writer one).
    */
  private def buildMinhashIndexIfAbsent(spark: SparkSession, sfDir: String,
      root: String): Unit = {
    import graft.ops.{IndexStore, MinHashLSH, TextOps}
    val corpus = T.documents(spark, sfDir)
      .filter(col("doc_id") % 5 < 3)
      .select(col("doc_id"), array_distinct(
        TextOps.shingles(TextOps.tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val fp = corpus.agg(count(lit(1)).as("n"),
      sum(size(col("sh"))).cast("long").as("chk")).head()
    val stamp = s"$sfDir n=${fp.getLong(0)} chk=${fp.getLong(1)} " +
      "perm=16 rpb=2 shingle=3 thr=0.5"
    IndexStore.publishIfAbsent(root, stamp) { tmp =>
      val sig = corpus
        .withColumn("hashes", transform(col("sh"), TextOps.md5Long(_)))
        .withColumn("sig", MinHashLSH.signature(col("hashes"), 16))
      MinHashLSH.bandKeys(sig, "doc_id", "sig", 16, 2)
        .write.mode("overwrite").parquet(s"$tmp/bands.parquet")
      corpus.select("doc_id", "sh")
        .write.mode("overwrite").parquet(s"$tmp/shingles.parquet")
    }
  }

  /** checkpoint recovery / exactly-once across a restart: the SAME
    * tumbling aggregate as availableNowDrain, drained by TWO
    * Trigger.AvailableNow queries sharing ONE checkpoint with a
    * simulated crash (query termination + fresh query object) between
    * them. Run 1 sees only chunks 0–1 of the backlog — its watermark
    * has not passed any open window, so the windows it STARTED live
    * only in checkpointed state; run 2's source resumes from the
    * checkpoint's file log (only NEW files are read — a re-read would
    * double-count), restores the aggregation state (dropped state would
    * under-count every straddling window), and the terminal flush emits
    * every window exactly once. The result equals the batch tumbling
    * aggregate, so both failure modes break the hash oracle. This is
    * the production contract a periodic ingest job actually relies on:
    * crash anywhere, restart with the same checkpoint dir, converge to
    * the same answer.
    */
  def restartRecovery(spark: SparkSession, sfDir: String): DataFrame =
    tumblingCountReplay(spark, sfDir, "rr", 4L, last => AvailableNow(Seq(1L, last)))
}
