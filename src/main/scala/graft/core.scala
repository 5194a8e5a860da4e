package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A named bundle of queries plus their DuckDB oracle SQL.
  *
  * Contract (SURVEY.md §2B / §7.4): every query reads only
  * `s"$sfDir/<table>.parquet"`, ends in a total-order ORDER BY with a
  * unique tie-break, rounds double aggregates (2 dp money / 4 dp
  * ratios+sims), and aliases every computed column to the SAME name used
  * in the oracle SQL (the driver sorts columns by name before hashing).
  */
trait QueryPack {
  type QueryFn = (SparkSession, String) => DataFrame
  def queries: Map[String, QueryFn]
  /** DuckDB 1.0.0 SQL per oracled query key; TEST-only keys are omitted. */
  def oracleSql: Map[String, String]
}

/** SQL fragments shared verbatim between the Spark query (via `expr`)
  * and the DuckDB oracle, so both engines evaluate the exact same text.
  *
  * Money math runs in DECIMAL: the source columns are 2-dp decimals
  * stored as doubles, so casting back to DECIMAL is exact, products are
  * exact, and ROUND of an exact decimal is engine-independent — rounding
  * a binary double that sits on a half-cent boundary is NOT (Spark
  * HALF_UP on the decimal expansion vs DuckDB's scaled-double round
  * disagree ~1/1000 rows). Final CAST back to DOUBLE for a stable
  * output representation.
  */
object Sql {
  /** l_extendedprice * (1 - l_discount), exact, rounded to cents. */
  val lineNet =
    "CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)"
  /** l_extendedprice * (1 - l_discount), exact, rounded to cents,
    * KEPT as DECIMAL — for consumers that go on summing (exact at any
    * fold order) and only convert to double at the very end. */
  val lineNetDec =
    "ROUND(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))), 2)"
  /** Σ net revenue, exact decimal sum rounded to cents. */
  val sumNet =
    "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE)"
  /** Σ net revenue with tax. */
  val sumCharge =
    "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE)"
  /** l_quantity * l_tax, exact, rounded to cents. */
  val qtyTax =
    "CAST(ROUND(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_tax AS DECIMAL(4,2)), 2) AS DOUBLE)"
}

/** The JSON mapper shared by the mains' record readers and writers
  * (Scala collections and case classes supported). */
object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
}

/** RAM-backed scratch space for per-run scaffolding (stream checkpoints,
  * staged replay chunks, roundtrip sinks, bucketed-table warehouses).
  *
  * Why: the round-3 driver bench inflated exactly the IO-heavy keys
  * 3–11× (bucketed writes 4.9→12.1 s, partitioned sink 1.0→3.8 s,
  * stateful streams 6→36 s) while CPU-only keys stayed flat — classic
  * data-disk contention in the shared driver environment. Everything
  * created here is ephemeral demo scaffolding, never a result, so tmpfs
  * (/dev/shm) is the right medium: scratch IO stops competing with the
  * parquet scans. Falls back to java.io.tmpdir when /dev/shm is absent
  * (non-Linux dev boxes).
  */
object Tmp {
  import java.nio.file.{Files, Path, Paths}
  private val handed = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val base: Path = {
    // GRAFT_SCRATCH_DIR points scratch (shuffle spill, warehouses,
    // stream checkpoints) somewhere other than RAM — required for sf≥1
    // or small-RAM boxes, where tmpfs "disk" spill defeats spilling.
    val root = sys.env.get("GRAFT_SCRATCH_DIR").map(Paths.get(_)).getOrElse {
      val shm = Paths.get("/dev/shm")
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    }
    val b = Files.createDirectories(root.resolve("graft-scratch"))
    // tmpfs RAM leaked until reboot when long-lived dirs (Bench/Verify
    // warehouse + local.dir, roundtrip sinks) outlived the run: reclaim
    // every dir handed out, at exit. Quiet contract — Spark's own
    // shutdown hooks clean local.dir subtrees concurrently, so races
    // (file already gone) are expected and harmless.
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      handed.forEach(p => quietDeleteRecursively(p))))
    b
  }
  /** fresh scratch directory (same contract as Files.createTempDirectory);
    * reclaimed at JVM exit if the caller doesn't delete it first. */
  def dir(prefix: String): Path = {
    val p = Files.createTempDirectory(base, prefix)
    handed.add(p)
    p
  }
  /** Materialize-once scratch layouts (round-8 advice): sink-scaffolding
    * queries (join_dpp_pruned, scan_schema_merge) rewrite a derived
    * table layout purely so the READ side has the right physical shape —
    * the write is setup, not semantics. Re-paying it every invocation
    * made repeated bench iterations time write+read and accumulate one
    * scratch dir per call. The layout is plain parquet on disk keyed by
    * (tag, source sfDir), so it is valid across SparkSessions within the
    * JVM; the first caller writes, later callers reuse. (Queries whose
    * DECLARED semantics are the sink itself — the roundtrips,
    * sink_partitioned_pruning — keep writing per call by design.)
    */
  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  def cachedLayout(tag: String, sfDir: String)(write: String => Unit): String =
    layouts.computeIfAbsent((tag, sfDir), { _ =>
      val p = dir(tag).toString
      write(p)
      p
    })

  /** recursive delete that never throws — cleanup must not mask results. */
  private[graft] def quietDeleteRecursively(root: Path): Unit =
    try if (root != null && Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }
}

/** Session-scoped memoized DataFrames (the shared-artifact pattern the
  * Jaccard pair mining established in round 3): a mined intermediate
  * that several query keys consume is built ONCE per (session, key),
  * persisted MEMORY_AND_DISK, and read from cached partitions by every
  * later consumer in the session (Verify, Bench, and the driver harness
  * all run multiple consumers in one session). Entries live for the
  * SESSION by design — they are the shared artifact, not per-call
  * temps — and every entry of a SparkContext drops when that context
  * ends (ONE listener per context), so a JVM that stops and recreates
  * contexts never pins dead plans. Bench readers: whichever consuming
  * key runs first pays the build; the family's SUM is the regression
  * signal, not either key alone.
  */
object SessionMemo {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()
  private val pairCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  // ---- aggregate footprint budget (r10 verdict #3) -------------------
  // The memoized population grew to 8+ persisted fragments per
  // (session, sfDir); unbounded, an ever-growing inventory would let the
  // shared artifacts evict EXECUTION memory (unified memory manager:
  // storage borrows from execution). Bound it: when the context's total
  // persisted bytes exceed the budget, unpersist memo entries in
  // least-recently-USED order until back under (or none left). The
  // evicted artifact is not lost — its next consumer rebuilds it; the
  // budget trades rebuild CPU for execution headroom, the right trade
  // past the cap. Default 8 GiB: far above the sub-GiB sf0.1 population
  // (so it never fires in today's runs) and far below executor memory
  // at any deployment size. NOTE eviction unpersists by canonicalized
  // plan (CacheManager semantics) — memo keys all have distinct plans,
  // so evicting one cannot drop another's entry; and a frame persisted
  // lazily contributes 0 bytes until first materialized, so the check
  // naturally lags one build — bounded, eventually enforced.
  // malformed value → loud stderr + default, not an
  // ExceptionInInitializerError at the first memo touch (r11 ADVICE)
  @volatile private[graft] var budgetBytes: Long =
    sys.env.get("GRAFT_MEMO_BUDGET_BYTES").map { v =>
      scala.util.Try(v.toLong).getOrElse {
        System.err.println(
          s"GRAFT_MEMO_BUDGET_BYTES='$v' is not a long; using default 8 GiB")
        8L << 30
      }
    }.getOrElse(8L << 30)

  private val lastUse = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), java.lang.Long]()
  private val tick = new java.util.concurrent.atomic.AtomicLong()

  /** total persisted bytes (memory + disk) across ALL cached RDDs of the
    * session's context — the memoized artifacts plus operator-internal
    * persists; the number Bench surfaces so a load-vs-memory
    * adjudication is one lookup (r10 verdict #3). */
  def storageBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private[graft] def isMemoized(s: SparkSession, key: String): Boolean =
    cache.containsKey((s, key)) || pairCache.containsKey((s, key))

  private def touch(k: (SparkSession, String)): Unit =
    lastUse.put(k, tick.incrementAndGet())

  /** bytes persisted by ONE memoized frame: the mem+disk footprint of
    * the RDD backing its CacheManager entry. 0 until first
    * materialization (the builder exists but no buffers are loaded) and
    * 0 if the lookup fails — a frame we can't account we also can't
    * reclaim by eviction, so it must not count against the budget. */
  private def frameBytes(df: DataFrame): Long =
    try {
      val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
        .map(_.cachedRepresentation.cacheBuilder)
        .filter(_.isCachedColumnBuffersLoaded)
        .map { b =>
          val id = b.cachedColumnBuffers.id
          ds.sparkSession.sparkContext.getRDDStorageInfo
            .filter(_.id == id).map(i => i.memSize + i.diskSize).sum
        }.getOrElse(0L)
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** total bytes held by memo-owned cache entries on this CONTEXT
    * (all sibling sessions — one shared storage pool). */
  def memoOwnedBytes(s: SparkSession): Long = {
    import scala.jdk.CollectionConverters._
    val sc = s.sparkContext
    (cache.asScala.collect { case (k, v) if k._1.sparkContext eq sc => frameBytes(v) } ++
     pairCache.asScala.collect { case (k, (a, b)) if k._1.sparkContext eq sc =>
       frameBytes(a) + frameBytes(b) }).sum
  }

  /** Drop every memo entry for `s`'s context, unpersisting its frames —
    * for tools that need cold-cache timings (ScaleProbe): after
    * `spark.catalog.clearCache()` the map would still hold unpersisted
    * frames and silently skip the rebuild the timing exists to
    * measure. */
  def clear(s: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val sc = s.sparkContext
    cache.keySet.asScala.filter(_._1.sparkContext eq sc).toSeq.foreach { k =>
      Option(cache.remove(k)).foreach(df => scala.util.Try(df.unpersist()))
      lastUse.remove(k)
    }
    pairCache.keySet.asScala.filter(_._1.sparkContext eq sc).toSeq.foreach { k =>
      Option(pairCache.remove(k)).foreach { case (a, b) =>
        scala.util.Try(a.unpersist()); scala.util.Try(b.unpersist())
      }
      lastUse.remove(k)
    }
  }

  private def evictPastBudget(s: SparkSession): Unit = {
    if (budgetBytes <= 0) return
    import scala.jdk.CollectionConverters._
    // Budget the bytes the memo OWNS, not the context total (r11
    // ADVICE): getRDDStorageInfo also counts bytes eviction can never
    // reclaim — localCheckpoint RDDs created inside memo builds survive
    // df.unpersist, and operator-internal persists aren't ours — so
    // budgeting against the total would, once non-reclaimable storage
    // alone exceeded the budget, evict the ENTIRE population on every
    // call while freeing nothing (permanent rebuild thrash). Entries of
    // sibling sessions on the same context share the storage pool, so
    // they count and are evictable too (the old `_._1 eq s` filter
    // skipped them while their bytes inflated the context total).
    val sc = s.sparkContext
    val entries: Seq[((SparkSession, String), Long)] =
      (cache.asScala.collect { case (k, v) if k._1.sparkContext eq sc =>
         k -> frameBytes(v) } ++
       pairCache.asScala.collect { case (k, (a, b)) if k._1.sparkContext eq sc =>
         k -> (frameBytes(a) + frameBytes(b)) }).toSeq
    var total = entries.map(_._2).sum
    if (total <= budgetBytes) return
    val lru = entries.sortBy { case (k, _) =>
      Option(lastUse.get(k)).map(_.longValue).getOrElse(0L) }
    for ((k, bytes) <- lru if total > budgetBytes && bytes > 0) {
      // zero-byte entries (not yet materialized / unaccountable) free
      // nothing — skipping them is the "stop when a pass can't help"
      // guard: the loop ends when reclaimable bytes are exhausted.
      Option(cache.remove(k)).foreach(_.unpersist(true))
      Option(pairCache.remove(k)).foreach { case (a, b) =>
        a.unpersist(true); b.unpersist(true) }
      lastUse.remove(k)
      total -= bytes
    }
  }

  private def hook(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          cache.keySet.removeIf(_._1.sparkContext eq sc)
          pairCache.keySet.removeIf(_._1.sparkContext eq sc)
          lastUse.keySet.removeIf(_._1.sparkContext eq sc)
          hooked.remove(sc)
        }
      })
  }

  /** [[apply]] for artifacts that are TWO frames from one build (PQ's
    * codes + codebooks): the expensive build runs once; both results
    * persist. Same race contract as apply — the loser's copies are
    * left un-unpersisted (plan-keyed CacheManager). */
  def pair(s: SparkSession, key: String)(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val k = (s, key)
    val hit = pairCache.get(k)
    if (hit != null) { touch(k); return hit }
    hook(s)
    val (a, b) = build
    val built = (
      a.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val prev = pairCache.putIfAbsent(k, built)
    touch(k)
    evictPastBudget(s)
    if (prev == null) built else prev
  }

  def apply(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (s, key)
    val hit = cache.get(k)
    if (hit != null) { touch(k); return hit }
    hook(s)
    // build OUTSIDE the map lock (get/putIfAbsent, not computeIfAbsent):
    // a build that transitively consults SessionMemo for another key in
    // the same hash bin would deadlock or throw IllegalStateException
    // inside computeIfAbsent (round-8 ADVICE — latent, now impossible).
    // On LOSING the race, the loser's copy is NOT unpersisted: Spark's
    // CacheManager keys cache entries by canonicalized plan, so
    // unpersisting the loser would also drop the winner's identical-plan
    // entry, leaving the memoized frame silently recomputed ever after
    // (r9 ADVICE). The duplicate persist of an identical plan is already
    // a CacheManager no-op, so the loser costs nothing to leave be.
    val built = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = cache.putIfAbsent(k, built)
    touch(k)
    evictPastBudget(s)
    if (prev == null) built else prev
  }
}

/** Table loaders for the driver-generated parquet testdata. */
object Tables {
  /** parquet row-group count per file, memoized — the fixtures are
    * immutable and the bench calls spread on the same handful of tables
    * hundreds of times, so each footer is read at most once per JVM.
    * A non-parquet or unreadable footer is None and is NOT cached: it
    * says nothing about starvation (only the byte bound may spread
    * that table), and a file that becomes readable later must be seen.
    */
  private val rowGroupCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  private[graft] def rowGroups(file: String,
      hconf: org.apache.hadoop.conf.Configuration): Option[Int] =
    Option(rowGroupCache.get(file)).map(_.intValue).orElse {
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(file), hconf)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n = try rd.getRowGroups.size finally rd.close()
        rowGroupCache.put(file, n)
        Some(n)
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Round-robin-spread a scanned table that physically CANNOT fill the
    * cluster: the fixtures are single-row-group parquet files, and a
    * parquet row group belongs to exactly one scan split, so every scan
    * here is ONE effective task no matter how many (empty) splits the
    * planner cuts — and any CPU-heavy per-row pipeline before the first
    * exchange (tokenize → shingle → md5/sha, probe expressions) runs
    * single-threaded (r17 profiling: 1-task jobs of 2–3.7 s inside the
    * span/mining keys at sf0.1). Guide §2.5 input-skew class.
    *
    * The decision is scale-adaptive and metadata-only (no Spark job):
    * spread only when the scan's total file bytes are under
    * defaultParallelism × openCostInBytes — a table that small cannot
    * produce a parallel scan no matter the layout, and the added
    * exchange moves at most that many bytes. At any real deployment
    * size the branch never fires. Row-count and result order are
    * untouched (every consumer below re-shuffles or re-sorts).
    */
  def spread(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val sc = sess.sparkContext
    val p = sc.defaultParallelism
    val hconf = sc.hadoopConfiguration
    val files = try df.inputFiles catch
      { case scala.util.control.NonFatal(_) => Array.empty[String] }
    // a scan with >= p files is treated as never starved, with no
    // per-file metadata reads (the 100 TB case exits here). Caveat:
    // openCost packing can merge MANY sub-openCost files into few
    // splits, but a p-file table of sub-4MiB files is dimension-sized
    // anyway and no fixture ships that shape — the exit keeps the
    // at-scale cost of this helper at zero.
    if (p <= 1 || files.length >= p) return df
    // conf may carry units ("4MB") — fall back to the 4 MiB default
    // rather than mis-parse (the threshold only needs the right order
    // of magnitude)
    val openCost = scala.util.Try(
      sess.conf.get("spark.sql.files.openCostInBytes").toLong)
      .getOrElse(4194304L)
    val bytes =
      try files.map { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(hconf).getFileStatus(path).getLen
      }.sum
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    // two starvation modes (r17 + r18 ADVICE): (a) the table is so
    // small the planner's split math cannot cut p non-empty splits —
    // the byte bound; (b) the files are FEW and each is few ROW GROUPS
    // (a parquet row group belongs to exactly one split, so a 200 MB
    // single-row-group file still scans as ONE task at any
    // maxPartitionBytes) — the footer bound, one cached metadata read
    // per file, never a Spark job. Either way the exchange moves at
    // most the scan's bytes once, against a pipeline that otherwise
    // runs on < p cores. An unreadable footer never fires the footer
    // bound.
    val starved = bytes < p.toLong * openCost || {
      val groups = files.toSeq.map(rowGroups(_, hconf))
      groups.forall(_.isDefined) && groups.flatten.sum < p
    }
    if (starved) df.repartition(p) else df
  }
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // The round-12 regenerated testdata writes timestamp[us] WITHOUT
    // timezone metadata; Spark 4 would infer TIMESTAMP_NTZ for those
    // (breaking unix_micros, Row.getTimestamp, and timestamp-literal
    // comparisons), while DuckDB reads the same bytes as plain
    // TIMESTAMP. Disable NTZ inference so both engines and both
    // testdata generations agree on classic TimestampType with
    // identical µs values (session tz is UTC in every entrypoint).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val path = s"$sfDir/$name.parquet"
    schemaOf(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Spark's inferred schema per parquet file version, memoized for the
    * JVM beside [[rowGroupCache]]: without it every `t` read launches a
    * one-task schema-inference job (a fixed per-job cost, no data). The
    * first read of each version still infers through Spark, so schemas
    * stay exactly Spark's own. The key is the path plus the session
    * values of the inference confs (`events` flips nanosAsLong); the
    * entry is valid only while every file under the path keeps its
    * length and modification time, so an overwrite re-infers. A path
    * that cannot be listed is None and is not cached (the plain read
    * then raises Spark's own error).
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), (Seq[(String, Long, Long)], StructType)]()
  /** the inference confs this object sets on the session */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")
  private[graft] def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    // (file, length, modification time) for every file under the path
    val version =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        Some(b.result().sorted)
      } catch { case scala.util.control.NonFatal(_) => None }
    version.map { v =>
      val key = (path, inferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")))
      Option(schemaCache.get(key)).collect { case (`v`, s) => s }.getOrElse {
        val s = spark.read.parquet(path).schema
        schemaCache.put(key, (v, s))
        s
      }
    }
  }

  def region(s: SparkSession, d: String)    = t(s, d, "region")
  def nation(s: SparkSession, d: String)    = t(s, d, "nation")
  def customer(s: SparkSession, d: String)  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = t(s, d, "supplier")
  def part(s: SparkSession, d: String)      = t(s, d, "part")
  def orders(s: SparkSession, d: String)    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = t(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's reader only
    * accepts as a long via the legacy conf — truncate ns→µs with integer
    * division, exactly what DuckDB's reader does) and, since the
    * round-12 regeneration, native TIMESTAMP(MICROS) (which both engines
    * read directly). Dispatch on the decoded type so either generation
    * loads with identical µs semantics (SURVEY.md §7.4.2).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String) = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")
}
