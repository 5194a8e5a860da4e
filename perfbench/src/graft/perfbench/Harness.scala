package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one client calls the key builders in
  * sequence (a closed loop) and writes each key's full result to
  * parquet. `perfbench/run.py` generates the input, runs this main, checks
  * the outputs against the DuckDB oracle and derives the metrics.
  *
  * Arguments (all `--name value`): input, out, keys (file, one key a
  * line, in pass order), warmups, passes, trace (0|1), cores, record
  * (JSON written at the end), plans (directory for executed plans),
  * inventory (JSON of every SparkEntry key and its oracle SQL).
  *
  * Every pass runs in a freshly set-up session. Untraced: `warmups`
  * untimed write passes that warm the JVM, then `passes` timed write
  * passes. Traced: a pass that times
  * `count()` instead of the write, an untraced write pass, a traced write
  * pass (spans, counters, executed plans) with the expression probe, and
  * another untraced write pass.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private def procField(path: String, pick: Array[String] => Double): Double =
    try pick(new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
      .linesIterator.next().trim.split("\\s+"))
    catch { case NonFatal(_) => -1.0 }
  /** cumulative hypervisor steal, ms (USER_HZ jiffies of 10 ms) */
  private def stealMs(): Double =
    procField("/proc/stat", f => if (f.length > 8) f(8).toDouble * 10 else -1.0)
  private def loadAvg(): Double = procField("/proc/loadavg", _(0).toDouble)
  private def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
        .linesIterator.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  private final case class Conf(input: String, out: String, keys: Seq[String],
      warmups: Int, passes: Int, trace: Boolean, cores: Int,
      record: String, plans: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Files.write(Paths.get(a("inventory")), mapper.writeValueAsBytes(Map(
      "keys" -> graft.SparkEntry.queries.keys.toSeq.sorted,
      "oracle" -> graft.SparkEntry.oracleSql)))
    val c = Conf(a("input"), a("out"),
      Files.readAllLines(Paths.get(a("keys"))).toArray(Array.empty[String]).toSeq
        .map(_.trim).filter(_.nonEmpty),
      a("warmups").toInt, a("passes").toInt, a("trace") == "1", a("cores").toInt,
      a("record"), a("plans"))
    val rec = if (c.trace) traced(c) else untraced(c)
    Files.write(Paths.get(c.record),
      mapper.writeValueAsBytes(rec + ("peak_rss_mb" -> peakRssMb())))
  }

  private val setups = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** a new directory under java.io.tmpdir, which run.py points into its
    * scratch directory and removes after the run */
  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** SparkSession start + function registration + one tiny warm-up query
    * (nation ⋈ region, grouped and sorted, written to parquet: the scan,
    * join, shuffle, sort and write paths every key goes through) */
  private def setup(c: Conf): SparkSession = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tmpDir("wh"))
      .config("spark.local.dir", tmpDir("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    graft.GraftFunctions.register(spark)
    val t2 = System.nanoTime()
    spark.sql(s"""SELECT r_name, count(*) AS n, sum(n_nationkey) AS s
        FROM parquet.`${c.input}/nation.parquet` JOIN parquet.`${c.input}/region.parquet`
        ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name""")
      .write.mode("overwrite").parquet(tmpDir("warmup"))
    val t3 = System.nanoTime()
    setups += Map("start_s" -> (t1 - t0) / 1e9, "register_s" -> (t2 - t1) / 1e9,
      "warmup_s" -> (t3 - t2) / 1e9, "setup_s" -> (t3 - t0) / 1e9)
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || (e.getCause eq e)) e else rootCause(e.getCause)

  /** One pass over the keys. Modes "write" and "warmup" write each full
    * result to parquet; "count" runs `count()` on it instead. */
  private def pass(spark: SparkSession, c: Conf, mode: String,
      tracer: Option[Tracer]): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    val steal0 = stealMs(); val load0 = loadAvg()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val passStart = nowMs()
    val passId = tracer.map(_.newId()).getOrElse(0L)
    val keys = c.keys.map { key =>
      val kStart = nowMs()
      val kCpu0 = os.getProcessCpuTime
      val k0 = System.nanoTime()
      var buildEnd = kStart
      var writeStart = Double.NaN
      var error: Option[Throwable] = None
      try {
        val df = queries.getOrElse(key,
          throw new NoSuchElementException(s"no SparkEntry key $key"))(spark, c.input)
        buildEnd = nowMs()
        writeStart = buildEnd
        if (mode == "count") df.count()
        else df.write.mode("overwrite").parquet(s"${c.out}/$key")
      } catch {
        case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
          if (writeStart.isNaN) buildEnd = nowMs()
          error = Some(e)
      }
      val wall = (System.nanoTime() - k0) / 1e9
      val kEnd = nowMs()
      val base = Map[String, Any]("key" -> key, "ok" -> error.isEmpty, "wall_s" -> wall,
        "cpu_s" -> (os.getProcessCpuTime - kCpu0) / 1e9,
        "build_s" -> (buildEnd - kStart) / 1000.0) ++ error.map { e =>
        val r = rootCause(e)
        Map("error_class" -> r.getClass.getName,
          "error_message" -> String.valueOf(r.getMessage).take(500))
      }.getOrElse(Map.empty)
      tracer match {
        case None => base
        case Some(t) =>
          val id = t.newId()
          val ks = Span(id, passId, id, "key", key, kStart, kEnd)
          val build = Span(t.newId(), id, id, "build", s"$key build", kStart, buildEnd)
          val write = if (writeStart.isNaN) None
            else Some(Span(t.newId(), id, id, "write", s"$key write", writeStart, kEnd))
          t.spans ++= Seq(ks, build) ++ write
          val (counters, plan) = t.endKey(key, ks, build, write)
          Files.createDirectories(Paths.get(c.plans))
          Files.write(Paths.get(c.plans, s"$key.txt"), plan.getBytes("UTF-8"))
          base + ("counters" -> counters)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.foreach(t => t.spans += Span(passId, 0L, 0L, "pass", s"$mode pass", passStart, nowMs()))
    Map("mode" -> mode, "wall_s" -> wall, "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
      "steal_ms_start" -> steal0, "steal_ms_end" -> stealMs(),
      "load_start" -> load0, "load_end" -> loadAvg(), "keys" -> keys)
  }

  /** Runs `f` in a freshly set-up session, then stops it and collects
    * the heap, untimed, so that each pass starts from the same heap: a
    * pass neither inherits the previous one's garbage in the old
    * generation nor pays for collecting it. */
  private def fresh[T](c: Conf)(f: SparkSession => T): T = {
    val s = setup(c)
    try f(s) finally { stop(s); System.gc() }
  }

  private def untraced(c: Conf): Map[String, Any] = {
    val warm = (0 until c.warmups).map(_ => fresh(c)(pass(_, c, "warmup", None)))
    val timed = (0 until c.passes).map(_ => fresh(c)(pass(_, c, "write", None)))
    Map("setups" -> setups.toSeq, "passes" -> (warm ++ timed))
  }

  private def traced(c: Conf): Map[String, Any] = {
    // the count pass goes first and takes the JVM's cold start; untraced
    // write passes before and after the traced one bracket the JVM's
    // further warming, so the tracing overhead compares like with like
    val counted = fresh(c)(pass(_, c, "count", None))
    val before = fresh(c)(pass(_, c, "write", None))
    val (tracedPass, spans, expr, mismatches) = fresh(c) { s =>
      val tracer = new Tracer(s, c.cores)
      val p = try pass(s, c, "write", Some(tracer)) finally tracer.close()
      val (m, bad) = ExprProbe.run(s, c.input, c.cores)
      (p, tracer.spans.toSeq, m, bad)
    }
    val after = fresh(c)(pass(_, c, "write", None))
    Map("setups" -> setups.toSeq, "passes" -> Seq(counted, before, tracedPass, after),
      "spans" -> spans, "expr" -> expr, "expr_mismatches" -> mismatches)
  }
}
