package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe every graft main runs under (Bench,
  * Verify, PlanLint, FixtureGen, ScaleProbe), so their plans, shuffle
  * widths and scratch placement agree.
  *
  * Parallelism is `SPARK_GRAFT_CPUS` when set, else the host's
  * available processors: `local[n]` with `n` shuffle partitions. The
  * warehouse (bucketed demo tables) and shuffle/spill scratch live
  * under the RAM-backed [[Tmp]] base — the round-3 driver run showed
  * IO-heavy keys inflating 3-11× under data-disk contention. Session
  * time zone is UTC in every entry point (timestamp parity with the
  * DuckDB oracle). The native expressions and the HOF-dot / md5-prefix
  * rewrite rules are registered before the session is handed out.
  *
  * Default INT96 timestamp output is kept deliberately: it serializes
  * naive wall-clock values, matching the oracle's naive TIMESTAMPs when
  * Verify's dumps are re-read (TIMESTAMP_MICROS would tag
  * isAdjustedToUTC=true and read back tz-aware).
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else the number of available processors. */
  private def parallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS='$v' is not a positive integer"))
    }.getOrElse(Runtime.getRuntime.availableProcessors)

  def local(): SparkSession = {
    val n = parallelism
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Tmp.dir("wh").toString)
      .config("spark.local.dir", Tmp.dir("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  /** Run `body` with session `confs` set, then put every key back as it
    * was — its prior value, or unset if it had none — whether `body`
    * returns or throws. For confs a plan pins when it starts (a stream's
    * state-store settings, an aggregate's bloom ceilings) that must not
    * leak into later queries of a shared session.
    */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
