package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Tables.t reads with a memoized schema: it must equal the schema
  * Spark infers, cost no Spark job once memoized, and follow a file
  * that is overwritten in place.
  */
class TableSchemaSpec extends SparkSpec {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftSparkHooks.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftSparkHooks.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("Tables.t schemas equal Spark's own inference for every table") {
    for (name <- tables) {
      val got = Tables.t(spark, sf, name).schema
      assert(got == spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
    for (nanos <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
        assert(Tables.t(spark, sf, "events").schema ==
          spark.read.parquet(s"$sf/events.parquet").schema, s"events, nanosAsLong=$nanos")
      }
  }

  test("a second read of the same file launches no Spark job") {
    Tables.t(spark, sf, "orders")
    assert(jobsDuring { Tables.t(spark, sf, "orders").schema } == 0)
  }

  test("a file overwritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("schema_memo")
    try {
      val f = dir.resolve("x.parquet")
      Files.copy(Paths.get(s"$sf/region.parquet"), f)
      assert(Tables.t(spark, dir.toString, "x").schema ==
        spark.read.parquet(s"$sf/region.parquet").schema)
      Files.copy(Paths.get(s"$sf/nation.parquet"), f, StandardCopyOption.REPLACE_EXISTING)
      val nation = spark.read.parquet(s"$sf/nation.parquet").schema
      assert(Files.size(f) != Files.size(Paths.get(s"$sf/region.parquet")))
      assert(Tables.t(spark, dir.toString, "x").schema == nation)
      assert(Tables.t(spark, dir.toString, "x").count() == 25)
    } finally Tmp.quietDeleteRecursively(dir)
  }
}
