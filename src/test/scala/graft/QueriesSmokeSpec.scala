package graft

import org.apache.spark.sql.functions._

/** Every declared query runs end-to-end at sf0.001 and yields a sane,
  * non-degenerate result (t1-shaped smoke; DuckDB parity is the
  * driver-side t2 gate).
  */
class QueriesSmokeSpec extends SparkSpec {

  // queries whose correct result CAN be empty on a clean corpus
  private val mayBeEmpty = Set("dedup_exact")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs and is non-degenerate") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry flagship smoke (driver t1 contract)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("a key defined by two packs fails on access, naming the key") {
    object A extends QueryPack {
      def queries: Map[String, QueryFn] =
        Map("shared" -> ((s, _) => s.range(1).toDF()), "only_a" -> ((s, _) => s.range(1).toDF()))
      def oracleSql: Map[String, String] = Map("shared" -> "SELECT 1", "only_a" -> "SELECT 2")
    }
    object B extends QueryPack {
      def queries: Map[String, QueryFn] = Map("shared" -> ((s, _) => s.range(2).toDF()))
      def oracleSql: Map[String, String] = Map("shared" -> "SELECT 3")
    }
    val packs = Seq(A, B)
    val q = intercept[IllegalArgumentException] {
      SparkEntry.merged(packs.map(_.queries), "queries")
    }
    assert(q.getMessage.contains("shared") && !q.getMessage.contains("only_a"), q.getMessage)
    val o = intercept[IllegalArgumentException] {
      SparkEntry.merged(packs.map(_.oracleSql), "oracleSql")
    }
    assert(o.getMessage.contains("oracleSql") && o.getMessage.contains("shared"), o.getMessage)
    // disjoint packs merge as before
    assert(SparkEntry.merged(Seq(A.oracleSql - "shared", B.oracleSql), "oracleSql") ==
      Map("only_a" -> "SELECT 2", "shared" -> "SELECT 3"))
  }

  test("oracle_sql.json: the shared mapper escapes control chars and round-trips") {
    val tricky = Map("k\"1" -> "SELECT 'a\tb'\r\nFROM t -- \u0001\\")
    val json = Json.mapper.writeValueAsString(tricky ++ SparkEntry.oracleSql)
    assert(!json.exists(c => c < ' '), "raw control char in the JSON text")
    val back = Json.mapper.readValue(json, classOf[Map[String, String]])
    assert(back == tricky ++ SparkEntry.oracleSql)
  }

  /** the TEST-only allowlist — keys whose semantics cannot back a hash
    * oracle (probabilistic sketches/recall, trigger-dependent streaming,
    * raw-scale graph shapes) and instead carry ScalaTest semantic
    * assertions. Keep in sync with SURVEY §2B-as-built. */
  private val declaredTestOnly = Set(
    "agg_approx_hll", "agg_approx_quantile", "agg_approx_topk",
    "agg_bloom_filter", "stream_tws_ttl", "ts_active_hll")

  test("every query key is oracled or explicitly declared TEST-only") {
    // the oracle-parity invariant, made structural (the r9 verdict's
    // pipeline_corpus slipped through with neither): a new key without
    // a DuckDB oracle fails here unless DELIBERATELY allowlisted above
    val unverified =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- declaredTestOnly
    assert(unverified.isEmpty,
      s"keys with neither oracle nor TEST-only declaration: $unverified")
    val stale = declaredTestOnly & SparkEntry.oracleSql.keySet
    assert(stale.isEmpty, s"TEST-declared keys that now have oracles: $stale")
    val gone = declaredTestOnly -- SparkEntry.queries.keySet
    assert(gone.isEmpty, s"TEST-declared keys no longer in the inventory: $gone")
  }

  test("SURVEY §2B-as-built counts equal the SparkEntry inventory") {
    // the contract doc drifted from the code two rounds running (r9 #6,
    // r10 #2: header said 180/169/11 while the code had 184/173/11) —
    // so the bold header counts are now asserted, not trusted. A new
    // key fails here until SURVEY.md's §2B-as-built line is updated.
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val m = """### 2B-as-built[^\n]*\*\*(\d+) keys: (\d+) oracled, (\d+) TEST\*\*""".r
      .findFirstMatchIn(survey)
      .getOrElse(fail("SURVEY.md §2B-as-built header count line not found"))
    assert(m.group(1).toInt == SparkEntry.queries.size,
      s"SURVEY says ${m.group(1)} keys, SparkEntry has ${SparkEntry.queries.size}")
    assert(m.group(2).toInt == SparkEntry.oracleSql.size,
      s"SURVEY says ${m.group(2)} oracled, SparkEntry has ${SparkEntry.oracleSql.size}")
    assert(m.group(3).toInt == declaredTestOnly.size,
      s"SURVEY says ${m.group(3)} TEST, allowlist has ${declaredTestOnly.size}")
  }

  test("golden pins: wordcount top word and flagship nations") {
    val wc = SparkEntry.queries("text_wordcount")(spark, sf).limit(1).collect()(0)
    // sf0.001 corpus: 'key' is the most frequent token (measured fixture)
    assert(wc.getLong(1) > 100, s"top word count suspiciously low: $wc")
    val flag = SparkEntry.queries("join_5way_flagship")(spark, sf).collect()
    assert(flag.length == 5, "ASIA has 5 nations")
  }
}
