package graft

/** Materialize an sf1-scale correctness fixture (r13 verdict #1).
  *
  * The shipped testdata tops out at sf0.1 (~600 k lineitem / 5 k docs),
  * so the DuckDB oracle gate has never run above that — scale-dependent
  * flukes (double sums crossing 2^53, window ties appearing under
  * bigger groups) have no datapoint. This main writes a real sf1
  * directory by independent-shard replication of sf0.1 (graft.Replicate,
  * factor 10 → 6 M lineitem, 50 k documents, 20 k embeddings), with
  * replica 0 byte-identical to the base (identityRep0 — see Replicate's
  * scaladoc: keys with corpus-constant literals keep matching rows, so
  * the gate exercises their full logic).
  *
  * The fixture is DERIVED DATA — gitignored, rebuilt on demand:
  *   sbt "runMain graft.FixtureGen"            → /root/repo/fixtures/sf1
  *   sbt "runMain graft.FixtureGen <dest>"     → custom destination
  * env: GRAFT_FIXTURE_BASE (default /root/testdata/sf0.1),
  *      GRAFT_FIXTURE_FACTOR (default 10).
  * A BASE marker (same provenance protocol as ScaleProbe's cache)
  * records base+factor after the last table lands; tools/check.py and
  * Verify treat the directory like any sf dir.
  */
object FixtureGen {
  def main(args: Array[String]): Unit = {
    val dest = args.headOption.getOrElse("/root/repo/fixtures/sf1")
    val base = sys.env.getOrElse("GRAFT_FIXTURE_BASE", "/root/testdata/sf0.1")
    val factor = sys.env.get("GRAFT_FIXTURE_FACTOR").flatMap(v =>
      scala.util.Try(v.toInt).toOption).getOrElse(10)
    val spark = Session.local()
    val marker = java.nio.file.Paths.get(dest, "BASE")
    val stamp = s"$base x$factor identityRep0"
    val cached = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim == stamp
    if (cached) {
      System.err.println(s"[fixture] $dest already built from $stamp; nothing to do")
    } else {
      Replicate.corpus(spark, base, dest, factor, identityRep0 = true)
      java.nio.file.Files.write(marker, stamp.getBytes("UTF-8"))
      System.err.println(s"[fixture] built $dest from $stamp")
    }
    spark.stop()
  }
}
