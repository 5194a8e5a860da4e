package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.mr.MapReduce
import graft.ops.BFS

/** Iterative BFS operator + the full Mimir algebra surface of the
  * MapReduce facade (insert / scan / output).
  */
class BfsMrSpec extends SparkSpec {

  test("BFS terminates on a cyclic graph with correct first-visit levels") {
    import spark.implicits._
    // 1→2→3→1 cycle plus 3→4 tail
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"))
      .toDF("src", "dst")
    val roots = Seq("1").toDF("node")
    val got = BFS.levels(edges, roots).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("1" -> 0, "2" -> 1, "3" -> 2, "4" -> 3))
  }

  test("BFS from an isolated root visits only the root") {
    import spark.implicits._
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val roots = Seq("z").toDF("node")
    val got = BFS.levels(edges, roots).collect()
    assert(got.length == 1 && got(0).getString(0) == "z" && got(0).getInt(1) == 0)
  }

  /** driver-side reference: plain level-synchronous BFS with the same
    * `maxLevels` cap (levels past the cap are never expanded)
    */
  private def refBfs(edges: Seq[(String, String)], roots: Seq[String],
      maxLevels: Int): Map[String, Int] = {
    val adj = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    var seen = roots.distinct.map(_ -> 0).toMap
    var frontier = roots.distinct
    var level = 0
    while (frontier.nonEmpty && level < maxLevels) {
      level += 1
      val next = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(seen.contains)
      seen ++= next.map(_ -> level)
      frontier = next
    }
    seen
  }

  private def bfs(edges: Seq[(String, String)], roots: Seq[String],
      maxLevels: Int): Map[String, Int] = {
    import spark.implicits._
    val got = BFS.levels(edges.toDF("src", "dst"), roots.toDF("node"), maxLevels).collect()
      .map(r => r.getString(0) -> r.getInt(1))
    assert(got.map(_._1).distinct.length == got.length, "a node appears at two levels")
    got.toMap
  }

  test("BFS == driver-side BFS on random graphs (seeded property)") {
    // directed graphs with cycles, self-loops and duplicate edges;
    // multiple and duplicate roots, a root outside the edge list,
    // unreachable nodes, and a maxLevels cap below the graph's depth
    val rnd = new scala.util.Random(20261017)
    var unreachable, capped = 0
    for (trial <- 1 to 6) {
      val nV = 8 + rnd.nextInt(25)
      val nE = 1 + rnd.nextInt(2 * nV)
      def v() = s"n${rnd.nextInt(nV)}"
      val base = Seq.fill(nE)((v(), v()))
      val edges = base ++ Seq(base.head, (base.head._1, base.head._1))
      val roots = Seq.fill(1 + rnd.nextInt(3))(v()) ++ Seq(edges.head._1, "isolated")
      val full = refBfs(edges, roots, Int.MaxValue)
      val depth = full.values.max
      assert(bfs(edges, roots, 30) == full, s"trial $trial (nV=$nV nE=$nE)")
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
      unreachable += (nodes -- full.keySet).size
      if (depth > 1) {
        val cap = depth - 1
        val got = bfs(edges, roots, cap)
        assert(got == refBfs(edges, roots, cap), s"trial $trial capped at $cap")
        assert(got.values.max == cap && got.size < full.size)
        capped += 1
      }
    }
    // the seed must actually reach the cases the test claims to cover
    assert(unreachable > 0 && capped > 0, s"unreachable=$unreachable capped=$capped")
  }

  test("BFS: an empty root set returns an empty table; unreachable nodes are absent") {
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "d"), ("d", "d"))
    assert(bfs(edges, Nil, 30).isEmpty)
    assert(bfs(edges, Seq("a", "a"), 30) == Map("a" -> 0, "b" -> 1))
    assert(bfs(edges, Seq("a", "c"), 0) == Map("a" -> 0, "c" -> 0))
  }

  test("BFS.levels and ConnectedComponents.labels leave no CacheManager entry") {
    import spark.implicits._
    def entries = org.apache.spark.sql.GraftCacheProbe.cachedEntries(spark)
    val before = entries
    // inputs no other test uses: a frame whose plan matches one cached
    // earlier is not cached again, which would hide a leak
    val edges = Seq(("p", "q"), ("q", "r"), ("r", "p"), ("r", "s")).toDF("src", "dst")
    assert(BFS.levels(edges, Seq("p").toDF("node")).collect().length == 4)
    assert(entries == before, "BFS.levels left a cached frame behind")
    val pairs = Seq((101L, 102L), (102L, 103L), (107L, 108L)).toDF("a", "b")
    assert(graft.ops.ConnectedComponents.labels(pairs).collect().length == 5)
    assert(entries == before, "ConnectedComponents.labels left a cached frame behind")
  }

  /** Spark actions (QueryExecutionListener successes) run by `body`,
    * its own trailing collect excluded
    */
  private def actionsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = seen.add(f)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = seen.add(f)
    }
    org.apache.spark.GraftSparkHooks.drainListenerBus(sc)
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.GraftSparkHooks.drainListenerBus(sc)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("one Spark action per BFS level and per connected-components round") {
    import spark.implicits._
    // the 4-node cycle graph: roots + levels 1..3 + the empty level 4
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4")).toDF("src", "dst")
    val bfsActions = actionsOf {
      BFS.levels(edges, Seq("1").toDF("node"))
    }
    assert(bfsActions.length == 5, s"BFS actions: $bfsActions")
    // a clique is solved by the min-neighbour init: init + one confirming round
    val clique = (for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)).toDF("a", "b")
    val ccActions = actionsOf {
      graft.ops.ConnectedComponents.labels(clique)
    }
    assert(ccActions.length == 2, s"ConnectedComponents actions: $ccActions")
  }

  test("MapReduce partitionBy routes equal keys to one partition under a custom key") {
    import spark.implicits._
    val kvs = MapReduce.insert(spark,
      (1 to 100).map(i => (s"k${i % 7}", i.toLong))).repartition(8)
    val parted = MapReduce.partitionBy(kvs, 4, col("_1"))
    assert(parted.rdd.getNumPartitions == 4)
    // every key's records land in exactly one partition (Mimir's
    // hashbucket contract: reduce sees all records of a key rank-local)
    val spread = parted.mapPartitions(it => Iterator(it.map(_._1).toSet))
      .collect().flatMap(s => s.map(_ -> 1)).groupBy(_._1).map(_._2.length)
    assert(spread.forall(_ == 1))
  }

  test("MapReduce combineByKey honors the createCombiner/mergeValue/mergeCombiners contract") {
    import spark.implicits._
    // non-associative value fold: collect values into a list combiner —
    // mergeValue appends, mergeCombiners concatenates. Count-per-key and
    // sum survive regardless of partitioning.
    val kvs = MapReduce.insert(spark,
      (1 to 50).map(i => (s"k${i % 3}", i.toLong))).repartition(7)
    val combined = MapReduce.combineByKey(kvs)(
      v => List(v), (c: List[Long], v) => v :: c, (a: List[Long], b: List[Long]) => a ++ b)
      .collect().toMap
    val expect = (1 to 50).map(i => (s"k${i % 3}", i.toLong))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    assert(combined.keySet == expect.keySet)
    combined.foreach { case (k, c) =>
      assert(c.sorted == expect(k).map(identity).sorted.toList)
    }
  }

  test("MapReduce insert/scan/output round the full Mimir algebra") {
    import spark.implicits._
    val kvs = MapReduce.insert(spark, Seq(("k1", 1L), ("k2", 2L), ("k1", 3L)))
    val reduced = MapReduce.reduceByKey(kvs)(_ + _)
    // scan: executor-side callback over final KVs (counted via accumulator)
    val seen = spark.sparkContext.longAccumulator("seen")
    MapReduce.scan(reduced)(_ => seen.add(1))
    assert(seen.value == 2L)
    // output: one text file per partition, tab-separated
    val out = Files.createTempDirectory("graft_mr_out").toString
    MapReduce.output(reduced, out)
    val back = spark.read.text(out).collect().map(_.getString(0)).sorted
    assert(back.toList == List("k1\t4", "k2\t2"))
  }
}
