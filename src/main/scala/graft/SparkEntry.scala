package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Every implemented QueryPack (SURVEY.md §2B categories A–K). */
  private val packs: Seq[QueryPack] = Seq(
    ScanQueries,
    ProjectFilterQueries,
    JoinQueries,
    AggQueries,
    WindowQueries,
    SortQueries,
    SetQueries,
    ScalarFnQueries,
    StreamQueries,
    UdfQueries,
    TextQueries,
    DedupQueries,
    SimQueries,
    GraphMmQueries,
    MiscQueries,
    ExtQueries,
    Ext2Queries,
    Ext3Queries,
    Ext4Queries,
    Ext5Queries,
    SketchQueries,
    ScaleQueries,
    PipelineQueries,
    StreamingStatefulQueries,
  )
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("join_5way_flagship")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(packs.map(_.queries), "queries")
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    merged(packs.map(_.oracleSql), "oracleSql")

  /** Union of per-pack maps that refuses to let a later pack silently
    * shadow an earlier pack's key. */
  private[graft] def merged[V](maps: Seq[Map[String, V]], what: String): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect {
      case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty,
      s"SparkEntry.$what: key(s) defined by more than one pack: ${dups.toSeq.sorted.mkString(", ")}")
    maps.flatten.toMap
  }
}
