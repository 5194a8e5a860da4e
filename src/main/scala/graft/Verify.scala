package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfArg, outDir, onlyNames @ _*) = args
    val only = onlyNames.toSet // empty = run everything (driver mode)
    // multi-SF sweep mode (round-8): a comma-separated first arg runs
    // the full inventory once per scale factor in ONE JVM/session,
    // dumping to outDir/<sf-basename>/. The single-SF layout — what the
    // driver's t2 gate invokes — is byte-identical to before.
    val sfDirs = sfArg.split(',').toSeq
    // two sfDirs sharing a basename would silently collide in one dest
    // dir (r8 ADVICE) — reject up front, before any compute
    require(sfDirs.map(p => Paths.get(p).getFileName.toString).distinct.size == sfDirs.size,
      s"duplicate sf-dir basenames in $sfArg")
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    for (sfDir <- sfDirs) {
      val dest =
        if (sfDirs.length == 1) outDir
        else s"$outDir/${Paths.get(sfDir).getFileName}"
      SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only(name) }
        .foreach { case (name, fn) =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$dest/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
    }
    // Jackson escapes quotes, backslashes and every control char: a tab
    // or CR in builder-authored SQL must not break the driver's json.load
    val json = Json.mapper.writeValueAsString(SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sweep mode: tools/check.py reads <dir>/oracle_sql.json per SF dir
    if (sfDirs.length > 1) sfDirs.foreach { sfDir =>
      val dest = Paths.get(outDir, Paths.get(sfDir).getFileName.toString)
      // the dir only exists if ≥1 parquet write succeeded for this SF —
      // an all-failed SF must not throw away the other SFs' summary
      // (r8 ADVICE)
      Files.createDirectories(dest)
      Files.writeString(dest.resolve("oracle_sql.json"), json)
    }
    spark.stop()
  }
}
