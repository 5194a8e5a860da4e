package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite

/** Tables.rowGroups, the footer bound behind Tables.spread: a footer
  * that cannot be read says nothing about starvation, and its failure
  * must not stick for the life of the JVM.
  */
class SpreadFooterSpec extends AnyFunSuite {
  private val hconf = new org.apache.hadoop.conf.Configuration()

  test("an unreadable footer is not starved and is not cached") {
    val dir = Files.createTempDirectory("footer")
    try {
      val f = dir.resolve("x.parquet")
      Files.write(f, "not a parquet file".getBytes("UTF-8"))
      assert(Tables.rowGroups(f.toString, hconf).isEmpty,
        "garbage footer must not read as a row-group count")
      // the fixtures are single-row-group parquet files
      Files.copy(Paths.get("/root/testdata/sf0.001/region.parquet"), f,
        StandardCopyOption.REPLACE_EXISTING)
      assert(Tables.rowGroups(f.toString, hconf) == Some(1))
    } finally Tmp.quietDeleteRecursively(dir)
  }
}
