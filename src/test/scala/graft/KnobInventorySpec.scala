package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** CI guard on the configuration surface: every GRAFT_* / SPARK_GRAFT_*
  * name under src/main/scala has one line in the README's "Environment
  * knobs" table (and the table lists nothing else), and the only place
  * that builds a SparkSession is graft/Session.scala. A new knob or a
  * private session recipe fails here until it is documented or routed
  * through Session.local().
  */
class KnobInventorySpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] = {
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  // the lookbehind keeps SPARK_GRAFT_CPUS from also matching GRAFT_CPUS
  private val KnobName = """(?<![A-Z0-9_])(?:SPARK_)?GRAFT_[A-Z0-9_]*[A-Z0-9]""".r

  test("the README knob table lists exactly the GRAFT_* names src/main reads") {
    val inCode = sources.flatMap { case (_, src) => KnobName.findAllIn(src) }.toSet
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val section = readme.split("\n## ").find(_.startsWith("Environment knobs"))
      .getOrElse(fail("README.md has no \"## Environment knobs\" section"))
    val rows = section.linesIterator.filter(_.startsWith("| `")).toSeq
    val inTable = rows.map(_.split("`")(1))
    assert(inTable.distinct.size == inTable.size,
      s"duplicate table rows: ${inTable.diff(inTable.distinct)}")
    rows.foreach { r =>
      val cells = r.split("\\|").map(_.trim).filter(_.nonEmpty)
      assert(cells.length == 3 && cells.forall(_.nonEmpty),
        s"knob row needs name | purpose | default: $r")
    }
    assert((inCode -- inTable).isEmpty, s"undocumented knobs: ${(inCode -- inTable).toSeq.sorted}")
    assert((inTable.toSet -- inCode).isEmpty,
      s"table rows for knobs the code no longer reads: ${(inTable.toSet -- inCode).toSeq.sorted}")
  }

  test("SparkSession.builder appears only in graft/Session.scala") {
    val builders = sources.collect {
      case (p, src) if src.contains("SparkSession.builder") => mainRoot.relativize(p).toString
    }
    assert(builders == Seq("graft/Session.scala"),
      s"files building their own SparkSession: $builders")
  }
}
