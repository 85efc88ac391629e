package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over `src/main/scala`: the engine has one k-means
  * (`graft.clustering.LloydKMeans`), so no source may reach for Spark
  * MLlib; and one per-trajectory scan (`graft.lag.TrajectoryScan`), so no
  * other source sorts partitions by the trajectory key or groups a
  * trajectory by hand (a `mapGroups`/`flatMapGroups` body that sorts its
  * group by t, `sortBy(_._2)`). */
class MainSourcesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path relative to `root`, text) of every main Scala source. */
  private def sources(): Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"$root is not a directory")
    val files = Files.walk(root)
    try {
      files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map((p: Path) => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
        .sortBy(_._1)
    } finally files.close()
  }

  test("no file under src/main/scala mentions org.apache.spark.ml") {
    val offenders = sources().collect { case (p, text) if text.contains("org.apache.spark.ml") => p }
    assert(offenders.isEmpty, s"MLlib referenced in: ${offenders.mkString(", ")}")
  }

  test("only TrajectoryScan sorts partitions by the trajectory key") {
    val bySortKey = """(?s)sortWithinPartitions\(([^)]*)\)""".r
    val trajKey = """TrajCol|"traj_id"""".r
    val offenders = sources().collect {
      case (p, text) if p != "graft/lag/TrajectoryScan.scala" &&
          bySortKey.findAllMatchIn(text).exists(m => trajKey.findFirstIn(m.group(1)).nonEmpty) => p
    }
    assert(offenders.isEmpty,
      s"per-trajectory sort outside graft.lag.TrajectoryScan in: ${offenders.mkString(", ")}")
  }

  test("only TrajectoryScan groups a trajectory and sorts it by t") {
    val grouping = """\.(?:mapGroups|flatMapGroups)\s*[({]""".r
    // the bracketed body that opens at `from`
    def body(text: String, from: Int): String = {
      var depth = 0
      var i = from
      do {
        text(i) match {
          case '{' | '(' => depth += 1
          case '}' | ')' => depth -= 1
          case _ =>
        }
        i += 1
      } while (depth > 0 && i < text.length)
      text.substring(from, i)
    }
    val offenders = sources().collect {
      case (p, text) if p != "graft/lag/TrajectoryScan.scala" &&
          grouping.findAllMatchIn(text).exists(m => body(text, m.end - 1).contains("sortBy(_._2)")) => p
    }
    assert(offenders.isEmpty,
      s"per-trajectory grouping outside graft.lag.TrajectoryScan in: ${offenders.mkString(", ")}")
  }
}
