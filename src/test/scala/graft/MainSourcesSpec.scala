package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine has one k-means (`graft.clustering.LloydKMeans`), so no
  * source under `src/main/scala` may reach for Spark MLlib. */
class MainSourcesSpec extends AnyFunSuite {

  test("no file under src/main/scala mentions org.apache.spark.ml") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root is not a directory")
    val files = java.nio.file.Files.walk(root)
    val offenders = try {
      files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("org.apache.spark.ml"))
        .map(root.relativize(_).toString).toSeq.sorted
    } finally files.close()
    assert(offenders.isEmpty, s"MLlib referenced in: ${offenders.mkString(", ")}")
  }
}
