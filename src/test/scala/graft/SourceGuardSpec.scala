package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the storage layer: it reads no environment
  * variables, and data files decode through one reader — parquet-mr's
  * `Group` record API is allowed only where the tombstone sidecars
  * are read (`DoomedPositions`).
  */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft/sources")

  /** Every source line as (file:line, text, inside DoomedPositions). */
  private lazy val lines: Seq[(String, String, Boolean)] = {
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.flatMap { f =>
      var inDoomed = false
      Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) =>
        if (l.contains("object DoomedPositions")) inDoomed = true
        else if (l == "}") inDoomed = false
        (s"$f:${i + 1}", l, inDoomed)
      }
    }
  }

  private def report(found: Seq[(String, String, Boolean)]): String =
    found.map { case (at, l, _) => s"$at: ${l.trim}" }.mkString("\n")

  test("no file under sources reads sys.env") {
    assert(lines.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val found = lines.filter(_._2.contains("sys.env"))
    assert(found.isEmpty, report(found))
  }

  test("parquet-mr Group records are read only inside DoomedPositions") {
    val found = lines.filter { case (_, l, inDoomed) =>
      l.contains("org.apache.parquet.example.data.Group") && !inDoomed
    }
    assert(found.isEmpty, report(found))
  }
}
