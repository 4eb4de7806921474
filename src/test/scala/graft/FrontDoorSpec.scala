package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the engine's one front door: sessions are built
  * only by [[Session.local]], native functions are registered only by
  * [[graft.functions.Natives.ensure]] and connected components are
  * computed only by [[graft.operators.Components.label]], so a second copy
  * of any of them, free to drift from the first, fails here. Matches run over whole files, so a
  * call wrapped across lines is still found; matches on comment lines are
  * skipped. */
class FrontDoorSpec extends AnyFunSuite {
  private def filesMatching(pat: Regex): Set[String] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        pat.findAllMatchIn(text).exists { m =>
          val line = text.substring(text.lastIndexOf('\n', m.start) + 1)
            .trim
          !(line.startsWith("*") || line.startsWith("//") ||
            line.startsWith("/*"))
        }
      }
      .map(_.getFileName.toString).toSet

  test("only Session.scala builds a SparkSession") {
    assert(filesMatching("""SparkSession\s*\.\s*builder""".r) ===
      Set("Session.scala"))
  }

  test("only Natives.scala registers functions") {
    assert(filesMatching(
      """createOrReplaceTempFunction|registerFunction""".r) ===
      Set("Natives.scala"))
  }

  test("only Components.scala runs connected components") {
    assert(filesMatching(
      """connectedComponents|Graph\s*\.\s*fromEdges""".r) ===
      Set("Components.scala"))
  }
}
