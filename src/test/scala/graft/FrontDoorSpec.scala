package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the engine's one front door: sessions are built
  * only by [[Session.local]], native functions are registered only by
  * [[graft.functions.Natives.ensure]], connected components are
  * computed only by [[graft.operators.Components.label]], and the
  * nearest-neighbour pick and IVF centroid ranking are each written once
  * in [[graft.operators.VectorOps]], so a second copy of any of them,
  * free to drift from the first, fails here. Matches run over whole
  * files, so a call wrapped across lines is still found; matches on
  * comment lines are skipped. */
class FrontDoorSpec extends AnyFunSuite {
  /** (file name, line number) of every non-comment match of `pat`. */
  private def matches(pat: Regex): Seq[(String, Int)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        pat.findAllMatchIn(text).map(_.start).filter { at =>
          val line = text.substring(text.lastIndexOf('\n', at) + 1)
            .trim
          !(line.startsWith("*") || line.startsWith("//") ||
            line.startsWith("/*"))
        }.map(at => (p.getFileName.toString,
          text.substring(0, at).count(_ == '\n') + 1))
      }

  private def filesMatching(pat: Regex): Set[String] =
    matches(pat).map(_._1).toSet

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

  test("the cosine pick and the IVF centroid ranking are each written once") {
    // The (cosine desc, c_id asc) max(struct) pick, spelled with varargs
    // or with the carried columns prepended.
    val pick = matches(
      """max\(\s*struct\(\s*col\("cosine"\)\s*(,|\+:)\s*\(-col\("c_id"\)\)""".r)
    assert(pick.size === 1, s"cosine pick sites: $pick")
    val ranking = matches(
      """\.orderBy\(\s*col\("sim"\)\.desc,\s*col\("cent_id"\)\)""".r)
    assert(ranking.size === 1, s"centroid ranking sites: $ranking")
  }
}
