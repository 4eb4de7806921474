package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the engine's one front door: sessions are built
  * only by [[Session.local]], native functions are registered only by
  * [[graft.functions.Natives.ensure]], connected components are
  * computed only by [[graft.operators.Components.label]], candidate
  * pairs are generated only by [[graft.operators.Candidates]], and the
  * nearest-neighbour pick and IVF centroid ranking are each written once
  * in [[graft.operators.VectorOps]], so a second copy of any of them,
  * free to drift from the first, fails here. Matches run over whole
  * files, so a call wrapped across lines is still found; matches on
  * comment lines are skipped. */
class FrontDoorSpec extends AnyFunSuite {
  private def sources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  /** (file name, line number) of every non-comment match of `pat`. */
  private def matches(pat: Regex): Seq[(String, Int)] =
    sources.flatMap { p =>
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

  /** The name of the last `def` that starts at or above `line` (1-based)
    * of the source file named `file`. */
  private def enclosingDef(file: String, line: Int): String = {
    val p = sources.find(_.getFileName.toString == file).get
    Files.readAllLines(p).asScala.take(line).reverseIterator
      .flatMap("""\bdef (\w+)""".r.findFirstMatchIn(_).map(_.group(1)))
      .nextOption().getOrElse("<top>")
  }

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
    // The (cosine desc, id asc) max(struct) pick, spelled with varargs
    // or with the carried columns prepended, over any id column.
    val pick = matches(
      """max\(\s*struct\(\s*col\("cosine"\)\s*(,|\+:)\s*\(-col\("\w+"\)\)""".r)
    assert(pick.size === 1, s"cosine pick sites: $pick")
    val ranking = matches(
      """\.orderBy\(\s*col\("sim"\)\.desc,\s*col\("cent_id"\)\)""".r)
    assert(ranking.size === 1, s"centroid ranking sites: $ranking")
  }

  test("candidate pairs are generated only in Candidates.scala") {
    def sites(pat: Regex): Set[(String, String)] =
      matches(pat).filterNot(_._1 == "Candidates.scala")
        .map { case (file, line) => (file, enclosingDef(file, line)) }
        .toSet
    // The array forms of pair generation — a nested-lambda explode over
    // a collected bucket, and a posexplode paired with a slice of the
    // same bucket array — stay only where the posting join measured
    // slower.
    val arrayForms: Map[(String, String), String] = Map(
      ("TextOps.scala", "crossSourceContamination") ->
        "a bag's source set has a handful of members; the join was slower",
      ("TextOps.scala", "simhashPairs") ->
        "each join side re-ran the bucket window; the join was slower")
    val arraySites = sites("""flatten\(\s*transform\(""".r) ++ sites(
      """posexplode\(\s*col\("(\w+)"\)\)[\s\S]{0,300}?slice\(\s*col\("\1"\)""".r)
    assert(arraySites === arrayForms.keySet)
    // The a < b filter of a bucket pair, outside Candidates.scala, is
    // allowed only at these (file, enclosing def) sites, none of which
    // is a search for pairs that share a key.
    val exceptions: Map[(String, String), String] = Map(
      ("BatchOps.scala", "shipmentOverlaps") ->
        ("interval-overlap join whose shuffle_hash hint marks one side " +
          "only"),
      ("CdcOps.scala", "bitmapMembership") ->
        "event-type x event-type crossJoin spine",
      ("CdcOps.scala", "kmvOverlap") ->
        "event-type x event-type crossJoin spine",
      ("TextOps.scala", "sourceDivergence") ->
        "source x source crossJoin spine, so disjoint pairs still emit")
    assert(sites("""col\("\w+_a"\)\s*<\s*col\("\w+_b"\)""".r) ===
      exceptions.keySet)
  }
}
