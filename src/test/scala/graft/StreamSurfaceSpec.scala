package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the streaming surface: each stateful rule has
  * one implementation in `StreamOps`, keyed state has one API, and every
  * public `StreamOps` def is driven from somewhere else in the tree, so a
  * second copy of a stateful surface, a second keyed-state API or a
  * helper nothing calls fails here. Comment lines are skipped. */
class StreamSurfaceSpec extends AnyFunSuite {
  private val streamOps =
    Paths.get("src/main/scala/graft/streaming/StreamOps.scala")

  private def codeLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.filterNot { l =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }

  /** A line that opens a new member of `object StreamOps`. */
  private val memberStart = """^  [^ }]""".r
  private val publicDef = """^  def (\w+)""".r

  /** Each public member def of `object StreamOps` with its code lines. */
  private def memberBodies: Seq[(String, String)] = {
    val lines = codeLines(streamOps)
    val objectBody = lines
      .dropWhile(!_.startsWith("object StreamOps")).drop(1)
      .takeWhile(_ != "}")
    objectBody.foldLeft(List.empty[(Option[String], List[String])]) {
      (acc, l) =>
        if (acc.isEmpty || memberStart.findPrefixOf(l).isDefined)
          (publicDef.findPrefixMatchOf(l).map(_.group(1)), List(l)) :: acc
        else (acc.head._1, l :: acc.head._2) :: acc.tail
    }.reverse.collect { case (Some(n), body) =>
      n -> body.reverse.mkString("\n")
    }
  }

  test("one StreamOps def per arbitrary-state surface") {
    val api = """\b(flatMapGroupsWithState|mapGroupsWithState|transformWithState)\b""".r
    val found = memberBodies.flatMap { case (name, body) =>
      api.findFirstIn(body).map(name -> _)
    }.toMap
    assert(found === Map(
      "offsetGapState" -> "mapGroupsWithState",
      "upsertLatest" -> "flatMapGroupsWithState",
      "changeLog" -> "flatMapGroupsWithState",
      "activityState" -> "flatMapGroupsWithState",
      "velocityState" -> "flatMapGroupsWithState",
      "firstSeenScreenStream" -> "flatMapGroupsWithState",
      "eventFunnelStream" -> "flatMapGroupsWithState",
      "quantileSketchStream" -> "flatMapGroupsWithState"))
  }

  test("keyed state has one API: no transformWithState in src/main") {
    val api = """\b(transformWithState|StatefulProcessor)\b""".r
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => codeLines(p).filter(api.findFirstIn(_).isDefined)
        .map(l => s"${p.getFileName}: ${l.trim}"))
      .toSeq
    assert(hits.isEmpty, s"second keyed-state API in src/main: $hits")
  }

  test("every public StreamOps def is called outside StreamOps.scala") {
    val others = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != streamOps)
        .map(p => codeLines(p).mkString("\n"))
    }
    val unused = memberBodies.map(_._1).distinct.filterNot { name =>
      val call = ("""StreamOps\s*\.\s*""" + name + """\b""").r
      others.exists(call.findFirstIn(_).isDefined)
    }
    assert(unused.isEmpty, s"public StreamOps defs nothing calls: $unused")
  }
}
