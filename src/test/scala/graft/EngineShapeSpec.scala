package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard on `src/main/scala`: the engine ships a fixed set of
  * entry points and builds every SparkSession through [[GraftSession]], so
  * a new throwaway main or a copied session builder fails here. */
class EngineShapeSpec extends AnyFunSuite {

  private val mainDir = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] = {
    assert(Files.isDirectory(mainDir), s"run from the repo root: $mainDir")
    val walk = Files.walk(mainDir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString)
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("src/main defines main only in Bench, Verify, Explain, ScaleUp, DedupStats") {
    val objectRx = """\bobject\s+(\w+)""".r
    val mainRx = """\bdef\s+main\s*\(""".r
    val owners = sources.flatMap { case (_, text) =>
      val objects =
        objectRx.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      mainRx.findAllMatchIn(text).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2).getOrElse("?")
      }
    }
    assert(owners.sorted ===
      Seq("Bench", "DedupStats", "Explain", "ScaleUp", "Verify"))
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val sites = sources.collect {
      case (p, text) if text.contains("SparkSession.builder") =>
        p.getFileName.toString
    }
    assert(sites === Seq("GraftSession.scala"))
  }
}
