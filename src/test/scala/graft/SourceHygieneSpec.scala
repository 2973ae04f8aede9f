package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Main sources carry no A/B switches: a measured trade is settled by
  * keeping the faster arm as one unconditional line, never by a
  * `TEMPORARY` hook read from a system property or the environment.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private val forbidden = Seq("TEMPORARY", "graft.ab", "GRAFT_AB")

  test("no TEMPORARY marker or graft.ab / GRAFT_AB switch under src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      word <- forbidden if line.contains(word)
    } yield s"$p:${i + 1}: $word"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
