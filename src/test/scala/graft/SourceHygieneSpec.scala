package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Main sources carry no A/B switches: a measured trade is settled by
  * keeping the faster arm as one unconditional line, never by a
  * `TEMPORARY` hook read from a system property or the environment.
  * And they carry no top-level object, class or trait that no other
  * main code names.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private val forbidden = Seq("TEMPORARY", "graft.ab", "GRAFT_AB")

  private lazy val mainFiles: Seq[java.nio.file.Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    files
  }

  test("no TEMPORARY marker or graft.ab / GRAFT_AB switch under src/main/scala") {
    val hits = for {
      p <- mainFiles
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      word <- forbidden if line.contains(word)
    } yield s"$p:${i + 1}: $word"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  /** Top-level definitions that no main code needs to name. */
  private val unnamedAllowed = Set(
    "graft/cli/Main.scala" -> "Main",
    "graft/Verify.scala" -> "Verify",
    "graft/Bench.scala" -> "Bench",
    "graft/tools/ScaleGen.scala" -> "ScaleGen",
    "graft/tools/PlanDump.scala" -> "PlanDump",
    // the canonical sink schema: specs read ingest output under it
    "graft/model/Schemas.scala" -> "Schemas")

  test("every top-level object, class and trait under src/main/scala is named by other main code") {
    val topLevel = """^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r
    val stringLiteral = """"(?:\\.|[^"\\])*"""".r
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }
    val root = Paths.get("src/main/scala")
    val lines = for {
      p <- mainFiles
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
    } yield (root.relativize(p).toString, i, line)
    // code lines with string literals blanked: a name inside a message
    // or a SQL text does not reach the definition
    val namedAt = (for {
      (f, i, line) <- lines if !isComment(line)
      word <- """\w+""".r.findAllIn(stringLiteral.replaceAllIn(line, "\"\""))
    } yield word -> ((f, i))).groupMap(_._1)(_._2)
    val unnamed = for {
      (f, i, line) <- lines
      m <- topLevel.findFirstMatchIn(line).toSeq
      name = m.group(1) if !unnamedAllowed((f, name))
      if !namedAt.getOrElse(name, Nil).exists(_ != ((f, i)))
    } yield s"$f:${i + 1}: $name"
    assert(unnamed.isEmpty,
      "top-level definitions no main code names:" + unnamed.mkString("\n", "\n", ""))
  }
}
