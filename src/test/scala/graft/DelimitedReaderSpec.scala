package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.Schemas
import graft.plans.DelimitedRowExpr
import graft.sources.{DelimitedReader, PathPatterns}

/** `DelimitedReader.read` (the native `DelimitedRowExpr` kernel) against
  * the higher-order-function form it replaced, kept here as the oracle:
  * the same rows in the same order, the same metadata key order and the
  * same schema, under whole-stage codegen and interpreted.
  */
class DelimitedReaderSpec extends SparkSpec {

  /** The earlier body of `DelimitedReader.read`, verbatim. */
  private def hofRead(spark: SparkSession, paths: String, sourceName: String,
      delimiter: Option[String] = Some("\t"),
      smilesColumn: Int = 0, identifierColumn: Int = 1): DataFrame = {
    val raw = spark.read.text(PathPatterns.split(paths): _*)
      .select(col("value"), input_file_name().as("source_file"))
      .filter(length(trim(col("value"))) > 0)                     // S16: blank lines
    val parts = delimiter match {
      case Some(sep) =>
        raw.select(split(col("value"),
          java.util.regex.Pattern.quote(sep)).as("parts"), col("source_file"))
      case None =>
        // trim() strips spaces only — a tab-led line would otherwise
        // split into a leading empty token and shift the column indices
        raw.select(split(regexp_replace(col("value"), "^\\s+|\\s+$", ""), "\\s+")
          .as("parts"), col("source_file"))
    }
    val needed = math.max(smilesColumn, identifierColumn) + 1
    // guarded access: ANSI mode turns out-of-bounds array indexing into
    // an error, and predicate reordering could evaluate these before the
    // size filter
    def item(i: Int) =
      when(size(col("parts")) > i, col("parts").getItem(i)).otherwise(lit(""))
    val smilesC = trim(item(smilesColumn))
    val idC = trim(item(identifierColumn))
    parts
      .filter(size(col("parts")) >= needed)                       // S17: too few columns
      .filter(smilesC =!= "" && idC =!= "")                       // S17: empty key cells
      .select(
        lit(sourceName).as("source"),
        idC.as("identifier"),
        smilesC.as("smiles"),
        map_concat(
          map(lit("source_file"), col("source_file")),
          map_from_entries(filter(
            transform(sequence(lit(0), size(col("parts")) - 1), i =>
              struct(concat(lit("column_"), i.cast("string")).as("key"),
                col("parts").getItem(i).as("value"))),
            e => e.getField("key") =!= lit(s"column_$smilesColumn")
              && e.getField("key") =!= lit(s"column_$identifierColumn")))
        ).as("metadata"))
      .select(Schemas.molecule.fieldNames.map(col).toSeq: _*)
  }

  private def withCodegen[T](factoryMode: String)(body: => T): T = {
    val conf = spark.conf
    val prevWhole = conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.wholeStage", (factoryMode != "NO_CODEGEN").toString)
    conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try body finally {
      conf.set("spark.sql.codegen.wholeStage", prevWhole)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  /** Rows as comparable tuples; the metadata as ordered keys and values. */
  private def rows(df: DataFrame): Seq[(String, String, String, Seq[String], Seq[String])] =
    df.select(col("source"), col("identifier"), col("smiles"),
      map_keys(col("metadata")), map_values(col("metadata"))).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getSeq[String](3), r.getSeq[String](4)))

  /** Kernel and oracle agree on `path` under both codegen modes; returns
    * the kernel's rows.
    */
  private def same(path: String, delimiter: Option[String], smilesColumn: Int = 0,
      identifierColumn: Int = 1): Seq[(String, String, String, Seq[String], Seq[String])] =
    Seq("FALLBACK", "NO_CODEGEN").map { mode =>
      withCodegen(mode) {
        val got = DelimitedReader.read(spark, path, "zinc", delimiter, smilesColumn,
          identifierColumn)
        val want = hofRead(spark, path, "zinc", delimiter, smilesColumn, identifierColumn)
        val ctx = s"delimiter $delimiter, columns ($smilesColumn, $identifierColumn), $mode"
        assert(got.schema === want.schema, ctx)
        val g = rows(got)
        assert(g === rows(want), ctx)
        g
      }
    }.head

  private def writeBytes(dir: String, name: String, lines: Seq[Array[Byte]]): String = {
    val p = Paths.get(s"$dir/$name")
    Files.write(p, lines.flatMap(_ :+ '\n'.toByte).toArray)
    p.toString
  }

  private def write(dir: String, name: String, lines: Seq[String]): String =
    writeBytes(dir, name, lines.map(_.getBytes(UTF_8)))

  /** Blank, space-only and tab-only lines, a tab-led line, `\x0B` and
    * U+2003 in cells, leading/trailing/empty middle cells, rows one
    * column short, empty key cells, U+2028 at a line end and a line
    * that is not valid UTF-8.
    */
  private val tabCorpus: Seq[Array[Byte]] = Seq(
    "", "   ", "\t", "\t\t", " \t ", "\tC\tZ1", "C\tZ2\t", "C\t\tZ3", "C\tZ4\t\tx\t",
    "C", "CC ", " \tZ5", "C\t ", "C\u000B\tZ6\u2003\tm\u000Bn\u2003", "  C  \t  Z7  \t  a b  ",
    "C\tZ8\tmw\tlogp", "\u2003\tZ9", "C\tZ10\ta \u2028", "C\tZ11\t\u0085", "c1ccccc1\tZ\uD83D\uDE0012",
    "\t\tC\tZ13\tq", "C\tZ14\t\t\t\t\t\t\t"
  ).map(_.getBytes(UTF_8)) ++ Seq(
    Array[Byte]('C', '\t', 'Z', 0xff.toByte, '1', '5', '\t', 0xc3.toByte),
    Array[Byte]('C', 0xed.toByte, 0xa0.toByte, 0x80.toByte, '\t', 'Z', '1', '6'),
    Array[Byte]('C', '\t', 'Z', '1', '7', '\t', 0xc0.toByte, 0x80.toByte, 0xf4.toByte,
      0x90.toByte, 0x80.toByte, 0x80.toByte))

  test("tab separator: the fixed corpus matches the HOF oracle") {
    val path = writeBytes(tmpDir("dr_tab"), "z.txt", tabCorpus)
    val got = same(path, Some("\t"))
    assert(got.map(_._2).take(4) === Seq("Z2", "Z4", "Z6\u2003", "Z7"))
    assert(got.find(_._2 == "Z4").get._4.tail === Seq("column_2", "column_3", "column_4"))
    assert(got.find(_._2 == "Z4").get._5.tail === Seq("", "x", ""))
    Seq((1, 0), (2, 0), (1, 1), (0, 0), (3, 1), (2, 4)).foreach { case (s, i) =>
      same(path, Some("\t"), s, i)
    }
  }

  test("over spark.read.text, whose lines share a reused row buffer, the kernel matches the HOF oracle") {
    val path = writeBytes(tmpDir("dr_text"), "z.txt", tabCorpus)
    Seq("FALLBACK", "NO_CODEGEN").foreach { mode =>
      withCodegen(mode) {
        Seq(Some("\t"), None).foreach { d =>
          val got = spark.read.text(path)
            .select(DelimitedRowExpr.delimited_row(col("value"), input_file_name(), d, 0, 1)
              .as("row"))
            .filter(col("row").isNotNull)
            .select(lit("zinc").as("source"), col("row.identifier"), col("row.smiles"),
              col("row.metadata"))
          val g = rows(got)
          assert(g.nonEmpty && g === rows(hofRead(spark, path, "zinc", d)), s"delimiter $d, $mode")
        }
      }
    }
  }

  test("gzip input and several files match the HOF oracle") {
    val dir = tmpDir("dr_gz")
    Seq("a", "b").foreach { f =>
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(s"$dir/$f.txt.gz")))
      try tabCorpus.foreach { l => out.write(l); out.write('\n') } finally out.close()
    }
    val got = same(s"$dir/*.txt.gz", Some("\t"))
    assert(got.map(_._5.head).distinct.size === 2, "source_file names each file")
  }

  test("literal separators |, . and || match the HOF oracle") {
    val path = write(tmpDir("dr_sep"), "z.txt", Seq(
      "C|Z1|a", "C||Z2", "|C|Z3", "C|Z4|", "C.Z5.x.y", ".C.Z6", "a|||b", "C||Z7||m||",
      "C||Z8|||n", "C|||||Z9", "||", "|", ".", "C.Z10", "C|Z11.x||y", "C Z12", "   ",
      "C\t|Z13", "C||", "||C||Z14"))
    Seq("|", ".", "||", ", ").foreach { sep =>
      same(path, Some(sep))
      same(path, Some(sep), 1, 0)
      same(path, Some(sep), 2, 2)
    }
    // an empty separator would match everywhere; it is rejected up front
    intercept[IllegalArgumentException](DelimitedReader.read(spark, path, "zinc", Some("")))
  }

  test("whitespace mode matches the HOF oracle, leading tabs/spaces included") {
    val path = write(tmpDir("dr_ws"), "z.txt", Seq(
      "\tC   ZINC1", "  CC\tZINC2", "CCC ZINC3", "", "   ", "\t", "\t \u000B\f", "C",
      "  C  Z4  extra\u000B", "C\u000BZ5\fq", "\u2003 Z6", "C Z7 \u2028", "C Z8\t\u2028",
      "C Z9\u2028", "C\u2028 Z10", " \t\u2028", "C Z11 \u0085", "C Z12 \u2029 ", "C Z13\u2029\u2029",
      "  a  b  c  d  ", "C\u00A0Z14"))
    val got = same(path, None)
    assert(got.take(3).map(r => (r._2, r._3)) ===
      Seq(("ZINC1", "C"), ("ZINC2", "CC"), ("ZINC3", "CCC")))
    assert(got.find(_._2 == "Z7\u2028").nonEmpty, "the space before a final U+2028 goes")
    Seq((1, 0), (2, 0), (0, 0), (3, 2)).foreach { case (s, i) => same(path, None, s, i) }
  }

  test("generated lines match the HOF oracle for every separator mode") {
    val alphabet = Gen.oneOf(Seq("C", "N", "Z", "1", " ", " ", "\t", "\t", "|", "||", ".",
      "\u000B", "\f", "\u2003", "\u2028", "\u0085", "\u00E9", "\uD83D\uDE00"))
    val lines = Gen.listOfN(1500, Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, alphabet)
      .map(_.mkString))).apply(Gen.Parameters.default, Seed(20261019L)).get
    val path = write(tmpDir("dr_gen"), "z.txt", lines)
    Seq(Some("\t"), Some("|"), Some("||"), Some("."), None).foreach { d =>
      assert(same(path, d).nonEmpty)
      same(path, d, 2, 1)
    }
  }
}
