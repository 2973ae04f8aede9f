package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

import graft.model.Schemas
import graft.operators.Provenance
import graft.plans.SdfRowExpr
import graft.sinks.NdjsonSink
import graft.sources.{DelimitedReader, SdfReader}

/** The native ingest path against the forms it replaced, kept here as
  * the oracles: the provenance stamp (`ProvenanceStampExpr`) against
  * `map_filter`/`map_concat`, the SDF row kernel (`SdfRowExpr`) against
  * `sdf_props` + `element_at`/`trim`/`map_filter`, and the sink's JSON
  * line encoder against `to_json(struct(*))`, under whole-stage codegen and
  * interpreted; and the executed plan of a stamped frame of each source.
  */
class IngestKernelSpec extends SparkSpec {

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

  private def bothModes(body: String => Unit): Unit =
    Seq("FALLBACK", "NO_CODEGEN").foreach(m => withCodegen(m)(body(m)))

  /** Every row's columns, a map as its ordered keys and values. */
  private def rows(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.schema.fields.toSeq.flatMap { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
        Seq(map_keys(c), map_values(c), c.isNull)
      else Seq(c)
    }
    df.select(cols: _*).collect().toSeq.map(_.toSeq)
  }

  // --- provenance stamp -------------------------------------------------

  private val Keys = Seq(Provenance.SourceKey, Provenance.ConfigKey, Provenance.AtKey)

  /** The earlier body of `Provenance.stamp`, verbatim. */
  private def hofStamp(df: DataFrame, source: String, configHash: String,
      ingestedAt: String): DataFrame = {
    val tags = map(
      lit(Provenance.SourceKey), lit(source),
      lit(Provenance.ConfigKey), lit(configHash),
      lit(Provenance.AtKey), lit(ingestedAt))
    val stamped: Column =
      if (df.columns.contains("metadata"))
        map_concat(
          map_filter(
            coalesce(col("metadata"), map().cast("map<string,string>")),
            (k, _) => !k.isin(Keys.map(lit): _*)),
          tags)
      else tags
    df.withColumn("metadata", stamped)
  }

  /** Generated metadata maps with unique keys: prior `_prov_*` keys in
    * any position, null values, empty and NULL maps, 5+ entries.
    */
  private def generatedMaps(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val pool = Keys ++ Seq("_prov_other", "_prov_", "source_file", "a", "b", "column_2",
      "ké", "😀", "", "_PROV_SOURCE")
    val data = (0 until n).map { id =>
      if (rnd.nextInt(12) == 0) Row(id.toLong, null, null, true)
      else {
        val keys = rnd.shuffle(pool).take(rnd.nextInt(pool.size + 1))
        val values = keys.map(_ => if (rnd.nextInt(6) == 0) null else s"v${rnd.nextInt(100)}")
        Row(id.toLong, keys, values, false)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), StructType(Seq(
      StructField("id", org.apache.spark.sql.types.LongType),
      StructField("k", org.apache.spark.sql.types.ArrayType(StringType)),
      StructField("v", org.apache.spark.sql.types.ArrayType(StringType)),
      StructField("isNull", org.apache.spark.sql.types.BooleanType))))
      .select(col("id"), when(!col("isNull"), map_from_arrays(col("k"), col("v"))).as("metadata"))
  }

  test("the native stamp matches the map_filter/map_concat form on generated maps") {
    val maps = generatedMaps(3000, 20261019L)
    bothModes { mode =>
      val got = Provenance.stamp(maps, "zinc", "0" * 32, "2026-01-01T00:00:00Z")
      val want = hofStamp(maps, "zinc", "0" * 32, "2026-01-01T00:00:00Z")
      assert(got.schema === want.schema, mode)
      val g = rows(got)
      assert(g === rows(want), mode)
      assert(g.exists(r => r(1).asInstanceOf[scala.collection.Seq[String]].size > 8), "long maps generated")
      // maps whose values cannot be NULL, the type the SDF reader gives
      val strict = maps.select(col("id"), map_from_arrays(map_keys(col("metadata")),
        transform(map_values(col("metadata")), v => coalesce(v, lit("")))).as("metadata"))
      assert(!strict.schema("metadata").dataType.asInstanceOf[
        org.apache.spark.sql.types.MapType].valueContainsNull)
      val g2 = Provenance.stamp(strict, "s", "h", "t")
      val w2 = hofStamp(strict, "s", "h", "t")
      assert(g2.schema === w2.schema && rows(g2) === rows(w2), mode)
      // a frame without a metadata column gets the literal map
      val bare = maps.select(col("id"))
      val g3 = Provenance.stamp(bare, "s", "h", "t")
      val w3 = hofStamp(bare, "s", "h", "t")
      assert(g3.schema === w3.schema && rows(g3) === rows(w3), mode)
    }
  }

  // --- SDF row kernel ---------------------------------------------------

  /** The earlier body of `SdfReader.read` after `readRecords`, verbatim. */
  private def hofSdfRow(records: DataFrame, sourceName: String, identifierTag: String,
      smilesTag: String, metadataTags: Option[Seq[String]]): DataFrame = {
    val props = SdfReader.sdfProps(col("record"))
    val withProps = records.select(props.as("props"))
    val keep: Column = metadataTags match {
      case Some(tags) =>
        map_filter(col("props"), (k, v) =>
          k.isInCollection(tags) && !k.isin(identifierTag, smilesTag) && v =!= "")
      case None =>
        map_filter(col("props"), (k, v) =>
          !k.isin(identifierTag, smilesTag) && v =!= "")
    }
    withProps.select(
      lit(sourceName).as("source"),
      trim(coalesce(element_at(col("props"), identifierTag), lit(""))).as("identifier"),
      trim(coalesce(element_at(col("props"), smilesTag), lit(""))).as("smiles"),
      keep.as("metadata"))
      .select(Schemas.molecule.fieldNames.map(col).toSeq: _*)
  }

  private def nativeSdfRow(records: DataFrame, sourceName: String, identifierTag: String,
      smilesTag: String, metadataTags: Option[Seq[String]]): DataFrame =
    records.select(SdfRowExpr.sdf_row(col("record"), identifierTag, smilesTag, metadataTags)
      .as("row"))
      .select(lit(sourceName).as("source"), col("row.identifier"), col("row.smiles"),
        col("row.metadata"))

  /** SdfReaderSpec's edge cases and more: multi-line values, malformed
    * and duplicate tags, CRLF, empty values, blank-padded keys, a tag
    * listed as metadata that is also a key, control characters, U+2003,
    * a non-BMP character, 6+ tags.
    */
  private val edgeRecords: Seq[String] = Seq(
    "PubChem\n  -OEChem-\n\nM  END\n> <ID>\nCID1\n\n> <SMILES>\nC\n\n> <NAME>\nmethane\n",
    "mol\nM  END\n> <A>\nline1\nline2\n\n>broken-no-angle\n> <B>\n  spaced  \n",
    "mol\nM  END\n> <Multi>\nline one\nline two\n\n> malformed no tag\n> <Empty>\n\n" +
      "> <Dup>\na\n\n> <Dup>\nb\n",
    "mol\nM  END\n",
    "",
    "\n ",
    "> <ID>\r\n  CID2 \r\n\r\n> <SMILES>\r\nCC\r\n\r\n> <X>\r\ny\r\n",
    "> <ID>\n\t CID3\u000B\f\n> <SMILES>\n CCO \n> <KEEP>\nv\n> <EMPTY>\n\n",
    "> <ID>\n\n> <SMILES>\n\n> <KEEP>\n\u0001x\u001F\n",
    "> <ID><SMILES>\nboth\n> x <KEEP> y\nk\n> <>\nno name\n> <A\nno close\n",
    "> <SMILES>\nC\n> <ID>\nI\n> <ID>\nI2\n$$$$x\n$$$\nmore\n",
    "> <KEEP>\nc1ccccc1😀\n> <ID>\nZ\u2003\n> <A>\n\u2003\n",
    (1 to 7).map(i => s"> <TAG_$i>\nv$i\n").mkString("mol\nM  END\n", "\n", "> <ID>\nI7\n"))

  private def generatedRecords(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val lines = Seq("> <ID>", "> <SMILES>", "> <KEEP>", "> <A>", "> <B>", ">no tag", "> <>",
      "> <A><B>", "> x <KEEP> y", "", "", " ", "$$$$", "$$$", "v1", " v2 ", "\r", "é",
      "\t", "> <A", "<A>", "x>y", "😀", "M  END", ">", "> <ID> trailing")
    (0 until n).map(_ => Seq.fill(rnd.nextInt(14))(lines(rnd.nextInt(lines.size))).mkString("\n"))
  }

  private def sameSdfRows(records: DataFrame): Int = {
    var n = 0
    bothModes { mode =>
      Seq(None, Some(Seq("KEEP", "EMPTY", "ID", "A")), Some(Nil)).foreach { tags =>
        Seq(("ID", "SMILES"), ("ID", "ID"), ("A", "KEEP")).foreach { case (id, smiles) =>
          val got = nativeSdfRow(records, "s", id, smiles, tags)
          val want = hofSdfRow(records, "s", id, smiles, tags)
          val ctx = s"$mode, tags $tags, keys ($id, $smiles)"
          assert(got.schema === want.schema, ctx)
          val g = rows(got)
          assert(g === rows(want), ctx)
          n = g.size
        }
      }
    }
    n
  }

  test("the SDF row kernel matches the element_at/trim/map_filter form") {
    import spark.implicits._
    val bad = Seq(Array[Byte]('>', ' ', '<', 'I', 'D', '>', '\n', 'C', 0xff.toByte, '\n'),
      Array[Byte]('>', ' ', '<', 0xc3.toByte, '>', '\n', 'x', 0xed.toByte, 0xa0.toByte,
        0x80.toByte, '\n', '>', ' ', '<', 'S', 'M', 'I', 'L', 'E', 'S', '>', '\n', 0xc0.toByte))
    val records = (edgeRecords ++ generatedRecords(2000, 7L)).toDF("record")
      .union(bad.toDF("b").select(col("b").cast(StringType).as("record")))
      .union(Seq[String](null).toDF("record"))
    assert(sameSdfRows(records) === edgeRecords.size + 2000 + 3)
    // sdf_props, now on the same byte parser, against the Scala parser
    val parse = udf(SdfReader.parseProps)
    records.filter(col("record").isNotNull)
      .select(SdfReader.sdfProps(col("record")).as("n"), parse(col("record")).as("s"))
      .collect().foreach { r =>
        assert(r.getMap[String, String](0).toSeq === r.getMap[String, String](1).toSeq)
      }
  }

  test("SdfReader.read matches the former read over the edge records of a file") {
    val dir = tmpDir("ik_sdf")
    val path = s"$dir/r.sdf"
    Files.writeString(Paths.get(path), (edgeRecords ++ generatedRecords(300, 11L))
      .mkString("", "\n$$$$\n", "\n$$$$\n"))
    bothModes { mode =>
      Seq(None, Some(Seq("KEEP", "A"))).foreach { tags =>
        val got = SdfReader.read(spark, path, "pubchem", "ID", "SMILES", tags)
        val want = hofSdfRow(SdfReader.readRecords(spark, path), "pubchem", "ID", "SMILES", tags)
        assert(got.schema === want.schema, mode)
        assert(rows(got) === rows(want), mode)
      }
    }
  }

  // --- JSON line encoder ------------------------------------------------

  /** The lines `NdjsonSink` writes for `df`, as bytes, in batch order. */
  private def sinkLines(df: DataFrame, name: String): Seq[Seq[Byte]] = {
    val dir = tmpDir("ik_json")
    NdjsonSink.writeNumberedBatches(df, dir, name, 1000, compress = false)
    Files.list(Paths.get(s"$dir/$name")).iterator().asScala.toSeq.map(_.toString).sorted
      .flatMap { p =>
        val bytes = Files.readAllBytes(Paths.get(p)).toSeq
        assert(bytes.last === '\n'.toByte)
        val out = Seq.newBuilder[Seq[Byte]]
        var rest = bytes
        while (rest.nonEmpty) {
          val (line, tail) = rest.span(_ != '\n'.toByte)
          out += line
          rest = tail.drop(1)
        }
        out.result()
      }
  }

  /** The lines equal `to_json(struct(*))`'s, byte for byte. (`toJSON`
    * writes a map of 5+ entries in another order.)
    */
  private def sameAsToJsonStruct(df: DataFrame, ctx: String): Unit = {
    val fields = df.columns.toSeq.map(c => df.col("`" + c.replace("`", "``") + "`"))
    val want = df.select(to_json(struct(fields: _*))).collect().toSeq.map(_.getString(0).getBytes(UTF_8).toSeq)
    val got = sinkLines(df, "j")
    assert(got.size === want.size, ctx)
    got.zip(want).foreach { case (g, w) =>
      assert(g === w, s"$ctx: ${new String(g.toArray, UTF_8)} vs ${new String(w.toArray, UTF_8)}")
    }
  }

  test("the JSON line encoder writes to_json's bytes for string and map<string,string> frames") {
    val texts: Seq[String] = Seq("plain", "", "q\"uote", "back\\slash", "\\\"", "\u007F",
      "line sep ", "c1ccccc1😀", "é中", "/slash</script>") ++
      (0 until 0x20).map(c => s"a${c.toChar}b")
    val bytes: Seq[Array[Byte]] = Seq(Array(0xff.toByte), Array('a'.toByte, 0xc3.toByte),
      Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), Array(0xc0.toByte, 0x80.toByte, '"'.toByte),
      Array(0xf4.toByte, 0x90.toByte, 0x80.toByte, 0x80.toByte, 0x01.toByte))
    val n = texts.size + bytes.size
    val data = (0 until n).map { i =>
      val t = if (i < texts.size) texts(i) else null
      val b = if (i < texts.size) null else bytes(i - texts.size)
      Row(i.toLong, t, b)
    }
    val base = spark.createDataFrame(spark.sparkContext.parallelize(data, 3), StructType(Seq(
      StructField("i", org.apache.spark.sql.types.LongType),
      StructField("t", StringType), StructField("b", BinaryType))))
      .select(col("i"), coalesce(col("t"), col("b").cast(StringType)).as("s"))
    val keys = (1 to 7).map(k => s"k$k")
    val df = base.select(
      col("s").as("plain"),
      when(col("i") % 3 === 0, lit(null).cast(StringType)).otherwise(col("s")).as("a.b"),
      when(col("i") % 4 === 0, lit(null)).otherwise(concat(col("s"), lit("|"))).as("x`y"),
      lit("v").as("q\"n\\\u0001é"),
      when(col("i") % 5 === 0, lit(null)).otherwise(
        map(lit("k"), col("s"), col("s"), lit(null).cast(StringType), lit("z\u0000"),
          col("s")))
        .as("m"),
      when(col("i") % 2 === 0, map().cast("map<string,string>"))
        .otherwise(map(keys.flatMap(k => Seq(lit(k), col("s"))): _*)).as("big"))
    assert(df.schema.fields.forall(f => f.dataType == StringType ||
      f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]))
    bothModes { mode =>
      Seq("true", "false").foreach { ignore =>
        val key = "spark.sql.jsonGenerator.ignoreNullFields"
        spark.conf.set(key, ignore)
        try sameAsToJsonStruct(df, s"$mode, ignoreNullFields $ignore")
        finally spark.conf.unset(key)
      }
    }
    // a line of the big map keeps its 7 keys in insertion order
    val line = new String(sinkLines(df.filter(col("plain") === ""), "o").head.toArray, UTF_8)
    assert(line.contains(keys.map(k => s"\"$k\":\"\"").mkString("\"big\":{", ",", "}")))
  }

  // --- plan shape -------------------------------------------------------

  private def writeGz(path: String, content: String): Unit = {
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(Paths.get(path)))
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** One whole-stage codegen stage at the root, no other, and no
    * expression anywhere that falls back to interpretation.
    */
  private def assertOneStage(df: DataFrame, ctx: String): Unit = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[WholeStageCodegenExec], s"$ctx: the root is one stage\n$plan")
    assert(plan.collect { case w: WholeStageCodegenExec => w }.size === 1, s"$ctx\n$plan")
    val fallbacks = plan.collect { case p => p }.flatMap(_.expressions)
      .flatMap(_.collect { case e: CodegenFallback => e })
    assert(fallbacks.isEmpty, s"$ctx: $fallbacks")
  }

  test("the stamped frame of either source is one generated stage with no fallback") {
    val dir = tmpDir("ik_plan")
    writeGz(s"$dir/z.txt.gz", "C\tZ1\t1.0\nCC\tZ2\t2.0\n")
    writeGz(s"$dir/m.sdf.gz", edgeRecords.mkString("", "\n$$$$\n", "\n$$$$\n"))
    val zinc = Provenance.stamp(DelimitedReader.read(spark, s"$dir/z.txt.gz", "zinc"),
      "zinc", "h", "t")
    val sdf = Provenance.stamp(SdfReader.read(spark, s"$dir/m.sdf.gz", "pubchem", "ID", "SMILES"),
      "pubchem", "h", "t")
    assertOneStage(zinc, "zinc")
    assertOneStage(sdf, "sdf")
    assert(zinc.count() === 2 && sdf.count() > 5)
  }
}
