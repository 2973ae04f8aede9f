package graft

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.sources.SdfReader

/** Contract tests for the SDF source, mirroring the reference's fixture
  * shapes (FIXTURES.md §1) and parser edge cases (sdf.py:21-60).
  */
class SdfReaderSpec extends SparkSpec {

  private def sdfEntry(cid: String, smiles: String, metadata: (String, String)*): String = {
    val props = (Seq("PUBCHEM_COMPOUND_CID" -> cid,
      "PUBCHEM_OPENEYE_ISO_SMILES" -> smiles) ++ metadata)
      .map { case (k, v) => s"> <$k>\n$v\n" }.mkString("\n")
    s"PubChem\n  -OEChem-\n\nM  END\n$props"
  }

  private def writeGz(path: String, content: String): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), "UTF-8"))
    try w.write(content) finally w.close()
  }

  test("parses gzipped multi-record SDF into molecule records") {
    val dir = tmpDir("sdf")
    val content = Seq(
      sdfEntry("CID1", "C", "PUBCHEM_IUPAC_NAME" -> "methane"),
      sdfEntry("CID2", "CC"),
      sdfEntry("CID3", "CCC", "X" -> "y")).mkString("\n$$$$\n") + "\n$$$$\n"
    writeGz(s"$dir/chunk.sdf.gz", content)

    val df = SdfReader.read(spark, s"$dir/*.sdf.gz", "pubchem",
      "PUBCHEM_COMPOUND_CID", "PUBCHEM_OPENEYE_ISO_SMILES")
    val rows = df.collect().sortBy(_.getString(1))
    assert(rows.length === 3)
    assert(rows.map(_.getString(1)).toSeq === Seq("CID1", "CID2", "CID3"))
    assert(rows.map(_.getString(2)).toSeq === Seq("C", "CC", "CCC"))
    val meta1 = rows(0).getMap[String, String](3)
    assert(meta1("PUBCHEM_IUPAC_NAME") === "methane")
    assert(!meta1.contains("PUBCHEM_COMPOUND_CID"), "id/smiles tags excluded from metadata")
  }

  test("typed Dataset[MoleculeRecord] boundary preserves fields") {
    val dir = tmpDir("sdf_typed")
    Files.writeString(Paths.get(s"$dir/t.sdf"),
      sdfEntry("CID9", "CCO", "X" -> "y") + "\n$$$$\n")
    val ds = SdfReader.readTyped(spark, s"$dir/t.sdf", "pc",
      "PUBCHEM_COMPOUND_CID", "PUBCHEM_OPENEYE_ISO_SMILES")
    val rec = ds.collect()(0)
    assert(rec.source === "pc" && rec.identifier === "CID9"
      && rec.smiles === "CCO" && rec.metadata === Map("X" -> "y"))
  }

  test("trailing record without sentinel is still parsed") {
    val dir = tmpDir("sdf")
    val content = sdfEntry("CID1", "C") + "\n$$$$\n" + sdfEntry("CID2", "CC")
    Files.writeString(Paths.get(s"$dir/t.sdf"), content)
    val df = SdfReader.read(spark, s"$dir/t.sdf", "s", "PUBCHEM_COMPOUND_CID",
      "PUBCHEM_OPENEYE_ISO_SMILES")
    assert(df.count() === 2)
  }

  test("blank tail records are dropped by the \\s class, a U+2003-only record is kept") {
    val dir = tmpDir("sdf_blank")
    val head = sdfEntry("CID1", "C") + "\n$$$$\n"
    Files.writeString(Paths.get(s"$dir/ws.sdf"), head + " \t\u000b\f\r \n")
    Files.writeString(Paths.get(s"$dir/nl.sdf"), head + "\n\n\n")
    Files.writeString(Paths.get(s"$dir/em.sdf"), head + " ")
    def records(f: String) =
      SdfReader.readRecords(spark, s"$dir/$f").collect().map(_.getString(0)).toSeq
    assert(records("ws.sdf").size === 1, "whitespace-only tail record dropped")
    assert(records("nl.sdf").size === 1, "newline-only tail record dropped")
    assert(records("em.sdf").drop(1) === Seq("\n "), "U+2003 is not \\s: record kept")
  }

  test("property parser edge cases: multi-line values, malformed tag line, missing tags") {
    val props = SdfReader.parseProps(
      "mol\nM  END\n> <A>\nline1\nline2\n\n>broken-no-angle\n> <B>\n  spaced  \n")
    assert(props("A") === "line1\nline2")
    assert(props("B") === "spaced")
    assert(props.size === 2)

    val df = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Nil))
    val empty = SdfReader.parseProps("mol\nM  END\n")
    assert(empty.isEmpty)
  }

  test("metadata_tags restricts and empty values are dropped") {
    val dir = tmpDir("sdf")
    val content = sdfEntry("CID1", "C", "KEEP" -> "v", "DROP" -> "x", "EMPTY" -> "") + "\n$$$$\n"
    Files.writeString(Paths.get(s"$dir/t.sdf"), content)
    val df = SdfReader.read(spark, s"$dir/t.sdf", "s", "PUBCHEM_COMPOUND_CID",
      "PUBCHEM_OPENEYE_ISO_SMILES", metadataTags = Some(Seq("KEEP", "EMPTY")))
    val meta = df.collect()(0).getMap[String, String](3)
    assert(meta.toMap === Map("KEEP" -> "v"))
  }
}
