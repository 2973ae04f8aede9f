package graft

import java.nio.file.{Files, Paths}

import graft.checkpoint.JobManifest
import graft.cli.Main
import graft.config.JobConfig
import graft.report.Report
import graft.sources.{Aria2Mirror, HttpJsonSource, HttpPaginatedSource, Manifests, RetryingHttp}
import graft.model.MoleculeRecord

/** End-to-end ingestion contracts mirrored from the reference's test
  * assertions (SURVEY.md §5): config validation, numbered batch files,
  * checkpoint round-trip + resume, golden report lines, aria2 argv
  * behavior, manifest parsing, paginated source resume.
  */
class IngestionSpec extends SparkSpec {

  test("config: YAML parses; unknown types and duplicate names rejected") {
    val ok = JobConfig.parse(
      """job:
        |  output_dir: /tmp/out
        |  checkpoint_dir: /tmp/cp
        |  batch_size: 500
        |  concurrency: 2
        |  sources:
        |    - type: delimited
        |      name: zinc-a
        |      options: {paths: /tmp/x, delimiter: "\t"}
        |""".stripMargin)
    assert(ok.batchSize === 500 && ok.sources.head.name === "zinc-a")
    assertThrows[IllegalArgumentException](JobConfig.parse(
      "job:\n  output_dir: a\n  checkpoint_dir: b\n  sources:\n    - {type: nope, name: x}\n"))
    assertThrows[IllegalArgumentException](JobConfig.parse(
      """job:
        |  output_dir: a
        |  checkpoint_dir: b
        |  sources:
        |    - {type: sdf, name: x, options: {paths: p}}
        |    - {type: sdf, name: x, options: {paths: p}}
        |""".stripMargin))
    assertThrows[IllegalArgumentException](JobConfig.parse(
      "job:\n  output_dir: a\n  checkpoint_dir: b\n  batch_size: 0\n  sources: []\n"))
  }

  test("checkpoint round-trip and atomic store") {
    val root = tmpDir("cp")
    val cp = JobManifest.Checkpoint(Map("file_index" -> "0", "record_offset" -> "2"), 1, completed = false)
    JobManifest.store(root, "src", cp)
    assert(JobManifest.load(root, "src").contains(cp))
    JobManifest.markCompleted(root, "src", 2)
    assert(JobManifest.isCompleted(root, "src"))
  }

  test("checkpoint snapshot is restorable; corruption is detected, not restored") {
    val root = tmpDir("cp_snap")
    val snap = tmpDir("cp_snap_dest")
    JobManifest.store(root, "alpha",
      JobManifest.Checkpoint(Map("cursor" -> "p3"), 3, completed = false))
    JobManifest.store(root, "beta",
      JobManifest.Checkpoint(Map.empty, 7, completed = true))
    assert(JobManifest.snapshot(root, snap) === (Seq("alpha", "beta"), Seq.empty))
    // validation: both restorable, values identical to the originals
    assert(JobManifest.validateSnapshot(snap) === (Seq("alpha", "beta"), Seq.empty))
    Seq("alpha", "beta").foreach { s =>
      assert(JobManifest.load(snap, s) === JobManifest.load(root, s))
    }
    // a corrupt file in the snapshot must be REPORTED (a DR restore
    // from it would silently re-ingest from scratch), never listed ok
    Files.writeString(Paths.get(s"$snap/gamma.json"), "{not json")
    val (ok, bad) = JobManifest.validateSnapshot(snap)
    assert(ok === Seq("alpha", "beta") && bad === Seq("gamma.json"))
    // a SOURCE-side unparseable checkpoint must be reported by
    // snapshot itself, not silently skipped while claiming success —
    // and the expected-list validation must catch the resulting hole
    Files.writeString(Paths.get(s"$root/delta.json"), "{not json")
    val snap2 = tmpDir("cp_snap_dest2")
    assert(JobManifest.snapshot(root, snap2) ===
      (Seq("alpha", "beta"), Seq("delta")))
    val (ok2, bad2) = JobManifest.validateSnapshot(
      snap2, Seq("alpha", "beta", "delta"), new org.apache.hadoop.conf.Configuration())
    assert(ok2 === Seq("alpha", "beta") && bad2 === Seq("delta.json (missing)"))
    // snapshotting an empty/missing root is a no-op, not an error
    assert(JobManifest.snapshot(tmpDir("cp_snap_none") + "/missing", snap)._1.isEmpty)
  }

  test("HTML report carries the Markdown goldens and escapes external strings") {
    val s = Report.SourceSummary("zinc<a>", "delimited", completed = true,
      totalBatches = 2, batchesWritten = 2, recordsWritten = 3,
      output = Some(Report.DirectorySummary("/out/zinc", 2, 2048)), downloads = None)
    val html = Report.renderHtml(Seq(s), configHash = Some("abc123"))
    assert(html.contains("<td>zinc&lt;a&gt;</td>") && !html.contains("zinc<a>"))
    assert(html.contains("<td>delimited</td>") && html.contains("<td>yes</td>"))
    assert(html.contains("2.00 KB") && html.contains("abc123"))
    assert(Report.renderHtml(Nil).contains("No sources were executed."))
  }

  test("ingest end-to-end: batch files, checkpoint, golden report line, idempotent rerun") {
    val dir = tmpDir("e2e")
    val data = s"$dir/data.tsv"
    Files.writeString(Paths.get(data),
      "C\tZINC1\nCC\tZINC2\nCCC\tZINC3\n")
    val job = JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  batch_size: 2
         |  compress_output: false
         |  sources:
         |    - type: delimited
         |      name: zinc
         |      options: {paths: $data, delimiter: "\\t"}
         |""".stripMargin)
    val summaries = Main.runIngestion(spark, job)
    assert(summaries.head.recordsWritten === 3)
    assert(summaries.head.batchesWritten === 2) // ceil(3/2)
    val files = Files.list(Paths.get(s"$dir/out/zinc")).toArray.map(_.toString).sorted
    assert(files.exists(_.endsWith("zinc-batch-000001.jsonl")))
    assert(files.exists(_.endsWith("zinc-batch-000002.jsonl")))
    val report = Files.readString(Paths.get(s"$dir/out/raw-data-report.md"))
    assert(report.contains("| zinc | delimited | yes | 2 | 2 | 3 |"), report)
    // rerun skips the completed source (file-level idempotence)
    val again = Main.runIngestion(spark, job)
    assert(again.head.recordsWritten === 0 && again.head.completed)
  }

  test("ingest e2e with a pubchem-style SDF source through the registry") {
    val dir = tmpDir("sdf_e2e")
    val sdf = Seq("CID1" -> "C", "CID2" -> "CC", "CID3" -> "CCC").map { case (cid, smi) =>
      s"PubChem\nM  END\n> <PUBCHEM_COMPOUND_CID>\n$cid\n\n> <PUBCHEM_OPENEYE_ISO_SMILES>\n$smi\n"
    }.mkString("\n$$$$\n") + "\n$$$$\n"
    Files.writeString(Paths.get(s"$dir/chunk.sdf"), sdf)
    val job = JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  batch_size: 10
         |  compress_output: false
         |  sources:
         |    - type: pubchem
         |      name: pubchem
         |      options: {paths: $dir/chunk.sdf}
         |""".stripMargin)
    val summaries = Main.runIngestion(spark, job)
    assert(summaries.head.recordsWritten === 3)
    val back = spark.read.json(s"$dir/out/pubchem/*.jsonl")
    assert(back.selectExpr("identifier").collect().map(_.getString(0)).sorted.toSeq
      === Seq("CID1", "CID2", "CID3"))
  }

  test("whitespace-mode delimited read tolerates leading tabs/spaces") {
    val dir = tmpDir("ws")
    Files.writeString(Paths.get(s"$dir/d.smi"),
      "\tC   ZINC1\n  CC\tZINC2\nCCC ZINC3\n")
    val df = graft.sources.DelimitedReader.read(spark, s"$dir/d.smi", "z",
      delimiter = None)
    val got = df.select("identifier", "smiles").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    assert(got.toSeq === Seq(("ZINC1", "C"), ("ZINC2", "CC"), ("ZINC3", "CCC")))
  }

  test("NDJSON rows round-trip through spark.read.json") {
    val dir = tmpDir("ndjson")
    import spark.implicits._
    val df = Seq(MoleculeRecord("s", "id1", "C", Map("k" -> "v"))).toDF()
    graft.sinks.NdjsonSink.writeNumberedBatches(df, dir, "s", 10, compress = true)
    val back = spark.read.json(s"$dir/s/*.jsonl.gz")
    val row = back.selectExpr("identifier", "smiles", "metadata.k").collect()(0)
    assert(row.getString(0) === "id1" && row.getString(1) === "C" && row.getString(2) === "v")
  }

  test("manifest parsing: comments, whitespace token, checksum and zinc paths") {
    val p = tmpDir("mf")
    Files.writeString(Paths.get(s"$p/links.txt"),
      """# comment
        |
        |https://example.org/pub/Compound_001.sdf.gz extra tokens
        |https://example.org/pub/Compound_002.sdf.gz
        |""".stripMargin)
    val entries = Manifests.parsePubChem(s"$p/links.txt")
    assert(entries.map(_.fileName) === Seq("Compound_001.sdf.gz", "Compound_002.sdf.gz"))
    assert(entries.head.checksumUrl.contains("https://example.org/pub/Compound_001.sdf.gz.md5"))

    Files.writeString(Paths.get(s"$p/zinc.uri"), "http://zinc.example/2D/AA/AAAA.txt\n")
    val z = Manifests.parseZinc(s"$p/zinc.uri")
    assert(z.head.relativePath.contains("2D/AA/AAAA.txt"))
  }

  test("aria2 mirror: argv shape, skip-existing, checksum forces run") {
    val dir = tmpDir("aria2")
    var calls = List.empty[Seq[String]]
    val runner: Seq[String] => Int = { argv => calls ::= argv; 0 }
    val target = Paths.get(s"$dir/f.bin")

    assert(Aria2Mirror.download("http://x/f.bin", target, runner))
    val argv = calls.head
    assert(argv.head === "aria2c")
    assert(argv.contains("--continue=true") && argv.contains("--max-connection-per-server=16"))
    assert(argv.last === "http://x/f.bin")

    Files.write(target, Array[Byte](1, 2, 3))
    calls = Nil
    assert(Aria2Mirror.download("http://x/f.bin", target, runner))
    assert(calls.isEmpty, "existing non-empty file skipped")

    assert(Aria2Mirror.download("http://x/f.bin", target, runner,
      checksum = Some(("md5", "abc"))))
    assert(calls.head.contains("--checksum=md5=abc") && calls.head.contains("--check-integrity=true"))
  }

  test("paginated source: pages, checkpoint resume, completed short-circuit") {
    val dir = tmpDir("http")
    def rec(i: Int) = MoleculeRecord("cs", s"id$i", "C" * i, Map.empty)
    val pages = Map(
      Map.empty[String, String] -> HttpPaginatedSource.Page(Seq(rec(1), rec(2)), Some(Map("token" -> "t1"))),
      Map("token" -> "t1") -> HttpPaginatedSource.Page(Seq(rec(3)), None))
    var fetches = 0
    val fetch: Map[String, String] => HttpPaginatedSource.Page =
      c => { fetches += 1; pages(c) }

    // stop after first page (simulated crash), then resume
    val r1 = HttpPaginatedSource.run(spark, "cs", fetch, Map.empty,
      s"$dir/out", s"$dir/cp", compress = false, maxPages = 1)
    assert(r1.pagesFetched === 1 && !r1.completed && r1.recordsWritten === 2)
    val r2 = HttpPaginatedSource.run(spark, "cs", fetch, Map.empty,
      s"$dir/out", s"$dir/cp", compress = false)
    assert(r2.completed && r2.recordsWritten === 1, "resume fetched only the remainder")
    // completed source short-circuits without fetching
    val before = fetches
    val r3 = HttpPaginatedSource.run(spark, "cs", fetch, Map.empty,
      s"$dir/out", s"$dir/cp", compress = false)
    assert(r3.completed && fetches === before)
  }

  test("paginated source: each page is one batch on a multi-core session") {
    val dir = tmpDir("http_pages")
    def rec(i: Int) = MoleculeRecord("cs", s"id$i", "C" * (i % 7 + 1), Map.empty)
    def page(p: Int) = HttpPaginatedSource.Page((5 * p + 1 to 5 * p + 5).map(rec),
      if (p < 2) Some(Map("page" -> (p + 1).toString)) else None)
    val res = HttpPaginatedSource.run(spark, "cs", c => page(c.getOrElse("page", "0").toInt),
      Map.empty, s"$dir/out", s"$dir/cp", compress = false)
    assert(res.completed && res.pagesFetched === 3 && res.recordsWritten === 15)
    val files = Files.list(Paths.get(s"$dir/out/cs")).toArray.map(_.toString)
      .filter(_.endsWith(".jsonl")).sorted.toSeq
    assert(files.map(f => f.substring(f.length - 12)) ===
      Seq("000001.jsonl", "000002.jsonl", "000003.jsonl"))
    val ids = spark.read.json(files: _*).select("identifier").collect().map(_.getString(0))
    assert(ids.length === 15 && ids.distinct.length === 15)
    assert(JobManifest.load(s"$dir/cp", "cs").get.batchIndex === 3)
  }

  test("download phase: manifest mirror with fake runner, checkpoint skip on rerun") {
    val dir = tmpDir("dl")
    Files.writeString(Paths.get(s"$dir/links.txt"),
      "https://example.org/a.sdf.gz\nhttps://example.org/b.sdf.gz\n")
    var calls = 0
    val runner: Seq[String] => Int = { argv =>
      calls += 1
      // fake aria2c: create the target file
      val outDir = argv.find(_.startsWith("--dir=")).get.drop(6)
      val outName = argv.find(_.startsWith("--out=")).get.drop(6)
      Files.createDirectories(Paths.get(outDir))
      Files.write(Paths.get(outDir, outName), Array[Byte](1))
      0
    }
    val job = JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  sources:
         |    - type: chembl
         |      name: chembl
         |      options: {link_file: $dir/links.txt, download_dir: $dir/raw}
         |""".stripMargin)
    val s1 = Main.runDownload(job, runner)
    assert(s1.head.batchesWritten === 2 && calls === 2)
    assert(Files.exists(Paths.get(s"$dir/raw/a.sdf.gz")))
    assert(Files.readString(Paths.get(s"$dir/out/raw-data-report.md")).contains("| chembl |"))
    val s2 = Main.runDownload(job, runner)
    assert(calls === 2, "completed download phase must be skipped on rerun")
    assert(s2.head.completed)
  }

  test("file ingest resumes mid-source: crashed wave redone, completed waves skipped") {
    val dir = tmpDir("waves")
    (1 to 5).foreach { i =>
      Files.writeString(Paths.get(s"$dir/part$i.tsv"), s"${"C" * i}\tZINC$i\n")
    }
    val job = JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  batch_size: 10
         |  compress_output: false
         |  sources:
         |    - type: delimited
         |      name: zinc
         |      options: {paths: "$dir/part*.tsv", delimiter: "\\t", resume_wave_files: "2"}
         |""".stripMargin)
    val spec = job.sources.head
    val cpRoot = s"${job.checkpointDir}/ingestion-parse"
    // crash after the first wave (2 of 5 files)
    val (b1, r1) = Main.ingestFilesResumable(spark, job, spec, cpRoot,
      Main.readers("delimited"), maxWaves = 1)
    // one batch per input partition (one per file here), as the
    // reference flushes a partial batch at the end of every file
    assert(r1 === 2 && b1 === 2)
    val cp = JobManifest.load(cpRoot, "zinc").get
    assert(cp.cursor("files_done") === "2" && !cp.completed)

    // full CLI re-run picks up at file 3: only the remaining 3 records
    val summaries = Main.runIngestion(spark, job)
    assert(summaries.head.recordsWritten === 3, "completed wave not re-ingested")
    assert(JobManifest.isCompleted(cpRoot, "zinc"))
    // all five records present exactly once across the numbered batches
    val back = spark.read.json(s"$dir/out/zinc/*.jsonl")
    assert(back.select("identifier").collect().map(_.getString(0)).sorted.toSeq
      === (1 to 5).map(i => s"ZINC$i"))
  }

  test("file ingest resume fails loudly when the input listing drifted") {
    val dir = tmpDir("drift")
    (1 to 4).foreach { i =>
      Files.writeString(Paths.get(s"$dir/part$i.tsv"), s"${"C" * i}\tZINC$i\n")
    }
    val job = JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  batch_size: 10
         |  compress_output: false
         |  sources:
         |    - type: delimited
         |      name: zinc
         |      options: {paths: "$dir/part*.tsv", delimiter: "\\t", resume_wave_files: "2"}
         |""".stripMargin)
    val spec = job.sources.head
    val cpRoot = s"${job.checkpointDir}/ingestion-parse"
    Main.ingestFilesResumable(spark, job, spec, cpRoot,
      Main.readers("delimited"), maxWaves = 1)
    // a new file sorts BETWEEN the completed ones: positional resume
    // would silently skip part2 — the drift check must refuse instead
    Files.writeString(Paths.get(s"$dir/part1a.tsv"), "CCC\tZINCX\n")
    val e = intercept[IllegalStateException] {
      Main.ingestFilesResumable(spark, job, spec, cpRoot, Main.readers("delimited"))
    }
    assert(e.getMessage.contains("resume drift"))
    // balanced add+remove drift: delete part1 and add part0b so the
    // listing LENGTH and the file at position done-1 both still match —
    // only the whole-prefix fingerprint can catch this
    Files.delete(Paths.get(s"$dir/part1a.tsv"))
    Files.delete(Paths.get(s"$dir/part1.tsv"))
    Files.writeString(Paths.get(s"$dir/part0b.tsv"), "CC\tZINCY\n")
    val e2 = intercept[IllegalStateException] {
      Main.ingestFilesResumable(spark, job, spec, cpRoot, Main.readers("delimited"))
    }
    assert(e2.getMessage.contains("resume drift"))
  }

  test("path splitting: comma lists split, brace globs pass through intact") {
    assert(graft.sources.PathPatterns.split("/a/x.tsv, /b/y.tsv")
      === Seq("/a/x.tsv", "/b/y.tsv"))
    assert(graft.sources.PathPatterns.split("/data/{a,b}/z.tsv")
      === Seq("/data/{a,b}/z.tsv"))
    // mixed: a comma LIST where one entry contains braces — only
    // depth-zero commas split (a brace-named file must not collapse a
    // resumable wave's comma-joined path list into one bogus path)
    assert(graft.sources.PathPatterns.split("/a/x.tsv,/b/snap{1}.tsv,/c/{d,e}/y.tsv")
      === Seq("/a/x.tsv", "/b/snap{1}.tsv", "/c/{d,e}/y.tsv"))
    // brace glob resolves through expandPaths end-to-end
    val dir = tmpDir("braceglob")
    Files.createDirectories(Paths.get(s"$dir/a"))
    Files.createDirectories(Paths.get(s"$dir/b"))
    Files.writeString(Paths.get(s"$dir/a/z.tsv"), "x\n")
    Files.writeString(Paths.get(s"$dir/b/z.tsv"), "y\n")
    val got = Main.expandPaths(s"$dir/{a,b}/z.tsv",
      spark.sparkContext.hadoopConfiguration)
    assert(got.map(p => p.substring(p.length - 7)).sorted === Seq("a/z.tsv", "b/z.tsv"))
  }

  test("pubchem mirror verifies md5 companions; cached archives short-circuit; empty checksum dead-letters") {
    val dir = tmpDir("md5")
    var argvs = List.empty[Seq[String]]
    val runner: Seq[String] => Int = { argv =>
      argvs ::= argv
      val out = Paths.get(argv.find(_.startsWith("--dir=")).get.drop(6),
        argv.find(_.startsWith("--out=")).get.drop(6))
      Files.createDirectories(out.getParent)
      val url = argv.last
      if (url.endsWith(".md5"))
        // pubchem md5 files are "<digest>  <filename>"
        Files.writeString(out, s"d41d8cd98f00b204e9800998ecf8427e  ${out.getFileName}\n")
      else Files.write(out, Array[Byte](1, 2, 3))
      0
    }
    val entries = Manifests.parsePubChem({
      val f = s"$dir/links.txt"
      Files.writeString(Paths.get(f), "https://example.org/pub/C_001.sdf.gz\n")
      f
    })
    val got = Aria2Mirror.mirrorAll(entries, s"$dir/raw", runner)
    assert(got.size === 1)
    // checksum companion fetched first, then the archive with integrity flags
    val Seq(md5Call, sdfCall) = argvs.reverse
    assert(md5Call.last === "https://example.org/pub/C_001.sdf.gz.md5")
    assert(sdfCall.last === "https://example.org/pub/C_001.sdf.gz")
    assert(sdfCall.contains("--checksum=md5=d41d8cd98f00b204e9800998ecf8427e"))
    assert(sdfCall.contains("--check-integrity=true"))

    // cached non-empty archive: no checksum fetch, no download
    argvs = Nil
    assert(Aria2Mirror.mirrorAll(entries, s"$dir/raw", runner).size === 1)
    assert(argvs.isEmpty, "existing archive short-circuits before checksum work")

    // empty checksum file → entry dead-lettered, not mirrored
    val dir2 = s"$dir/raw2"
    val emptyMd5Runner: Seq[String] => Int = { argv =>
      val out = Paths.get(argv.find(_.startsWith("--dir=")).get.drop(6),
        argv.find(_.startsWith("--out=")).get.drop(6))
      Files.createDirectories(out.getParent)
      Files.writeString(out, if (argv.last.endsWith(".md5")) "" else "x")
      0
    }
    assert(Aria2Mirror.mirrorAll(entries, dir2, emptyMd5Runner).isEmpty)
  }

  test("retrying http: transport failures back off exponentially; non-2xx is terminal") {
    var calls = 0
    val flaky: RetryingHttp.Transport = (_, _) => {
      calls += 1
      if (calls < 3) throw new java.io.IOException("connection reset")
      (200, "ok")
    }
    var waits = List.empty[Long]
    val policy = RetryingHttp.Policy(sleep = w => waits ::= w)
    assert(RetryingHttp.execute(flaky, "http://x", policy = policy) === "ok")
    assert(calls === 3)
    assert(waits.reverse === List(500L, 1000L), "0.5s doubling backoff")

    // non-2xx: terminal error, no retry (reference re-wraps status
    // errors outside the retried exception type)
    calls = 0
    val denied: RetryingHttp.Transport = (_, _) => { calls += 1; (503, "unavailable") }
    assertThrows[RetryingHttp.HttpError](
      RetryingHttp.execute(denied, "http://x", policy = policy))
    assert(calls === 1)

    // exhausted attempts rethrow the last transport failure
    calls = 0
    val dead: RetryingHttp.Transport = (_, _) => { calls += 1; throw new java.io.IOException("down") }
    assertThrows[java.io.IOException](
      RetryingHttp.execute(dead, "http://x", policy = policy))
    assert(calls === 5)
  }

  test("http json codec: records_path, metadata modes, cursor shapes, url params") {
    val cfg = HttpJsonSource.chemspider("cs", batchSize = 2)
    val url = HttpJsonSource.buildUrl(cfg, Map("token" -> "t1"))
    assert(url.startsWith("https://api.rsc.org/compounds/v1/filter/smiles?"))
    assert(url.contains("count=2") && url.contains("token=t1"))

    // scalar next cursor wraps under cursor_param; declared metadata
    // fields only, minus absent ones
    val p1 = HttpJsonSource.parsePage(cfg,
      """{"results":[{"csid":7,"smiles":"C","inchi_key":"IK","formula":"CH4","noise":1}],"next":"t2"}""")
    assert(p1.records === Seq(MoleculeRecord("cs", "7", "C",
      Map("inchi_key" -> "IK", "formula" -> "CH4"))))
    assert(p1.nextCursor.contains(Map("token" -> "t2")))

    // object next cursor is taken verbatim; empty metadata_fields →
    // every key except id/smiles; null next → exhausted
    val gen = HttpJsonSource.HttpConfig("g", "http://api", "v1/recs")
    val p2 = HttpJsonSource.parsePage(gen,
      """{"records":[{"id":"a","smiles":"CC","extra":42}],"next":{"page":"2","seen":"10"}}""")
    assert(p2.records.head.metadata === Map("extra" -> "42"))
    assert(p2.nextCursor.contains(Map("page" -> "2", "seen" -> "10")))
    val p3 = HttpJsonSource.parsePage(gen, """{"records":[],"next":null}""")
    assert(p3.records.isEmpty && p3.nextCursor.isEmpty)
  }

  test("http fetch loop: retry inside a page fetch interplays with checkpoint resume") {
    val dir = tmpDir("httpretry")
    var calls = 0
    val transport: RetryingHttp.Transport = (url, _) => {
      calls += 1
      if (calls == 1) throw new java.io.IOException("flaky once")
      else if (url.contains("cursor=c1"))
        (200, """{"records":[{"id":"3","smiles":"CCC"}],"next":null}""")
      else
        (200, """{"records":[{"id":"1","smiles":"C"},{"id":"2","smiles":"CC"}],"next":"c1"}""")
    }
    val cfg = HttpJsonSource.HttpConfig("api", "http://api.example", "recs")
    val fetch = HttpJsonSource.fetcher(cfg, transport,
      RetryingHttp.Policy(sleep = _ => ()))
    // crash after page 1, then resume: only the c1 page is re-fetched
    val r1 = HttpPaginatedSource.run(spark, "api", fetch, Map.empty,
      s"$dir/out", s"$dir/cp", compress = false, maxPages = 1)
    assert(r1.recordsWritten === 2 && !r1.completed)
    val r2 = HttpPaginatedSource.run(spark, "api", fetch, Map.empty,
      s"$dir/out", s"$dir/cp", compress = false)
    assert(r2.completed && r2.recordsWritten === 1)
  }

  test("cli e2e: chemspider source ingests via fake transport, resumes, reports") {
    val dir = tmpDir("cs_e2e")
    var fetches = 0
    val transport: RetryingHttp.Transport = (url, _) => {
      fetches += 1
      assert(url.contains("count=1000"), url)
      if (url.contains("token=t1"))
        (200, """{"results":[{"csid":3,"smiles":"CCC","formula":"C3H8"}],"next":null}""")
      else
        (200, """{"results":[{"csid":1,"smiles":"C","inchi_key":"IK1"},{"csid":2,"smiles":"CC"}],"next":"t1"}""")
    }
    val job = JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  compress_output: false
         |  sources:
         |    - type: chemspider
         |      name: chemspider
         |      options: {}
         |""".stripMargin)
    val summaries = Main.runIngestion(spark, job, transport)
    assert(summaries.head.recordsWritten === 3 && summaries.head.completed)
    val back = spark.read.json(s"$dir/out/chemspider/*.jsonl")
    assert(back.selectExpr("identifier").collect().map(_.getString(0)).sorted.toSeq
      === Seq("1", "2", "3"))
    assert(back.selectExpr("metadata.inchi_key").collect()
      .map(r => Option(r.getString(0))).toSet === Set(Some("IK1"), None))
    val report = Files.readString(Paths.get(s"$dir/out/raw-data-report.md"))
    assert(report.contains("| chemspider | chemspider |"), report)
    // rerun: completed checkpoint short-circuits, zero fetches
    val before = fetches
    val again = Main.runIngestion(spark, job, transport)
    assert(again.head.completed && fetches === before)
  }

  test("run log: structured JSON-lines events for the golden e2e job") {
    val dir = tmpDir("runlog_e2e")
    val transport: RetryingHttp.Transport = (url, _) => {
      if (url.contains("token=t1"))
        (200, """{"results":[{"csid":3,"smiles":"CCC"}],"next":null}""")
      else
        (200, """{"results":[{"csid":1,"smiles":"C"},{"csid":2,"smiles":"CC"}],"next":"t1"}""")
    }
    val job = JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  compress_output: false
         |  sources:
         |    - type: chemspider
         |      name: chemspider
         |      options: {}
         |""".stripMargin)
    // injected deterministic clock → pinnable ts_ms values
    var tick = 0L
    val rl = new graft.report.RunLog(s"$dir/out/run-log.jsonl", () => { tick += 1; tick })
    Main.runIngestion(spark, job, transport, Some(rl))
    Main.runIngestion(spark, job, transport, Some(rl)) // rerun → skip short-circuit

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = Files.readAllLines(Paths.get(s"$dir/out/run-log.jsonl"))
    val events = new scala.collection.mutable.ArrayBuffer[Map[String, String]]
    lines.forEach { l =>
      val n = mapper.readTree(l)
      val it = n.properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      events += b.result()
    }
    // the http rerun re-enters its per-page checkpoint loop (start +
    // complete with zero fetches) rather than the file-source skip path
    assert(events.map(_("event")).toSeq === Seq(
      "job_start", "source_start", "source_complete", "job_complete",
      "job_start", "source_start", "source_complete", "job_complete"))
    // one line per event, monotone injected timestamps
    assert(events.map(_("ts_ms").toLong).toSeq === (1L to 8L))
    val complete = events(2)
    assert(complete("source") === "chemspider" && complete("type") === "chemspider")
    assert(complete("records") === "3" && complete("completed") === "true")
    assert(complete("phase") === "ingest" && complete("duration_ms").toLong >= 0)
    assert(events(3)("total_records") === "3")
    // the rerun's http short-circuit reports zero new records
    assert(events(6)("records") === "0" && events(6)("completed") === "true")
  }

  test("run log stays valid JSON-lines under concurrent sources with a failure") {
    // three sources on a concurrency-3 pool, one dead on arrival (its
    // HTTP endpoint answers terminal 503): every source must settle
    // before job_complete, the failed one must log source_failed, the
    // healthy ones must keep their completed work and report line, and
    // the interleaved appends must all stay parseable JSON objects.
    val dir = tmpDir("runlog_conc")
    Files.writeString(Paths.get(s"$dir/a.tsv"), "C\tZINC1\nCC\tZINC2\n")
    Files.writeString(Paths.get(s"$dir/b.tsv"), "CCC\tZINC3\n")
    val job = JobConfig.parse(
      s"""job:
         |  output_dir: $dir/out
         |  checkpoint_dir: $dir/cp
         |  concurrency: 3
         |  compress_output: false
         |  sources:
         |    - type: delimited
         |      name: zincA
         |      options: {paths: $dir/a.tsv, delimiter: "\\t"}
         |    - type: delimited
         |      name: zincB
         |      options: {paths: $dir/b.tsv, delimiter: "\\t"}
         |    - type: chemspider
         |      name: deadsource
         |      options: {}
         |""".stripMargin)
    val transport: RetryingHttp.Transport = (_, _) => (503, "unavailable")
    val rl = new graft.report.RunLog(s"$dir/out/run-log.jsonl")
    val failure = intercept[Exception](
      Main.runIngestion(spark, job, transport, Some(rl)))
    def rootCause(t: Throwable): Throwable =
      Option(t.getCause).filter(_ ne t).map(rootCause).getOrElse(t)
    assert(rootCause(failure).getMessage.contains("HTTP 503"), failure)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = Files.readAllLines(Paths.get(s"$dir/out/run-log.jsonl"))
    val events = new scala.collection.mutable.ArrayBuffer[Map[String, String]]
    lines.forEach { l =>
      val n = mapper.readTree(l) // throws on a torn/interleaved line
      assert(n.isObject, s"non-object log line: $l")
      val it = n.properties().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      events += b.result()
    }
    val names = events.map(_("event")).toSeq
    assert(names.head === "job_start" && names.last === "job_complete",
      s"job events must bracket the run: $names")
    val failed = events.filter(_("event") == "source_failed")
    assert(failed.map(_("source")).toSeq === Seq("deadsource"))
    assert(failed.head("error").contains("HTTP 503"))
    Seq("zincA", "zincB").foreach { src =>
      assert(events.exists(e => e("event") == "source_complete" && e("source") == src),
        s"$src must settle with source_complete before job_complete: $names")
    }
    val complete = events.last
    assert(complete("n_failed") === "1" && complete("n_sources") === "3")
    assert(complete("total_records") === "3", "healthy sources' records survive the failure")
    // the report still carries the two healthy sources
    val report = Files.readString(Paths.get(s"$dir/out/raw-data-report.md"))
    assert(report.contains("zincA") && report.contains("zincB"), report)
  }

  test("report: byte humanization and empty-run message") {
    assert(Report.formatBytes(512) === "512 B")
    assert(Report.formatBytes(2048) === "2.00 KB")
    assert(Report.formatBytes(5L * 1024 * 1024 * 1024) === "5.00 GB")
    assert(Report.render(Nil).contains("No sources were executed."))
  }

  test("provenance: records carry source + config hash + run instant; config edits change the hash") {
    val dir = tmpDir("prov_e2e")
    Files.writeString(Paths.get(s"$dir/data.tsv"), "C\tZINC1\nCC\tZINC2\n")
    def yaml(batch: Int) =
      s"""job:
         |  output_dir: $dir/out$batch
         |  checkpoint_dir: $dir/cp$batch
         |  batch_size: $batch
         |  compress_output: false
         |  sources:
         |    - type: delimited
         |      name: zinc
         |      options: {paths: $dir/data.tsv, delimiter: "\\t"}
         |""".stripMargin
    val job = JobConfig.parse(yaml(10))
    assert(job.configHash.length === 32)
    val t0 = java.time.Instant.parse("2026-08-13T12:00:00Z")
    Main.runIngestion(spark, job, now = t0)
    val back = spark.read.json(s"$dir/out10/zinc/*.jsonl")
    val meta = back.selectExpr(
      "metadata._prov_source", "metadata._prov_config_hash",
      "metadata._prov_ingested_at").distinct().collect()
    // every record of the run carries ONE identical stamp
    assert(meta.length === 1)
    assert(meta.head.getString(0) === "zinc")
    assert(meta.head.getString(1) === job.configHash)
    assert(meta.head.getString(2) === "2026-08-13T12:00:00Z")
    // the report surfaces the same audit identity
    val report = Files.readString(Paths.get(s"$dir/out10/raw-data-report.md"))
    assert(report.contains(s"Config hash: ${job.configHash}"), report)
    // an edited config (any byte) is a different identity
    val job2 = JobConfig.parse(yaml(11))
    assert(job2.configHash !== job.configHash)
    Main.runIngestion(spark, job2, now = t0)
    val h2 = spark.read.json(s"$dir/out11/zinc/*.jsonl")
      .selectExpr("metadata._prov_config_hash").distinct().collect()
    assert(h2.map(_.getString(0)).toSeq === Seq(job2.configHash))
  }

  test("report: descriptor-distribution section golden") {
    val rows = Seq(
      ("zinc", "mw", 75L, 12L),
      ("pubchem", "logp", -1L, 3L),
      ("pubchem", "mw", 50L, 7L))
    val got = Report.descriptorSection(rows)
    val want =
      """## Descriptor distributions
        |
        || source | metric | bucket | molecules |
        || --- | --- | --- | --- |
        || pubchem | logp | -1 | 3 |
        || pubchem | mw | 50 | 7 |
        || zinc | mw | 75 | 12 |
        |""".stripMargin
    assert(got === want)
    assert(Report.descriptorSection(Nil).contains("No descriptor data."))
  }
}
