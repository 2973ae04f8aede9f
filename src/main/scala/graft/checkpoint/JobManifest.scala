package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.sinks.NdjsonSink

/** Per-source job checkpoint with the reference's resume contract
  * (S19–S21): `{cursor, batch_index, completed}` persisted as JSON with
  * an atomic tmp+rename commit. Reference:
  * /root/reference/src/open_molecule_data_pipeline/ingestion/
  * common.py:38-75 (model + atomic store), runner.py:203-215
  * (skip-completed short-circuit).
  *
  * Batch jobs use file-level idempotence (skip a completed source
  * outright; within a source, Spark's commit protocol makes the write
  * all-or-nothing), which upgrades the reference's at-least-once
  * write-batch-then-checkpoint ordering (runner.py:168-177) to
  * effectively-once.
  */
object JobManifest {

  final case class Checkpoint(
      cursor: Map[String, String],
      batchIndex: Int,
      completed: Boolean)

  private def fs(path: Path, conf: Configuration): FileSystem =
    path.getFileSystem(conf)

  private def pathFor(root: String, source: String) =
    new Path(s"$root/$source.json")

  def load(root: String, source: String,
      conf: Configuration = new Configuration()): Option[Checkpoint] = {
    val p = pathFor(root, source)
    val f = fs(p, conf)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      parse(new String(bytes, StandardCharsets.UTF_8))
    }
  }

  def store(root: String, source: String, cp: Checkpoint,
      conf: Configuration = new Configuration()): Unit = {
    val p = pathFor(root, source)
    val f = fs(p, conf)
    val tmp = new Path(p.getParent, s".${source}.json.tmp")
    val bytes = render(cp).getBytes(StandardCharsets.UTF_8)
    NdjsonSink.localFile(f, p) match {
      case Some(file) =>
        // plain file calls start no process (Hadoop's local file system
        // runs `chmod` and `readlink` for a create and a FileContext
        // rename) and write no `.crc` sidecar; any sidecar an older run
        // left next to the checkpoint goes before the commit, so none
        // ever sits next to the new contents. rename(2) is the atomic
        // replace of the old checkpoint.
        val tmpFile = file.resolveSibling(tmp.getName)
        Files.createDirectories(file.getParent)
        Files.write(tmpFile, bytes)
        Seq(tmpFile, file).foreach(x => Files.deleteIfExists(x.resolveSibling(s".${x.getFileName}.crc")))
        Files.move(tmpFile, file, StandardCopyOption.ATOMIC_MOVE)
      case None =>
        f.mkdirs(p.getParent)
        val out = f.create(tmp, true)
        try out.write(bytes) finally out.close()
        // FileContext.rename(OVERWRITE) is the atomic commit: plain
        // FileSystem.rename refuses an existing destination, and a
        // delete-then-rename pair leaves a crash window with NO checkpoint
        // at all (failure would degrade to re-ingestion from startCursor).
        // Object stores (s3a, …) ship no AbstractFileSystem binding, so
        // FileContext is unavailable there — fall back to delete+rename,
        // which loses nothing on those stores (their rename is a
        // copy+delete, not atomic, with or without FileContext). Same
        // fallback Spark's CheckpointFileManager uses.
        val qTmp = f.makeQualified(tmp)
        val qP = f.makeQualified(p)
        try
          org.apache.hadoop.fs.FileContext.getFileContext(qP.toUri, conf)
            .rename(qTmp, qP, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            if (f.exists(qP)) f.delete(qP, false)
            if (!f.rename(qTmp, qP))
              throw new java.io.IOException(s"checkpoint commit failed: $qTmp -> $qP")
        }
    }
  }

  def isCompleted(root: String, source: String,
      conf: Configuration = new Configuration()): Boolean =
    load(root, source, conf).exists(_.completed)

  // -- snapshot / restore-validation (system-plan.md §6 disaster
  // recovery: "periodic snapshotting of checkpoints … to remote
  // storage" + "validation scripts to ensure snapshots are
  // restorable"). Hadoop-FS paths throughout, so the destination can
  // be any configured store (local, hdfs, s3a, …). ---------------------

  /** Copy every source checkpoint under `root` into `destDir`
    * (created if absent). Each file is re-written via the same
    * tmp+atomic-commit protocol as [[store]], so a crashed snapshot
    * never leaves a half-written checkpoint to restore from. Returns
    * (copied, failed), both sorted: `copied` lists only the sources
    * whose checkpoint was actually parsed and stored in `destDir`;
    * `failed` lists sources whose file exists but did not parse. A
    * non-empty `failed` means the snapshot is incomplete — a DR
    * restore from it would silently re-ingest those sources from
    * scratch, so callers must surface it (mirrors the
    * (restorable, corrupt) contract of [[validateSnapshot]]).
    */
  def snapshot(root: String, destDir: String,
      conf: Configuration = new Configuration()): (Seq[String], Seq[String]) = {
    val rootPath = new Path(root)
    val f = fs(rootPath, conf)
    if (!f.exists(rootPath)) return (Seq.empty, Seq.empty)
    val sources = f.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName.stripSuffix(".json"))
      .sorted
    val (copied, failed) = sources.partition { src =>
      load(root, src, conf) match {
        case Some(cp) => store(destDir, src, cp, conf); true
        case None => false
      }
    }
    (copied, failed)
  }

  /** [[validateSnapshot]] variant that also checks completeness
    * against the expected source list: a source that was supposed to
    * be snapshotted but has no file in `dir` is as fatal for DR as a
    * corrupt one, and plain validateSnapshot cannot see it. Returns
    * (restorable, corrupt ++ missing-as-"<name>.json (missing)").
    */
  def validateSnapshot(dir: String, expected: Seq[String],
      conf: Configuration): (Seq[String], Seq[String]) = {
    val (ok, bad) = validateSnapshot(dir, conf)
    val missing = expected.filterNot(ok.contains)
      .map(n => s"$n.json (missing)").sorted
    (ok, bad ++ missing)
  }

  /** Validate that a snapshot directory is restorable: every
    * checkpoint file must parse back into a [[Checkpoint]]. Returns
    * (restorable sources, corrupt file names) — a non-empty second
    * component means the snapshot must not be trusted for recovery.
    */
  def validateSnapshot(dir: String,
      conf: Configuration = new Configuration()): (Seq[String], Seq[String]) = {
    val dirPath = new Path(dir)
    val f = fs(dirPath, conf)
    if (!f.exists(dirPath)) return (Seq.empty, Seq.empty)
    val files = f.listStatus(dirPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
    val (ok, bad) = files.partition { name =>
      load(dir, name.stripSuffix(".json"), conf).isDefined
    }
    (ok.map(_.stripSuffix(".json")), bad)
  }

  def markCompleted(root: String, source: String, batchIndex: Int,
      conf: Configuration = new Configuration()): Unit =
    store(root, source, Checkpoint(Map.empty, batchIndex, completed = true), conf)

  // -- minimal flat-JSON codec (string-valued cursor) --------------------
  def render(cp: Checkpoint): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val cur = cp.cursor.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    s"""{"cursor": $cur, "batch_index": ${cp.batchIndex}, "completed": ${cp.completed}}"""
  }

  def parse(json: String): Option[Checkpoint] = {
    // Jackson ships with Spark; use it rather than hand-rolling a parser.
    try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.readTree(json)
      val cur = Option(node.get("cursor")).map { c =>
        val it = c.properties().iterator()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
      }.getOrElse(Map.empty[String, String])
      Some(Checkpoint(cur,
        Option(node.get("batch_index")).map(_.asInt()).getOrElse(0),
        Option(node.get("completed")).exists(_.asBoolean())))
    } catch { case _: Exception => None }
  }
}
