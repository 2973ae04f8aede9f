package graft.report

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Ingestion report rendering (S24–S28): per-source summary table +
  * sections, directory statistics, byte humanization, UTC ISO
  * timestamp, and the empty-run message. Same report *contract* as the
  * reference (/root/reference/src/open_molecule_data_pipeline/
  * ingestion/runner.py:317-385) — Markdown, one summary row per source
  * sorted by name, per-source detail sections, humanized byte sizes —
  * but the layout is graft-specific (different header, 6-column table,
  * no comma-grouped numbers): parsers of the reference's exact format
  * need adjusting. Golden lines are pinned in IngestionSpec.
  */
object Report {

  final case class DirectorySummary(directory: String, fileCount: Long, totalBytes: Long)

  final case class SourceSummary(
      name: String,
      sourceType: String,
      completed: Boolean,
      totalBatches: Long,
      batchesWritten: Long,
      recordsWritten: Long,
      output: Option[DirectorySummary],
      downloads: Option[DirectorySummary])

  /** `size/1024^k` with unit selection B..PB, 2 decimals (S27). */
  def formatBytes(size: Long): String = {
    val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
    var v = size.toDouble
    var i = 0
    while (v >= 1024.0 && i < units.length - 1) { v /= 1024.0; i += 1 }
    if (i == 0) s"$size B" else f"$v%.2f ${units(i)}"
  }

  /** File count + byte sum for a directory subtree matching `suffixes`
    * (empty = all files). Driver-side Hadoop FS scan (S25).
    */
  def summarizeDirectory(dir: String, suffixes: Seq[String] = Nil,
      conf: Configuration = new Configuration()): DirectorySummary = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return DirectorySummary(dir, 0, 0)
    // listStatus, not listFiles: a located status loads each file's
    // permissions, which Hadoop's local file system does by starting an
    // `ls -ld` process per file; only names and lengths are read here
    var n = 0L
    var bytes = 0L
    def walk(d: Path): Unit = fs.listStatus(d).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else if (suffixes.isEmpty || suffixes.exists(f.getPath.getName.endsWith)) {
        n += 1; bytes += f.getLen
      }
    }
    walk(p)
    DirectorySummary(dir, n, bytes)
  }

  /** Markdown descriptor-distribution section (system-plan.md:30
    * "descriptor distributions" in the report engine): one histogram
    * row per (source, metric, bucket), sorted for a stable golden.
    * The rows are the q112 aggregate's output — collect()ing it is
    * safe by construction (sources × metrics × bounded buckets).
    */
  def descriptorSection(rows: Seq[(String, String, Long, Long)]): String = {
    val sb = new StringBuilder
    sb.append("## Descriptor distributions\n\n")
    if (rows.isEmpty) {
      sb.append("No descriptor data.\n")
      return sb.result()
    }
    sb.append("| source | metric | bucket | molecules |\n")
    sb.append("| --- | --- | --- | --- |\n")
    rows.sortBy(r => (r._1, r._2, r._3)).foreach { case (src, metric, bucket, n) =>
      sb.append(s"| $src | $metric | $bucket | $n |\n")
    }
    sb.result()
  }

  /** Markdown report; summaries pre-sorted by source name (S26). */
  def render(summaries: Seq[SourceSummary],
      now: Instant = Instant.now(),
      configHash: Option[String] = None): String = {
    val ts = DateTimeFormatter.ISO_INSTANT.format(now.atOffset(ZoneOffset.UTC))
    val sb = new StringBuilder
    sb.append("# Raw Data Report\n\n")
    sb.append(s"Generated: $ts\n\n")
    // audit identity (system-plan.md:32): the md5 of the exact config
    // text this run executed — matches the _prov_config_hash stamped
    // into every record's metadata
    configHash.filter(_.nonEmpty).foreach(h => sb.append(s"Config hash: $h\n\n"))
    if (summaries.isEmpty) {
      sb.append("No sources were executed.\n")
      return sb.result()
    }
    sb.append("| source | type | completed | total batches | batches written | records written |\n")
    sb.append("| --- | --- | --- | --- | --- | --- |\n")
    summaries.sortBy(_.name).foreach { s =>
      val yes = if (s.completed) "yes" else "no"
      sb.append(s"| ${s.name} | ${s.sourceType} | $yes | ${s.totalBatches} | ${s.batchesWritten} | ${s.recordsWritten} |\n")
    }
    summaries.sortBy(_.name).foreach { s =>
      sb.append(s"\n## ${s.name}\n\n")
      s.output.foreach { d =>
        sb.append(s"- output: ${d.directory} (${d.fileCount} files, ${formatBytes(d.totalBytes)})\n")
      }
      s.downloads.foreach { d =>
        sb.append(s"- downloads: ${d.directory} (${d.fileCount} files, ${formatBytes(d.totalBytes)})\n")
      }
    }
    sb.result()
  }

  /** Minimal HTML escaping for text interpolated into [[renderHtml]]
    * (source names and directories are externally-supplied strings).
    */
  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** HTML report (system-plan.md:29 commits the report engine to
    * "Markdown/HTML/PDF"; PDF is a print stylesheet away and out of
    * scope for a headless library). Same data, same S26 source
    * ordering and golden content as [[render]] — the HTML is
    * generated from the identical summaries so the two formats can
    * never drift apart.
    */
  def renderHtml(summaries: Seq[SourceSummary],
      now: Instant = Instant.now(),
      configHash: Option[String] = None): String = {
    val ts = DateTimeFormatter.ISO_INSTANT.format(now.atOffset(ZoneOffset.UTC))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">")
    sb.append("<title>Raw Data Report</title></head><body>\n")
    sb.append("<h1>Raw Data Report</h1>\n")
    sb.append(s"<p>Generated: $ts</p>\n")
    configHash.filter(_.nonEmpty).foreach(h =>
      sb.append(s"<p>Config hash: <code>${esc(h)}</code></p>\n"))
    if (summaries.isEmpty) {
      sb.append("<p>No sources were executed.</p>\n</body></html>\n")
      return sb.result()
    }
    sb.append("<table><thead><tr><th>source</th><th>type</th><th>completed</th>")
    sb.append("<th>total batches</th><th>batches written</th><th>records written</th></tr></thead><tbody>\n")
    summaries.sortBy(_.name).foreach { s =>
      val yes = if (s.completed) "yes" else "no"
      sb.append(s"<tr><td>${esc(s.name)}</td><td>${esc(s.sourceType)}</td><td>$yes</td>")
      sb.append(s"<td>${s.totalBatches}</td><td>${s.batchesWritten}</td><td>${s.recordsWritten}</td></tr>\n")
    }
    sb.append("</tbody></table>\n")
    summaries.sortBy(_.name).foreach { s =>
      sb.append(s"<h2>${esc(s.name)}</h2>\n<ul>\n")
      s.output.foreach { d =>
        sb.append(s"<li>output: ${esc(d.directory)} (${d.fileCount} files, ${formatBytes(d.totalBytes)})</li>\n")
      }
      s.downloads.foreach { d =>
        sb.append(s"<li>downloads: ${esc(d.directory)} (${d.fileCount} files, ${formatBytes(d.totalBytes)})</li>\n")
      }
      sb.append("</ul>\n")
    }
    sb.append("</body></html>\n")
    sb.result()
  }
}
