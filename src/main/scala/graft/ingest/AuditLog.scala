package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.Serialization

import scala.util.control.NonFatal

/** Run audit trail — the reference's `audit_log.json` array of run
  * summaries (`/root/reference/lakehouse_pipeline.py:70, 97-107,
  * 289-297, 407-417`): run id, per-table append/reject counts, files
  * processed/skipped, quality issues, and wall time.
  *
  * Stored one-file-per-run under `<name>.d/run-{seq}.json` instead of
  * the reference's read-modify-write of one growing array: an append
  * writes O(1) (the new record only), never re-serializing history —
  * the same fix the snapshot log got for its manifests. readAll()
  * replays files in sequence order; a torn file from a crashed writer
  * fails to parse and is skipped with a WARN naming it (the run it
  * described didn't finish auditing anyway). Single writer per
  * warehouse (pipeline lock).
  */
final case class TableAudit(
    table: String,
    rowsAppended: Long,
    rowsRejected: Long,
    filesProcessed: Int,
    filesSkipped: Int,
    qualityIssues: Seq[String]
)

final case class RunSummary(
    runId: String,
    startedAtIso: String,
    finishedAtIso: String,
    durationSecs: Double,
    tables: Seq[TableAudit],
    totalRowsAppended: Long,
    errors: Seq[String]
)

final class AuditLog(auditFile: Path, fs: FileSystem) {
  private implicit val fmts: Formats = DefaultFormats
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val runDir = new Path(
    auditFile.getParent, auditFile.getName.stripSuffix(".json") + ".d")

  private def runFiles(): Seq[Path] =
    if (!fs.exists(runDir)) Nil
    else fs.listStatus(runDir).map(_.getPath)
      .filter(p => p.getName.startsWith("run-") && p.getName.endsWith(".json"))
      .sortBy(_.getName).toSeq

  def readAll(): Seq[RunSummary] =
    runFiles().flatMap { p =>
      val in = new java.io.InputStreamReader(fs.open(p), java.nio.charset.StandardCharsets.UTF_8)
      try Some(Serialization.read[RunSummary](in))
      catch {
        case NonFatal(e) => // torn write from a crashed run
          log.warn(s"audit: skipping unreadable run file $p (${e.getMessage})")
          None
      }
      finally in.close()
    }

  def append(run: RunSummary): Unit = {
    fs.mkdirs(runDir)
    val next = runFiles().map(_.getName.stripPrefix("run-").stripSuffix(".json"))
      .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(-1L) + 1L
    val out = fs.create(new Path(runDir, f"run-$next%08d.json"), false)
    try out.write(Serialization.writePretty(run)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
