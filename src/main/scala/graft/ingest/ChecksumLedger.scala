package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.Serialization

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.util.control.NonFatal

/** Exactly-once file ingestion ledger — the reference's
  * `{file_path: md5}` map (`/root/reference/lakehouse_pipeline.py:71,
  * 110-128, 352-357`): a file is skipped when its checksum is unchanged
  * and re-ingested when the bytes changed (which Spark's streaming file
  * source alone can't express — it ignores modified files; SURVEY.md
  * §7.5 item 6). Checksums stream in 8 KiB chunks like the reference
  * (`:126`).
  *
  * Storage is SEGMENTED JSONL under `<name>.d/`: each persist() writes
  * one new segment holding only the entries recorded since the last
  * persist — O(delta), where the reference (and rounds 1-3) rewrote the
  * full map every time, O(ledger) per persist and quadratic over a
  * table's life. Loads replay segments in name order with last-wins
  * merge; a torn trailing line from a crashed writer is skipped (every
  * complete line is self-contained JSON). When the segment count passes
  * `compactThreshold`, persist() folds everything into one segment
  * named AFTER the old ones and then deletes them — a crash between
  * fold and deletes replays old-then-merged, which last-wins resolves
  * to the same state. Single writer per warehouse (the pipeline lock),
  * any number of readers.
  */
final class ChecksumLedger(ledgerBase: Path, fs: FileSystem, compactThreshold: Int = 8) {
  private implicit val fmts: Formats = DefaultFormats
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val segDir = new Path(
    ledgerBase.getParent, ledgerBase.getName.stripSuffix(".json") + ".d")
  /** Unparseable non-torn-tail lines seen at load — observable evidence
    * of mid-segment corruption (each one is also logged at WARN).
    */
  @volatile var corruptLinesAtLoad: Int = 0
  private var entries: Map[String, String] = load()
  private var dirty: Map[String, String] = Map.empty

  private def segments(): Seq[Path] =
    if (!fs.exists(segDir)) Nil
    else fs.listStatus(segDir).map(_.getPath)
      .filter(p => p.getName.startsWith("seg-") && p.getName.endsWith(".jsonl"))
      .sortBy(_.getName).toSeq

  /** Replays segments in name order with last-wins merge. A parse
    * failure is TOLERATED only where a crashed writer can produce one:
    * the final line of ANY segment (writes are sequential, so a torn
    * record can only be segment-final — and once the restarted process
    * appends a NEW segment, the old crash's torn line still sits at the
    * END of its own segment, so it must stay tolerated forever, not be
    * re-classified as bit rot on the next load). A bad line anywhere
    * else is bit rot / truncation of already-committed history;
    * swallowing it would silently turn "skip already-ingested files"
    * into "re-ingest everything those lines covered", so it is surfaced
    * as a warning instead. Re-ingestion stays harmless (checksum +
    * dedup make the re-work a no-op) but now observable.
    */
  private def load(): Map[String, String] = {
    var m = Map.empty[String, String]
    segments().foreach { p =>
      val in = new BufferedReader(new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
      try {
        var line = in.readLine()
        var lineNo = 0
        while (line != null) {
          lineNo += 1
          val next = in.readLine()
          try {
            val rec = Serialization.read[Map[String, String]](line)
            for (f <- rec.get("f"); s <- rec.get("md5")) m += (f -> s)
          } catch {
            case NonFatal(_) if next == null =>
              () // torn segment tail from a crashed writer — expected, skip silently
            case NonFatal(_) =>
              corruptLinesAtLoad += 1
              log.warn(
                s"ledger corruption: unparseable line $lineNo of segment $p " +
                  "(not a torn tail); files it covered will be re-ingested")
          }
          line = next
        }
      } finally in.close()
    }
    m
  }

  private def nextSegPath(): Path = {
    val next = segments().map(_.getName.stripPrefix("seg-").stripSuffix(".jsonl"))
      .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(-1L) + 1L
    new Path(segDir, f"seg-$next%08d.jsonl")
  }

  private def writeSegment(p: Path, recs: Map[String, String]): Unit = {
    val out = fs.create(p, false)
    try recs.foreach { case (f, s) =>
      out.write((Serialization.write(Map("f" -> f, "md5" -> s)) + "\n")
        .getBytes(StandardCharsets.UTF_8))
    } finally out.close()
  }

  def checksum(file: Path): String = {
    val md = MessageDigest.getInstance("MD5")
    val in = fs.open(file)
    try {
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** True when the file's current bytes were already ingested. */
  def isUnchanged(file: Path, sum: String): Boolean = synchronized {
    entries.get(file.toString).contains(sum)
  }

  /** True when the ledger has ANY entry for the file (regardless of
    * whether the bytes changed since) — the modified-file sweep uses
    * this to restrict itself to files already processed once.
    */
  def isKnown(file: Path): Boolean = synchronized {
    entries.contains(file.toString)
  }

  def record(file: Path, sum: String): Unit = synchronized {
    entries += (file.toString -> sum)
    dirty += (file.toString -> sum)
  }

  /** Write entries recorded since the last persist as one new segment
    * (no-op when nothing changed); fold all segments into one when the
    * count passes the threshold.
    */
  def persist(): Unit = synchronized {
    val segs = segments()
    if (dirty.isEmpty && segs.size <= compactThreshold) return
    fs.mkdirs(segDir)
    if (segs.size >= compactThreshold) {
      val merged = nextSegPath()
      writeSegment(merged, entries)
      segs.foreach(fs.delete(_, false))
    } else {
      writeSegment(nextSegPath(), dirty)
    }
    dirty = Map.empty
  }

  def size: Int = synchronized(entries.size)
}
