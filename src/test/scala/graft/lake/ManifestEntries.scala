package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets

/** Test-only manifest surgery: rewrite every manifest entry of a
  * table's current snapshot through `fn`, in place. The fields specs
  * strip are all additive, so a stripped entry is exactly what an
  * older writer produced.
  */
object ManifestEntries {
  private implicit val fmts: org.json4s.Formats = DefaultFormats

  def rewrite(spark: SparkSession, t: LakehouseTable, dropStatsHeader: Boolean = false)(
      fn: DataFile => DataFile): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = t.tableDir.getFileSystem(conf)
    val log = new SnapshotLog(t.tableDir, conf)
    t.metadata.currentSnapshot.foreach { snap =>
      log.readManifestList(snap).foreach { ref =>
        val p = new Path(t.tableDir, ref.path)
        val in = fs.open(p)
        val data =
          try Serialization.read[ManifestData](
            new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
          finally in.close()
        val stripped = data.copy(files = data.files.map(fn),
          statsCols = if (dropStatsHeader) None else data.statsCols)
        val out = fs.create(p, true)
        try out.write(Serialization.writePretty(stripped).getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }
    }
    SnapshotLog.clearPlanningCache()
  }
}
