package graft.lake

/** Test-only parquet footer surgery: rewrite a real (Spark-written)
  * parquet file's thrift footer with a mutation applied — a different
  * `created_by`, doctored column statistics — leaving every data page
  * byte in place (the footer references absolute offsets, so a file
  * whose prefix is unchanged stays readable). This is how the specs
  * manufacture what no in-container writer can produce: an
  * "arrow-written" file whose double statistics EXCLUDE the NaN rows
  * the file actually contains — the exact shape the round-16
  * provenance gate exists to refuse.
  *
  * Layout ground truth (parquet-format): the file ends with
  * `[thrift FileMetaData][4-byte LE length]["PAR1"]`.
  */
object ParquetFooterForge {
  import org.apache.parquet.format.{FileMetaData, Util}

  /** Copy `src` to `dst` with `mutate` applied to the footer. */
  def patch(src: java.nio.file.Path, dst: java.nio.file.Path)(
      mutate: FileMetaData => Unit): Unit = {
    val bytes = java.nio.file.Files.readAllBytes(src)
    require(bytes.length > 12 &&
      new String(bytes, bytes.length - 4, 4, "US-ASCII") == "PAR1",
      s"$src is not a parquet file")
    val len = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val footerStart = bytes.length - 8 - len
    val fmd = Util.readFileMetaData(
      new java.io.ByteArrayInputStream(bytes, footerStart, len))
    mutate(fmd)
    val footerOut = new java.io.ByteArrayOutputStream()
    Util.writeFileMetaData(fmd, footerOut)
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes, 0, footerStart)
    out.write(footerOut.toByteArray)
    out.write(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(footerOut.size()).array())
    out.write("PAR1".getBytes("US-ASCII"))
    if (dst.getParent != null) java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.write(dst, out.toByteArray)
  }

  /** Set the footer's writer identity (e.g. an arrow impersonation). */
  def setCreatedBy(fmd: FileMetaData, createdBy: String): Unit =
    fmd.setCreated_by(createdBy)

  /** Overwrite the double-column `col`'s min/max statistics in every
    * row group — the "spec-compliant foreign writer" shape whose stats
    * exclude NaN rows the pages really hold.
    */
  def setDoubleStats(fmd: FileMetaData, col: String, min: Double, max: Double): Unit = {
    def le(d: Double): Array[Byte] = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d).array()
    import scala.jdk.CollectionConverters._
    var hit = false
    fmd.getRow_groups.asScala.foreach { rg =>
      rg.getColumns.asScala.foreach { cc =>
        val md = cc.getMeta_data
        if (md != null && md.getPath_in_schema.asScala.mkString(".") == col) {
          val st = Option(md.getStatistics)
            .getOrElse { val s = new org.apache.parquet.format.Statistics(); md.setStatistics(s); s }
          st.setMin_value(le(min)); st.setMax_value(le(max))
          st.setMin(le(min)); st.setMax(le(max))
          hit = true
        }
      }
    }
    require(hit, s"no column chunk named '$col' in the footer")
  }

  /** Remove column `col`'s statistics (min/max and null count) from
    * every row group — the footer of a writer that records none.
    */
  def dropStats(fmd: FileMetaData, col: String): Unit = {
    import scala.jdk.CollectionConverters._
    var hit = false
    fmd.getRow_groups.asScala.foreach { rg =>
      rg.getColumns.asScala.foreach { cc =>
        val md = cc.getMeta_data
        if (md != null && md.getPath_in_schema.asScala.mkString(".") == col) {
          md.unsetStatistics()
          hit = true
        }
      }
    }
    require(hit || fmd.getRow_groups.isEmpty, s"no column chunk named '$col' in the footer")
  }
}
