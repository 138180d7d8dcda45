package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

import scala.collection.mutable.ArrayBuffer

/** The one recursive parquet-file lister. It walks `listStatus`, not
  * `FileSystem.listFiles(dir, true)`: on the local FS without Hadoop
  * native IO, every `LocatedFileStatus` that `listFiles` builds loads
  * its permissions by forking `ls -ld`, once per file, while a plain
  * `listStatus` entry loads them only when asked.
  */
object ParquetListing {

  /** Every `*.parquet` file under `dir`, at any depth, in listing order.
    * The list is complete before it returns, so a caller may delete
    * what it lists.
    */
  def under(fs: FileSystem, dir: Path): Seq[Path] = {
    val out = ArrayBuffer.empty[Path]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) out += st.getPath
    }
    walk(dir)
    out.toSeq
  }
}
