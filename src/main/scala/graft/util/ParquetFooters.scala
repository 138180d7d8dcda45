package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile

/** The one way the engine opens a parquet file for its footer or its
  * blooms. `ParquetFileReader.open(InputFile)` builds its read options
  * over a fresh Hadoop `Configuration`, which re-parses
  * `core-default.xml` and `core-site.xml` from the classpath on every
  * call (12–20 ms per open with Spark's jars on the classpath, against
  * under 1 ms here). These options wrap the caller's already-loaded
  * conf instead.
  */
object ParquetFooters {

  /** Read options over `conf` itself: no new `Configuration`. */
  def readOptions(conf: Configuration): ParquetReadOptions =
    HadoopReadOptions.builder(conf).build()

  /** A reader over `path`; the caller closes it. */
  def open(path: Path, conf: Configuration): ParquetFileReader =
    open(HadoopInputFile.fromPath(path, conf), conf)

  /** A reader over an already-stat'ed file; the caller closes it. */
  def open(file: InputFile, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(file, readOptions(conf))

  /** The file's footer. */
  def footer(path: Path, conf: Configuration): ParquetMetadata = {
    val in = open(path, conf)
    try in.getFooter finally in.close()
  }
}
