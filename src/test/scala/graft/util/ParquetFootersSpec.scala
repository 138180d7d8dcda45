package graft.util

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Footer opens read the caller's conf, not a fresh `Configuration`. */
class ParquetFootersSpec extends SparkSpec {
  import spark.implicits._

  test("a key set only on the caller's conf is visible through the reader's options") {
    val conf = new Configuration(false)
    conf.set("graft.test.footer-key", "from-caller")
    val options = ParquetFooters.readOptions(conf)
    assert(options.getConfiguration.get("graft.test.footer-key") == "from-caller")
    assert(new Configuration().get("graft.test.footer-key") == null)
  }

  test("open and footer read a written file through that conf") {
    val dir = tmpDir("footers")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.mode("overwrite").parquet(dir)
    val file = ParquetListing.under(
      new Path(dir).getFileSystem(spark.sessionState.newHadoopConf()), new Path(dir)).head
    val conf = spark.sessionState.newHadoopConf()
    val in = ParquetFooters.open(file, conf)
    try assert(in.getRecordCount == 2) finally in.close()
    assert(ParquetFooters.footer(file, conf).getFileMetaData.getSchema.getFieldCount == 2)
  }
}
