package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Hive-style partition values of `leafDirs` under `basePath`, parsed as
  * `spark.read.parquet(files)` with a `basePath` option and a user schema
  * parses them (`InMemoryFileIndex`'s partition inference). Lives in this
  * package because `PartitioningUtils.parsePartitions` is
  * `private[datasources]`.
  */
object GraftPartitionParsing {
  def apply(session: SparkSession, leafDirs: Seq[Path], basePath: Path, schema: StructType): PartitionSpec = {
    val conf = session.sessionState.conf
    PartitioningUtils.parsePartitions(
      leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(basePath),
      userSpecifiedSchema = Some(schema),
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths)
  }
}
