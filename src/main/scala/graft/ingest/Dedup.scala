package graft.ingest

import graft.lake.LakehouseTable
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Unbounded-history deduplication against the table's full live data —
  * the reference's `deduplicate`
  * (`/root/reference/lakehouse_pipeline.py:204-227`), whose PyArrow
  * `unique`→`is_in`→`invert` chain materializes every existing key in
  * memory. At 100 TB that is the design-breaking step, so we re-express
  * it Spark-first:
  *
  *   1. Prune the existing side to the batch's key range `[lo, hi]`:
  *      the manifest's per-file key stats skip every existing file
  *      outside it, so history outside the batch's time range is never
  *      read. The range comes from the source file's parquet footer when
  *      the caller has one ([[footerKeyBounds]]), else from one tiny agg
  *      on the batch.
  *   2. When the table records manifest key blooms
  *      (`write.key-bloom.bits`), prune the WITHIN-bounds files too:
  *      a distributed probe of the batch's keys against the broadcast
  *      per-file blooms drops every candidate file that provably
  *      shares no key with the batch, before it is ever opened
  *      ([[LakehouseTable.readRangeForKeys]] — SURVEY §7.5 /
  *      VERDICT r10 #6). Zero false-negative skips by construction;
  *      tables without blooms degrade to step 1 exactly.
  *   3. LEFT ANTI join on the key. Catalyst/AQE picks broadcast-anti when
  *      the pruned existing key set is small and shuffled-hash otherwise;
  *      nothing is ever collected to the driver.
  */
object Dedup {

  /** @param keyBounds `[lo, hi]` epoch micros covering every key of
    *   `newDf` (see [[footerKeyBounds]]); None computes them from the batch
    */
  def dropExisting(
      newDf: DataFrame, table: LakehouseTable, key: String,
      keyBounds: Option[(Long, Long)] = None): DataFrame = {
    val meta = table.metadata
    if (meta.currentSnapshot.isEmpty) return newDf

    // [lo, hi] of the key in epoch micros: the manifest's per-file
    // footer stats then skip every existing file outside that range
    // BEFORE Spark plans the scan (finer than the year-partition
    // pruning, which it subsumes), and the manifest blooms skip
    // within-range files sharing no key with the batch
    val pruned = if (meta.partitionTransform.contains(key)) {
      val keyUs = unix_micros(col(key).cast(TimestampType))
      val (lo, hi) = keyBounds.getOrElse {
        val row = newDf.agg(min(keyUs), max(keyUs)).head()
        (row.get(0), row.get(1))
      }
      (lo, hi) match {
        case (l: Long, h: Long) =>
          table.readRangeForKeys(l, h, newDf.select(keyUs.as("_ku")))
        case _ => table.read() // batch key entirely null: nothing to prune on
      }
    } else table.read()
    newDf.join(pruned.select(col(key)), Seq(key), "left_anti")
  }

  /** `[lo, hi]` of the time column `key` of a source file in epoch
    * micros, from its parquet footer, mapped the way `Normalize` maps
    * the column ([[Normalize.footerMicros]]). None when a chunk with
    * values lacks min/max, for a type `footerMicros` does not map, and
    * for files marked `org.apache.spark.legacyDateTime`, whose values
    * Spark may rebase on read.
    */
  def footerKeyBounds(footer: ParquetMetadata, key: String): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val fmd = footer.getFileMetaData
    val toMicros = fmd.getSchema.getFields.asScala
      .find(f => f.getName == key && f.isPrimitive && !f.isRepetition(Repetition.REPEATED))
      .filterNot(_ => fmd.getKeyValueMetaData.containsKey("org.apache.spark.legacyDateTime"))
      .flatMap(f => Normalize.footerMicros(f.asPrimitiveType))
    for {
      f <- toMicros
      chunks <- QualityChecks.footerChunks(footer, key)
      held = chunks.filter(QualityChecks.holdsValues)
      if held.nonEmpty && held.forall(_.getStatistics.hasNonNullValue)
      lo = held.map(_.getStatistics.genericGetMin.asInstanceOf[java.lang.Long].longValue).min
      hi = held.map(_.getStatistics.genericGetMax.asInstanceOf[java.lang.Long].longValue).max
      // a millis value past the micros range cannot be read either
      bounds <- scala.util.Try((f(lo), f(hi))).toOption
    } yield bounds
  }

  /** Within-batch exact dedup on a key (keep an arbitrary single row per
    * key, matching dropDuplicates semantics). The reference does NOT
    * dedup within a batch (SURVEY.md §2.3) — exposed separately so the
    * pipeline can opt in.
    */
  def withinBatch(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)
}
