package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's native expressions with the
  * SQL function registry, so `spark.sql("SELECT dot_product(a, b) ...")`
  * works next to the Column API. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or via [[GraftExtensions.register]] on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.expressions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // SQL-catalog read path: expand graft relations into the native
    // merge-on-read-aware plan (see graft.sql.GraftRelationExpansion)
    ext.injectPostHocResolutionRule(session => graft.sql.GraftRelationExpansion(session))
    // a point lookup whose scan is one task reads on the driver, with
    // no Spark job (see graft.sql.InlinePointRead)
    ext.injectPreCBORule(session => graft.sql.InlinePointRead(session))
    // a scan Spark packs into one task plans as one stage, with no
    // exchange above it (see graft.sql.OneTaskScan)
    ext.injectPlannerStrategy(session => graft.sql.OneTaskScan(session))
    // the DSv2 metadata-aggregate answer collects on the driver
    ext.injectPlannerStrategy(_ => graft.sql.MetadataAggLocalScan)
  }
}

object GraftExtensions {

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal integer")
    e.eval().asInstanceOf[Number].intValue
  }

  private val expressions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_product",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product takes exactly 2 arguments")
        DotProduct(args.head, args(1))
      }),
    ("lsh_buckets",
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "lsh_buckets takes (vec, numPlanes, numTables, dims)")
        LshBuckets(args.head,
          litInt(args(1), "numPlanes"), litInt(args(2), "numTables"), litInt(args(3), "dims"))
      }),
    ("poly_hash",
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "poly_hash takes exactly 1 argument")
        PolyHash(args.head)
      }),
    // the register words of Spark's own approx_count_distinct as a
    // BINARY value (round 18 — the write-side half of the
    // `write.ndv-columns` metadata pushdown, and a user-facing sketch
    // surface: mergeable NDV per group/day/shard)
    ("graft_hll_words",
      new ExpressionInfo(classOf[HllppWords].getName, "graft_hll_words"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_hll_words takes (col, precision)")
        // bare AggregateFunction — the analyzer wraps it into an
        // AggregateExpression like every built-in aggregate builder
        HllppWords(args.head, litInt(args(1), "precision"))
      })
  )

  /** Register on an already-built session (the driver owns session
    * construction in this harness, so extensions can't always be
    * injected at build time).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    expressions.foreach { case (name, info, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }
}
