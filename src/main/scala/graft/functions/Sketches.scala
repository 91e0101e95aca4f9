package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL surface for Spark's bloom-filter sketch expressions.
  *
  * `BloomFilterAggregate` / `BloomFilterMightContain` are the codegen'd
  * expressions behind Spark's runtime row-level filtering, but they are
  * not exposed in the public FunctionRegistry — [[SqlFunctions]]
  * registers these builders as
  * `bloom_filter_agg(xxhash64(col)[, est_items[, num_bits]])` and
  * `might_contain(bloom, xxhash64(col))` so membership sketches are a
  * first-class library feature (contamination gates, semi-join
  * prefilters). The bloom side of `might_contain` must be a CONSTANT or
  * scalar subquery (the expression's own contract): build the sketch
  * with `bloom_filter_agg`, collect the one binary row, and probe with
  * `lit(bytes)` — the same driver-side sketch hop as
  * `DataFrame.stat.bloomFilter`, a few hundred KB at any corpus size.
  */
object Sketches {

  private[functions] def bloomAggBuilder(exprs: Seq[Expression]): Expression =
    exprs match {
      case Seq(c)       => new BloomFilterAggregate(c)
      case Seq(c, n)    => new BloomFilterAggregate(c, n)
      case Seq(c, n, m) => new BloomFilterAggregate(c, n, m)
      case _ => throw new IllegalArgumentException(
        "bloom_filter_agg takes 1 to 3 arguments")
    }

  private[functions] def mightContainBuilder(exprs: Seq[Expression]): Expression =
    exprs match {
      case Seq(b, v) => BloomFilterMightContain(b, v)
      case _ => throw new IllegalArgumentException(
        "might_contain takes exactly 2 arguments")
    }
}
