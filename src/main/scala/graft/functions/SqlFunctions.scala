package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The engine's custom SQL functions: the one list both registration
  * paths read — [[setup]] per session ([[graft.Graft.init]]) and
  * [[graft.GraftExtensions]] at session build. The Column APIs build
  * their expressions directly and need neither. */
object SqlFunctions {

  /** (SQL name, implementing expression class, builder). */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[FloatVectorDot], e => FloatVectorDot(e(0), e(1))),
    ("vec_cos", classOf[FloatVectorCosine], e => FloatVectorCosine(e(0), e(1))),
    ("vec_l2sq", classOf[FloatVectorL2], e => FloatVectorL2(e(0), e(1))),
    ("minhash_sig", classOf[MinHashSignature], MinHash.builder),
    ("simhash_sig", classOf[SimHashSignature], SimHash.builder),
    ("bloom_filter_agg", classOf[BloomFilterAggregate], Sketches.bloomAggBuilder),
    ("might_contain", classOf[BloomFilterMightContain], Sketches.mightContainBuilder))

  /** Register every function `spark`'s registry lacks. Idempotent: the
    * builders are stable objects, so first-wins equals last-wins. */
  def setup(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
