package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd K-function MinHash signature over an `array<string>` shingle
  * column: ONE pass per row computes `xxhash64` once per shingle and all K
  * affine minima `min_i (sid·a_i + b_i) mod p` where
  * `sid = pmod(xxhash64(shingle), p)`.
  *
  * This is the map-side replacement for the explode → groupBy(doc_id) →
  * K·min() signature build (`ext.Dedup.signatures`): the exploded form
  * shuffles one row per (doc, shingle) — corpus-token-scale traffic — while
  * this expression keeps the whole signature computation inside the scan
  * projection, so the first shuffle of an LSH dedup becomes the (tiny)
  * band self-join. Hashing goes through the same `XXH64.hashUTF8String`
  * (seed 42) as the built-in `xxhash64`, so signatures are bit-identical
  * to the exploded pipeline's (MinHashSpec asserts it).
  *
  * An empty shingle array yields the all-`p` signature (no shingle can
  * produce `p`, since values are mod p): callers filter those out, same as
  * the exploded form where empty docs simply never reach the groupBy.
  * Null elements are skipped — a null is not a shingle — in BOTH eval
  * paths (interpreted and codegen stay bit-identical), so SQL users of
  * the registered function can't NPE on arrays with nulls.
  */
case class MinHashSignature(child: Expression, k: Int, p: Long)
    extends UnaryExpression {

  require(k > 0 && p > 1, s"need k > 0 and prime p > 1, got k=$k p=$p")
  // (sid·a + b) must not overflow a signed long: sid < p
  require(p < (Long.MaxValue / (37L + 101L * k)) - 1,
    s"p=$p too large for overflow-free affine hashing with k=$k")

  private val aCoef: Array[Long] = Array.tabulate(k)(i => 37L + 101L * i)
  private val bCoef: Array[Long] = Array.tabulate(k)(i => 17L + 997L * i)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(p)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
        val sid = ((h % p) + p) % p
        var i = 0
        while (i < k) {
          val v = (sid * aCoef(i) + bCoef(i)) % p
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val aRef = ctx.addReferenceObj("minhashA", aCoef, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bCoef, "long[]")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val sid = ctx.freshName("sid")
      val v = ctx.freshName("v")
      val xxh = classOf[XXH64].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |final long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, ${p}L);
         |for (int $j = 0; $j < $arr.numElements(); $j++) {
         |  if ($arr.isNullAt($j)) continue;
         |  final long $h = $xxh.hashUTF8String($arr.getUTF8String($j), 42L);
         |  final long $sid = (($h % ${p}L) + ${p}L) % ${p}L;
         |  for (int $i = 0; $i < $k; $i++) {
         |    final long $v = ($sid * $aRef[$i] + $bRef[$i]) % ${p}L;
         |    if ($v < $mins[$i]) $mins[$i] = $v;
         |  }
         |}
         |${ev.value} = new $gad($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash {
  import org.apache.spark.sql.{Column, GraftColumn}

  /** The one `minhash_sig(shingles, k, p)` SQL function builder
    * ([[SqlFunctions]]): k and p must be foldable
    * integral literals — a column reference or a null/fractional literal
    * gets a clear analysis-time error instead of the opaque
    * unbound-reference / MatchError an unconditional `eval()` would
    * throw. */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"minhash_sig(shingles, k, p) takes 3 arguments, got ${exprs.length}")
    def intArg(e: Expression, name: String): Long = {
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"minhash_sig requires a foldable integer literal for $name, " +
            s"got the non-foldable expression ${e.sql}")
      e.eval() match {
        case i: Int => i.toLong
        case l: Long => l
        case s: Short => s.toLong
        case b: Byte => b.toLong
        case other => throw new IllegalArgumentException(
          s"minhash_sig requires an integer literal for $name, " +
            s"got ${if (other == null) "NULL" else other} of type ${e.dataType.catalogString}")
      }
    }
    MinHashSignature(exprs(0), intArg(exprs(1), "k").toInt, intArg(exprs(2), "p"))
  }

  /** Column API for [[MinHashSignature]] (see [[GraftColumn]]). */
  def minhashSig(shingles: Column, k: Int, p: Long): Column =
    GraftColumn(MinHashSignature(GraftColumn.expr(shingles), k, p))
}
