package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd SimHash over an `array<string>` shingle column: ONE pass per
  * row hashes each shingle once (`sid = pmod(xxhash64(shingle), p)`, seed
  * 42 — the same hashing as [[MinHashSignature]] and the exploded
  * pipeline) and accumulates all `bits` ±1 parity votes
  * `((sid + aOff_b)·mult_b) mod p mod 2`, sign-packing the result into
  * one long.
  *
  * This is the map-side replacement for the explode → groupBy(doc_id) →
  * per-bit conditional-sum fingerprint build (`ext.Dedup.simHashFrom`
  * over xxhash64 sids): the exploded form shuffles one row per
  * (doc, shingle) — corpus-token-scale traffic — while this expression
  * keeps the whole fingerprint inside the scan projection, so a SimHash
  * fingerprint pass is a shuffle-free scan at any corpus size (and the
  * d23-style hamming band join becomes the FIRST exchange of a
  * simhash dedup). The vote constants duplicate
  * `ext.Dedup.simAOff/simMult` literally (same device as
  * [[MinHashSignature]]'s affine coefficients); SimHashExprSpec pins
  * bit-identity against the exploded build, so drift is impossible to
  * miss.
  *
  * An empty array yields 0L (every vote sum is 0, no bit set) — callers
  * filter empty docs, same as the exploded form where they never reach
  * the groupBy. Null elements are skipped in both eval paths.
  */
case class SimHashSignature(child: Expression, bits: Int, p: Long)
    extends UnaryExpression {

  // 64 packs the full long: bits 63 (and 62) make the fingerprint
  // NEGATIVE — fine for hamming work (xor/bit_count are two's-complement
  // identical in Spark and DuckDB) but callers that need a positive
  // value must stay ≤ 62
  require(bits > 0 && bits <= 64, s"need 0 < bits <= 64, got $bits")
  require(p > 1, s"need p > 1, got $p")
  // (sid + aOff)·mult must not overflow: sid < p
  require(p < Long.MaxValue / (2605053L + 104729L * bits) - 131L * bits - 7,
    s"p=$p too large for overflow-free voting with bits=$bits")

  private val aOff: Array[Long] = Array.tabulate(bits)(b => 7L + 131L * b)
  private val mult: Array[Long] = Array.tabulate(bits)(b => 2605053L + 104729L * b)

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Long](bits)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
        val sid = ((h % p) + p) % p
        var b = 0
        while (b < bits) {
          if (((sid + aOff(b)) * mult(b) % p) % 2 == 1) votes(b) += 1
          else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var packed = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) packed |= 1L << b
      b += 1
    }
    packed
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val aRef = ctx.addReferenceObj("simhashA", aOff, "long[]")
      val mRef = ctx.addReferenceObj("simhashM", mult, "long[]")
      val votes = ctx.freshName("votes")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val sid = ctx.freshName("sid")
      val packed = ctx.freshName("packed")
      val xxh = classOf[XXH64].getName
      s"""
         |final long[] $votes = new long[$bits];
         |for (int $j = 0; $j < $arr.numElements(); $j++) {
         |  if ($arr.isNullAt($j)) continue;
         |  final long $h = $xxh.hashUTF8String($arr.getUTF8String($j), 42L);
         |  final long $sid = (($h % ${p}L) + ${p}L) % ${p}L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    if ((($sid + $aRef[$b]) * $mRef[$b] % ${p}L) % 2 == 1) $votes[$b]++;
         |    else $votes[$b]--;
         |  }
         |}
         |long $packed = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if ($votes[$b] > 0) $packed |= 1L << $b;
         |}
         |${ev.value} = $packed;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash {
  import org.apache.spark.sql.{Column, GraftColumn}

  /** The one `simhash_sig(shingles, bits, p)` SQL function builder
    * ([[SqlFunctions]]); bits and p must be
    * foldable integral literals — same guard contract as
    * [[MinHash.builder]]. */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"simhash_sig(shingles, bits, p) takes 3 arguments, got ${exprs.length}")
    def intArg(e: Expression, name: String): Long = {
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"simhash_sig requires a foldable integer literal for $name, " +
            s"got the non-foldable expression ${e.sql}")
      e.eval() match {
        case i: Int => i.toLong
        case l: Long => l
        case s: Short => s.toLong
        case b: Byte => b.toLong
        case other => throw new IllegalArgumentException(
          s"simhash_sig requires an integer literal for $name, " +
            s"got ${if (other == null) "NULL" else other} of type ${e.dataType.catalogString}")
      }
    }
    SimHashSignature(exprs(0), intArg(exprs(1), "bits").toInt, intArg(exprs(2), "p"))
  }

  /** Column API for [[SimHashSignature]] (see [[GraftColumn]]). */
  def simhashSig(shingles: Column, bits: Int, p: Long): Column =
    GraftColumn(SimHashSignature(GraftColumn.expr(shingles), bits, p))
}
