package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup
import graft.functions.SimHash

/** The codegen'd map-side SimHash fingerprint (d25): bit parity with the
  * exploded xxhash64 vote build (d08), interpreted/codegen agreement,
  * null handling, and the plan guarantee — a fingerprint pass with NO
  * exchange at all.
  */
class SimHashExprSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("simhash_sig is bit-identical to the exploded xxhash64 vote build") {
    val corpus = Dedup.corpusWithCopies(Tables.documents(spark, sf0001))
    val exploded = Dedup.simHashScale(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val mapSide = Dedup.d25SimHashMapSide(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(mapSide.keySet == exploded.keySet)
    mapSide.foreach { case (id, h) =>
      assert(h == exploded(id), s"fingerprint mismatch for doc $id")
    }
    assert(mapSide.nonEmpty)
  }

  test("interpreted eval agrees with codegen; nulls skipped; empty array packs 0") {
    val df = Seq(
      (1L, Seq.empty[Option[String]]),
      (2L, Seq(Option("a b c"))),
      (3L, Seq(Option("a b c"), None, Option("b c d"))),
      (4L, Seq(Option("a b c"), Option("b c d")))
    ).toDF("doc_id", "shingles")
    val got = df.select($"doc_id",
        SimHash.simhashSig($"shingles", Dedup.SimBits, Dedup.P).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 0L, "empty array has no winning bit votes")
    assert(got(3L) == got(4L), "null element must be skipped, not voted")
    // independent recompute of doc 2's single-shingle fingerprint
    val sid = df.sparkSession.range(1)
      .select(pmod(xxhash64(lit("a b c")), lit(Dedup.P))).as[Long].head()
    val expect2 = (0 until Dedup.SimBits).map { b =>
      if (((sid + Dedup.simAOff(b)) * Dedup.simMult(b) % Dedup.P) % 2 == 1) 1L << b
      else 0L
    }.sum
    assert(got(2L) == expect2)
  }

  test("fingerprint pass has NO exchange — the whole build is map-side") {
    val corpus = Dedup.corpusWithCopies(Tables.documents(spark, sf0001))
    val fp = Dedup.shingleArrays(corpus).filter(size($"shingles") > 0)
      .select($"doc_id", SimHash.simhashSig($"shingles", Dedup.SimBits, Dedup.P))
    val exchanges = fp.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"fingerprint build must be shuffle-free:\n${fp.queryExecution.executedPlan}")
  }

  test("builder rejects non-literal and non-integral bits/p with clear errors") {
    graft.functions.SqlFunctions.setup(spark)
    val df = Seq((1L, Seq("a b c"))).toDF("doc_id", "shingles")
    df.createOrReplaceTempView("sh_in")
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT simhash_sig(shingles, doc_id, ${Dedup.P}) FROM sh_in").collect()
    }
    assert(e1.getMessage.contains("simhash_sig"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT simhash_sig(shingles, 2.5, ${Dedup.P}) FROM sh_in").collect()
    }
    assert(e2.getMessage.contains("simhash_sig"), e2.getMessage)
  }
}
