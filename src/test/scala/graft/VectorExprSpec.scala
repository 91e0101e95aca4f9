package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity
import graft.functions.VectorExpressions

class VectorExprSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("codegen vec_dot is bit-identical to the fold specification") {
    val e = Tables.embeddings(spark, sf0001)
    val pairs = e.select($"vec_id", $"embedding")
      .crossJoin(e.select($"vec_id".as("v2"), $"embedding".as("e2")).limit(3))
    val diffs = pairs.select(
        VectorExpressions.vecDot($"embedding", $"e2").as("fast"),
        Similarity.dotFold($"embedding", $"e2").as("spec"))
      .filter($"fast" =!= $"spec")
    assert(diffs.count() == 0)
  }

  test("fused vec_cos is bit-identical to the composed 3-pass cosine") {
    val e = Tables.embeddings(spark, sf0001)
    val pairs = e.select($"vec_id", $"embedding")
      .crossJoin(e.select($"vec_id".as("v2"), $"embedding".as("e2")).limit(5))
      .filter($"vec_id" =!= $"v2")
    val diffs = pairs.select(
        Similarity.cosine($"embedding", $"e2").as("fused"),
        Similarity.cosineComposed($"embedding", $"e2").as("spec"))
      .filter($"fused" =!= $"spec")
    assert(diffs.count() == 0)
  }

  test("vec_dot registered for SQL and matches Column API") {
    graft.functions.SqlFunctions.setup(spark)
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql(
      "SELECT vec_id, vec_dot(embedding, embedding) AS d FROM emb_sql")
      .as[(Long, Double)].collect().toMap
    val viaCol = Tables.embeddings(spark, sf0001)
      .select($"vec_id", VectorExpressions.vecDot($"embedding", $"embedding"))
      .as[(Long, Double)].collect().toMap
    assert(viaSql == viaCol)
    // unit-norm embeddings: self-dot ≈ 1
    assert(viaSql.values.forall(v => math.abs(v - 1.0) < 1e-5))
  }

  test("vec_dot null handling") {
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f))),
      (None, Some(Array(1.0f))),
    ).toDF("a", "b")
    val got = df.select(VectorExpressions.vecDot($"a", $"b").as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(11.0), None))
  }

  test("bounded-heap top-k aggregator matches the window top-k exactly") {
    val viaWindow = Similarity.s01KnnBruteForce(spark, sf0001)
      .select($"qid", $"rank", $"nid", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val viaHeap = Similarity.knnTopKAggregated(spark, sf0001, 10)
      .select($"qid", $"rank".cast("int"), $"nid", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaHeap == viaWindow)
  }

  test("codegen vec_l2sq is bit-identical to the fold specification") {
    val e = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < 3).select($"embedding".as("qe"))
    val pairs = e.crossJoin(q)
    val diff = pairs.select(
        Similarity.l2Fold($"embedding", $"qe").as("spec"),
        VectorExpressions.vecL2($"embedding", $"qe").as("fast"))
      .filter($"spec" =!= $"fast")
    assert(diff.count() == 0, "vec_l2sq must replay the fold bit-for-bit")
  }

  test("Column APIs resolve on a newSession() frame while spark is active") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import graft.ext.Dedup
    import graft.functions.{MinHash, SimHash}
    // every Column API on one frame of `s`: the frame's session, not the
    // active one, must be the only session its analysis consults
    def frame(s: SparkSession): DataFrame =
      s.range(4).selectExpr("id",
          "array(cast(id AS float), 1.0f) AS a",
          "array(2.0f, cast(id AS float)) AS b",
          "array(concat('x y ', id), 'y z w') AS sh")
        .select(col("id"),
          VectorExpressions.vecDot(col("a"), col("b")).as("dot"),
          VectorExpressions.vecCos(col("a"), col("b")).as("cos"),
          VectorExpressions.vecL2(col("a"), col("b")).as("l2"),
          MinHash.minhashSig(col("sh"), Dedup.K, Dedup.P).as("mh"),
          SimHash.simhashSig(col("sh"), Dedup.SimBits, Dedup.P).as("simh"))
    val other = spark.newSession()
    SparkSession.setActiveSession(spark)
    val theirs = frame(other)
    val ours = frame(spark)
    assert(SparkSession.active eq spark)
    assert(theirs.queryExecution.optimizedPlan.canonicalized ==
      ours.queryExecution.optimizedPlan.canonicalized)
    assert(theirs.collect().toSeq == ours.collect().toSeq)
  }

  test("codegen path is no slower than the fold (smoke timing)") {
    val e = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding").cache()
    e.count()
    val q = e.select($"embedding".as("qe")).limit(20)
    def time(c: => Any): Double = {
      val t0 = System.nanoTime(); c; (System.nanoTime() - t0) / 1e9
    }
    val tFold = time(e.crossJoin(q)
      .select(Similarity.dotFold($"embedding", $"qe").as("d")).agg(sum($"d")).collect())
    val tFast = time(e.crossJoin(q)
      .select(VectorExpressions.vecDot($"embedding", $"qe").as("d")).agg(sum($"d")).collect())
    info(f"fold: $tFold%.3f s, codegen: $tFast%.3f s")
    e.unpersist()
    assert(tFast <= tFold * 3, "codegen path should not be dramatically slower")
  }
}
