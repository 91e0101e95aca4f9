package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Seeded star-schema tables with the engine's fixture schemas (region,
  * nation, customer, supplier, part, orders, lineitem, events), written as
  * one parquet file each. Every value is a hash of (seed, table, row,
  * column), so the tables do not depend on partitioning or core count. */
object StarGen {
  private def h(seed: Long, tag: Int, salt: Int): Column =
    xxhash64(lit(seed), lit(tag), col("id"), lit(salt))
  private def uni(seed: Long, tag: Int, salt: Int, n: Long): Column =
    pmod(h(seed, tag, salt), lit(n))
  private def pickOf(xs: Seq[String], seed: Long, tag: Int, salt: Int): Column =
    element_at(array(xs.map(lit): _*), (uni(seed, tag, salt, xs.size.toLong) + 1).cast("int"))
  private def cents(seed: Long, tag: Int, salt: Int, lo: Long, hi: Long): Column =
    ((uni(seed, tag, salt, hi - lo + 1) + lo) / 100.0).cast("double")
  private def day(seed: Long, tag: Int, salt: Int, days: Long): Column =
    expr(s"timestamp_ntz'1995-01-01 00:00:00'") + make_dt_interval(
      uni(seed, tag, salt, days).cast("int"), lit(0), lit(0), lit(0))

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")

  def write(spark: SparkSession, seed: Long, sf: Double, dir: String,
            only: Seq[String] = names): Unit = {
    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nEv = n(1000000)
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val adj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val noun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    val r = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nat = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
    val cust = spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uni(seed, 3, 1, 25).cast("int").as("c_nationkey"),
      cents(seed, 3, 2, -99999, 999999).as("c_acctbal"),
      pickOf(segs, seed, 3, 3).as("c_mktsegment"))
    val supp = spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni(seed, 4, 1, 25).cast("int").as("s_nationkey"),
      cents(seed, 4, 2, -99999, 999999).as("s_acctbal"))
    val part = spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pickOf(adj, seed, 5, 1), pickOf(noun, seed, 5, 2)).as("p_name"),
      concat(lit("Brand#"), uni(seed, 5, 3, 25) + 1).as("p_brand"),
      pickOf(types, seed, 5, 4).as("p_type"),
      (uni(seed, 5, 5, 50) + 1).cast("int").as("p_size"),
      cents(seed, 5, 6, 90000, 99990).as("p_retailprice"))
    val ord = spark.range(nOrd).select(col("id").as("o_orderkey"),
      uni(seed, 6, 1, nCust).as("o_custkey"),
      pickOf(Seq("F", "O", "P"), seed, 6, 2).as("o_orderstatus"),
      cents(seed, 6, 3, 100000, 50000000).as("o_totalprice"),
      day(seed, 6, 4, 2404).as("o_orderdate"),
      pickOf(prios, seed, 6, 5).as("o_orderpriority"))
    val li = spark.range(nOrd * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      uni(seed, 7, 1, nPart).as("l_partkey"),
      uni(seed, 7, 2, nSupp).as("l_suppkey"),
      ((col("id") % 4) + 1 + uni(seed, 7, 3, 4)).cast("int").as("l_linenumber"),
      (uni(seed, 7, 4, 50) + 1).cast("double").as("l_quantity"),
      cents(seed, 7, 5, 90000, 10500000).as("l_extendedprice"),
      (uni(seed, 7, 6, 11) / 100.0).as("l_discount"),
      (uni(seed, 7, 7, 9) / 100.0).as("l_tax"),
      pickOf(Seq("A", "N", "R"), seed, 7, 8).as("l_returnflag"),
      pickOf(Seq("F", "O"), seed, 7, 9).as("l_linestatus"),
      day(seed, 7, 10, 2499).as("l_shipdate"))
    val ev = spark.range(nEv).select(col("id").as("event_id"),
      (expr("timestamp_ntz'2024-01-01 00:00:00'") + make_dt_interval(lit(0), lit(0), lit(0),
        (col("id") * (2592000.0 / nEv) + uni(seed, 8, 1, 1000000) / 1000000.0)
          .cast("decimal(18,6)"))).as("ts"),
      uni(seed, 8, 2, math.max(1L, nEv / 67)).as("user_id"),
      pickOf(evTypes, seed, 8, 3).as("event_type"),
      cents(seed, 8, 4, 1, 49000).as("value"),
      format_string("{\"k\": %d}", uni(seed, 8, 5, 100)).as("props"))
    Seq("region" -> r, "nation" -> nat, "customer" -> cust, "supplier" -> supp,
      "part" -> part, "orders" -> ord, "lineitem" -> li, "events" -> ev)
      .filter { case (name, _) => only.contains(name) }
      .map { case (name, df) => () => Workload.writeSingleParquet(df, dir, name) }
      .pipe(Workload.parallel(_))
  }

  /** Cache the base tables through the engine's loaders, as graft.Bench
    * does (several count jobs at once), and return the cached frames. */
  def cache(spark: SparkSession, dir: String, names: Seq[String]): Seq[DataFrame] =
    Workload.parallel(names.map { t => () =>
      val df = if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
      df.cache(); df.count(); df
    })
}

/** Seeded curation corpus with the fixture schemas: `documents` (word-soup
  * text) and `embeddings` (64-dim unit vectors around ten centroids).
  * Doc ids ≡ 1 (mod 100) are exact copies of the previous doc; ids ≡ 2
  * (mod 100) are near copies of the doc two before (a doc of at least 60
  * words) with the last word replaced, so their 3-shingle Jaccard is
  * above 0.96 and MinHash banding misses one with odds below 1e-4. */
object CorpusGen {
  private val vocab = Array("the", "a", "data", "table", "row", "column", "scan",
    "join", "sort", "merge", "key", "value", "part", "order", "line", "customer",
    "query", "filter", "group", "agg", "window", "stream", "batch", "spark",
    "fast", "slow", "big", "small", "hash", "vector", "index", "shard", "token",
    "text", "model", "label", "score", "rank", "cache", "plan")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  val Dim = 64

  final case class Corpus(docs: Seq[(Long, String, String, String)],
                          vecs: Seq[(Long, Array[Float], Int)]) {
    def exactPairs: Seq[(Long, Long)] = docs.collect { case (id, _, _, _) if id % 100 == 1 => (id - 1, id) }
    def nearPairs: Seq[(Long, Long)] = docs.collect { case (id, _, _, _) if id % 100 == 2 => (id - 2, id) }
  }

  def generate(seed: Long, nDocs: Int, nVecs: Int): Corpus = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + 11)
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      val text =
        if (i % 100 == 1) texts(i - 1)
        else if (i % 100 == 2) {
          val w = texts(i - 2).split(" ")
          val at = w.length - 1
          w(at) = vocab((vocab.indexOf(w(at)) + 1 + rnd.nextInt(vocab.length - 1)) % vocab.length)
          w.mkString(" ")
        } else {
          val len = if (i % 100 == 0) 60 + rnd.nextInt(30) else 20 + rnd.nextInt(70)
          (0 until len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
        }
      texts(i) = text
      (i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}")
    }
    val centroids = Array.fill(10, Dim)(rnd.nextDouble() * 2 - 1)
    val vecs = (0 until nVecs).map { i =>
      val label = rnd.nextInt(10)
      val v = centroids(label).map(c => c + (rnd.nextDouble() * 2 - 1) * 0.6)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    Corpus(docs, vecs)
  }

  def write(spark: SparkSession, c: Corpus, dir: String): Unit = {
    val docSchema = StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val docs = c.docs.map { case (id, t, l, s) => Row(id, t, l, s, t.length.toLong) }
    val vecs = c.vecs.map { case (id, v, l) => Row(id, v.toSeq, l) }
    Workload.writeSingleParquet(spark.createDataFrame(docs.asJava, docSchema), dir, "documents")
    Workload.writeSingleParquet(spark.createDataFrame(vecs.asJava, vecSchema), dir, "embeddings")
  }

  /** Brute-force cosine top-k of query `q` over every other vector:
    * (id, similarity), best first, ties by id. */
  def topK(c: Corpus, q: Long, k: Int): Seq[(Long, Double)] = {
    val qv = c.vecs(q.toInt)._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    c.vecs.filter(_._1 != q).map(v => (v._1, cos(qv, v._2)))
      .sortBy(p => (-p._2, p._1)).take(k)
  }
}
