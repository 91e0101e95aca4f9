package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

/** The benchmark's own JVM-side tests; `python3 perfbench/test_perfbench.py`
  * runs them. Prints one PASS/FAIL line per test and exits non-zero on any
  * failure. */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private def test(name: String)(body: => String): Unit = {
    val r = try { val d = body; (name, true, d) }
            catch { case e: Throwable => (name, false, e.toString) }
    results += r
    println(s"${if (r._2) "PASS" else "FAIL"} ${r._1}${if (r._3.nonEmpty) ": " + r._3 else ""}")
  }

  private def cdcStream(seed: Long): Seq[String] = {
    val g = new CdcGen(seed, bootUsers = 50, bootOrders = 80, batchSize = 60)
    (g.bootstrap() ++ (1 to 8).flatMap(_ => g.nextBatch())).map(_.json)
  }

  /** 20 hand-built events on `users`: inserts, updates, a delete, a
    * delete followed by a re-insert, a malformed envelope, and a key whose
    * only event is a delete. */
  def handBuilt(): (Seq[CdcGen.Event], Set[String]) = {
    def u(id: Long, tier: String, score: Double, visits: Long): Map[String, Any] =
      Map("id" -> id, "name" -> s"n$id", "score" -> score, "tier" -> tier, "visits" -> visits)
    var seq = 0L
    def ev(op: String, row: Map[String, Any]) = {
      seq += 1; CdcGen.Event(seq, "users", op, row, null, malformed = false, "")
    }
    def bad() = { seq += 1; CdcGen.Event(seq, "users", "?", null, null, malformed = true, "") }
    val evs = Seq(
      ev("r", u(1, "gold", 1.5, 1)), ev("r", u(2, "silver", 2.5, 2)), ev("r", u(3, "gold", 3.5, 3)),
      ev("r", u(4, "trial", 4.5, 4)), ev("c", u(5, "bronze", 5.5, 5)), ev("u", u(1, "silver", 1.75, 2)),
      ev("u", u(2, "gold", 2.75, 3)), ev("d", u(3, "gold", 3.5, 3)), bad(),
      ev("u", u(1, "bronze", 1.25, 3)), ev("c", u(6, "gold", 6.5, 6)), ev("d", u(6, "gold", 6.5, 6)),
      ev("c", u(6, "trial", 6.25, 7)), ev("u", u(4, "gold", 4.75, 5)), ev("d", u(5, "bronze", 5.5, 5)),
      ev("c", u(7, "silver", 7.5, 1)), ev("u", u(7, "gold", 7.25, 2)), ev("d", u(8, "gold", 8.5, 8)),
      ev("u", u(2, "trial", 2.25, 4)), ev("c", u(9, "bronze", 9.5, 9)))
    val expected = Set(
      "[1,n1,1.25,bronze,3]", "[2,n2,2.25,trial,4]", "[4,n4,4.75,gold,5]",
      "[6,n6,6.25,trial,7]", "[7,n7,7.25,gold,2]", "[9,n9,9.5,bronze,9]")
    (evs, expected)
  }

  def run(work: String, cores: Int): Unit = {
    val spark = Main.session(cores, work)

    test("cdc generator is deterministic per seed") {
      require(cdcStream(7) == cdcStream(7), "same seed gave different envelopes")
      require(cdcStream(7) != cdcStream(8), "different seeds gave the same envelopes")
      "" }

    test("corpus generator is deterministic per seed") {
      def sig(s: Long) = { val c = CorpusGen.generate(s, 300, 50)
        (c.docs, c.vecs.map(v => (v._1, v._2.toSeq, v._3))) }
      require(sig(3) == sig(3), "same seed gave different corpora")
      require(sig(3) != sig(4), "different seeds gave the same corpus")
      "" }

    test("star-schema generator is deterministic per seed") {
      def gen(s: Long, tag: String) = {
        val d = s"$work/star_$tag"
        new java.io.File(d).mkdirs()
        StarGen.write(spark, s, 0.001, d)
        d
      }
      val (a, b, c) = (gen(11, "a"), gen(11, "b"), gen(12, "c"))
      def rows(d: String, t: String) = spark.read.parquet(s"$d/$t.parquet")
      StarGen.names.foreach { t =>
        require(rows(a, t).exceptAll(rows(b, t)).isEmpty && rows(a, t).count() == rows(b, t).count(),
          s"same seed gave different $t")
      }
      require(!rows(a, "lineitem").exceptAll(rows(c, "lineitem")).isEmpty,
        "different seeds gave the same lineitem")
      "" }

    test("cdc reference snapshot on a hand-built 20-event case") {
      val (evs, expected) = handBuilt()
      require(evs.size == 20)
      val got = CdcLake.reference(spark, evs, "users", evs.last.seq)
        .collect().map(_.toString).toSet
      require(got == expected, s"got $got")
      // the reference at an earlier version: before key 3's delete (seq 8)
      val at7 = CdcLake.reference(spark, evs, "users", 7L).collect().map(_.getLong(0)).toSet
      require(at7 == Set(1L, 2L, 3L, 4L, 5L), s"at seq 7 got $at7")
      "" }

    test("a failing op is recorded as failed, not thrown") {
      val rec = new Recorder(spark, trace = false, cores)
      rec.run("primary", "ok")(())
      rec.run("primary", "boom")(throw new IllegalStateException("forced"))
      require(rec.ops.map(_.ok) == Seq(true, false), rec.ops.map(_.ok).toString)
      require(rec.ops(1).error.contains("forced"))
      "" }

    test("the d01 check fails when a planted copy is missed") {
      val c = new Registry(spark, 5L, s"$work/d01", Seq("d01_exact_dedup"), docs = 300, vecs = 20)
      c.setup(1, mutable.Map.empty)
      val schema = StructType.fromDDL("canonical_id BIGINT, n_copies BIGINT")
      def rows(n: Long => Long) = c.plantedExact.map { case (a, _) =>
        new GenericRowWithSchema(Array[Any](a, n(a)), schema): Row }
      val check = c.checkers("d01_exact_dedup")
      val missed = c.plantedExact.head._1
      c.close()
      require(c.plantedExact.size == 3, s"${c.plantedExact.size} planted copies")
      require(check(rows(_ => 3L)).isEmpty, "a complete grouping was rejected")
      // without the planted copy the group still has the engine's own copy
      require(check(rows(a => if (a == missed) 2L else 3L)) == Seq((missed, missed + 1)),
        "a group without its planted copy was accepted")
      "" }

    test("a curation op in a fresh session is not served from the memo") {
      val name = "d02_minhash_lsh"
      val c = new Registry(spark, 5L, s"$work/memo", Seq(name), docs = 1500, vecs = 200)
      c.setup(1, mutable.Map.empty)
      val rec = new Recorder(spark, trace = false, cores)
      (1 to 3).foreach(_ => c.runEntry(rec, name))
      val Seq(_, first, second) = rec.ops.map(_.ms).toSeq
      // control: the same call twice in ONE session is what the memo serves
      val same = Workload.freshSession(spark)
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkSession.setActiveSession(same)
        try graft.SparkEntry.queries(name)(same, c.tablesDir)
          .write.format("noop").mode("overwrite").save()
        finally SparkSession.setActiveSession(spark)
        Workload.ms(t0)
      }
      once(); val memoHit = once()
      c.close()
      require(second > 50.0 && second > 0.2 * first,
        f"fresh-session repeat took $second%.1f ms after $first%.1f ms")
      f"fresh sessions: $first%.1f ms then $second%.1f ms; same session repeat $memoHit%.1f ms"
    }

    spark.stop()
    val failed = results.count(!_._2)
    println(s"selftest: ${results.size - failed}/${results.size} passed")
    if (failed > 0) sys.exit(1)
  }
}
