package graft.perfbench

import scala.collection.mutable

/** Seeded Debezium-envelope generator for the cdc_lake workload. It lives
  * in the benchmark, not in `graft.gen`, so a change to the engine cannot
  * change the input.
  *
  * Two source tables of different width and types: `users` (narrow) and
  * `orders` (wide; gains a `discount` column from batch
  * [[CdcGen.AddColumnBatch]] on). The stream opens with an `r` snapshot
  * burst, then mixes `c`, `u` and `d`.
  *
  * Where each proportion comes from:
  *  - op mix: uniform over c/u/d, as the reference inserter's loop
  *    (data_inserter.py:28-78; the engine's `graft.gen.Workload` models
  *    the same loop). An insert creates a new key; an update or delete
  *    picks an existing row, as the reference's `ORDER BY RAND() LIMIT 1`
  *    victim query does, so no event targets a missing key;
  *  - table: uniform over the two tables (the reference has one table, so
  *    it gives no weight to copy);
  *  - key skew: Zipf(1.1) over the live keys, oldest first, so MERGEs keep
  *    hitting the same files (the one departure from the reference's
  *    uniform victim, asked for to expose hot files);
  *  - about one envelope in a hundred is malformed or has no payload and
  *    must land in the DLQ.
  * Batch and bootstrap sizes are sizing choices, not traffic: they set how
  * many batches fit a run. All values are written so the ingest's
  * value-pattern type inference is stable: integral columns always print
  * as integers, fractional ones always carry a decimal point, and no string
  * column is ever all digits. */
object CdcGen {
  val Tables: Seq[String] = Seq("users", "orders")
  val Keys: Map[String, String] = Map("users" -> "id", "orders" -> "id")
  val AddColumnBatch = 2
  val Topic = "dbserver1.benchdb."
  private val tiers = Array("gold", "silver", "bronze", "trial")
  private val statuses = Array("new", "paid", "shipped", "returned", "cancelled")
  private val regions = Array("eu-west", "eu-north", "us-east", "us-west", "ap-south")
  private val words = Array("alpha", "bravo", "delta", "echo", "kilo", "lima",
    "mike", "oscar", "papa", "romeo", "sierra", "tango", "victor", "zulu")

  /** One change event. `row` is the after image (c/u/r) or the before
    * image (d); `malformed` envelopes carry no row and are not applied. */
  final case class Event(seq: Long, table: String, op: String,
                         row: Map[String, Any], before: Map[String, Any],
                         malformed: Boolean, json: String)
}

final class CdcGen(seed: Long, bootUsers: Int = 1000, bootOrders: Int = 2000,
                   batchSize: Int = 300) {
  import CdcGen._
  private val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
  private var seq = 0L
  private var batchNo = 0
  private val live = Map("users" -> mutable.LinkedHashMap.empty[Long, Map[String, Any]],
    "orders" -> mutable.LinkedHashMap.empty[Long, Map[String, Any]])
  // live keys, oldest first: the Zipf ranks
  private val liveKeys = Map("users" -> mutable.ArrayBuffer.empty[Long],
    "orders" -> mutable.ArrayBuffer.empty[Long])
  private val nextKey = mutable.Map("users" -> 1L, "orders" -> 1L)
  private var ts = 1722900000000L

  private def pick[A](xs: Array[A]): A = xs(rnd.nextInt(xs.length))
  private def money(max: Int): Double = (rnd.nextInt(max * 100 - 1) + 1) / 100.0
  private def note(): String =
    (0 until 3 + rnd.nextInt(5)).map(_ => pick(words)).mkString(" ")

  private def newRow(table: String, id: Long): Map[String, Any] = table match {
    case "users" => Map("id" -> id, "name" -> s"user_$id ${pick(words)}",
      "tier" -> pick(tiers), "score" -> money(1000), "visits" -> rnd.nextInt(500).toLong)
    case _ =>
      val r = Map[String, Any]("id" -> id,
        "user_id" -> (1L + rnd.nextInt(math.max(1, (nextKey("users") - 1).toInt))),
        "amount" -> money(5000), "qty" -> (1 + rnd.nextInt(20)).toLong,
        "status" -> pick(statuses), "region" -> pick(regions), "note" -> note())
      if (batchNo >= AddColumnBatch) r + ("discount" -> money(50)) else r
  }

  private def updated(table: String, old: Map[String, Any]): Map[String, Any] = table match {
    case "users" => old ++ Map("tier" -> pick(tiers), "score" -> money(1000),
      "visits" -> (old("visits").asInstanceOf[Long] + 1 + rnd.nextInt(5)))
    case _ =>
      val r = old ++ Map("status" -> pick(statuses), "amount" -> money(5000),
        "qty" -> (1 + rnd.nextInt(20)).toLong)
      if (batchNo >= AddColumnBatch) r + ("discount" -> money(50)) else r
  }

  /** Zipf(1.1) rank over the live keys, oldest first. */
  private def zipfKey(table: String): Long = {
    val ks = liveKeys(table)
    val n = ks.size.toDouble
    val s = 1.1
    val u = rnd.nextDouble()
    val r = math.pow((math.pow(n, 1 - s) - 1) * u + 1, 1 / (1 - s))
    ks(math.min(ks.size - 1, math.max(0, r.toInt - 1)))
  }

  private def valueJson(v: Any): String = v match {
    case s: String => Json.str(s)
    case d: Double => d.toString
    case other => other.toString
  }
  private def rowJson(r: Map[String, Any]): String =
    if (r == null) "null"
    else r.toSeq.sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + valueJson(v) }
      .mkString("{", ",", "}")

  private def emit(table: String, op: String, row: Map[String, Any],
                   before: Map[String, Any]): Event = {
    seq += 1; ts += 1 + rnd.nextInt(40)
    val after = if (op == "d") null else row
    val json = s"""{"payload":{"op":"$op","before":${rowJson(before)},""" +
      s""""after":${rowJson(after)},"source":{"table":"$table"},"ts_ms":$ts}}"""
    Event(seq, table, op, row, before, malformed = false, json)
  }

  private def malformed(): Event = {
    seq += 1
    val table = pick(Tables.toArray)
    val json =
      if (rnd.nextBoolean()) s"""{"payload":{"op":"c","after":{"id":${seq},"nam"""
      else """{"schema":{"type":"struct","optional":false}}"""
    Event(seq, table, "?", null, null, malformed = true, json)
  }

  private def create(table: String): Event = {
    val id = nextKey(table); nextKey(table) = id + 1
    liveKeys(table) += id
    val r = newRow(table, id)
    live(table)(id) = r
    emit(table, "c", r, null)
  }

  /** The `r` snapshot burst that bootstraps the lake. */
  def bootstrap(): Seq[Event] = {
    val out = mutable.ArrayBuffer.empty[Event]
    Seq("users" -> bootUsers, "orders" -> bootOrders).foreach { case (t, n) =>
      (0 until n).foreach { _ =>
        val id = nextKey(t); nextKey(t) = id + 1
        liveKeys(t) += id
        val r = newRow(t, id)
        live(t)(id) = r
        out += emit(t, "r", r, null)
      }
    }
    out.toSeq
  }

  /** The next micro-batch of change events (batch numbers start at 1). */
  def nextBatch(): Seq[Event] = {
    batchNo += 1
    (0 until batchSize).map { _ =>
      if (rnd.nextInt(100) == 0) malformed()
      else {
        val table = pick(Tables.toArray)
        rnd.nextInt(3) match {
          case 0 => create(table)
          case op =>
            val k = zipfKey(table)
            val old = live(table)(k)
            if (op == 1) {
              val r = updated(table, old)
              live(table)(k) = r
              emit(table, "u", r, old)
            } else {
              live(table).remove(k)
              liveKeys(table) -= k
              emit(table, "d", old, old)
            }
        }
      }
    }
  }
}
