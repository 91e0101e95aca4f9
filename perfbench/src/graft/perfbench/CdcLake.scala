package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{Apply, Pipeline}
import graft.sources.CommitSink

/** cdc_lake: poll → apply → query. One op is one micro-batch of seeded
  * envelopes: `Pipeline.ingest`, then per table an append of the typed log
  * to a graft-commit log table and a `MERGE INTO` the table's graft-commit
  * snapshot table, keyed by its PK candidate. Batches 1, 9, 17, … also
  * compact and expire every lake table, inside that batch's latency.
  * After each batch one read op of each kind the workload names (point
  * lookup by key, key range, group-by) runs through the catalog; the
  * tables alternate by batch, so every run reads the same mix of
  * (kind, table) pairs.
  *
  * Batches 1 to 4 are the warm-up: batch 1 runs maintenance and batch 2
  * adds the `orders` column, so every code path and the widened schema
  * are touched before the window; batch latency keeps falling by about a
  * third over the first seven batches as the JIT compiles the hot paths,
  * and batches 3 and 4 take up most of that fall. The window is exactly
  * [[CdcLake.WindowBatches]] batches, 5 to 12, whatever their speed. It
  * holds one maintenance batch (9); the batch after a compaction is also
  * slower, by about a third, so the median batch is always one of the six
  * others. */
object CdcLake {
  val MaintEvery = 8
  val WarmupBatches = 4
  val WindowBatches = 8
  /** Storage amplification is taken after the last batch, in every run. */
  val StorageBatch: Int = WarmupBatches + WindowBatches
  val ReadSamples = 3
  def isMaint(batch: Int): Boolean = batch % MaintEvery == 1

  /** Rows of a table version (its files' rows, before deletes). */
  def physicalRows(m: CommitSink.Manifest): Long =
    m.files.flatMap(f => m.stats.get(f).map(CommitSink.FileStat.decode(_).rows)).sum

  val schemas: Map[String, StructType] = Map(
    "users" -> StructType.fromDDL(
      "id BIGINT, name STRING, score DOUBLE, tier STRING, visits BIGINT"),
    "orders" -> StructType.fromDDL(
      "amount DOUBLE, discount DOUBLE, id BIGINT, note STRING, qty BIGINT, " +
        "region STRING, status STRING, user_id BIGINT"))

  private val rawSchema = StructType.fromDDL("topic STRING, offset BIGINT, value STRING")

  def rawFrame(spark: SparkSession, events: Seq[CdcGen.Event]): DataFrame =
    spark.createDataFrame(
      events.map(e => Row(CdcGen.Topic + e.table, e.seq, e.json)).asJava, rawSchema)

  /** The expected snapshot of `table` after every event with seq ≤
    * `upTo`: latest event per key by sequence, tombstones dropped. Plain
    * DataFrame ops over the generator's own typed values — no `cdc/` or
    * `sources/` code. */
  def reference(spark: SparkSession, events: Seq[CdcGen.Event], table: String,
                upTo: Long): DataFrame = {
    val sch = schemas(table)
    val rows = events.iterator
      .filter(e => !e.malformed && e.table == table && e.seq <= upTo)
      .map(e => Row.fromSeq(Seq(e.seq, e.op) ++ sch.fieldNames.map(e.row.getOrElse(_, null))))
      .toSeq
    val full = StructType(StructField("_seq", LongType) +: StructField("_op", StringType) +: sch.fields)
    val w = Window.partitionBy(col(CdcGen.Keys(table))).orderBy(col("_seq").desc)
    spark.createDataFrame(rows.asJava, full)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("_op") =!= "d")
      .select(sch.fieldNames.toSeq.map(col): _*)
  }

  /** Σ output rows of the scan nodes of an executed plan. */
  def scannedRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scannedRows(a.executedPlan)
    case q: QueryStageExec => scannedRows(q.plan)
    case s: DataSourceV2ScanExecBase =>
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case p => p.children.map(scannedRows).sum + p.subqueries.map(scannedRows).sum
  }
}

final class CdcLake(spark: SparkSession, seed: Long, work: String, cores: Int,
                    trace: Boolean) extends Workload {
  import CdcLake._

  private var gen: CdcGen = _
  private var root: String = _
  private var cat: String = _
  private val events = mutable.ArrayBuffer.empty[CdcGen.Event]
  private val pending = mutable.Queue.empty[Seq[CdcGen.Event]]
  private val cols = mutable.Map.empty[String, StructType] // current table schemas
  private var batches = 0
  private var windowStart = 0
  private var dlqSeen = 0L
  private var envelopeBytes = 0L
  private var storageAmp = Double.NaN
  private val batchLastSeq = mutable.Map.empty[Int, Long]
  private val readRnd = new java.util.Random(seed * 31 + 7)
  private val samples = mutable.ArrayBuffer.empty[(Int, String, Seq[Row])]
  private var readsSeen = 0
  private var lastManifests = Map.empty[String, CommitSink.Manifest]

  private def snapPath(t: String) = s"$root/default/$t"
  private def logPath(t: String) = s"$root/default/${t}_log"
  private def allPaths = CdcGen.Tables.flatMap(t => Seq(snapPath(t), logPath(t)))
  private val logRows = mutable.Map.empty[String, Long] // per log table, traced runs
  private def dataCols(t: String) = cols(t).fieldNames.toSeq
  private val logMeta = Seq("offset", "op", "ts_ms")

  def setup(rep: Int, t: mutable.Map[String, Double]): Unit = {
    if (root != null) Workload.deleteTree(root)
    events.clear(); pending.clear(); cols.clear(); batchLastSeq.clear()
    batches = 0; dlqSeen = 0L; envelopeBytes = 0L
    root = s"$work/lake$rep"
    cat = s"lake$rep"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val boot = Workload.timed(t, "generate_ms") {
      gen = new CdcGen(seed)
      val b = gen.bootstrap()
      (1 to 40).foreach(_ => pending.enqueue(gen.nextBatch()))
      b
    }
    Workload.timed(t, "bootstrap_ms") {
      val res = Pipeline.ingest(rawFrame(spark, boot))
      try {
        dlqSeen += res.dlq.count()
        res.tables.toSeq.sortBy(_._1).foreach { case (tbl, flow) =>
          val logCols = flow.log.columns.toSeq
          flow.log.write.format(CommitSink.NAME).option("path", logPath(tbl))
            .mode("overwrite").save()
          val data = logCols.filterNot(logMeta.contains)
          flow.snapshot.select(data.map(col): _*).write.format(CommitSink.NAME)
            .option("path", snapPath(tbl)).mode("overwrite").save()
          cols(tbl) = StructType(flow.log.schema.filter(f => data.contains(f.name)))
          cols(s"${tbl}_log") = flow.log.schema
        }
      } finally res.cleanup()
    }
    events ++= boot
    envelopeBytes += boot.map(_.json.getBytes("UTF-8").length.toLong).sum
    batchLastSeq(0) = boot.last.seq
  }

  def warmup(): Unit = (1 to WarmupBatches).foreach { _ =>
    val noop = new Recorder(spark, trace = false, cores)
    step(noop)
  }

  private def nextEvents(): Seq[CdcGen.Event] =
    if (pending.nonEmpty) pending.dequeue() else gen.nextBatch()

  /** Applies one batch; returns the rows the ingest sent to the DLQ. */
  private def applyBatch(rec: Recorder, batch: Seq[CdcGen.Event], maint: Boolean): Long = {
    var dlq = 0L
    val res = rec.layer("cdc.ingest_ms") {
      val r = Pipeline.ingest(rawFrame(spark, batch))
      dlq = r.dlq.count()
      r
    }
    try res.tables.toSeq.sortBy(_._1).foreach { case (t, flow) =>
      val key = CdcGen.Keys(t)
      val incoming = flow.log.schema.filterNot(f => logMeta.contains(f.name))
      val added = incoming.filterNot(f => cols(t).fieldNames.contains(f.name))
      if (added.nonEmpty) rec.layer("commit.alter_ms") {
        val ddl = added.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        Seq(t, s"${t}_log").foreach(n =>
          spark.sql(s"ALTER TABLE $cat.`default`.$n ADD COLUMNS ($ddl)"))
        cols(t) = StructType(cols(t).fields ++ added)
        cols(s"${t}_log") = StructType(cols(s"${t}_log").fields ++ added)
      }
      val have = flow.log.columns.toSet
      val aligned = flow.log.select(cols(s"${t}_log").fields.toSeq.map { f =>
        (if (have(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
      }: _*)
      rec.layer("commit.append_ms") {
        aligned.write.format(CommitSink.NAME).option("path", logPath(t)).mode("append").save()
      }
      val data = dataCols(t)
      val view = s"perfbench_src_$t"
      Apply.compact(aligned, Seq(key), Seq(col("offset")))
        .select((col("op") +: data.map(col)): _*)
        .createOrReplaceTempView(view)
      val set = data.filter(_ != key).map(c => s"$c = s.$c").mkString(", ")
      rec.layer("commit.merge_ms") {
        spark.sql(s"""MERGE INTO $cat.`default`.$t t USING $view s ON t.$key = s.$key
                      WHEN MATCHED AND s.op = 'd' THEN DELETE
                      WHEN MATCHED THEN UPDATE SET $set
                      WHEN NOT MATCHED AND s.op <> 'd' THEN
                        INSERT (${data.mkString(", ")})
                        VALUES (${data.map(c => s"s.$c").mkString(", ")})""")
      }
    } finally res.cleanup()
    if (maint) rec.layer("commit.maint_ms") {
      allPaths.foreach { p =>
        CommitSink.compact(spark, p, cores)
        CommitSink.expireVersions(p, 2)
      }
    }
    dlq
  }

  private val readKinds = Seq("point", "range", "groupby")

  private def readSql(kind: String, batch: Int): String = {
    val t = CdcGen.Tables((batch + readKinds.indexOf(kind)) % CdcGen.Tables.size)
    val v = readRnd.nextInt(1 << 30)
    val (cols, keys, groupBy) = t match {
      case "users" => ("id, name, tier, score, visits", 1000, "tier")
      case _ => ("id, user_id, amount, qty, status, region, note", 2000, "status")
    }
    val from = s"$cat.`default`.$t"
    kind match {
      case "point" => s"SELECT $cols FROM $from WHERE id = ${1 + v % keys}"
      case "range" =>
        val a = 1 + v % (keys - 100)
        s"SELECT $cols FROM $from WHERE id BETWEEN $a AND ${a + 99}"
      case _ => s"SELECT $groupBy, count(*) AS n, sum(id) AS s FROM $from GROUP BY $groupBy"
    }
  }

  def step(rec: Recorder): Unit = {
    val batch = nextEvents()
    val n = batches + 1
    val maint = isMaint(n)
    var dlq = 0L
    val op = rec.run("primary", if (maint) "batch+maint" else "batch") {
      dlq = applyBatch(rec, batch, maint)
    }
    batches = n
    dlqSeen += dlq
    events ++= batch
    envelopeBytes += batch.map(_.json.getBytes("UTF-8").length.toLong).sum
    batchLastSeq(n) = batch.last.seq
    op.metrics("cdc.dlq_rows") = dlq.toDouble
    if (rec.trace) manifestFigures(op, batch, maint, dlq)
    if (n == StorageBatch)
      storageAmp = Workload.du(Paths.get(root)).toDouble / envelopeBytes
    // the read mix: one op of each kind, in a seeded order
    scala.util.Random.javaRandomToRandom(readRnd).shuffle(readKinds).foreach { k =>
      val sql = readSql(k, n)
      var rows: Seq[Row] = Nil
      val r = rec.run("read", k) {
        rec.layer("commit.read_ms") {
          val df = spark.sql(sql)
          rows = df.collect().toSeq
          if (rec.trace) rec.note("commit.rows_scanned_per_row_returned",
            scannedRows(df.queryExecution.executedPlan).toDouble / math.max(1, rows.size))
        }
      }
      // a seeded uniform sample (reservoir) of the successful reads
      if (r.ok) {
        readsSeen += 1
        val j = readRnd.nextInt(readsSeen)
        if (samples.size < ReadSamples) samples += ((n, sql, rows))
        else if (j < ReadSamples) samples(j) = (n, sql, rows)
      }
    }
  }

  /** Traced runs only: file and version counts from the manifests, the
    * copy-on-write ratio of a batch's MERGEs, and the events the batch
    * applied (its DLQ rows plus the rows it added to the log tables). */
  private def manifests(): Map[String, CommitSink.Manifest] =
    allPaths.flatMap(p => CommitSink.parseManifest(Paths.get(p)).map(p -> _)).toMap

  private def manifestFigures(op: OpRecord, batch: Seq[CdcGen.Event], maint: Boolean,
                              dlq: Long): Unit = {
    val now = manifests()
    var written, bytes, live, versions = 0L
    var snapWritten, logAdded = 0L
    now.foreach { case (p, m) =>
      val before = lastManifests.get(p).map(_.files.toSet).getOrElse(Set.empty[String])
      val added = m.files.filterNot(before)
      val stats = added.flatMap(f => m.stats.get(f).map(CommitSink.FileStat.decode))
      written += added.size
      bytes += stats.map(_.bytes).sum
      if (!p.endsWith("_log")) snapWritten += stats.map(_.rows).sum
      else {
        // log tables only append, and compaction keeps their rows
        val rows = physicalRows(m)
        logAdded += rows - logRows.getOrElse(p, 0L)
        logRows(p) = rows
      }
      live += m.files.size
      versions += CommitSink.listVersions(Paths.get(p)).size
    }
    lastManifests = now
    val changed = batch.filterNot(_.malformed).map(e => (e.table, e.row(CdcGen.Keys(e.table)))).distinct.size
    op.metrics("cdc.events_in") = (dlq + logAdded).toDouble
    op.metrics("commit.files_written") = written.toDouble
    op.metrics("commit.bytes_written") = bytes.toDouble
    op.metrics("commit.files_live") = live.toDouble
    op.metrics("commit.versions") = versions.toDouble
    if (!maint && changed > 0)
      op.metrics("commit.rows_written_per_row_changed") = snapWritten.toDouble / changed
  }

  override def startWindow(): Unit = {
    windowStart = batches
    samples.clear(); readsSeen = 0 // sample the window's reads only
    if (trace) {
      lastManifests = manifests()
      logRows.clear()
      lastManifests.foreach { case (p, m) => if (p.endsWith("_log")) logRows(p) = physicalRows(m) }
    }
  }

  def done: Boolean = batches - windowStart >= WindowBatches

  def verify(): Seq[Check] = {
    val last = events.last.seq
    val tableChecks = CdcGen.Tables.map { t =>
      val sch = schemas(t)
      val got = spark.table(s"$cat.`default`.$t")
      val gotCols = got.columns.toSet
      val lake = got.select(sch.fields.toSeq.map(f =>
        (if (gotCols(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)): _*)
      val ref = reference(spark, events.toSeq, t, last)
      val (nl, nr) = (lake.count(), ref.count())
      val extra = lake.exceptAll(ref).count()
      val missing = ref.exceptAll(lake).count()
      Check(s"snapshot_$t", nl == nr && extra == 0 && missing == 0,
        s"lake=$nl reference=$nr extra=$extra missing=$missing")
    }
    val logChecks = CdcGen.Tables.map { t =>
      val got = spark.read.format(CommitSink.NAME).option("path", logPath(t)).load().count()
      val want = events.count(e => !e.malformed && e.table == t).toLong
      Check(s"log_rows_$t", got == want, s"log=$got events=$want")
    }
    val planted = events.count(_.malformed).toLong
    val dlq = Check("dlq_count", dlqSeen == planted, s"dlq=$dlqSeen planted=$planted")
    val reads = samples.toSeq.map { case (n, sql, rows) =>
      val upTo = batchLastSeq(n)
      CdcGen.Tables.foreach(t =>
        reference(spark, events.toSeq, t, upTo).createOrReplaceTempView(s"perfbench_ref_$t"))
      val refSql = CdcGen.Tables.foldLeft(sql)((s, t) =>
        s.replace(s"$cat.`default`.$t ", s"perfbench_ref_$t "))
      val want = spark.sql(refSql).collect().toSeq
      Check(s"read@$n", Workload.sameRows(rows, want), sql)
    }
    val amp = Check("storage_amplification_taken", !storageAmp.isNaN,
      s"batches=$batches")
    (tableChecks ++ logChecks ++ reads) :+ dlq :+ amp
  }

  override def extra: Map[String, Any] = Map(
    "batches" -> batches,
    "events" -> events.size,
    "envelope_bytes" -> envelopeBytes,
    "dlq_rows" -> dlqSeen,
    "storage_amplification" -> storageAmp,
    "storage_batch" -> StorageBatch,
    "read_samples_checked" -> samples.size)
}
