package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. Runs one workload for one seed and writes a
  * raw JSON record (set-up timings, every op, checks, host weather and,
  * when traced, all spans); `perfbench/run.py` turns it into metrics.
  * The timed window is the workload's fixed op count; `--seconds` is the
  * nominal window length (BENCHMARK.json's run_seconds) and is recorded.
  *
  * Usage: graft.perfbench.Main --workload W --seed N --seconds S
  *          --trace 0|1 --cores C --work DIR --out FILE */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("selftest").contains("1")) { SelfTest.run(a("work"), a("cores").toInt); return }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    Files.createDirectories(Paths.get(work))

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionMs = Workload.ms(t0)
    val w: Workload = workload match {
      case "cdc_lake" => new CdcLake(spark, seed, work, cores, trace)
      case "registry" => new Registry(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    val setupReps = (1 to SetupReps).map { r =>
      val t = mutable.LinkedHashMap("generate_ms" -> 0.0, "cache_ms" -> 0.0, "bootstrap_ms" -> 0.0)
      w.setup(r, t)
      t.toMap
    }
    val tw = System.nanoTime()
    w.warmup()
    val warmupMs = Workload.ms(tw)

    w.startWindow()
    val rec = new Recorder(spark, trace, cores)
    val weather0 = Weather.sample()
    val start = System.nanoTime()
    while (!w.done) w.step(rec)
    val windowMs = Workload.ms(start)
    val window = Map("wall_ms" -> windowMs) ++ Weather.between(weather0, Weather.sample(), windowMs)
    rec.close()
    val heapLiveMb = Weather.heapLiveMb()

    val tv = System.nanoTime()
    val checks = w.verify()
    val verifyMs = Workload.ms(tv)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> (if (trace) 1 else 0), "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "setup" -> Map("session_ms" -> sessionMs, "reps" -> setupReps, "warmup_ms" -> warmupMs),
      "window" -> window,
      "ops" -> rec.ops.map(_.toMap),
      "checks" -> checks.map(_.toMap),
      "verify_ms" -> verifyMs,
      "extra" -> w.extra,
      "peak_rss_mb" -> Weather.peakRssMb(),
      "heap_live_mb" -> heapLiveMb)
    if (trace) record("spans") = rec.spansJson
    w.close()
    Files.writeString(Paths.get(a("out")), Json(record))
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.scan.repartition", cores.toString)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }
}

/** Host weather over the timed window: CPU steal, block-device busy time
  * and load average, read from /proc. Context, not metrics: they let a
  * reader tell a noisy host from a regression using the record alone. */
object Weather {
  final case class Sample(steal: Long, total: Long, ioMs: Long, load1: Double)

  private def read(p: String): Option[String] =
    try Some(Files.readString(Paths.get(p))) catch { case _: Exception => None }

  def sample(): Sample = {
    val cpu = read("/proc/stat").map(_.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong))
    val io = read("/proc/diskstats").map(_.linesIterator.map(_.trim.split("\\s+"))
      .filter(f => f.length > 12 && (!f(2).last.isDigit || f(2).matches("nvme\\d+n\\d+")))
      .map(_(12).toLong).sum)
    Sample(cpu.map(_.lift(7).getOrElse(0L)).getOrElse(-1L), cpu.map(_.sum).getOrElse(-1L),
      io.getOrElse(-1L), loadavg())
  }

  def loadavg(): Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  def between(a: Sample, b: Sample, wallMs: Double): Map[String, Any] = Map(
    "steal_pct" -> (if (b.total > a.total && a.total >= 0)
      100.0 * (b.steal - a.steal) / (b.total - a.total) else -1.0),
    "io_ms_per_s" -> (if (a.ioMs >= 0) (b.ioMs - a.ioMs) / (wallMs / 1000.0) else -1.0),
    "load1_start" -> a.load1, "load1_end" -> b.load1)

  /** Heap the run still holds after a full collection, MiB: the engine's
    * and the workload's retained state (cached tables, lake metadata,
    * anything an op leaked), without the collector's sizing choices. */
  def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    // Spark's ContextCleaner frees broadcast and shuffle blocks only after a
    // collection has enqueued their references, so collect, let it run, and
    // collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** JVM resident-set high-water mark (VmHWM), MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
