package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** A correctness check made after the timed window. */
final case class Check(name: String, ok: Boolean, detail: String = "") {
  def toMap: Map[String, Any] = Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** One closed-loop workload. The runner calls `setup` several times (each
  * call builds the workload's state from scratch and replaces the last
  * one), then `warmup` once, then `startWindow` and `step` until `done`,
  * then `verify`. Everything before the window counts as set-up. The
  * window is a fixed number of ops, not a time, so every run times the
  * same ops whatever the speed of the host or the engine. */
trait Workload {
  /** Build state for repetition `rep`; record `generate_ms`, `cache_ms`
    * and `bootstrap_ms` into `t`. */
  def setup(rep: Int, t: mutable.Map[String, Double]): Unit
  /** First-touch work (codegen, class loading) on the final state. */
  def warmup(): Unit
  /** Called just before the timed window. */
  def startWindow(): Unit = ()
  /** One primary op, plus any read ops that follow it. */
  def step(rec: Recorder): Unit
  /** True once the window's fixed op count has run. */
  def done: Boolean
  /** Correctness checks over everything the window did. */
  def verify(): Seq[Check]
  /** Workload-specific figures for the raw record. */
  def extra: Map[String, Any] = Map.empty
  /** Release state (files are removed by the runner). */
  def close(): Unit = ()
}

object Workload {
  /** A session clone that keeps the scan fan-out knob: `graft.Tables.load`
    * bakes `graft.scan.repartition` into the plan, and the CacheManager
    * substitutes cached data only on plan equality, so a clone without it
    * would silently rescan every base table. */
  def freshSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    Seq("graft.scan.repartition", "graft.scan.repartition.minBytes")
      .foreach(k => spark.conf.getOption(k).foreach(s.conf.set(k, _)))
    s
  }

  /** True when the frame's plan reads through the shared cache. */
  def readsCache(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](t: mutable.Map[String, Double], key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally t(key) = t.getOrElse(key, 0.0) + ms(t0)
  }

  /** Bytes of every regular file under `dir`. */
  def du(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Run independent set-up thunks a few at a time; results in order. */
  def parallel[A](thunks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try thunks.map(t => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
      .map(f => try f.get() catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause })
    finally pool.shutdown()
  }

  def deleteTree(dir: String): Unit = graft.Tables.deleteRecursively(dir)

  /** Multiset equality of two row collections, order-insensitive. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.map(_.toString).sorted == b.map(_.toString).sorted

  /** Write `df` as one parquet file at `dir/name.parquet`, the layout the
    * engine's table loaders expect. */
  def writeSingleParquet(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part, Paths.get(dir, s"$name.parquet"))
    deleteTree(tmp)
  }
}
