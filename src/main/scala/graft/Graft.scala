package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for interactive use — the one-call replacement for
  * the reference's analytics-shell bootstrap (spark.sh:17-27 mounts
  * connectors and hand-configures a PySpark shell; a graft user calls
  * `Graft.init(spark, dir)`): registers the engine's custom SQL functions
  * ([[functions.SqlFunctions.all]]: `vec_dot`, `vec_cos`, `vec_l2sq`,
  * `minhash_sig`, `simhash_sig`, `bloom_filter_agg`, `might_contain`) and
  * mounts the standard tables as
  * temp views so `spark.sql(...)` works immediately. Cluster deployments
  * can instead inject the functions with
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
object Graft {

  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents", "embeddings")

  /** Register functions + mount `dir`'s parquet tables as temp views. */
  def init(spark: SparkSession, dir: String): Unit = {
    functions.SqlFunctions.setup(spark)
    tableNames.foreach(t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t))
    // events carries nanosecond timestamps — only readable via its loader
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }
}
