package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `warehouse`: closed loop, one client. Each round runs the fixed query
  * mix once in a seeded order; an op is one read-only, oracle-backed
  * query consumed to its last row through the `noop` sink. Set-up writes
  * every query's result to `work/dump/<query>` so the Python side can
  * replay its oracle SQL in DuckDB over the same tables.
  */
final class Warehouse(inputs: String, work: String, seed: Long,
    seconds: Int, trace: Tracer) extends Workload {
  import Warehouse._

  // fixed work per run: one round of the mix takes ~14 s on 4 cores
  private val rounds = math.max(1, math.round(seconds / 14.0).toInt)

  def setup(spark: SparkSession): Unit = {
    val j = new Json
    j.obj(Mix.foreach(n => j.field(n, SparkEntry.oracleSql(n))))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/oracle_sql.json"), j.result)
    // warm-up runs the mix from `cores` threads at once: first executions
    // are dominated by driver-side codegen, which overlaps well
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try Mix.map { name =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          SparkEntry.queries(name)(spark, inputs)
            .write.parquet(s"$work/dump/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] warm-up $name failed: $e")
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  def run(spark: SparkSession, ctx: Ctx): Unit = {
    val rng = new scala.util.Random(seed)
    for (_ <- 0 until rounds; name <- rng.shuffle(Mix)) {
      ctx.settle()
      val due = System.nanoTime()
      ctx.op("query", name, due) {
        trace(family(name)) {
          SparkEntry.queries(name)(spark, inputs)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
  }

  // the oracle comparison runs in Python (DuckDB) over work/dump
  def check(spark: SparkSession, ctx: Ctx): Seq[Check] = Nil

  def inputBytes: Long = Host.treeBytes(inputs) * rounds

  def roots: Seq[String] = Seq(System.getProperty("java.io.tmpdir"))
}

object Warehouse {
  /** The query mix: joins, aggregates, windows, TopKPerKey and one model
    * DAG build — each with oracle SQL in `SparkEntry.oracleSql`. */
  val Mix: Seq[String] = Seq(
    "q08_star_join", "q09_anti_join", "q10_semi_join", "q11_band_join",
    "q44_asof_join", "q63_salted_join", "q95b_adaptive_salted_join",
    "q03_agg_q1", "q42_cube", "q57_percentiles", "q86_grouping_sets",
    "q25_relative_window", "q74_lag_features",
    "q12_latest_per_key", "q45_topk_per_key",
    "q51_model_dag")

  /** The layer span each query's time is charged to. */
  def family(name: String): String = name match {
    case "q12_latest_per_key" | "q45_topk_per_key" => "plans.TopKPerKey.op"
    case "q51_model_dag" => "flows.ModelRunner.build"
    case "q25_relative_window" | "q74_lag_features" =>
      "operators.Relational.window"
    case "q03_agg_q1" | "q42_cube" | "q57_percentiles" |
        "q86_grouping_sets" => "operators.Relational.agg"
    case _ => "operators.Relational.join"
  }
}
