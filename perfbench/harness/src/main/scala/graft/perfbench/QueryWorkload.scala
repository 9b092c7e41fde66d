package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** query_exec: a fixed list of registered queries with DuckDB oracles.
  * A read op computes a query's full output into Spark's `noop` sink; a
  * write op materializes it as parquet. Pass 0 writes every query's
  * output for the oracle checks. */
final class QueryWorkload(spark: SparkSession, args: Args, tracer: Tracer) extends Workload {
  import QueryWorkload._

  private val c = counters
  private var pass = 0

  /** Resolves every table's schema from its parquet footer. */
  def setup(): Unit = {
    spark.catalog.clearCache()
    Tables.names.foreach(t => Tables.load(spark, args.data, t).schema)
  }

  private def build(name: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = tracer.span("operators.build")(SparkEntry.queries(name)(spark, args.data))
    c.add("build_ms", (System.nanoTime() - t0) / 1e6)
    // A DataFrame is analyzed when it is built, before any listener sees it.
    df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => c.add("analysis_ms", (p.endTimeMs - p.startTimeMs).toDouble))
    df
  }

  private def parquet(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  val ops: IndexedSeq[Op] =
    Reads.map { q =>
      Op(q, "read", _ => {
        val df = build(q)
        tracer.span("operators.execute") {
          if (pass == 0) parquet(df, s"${args.work}/verify/$q")
          else df.write.format("noop").mode("overwrite").save()
        }
      })
    } ++ Writes.map { q =>
      Op(s"$q.parquet", "write", _ => {
        val df = build(q)
        tracer.span("operators.execute")(parquet(df, s"${args.work}/out/$q"))
      })
    }

  override def beforePass(p: Int): Unit = pass = p

  override def finish(): Unit = {
    val oracles = SparkEntry.oracleSql
    val json = (Reads ++ Writes).distinct.map { q =>
      val o = oracles(q).replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      s""""$q":"$o""""
    }
    Files.writeString(Paths.get(s"${args.work}/oracle_sql.json"), json.mkString("{", ",", "}"))
  }

  override def layerMetrics(traced: Int, perOp: Map[String, Double]): Map[String, Double] = {
    val phases = Seq("plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms", "w.analysis_ms")
      .map(perOp.getOrElse(_, 0.0)).sum
    val opMs = perOp.getOrElse("op_ms", 0.0)
    Map(
      "plans.analysis_ms" -> (perOp.getOrElse("plans.analysis_ms", 0.0) + perOp.getOrElse("w.analysis_ms", 0.0)),
      "operators.build_ms" -> perOp.getOrElse("w.build_ms", 0.0),
      "unaccounted_ms" -> (opMs - phases - perOp.getOrElse("operators.job_ms", 0.0)))
  }
}

object QueryWorkload {
  /** Queries from the families that dominate the query surface: TPC-H
    * style relational, SQL surface, text and dedup, vectors, sketches.
    * Iterative graph queries are left out: the DuckDB oracle of the
    * cheapest one (q331) takes over 100 s on this data. */
  val Reads: IndexedSeq[String] = IndexedSeq(
    "q01_pricing_summary", "q05_join_inner", "q336_null_aware_anti_join",
    "q40_dedup_exact", "q49_embedding_ann_ivf", "q281_approx_top_k")
  val Writes: IndexedSeq[String] = IndexedSeq("q40_dedup_exact")
}
