package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ManifestMaintenance, ManifestScanMetrics}

/** manifest_rw: one pass is a fixed sequence of commits and scans against
  * a manifest table built from `lineitem`; each pass starts from a fresh
  * table. Scans return a digest over every column, which the checks
  * compare with DuckDB computing the same table state from the source
  * parquet. */
final class ManifestWorkload(spark: SparkSession, args: Args, tracer: Tracer) extends Workload {
  import ManifestWorkload._

  private val c = counters
  private val table = s"${args.work}/lineitem_mf"
  private val results = mutable.ArrayBuffer.empty[String]
  private var base: DataFrame = _

  /** The source rows: the line items of the first `MaxKey` orders (half
    * of `lineitem`), with the bucket column the table is partitioned by. */
  def setup(): Unit = {
    base = spark.read.parquet(s"${args.data}/lineitem.parquet").where(s"l_orderkey < $MaxKey")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .withColumn("l_bucket", pmod(col("l_orderkey"), lit(Buckets)))
    base.schema
  }

  /** An append batch, clustered on the order key inside each bucket so
    * that zone maps can skip files and row groups. */
  private def batch(where: String): DataFrame =
    base.where(where).repartition(4, col("l_bucket")).sortWithinPartitions("l_orderkey")

  private def updates: DataFrame = base.where(s"l_orderkey % $UpsertEvery = 0")
    .withColumn("l_quantity", col("l_quantity") + 1)
    .withColumn("l_extendedprice", col("l_extendedprice") + 1)

  private def read(version: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft.sources.ManifestSource").schema(Schema).option("path", table)
    version.fold(r)(v => r.option("version", v)).load()
  }

  private def append(df: DataFrame): Unit = {
    spark.conf.set("parquet.rowgroup.row.count.limit", RowGroupRows.toString)
    try df.write.format("graft.sources.ManifestSink").option("path", table)
      .option("format", "parquet").option("partitionBy", "l_bucket").mode("append").save()
    finally spark.conf.unset("parquet.rowgroup.row.count.limit")
  }

  /** count and integer sums over every column: exact on both sides. */
  private def digest(df: DataFrame): String = {
    val r = df.agg(
      count(lit(1)), sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"), sum("l_linenumber"),
      sum(round(col("l_quantity")).cast("bigint")),
      sum(round(col("l_extendedprice") * 100).cast("bigint")),
      sum(round(col("l_discount") * 100).cast("bigint")),
      sum(round(col("l_tax") * 100).cast("bigint")),
      sum(when(col("l_returnflag") === "R", 1).otherwise(0)),
      sum(when(col("l_linestatus") === "O", 1).otherwise(0)),
      sum((unix_micros(col("l_shipdate")) / lit(86400000000L)).cast("bigint")),
      sum("l_bucket")).head()
    (0 until r.length).map(i => if (r.isNullAt(i)) "0" else r.get(i).toString).mkString(",")
  }

  private def scan(name: String, where: String = "", version: Option[Long] = None): Op =
    Op(name, "read", _ => {
      val t0 = System.nanoTime()
      val df = read(version)
      val d = tracer.span("sources.scan")(digest(if (where.isEmpty) df else df.where(where)))
      c.add("scan_ms", (System.nanoTime() - t0) / 1e6)
      c.add("rows_read", d.takeWhile(_ != ',').toDouble)
      c.add("files_skipped", ManifestScanMetrics.skippedFiles(table).toDouble)
      c.add("rowgroups_skipped", ManifestScanMetrics.skippedRowGroups(table).toDouble)
      c.add("rowgroups_candidates", ManifestScanMetrics.candidateRowGroups(table).toDouble)
      c.add("files_candidates", ManifestScanMetrics.candidateFiles(table).toDouble)
      last = d
    })

  private def commit(name: String)(body: => Any): Op = Op(name, "write", _ => {
    val t0 = System.nanoTime()
    last = tracer.span("sources.commit")(body) match {
      case (a, b) => s"$a,$b"
      case other => other.toString
    }
    c.add("commits", 1)
    c.add("commit_ms", (System.nanoTime() - t0) / 1e6)
  })

  private var last = ""

  val ops: IndexedSeq[Op] = IndexedSeq(
    commit("append_1") { append(batch(s"l_orderkey < $SplitKey")); "ok" },
    commit("append_2") { append(batch(s"l_orderkey >= $SplitKey")); "ok" },
    scan("scan_full"),
    scan("scan_key_range", KeyRangeFilter),
    commit("delete") { ManifestMaintenance.delete(spark, table, Schema, DeletePredicate) },
    scan("scan_key_range_after_delete", KeyRangeFilter),
    commit("upsert") { ManifestMaintenance.upsert(spark, table, Schema, Seq("l_orderkey", "l_linenumber"), updates) },
    scan("scan_bucket_after_upsert", BucketFilter),
    scan("scan_time_travel_v1", version = Some(1L)),
    commit("compact") { ManifestMaintenance.compact(spark, table, Schema, targetFiles = 4) },
    commit("expire") { ManifestMaintenance.expireSnapshots(spark, table, keepLast = 2) })

  override def beforePass(pass: Int): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new File(table))

  override def afterOp(pass: Int, i: Int, checked: Boolean): Unit = {
    val op = ops(i)
    results += s"""{"pass":$pass,"op":"${op.name}","result":"$last"}"""
    // Pass 0 also checks the whole table after every mutation.
    if (checked && op.kind == "write")
      results += s"""{"pass":$pass,"op":"state_after_${op.name}","result":"${digest(read())}"}"""
    if (op.kind == "read") {
      val columnar = spark.conf.get("spark.graft.manifest.columnar.minRows", "262144").toLong
      c.add(if (last.takeWhile(_ != ',').toLong >= columnar) "columnar_scans" else "row_scans", 1)
    }
  }

  override def finish(): Unit =
    Files.writeString(Paths.get(s"${args.work}/manifest_results.jsonl"), results.mkString("\n") + "\n")

  override def layerMetrics(traced: Int, perOp: Map[String, Double]): Map[String, Double] = {
    val w = (k: String) => perOp.getOrElse(s"w.$k", 0.0)
    Map(
      "sources.commits" -> w("commits"),
      "sources.commit_ms" -> w("commit_ms"),
      "sources.scan_ms" -> w("scan_ms"),
      "sources.rows_read" -> w("rows_read"),
      "sources.files_skipped" -> w("files_skipped"),
      "sources.rowgroups_skipped" -> w("rowgroups_skipped"),
      "sources.rowgroups_candidates" -> w("rowgroups_candidates"),
      "sources.files_candidates" -> w("files_candidates"),
      "sources.columnar_scans" -> w("columnar_scans"),
      "sources.row_scans" -> w("row_scans"),
      "sources.jobs_per_op" -> perOp.getOrElse("operators.jobs", 0.0))
  }
}

object ManifestWorkload {
  val Schema: String =
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP, l_bucket BIGINT"
  val Buckets = 4
  val MaxKey = 75000
  val SplitKey = 37500
  val UpsertEvery = 97
  val RowGroupRows = 16384
  val KeyRangeFilter = "l_orderkey >= 20000 AND l_orderkey < 22000"
  val BucketFilter = "l_bucket = 2 AND l_quantity > 40"
  val DeletePredicate = "l_discount = 0.1 AND l_returnflag = 'R'"
}
