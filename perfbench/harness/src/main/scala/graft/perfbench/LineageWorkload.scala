package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.plans.logical._

import graft.lineage._

/** Times schema lookups and counts them, around the metastore the
  * lineage runner is given. */
final class TimingMetaStore(inner: MetaStore, tracer: Tracer, c: Counters) extends MetaStore {
  def lookup(db: String, table: String): Option[Seq[(String, String)]] = {
    val t0 = System.nanoTime()
    val r = tracer.span("lineage.metastore")(inner.lookup(db, table))
    c.add("metastore_ms", (System.nanoTime() - t0) / 1e6)
    c.add("metastore_lookups", 1)
    if (r.isDefined) c.add("metastore_hits", 1)
    r
  }
}

/** lineage_ingest: one generated script per op, through
  * `LineageRunner.run` and then `LineageStore.write`. Each op starts from
  * the same catalog: the tables a script creates or resolves are dropped
  * after it, so every op resolves its sources through the metastore. */
final class LineageWorkload(spark: SparkSession, args: Args, tracer: Tracer,
    plans: PlanListener) extends Workload {

  private val c = counters
  private val scripts: IndexedSeq[(String, String)] =
    new File(s"${args.corpus}/scripts").listFiles().filter(_.getName.endsWith(".sql"))
      .sortBy(_.getName).toIndexedSeq
      .map(f => f.getName.stripSuffix(".sql") -> Files.readString(f.toPath))
  private val store = s"${args.work}/store"
  private val dumps = s"${args.work}/lineage"
  /** One metastore for the run, as a long-running ingest keeps: pass 0
    * fills its schema cache, so timed ops are served from it. */
  private val metaStore: MetaStore =
    new TimingMetaStore(new ExternalParquetMetaStore(spark, args.data), tracer, c)
  private var baseline: Set[(String, String)] = Set.empty
  private val results = new Array[LineageRunner.Result](scripts.length)
  private val digests = mutable.ArrayBuffer.empty[String]

  /** Databases the corpus and the fixture catalog use, created inside
    * the work directory before the runner asks for them. */
  private def databases: Seq[String] =
    (FixtureCatalog.ddl.map(_._1) ++
      Files.readAllLines(Paths.get(s"${args.corpus}/databases.txt")).toArray.map(_.toString))
      .distinct

  /** The same work every time: fresh databases, the fixture catalog and
    * an empty store. */
  def setup(): Unit = {
    databases.foreach { db =>
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"CREATE DATABASE $db LOCATION 'file:${args.work}/catalog/$db.db'")
    }
    FixtureCatalog.register(spark)
    baseline = tables()
    resetCatalog()
    org.apache.commons.io.FileUtils.deleteDirectory(new File(store))
    new File(store).mkdirs()
    new File(dumps).mkdirs()
  }

  private def tables(): Set[(String, String)] = {
    val cat = spark.sessionState.catalog
    cat.listDatabases().flatMap(db => cat.listTables(db).map(t => db -> t.table)).toSet
  }

  /** Drops every table an op created or resolved, keeping the fixtures. */
  private def resetCatalog(): Unit = {
    val cat = spark.sessionState.catalog
    (tables() -- baseline).foreach { case (db, t) =>
      cat.dropTable(TableIdentifier(t, Some(db)), ignoreIfNotExists = true, purge = false)
    }
    cat.setCurrentDatabase("default")
  }

  val ops: IndexedSeq[Op] = scripts.indices.map { i =>
    val (name, sql) = scripts(i)
    Op(name, "mixed", parts => {
      val res = parts.read(tracer.span("lineage.run")(LineageRunner.run(spark, sql, Some(metaStore))))
      parts.write(tracer.span("lineage.persist")(LineageStore.write(spark, name, res, s"$store/$name")))
      results(i) = res
    })
  }

  override def afterOp(pass: Int, i: Int, checked: Boolean): Unit = {
    resetCatalog()
    val name = scripts(i)._1
    val res = results(i)
    c.add("edges", res.edges.length)
    c.add("items", res.items.length)
    val files = Files.walk(Paths.get(s"$store/$name")).filter(Files.isRegularFile(_))
      .toArray.map(_.asInstanceOf[java.nio.file.Path]).sortBy(_.toString)
    c.add("persist_files", files.count(_.toString.endsWith(".parquet")))
    c.add("persist_mb", files.map(Files.size(_)).sum / 1048576.0)
    // The store's bytes, so the checks can see that every pass wrote the
    // same rows with the same ids.
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.filter(_.toString.endsWith(".parquet")).foreach(f => md.update(Files.readAllBytes(f)))
    digests += s"""{"pass":$pass,"script":"$name","sha256":"${md.digest().map("%02x".format(_)).mkString}"}"""
    if (checked) dump(name, res)
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The in-memory result, for the checks to compare with the store. */
  private def dump(name: String, r: LineageRunner.Result): Unit = {
    val edges = r.edges.map { case (t, e) =>
      Seq(t, e.outColumn, e.parentSchema, e.parentTable, e.parentColumn, e.context).map(q).mkString("[", ",", "]")
    }
    val items = r.items.map { case (t, it) =>
      Seq(t, it.name, it.definition, it.usageContext, it.datasetType).map(q).mkString("[", ",", "]")
    }
    Files.writeString(Paths.get(s"$dumps/$name.json"),
      s"""{"edges":[${edges.mkString(",")}],"items":[${items.mkString(",")}]}""")
  }

  override def finish(): Unit = {
    Files.writeString(Paths.get(s"${args.work}/store_digests.jsonl"), digests.mkString("\n") + "\n")
    // Table-level closure over every script's INSERT/CTAS edges.
    import spark.implicits._
    val tableEdges = results.toSeq.flatMap(_.edges.collect {
      case (tgt, e) if tgt.nonEmpty && s"${e.parentSchema}.${e.parentTable}" != tgt =>
        (tgt, s"${e.parentSchema}.${e.parentTable}")
    }).distinct
    val t0 = System.nanoTime()
    val closed = tracer.span("lineage.closure")(
      Closure.close(tableEdges.toDF("child", "parent")).collect())
    c.add("closure_ms", (System.nanoTime() - t0) / 1e6)
    Files.writeString(Paths.get(s"${args.work}/closure.json"),
      closed.map(r => s"[${q(r.getString(0))},${q(r.getString(1))},${r.getInt(2)}]")
        .mkString("[", ",", "]"))
  }

  /** Traced runs: each script once more, through the runner's stage
    * functions one by one, beside one more whole `LineageRunner.run` from
    * the same catalog state. What the stages leave of the whole run is the
    * runner's own catalog work, checked against its command count. */
  private def decomposed(): Map[String, Double] = {
    val s = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime(); try body finally s(k) += (System.nanoTime() - t0) / 1e6
    }
    def catalog(body: => Unit): Unit = timed("catalog")(body)
    def analyzeWalk(plan: LogicalPlan): Unit = {
      val analyzed = timed("analyze")(LineageRunner.analyzePermissive(spark, plan, Some(metaStore)))
      timed("walk") { LineageWalker.edgesOf(analyzed); LineageWalker.selectItems(analyzed) }
    }
    def qualify(parts: Seq[String]) =
      if (parts.length >= 2) (parts.dropRight(1).mkString("."), parts.last)
      else (spark.catalog.currentDatabase, parts.last)
    def branches(p: LogicalPlan): Seq[InsertIntoStatement] = p match {
      case u: Union => u.children.flatMap(branches)
      case i: InsertIntoStatement => Seq(i)
      case _ => Nil
    }
    scripts.foreach { case (_, sql) =>
      catalog { FixtureCatalog.register(spark); spark.sql("USE default") }
      val stmts = timed("preprocess")(SqlPreprocessor.preprocess(sql))
      stmts.foreach { stmt =>
        timed("parse")(spark.sessionState.sqlParser.parsePlan(stmt)) match {
          case _: SetCatalogAndNamespace => catalog(spark.sql(stmt))
          case ct: CreateTable =>
            val (db, tbl) = qualify(ct.name.asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier].nameParts)
            catalog(FixtureCatalog.ensureTable(spark, db, tbl,
              ct.columns.map(col => s"`${col.name}` ${col.dataType.sql}").mkString(", ")))
          case ctas: CreateTableAsSelect =>
            val (db, tbl) = qualify(ctas.name.asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier].nameParts)
            val analyzed = timed("analyze")(LineageRunner.analyzePermissive(spark, ctas.query, Some(metaStore)))
            timed("walk") { LineageWalker.edgesOf(analyzed); LineageWalker.selectItems(analyzed) }
            catalog(FixtureCatalog.ensureTable(spark, db, tbl,
              analyzed.output.map(a => s"`${a.name}` ${a.dataType.sql}").mkString(", ")))
          case w: UnresolvedWith if branches(w.child).nonEmpty =>
            branches(w.child).foreach(ins => analyzeWalk(w.copy(child = ins.query)))
          case ins: InsertIntoStatement => analyzeWalk(ins.query)
          case query => analyzeWalk(query)
        }
      }
      resetCatalog()
      val cmds0 = { Listeners.drain(spark); plans.c.get("catalog_cmds") }
      timed("run")(LineageRunner.run(spark, sql, Some(metaStore)))
      Listeners.drain(spark)
      s("run_cmds") += plans.c.get("catalog_cmds") - cmds0
      resetCatalog()
    }
    val n = scripts.length.toDouble
    val stages = Seq("preprocess", "parse", "analyze", "walk").map(s(_)).sum
    Map(
      "lineage.preprocess_ms" -> s("preprocess") / n,
      "lineage.parse_ms" -> s("parse") / n,
      "lineage.analyze_ms" -> s("analyze") / n,
      "lineage.walk_ms" -> s("walk") / n,
      "lineage.catalog_ms" -> s("catalog") / n,
      "lineage.run_remainder_ms" -> (s("run") - stages) / n,
      "lineage.run_catalog_cmds" -> s("run_cmds") / n)
  }

  override def layerMetrics(traced: Int, perOp: Map[String, Double]): Map[String, Double] = {
    val n = math.max(traced, 1).toDouble
    val spans = tracer.totalMs(_ >= 0)
    val w = (k: String) => perOp.getOrElse(s"w.$k", 0.0)
    Listeners.drain(spark)
    Map(
      "lineage.persist_ms" -> spans.getOrElse("lineage.persist", 0.0) / n,
      "lineage.persist_files" -> w("persist_files"),
      "lineage.persist_mb" -> w("persist_mb"),
      "lineage.metastore_ms" -> spans.getOrElse("lineage.metastore", 0.0) / n,
      "lineage.metastore_lookups" -> w("metastore_lookups"),
      "lineage.metastore_hits" -> w("metastore_hits"),
      "lineage.catalog_cmds" -> perOp.getOrElse("plans.catalog_cmds", 0.0),
      "lineage.spark_jobs" -> perOp.getOrElse("operators.jobs", 0.0),
      "lineage.edges" -> w("edges"),
      "lineage.items" -> w("items"),
      "lineage.closure_ms" -> c.get("closure_ms")) ++ decomposed()
  }
}
