package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written out when the run ends. A span records
  * its name, start, end, parent span and op id; a layer's self time is its
  * span's duration minus the time its child spans cover. With tracing off
  * `span` only runs the body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  def beginOp(id: Int): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(name, t0, System.nanoTime(), parent, op)
      }
    }

  /** Self time per span name, in ms, summed over the given ops. */
  def selfMs(ops: Int => Boolean): Map[String, Double] = {
    val childNs = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.indices.filter(i => ops(spans(i).op)).groupBy(spans(_).name).map {
      case (n, ids) => n -> ids.map(i => spans(i).end - spans(i).start - childNs(i)).sum / 1e6
    }
  }

  /** Total time per span name, in ms, summed over the given ops. */
  def totalMs(ops: Int => Boolean): Map[String, Double] =
    spans.filter(s => ops(s.op)).groupBy(_.name).map {
      case (n, ss) => n -> ss.map(s => s.end - s.start).sum / 1e6
    }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

/** Named counters: totals that a layer adds to at its boundary. */
final class Counters {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    m.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def get(name: String): Double = Option(m.get(name)).map(_.sum).getOrElse(0.0)
  def snapshot(): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    m.forEach((k, v) => out(k) = v.sum)
    out.toMap
  }
}

/** Jobs, stages, tasks, executor CPU, GC, shuffle and spill, read from the
  * scheduler's listener bus. Job time is kept as the union of job
  * intervals, so concurrent jobs are not counted twice. */
final class JobListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private var running = 0
  private var busySince = 0L
  private var busyMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    if (running == 0) busySince = e.time
    running += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) busyMs += e.time - busySince
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }
  def jobMs: Long = synchronized(busyMs)

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "job_ms" -> jobMs.toDouble,
    "executor_cpu_ms" -> cpuNs.get / 1e6, "gc_ms" -> gcMs.get.toDouble,
    "shuffle_mb" -> shuffleBytes.get / 1048576.0,
    "spill_mb" -> spillBytes.get / 1048576.0)
}

/** Catalyst phases and executed-plan shape of every query execution,
  * read from the session's QueryExecutionListener. Commands (DDL such as
  * the lineage catalog's CREATE/DROP TABLE) are counted apart. */
final class PlanListener extends QueryExecutionListener {
  val c = new Counters

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phaseMs(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    if (PlanListener.isCatalogCommand(qe)) {
      c.add("catalog_cmds", 1)
      c.add("catalog_ms", durationNs / 1e6)
    } else {
      c.add("executions", 1)
      c.add("analysis_ms", phaseMs(QueryPlanningTracker.ANALYSIS))
      c.add("optimization_ms", phaseMs(QueryPlanningTracker.OPTIMIZATION))
      c.add("planning_ms", phaseMs(QueryPlanningTracker.PLANNING))
      PlanShape.count(qe.executedPlan, c)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanListener {
  import org.apache.spark.sql.catalyst.plans.logical.{Command, V2WriteCommand}
  import org.apache.spark.sql.execution.command.DataWritingCommand
  import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand

  /** A command that only changes the catalog (CREATE/DROP/USE), as opposed
    * to a write that plans and runs a query. */
  def isCatalogCommand(qe: QueryExecution): Boolean = qe.analyzed match {
    case _: V2WriteCommand | _: DataWritingCommand | _: SaveIntoDataSourceCommand => false
    case _: Command => true
    case _ => false
  }
}

private[perfbench] object QueryPlanningTracker {
  val ANALYSIS = org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS
  val OPTIMIZATION = org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION
  val PLANNING = org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING
}

/** Node counts of an executed plan, looking inside adaptive plans and
  * subqueries. */
object PlanShape {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
  import org.apache.spark.sql.execution.joins.BaseJoinExec

  def count(plan: SparkPlan, c: Counters): Unit = {
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan); return
        case q: QueryStageExec => visit(q.plan); return
        case _: LeafExecNode if p.nodeName.contains("Scan") => c.add("scans", 1)
        case _: ShuffleExchangeLike => c.add("exchanges", 1)
        case _: BroadcastExchangeLike => c.add("broadcasts", 1)
        case _: BaseJoinExec => c.add("joins", 1)
        case _ => ()
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
  }
}

object Listeners {
  def install(spark: SparkSession): (JobListener, PlanListener) = {
    val jobs = new JobListener
    val plans = new PlanListener
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    (jobs, plans)
  }

  /** Hadoop FileSystem statistics summed over every scheme. */
  def fsStats(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map(
      "fs_read_mb" -> all.map(_.getBytesRead).sum / 1048576.0,
      "fs_read_ops" -> all.map(s => s.getReadOps.toDouble).sum,
      "fs_list_ops" -> all.map(s => s.getLargeReadOps.toDouble).sum,
      "fs_write_mb" -> all.map(_.getBytesWritten).sum / 1048576.0,
      "fs_write_ops" -> all.map(s => s.getWriteOps.toDouble).sum)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
