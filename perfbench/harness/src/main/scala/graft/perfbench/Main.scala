package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `kind` is "read" or "write" for
  * ops that are wholly one or the other; a "mixed" op reports its read
  * and write parts itself through [[Parts]]. */
final case class Op(name: String, kind: String, run: Parts => Unit)

/** Read/write split of a mixed op, filled in by the op while it runs. */
final class Parts {
  var readNs = 0L
  var writeNs = 0L
  def read[T](body: => T): T = { val t0 = System.nanoTime(); try body finally readNs += System.nanoTime() - t0 }
  def write[T](body: => T): T = { val t0 = System.nanoTime(); try body finally writeNs += System.nanoTime() - t0 }
}

/** A closed-loop workload: one client runs the same fixed sequence of ops
  * every pass. Hooks run outside the timed ops. */
trait Workload {
  /** Prepares the workload's starting state; timed, and run several times. */
  def setup(): Unit
  /** The ops of one pass, in order. */
  def ops: IndexedSeq[Op]
  /** Untimed, before each pass. */
  def beforePass(pass: Int): Unit = ()
  /** Untimed, after each op; `checked` passes verify their outputs. */
  def afterOp(pass: Int, i: Int, checked: Boolean): Unit = ()
  /** Untimed, after the timed phase: final checks and dumps. */
  def finish(): Unit = ()
  /** Counters the workload adds to at its layer boundaries. */
  val counters = new Counters
  /** Untimed, traced runs only, after `finish`: per-layer metrics of this
    * workload. `perOp` holds the timed phase's counter deltas per op (the
    * workload's own under "w."); spans cover the `traced` ops. */
  def layerMetrics(traced: Int, perOp: Map[String, Double]): Map[String, Double] = Map.empty
}

/** `classesOnly`: run the set-up and pass 0 and stop, so that the JVM has
  * loaded the classes a run needs (see run.py's class data sharing). */
final case class Args(workload: String, data: String, corpus: String, work: String,
    seconds: Double, trace: Boolean, classesOnly: Boolean)

object Main {
  /** Set-ups per run: one cold, the rest warm; `setup_s` is their median. */
  val Setups = 5

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m.getOrElse("corpus", ""), m("work"),
      m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("classes-only", "0") == "1")
  }

  /** A fixed CPU-bound probe, so a swing in host speed shows beside the
    * metrics. Returns its time in ms. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    phases("jvm") = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = session(args.work)
    phase("spark")
    val tracer = new Tracer(args.trace)
    val (jobs, plans) = Listeners.install(spark)
    val w: Workload = args.workload match {
      case "lineage_ingest" => new LineageWorkload(spark, args, tracer, plans)
      case "query_exec" => new QueryWorkload(spark, args, tracer)
      case "manifest_rw" => new ManifestWorkload(spark, args, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    phase("session")
    val calib = mutable.ArrayBuffer(calibrate())

    def setup(): Double = { val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9 }

    // Pass 0 warms the JVM and checks every output; it is not timed. The
    // set-up is timed once before it, cold, and again after it, warm; the
    // last set-up leaves the state the timed passes start from.
    val setupS = mutable.ArrayBuffer(setup())
    val ops = w.ops
    w.beforePass(0)
    val pass0Ms = ops.indices.map { i =>
      val t0 = System.nanoTime()
      ops(i).run(new Parts)
      val dt = (System.nanoTime() - t0) / 1e6
      w.afterOp(0, i, checked = true)
      dt
    }
    (2 to Setups).foreach(_ => setupS += setup())
    phase("setup_and_pass0")
    if (args.classesOnly) { spark.stop(); return }

    // Timed passes: whole passes until the ops have run for `seconds`, and
    // at least two. A traced run traces every other op, alternating from
    // pass to pass, so each op runs traced and untraced equally often and
    // the tracing overhead is the difference between the two.
    final case class Rec(pass: Int, op: String, kind: String, ns: Long, readNs: Long,
        writeNs: Long, cpuNs: Long, traced: Boolean)
    val recs = mutable.ArrayBuffer.empty[Rec]
    heapPools.foreach(_.resetPeakUsage())
    Listeners.drain(spark)
    def snap() = jobs.snapshot().map { case (k, v) => s"operators.$k" -> v } ++
      plans.c.snapshot().map { case (k, v) => s"plans.$k" -> v } ++
      Listeners.fsStats().map { case (k, v) => s"sources.$k" -> v } ++
      w.counters.snapshot().map { case (k, v) => s"w.$k" -> v }
    val before = snap()
    var opsNs = 0L
    var pass = 0
    var midProbe = false
    var opId = 0
    while (opsNs < args.seconds * 1e9 || pass < 2) {
      pass += 1
      w.beforePass(pass)
      ops.indices.foreach { i =>
        val op = ops(i)
        val traced = args.trace && (i + pass) % 2 == 0
        val parts = new Parts
        if (traced) tracer.beginOp(opId) else tracer.beginOp(-1)
        val c0 = cpuNs()
        val t0 = System.nanoTime()
        if (traced) tracer.span("op")(op.run(parts)) else op.run(parts)
        val dt = System.nanoTime() - t0
        val dc = cpuNs() - c0
        val (r, wr) = op.kind match {
          case "read" => (dt, 0L)
          case "write" => (0L, dt)
          case _ => (parts.readNs, parts.writeNs)
        }
        recs += Rec(pass, op.name, op.kind, dt, r, wr, dc, traced)
        opsNs += dt
        opId += 1
        w.afterOp(pass, i, checked = false)
      }
      if (!midProbe && opsNs >= args.seconds * 1e9 / 2) { calib += calibrate(); midProbe = true }
    }
    tracer.beginOp(-1)
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    Listeners.drain(spark)
    val after = snap()
    calib += calibrate()
    phase("timed")
    w.finish()
    phase("finish")

    val out = new StringBuilder
    def num(x: Double) = if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)
    out ++= s"""{"workload":"${args.workload}","passes":$pass,"ops_per_pass":${ops.length},"""
    out ++= s""""setup_s":[${setupS.map(num).mkString(",")}],"""
    out ++= s""""calibration_ms":[${calib.map(num).mkString(",")}],"""
    out ++= s""""pass0_ms":[${pass0Ms.map(num).mkString(",")}],"""
    out ++= s""""peak_heap_mb":${num(peakHeapMb)},"""
    out ++= "\"ops\":[" + recs.map { r =>
      s"""{"pass":${r.pass},"op":"${r.op}","kind":"${r.kind}","ms":${num(r.ns / 1e6)},""" +
        s""""read_ms":${num(r.readNs / 1e6)},"write_ms":${num(r.writeNs / 1e6)},""" +
        s""""cpu_ms":${num(r.cpuNs / 1e6)},"traced":${r.traced}}"""
    }.mkString(",") + "]"
    if (args.trace) {
      val tracedOps = recs.count(_.traced)
      val perOp = (before.keySet ++ after.keySet).map { k =>
        k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)) / recs.length
      }.toMap
      // Listener, file-system and workload counters cover every timed op,
      // traced or not; spans cover the traced ones.
      val layer = mutable.LinkedHashMap.empty[String, Double]
      Seq("plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms", "plans.executions",
        "plans.scans", "plans.exchanges", "plans.joins", "plans.broadcasts",
        "operators.jobs", "operators.stages", "operators.tasks", "operators.job_ms",
        "operators.executor_cpu_ms", "operators.gc_ms", "operators.shuffle_mb",
        "operators.spill_mb", "sources.fs_read_mb", "sources.fs_read_ops",
        "sources.fs_list_ops", "sources.fs_write_mb", "sources.fs_write_ops")
        .foreach(k => layer(k) = perOp.getOrElse(k, 0.0))
      val meanOpMs = recs.map(_.ns).sum / 1e6 / recs.length
      layer("operators.outside_jobs_ms") = meanOpMs - layer("operators.job_ms")
      val self = tracer.selfMs(_ >= 0)
      layer("unaccounted_ms") = self.getOrElse("op", 0.0) / math.max(tracedOps, 1)
      layer ++= w.layerMetrics(tracedOps, perOp + ("op_ms" -> meanOpMs))
      val tracedMean = recs.filter(_.traced).map(_.ns).sum / 1e6 / math.max(tracedOps, 1)
      val plainMean = recs.filterNot(_.traced).map(_.ns).sum / 1e6 / math.max(recs.length - tracedOps, 1)
      layer("trace.overhead_pct") = (tracedMean / plainMean - 1) * 100
      out ++= ",\"layers\":{" + layer.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",") + "}"
      out ++= ",\"self_ms\":{" + self.toSeq.sorted.map { case (k, v) =>
        s""""$k":${num(v / math.max(tracedOps, 1))}""" }.mkString(",") + "}"
      tracer.write(s"${args.work}/spans.jsonl")
    }
    phase("layers")
    out ++= ",\"phase_s\":{" + phases.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",") + "}"
    out ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${args.work}/result.json"), out.toString)
    spark.stop()
  }
}
