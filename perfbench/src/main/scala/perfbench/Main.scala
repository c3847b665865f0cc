package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see README.md). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, scratch: String, spans: String, t0EpochMs: Double,
                      outputs: String)

/** What a workload hands back: its end-to-end metrics (value, unit), the
  * same under the workload's own names, the per-layer metrics it measured
  * (a traced run only), and its operation counts. `failures` names every
  * failed operation. A metric the run could not measure is left out.
  */
final case class Outcome(e2e: ListMap[String, (Double, String)],
                         named: ListMap[String, (Double, String)],
                         layer: Map[String, Double],
                         attempted: Long, failures: Seq[String])

object Main {

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("scratch"), m.getOrElse("spans", ""),
      m.get("t0").map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble),
      m.getOrElse("outputs", ""))
  }

  /** The same session graft.Bench builds, with the run's own store and
    * Spark-local directories.
    */
  def session(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.store.dir", s"${o.scratch}/stores")
      .config("spark.local.dir", s"${o.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.workload == "oracle-sql") { OracleSql.dump(o.outputs); return }
    val trace = new Trace(o.trace)
    val spark = session(o)
    log(o, "spark session up")
    trace.install(spark)
    val out = try {
      o.workload match {
        case "suite" => Suite.run(spark, o, trace)
        case "search_serve" => SearchServe.run(spark, o, trace)
        case "cdc_tick" => CdcTick.run(spark, o, trace)
        case w => sys.error(s"unknown workload $w")
      }
    } finally {
      trace.drain(spark)
      if (o.trace && o.spans.nonEmpty) trace.writeSpans(o.spans, trace.allSpans)
    }
    def metrics(m: Iterable[(String, (Double, String))]) =
      ListMap(m.toSeq.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*)
    println(Json.obj(
      "workload" -> o.workload,
      "attempted" -> out.attempted,
      "failed" -> out.failures.size.toLong,
      "failures" -> out.failures,
      "e2e" -> metrics(out.e2e),
      "named" -> metrics(out.named),
      "layer" -> ListMap(out.layer.toSeq.sortBy(_._1): _*)))
    spark.stop()
  }

  /** The memory metrics, read when a workload's timed window ends, before
    * its correctness checks. `peak_rss_mb` is the JVM's resident-set
    * high-water mark (`VmHWM`); with `-Xms` pinned to `-Xmx` it is mostly
    * the heap the launcher reserves. `live_heap_mb` is the heap the program
    * still holds after two full collections: its stores, caches and Spark
    * state, which is what a change to the program moves.
    */
  def memory(): ListMap[String, (Double, String)] = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val rss = try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
    // Spark's ContextCleaner drops the blocks of broadcasts and shuffles
    // whose driver objects a collection found unreachable, asynchronously;
    // the second collection frees what it dropped
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val live = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    ListMap("peak_rss_mb" -> (rss, "MB"), "live_heap_mb" -> (live / 1048576.0, "MB"))
  }

  /** Seconds from process launch (the runner's timestamp) to now. */
  def sinceLaunchS(o: Opts): Double = (System.currentTimeMillis() - o.t0EpochMs) / 1000.0

  /** A progress line on stderr, stamped with seconds since launch. */
  def log(o: Opts, msg: String): Unit =
    System.err.println(f"[perfbench ${sinceLaunchS(o)}%8.2fs] $msg")

  // ---- statistics ------------------------------------------------------

  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def gmean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Store directories (and their bytes) under the run's store root. */
  def storeInventory(o: Opts): Map[String, Long] = {
    val root = new java.io.File(s"${o.scratch}/stores")
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
      else f.length
    Option(root.listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.startsWith("graft-"))
      .map(f => f.getName -> bytes(f)).toMap
  }

  /** Per-operation means of the listener counters of one phase, as
    * `exec.*` per-layer metrics.
    */
  def execLayer(trace: Trace, phase: String, nOps: Long,
                ops: String => Boolean): Map[String, Double] = {
    val t = trace.execTotals(phase, ops)
    val n = math.max(1L, nOps).toDouble
    Map(
      "exec.jobs" -> t.jobs.get / n, "exec.stages" -> t.stages.get / n,
      "exec.tasks" -> t.tasks.get / n, "exec.sched_delay_ms" -> t.schedDelayMs.get / n,
      "exec.task_cpu_ms" -> t.cpuNs.get / 1e6 / n, "exec.task_run_ms" -> t.runMs.get / n,
      "exec.task_gc_ms" -> t.gcMs.get / n,
      "exec.shuffle_read_bytes" -> t.shuffleRead.get / n,
      "exec.shuffle_write_bytes" -> t.shuffleWrite.get / n,
      "exec.spill_bytes" -> t.spill.get / n,
      "exec.input_rows" -> t.inputRows.get / n,
      "exec.output_rows" -> t.outputRows.get / n)
  }

  /** Per-operation means of span durations, keyed by span name. */
  def spanMeans(spans: Seq[Span], names: Map[String, String], nOps: Long,
                ops: String => Boolean): Map[String, Double] = {
    val n = math.max(1L, nOps).toDouble
    names.map { case (span, metric) =>
      metric -> spans.filter(s => s.name == span && ops(s.op)).map(_.ms).sum / n
    }
  }

  /** The per-layer metrics shared by the query-shaped workloads (suite and
    * search_serve): construction, Catalyst and execution of each timed
    * operation.
    */
  def queryLayers(trace: Trace, timed: String => Boolean, nOps: Long): Map[String, Double] = {
    val spans = trace.allSpans
    val construct = trace.execTotals("construct", timed)
    spanMeans(spans, Map(
      "construct" -> "ops.construct_ms", "exec" -> "exec.ms",
      "catalyst.analysis" -> "catalyst.analysis_ms",
      "catalyst.optimization" -> "catalyst.optimization_ms",
      "catalyst.planning" -> "catalyst.planning_ms"), nOps, timed) ++
      execLayer(trace, "exec", nOps, timed) ++
      Map("ops.construct_jobs" -> construct.jobs.get / math.max(1L, nOps).toDouble)
  }
}
