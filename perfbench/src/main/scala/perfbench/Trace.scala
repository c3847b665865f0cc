package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are nanoseconds on the run's monotonic clock;
  * `parent` is the enclosing span's id (0 = none), `op` the operation id the
  * span belongs to ("" outside operations).
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-(operation, phase) counters fed by the Spark listener bus. */
final class ExecAgg {
  val jobs, stages, tasks = new AtomicLong
  val schedDelayMs, cpuNs, runMs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, inputRows, outputRows = new AtomicLong
}

/** The benchmark's tracing layer. Disabled (the untraced runs) it records
  * nothing and registers no listener, so an untraced run measures the
  * library alone.
  *
  * Layer boundaries come from outside the library:
  *  - every client thread tags its jobs with the local properties
  *    `perfbench.op` (operation id) and `perfbench.phase` ("construct" while
  *    a face builds its DataFrame, "exec" during the action), so the
  *    listener splits jobs, stages and tasks between the `ops` and `exec`
  *    layers;
  *  - the action's Catalyst phases come from `QueryExecution.tracker`,
  *    delivered by a [[QueryExecutionListener]] and matched to the
  *    operation through the SQL execution id its jobs carry;
  *  - everything else is a [[Span]] recorded around a call.
  */
final class Trace(val enabled: Boolean) {
  val t0Ns: Long = System.nanoTime()
  private val epochMsAtT0 = System.currentTimeMillis()
  private val nextId = new AtomicInteger
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val curOp = ThreadLocal.withInitial[String](() => "")

  /** (op, phase) → counters */
  val exec = new ConcurrentHashMap[(String, String), ExecAgg]
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]
  private val execIdOwner = new ConcurrentHashMap[Long, (String, String)]
  /** SQL execution id → (analysis, optimization, planning) phase times */
  private val phases = new ConcurrentHashMap[Long, Seq[(String, Long, Long)]]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val s = System.nanoTime()
      try body
      finally {
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0), curOp.get, name, s,
          System.nanoTime()))
      }
    }

  /** Record a span measured elsewhere (e.g. by a callback seam). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(nextId.incrementAndGet(),
      stack.get.headOption.getOrElse(0), curOp.get, name, startNs, endNs))

  /** Run `body` as operation `op`: its spans and Spark jobs are tagged. */
  def op[T](spark: SparkSession, op: String)(body: => T): T =
    if (!enabled) body
    else {
      curOp.set(op)
      spark.sparkContext.setLocalProperty("perfbench.op", op)
      try span("op")(body)
      finally {
        curOp.set("")
        spark.sparkContext.setLocalProperty("perfbench.op", null)
        spark.sparkContext.setLocalProperty("perfbench.phase", null)
      }
    }

  /** Mark the current thread's jobs as belonging to `phase` from now on. */
  def phase(spark: SparkSession, phase: String): Unit =
    if (enabled) spark.sparkContext.setLocalProperty("perfbench.phase", phase)

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def agg(owner: (String, String)): ExecAgg =
    exec.computeIfAbsent(owner, _ => new ExecAgg)

  private def ownerOf(props: java.util.Properties): (String, String) =
    if (props == null) ("", "")
    else (Option(props.getProperty("perfbench.op")).getOrElse(""),
      Option(props.getProperty("perfbench.phase")).getOrElse("construct"))

  private val listener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit = {
      val owner = ownerOf(ev.properties)
      agg(owner).jobs.incrementAndGet()
      ev.stageIds.foreach(stageOwner.put(_, owner))
      Option(ev.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(e => execIdOwner.putIfAbsent(e.toLong, owner))
    }
    override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit =
      agg(stageOwner.getOrDefault(ev.stageInfo.stageId, ownerOf(ev.properties)))
        .stages.incrementAndGet()
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
      val a = agg(stageOwner.getOrDefault(ev.stageId, ("", "")))
      a.tasks.incrementAndGet()
      val m = ev.taskMetrics
      val info = ev.taskInfo
      if (m != null) {
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.runMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.inputRows.addAndGet(m.inputMetrics.recordsRead)
        a.outputRows.addAndGet(m.outputMetrics.recordsWritten)
        // the Spark UI's scheduler delay: task duration not spent
        // deserializing, running or serializing the result
        if (info != null && info.finishTime > 0) a.schedDelayMs.addAndGet(math.max(0L,
          (info.finishTime - info.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      phases.put(qe.id, Seq("analysis", "optimization", "planning").flatMap { p =>
        ph.get(p).map(s => (p, s.startTimeMs, s.endTimeMs))
      })
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    var prev = -1L
    var same = 0
    while (same < 3) {
      Thread.sleep(20)
      val cur = exec.values.asScala.map(a => a.tasks.get + a.jobs.get).sum + phases.size
      if (cur == prev) same += 1 else { same = 0; prev = cur }
    }
  }

  /** Catalyst phase spans of every action, resolved to their operation and
    * parented under that operation's exec span. Call after [[drain]].
    */
  private def catalystSpans(all: Seq[Span]): Seq[Span] = {
    val execSpanOf = all.filter(_.name == "exec").groupBy(_.op)
    phases.asScala.toSeq.flatMap { case (eid, ps) =>
      Option(execIdOwner.get(eid)).filter(_._2 == "exec").toSeq.flatMap { case (op, _) =>
        val parent = execSpanOf.get(op).flatMap(_.headOption).map(_.id).getOrElse(0)
        ps.map { case (p, s, e) =>
          Span(nextId.incrementAndGet(), parent, op, s"catalyst.$p",
            toNs(s), toNs(e))
        }
      }
    }
  }

  private def toNs(epochMs: Long): Long = t0Ns + (epochMs - epochMsAtT0) * 1000000L

  def allSpans: Seq[Span] = {
    val base = spans.asScala.toSeq
    base ++ catalystSpans(base)
  }

  /** Counters summed over every operation, for one phase. */
  def execTotals(phase: String, ops: String => Boolean): ExecAgg = {
    val t = new ExecAgg
    exec.asScala.foreach { case ((op, ph), a) =>
      if (ph == phase && ops(op)) {
        Seq(t.jobs -> a.jobs, t.stages -> a.stages, t.tasks -> a.tasks,
          t.schedDelayMs -> a.schedDelayMs, t.cpuNs -> a.cpuNs, t.runMs -> a.runMs,
          t.gcMs -> a.gcMs, t.shuffleRead -> a.shuffleRead,
          t.shuffleWrite -> a.shuffleWrite, t.spill -> a.spill,
          t.inputRows -> a.inputRows, t.outputRows -> a.outputRows)
          .foreach { case (dst, src) => dst.addAndGet(src.get) }
      }
    }
    t
  }

  /** Write every span as one JSON line, with its self time (its duration
    * minus its direct children's).
    */
  def writeSpans(path: String, all: Seq[Span]): Unit = {
    val childMs = all.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val self = s.ms - childMs.getOrElse(s.id, 0.0)
      w.println(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6,
        "self_ms" -> self))
    } finally w.close()
  }
}

/** Minimal JSON rendering (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
