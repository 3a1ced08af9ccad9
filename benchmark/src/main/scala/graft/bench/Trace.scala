package graft.bench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Times are epoch nanoseconds; `parent` is -1 for an
  * operation's root span; `trace` is the operation index (-1 in set-up). */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      layer: String, startNs: Long, endNs: Long)

/** Which repository module and file issued a Spark job, from the call
  * site Spark records for it (its action's stack, innermost frame first). */
object Attribution {
  private val Frame = """^(graft\.[\w.$]+)\.[\w$<>]+\(([\w.]+\.scala):\d+\)""".r

  /** (module, file) of each repository frame of a long-form call site,
    * innermost first; the module is the package under `graft`. */
  def frames(longCallSite: String): Seq[(String, String)] =
    longCallSite.linesIterator.map(_.trim).collect {
      case Frame(cls, file) =>
        val parts = cls.split('.')
        (if (parts.length > 2) parts(1) else "graft", file)
    }.toSeq
}

/** Physical operators that run outside whole-stage codegen. Stage and
  * exchange plumbing, and the write command wrapping a plan, are not
  * counted. */
object PlanCounters {
  def interpretedOps(p: SparkPlan, inCodegen: Boolean = false): Int = p match {
    case a: AdaptiveSparkPlanExec => interpretedOps(a.executedPlan, inCodegen)
    case q: QueryStageExec        => interpretedOps(q.plan, false)
    case w: WholeStageCodegenExec => interpretedOps(w.child, true)
    case i: InputAdapter          => interpretedOps(i.child, false)
    case _: ReusedExchangeExec    => 0
    case e: Exchange              => e.children.map(interpretedOps(_, false)).sum
    case other =>
      val name = other.getClass.getSimpleName
      val plumbing = name.contains("Command") || name.startsWith("WriteFiles")
      (if (inCodegen || plumbing) 0 else 1) +
        other.children.map(interpretedOps(_, inCodegen)).sum
  }
}

/** Spans around the benchmark's calls into each module, and per-operation
  * counters from a SparkListener and a QueryExecutionListener. Both
  * listeners are registered only while a traced operation runs. */
final class Tracer(spark: SparkSession) {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = System.nanoTime() + epochOffsetNs

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var trace = -1
  private var on = false
  // listener state: touched on the listener-bus thread, read after a drain
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.Map.empty[Int, (Long, String, String, Map[String, String])]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, String, String)]
  // SQL execution id -> long call site of the action that started it:
  // jobs that adaptive execution submits for a query stage carry no
  // repository frame themselves, only their execution's id
  private val executionSites = mutable.Map.empty[Long, String]

  private def add(key: String, v: Double): Unit = counters.synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  // time spent in the listeners' callbacks: the tracing's own cost
  private def timedCallback(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    add("trace.listener_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` inside a span; a no-op wrapper while tracing is off. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowNs
      try body
      finally {
        spans(id) = Span(id, parent, trace, name, layer, t0, nowNs)
        stack = stack.tail
        add(s"$name.s", (spans(id).endNs - t0) / 1e9)
        add(s"$name.calls", 1)
      }
    }

  /** A set-up step (no operation), traced when `traced`. */
  def setupSpan[T](traced: Boolean, layer: String, name: String)(body: => T): T = {
    on = traced
    try span(layer, name)(body) finally on = false
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timedCallback {
        counters.synchronized { executionSites(s.executionId) = s.details }
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timedCallback {
      val own = Attribution.frames(e.stageInfos.headOption.map(_.details).getOrElse(""))
      val frames =
        if (own.nonEmpty) own
        else Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => counters.synchronized(executionSites.get(id.toLong)))
          .map(Attribution.frames).getOrElse(Nil)
      val (module, file) = frames.headOption.getOrElse(("spark", "-"))
      // per module on the stack, its innermost file: a job an llm call
      // issues through core.Caching still counts for that llm file
      val via = frames.reverse.toMap
      counters.synchronized { jobStarts(e.jobId) = (e.time, module, file, via) }
      add("exec.jobs", 1)
      add(s"jobs.$module", 1)
      add(s"jobs.$file", 1)
      via.keys.foreach(m => add(s"jobs.via.$m", 1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCallback {
      counters.synchronized {
        jobStarts.remove(e.jobId).foreach { case (t0, module, file, via) =>
          val s = (e.time - t0) / 1e3
          add(s"job_s.$module", s)
          add(s"job_s.$file", s)
          via.values.foreach(f => add(s"job_s.via.$f", s))
          jobSpans += ((t0, e.time, module, file))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback {
      val info = e.taskInfo
      add("exec.tasks", 1)
      if (!info.successful) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_s", m.executorRunTime / 1e3)
        val overhead = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        add("exec.sched_delay_s", math.max(0L, info.duration - overhead) / 1e3)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
        add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timedCallback {
      val phases = qe.tracker.phases.values
      add("core.plan_s", phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3)
      add("core.interpreted_ops", PlanCounters.interpretedOps(qe.executedPlan))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private var gc0 = 0L
  private var spansFrom = 0

  /** Open operation `i`: tracing on for it when `traced`. */
  def begin(i: Int, traced: Boolean): Unit = {
    trace = i
    on = traced
    counters.clear()
    jobSpans.clear()
    executionSites.clear()
    spansFrom = spans.size
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      gc0 = gcMs
    }
  }

  /** Close the current operation after its root span ended; returns its
    * counters (empty when untraced). Job spans are added under the
    * innermost benchmark span open when the job started. */
  def end(): Map[String, Double] = {
    if (!on) return Map.empty
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    add("exec.gc_s", (gcMs - gc0) / 1e3)
    val mine = spans.slice(spansFrom, spans.size).toVector
    jobSpans.foreach { case (t0, t1, module, file) =>
      val s0 = t0 * 1000000L
      val enclosing = mine.filter(s => s.startNs <= s0 + 1000000L && s0 <= s.endNs)
      val parent = if (enclosing.isEmpty) None else Some(enclosing.maxBy(_.startNs))
      parent.foreach(p => add(s"jobs_in.${p.layer}", 1))
      spans += Span(spans.size, parent.map(_.id).getOrElse(-1), trace,
        s"job:$module/$file", "exec", s0, t1 * 1000000L)
    }
    on = false
    counters.toMap
  }

  /** Write every span as one JSON line. */
  def write(path: String): Unit = {
    val lines = spans.iterator.filter(_ != null).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.toSeq.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}
