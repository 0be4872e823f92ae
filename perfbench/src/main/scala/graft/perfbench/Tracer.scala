package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans and counters recorded by the benchmark around its calls into the
  * program's modules. Off (`enabled = false`) it only runs the wrapped code,
  * so untraced runs pay nothing; on, it keeps every span in memory,
  * attributes Spark jobs and their tasks to the span open when the job
  * started (via a job-local property), SQL executions and their driver-side
  * SQL metrics to their op (via the op's job group), and external catalog
  * events to the op running when the program made the catalog call.
  * Everything is written out once, at the end.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** The op the spans opened now belong to; -1 outside ops. */
  var op: Int = -1
  /** Counts the benchmark records at a layer boundary, by name. */
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** External catalog changes (table creates, drops, renames, alters) made
    * inside ops.
    */
  var catalogEvents = 0L

  private val listener = new SpanListener
  private val stopCatalogEvents: () => Unit =
    if (!enabled) () => ()
    else {
      sc.addSparkListener(listener)
      // events come in pre/post pairs on the calling thread; count the
      // completed changes
      org.apache.spark.graftbench.ListenerBus.onCatalogEvent(spark) { e =>
        if (op >= 0 && !e.getClass.getSimpleName.endsWith("PreEvent")) catalogEvents += 1
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, s"$id")
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, start, end, parent, op)
      }
    }

  def count(name: String, by: Double = 1.0): Unit = if (enabled) counts(name) += by

  /** Waits for the listener bus, then stops listening. */
  def finish(): Unit = if (enabled) {
    stopCatalogEvents()
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Seconds spent in spans called `name`. */
  def busy(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum

  /** Task metrics summed over jobs whose innermost open span was called
    * one of `names` or nested inside one of them.
    */
  def tasks(names: Set[String]): TaskAgg = {
    val byId = spans.iterator.map(s => s.id -> s).toMap
    def under(id: Int): Boolean =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
        .takeWhile(_.isDefined).exists(s => names.contains(s.get.name))
    val agg = new TaskAgg
    listener.perSpan.foreach { case (id, a) => if (under(id)) agg.add(a) }
    agg
  }

  /** The SQL executions that ran inside ops. */
  def opSqlExecs: Seq[SqlExec] = listener.sqlExecs.filter(_.op >= 0).toSeq

  /** Wall seconds from the first start to the last end of the SQL
    * executions whose plan mentions `marker`, summed over ops.
    */
  def sqlWindow(marker: String): Double =
    opSqlExecs.filter(_.plan.contains(marker))
      .groupBy(_.op).values
      .map(es => (es.map(_.end).max - es.map(_.start).min) / 1e3)
      .sum

  /** One JSON object per line: every span, for the run's trace file. */
  def spansJsonl: String = spans.iterator.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}"""
  }.mkString("", "\n", "\n")
}

object Tracer {
  val SpanProperty = "graft.perfbench.span"

  /** Driver-side SQL metrics the tracer sums per SQL execution, by the
    * name Spark gives them: the file scan's and the file write's.
    */
  val DriverMetrics = Set("size of files read", "number of written files")

  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

  final class TaskAgg {
    var jobs = 0L
    var tasks = 0L
    var runS = 0.0
    var schedWaitS = 0.0
    var gcS = 0.0
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitS = 0.0
    var spill = 0L
    var scanRows = 0L
    var sinkBytes = 0L

    def add(o: TaskAgg): Unit = {
      jobs += o.jobs; tasks += o.tasks; runS += o.runS; schedWaitS += o.schedWaitS
      gcS += o.gcS; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      fetchWaitS += o.fetchWaitS; spill += o.spill; scanRows += o.scanRows
      sinkBytes += o.sinkBytes
    }
  }

  /** One SQL execution: its op, plan text, start and end (epoch ms), the
    * Spark jobs it ran and its driver-side metrics by name.
    */
  final case class SqlExec(op: Int, plan: String, start: Long, end: Long, jobs: Int,
      driverMetrics: Map[String, Long])

  /** Job group every op runs under; it lets a timed-out op be cancelled and
    * SQL executions (which carry no span property) be attributed to ops.
    */
  def opGroup(op: Int): String = s"perfbench-op-$op"

  private def opOfGroup(g: String): Int =
    if (g.startsWith("perfbench-op-")) g.stripPrefix("perfbench-op-").toInt else -1

  private final class OpenExec(val op: Int, val plan: String, val start: Long) {
    var jobs = 0
    val metrics: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  }

  /** Attributes jobs and tasks to the span open when their job started, and
    * jobs and driver metrics to their SQL execution.
    */
  private final class SpanListener extends SparkListener {
    val perSpan = mutable.Map.empty[Int, TaskAgg]
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val open = mutable.Map.empty[Long, OpenExec]
    /** Accumulator id of a [[DriverMetrics]] metric → (execution, name). */
    private val metricOf = mutable.Map.empty[Long, (Long, String)]
    val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]

    private def spanOf(props: java.util.Properties): Option[Int] =
      Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt)

    private def watchMetrics(exec: Long, plan: SparkPlanInfo): Unit = {
      plan.metrics.foreach { m =>
        if (DriverMetrics.contains(m.name)) metricOf(m.accumulatorId) = (exec, m.name)
      }
      plan.children.foreach(watchMetrics(exec, _))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties).foreach { id =>
        perSpan.getOrElseUpdate(id, new TaskAgg).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
      for (p <- Option(e.properties);
           exec <- Option(p.getProperty("spark.sql.execution.id"));
           o <- open.get(exec.toLong)) o.jobs += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = perSpan.getOrElseUpdate(id, new TaskAgg)
        val info = e.taskInfo
        val runMs = m.executorRunTime
        val overheadMs = m.executorDeserializeTime + m.resultSerializationTime +
          info.gettingResultTime
        a.tasks += 1
        a.runS += runMs / 1e3
        a.schedWaitS += math.max(0L, info.duration - runMs - overheadMs) / 1e3
        a.gcS += m.jvmGCTime / 1e3
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
        a.spill += m.diskBytesSpilled
        a.scanRows += m.inputMetrics.recordsRead
        a.sinkBytes += m.outputMetrics.bytesWritten
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          open(s.executionId) =
            new OpenExec(s.jobGroupId.fold(-1)(opOfGroup), s.physicalPlanDescription, s.time)
          watchMetrics(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          watchMetrics(u.executionId, u.sparkPlanInfo)
        case u: SparkListenerDriverAccumUpdates =>
          u.accumUpdates.foreach { case (id, v) =>
            metricOf.get(id).foreach { case (exec, name) =>
              open.get(exec).foreach(_.metrics(name) += v)
            }
          }
        case end: SparkListenerSQLExecutionEnd =>
          open.remove(end.executionId).foreach { o =>
            sqlExecs += SqlExec(o.op, o.plan, o.start, end.time, o.jobs, o.metrics.toMap)
          }
        case _ =>
      }
    }
  }
}
