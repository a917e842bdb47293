package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * (driver threads) and listener events (epoch milliseconds) share one
  * time base.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Int, layer: String, name: String, parent: Int, op: Int,
    t0: Long, t1: Long)

/** Span recorder. A span is a timed call into one layer of the program;
  * the root span of each operation has layer "op". While a span is open,
  * the thread's Spark local property `perfbench.span` names it, so every
  * job the call launches is tagged with the innermost open span; the op is
  * also added as a job tag, which Spark copies onto SQL executions.
  * Spans stay in memory and are written out at exit.
  */
object Spans {
  @volatile var enabled = false
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (span id, op id)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private var sc: SparkContext = _

  def init(context: SparkContext): Unit = sc = context

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Id of the innermost open op on this thread, 0 outside ops. */
  def currentOp: Int = stack.get().headOption.map(_._2).getOrElse(0)

  /** Open an operation: a root span whose id is also the op id. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val tag = s"pbop-$id"
      sc.addJobTag(tag)
      sc.setLocalProperty("perfbench.op", id.toString)
      try frame(id, "op", name, id)(body)
      finally {
        sc.removeJobTag(tag)
        sc.setLocalProperty("perfbench.op", null)
      }
    }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else stack.get() match {
      case Nil => body // outside any op: not attributed
      case (_, opId) :: _ => frame(ids.incrementAndGet(), layer, name, opId)(body)
    }

  private def frame[T](id: Int, layer: String, name: String, opId: Int)(body: => T): T = {
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0)
    stack.set((id, opId) :: outer)
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = Clock.us()
    try body
    finally {
      val t1 = Clock.us()
      stack.set(outer)
      sc.setLocalProperty("perfbench.span", if (parent == 0) null else parent.toString)
      done.add(Span(id, layer, name, parent, opId, t0, t1))
    }
  }
}

final case class JobRec(id: Int, op: Int, span: Int, t0: Long, var t1: Long, stages: Seq[Int])
final case class StageRec(var tasks: Int, var failedTasks: Int, var shuffleRead: Long,
    var shuffleWrite: Long, var spill: Long, var bytesWritten: Long)
final case class SqlRec(id: Long, op: Int, t0: Long, var t1: Long, planChars: Int,
    var analysisMs: Long, var optimizationMs: Long, var planningMs: Long)

/** Scheduler and SQL-execution observer. Keeps only jobs and executions
  * launched inside a traced op; untraced runs do not register it.
  */
final class Recorder extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val sql = new java.util.concurrent.ConcurrentHashMap[Long, SqlRec]()

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, "perfbench.op")
    if (op != 0) {
      val ss = e.stageIds
      ss.foreach(s => stages.putIfAbsent(s, StageRec(0, 0, 0L, 0L, 0L, 0L)))
      jobs.put(e.jobId, JobRec(e.jobId, op, prop(e.properties, "perfbench.span"),
        e.time * 1000L, 0L, ss))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.t1 = e.time * 1000L
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.get(e.stageId)
    if (s != null) s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobTags.find(_.startsWith("pbop-")).foreach { tag =>
        sql.put(s.executionId, SqlRec(s.executionId, tag.stripPrefix("pbop-").toInt,
          s.time * 1000L, 0L, Option(s.physicalPlanDescription).map(_.length).getOrElse(0),
          0L, 0L, 0L))
      }
    case x: SparkListenerSQLExecutionEnd =>
      val r = sql.get(x.executionId)
      if (r != null) {
        r.t1 = x.time * 1000L
        val ph = org.apache.spark.sql.PerfbenchAccess.phases(x)
        r.analysisMs = ph.getOrElse("analysis", 0L)
        r.optimizationMs = ph.getOrElse("optimization", 0L)
        r.planningMs = ph.getOrElse("planning", 0L)
      }
    case _ =>
  }
}
