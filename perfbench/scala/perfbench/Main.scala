package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark process: session, set-up repetitions and the timed
  * passes, driven by `<work>/plan.properties` (written by
  * `perfbench/run.py`). Writes every raw measurement to
  * `<work>/jvm.json`; metrics and correctness checks are computed by the
  * Python side.
  *
  * Usage: perfbench.Main <work dir>
  */
object Main {

  final case class OpRec(seq: Int, name: String, pass: Int, kind: String,
      t0: Long, tb: Long, t1: Long, span: Int)
  final case class PassRec(pass: Int, kind: String, t0: Long, t1: Long, traced: Boolean,
      persistedRdds: Int)

  final class Run(val spark: SparkSession, val plan: Map[String, String], val work: Path) {
    val trace: Boolean = plan("trace") == "1"
    val seconds: Double = plan("seconds").toDouble
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val passes = ArrayBuffer.empty[PassRec]
    val setupReps = ArrayBuffer.empty[Double]
    val extra = ArrayBuffer.empty[(String, String)] // raw JSON fields
    private val seq = new AtomicInteger(0)

    /** Time one operation. `tb` marks the end of its build half. */
    def op(name: String, pass: Int, kind: String)(body: (() => Unit) => Unit): Unit = {
      val t0 = Clock.us()
      var tb = 0L
      var span = 0
      try Spans.op(name) {
        span = Spans.currentOp
        body(() => tb = Clock.us())
      } finally { // a failed attempt is recorded too: retries show as extra ops
        val t1 = Clock.us()
        ops.add(OpRec(seq.incrementAndGet(), name, pass, kind, t0, if (tb == 0L) t1 else tb, t1, span))
      }
    }

    /** Run one pass; in a traced run, every other timed pass is traced so
      * the same process also measures the untraced baseline.
      */
    def pass(n: Int, kind: String, traced: Boolean)(body: => Unit): Unit = {
      org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
      Spans.enabled = traced
      val t0 = Clock.us()
      body
      val t1 = Clock.us()
      Spans.enabled = false
      passes += PassRec(n, kind, t0, t1, traced, spark.sparkContext.getPersistentRDDs.size)
    }

    def tracedPass(n: Int): Boolean = trace && n % 2 == 1
  }

  def main(args: Array[String]): Unit = {
    val mainUs = Clock.us()
    val work = Paths.get(args(0))
    val plan = Files.readAllLines(work.resolve("plan.properties")).asScala
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val spark = graft.Sessions.local(plan("cpus").toInt, "perfbench")
    Spans.init(spark.sparkContext)
    val recorder = if (plan("trace") == "1") {
      val r = new Recorder; spark.sparkContext.addSparkListener(r); Some(r)
    } else None
    val run = new Run(spark, plan, work)
    val sessionUs = Clock.us()
    plan("workload") match {
      case "etl_upsert" => Etl.run(run)
      case _ => QueryLoad.run(run)
    }
    org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
    val storage = spark.sparkContext.getRDDStorageInfo
    val json = new Json
    json.field("main_us", mainUs).field("session_us", sessionUs)
      .field("setup_reps", run.setupReps.toSeq)
      .field("persisted_rdds_end", spark.sparkContext.getPersistentRDDs.size)
      .field("cache_held_bytes", storage.map(s => s.memSize + s.diskSize).sum)
    json.arr("passes", run.passes.toSeq) { (j, p) =>
      j.field("pass", p.pass).field("kind", p.kind).field("t0", p.t0).field("t1", p.t1)
        .field("traced", p.traced).field("persisted_rdds", p.persistedRdds)
    }
    json.arr("ops", run.ops.asScala.toSeq.sortBy(_.seq)) { (j, o) =>
      j.field("name", o.name).field("pass", o.pass).field("kind", o.kind).field("t0", o.t0)
        .field("tb", o.tb).field("t1", o.t1).field("span", o.span)
    }
    run.extra.foreach { case (k, v) => json.raw(k, v) }
    recorder.foreach { r =>
      json.arr("spans", Spans.all) { (j, s) =>
        j.field("id", s.id).field("layer", s.layer).field("name", s.name)
          .field("parent", s.parent).field("op", s.op).field("t0", s.t0).field("t1", s.t1)
      }
      json.arr("jobs", r.jobs.values.asScala.toSeq.sortBy(_.id)) { (j, x) =>
        val st = x.stages.flatMap(s => Option(r.stages.get(s)))
        j.field("id", x.id).field("op", x.op).field("span", x.span).field("t0", x.t0)
          .field("t1", x.t1)
          .field("tasks", st.map(_.tasks).sum).field("failed_tasks", st.map(_.failedTasks).sum)
          .field("shuffle_read", st.map(_.shuffleRead).sum)
          .field("shuffle_write", st.map(_.shuffleWrite).sum)
          .field("spill", st.map(_.spill).sum).field("bytes_written", st.map(_.bytesWritten).sum)
      }
      json.arr("sql", r.sql.values.asScala.toSeq.sortBy(_.id)) { (j, x) =>
        j.field("op", x.op).field("t0", x.t0).field("t1", x.t1).field("plan_chars", x.planChars)
          .field("analysis_ms", x.analysisMs).field("optimization_ms", x.optimizationMs)
          .field("planning_ms", x.planningMs)
      }
    }
    Files.writeString(work.resolve("jvm.json"), json.result)
    spark.stop()
  }
}

/** Minimal JSON object writer (numbers, strings, booleans, arrays). */
final class Json {
  private val sb = new StringBuilder("{")
  private def key(k: String): Unit = {
    if (sb.length > 1) sb.append(',')
    sb.append(Json.quote(k)).append(':')
  }
  def field(k: String, v: Long): Json = { key(k); sb.append(v); this }
  def field(k: String, v: Int): Json = { key(k); sb.append(v); this }
  def field(k: String, v: Boolean): Json = { key(k); sb.append(v); this }
  def field(k: String, v: String): Json = { key(k); sb.append(Json.quote(v)); this }
  def field(k: String, v: Seq[Double]): Json = { key(k); sb.append(v.mkString("[", ",", "]")); this }
  def raw(k: String, v: String): Json = { key(k); sb.append(v); this }
  def arr[T](k: String, xs: Seq[T])(f: (Json, T) => Json): Json = {
    key(k)
    sb.append(xs.map(x => f(new Json, x).result).mkString("[", ",", "]"))
    this
  }
  def result: String = sb.toString + "}"
}

object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
