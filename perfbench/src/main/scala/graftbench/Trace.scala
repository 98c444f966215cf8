package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution: one
  * epoch anchor plus the monotonic clock, so spans and the listener's
  * epoch-ms event times share a time base. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A named interval of the run. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, query: String,
    start: Double, end: Double)

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]

  def time[T](name: String, query: String, parent: Int)(body: Int => T): (T, Span) = {
    val id = buf.length
    buf += Span(id, parent, name, query, Clock.nowMs, Double.NaN)
    val start = buf(id).start
    val out = body(id)
    val span = Span(id, parent, name, query, start, Clock.nowMs)
    buf(id) = span
    (out, span)
  }

  def all: Seq[Span] = buf.toSeq
}

/** Records Spark's own job, task and SQL-action events through the public
  * `SparkListener` and `QueryExecutionListener` interfaces. Jobs carry
  * the job group of the thread that submitted them; `Par.async` threads
  * inherit the group of the query that started them. */
final class EventLog extends SparkListener with QueryExecutionListener {
  import EventLog._

  @volatile var recording = false
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val actions = new ConcurrentLinkedQueue[Action]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    if (recording) {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, group, e.time, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    if (recording && m != null) {
      val i = e.taskInfo
      tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private def action(func: String, qe: QueryExecution, ns: Long, failed: Boolean): Unit = {
    touch()
    if (recording) {
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      actions.add(Action(func, phases, ns, failed))
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    action(func, qe, ns, failed = false)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    action(func, qe, 0L, failed = true)

  /** Wait until every recorded job has ended and the listener bus has been
    * quiet for a moment, so a pass's events are complete before they are
    * read. Bounded: a run never hangs on a lost event. */
  def quiesce(maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def open = jobs.values().asScala.exists(_.end < 0)
    while (System.nanoTime() < deadline &&
        (open || System.nanoTime() - lastEvent.get() < 150000000L))
      Thread.sleep(20)
  }

  def json: String = {
    val js = jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj("id" -> j.id, "group" -> j.group, "start" -> j.start,
        "end" -> j.end, "stages" -> j.stages)
    }
    val ts = tasks.asScala.toSeq.map { t =>
      Seq(t.stage, t.launch, t.finish, t.runMs, t.cpuNs, t.gcMs, t.inBytes,
        t.swBytes, t.swRecords, t.srBytes, t.spillBytes)
    }
    val as = actions.asScala.toSeq.map { a =>
      Json.obj("func" -> a.func, "ns" -> a.durationNs, "failed" -> a.failed,
        "phases" -> a.phases.toSeq.sortBy(_._1).map { case (k, (s, e)) =>
          Json.obj("name" -> k, "start" -> s, "end" -> e) })
    }
    Json.obj("jobs" -> js, "task_fields" -> Seq("stage", "launch", "finish",
      "run_ms", "cpu_ns", "gc_ms", "in_bytes", "sw_bytes", "sw_records",
      "sr_bytes", "spill_bytes"), "tasks" -> ts, "actions" -> as).s
  }
}

object EventLog {
  final case class Job(id: Int, group: String, start: Long, stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, inBytes: Long, swBytes: Long, swRecords: Long,
      srBytes: Long, spillBytes: Long)
  final case class Action(func: String, phases: Map[String, (Long, Long)],
      durationNs: Long, failed: Boolean)
}

/** A minimal JSON writer for the driver's result files. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + write(v) }.mkString("{", ",", "}"))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case '\r' => b ++= "\\r"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(v: Any): String = v match {
    case Raw(s) => s
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => str(other.toString)
  }
}
