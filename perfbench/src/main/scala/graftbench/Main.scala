package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Report, SparkEntry}
import graft.sources.{ArtifactCache, Sessions}

/** The benchmark driver: one process per run, one query at a time (a
  * closed loop with a single client). It sets up (session start and
  * untimed passes), runs timed passes of the workload until `--seconds` have
  * passed (at least `--min-passes`), and writes raw measurements (spans,
  * output digests, product builds and, with `--trace 1`, Spark's
  * job/task/action events) to `--out`. `run.py` checks the digests and
  * turns the raw record into metrics.
  *
  * Kinds of workload:
  *  - `wordcount`: the `Report.main` job over a text directory;
  *  - `warm`: SparkEntry queries served from products built during setup.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.getOrElse("mode", "run") match {
      case "oracle-sql" =>
        val qs = opts("queries").split(",").toSeq
        val sql = SparkEntry.oracleSql.filter { case (q, _) => qs.contains(q) }
        write(opts("out"), Json.write(sql))
      case "run" =>
        new Run(opts).run()
    }
    System.exit(0)
  }

  def write(path: String, s: String): Unit = {
    val tmp = new File(path + ".tmp")
    Files.write(tmp.toPath, s.getBytes(UTF_8))
    tmp.renameTo(new File(path))
  }
}

final class Run(opts: Map[String, String]) {
  private val kind = opts("kind")
  private val queries = opts.get("queries").map(_.split(",").toSeq).getOrElse(Nil)
  private val data = opts("data")
  private val work = opts("work")
  private val seconds = opts("seconds").toDouble
  private val trace = opts.getOrElse("trace", "0") == "1"
  private val cpus = opts("cpus")
  private val minPasses = opts("min-passes").toInt
  private val warmPasses = opts("warm-passes").toInt

  private val spans = new Spans
  private val log = new EventLog
  private val ops = ArrayBuffer.empty[Json.Raw]
  private var spark: SparkSession = _
  private val productsRoot = s"$work/products"

  private def newSession(): Unit = {
    spark = Sessions.local(cpus)
    spark.conf.set("spark.graft.products.dir", productsRoot)
    // Report.main's CHUNK_BYTES analog.
    if (kind == "wordcount") spark.conf.set("spark.sql.files.maxPartitionBytes", "50m")
  }

  def run(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // Set-up: session start, then untimed passes over the real input. The
    // first warms codegen and the JIT, and on a warm workload it builds the
    // products the timed passes serve; `warm-passes` more let the JIT
    // settle, so the timed passes measure a steady state.
    val (_, setup) = spans.time("setup", "", -1) { id =>
      spans.time("setup.session", "", id)(_ => newSession())
      spans.time("setup.prepass", "", id) { pid =>
        (0 to warmPasses).foreach(w => pass(data, "prepass", pid, w))
      }
    }
    if (trace) {
      spark.sparkContext.addSparkListener(log)
      spark.listenerManager.register(log)
    }
    val deadline = Clock.nowMs + seconds * 1000
    var u = 0
    // At least `min-passes`, so a run's median does not rest on the first
    // (JIT-coldest) pass. A traced run traces every other pass from the
    // second on, and runs one more, so it has untraced passes besides the
    // first to compare with.
    while (u < minPasses + (if (trace) 1 else 0) || Clock.nowMs < deadline) {
      val traced = trace && u % 2 == 1
      log.recording = traced
      pass(data, "timed", -1, u, traced)
      if (traced) log.quiesce()
      log.recording = false
      u += 1
    }
    val out = Json.obj(
      "kind" -> kind,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      // Timed from process start: it carries JVM start and class loading,
      // like the set-up a user pays.
      "setup_s" -> (setup.end - jvmStart) / 1000.0,
      "ops" -> ops.toSeq,
      "products_root" -> productsRoot,
      "vmhwm_kb" -> vmHwmKb,
      "spans" -> spans.all.map(s => Seq(s.id, s.parent, s.name, s.query, s.start, s.end)),
      "events" -> (if (trace) Some(Json.Raw(log.json)) else None))
    spark.stop()
    Main.write(opts("out"), Json.write(out))
  }

  private def vmHwmKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** One pass of the workload over `dir`, as a span named `phase`. */
  private def pass(dir: String, phase: String, parent: Int,
      u: Int = -1, traced: Boolean = false): Unit =
    spans.time("pass", phase, parent) { pid =>
      if (kind == "wordcount") wordcount(dir, phase, pid, u, traced)
      else queries.foreach(q => query(q, dir, phase, pid, u, traced))
    }: Unit

  private def withGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private def record(phase: String, u: Int, traced: Boolean, name: String,
      span: Span, fields: (String, Any)*): Unit =
    ops += Json.obj(Seq("phase" -> phase, "pass" -> u, "traced" -> traced,
      "query" -> name, "span" -> span.id, "wall_s" -> span.dur,
      "builds" -> ArtifactCache.drainBuildTimes()) ++ fields: _*)

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private def query(q: String, dir: String, phase: String, parent: Int,
      u: Int, traced: Boolean): Unit = {
    val fn = SparkEntry.queries(q)
    val sc = spark.sparkContext
    var result: Either[String, (DataFrame, Array[Row])] = Left("not run")
    var persisted = 0
    val (_, span) = withGroup(s"$phase-$u-$q") {
      spans.time("query", q, parent) { qid =>
        try {
          val (df, _) = spans.time("construct", q, qid)(_ => fn(spark, dir))
          val (rows, _) = spans.time("write", q, qid)(_ => df.collect())
          persisted = sc.getPersistentRDDs.size
          result = Right((df, rows))
        } catch { case e: Throwable => result = Left(error(e)) }
        spans.time("release", q, qid)(_ => spark.catalog.clearCache())
      }
    }
    result match {
      case Right((df, rows)) =>
        record(phase, u, traced, q, span, "ok" -> true, "rows" -> rows.length,
          "hash" -> RowHash.digest(df.schema, rows), "persists_left" -> persisted)
      case Left(msg) =>
        System.err.println(s"[perfbench] $phase $q FAILED: $msg")
        record(phase, u, traced, q, span, "ok" -> false, "error" -> msg)
    }
  }

  /** `Report.main`'s sequence: ingest + tokenize + combine, the top-20
    * console block, and the TSV sink. */
  private def wordcount(dir: String, phase: String, parent: Int, u: Int,
      traced: Boolean): Unit = {
    val tsvDir = s"$work/tsv"
    var result: Either[String, (Long, String)] = Left("not run")
    var persisted = 0
    val (_, span) = withGroup(s"$phase-$u-wordcount") {
      spans.time("query", "wordcount", parent) { qid =>
        try {
          val (counts, _) = spans.time("construct", "wordcount", qid)(_ =>
            Report.wordcountTextDir(spark, dir))
          val (res, _) = spans.time("write", "wordcount", qid) { wid =>
            counts.cache()
            val (unique, _) = spans.time("report.count", "wordcount", wid)(_ => counts.count())
            val (top, _) = spans.time("report.topk", "wordcount", wid)(_ => Report.formatTopK(counts))
            spans.time("report.tsv", "wordcount", wid)(_ => Report.writeTsv(counts, tsvDir))
            (unique, top)
          }
          persisted = spark.sparkContext.getPersistentRDDs.size
          result = Right(res)
          spans.time("release", "wordcount", qid) { _ =>
            counts.unpersist(blocking = true)
            spark.catalog.clearCache()
          }
        } catch { case e: Throwable => result = Left(error(e)) }
      }
    }
    result match {
      case Right((unique, top)) =>
        record(phase, u, traced, "wordcount", span, "ok" -> true,
          "rows" -> unique, "topk" -> top, "hash" -> RowHash.files(tsvDir),
          "persists_left" -> persisted)
      case Left(msg) =>
        System.err.println(s"[perfbench] $phase wordcount FAILED: $msg")
        record(phase, u, traced, "wordcount", span, "ok" -> false, "error" -> msg)
    }
  }

  private implicit class SpanOps(s: Span) {
    def dur: Double = (s.end - s.start) / 1000.0
  }
}
