package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Input sizes of one run. `Main.Full` is what the workloads run;
  * `Main.Tiny` is the self-test's. */
final case class Sizes(bm25Docs: Int, appendDocs: Int, appendBatches: Int,
                       queryLog: Int, adhocLog: Int, annVecs: Int,
                       annClusters: Int, annBatchVecs: Int, annBatches: Int,
                       annLog: Int, setups: Int)

/** Outcome of one run: operation counts, metrics and trace detail. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var correct = true
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  /** Extra figures written to the trace file only (not to the result line). */
  val detail = mutable.LinkedHashMap[String, Any]()
  val errors = mutable.ArrayBuffer[String]()
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
  }
  def check(msg: Option[String], what: => String): Unit =
    op(msg.isEmpty, s"$what: ${msg.getOrElse("")}")
}

/** Context shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val work: String, val trace: Trace, val sizes: Sizes,
                val nproc: Int, val fault: String) {
  val res = new Result
  def log(s: String): Unit = System.err.println(
    f"[graftbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1fs] $s")
}

object Main {
  val Full = Sizes(bm25Docs = 10000, appendDocs = 1000, appendBatches = 3,
    queryLog = 160, adhocLog = 16, annVecs = 8000, annClusters = 12,
    annBatchVecs = 10, annBatches = 2, annLog = 120, setups = 3)
  val Tiny = Sizes(bm25Docs = 3000, appendDocs = 300, appendBatches = 2,
    queryLog = 60, adhocLog = 4, annVecs = 2000, annClusters = 4,
    annBatchVecs = 5, annBatches = 2, annLog = 40, setups = 2)
  val K = 10
  val Workloads = Seq("bm25", "ann_live")
  /** Every run reports all of these (untraced run) ... */
  val E2eNames = Seq("setup_s", "build_items_per_s", "index_bytes_per_item",
    "write_visible_ms", "df_p50_ms", "qps")
  /** ... and all of these (traced run). */
  val LayerNames = Seq("build.tasks", "build.task_s", "build.gc_ms",
    "build.shuffle_write_bytes", "build.spill_bytes", "build.task_skew",
    "build.phase_max_s", "build.unit_skew",
    "write.jobs_per_batch", "write.stages_per_batch", "write.tasks_per_batch",
    "write.task_s_per_batch",
    "read.jobs_per_query", "read.job_ms", "read.sched_delay_ms",
    "read.calling_thread_ms", "read.tasks_per_query", "read.task_cpu_ms_per_query",
    "read.input_bytes_per_query", "read.shuffle_bytes_per_query",
    "df.jobs_per_query", "df.job_ms", "df.sched_delay_ms", "df.calling_thread_ms",
    "df.tasks_per_query", "df.task_cpu_ms_per_query", "df.input_bytes_per_query",
    "df.shuffle_bytes_per_query",
    "kernel.work_per_query", "kernel.work_ratio", "read.pinned_bytes", "jvm.gc_ms")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = a.getOrElse("--work", "perfbench/.work")
    if (a.contains("--selftest")) sys.exit(SelfTest.run(work))
    val workload = a.getOrElse("--workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = a.getOrElse("--seed", "1").toLong
    val seconds = a.getOrElse("--seconds", "10").toDouble
    val traceOn = a.getOrElse("--trace", "0") == "1"
    val res = run(workload, seed, seconds, traceOn, work, Full, "")
    println(resultLine(res, traceOn))
    sys.exit(0)
  }

  def session(work: String, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One run of a workload in a fresh work directory. */
  def run(workload: String, seed: Long, seconds: Double, traceOn: Boolean,
          work: String, sizes: Sizes, fault: String): Result = {
    val dir = new File(work, s"run-$workload")
    Files.deleteTree(dir)
    dir.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = session(dir.getAbsolutePath, nproc)
    try {
      val ctx = new Ctx(spark, seed, seconds, dir.getAbsolutePath,
        new Trace(traceOn, spark.sparkContext), sizes, nproc, fault)
      ctx.log(s"workload=$workload seed=$seed seconds=$seconds trace=$traceOn nproc=$nproc")
      workload match {
        case "bm25" => Bm25Workload.run(ctx)
        case "ann_live" => AnnWorkload.run(ctx)
      }
      ctx.res.errors.foreach(e => ctx.log(s"FAILED: $e"))
      TraceReport.write(ctx, workload)
      ctx.res
    } finally {
      spark.stop()
      Files.deleteTree(new File(dir, "data"))
    }
  }

  def resultLine(r: Result, traced: Boolean): String = {
    val ms = if (traced) r.layer else r.e2e
    val metrics = ms.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$metrics}}"""
  }
}

object Files {
  def deleteTree(f: File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
  /** Bytes of the data files under a directory (Hadoop .crc sidecars and
    * marker files excluded). */
  def dataBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dataBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc") || f.getName.startsWith("_")) 0L
    else f.length()
  def dataFiles(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc") || f.getName.startsWith("_")) 0L
    else 1L
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def any(x: Any): String = x match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, v) => str(k.toString) + ": " + any(v) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(any).mkString("[", ", ", "]")
    case xs: Array[_] => xs.map(any).mkString("[", ", ", "]")
    case p: Product => p.productIterator.map(any).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}

/** Order statistics. */
object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** p99 only when at least ten samples lie beyond it. */
  def p99(xs: Seq[Double]): Option[Double] =
    if (xs.size * 0.01 >= 10) Some(quantile(xs, 0.99)) else None
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
