package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** The benchmark client: one single-threaded closed loop (the next op is
  * sent only after the last one returned) over the program's public
  * facade and operators.
  *
  * Usage: Main <manifest.json> <result.json>. The manifest (written by
  * perfbench/run.py) holds the workload name, its seeded inputs and
  * expected answers, the warm-up op count and the timed window length.
  * The result holds per-op latencies and checks, set-up phase times and,
  * when tracing, per-layer metrics and a span file.
  */
object Main {
  final class CheckFailed(msg: String) extends Exception(msg)

  def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)

  def main(args: Array[String]): Unit = {
    val m = new ObjectMapper().readTree(new File(args(0)))
    val out = new ObjectMapper().createObjectNode()
    val cores = m.get("cores").asInt
    val writeDir = Paths.get(m.get("write_dir").asText)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", m.get("spark_dir").asText)
      .config("spark.sql.warehouse.dir", m.get("spark_dir").asText + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer
    out.put("session_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    try {
      val t0 = System.nanoTime()
      val wl: Workload = m.get("workload").asText match {
        case "facade_select" => new FacadeSelect(spark, m, writeDir, tracer)
        case "catalog_churn" => new CatalogChurn(spark, m, writeDir, tracer)
        case "dedup_ingest" => new DedupIngest(spark, m, writeDir, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out.put("build_s", (System.nanoTime() - t0) / 1e9)
      new Loop(spark, m, wl, tracer, listener, out).run()
      out.put("disk_bytes", dirBytes(writeDir))
    } finally {
      val s0 = System.nanoTime()
      spark.stop()
      out.put("stop_s", (System.nanoTime() - s0) / 1e9)
    }
    Files.writeString(Paths.get(args(1)), out.toPrettyString)
    // lingering non-daemon threads of the stopped session must not delay exit
    sys.exit(0)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** A workload: set-up in the constructor, then `op(i)` for the i-th op
  * of the loop. An op throws on any error or wrong result. */
abstract class Workload {
  /** Per-layer values recorded by the last traced op. */
  val layer = mutable.Map[String, Double]()
  def op(i: Int): Unit
  /** Checks that need the whole run, over the timed ops first..last
    * (run after the window); returns one message per failed check. */
  def finalChecks(first: Int, last: Int): Seq[String] = Nil
  /** Traced ops only, after the op's timing: per-layer probes that are
    * not part of the op itself. */
  def probe(i: Int): Unit = ()
  /** Per-layer values of a traced op that need the complete listener
    * record (read after the event bus drained). */
  def afterDrain(listener: ExecListener, op: Int): Map[String, Double] = Map.empty
}

/** Drives warm-up and the timed window, records per-op samples. */
final class Loop(
    spark: SparkSession, m: JsonNode, wl: Workload, tracer: Tracer,
    listener: ExecListener, out: ObjectNode) {
  import Main.median

  private val sc = spark.sparkContext
  private val trace = m.get("trace").asBoolean
  private val ops = out.putArray("ops")
  private val failures = out.putArray("failures")
  private var failed = 0
  private val traced = mutable.ArrayBuffer[(Int, Long, Long, Map[String, Double])]()
  private var memPeakMb = 0.0

  private def one(i: Int, phase: String, traceThis: Boolean): Unit = {
    tracer.enabled = traceThis
    tracer.op = i
    wl.layer.clear()
    ExecListener.tag(sc, i, "action")
    val jit0 = Jvm.jitMs
    val gc0 = Jvm.gcMs
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span("op")(wl.op(i)); true }
      catch {
        case e: Throwable =>
          failed += 1
          if (failures.size < 5) failures.add(s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    val rec = ops.addObject()
    rec.put("i", i).put("phase", phase).put("ms", ms).put("ok", ok).put("traced", traceThis)
      .put("jit_ms", Jvm.jitMs - jit0).put("gc_ms", Jvm.gcMs - gc0)
    if (traceThis) {
      wl.probe(i)
      val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      memPeakMb = memPeakMb max (used / (1024.0 * 1024.0))
      val l = wl.layer.toMap ++ Map(
        "jvm.jit_ms" -> (Jvm.jitMs - jit0).toDouble,
        "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble,
        "jvm.heap_after_gc_mb" -> Jvm.heapAfterGcMb)
      traced += ((i, startMs, endMs, l))
    }
    tracer.enabled = false
  }

  def run(): Unit = {
    val warmup = m.get("warmup_ops").asInt
    val seconds = m.get("seconds").asDouble
    val minOps = m.get("min_ops").asInt
    val round = Option(m.get("round")).map(_.asInt).getOrElse(1)
    var i = 0
    val t0 = System.nanoTime()
    while (i < warmup) { one(i, "warm", traceThis = false); i += 1 }
    out.put("warmup_s", (System.nanoTime() - t0) / 1e9)
    out.put("first_timed_epoch_ms", System.currentTimeMillis())
    val w0 = System.nanoTime()
    var timed = 0
    // in a traced run every other round is traced, so the untraced
    // rounds of the same window give the tracing overhead
    while ((System.nanoTime() - w0) / 1e9 < seconds || timed < minOps || timed % round != 0) {
      one(i, "timed", traceThis = trace && (timed / round) % 2 == 0)
      i += 1; timed += 1
    }
    out.put("window_s", (System.nanoTime() - w0) / 1e9)
    out.put("failed", failed)
    val c0 = System.nanoTime()
    val post = wl.finalChecks(warmup, i - 1)
    out.put("checks_s", (System.nanoTime() - c0) / 1e9)
    post.foreach(f => if (failures.size < 10) failures.add(f))
    out.put("final_check_failures", post.size)
    if (trace) {
      org.apache.spark.BusDrain(sc)
      val rows = traced.map { case (op, s, e, l) =>
        val ex = listener.opMetrics(op, s, e)
        // result delivery: from the op's last job end to collect's return
        val deliver = l.get("deliver.collect_end_ms")
          .map(end => "deliver.ms" -> math.max(0.0, end - ex("exec.last_job_end_ms")))
        (l - "deliver.collect_end_ms") ++ (ex - "exec.last_job_end_ms") ++ deliver ++
          wl.afterDrain(listener, op)
      }
      val layers = out.putObject("layers")
      val names = rows.flatMap(_.keys).distinct
      names.foreach { n => layers.put(n, median(rows.flatMap(_.get(n)).toSeq)) }
      layers.put("storage.mem_peak_mb", memPeakMb)
      tracer.writeJsonLines(Paths.get(m.get("spans_path").asText))
      out.put("spans", tracer.spans.size)
    }
  }
}
