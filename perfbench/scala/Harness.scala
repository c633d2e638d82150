package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.GraftSession

/** The engine side of the benchmark: one JVM that builds the production
  * session and drives one workload through the program's public entry
  * points. Arguments are `key=value` pairs (workload, dir, out, cores,
  * seconds, trace, plus per-workload keys). It writes `result.json` (and
  * `spans.jsonl` when tracing) into `out`; `perfbench/run.py` turns those
  * into the reported metrics and checks. */
object Harness {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k="))
    def int(k: String): Int = apply(k).toInt
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap)
    val tracer = new Tracer(o("trace") == "1")
    val out = new File(o("out"))
    out.mkdirs()
    val hostBefore = Host.cpuTimes()
    val gcBefore = Host.gcMs()
    val result = o("workload") match {
      case "registry_sf01" => Registry.run(o, tracer)
      case "orders_cdc_stream" => Orders.run(o, tracer)
      case "clickstream_live" | "collect_serve" => Clickstream.run(o, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val hostAfter = Host.cpuTimes()
    val full = result ++ Map(
      "peak_rss_mb" -> Host.peakRssMb(),
      "heap_retained_mb" -> Host.retainedPeakMb,
      "jvm.gc_s" -> (Host.gcMs() - gcBefore) / 1e3,
      "jvm.heap_peak_mb" -> Host.heapPeakMb(),
      "host.sys_share" -> Host.share(hostBefore, hostAfter, _.sys),
      "host.steal_share" -> Host.share(hostBefore, hostAfter, _.steal))
    write(new File(out, "result.json"), Json(full))
    if (tracer.enabled) {
      val w = new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")
      try tracer.spans.foreach { s =>
        w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)))
      } finally w.close()
    }
  }

  def write(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }

  /** Build the production session `rounds` times, each followed by the
    * workload's own input registration, and keep the last one. Returns the
    * session and each round's seconds; earlier rounds are stopped. */
  def setUp(o: Opts, tracer: Tracer, rounds: Int = 3)(
      register: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to rounds).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.build(master = s"local[${o("cores")}]",
        appName = s"perfbench-${o("workload")}")
      register(spark)
      (System.nanoTime() - t0) / 1e9
    }
    tracer.attach(spark)
    (spark, times)
  }

  /** Order-insensitive fingerprint of a frame: row count and the sum of
    * per-row xxhash64 over the columns in name order. Doubles and floats
    * are rounded to float precision first, so results that differ only in
    * summation order agree. */
  def fingerprint(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => c.cast(FloatType)
      case ArrayType(DoubleType | FloatType, _) => transform(c, _.cast(FloatType))
      case _ => c
    }
    val cols = df.schema.fields.sortBy(_.name)
      .map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")).cast(StringType)).head()
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  /** The fields of one progress event the report reads. */
  def progressRecord(p: StreamingQueryProgress): Map[String, Any] = {
    val state = p.stateOperators.toSeq
    Map("batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
      "timestamp" -> p.timestamp,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
      "state_rows" -> state.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "late_dropped_rows" -> state.map(_.numRowsDroppedByWatermark).sum)
  }
}

/** JVM and host readings taken by the engine process itself. */
object Host {
  private def status(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = status("VmHWM") / 1024.0

  @volatile private var retainedPeak = 0.0

  /** Largest heap still in use right after a full collection, over every
    * [[checkpoint]] of the run, MB. */
  def retainedPeakMb: Double = retainedPeak

  /** Run a full collection and record the heap the program still holds:
    * cached data, state stores, plan and session caches. Called between
    * units of measured work, never inside one. */
  def checkpoint(): Unit = {
    // Spark frees shuffle and broadcast metadata only after a collection
    // has found its owner unreachable (ContextCleaner), so collect, give
    // the cleaner time to run, and collect again.
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed.toDouble).sum / (1024 * 1024)
    retainedPeak = math.max(retainedPeak, used)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)

  final case class CpuTimes(sys: Long, steal: Long, total: Long)

  /** Aggregate system, steal and total jiffies from /proc/stat. */
  def cpuTimes(): CpuTimes = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    CpuTimes(f(2), f(7), f.take(8).sum)
  }

  /** Share of all host CPU time in one field between two readings: system
    * time (a kernel-heavy burst) or steal (the hypervisor ran someone else). */
  def share(a: CpuTimes, b: CpuTimes, field: CpuTimes => Long): Double = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) 0.0 else (field(b) - field(a)) / total
  }
}

/** Minimal JSON encoder for the harness's own result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${apply(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
