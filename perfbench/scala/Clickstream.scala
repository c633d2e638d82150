package perfbench

import java.io.{BufferedReader, File, InputStreamReader}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.ServingOps
import graft.serving.{IngestMain, ServeMain}
import graft.streaming.StreamingOps

/** The two workloads that put the collector and the publisher in front of
  * a load generator, a separate process: this JVM prints `READY <ingest
  * port> <serve port>` and runs until a `STOP <utc day>` line arrives on
  * stdin. It then answers the day directly through `ServingOps` (the batch
  * side of the agreement check, and the traced run's serve-query timings).
  *
  *  - `clickstream_live`: the reference loop, run live. The collector
  *    (`IngestMain`) lands POSTed app logs in rotating jsonl epochs; a
  *    `ProcessingTime("5 seconds")` stream reads the landing as it grows,
  *    keeps `start` logs, applies `StreamingOps.firstSeenStream` and
  *    appends the events table; `ServeMain` serves DAU from that table.
  *  - `collect_serve`: the collector and the publisher side by side, with
  *    no stream between them: `IngestMain` lands the POSTed logs while
  *    `ServeMain` serves the open day from a generated events table
  *    (`dir`). */
object Clickstream {
  /** The reference's app-log shape, as far as routing and DAU read it. */
  val LogSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("uid", StringType)))),
    StructField("start", StructType(Seq(StructField("entry", StringType)))),
    StructField("page", StructType(Seq(StructField("page_id", StringType)))),
    StructField("ts", LongType)))

  def run(o: Harness.Opts, tracer: Tracer): Map[String, Any] = {
    val live = o("workload") == "clickstream_live"
    val work = o("work")
    val landingDir = s"$work/landing"
    val tableDir = if (live) s"$work/table" else o("dir")
    new File(landingDir).mkdirs()
    val (spark, setup) = Harness.setUp(o, tracer) { s =>
      if (live) s.readStream.schema(LogSchema).json(landingDir)
      else s.read.parquet(s"$tableDir/events.parquet").schema
    }
    val landing = new IngestMain.Landing(landingDir, o.int("rotate"))
    val ingest = IngestMain.start(landing, 0)
    val query = if (!live) None else Some(StreamingOps.firstSeenStream(
      spark.readStream.schema(LogSchema).json(landingDir)
        .where(col("start").isNotNull)
        .select(timestamp_millis(col("ts")).as("ts"), col("common.uid").as("user_id")))
      .writeStream.format("parquet").outputMode("append")
      .queryName("clickstream")
      .option("path", s"$tableDir/events.parquet")
      .option("checkpointLocation", s"$work/checkpoint")
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start())
    val serve = ServeMain.start(spark, tableDir, 0)
    tracer.resetCounters()
    val m0 = System.nanoTime()
    println(s"READY ${ingest.getAddress.getPort} ${serve.getAddress.getPort}")
    Console.out.flush()

    val in = new BufferedReader(new InputStreamReader(System.in))
    val stop = Iterator.continually(in.readLine())
      .find(l => l == null || l.startsWith("STOP")).orNull
    val day = Option(stop).map(_.stripPrefix("STOP").trim).getOrElse("")
    val counters = tracer.counters
    val m1 = System.nanoTime()
    val measureS = (m1 - m0) / 1e9
    Host.checkpoint()
    serve.stop(0)
    ingest.stop(0)
    landing.close()
    query.foreach(_.stop())
    val progress = query.toSeq.flatMap(_.recentProgress)

    // The batch answers over the served table, one call per answer as one
    // GET asks for it; timed per call in the traced run, where each call's
    // jobs join a `serve.query` span.
    def answer[T](i: Int, kind: String)(f: => T): (T, Map[String, Any]) = {
      val group = s"serve:$kind:$i"
      val id = tracer.reserve()
      if (tracer.enabled) tracer.groupParent.put(group, id)
      spark.sparkContext.setJobGroup(group, "serve", interruptOnCancel = false)
      val j0 = tracer.jobs.sum
      val t0 = tracer.nowUs
      val v = try f finally spark.sparkContext.clearJobGroup()
      val t1 = tracer.nowUs
      tracer.put(id, 0, "serve.query", t0, t1, Map("day" -> day, "answer" -> kind))
      (v, Map("ms" -> (t1 - t0) / 1e3, "jobs" -> (tracer.jobs.sum - j0)))
    }
    val direct = (0 until (if (tracer.enabled) 5 else 1)).map { i =>
      val (total, t) = answer(i, "total") {
        ServingOps.realtimeTotal(spark, tableDir, day).head().getLong(0)
      }
      val (hourly, h) = answer(i, "hourly") {
        ServingOps.realtimeHourly(spark, tableDir, day).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      Map("dau" -> total, "hourly" -> hourly, "calls" -> Seq(t, h))
    }
    val epochs = Option(new File(landingDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".jsonl"))
    val sinkFiles = Option(new File(s"$tableDir/events.parquet").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    val stopS = (System.nanoTime() - m1) / 1e9
    spark.stop()
    Map("setup_rounds_s" -> setup, "measure_s" -> measureS, "stop_s" -> stopS, "day" -> day,
      "direct" -> direct, "landing_dir" -> landingDir,
      "epoch_files" -> epochs.size, "landed_bytes" -> epochs.map(_.length).sum,
      "sink_files" -> sinkFiles.size, "sink_bytes" -> sinkFiles.map(_.length).sum,
      "batches" -> progress.map(Harness.progressRecord), "counters" -> counters)
  }
}
