package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.CoreOps.Routing
import graft.streaming.StreamingOps

/** `orders_cdc_stream`: a backlog drain. The time-sliced orders, lineitem
  * and events files are drained one slice per micro-batch through three
  * queries running side by side: `cdcRouteStream` into a
  * `table_name`-partitioned parquet sink, `orderWideStream` and
  * `orderRevenueStream` into parquet sinks. A lap drains the whole backlog
  * into fresh sinks and checkpoints; laps repeat until `seconds` of drain
  * time have passed. The first lap's sinks are checked against batch
  * answers over the same input. */
object Orders {
  private val Inputs = Seq("orders", "lineitem", "events")

  def run(o: Harness.Opts, tracer: Tracer): Map[String, Any] = {
    val dir = o("dir")
    var schemas = Map.empty[String, StructType]
    def sources(s: SparkSession): Map[String, DataFrame] = Inputs.map { t =>
      t -> s.readStream.schema(schemas(t)).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/$t")
    }.toMap
    val (spark, setup) = Harness.setUp(o, tracer) { s =>
      schemas = Inputs.map(t =>
        t -> s.read.parquet(s"$dir/$t/slice-0000.parquet").schema).toMap
      sources(s)
    }

    val laps = collection.mutable.ArrayBuffer[Map[String, Any]]()
    var first = Seq.empty[(String, StreamingQueryProgress)]
    tracer.resetCounters()
    val m0 = System.nanoTime()
    while (laps.isEmpty || (System.nanoTime() - m0) / 1e9 < o.int("seconds")) {
      val lapDir = s"${o("work")}/lap-${laps.size}"
      val (lapS, progress) = drain(spark, sources(spark), lapDir, laps.size)
      val sink = Seq("cdc_route", "order_wide", "order_revenue").map { n =>
        val files = listFiles(new File(s"$lapDir/$n")).filter(_.getName.endsWith(".parquet"))
        n -> Map("files" -> files.size, "bytes" -> files.map(_.length).sum)
      }.toMap
      laps += Map("drain_s" -> lapS, "sinks" -> sink,
        "batches" -> progress.map { case (n, p) =>
          Map("query" -> n) ++ Harness.progressRecord(p) })
      if (laps.size == 1) first = progress
      Host.checkpoint()
    }
    val measureS = (System.nanoTime() - m0) / 1e9
    val counters = tracer.counters
    val c0 = System.nanoTime()
    val checks = check(spark, dir, s"${o("work")}/lap-0", first)
    val c1 = System.nanoTime()
    spark.stop()
    Map("setup_rounds_s" -> setup, "measure_s" -> measureS, "laps" -> laps,
      "checks" -> checks, "check_s" -> (c1 - c0) / 1e9,
      "stop_s" -> (System.nanoTime() - c1) / 1e9, "counters" -> counters)
  }

  /** Start the three queries on one backlog and wait until all drained it.
    * Returns the drain's wall seconds and every progress event. */
  private def drain(spark: SparkSession, src: Map[String, DataFrame],
      lapDir: String, lap: Int): (Double, Seq[(String, StreamingQueryProgress)]) = {
    def start(name: String, df: DataFrame, partition: Seq[String]): StreamingQuery =
      df.writeStream.format("parquet").outputMode("append")
        .partitionBy(partition: _*)
        .queryName(s"$name-$lap")
        .option("path", s"$lapDir/$name")
        .option("checkpointLocation", s"$lapDir/checkpoint/$name")
        .trigger(Trigger.AvailableNow())
        .start()
    val t0 = System.nanoTime()
    val qs = Seq(
      "cdc_route" -> start("cdc_route", StreamingOps.cdcRouteStream(src("events")),
        Seq("table_name")),
      "order_wide" -> start("order_wide",
        StreamingOps.orderWideStream(src("orders"), src("lineitem")), Nil),
      "order_revenue" -> start("order_revenue",
        StreamingOps.orderRevenueStream(src("orders"), src("lineitem")), Nil))
    qs.foreach(_._2.awaitTermination())
    val wall = (System.nanoTime() - t0) / 1e9
    qs.foreach { case (_, q) => q.exception.foreach(e => throw e) }
    (wall, qs.flatMap { case (n, q) => q.recentProgress.toSeq.map(n -> _) })
  }

  /** Each sink against the batch answer over the same generated input: the
    * CDC split through `CoreOps.Routing`, the order-wide pairs through the
    * same +-10 s predicate written as a batch join, and the revenue windows
    * the final watermark has closed. */
  private def check(spark: SparkSession, dir: String, lapDir: String,
      progress: Seq[(String, StreamingQueryProgress)]): Map[String, Any] = {
    val orders = spark.read.parquet(s"$dir/orders")
    val lineitem = spark.read.parquet(s"$dir/lineitem")
    val events = spark.read.parquet(s"$dir/events")
    val cdc = events.withColumn("table_name", Routing.table)
      .withColumn("op", Routing.op)
      .where(Routing.referenceKeep(col("table_name"), col("op")))
    val wide = lineitem.join(broadcast(orders),
      col("l_orderkey") === col("o_orderkey") &&
        col("l_ts").between(col("o_ts") - expr("INTERVAL 10 SECONDS"),
          col("o_ts") + expr("INTERVAL 10 SECONDS")))
    val watermark = progress.filter(_._1 == "order_revenue").map(_._2)
      .flatMap(p => Option(p.eventTime.get("watermark"))).lastOption
      .getOrElse("1970-01-01T00:00:00.000Z")
    val revenue = wide.groupBy(window(col("o_ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_extendedprice")).as("revenue"))
      .where(col("w.end") <= to_timestamp(lit(watermark)))
      .select(col("w.start").as("window_start"), col("n_items"), col("revenue"))
    Seq("cdc_route" -> cdc, "order_wide" -> wide, "order_revenue" -> revenue).map {
      case (n, expected) =>
        val t0 = System.nanoTime()
        val (eRows, eFp) = Harness.fingerprint(expected)
        val t1 = System.nanoTime()
        val (aRows, aFp) = Harness.fingerprint(spark.read.parquet(s"$lapDir/$n"))
        n -> Map("expected_rows" -> eRows, "rows" -> aRows,
          "ok" -> (eRows == aRows && eFp == aFp),
          "expected_s" -> (t1 - t0) / 1e9, "sink_s" -> (System.nanoTime() - t1) / 1e9)
    }.toMap ++ Map("watermark" -> watermark)
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else Seq(f)
}
