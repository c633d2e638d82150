package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.streaming.{SchemeCheckpointFileManager, StreamingOps}

/** A `FileContext` binding for the made-up `graftx:` scheme: enough for
  * the checkpoint manager to build its FileContext delegate. */
class GraftxFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "graftx", false)

/** Stream checkpoints through the session [[GraftSession.build]] makes:
  * local checkpoints commit without forking processes, restart from the
  * checkpoint is exact, and the checkpoint checksums are still written and
  * verified. The order-wide join runs over sf0.001 orders and lineitems
  * given event times (order k at second k % 300, each lineitem -15..+15 s
  * from its order) and written as one-file time slices. */
class CheckpointFilesSpec extends SparkTestBase {

  // the shared test session, with GraftSession's runtime settings applied
  private lazy val session: SparkSession = {
    spark
    GraftSession.build(master = "local[4]", shufflePartitions = 4)
  }

  private val T0 = 1704067200L // 2024-01-01T00:00:00Z

  private lazy val timed: Map[String, DataFrame] = {
    val o = Tables.orders(session, sf0001)
      .select(col("o_orderkey"), col("o_totalprice"), (col("o_orderkey") % 300).as("sec"))
    val l = Tables.lineitem(session, sf0001)
      .join(o.select(col("o_orderkey"), col("sec").as("o_sec")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        (col("o_sec") + (col("l_partkey") * 7 + col("l_linenumber")) % 31 - 15).as("sec"))
    Map("orders" -> o.withColumn("o_ts", timestamp_seconds(lit(T0) + col("sec"))),
      "lineitem" -> l.withColumn("l_ts", timestamp_seconds(lit(T0) + col("sec"))))
  }

  /** Add the rows with event second in [lo, hi) to each source directory
    * as one parquet file, older-stamped than any later slice. */
  private def addSlice(src: String, slice: Int, lo: Long, hi: Long): Unit =
    timed.foreach { case (t, df) =>
      val tmp = s"$src/.tmp-$t-$slice"
      df.where(col("sec") >= lo && col("sec") < hi).drop("sec")
        .coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new File(s"$src/$t/slice-$slice.parquet")
      dst.getParentFile.mkdirs()
      Files.move(part.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      dst.setLastModified(1000000000000L + slice * 60000L)
    }

  /** Drain every unread slice through the order-wide join, one slice per
    * micro-batch, into a parquet sink. Rethrows the query's failure. */
  private def drain(src: String, checkpoint: String, out: String): Unit = {
    def stream(t: String) = session.readStream.schema(timed(t).drop("sec").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/$t")
    val q = StreamingOps.orderWideStream(stream("orders"), stream("lineitem"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }

  private def sinkRows(out: String): Seq[String] =
    session.read.parquet(out)
      .select("l_orderkey", "l_linenumber", "l_ts", "o_orderkey", "o_ts")
      .collect().map(_.mkString("|")).toSeq.sorted

  private def tmpDir(): String = Files.createTempDirectory("graft_ckpt_").toString

  private def filesUnder(dir: String): Seq[File] =
    Files.walk(new File(dir).toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq

  test("GraftSession installs the scheme checkpoint manager: file: gets the FileSystem API, " +
      "other schemes FileContext") {
    assert(session.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      classOf[SchemeCheckpointFileManager].getName)
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.graftx.impl", classOf[GraftxFs].getName)
    val dir = tmpDir()
    def delegate(p: String) = new SchemeCheckpointFileManager(new Path(p), conf).delegate
    assert(delegate(dir).isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(delegate(s"file:$dir").isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(delegate(s"graftx://$dir").isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("a stateful drain with a local checkpoint starts no readlink process") {
    val (src, ckpt) = (tmpDir(), tmpDir())
    addSlice(src, 0, Long.MinValue, Long.MaxValue)
    val rec = new Recording()
    val jfr = Files.createTempFile("graft_drain_", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      drain(src, ckpt, s"$src/out")
      rec.stop()
      rec.dump(jfr)
    } finally rec.close()
    val started = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    assert(!started.exists(_.startsWith("readlink")),
      s"${started.count(_.startsWith("readlink"))} readlink forks of ${started.size} " +
        s"processes, e.g. ${started.take(3)}")
    // the drain committed state, and both checksum sidecars sit next to it
    val deltas = filesUnder(s"$ckpt/state").filter(_.getName == "1.delta")
    assert(deltas.nonEmpty)
    deltas.foreach { d =>
      assert(new File(d.getParent, "1.delta.crc").isFile, s"Spark checksum of $d")
      assert(new File(d.getParent, ".1.delta.crc").isFile, s"Hadoop checksum of $d")
    }
    assert(sinkRows(s"$src/out").nonEmpty)
  }

  test("restart from the checkpoint after the first slice equals one uninterrupted run") {
    val whole = tmpDir()
    addSlice(whole, 0, Long.MinValue, 100)
    addSlice(whole, 1, 100, Long.MaxValue)
    drain(whole, s"$whole/ckpt", s"$whole/out")

    val split = tmpDir()
    addSlice(split, 0, Long.MinValue, 100)
    drain(split, s"$split/ckpt", s"$split/out")
    addSlice(split, 1, 100, Long.MaxValue)
    drain(split, s"$split/ckpt", s"$split/out")

    val rows = sinkRows(s"$split/out")
    assert(rows == sinkRows(s"$whole/out"))
    // pairs whose order and lineitem sit in different slices only meet
    // through the join state restored from the checkpoint
    val crossSlice = session.read.parquet(s"$split/out")
      .where((col("o_ts") < timestamp_seconds(lit(T0 + 100))) =!=
        (col("l_ts") < timestamp_seconds(lit(T0 + 100)))).count()
    assert(crossSlice > 0)
  }

  test("corrupted state deltas fail the restart on their checksums") {
    val src = tmpDir()
    addSlice(src, 0, Long.MinValue, 100)
    drain(src, s"$src/ckpt", s"$src/out")
    val deltas = filesUnder(s"$src/ckpt/state").filter(_.getName == "1.delta")
    deltas.foreach { d =>
      val bytes = Files.readAllBytes(d.toPath)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
      Files.write(d.toPath, bytes)
    }
    addSlice(src, 1, 100, Long.MaxValue)
    def failure(): Seq[Throwable] = {
      val e = intercept[StreamingQueryException](drain(src, s"$src/ckpt", s"$src/out"))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    }
    def show(chain: Seq[Throwable]) =
      chain.map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n")
    // the local file system's own checksum (.1.delta.crc) catches it first
    val fsChain = failure()
    assert(fsChain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), show(fsChain))
    // without it, Spark's checkpoint checksum (1.delta.crc) still does
    deltas.foreach(d => assert(new File(d.getParent, ".1.delta.crc").delete()))
    val sparkChain = failure()
    assert(sparkChain.exists(c => Option(c.getMessage).exists(_.contains("CHECKSUM"))),
      show(sparkChain))
  }
}
