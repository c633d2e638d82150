package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession configured the way this engine is
  * designed to run.
  *
  * Local (`local[N]`) and cluster masters share the same settings; only
  * shuffle parallelism differs. These mirror what Verify/Bench use, so the
  * verified behavior IS the production behavior:
  *  - AQE on: runtime shuffle coalescing, broadcast-join conversion and
  *    skew-join splitting — the knobs that survive a 100× scale-up without
  *    re-tuning static partition counts.
  *  - UTC session time — all dt/hr derivations are timezone-stable.
  *  - nanos-as-long parquet reading (the events table's TIMESTAMP(NANOS)).
  *  - `file:` stream checkpoints commit through the FileSystem-API manager
  *    ([[graft.streaming.SchemeCheckpointFileManager]]): Spark's default
  *    FileContext rename forks two `readlink` processes per committed
  *    state or log file when libhadoop is absent; other schemes keep the
  *    default.
  */
object GraftSession {
  def build(master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new org.apache.spark.sql.graftext.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.SchemeCheckpointFileManager].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
