package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Budget-safe by construction: oracle_sql.json is written BEFORE the query
  * loop (it depends on nothing the loop computes), so an external kill at any
  * point leaves a *partial* correctness gate — every per-query parquet already
  * on disk still gets checked. Round 4 lost all 100+ finished results because
  * the oracle file was written last and the kill landed first.
  */
object Verify {
  /** Slow queries scheduled last — see [[SparkEntry.knownSlow]]. */
  private val knownSlow = SparkEntry.knownSlow

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Serializes result PUBLICATION (delete-old + atomic rename) against
    * the shutdown sweep: the hook flips [[closing]] under this lock, so
    * an in-flight publish completes before the sweep and no publish
    * starts after it — without it a TERM landing between a finished tmp
    * write and its rename let the sweep delete part-files out from
    * under the rename (publishing a TORN dir: the exact false-FAIL this
    * machinery exists to prevent), and a kill inside delete-then-move
    * could erase a previous good result. */
  private val publishLock = new Object
  @volatile private var closing = false

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // a TERM-kill mid-write must not leave .tmp_* dirs for the gate's
    // dir enumeration to trip over (SIGKILL can; check.py also skips
    // dot-prefixed names as defense in depth)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      publishLock.synchronized {
        closing = true
        Option(new java.io.File(outDir).listFiles()).foreach(_.foreach { f =>
          if (f.getName.startsWith(".tmp_")) deleteRecursively(f)
        })
      }))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 1 preserves strictly sequential behavior (plus per-query clearCache)
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    // 0 = no internal deadline (the driver's external kill is survivable
    // anyway — see above); >0 = stop LAUNCHING queries after N seconds so
    // the JVM exits cleanly inside a known budget
    val deadlineSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_DEADLINE_SEC", "0").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); readers no longer set this
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // concurrent queries time-share executor slots instead of queueing
      // whole jobs FIFO behind one long query's stages
      .config("spark.scheduler.mode", "FAIR")
      // ~190 distinct queries would evict the 100-entry default compiled-
      // codegen cache several times over (see Bench.scala rationale)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // startup sweep of STALE .tmp_* dirs from a previous run: a SIGKILL
    // (shutdown hook never runs) or a Spark write completing after the
    // TERM sweep can leave one behind; check.py skips dot-prefixed names
    // so the gate is safe, but the torn parquet data would persist on
    // disk until that query happens to overwrite it (ADVICE r10)
    Option(new java.io.File(outDir).listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith(".tmp_")) deleteRecursively(f)
    })
    // iteration aid, mirroring Bench's SPARK_GRAFT_BENCH_ONLY: run a comma
    // list of query names only (unknown names are a hard error so a typo
    // can't silently verify nothing)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty,
        "SPARK_GRAFT_VERIFY_ONLY is set but empty — an empty selection " +
          "would produce a green-looking zero-coverage gate")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_VERIFY_ONLY unknown: $unknown")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val t0 = System.nanoTime()
    def expired: Boolean =
      deadlineSec > 0 && (System.nanoTime() - t0) / 1e9 > deadlineSec
    // fast queries first, known-slow ones last (kill-cost minimization)
    val ordered = selected.toSeq.sortBy { case (n, _) =>
      (knownSlow.indexOf(n), n) // -1 (not slow) sorts before 0..7
    }
    val pool = Executors.newFixedThreadPool(threads)
    ordered.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          if (expired) { System.err.println(s"[verify] $name skipped (deadline)"); return }
          val q0 = System.nanoTime()
          try {
            // write to a dot-prefixed temp dir, rename on success: an
            // external kill mid-write then leaves the query MISSING from
            // the partial gate rather than present-but-empty (a torn dir
            // reads as a FAILED query to check.py — the t=35 s kill drill
            // showed 2 such false fails). rename(2) on one filesystem is
            // atomic; check.py ignores dot-prefixed names.
            val tmp = s"$outDir/.tmp_$name"
            val df = fn(spark, sfDir)
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            publishLock.synchronized {
              if (!closing) {
                deleteRecursively(new java.io.File(s"$outDir/$name"))
                Files.move(Paths.get(tmp), Paths.get(s"$outDir/$name"),
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              }
            }
            // Parallel mode: retire THIS query's caches now that its
            // output is published (a global clearCache would yank frames
            // concurrent siblings are mid-scan on); sequential mode keeps
            // the full clearCache sweep below. Best-effort: the answer is
            // already published, so a failed cache walk only leaves
            // storage behind and must not mark the query failed. The env
            // toggle exists only to A/B the accumulation (default on).
            if (threads > 1 &&
                !sys.env.get("SPARK_GRAFT_VERIFY_RETIRE").contains("false"))
              try org.apache.spark.sql.graftext.CacheRetire.retire(df)
              catch { case e: Exception =>
                System.err.println(s"[verify] $name cache retire failed: ${e.getMessage}")
              }
            // per-query wall time (under concurrency it includes slot
            // contention — a triage signal, not a benchmark; Bench owns
            // the real numbers)
            System.err.println(
              f"[verify] $name ok in ${(System.nanoTime() - q0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          // Sequential mode: drop any caches a query built (shingle sets
          // etc.) so later queries don't run under accumulated storage/GC
          // pressure. In parallel mode a global clear would unpersist
          // frames an in-flight sibling is mid-scan on (correct but a
          // recompute storm) — there we rely on MEMORY_AND_DISK eviction;
          // sf0.01 caches are far below the storage fraction anyway.
          if (threads == 1) spark.catalog.clearCache()
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(7, TimeUnit.DAYS)
    // storage watermark at end of run — with per-query retirement this
    // should be ~0 regardless of registry size (triage signal for cache
    // leaks as the registry grows; the driver ignores stderr)
    val storage = spark.sparkContext.getRDDStorageInfo
    System.err.println(
      f"[verify] cached RDDs at end: ${storage.length}%d, " +
        f"mem ${storage.map(_.memSize).sum / 1e6}%.1f MB, " +
        f"disk ${storage.map(_.diskSize).sum / 1e6}%.1f MB")
    spark.stop()
  }
}
