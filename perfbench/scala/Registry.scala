package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

import graft.SparkEntry

/** `registry_sf01`: a closed loop with one client. Each named
  * `SparkEntry.queries` entry runs in the given order. The first pass is
  * the correctness pass (row count and fingerprint of each answer); it also
  * warms the JIT. Then timed passes run every entry until `seconds` of
  * timed work have passed, and at least twice. The first of them still
  * runs slower while the JIT warms up, so the report takes each entry's
  * fastest timed run, as `graft.Bench` does.
  * Each timed entry is split into planning (forcing `executedPlan`) and
  * the execution of that same plan, drained row by row as the `noop` sink
  * drains it. A full collection after each timed pass records the heap the
  * program retains. */
object Registry {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def run(o: Harness.Opts, tracer: Tracer): Map[String, Any] = {
    val dir = o("dir")
    val names = o("entries").split(',').toSeq
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown registry entries: $unknown")
    val (spark, setup) = Harness.setUp(o, tracer) { s =>
      Tables.foreach(t => s.read.parquet(s"$dir/$t.parquet").schema)
    }
    val errors = mutable.ArrayBuffer[String]()

    val w0 = System.nanoTime()
    val answers = names.map { n =>
      n -> (try {
        val (rows, fp) = Harness.fingerprint(queries(n)(spark, dir))
        Map("rows" -> rows, "fp" -> fp)
      } catch {
        case e: Exception =>
          errors += s"$n (check pass): ${e.getMessage}"
          Map("rows" -> -1L, "fp" -> "error")
      })
    }.toMap
    val warmupS = (System.nanoTime() - w0) / 1e9

    val plan = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val exec = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passS = mutable.ArrayBuffer[Double]()
    tracer.resetCounters()
    val m0 = System.nanoTime()
    while (passS.size < 2 || (System.nanoTime() - m0) / 1e9 < o.int("seconds")) {
      val p0 = System.nanoTime()
      for (n <- names) timed(spark, tracer, dir, n, passS.size) match {
        case Right((pl, ex)) =>
          plan.getOrElseUpdate(n, mutable.ArrayBuffer()) += pl
          exec.getOrElseUpdate(n, mutable.ArrayBuffer()) += ex
        case Left(msg) => errors += s"$n (pass ${passS.size}): $msg"
      }
      passS += (System.nanoTime() - p0) / 1e9
      Host.checkpoint()
    }
    val measureS = (System.nanoTime() - m0) / 1e9
    val counters = tracer.counters
    spark.stop()
    Map("setup_rounds_s" -> setup, "warmup_s" -> warmupS,
      "measure_s" -> measureS, "pass_s" -> passS, "answers" -> answers,
      "plan_s" -> plan.map { case (k, v) => k -> v.toSeq },
      "exec_s" -> exec.map { case (k, v) => k -> v.toSeq },
      "attempted" -> (names.size * (passS.size + 1)), "errors" -> errors,
      "counters" -> counters)
  }

  /** One timed entry: a `registry.query` span with `plan` and `exec`
    * children; its Spark jobs join it through the job group. */
  private def timed(spark: SparkSession, tracer: Tracer, dir: String,
      name: String, pass: Int): Either[String, (Double, Double)] = {
    val group = s"registry:$name:$pass"
    val id = tracer.reserve()
    if (tracer.enabled) tracer.groupParent.put(group, id)
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = tracer.nowUs
    val n0 = System.nanoTime()
    try {
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      qe.executedPlan
      val t1 = tracer.nowUs
      val n1 = System.nanoTime()
      drain(qe, name)
      val t2 = tracer.nowUs
      val n2 = System.nanoTime()
      tracer.put(id, 0, "registry.query", t0, t2, Map("entry" -> name, "pass" -> pass))
      tracer.add(id, "registry.plan", t0, t1)
      tracer.add(id, "registry.exec", t1, t2)
      Right(((n1 - n0) / 1e9, (n2 - n1) / 1e9))
    } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
    finally spark.sparkContext.clearJobGroup()
  }

  /** Execute a query's physical plan (planned now if it is not yet) under
    * its own SQL execution id and drop every row. */
  private def drain(qe: QueryExecution, name: String): Unit =
    SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))
}
