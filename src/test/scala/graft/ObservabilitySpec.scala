package graft

import org.apache.spark.sql.graftext.PlanMetrics
import graft.operators.{CoreOps, ServingOps}

class ObservabilitySpec extends SparkTestBase {

  test("plan metrics prove predicate pushdown on the serving day scan") {
    val r = PlanMetrics.run(ServingOps.realtimeTotal(spark, sf0001, "2024-01-15"))
    // the day-range predicate must REACH the parquet scan...
    assert(r.pushedFilters.exists(_.contains("GreaterThanOrEqual")),
      s"expected pushed range filter, got ${r.pushedFilters}")
    // ...and the residual filter keeps only ~1/30 of the events
    val allEvents = Tables.events(spark, sf0001).count()
    assert(r.filterOutputRows > 0 && r.filterOutputRows < allEvents / 5,
      s"day filter should keep ~1/30 of $allEvents, kept ${r.filterOutputRows}")
  }

  test("plan metrics: fact-fact join shuffles; the fact table is scanned once") {
    val r = PlanMetrics.run(CoreOps.orderWide(spark, sf0001))
    val li = Tables.lineitem(spark, sf0001).count()
    val o = Tables.orders(spark, sf0001).count()
    // the deterministic-output orderBy is RANGE partitioned and Spark
    // samples the sort input first; the repartition under the sort
    // materializes that input as shuffle output, so the sampling job reads
    // the shuffle instead of re-running the lineitem scan: each table is
    // counted once (before that repartition lineitem counted twice).
    assert(r.scanOutputRows == li + o,
      s"expected one pass over each table ($li + $o), got ${r.scanOutputRows}")
    assert(r.scanFiles >= 2)
    assert(r.shuffleRecords > 0, "fact-fact join / output sort must shuffle")
  }

  test("plan metrics: snowflake dims each scanned once (broadcast reuse)") {
    val r = PlanMetrics.run(CoreOps.snowflake(spark, sf0001))
    val li = Tables.lineitem(spark, sf0001).count()
    val dims = Seq("part", "supplier", "nation", "region").map(t =>
      spark.read.parquet(s"$sf0001/$t.parquet").count()).sum
    // dims broadcast once; the fact side pays the sort-sampling re-read
    assert(r.scanOutputRows == 2 * li + dims,
      s"expected 2*$li + $dims, got ${r.scanOutputRows}")
  }
}
