package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}

import graft.operators.{AnalyticOps, PipelineOps, TextOps}

/** Physical-plan shape assertions for the scale claims the operator docs
  * make: map-side ops must not hash-shuffle (their only Exchanges are the
  * contract sort's range partitioning and the repartition under it), and
  * the as-of join must be ONE hash shuffle — the union+running-last
  * design's whole point.
  */
class PlanShapeSpec extends SparkTestBase {

  private def hashExchanges(df: => org.apache.spark.sql.DataFrame): Int = {
    // other suites cache() frames over the same sf0.001 plans; a cache hit
    // would swap the subtree for InMemoryTableScan and hide the exchanges
    // this spec exists to count
    spark.catalog.clearCache()
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
  }

  /** Assert the only hash exchange in the plan is the one
    * `repartition(<sort key>)` (REPARTITION_BY_COL) under the global sort
    * — the pre-sort materialization that lets the range sampler read the
    * shuffle output instead of re-running the child. Planned with AQE off,
    * so the exchanges are concrete nodes of the tree. */
  private def assertOnlyPreSortRepartition(df: => DataFrame): Unit = {
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      def hash(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      val underSort = plan.collect { case s: SortExec if s.global => s }.flatMap(hash)
      assert(hash(plan).map(_.shuffleOrigin) == Seq(REPARTITION_BY_COL) &&
        underSort.size == 1, s"expected one REPARTITION_BY_COL under the sort in:\n$plan")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("repetition metrics are map-side: one pre-sort repartition, no other hash exchange") {
    assertOnlyPreSortRepartition(TextOps.repetition(spark, sf0001))
  }

  test("chunking is map-side: one pre-sort repartition, no other hash exchange") {
    assertOnlyPreSortRepartition(PipelineOps.chunkDocs(spark, sf0001))
  }

  test("as-of join is exactly one hash shuffle (union + running-last)") {
    assert(hashExchanges(AnalyticOps.asofJoin(spark, sf0001)) == 1)
  }

  test("int8 quantization is map-side: zero hash exchanges") {
    assert(hashExchanges(
      graft.operators.SimilarityOps.embedQuantize(spark, sf0001)) == 0)
  }

  test("corpus shuffle windows are partitioned — no single-partition sort") {
    spark.catalog.clearCache()
    val plan = PipelineOps.corpusShuffle(spark, sf0001)
      .queryExecution.executedPlan.toString
    // a Window over an EMPTY partition spec funnels the corpus through one
    // task — the formulation this operator's scaladoc promises to avoid
    val emptyPartitionWindow = "Window \\[[^\\]]*\\], \\[\\]".r
    assert(emptyPartitionWindow.findFirstIn(plan).isEmpty,
      s"found unpartitioned window in:\n$plan")
    assert(plan.contains("windowspecdefinition(shard"),
      "rank window must partition by shard")
  }
}
