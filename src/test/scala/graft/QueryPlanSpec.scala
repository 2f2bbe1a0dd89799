package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan shapes of gate queries whose cost at scale is their exchange count,
  * read from the AQE initial plan like LakeSpec's merge-write spec.
  */
class QueryPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("txt_simhash is one shuffle: per-doc dedup stays map-side") {
    // array_distinct before the explode dedups words inside each doc's row;
    // a row-level distinct would add a (doc_id, word) exchange ahead of the
    // groupBy(doc_id) one
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val df = SparkEntry.queries("txt_simhash")(spark, dir)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 1, plan)
    assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    assert(plan.collect { case s: SortExec => s }.isEmpty, plan)
    assert(df.count() > 0)
  }
}
