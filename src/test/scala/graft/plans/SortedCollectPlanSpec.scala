package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, TempDirs, TestSession}

/** Plan shapes on a GraftExtensions session: the sort at the root of
  * an answer is a [[SortedCollectExec]] with no range exchange, and
  * every other sort keeps Spark's plan.
  */
class SortedCollectPlanSpec extends SparkSpec {

  private lazy val ext: SparkSession = TestSession.graft("graft-sorted-collect-plan", 4)

  private lazy val extStatic: SparkSession = {
    val s = ext.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** The plan `collect()` ran: with AQE on, the plan of AQE's final
    * (result) stage.
    */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan match {
        case stage: QueryStageExec => stage.plan
        case p => p
      }
      case p => p
    }
  }

  private def rangeExchanges(plan: SparkPlan): Int =
    plan.toString.linesIterator.count(_.contains("Exchange rangepartitioning"))

  for (q <- Seq("q_lang_id", "q_dedup_minhash"); (mode, s) <- Seq(
      "AQE on" -> (() => ext), "AQE off" -> (() => extStatic))) {
    test(s"$q collects through a SortedCollect root with no range exchange ($mode)") {
      val plan = executed(SparkEntry.queries(q)(s(), sfDir))
      assert(plan.isInstanceOf[SortedCollectExec], s"root is not SortedCollect:\n$plan")
      assert(rangeExchanges(plan) == 0, s"range exchange left in:\n$plan")
    }
  }

  private def frame(s: SparkSession): DataFrame =
    s.range(0, 100, 1, 3).select(col("id"), (col("id") % 7).as("k"))

  test("orderBy(..).limit(n) still plans TakeOrderedAndProject") {
    val plan = executed(frame(ext).orderBy(col("k").desc, col("id")).limit(5))
    assert(plan.toString.contains("TakeOrderedAndProject"), plan.toString)
    assert(!plan.toString.contains("SortedCollect"), plan.toString)
  }

  test("a sort under a select keeps Spark's range-shuffle sort") {
    val plan = executed(frame(ext).orderBy("k", "id").select("id"))
    assert(!plan.toString.contains("SortedCollect"), plan.toString)
    assert(rangeExchanges(plan) == 1, plan.toString)
  }

  test("a sort under a write keeps Spark's range-shuffle sort") {
    frame(ext).createOrReplaceTempView("sorted_collect_in")
    val dir = TempDirs.tempDir("graft-sorted-collect-write")
    ext.sql(s"CREATE TABLE sorted_collect_out (id BIGINT, k BIGINT) USING parquet LOCATION '$dir'")
    try {
      val plan = ext.sql("INSERT OVERWRITE sorted_collect_out " +
        "SELECT * FROM sorted_collect_in ORDER BY k, id").queryExecution.executedPlan.toString
      assert(plan.contains("Exchange rangepartitioning"), plan)
      assert(!plan.contains("SortedCollect"), plan)
    } finally ext.sql("DROP TABLE sorted_collect_out")
  }
}
