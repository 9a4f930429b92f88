package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.tools.Measure.{compiled, median, r3, time, times}

/** Per-query profile of registry queries, on Bench's session. For each
  * query, on a fresh DataFrame every rep:
  *  - t_plan: median time to force `queryExecution.executedPlan`
  *    (analysis, optimization, physical planning; no execution);
  *  - t_first: the first full count() in this JVM (pays code
  *    generation once per plan shape);
  *  - t_warm: median of the remaining reps' count()s, so t_warm - t_plan
  *    isolates execution and scheduling;
  *  - compiles_first / compiles_warm: classes the code generator
  *    compiled during the first count() and during all the remaining
  *    ones. A warm rep finds its classes in the generated-class cache,
  *    so compiles_warm > 0 marks a query whose generated code changes
  *    from run to run (a run-varying value inlined in the code, such
  *    as the codegen stage id adaptive execution assigns as it
  *    re-plans);
  *  - the census of the final adaptive plan of one collect(): scans
  *    (file and DataSource V2 batch scans), hash and range exchanges,
  *    broadcasts and reused exchanges.
  *    A ReusedExchange line embeds the text of the exchange it reuses
  *    but executes nothing, so it counts as reuse, never as an exchange.
  * Prints one JSON object per query. With `planDir`, each query's
  * formatted plan before execution is also written to
  * `planDir/<query>.txt`.
  *
  * Usage: Profile <q1,q2,...|all> [sfDir] [reps] [planDir]
  * (sfDir defaults to SPARK_GRAFT_SF_DIR, the directory Bench reads;
  * reps defaults to 5 and is at least 2)
  */
object Profile {

  case class Census(scans: Int, hashExchanges: Int, rangeExchanges: Int,
                    broadcasts: Int, reusedExchanges: Int)

  /** Census of an executed plan's string. Only the final adaptive plan
    * counts: the string also carries the initial plan after it.
    */
  def census(plan: String): Census = {
    val lines = plan.split("== Initial Plan ==").head.linesIterator.toSeq
    val live = lines.filterNot(_.contains("ReusedExchange"))
    def n(s: String) = live.count(_.contains(s))
    Census(n("FileScan ") + n("BatchScan "), n("Exchange hashpartitioning"),
      n("Exchange rangepartitioning"), n("BroadcastExchange"),
      lines.size - live.size)
  }

  /** Collects `df` and returns the census of the plan that ran. */
  def executedCensus(df: DataFrame): Census = {
    df.collect()
    census(df.queryExecution.executedPlan.toString)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <q1,q2,...|all> [sfDir] [reps] [planDir]")
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("no sfDir argument and SPARK_GRAFT_SF_DIR unset"))
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    require(reps >= 2, s"reps must be at least 2: $reps")
    val planDir = args.lift(3)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))

    val spark = Measure.start(Bench.session("graft-profile"))
    // same warmup discipline as Bench: don't charge one-time JVM setup
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("customer", "supplier", "part", "orders", "lineitem")
      .filter(t => new java.io.File(s"$sfDir/$t.parquet").exists)
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def fresh(): DataFrame = fn(spark, sfDir)
      val tPlan = median(times(reps)(fresh().queryExecution.executedPlan))
      val (totals, compiles) =
        (1 to reps).map(_ => compiled(time(fresh().count()))).unzip
      val c = executedCensus(fresh())
      planDir.foreach { d =>
        Files.writeString(Paths.get(d, s"$name.txt"),
          fresh().queryExecution.explainString(FormattedMode))
      }
      println(s"""{"query":"$name","sf_dir":"$sfDir","reps":$reps,""" +
        s""""t_plan":${r3(tPlan)},"t_first":${r3(totals.head)},""" +
        s""""t_warm":${r3(median(totals.tail))},""" +
        s""""compiles_first":${compiles.head},"compiles_warm":${compiles.tail.sum},""" +
        s""""scans":${c.scans},""" +
        s""""hash_exchanges":${c.hashExchanges},""" +
        s""""range_exchanges":${c.rangeExchanges},""" +
        s""""broadcasts":${c.broadcasts},""" +
        s""""reused_exchanges":${c.reusedExchanges}}""")
    }
    spark.stop()
  }
}
