package graft.tools

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.commons.io.FileUtils

import graft.{SparkEntry, SparkSpec}

class ProfileSpec extends SparkSpec {

  // PlanBudgetSpec's ceilings for these queries:
  // (max hash exchanges, max range exchanges, max parquet scans)
  private val ceilings = Seq(
    "q_sample_hash" -> (0, 1, 1),
    "q_tpch21" -> (2, 0, 2),
    "q_bigram_lm" -> (2, 1, 1))

  ceilings.foreach { case (q, (maxHash, maxRange, maxScans)) =>
    test(s"$q: the executed-plan census stays within $maxHash/$maxRange/$maxScans") {
      val c = Profile.executedCensus(SparkEntry.queries(q)(spark, sfDir))
      assert(c.scans >= 1, s"$q: no scan counted, the census read no plan: $c")
      assert(c.hashExchanges <= maxHash, s"$q: $c")
      assert(c.rangeExchanges <= maxRange, s"$q: $c")
      assert(c.scans <= maxScans, s"$q: $c")
    }
  }

  test("census: a ReusedExchange counts as reuse, never as an exchange; batch scans count") {
    val plan =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   SortMergeJoin [k#1], [k#2], Inner
        |   :- ShuffleQueryStage 0
        |   :  +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS
        |   :     +- FileScan parquet [k#1]
        |   +- ShuffleQueryStage 1
        |      +- ReusedExchange [k#2], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS
        |+- == Initial Plan ==
        |   SortMergeJoin [k#1], [k#2], Inner
        |   :- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS
        |   :  +- FileScan parquet [k#1]
        |   +- Exchange hashpartitioning(k#2, 4), ENSURE_REQUIREMENTS
        |      +- FileScan parquet [k#2]
        |""".stripMargin
    assert(Profile.census(plan) ==
      Profile.Census(scans = 1, hashExchanges = 1, rangeExchanges = 0,
        broadcasts = 0, reusedExchanges = 1))
    // the arrow source reads through a DataSource V2 batch scan
    assert(Profile.census("+- BatchScan arrow:/data/t (1)").scans == 1)
  }

  test("a Profile run leaves no graft temp directory behind") {
    val tmp = Files.createTempDirectory("profile-tmpdir").toFile
    try {
      val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("--add-opens="))
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java",
          "-cp", System.getProperty("java.class.path"), "-Xmx1g",
          s"-Djava.io.tmpdir=$tmp") ++ opens ++
        Seq("graft.tools.Profile", "q_arrow_roundtrip,q_partitioned_dataset", sfDir)
      val out = new StringBuilder
      val exit = Process(cmd, None, "SPARK_GRAFT_CPUS" -> "2")
        .!(ProcessLogger(s => out.append(s).append('\n'), _ => ()))
      assert(exit == 0, s"Profile exited $exit:\n$out")
      assert(out.toString.contains("\"query\":\"q_arrow_roundtrip\""), out.toString)
      val left = Option(tmp.listFiles).toSeq.flatten.map(_.getName)
        .filter(_.startsWith("graft-"))
      assert(left.isEmpty, s"left behind in java.io.tmpdir: $left")
    } finally FileUtils.deleteQuietly(tmp)
  }
}
