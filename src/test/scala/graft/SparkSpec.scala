package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * Spark session startup dominates test time otherwise). It is the
  * first session in the test JVM, so it carries GraftSession's
  * generated-class cache bound: the bound is fixed by the first session
  * that generates code (see GraftSession).
  */
object TestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toLong)
    .getOrCreate()

  /** A second session on the shared SparkContext, built by
    * GraftSession.builder: graft's extensions and scale defaults.
    * getOrCreate returns any live default session (ignoring
    * withExtensions), so the defaults are cleared first and restored
    * after.
    */
  def graft(appName: String, shufflePartitions: Int = 2): SparkSession = {
    val prior = spark // force the shared session to exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(appName)
      .master(prior.sparkContext.master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.setDefaultSession(prior)
    SparkSession.setActiveSession(prior)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sqlImplicits: spark.implicits.type = spark.implicits
  val sfDir = "/root/testdata/sf0.001"
}
