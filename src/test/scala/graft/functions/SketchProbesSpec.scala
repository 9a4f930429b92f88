package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SketchProbesSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val extSpark = graft.TestSession.graft("graft-sketch-test")

  test("cms_estimate never undercounts and respects the eps*N bound") {
    val df = extSpark.range(0, 10000)
      .selectExpr("CAST(id % 100 AS STRING) AS k")
    df.createOrReplaceTempView("cms_in")
    val rows = extSpark.sql(
      """WITH sk AS (SELECT count_min_sketch(k, 0.001d, 0.99d, 7) AS s,
                            COUNT(*) AS n FROM cms_in),
           exact AS (SELECT k, COUNT(*) AS c FROM cms_in GROUP BY k)
         SELECT c, cms_estimate(s, k) AS est, n FROM exact CROSS JOIN sk""")
      .collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val (c, est, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(est >= c, s"CMS undercounted: $est < $c")
      assert(est <= c + math.ceil(0.001 * n).toLong + 1, s"CMS blew the bound: $est vs $c")
    }
  }

  test("bloom_might_contain has no false negatives and a sane FP rate") {
    extSpark.range(0, 5000).toDF("id").createOrReplaceTempView("bloom_in")
    val members = extSpark.sql(
      """WITH bf AS (SELECT bloom_agg(xxhash64(CAST(id AS STRING)), 5000L) AS f
                     FROM bloom_in)
         SELECT bloom_might_contain(f, xxhash64(CAST(id AS STRING))) AS m
         FROM bloom_in CROSS JOIN bf""").collect()
    assert(members.forall(_.getBoolean(0)), "bloom false negative")
    // non-members: FP rate well under 10% at default sizing
    val fps = extSpark.sql(
      """WITH bf AS (SELECT bloom_agg(xxhash64(CAST(id AS STRING)), 5000L) AS f
                     FROM bloom_in)
         SELECT bloom_might_contain(f, xxhash64(CAST(id + 1000000 AS STRING))) AS m
         FROM bloom_in CROSS JOIN bf""").collect().count(_.getBoolean(0))
    assert(fps < 500, s"bloom FP rate too high: $fps / 5000")
  }
}
