package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** [[Tables.partsuppBucketed]] is built once per JVM: a session with its
  * own catalog on the same SparkContext registers the built files
  * instead of deleting and rebuilding them under the other sessions'
  * memos.
  */
class PartsuppCatalogSpec extends SparkSpec {

  private lazy val other: SparkSession = TestSession.graft("graft-partsupp-catalog")

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  private def table(s: SparkSession) = s.sessionState.catalog.getTableMetadata(
    TableIdentifier(s"graft_partsupp_b8_$sfDir".replaceAll("[^a-zA-Z0-9]", "_").toLowerCase))

  test("two catalogs on one SparkContext both run q_tpch16 and both read") {
    assert(other.sharedState ne spark.sharedState, "fixture: two catalogs")
    val q = SparkEntry.queries("q_tpch16")
    val plain = rows(q(spark, sfDir))
    assert(plain.nonEmpty)
    assert(rows(q(other, sfDir)) == plain)
    // the plain session's memo still reads its files, and a fresh read
    // through either catalog sees the same table
    assert(rows(q(spark, sfDir)) == plain)
    assert(rows(q(other.newSession(), sfDir)) == plain)
    assert(rows(q(spark.newSession(), sfDir)) == plain)
    val (a, b) = (table(spark), table(other))
    assert(a.location == b.location)
    assert(b.bucketSpec == a.bucketSpec && a.bucketSpec.isDefined)
  }
}
