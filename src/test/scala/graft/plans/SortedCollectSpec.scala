package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, TempDirs, TestSession}
import graft.sources.feather.FeatherV1

/** An ordered `collect()` returns the same rows in the same order on a
  * GraftExtensions session (whose root sorts are planned by
  * [[SortedCollect]]) as on the plain session (Spark's range-shuffle
  * sort), and every other consumer of a root-sorted frame still sees
  * the global order.
  */
class SortedCollectSpec extends SparkSpec {

  private lazy val ext: SparkSession = TestSession.graft("graft-sorted-collect", 4)

  /** Array-safe rendering: arrays, binaries, maps and structs compare
    * by value, not by reference.
    */
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("bin[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + "->" + render(x) }.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(render)

  test("every root-sorted oracle query collects identically with and without the extensions") {
    val sorted = SparkEntry.registry.filter(_.oracle.isDefined).filter { q =>
      val plan = q.fn(spark, sfDir).queryExecution.optimizedPlan
      plan.isInstanceOf[Sort] && plan.asInstanceOf[Sort].global
    }
    assert(sorted.size > 50, s"only ${sorted.size} root-sorted oracle queries")
    val differ = sorted.filter(q => rows(q.fn(ext, sfDir)) != rows(q.fn(spark, sfDir)))
    assert(differ.isEmpty, s"ordered rows differ: ${differ.map(_.name)}")
  }

  /** 4 columns over `n` ids in `parts` partitions: `d` cycles through
    * NULL, NaN, -0.0, 0.0, 1.5, -2.0; `g` has three values; `s` is a
    * string with NULLs. Every key repeats, so ties span partitions.
    */
  private def keyed(s: SparkSession, n: Long, parts: Int): DataFrame = {
    val ds = array(lit(null).cast("double"), lit(Double.NaN), lit(-0.0), lit(0.0),
      lit(1.5), lit(-2.0))
    s.range(0, n, 1, parts).select(
      col("id"),
      element_at(ds, (col("id") % 6 + 1).cast("int")).as("d"),
      (col("id") % 3).as("g"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise(concat(lit("s"), (col("id") % 4).cast("string"))).as("s"))
  }

  // (name, key columns, sort order)
  private val orders: Seq[(String, Seq[String], Seq[Column])] = Seq(
    ("d asc (nulls first)", Seq("d"), Seq(col("d"))),
    ("d desc (nulls last)", Seq("d"), Seq(col("d").desc)),
    ("d asc nulls last", Seq("d"), Seq(col("d").asc_nulls_last)),
    ("d desc nulls first", Seq("d"), Seq(col("d").desc_nulls_first)),
    ("g, d desc, s", Seq("g", "d", "s"), Seq(col("g"), col("d").desc, col("s"))),
    ("s nulls last, g desc", Seq("s", "g"), Seq(col("s").asc_nulls_last, col("g").desc)))

  // -0.0 and 0.0 are equal sort keys, so only their normalized form is
  // ordered
  private def keysOf(rs: Array[Row], names: Seq[String]): Seq[Seq[String]] =
    rs.toSeq.map(r => names.map(n => r.get(r.fieldIndex(n)) match {
      case d: java.lang.Double if d == 0.0 => "0.0"
      case x => render(x)
    }))

  for ((n, parts) <- Seq((200L, 1), (200L, 3), (200L, 7), (5L, 8), (0L, 4));
       (name, names, order) <- orders) {
    test(s"$name over $n rows in $parts partitions: key order, same rows, repeatable") {
      val got = keyed(ext, n, parts).orderBy(order: _*).collect()
      val want = keyed(spark, n, parts).orderBy(order: _*).collect()
      assert(keysOf(got, names) == keysOf(want, names))
      assert(got.map(render).sorted.toSeq == want.map(render).sorted.toSeq)
      val again = keyed(ext, n, parts).orderBy(order: _*).collect()
      assert(again.map(render).toSeq == got.map(render).toSeq)
    }
  }

  test("toLocalIterator, .rdd, queryExecution.toRdd and a Feather write keep the global order") {
    val order = Seq(col("d").desc, col("g"), col("id"))
    val want = keyed(spark, 500, 5).orderBy(order: _*).collect().toSeq.map(render)
    def df = keyed(ext, 500, 5).orderBy(order: _*)
    assert(df.collect().toSeq.map(render) == want)
    assert(df.toLocalIterator().asScala.toSeq.map(render) == want)
    assert(df.rdd.collect().toSeq.map(render) == want)
    // the GraftServer.serveRows lineage
    val ids = df.queryExecution.toRdd.map(_.getLong(0)).collect().toSeq
    assert(ids == want.map(_.stripPrefix("(").takeWhile(_ != ',').toLong))
    val dir = TempDirs.tempDir("graft-sorted-collect-feather")
    FeatherV1.write(df, dir)
    val parts = new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".feather")).sorted
    assert(parts.length > 1, "the write should be a parallel sort")
    val back = parts.toSeq.flatMap(p => ext.read.format("arrow").load(p).collect())
    assert(back.map(render) == want)
  }
}
