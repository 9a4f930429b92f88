package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.ArrayType

/** Builds the pinned inputs: graft.tools.ScaleGen scales the TPC-H
  * seed tables, the corpus tables are taken as they are (ScaleGen would
  * suffix every token), then each table is rewritten hash-partitioned on
  * its key and sorted inside each file, with fixed file names.
  * ScaleGen's own output order depends on shuffle timing; this layout
  * does not, so the data pages match the manifest on every run.
  */
object Prepare {

  private val keys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))

  private val files: Map[String, Int] =
    Map("lineitem" -> 4, "orders" -> 4, "documents" -> 2, "embeddings" -> 2).withDefaultValue(1)

  val tpchTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val corpusTables: Seq[String] = Seq("documents", "embeddings")

  def run(opts: Map[String, String]): Unit = {
    val out = opts("out")
    val staging = s"$out.staging"
    graft.tools.ScaleGen.main(Array(opts("seed-data"), staging, opts("tpch-mult"), tpchTables.mkString(",")))
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (tpchTables ++ corpusTables).foreach { t =>
      val src = if (corpusTables.contains(t)) opts("seed-data") else staging
      val df = spark.read.parquet(s"$src/$t.parquet")
      // every orderable column after the key, so the order is total
      val order = keys(t) ++ df.schema.fields.collect {
        case f if !keys(t).contains(f.name) && !f.dataType.isInstanceOf[ArrayType] => f.name
      }
      val dst = s"$out/$t.parquet"
      df.repartition(files(t), keys(t).map(col): _*)
        .sortWithinPartitions(order.map(col): _*)
        .write.mode("overwrite").parquet(dst)
      // fixed names, no checksum side files: part-00000.parquet, ...
      new File(dst).listFiles().foreach { f =>
        val n = f.getName
        if (n.startsWith("part-")) f.renameTo(new File(dst, n.take(10) + ".parquet"))
        else f.delete()
      }
    }
    spark.stop()
    Disk.delete(new File(staging))
  }
}
