package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

class ParquetInfoSpec extends SparkSpec {

  test("footer metadata reconciles with the data it describes") {
    val path = s"$sfDir/lineitem.parquet"
    val meta = ParquetInfo.rowGroups(spark, path)
    val actualRows = spark.read.parquet(path).count()
    // per-row-group row counts sum to the table count
    val metaRows = meta.select("file", "row_group_id", "row_group_num_rows")
      .distinct().agg(sum("row_group_num_rows")).collect()(0).getLong(0)
    assert(metaRows == actualRows)
    // every column of the schema appears in every row group
    val cols = spark.read.parquet(path).columns.toSet
    val metaCols = meta.select("path_in_schema").distinct()
      .collect().map(_.getString(0)).toSet
    assert(metaCols == cols, s"footer columns $metaCols != schema $cols")
    // value counts: no nulls in the synthetic data → num_values == rows
    val badCounts = meta.where(col("num_values") =!= col("row_group_num_rows")
      || col("null_count") =!= 0L).count()
    assert(badCounts == 0L)
  }

  test("metadata read over a multi-file dataset directory stays per-file") {
    val dir = TempDirs.tempDir("graft-pqinfo")
    spark.read.parquet(s"$sfDir/nation.parquet").repartition(3)
      .write.mode("overwrite").parquet(dir)
    val meta = ParquetInfo.rowGroups(spark, dir)
    assert(meta.select("file").distinct().count() == 3)
    val total = meta.select("file", "row_group_id", "row_group_num_rows")
      .distinct().agg(sum("row_group_num_rows")).collect()(0).getLong(0)
    assert(total == 25L)
  }
}
