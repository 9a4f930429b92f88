package graft.sources.arrow

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Sparse-union Arrow IPC dataset writer (SURVEY §2.A1 union write
  * side; reference: format/Schema.fbs Union, cpp/src/arrow/type.h
  * UnionType).
  *
  * Spark has no union type, so the input convention mirrors the read
  * side's widening exactly: a union column is a struct with exactly
  * one non-null member per row, and each member becomes one union
  * child (members must have distinct arrow types — the stored type
  * tag is the member's MinorType, as arrow-java's own union writers
  * do). `spark.read.format("arrow")` widens the file straight back
  * to the original struct, making union interop bidirectional.
  */
object ArrowUnionWriter {

  /** Write `df` under `dir` (one IPC file per partition) with each
    * column named in `unionCols` (struct-typed) emitted as a sparse
    * union. Returns total rows written.
    */
  def write(df: DataFrame, dir: String, unionCols: Seq[String],
            batchRows: Int = 4096 * 4): Long = {
    val schema = df.schema
    unionCols.foreach { c =>
      require(schema(c).dataType.isInstanceOf[StructType],
        s"union column '$c' must be a struct of members, got ${schema(c).dataType}")
    }
    val layout: Map[String, IpcColumn] = unionCols.map(_ -> IpcColumn.SparseUnion).toMap
    HadoopFiles.writeStaged(df, dir, "arrow") { (path, rows, conf) =>
      IncrementalArrowWriter.writeAll(new IncrementalArrowWriter(
        HadoopFiles.createChannel(path, conf), schema, stream = false, batchRows,
        layout = layout), rows)
    }
  }
}
