package graft.sources.arrow

import org.apache.spark.sql.DataFrame

import graft.sources.CategoryColumns

/** Dictionary-encoded Arrow IPC dataset writer (SURVEY §2.D5 write
  * side; reference: cpp/src/arrow/ipc/dictionary.h).
  *
  * Spark-first shape: the vocabulary of each encoded column is built
  * by an exact `distinct` job ([[CategoryColumns.dictionaries]]),
  * broadcast to the executors, and every partition writes its own IPC
  * file encoding indices against the shared dictionary. Readers (ours
  * included — ArrowIo.decodedVectors) see a schema-declared
  * dictionary and decode on load.
  */
object ArrowDictWriter {

  /** Dictionary-worthiness guard: the vocabulary is collected to the
    * driver and broadcast, so an unbounded-cardinality column would be
    * a driver OOM. The cap turns that into an immediate, actionable
    * error instead.
    */
  val DefaultMaxVocab: Int = 1 << 20

  /** Write `df` under `dir` (one IPC file per partition) with
    * `dictCols` dictionary-encoded. Returns total rows written.
    *
    * @param maxVocab upper bound on per-column dictionary size; a
    *   column exceeding it fails fast with a clear error (raise it
    *   only if the driver has heap for the vocabulary broadcast).
    */
  def write(df: DataFrame, dir: String, dictCols: Seq[String],
            stream: Boolean = false, batchRows: Int = 4096 * 4,
            maxVocab: Int = DefaultMaxVocab): Long = {
    val schema = df.schema
    val layout = CategoryColumns.dictionaries(df, dictCols, "arrow dictionary", maxVocab)
    val bc = df.sparkSession.sparkContext.broadcast(layout)
    HadoopFiles.writeStaged(df, dir, "arrow") { (path, rows, conf) =>
      IncrementalArrowWriter.writeAll(new IncrementalArrowWriter(
        HadoopFiles.createChannel(path, conf), schema, stream, batchRows, layout = bc.value),
        rows)
    }
  }
}
