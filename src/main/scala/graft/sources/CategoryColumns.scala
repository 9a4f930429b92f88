package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

import graft.sources.arrow.IpcColumn

/** Shared driver-side validation for the dictionary-encoded
  * ("category") write options of the feather v1, Arrow JSON
  * integration and dictionary IPC writers — one rule set, one place
  * to evolve it.
  */
private[sources] object CategoryColumns {
  def validate(schema: StructType, categories: Set[String], format: String): Unit =
    categories.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"$format category column $c not in schema")
      require(schema(c).dataType == StringType,
        s"$format category column $c must be string, got ${schema(c).dataType}")
    }

  /** Validate `columns`, then build each one's sorted vocabulary with
    * an exact `distinct` job (one shuffle, scales to any corpus; the
    * *vocabulary* must be bounded — that is what makes a column worth
    * dictionary-encoding). The result is the IPC layout that encodes
    * the columns against those vocabularies.
    */
  def dictionaries(df: DataFrame, columns: Seq[String], format: String,
                   maxVocab: Int): Map[String, IpcColumn] = {
    validate(df.schema, columns.toSet, format)
    columns.map { c =>
      // limit(maxVocab+1) bounds the collect itself: the driver never
      // holds more than cap+1 values even when the column cardinality
      // is in the billions.
      val vocab = df.select(col(c)).where(col(c).isNotNull).distinct()
        .limit(maxVocab + 1).collect().map(_.getString(0))
      require(vocab.length <= maxVocab,
        s"column '$c' has more than $maxVocab distinct values — it is not " +
          "dictionary-worthy; write it as a plain column or raise maxVocab")
      c -> (IpcColumn.Dictionary(vocab.sorted): IpcColumn)
    }.toMap
  }
}
