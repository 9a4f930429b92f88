package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.sources.arrow.ArrowDictWriter
import graft.sources.feather.FeatherV1
import graft.sources.plasma.PlasmaStore

/** One timed operation's result. `buildS` is the time spent building
  * the DataFrame (registry code, including any eager sub-jobs), `runS`
  * the time spent consuming every row and column of it.
  */
final case class Outcome(op: String, kind: String, buildS: Double, runS: Double,
                         rows: Long, fp: String, storedBytes: Long = -1L) {
  def seconds: Double = buildS + runS
}

/** A step of a pass. A registry query is one step with one outcome; an
  * IO step writes a table to a container, reads it back in full and
  * deletes it, so it has two outcomes.
  */
final case class Step(name: String, run: () => Seq[Outcome])

object Workloads {

  val tpchQueries: Seq[String] =
    Seq("q_tpch1", "q_tpch5", "q_tpch16", "q_tpch18")

  val corpusQueries: Seq[String] = Seq(
    "q_embed_neardup", "q_dedup_minhash", "q_dedup_simhash", "q_bpe_tokenize",
    "q_bigram_lm", "q_gopher_rules", "q_lang_id")

  val containers: Seq[String] = Seq(
    "arrow_file", "arrow_stream", "arrow_zstd", "arrow_dict", "feather", "plasma", "parquet")

  val ioTables: Seq[String] = Seq("lineitem", "embeddings")

  /** Low-cardinality string columns the dictionary writer encodes. */
  private val dictCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_returnflag", "l_linestatus"))

  /** Input tables each workload reads. */
  def tables(workload: String): Seq[String] = workload match {
    case "tables" =>
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "embeddings")
    case "corpus" => Seq("documents", "embeddings")
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def querySteps(spark: SparkSession, dir: String, names: Seq[String]): Seq[Step] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      Step(name, () => {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        val (n, fp) = Fingerprint.ofRows(df.schema, rows)
        Seq(Outcome(name, "query", (t1 - t0) / 1e9, (t2 - t1) / 1e9, n, fp))
      })
    }

  /** The IO workload's source tables, cached in memory so a write times
    * the sink and not the parquet scan. lineitem's ship date becomes a
    * DATE column so the containers carry a date type too.
    */
  def ioSources(spark: SparkSession, dir: String): Map[String, DataFrame] =
    ioTables.map { t =>
      val raw = spark.read.parquet(s"$dir/$t.parquet")
      val df = if (t == "lineitem") raw.withColumn("l_shipdate", to_date(col("l_shipdate"))) else raw
      t -> df.persist(StorageLevel.MEMORY_ONLY)
    }.toMap

  private def hasList(schema: StructType): Boolean =
    schema.fields.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])

  /** Whether a container takes a table: Feather v1 holds no list
    * columns, and the dictionary writer needs string columns to encode.
    */
  def accepts(container: String, table: String, schema: StructType): Boolean = container match {
    case "feather" => !hasList(schema)
    case "arrow_dict" => dictCols.contains(table)
    case _ => true
  }

  def ioSteps(spark: SparkSession, sources: Map[String, DataFrame], ioRoot: String): Seq[Step] =
    for {
      t <- ioTables
      c <- containers if accepts(c, t, sources(t).schema)
    } yield Step(s"$t.$c", () => ioRoundTrip(spark, sources(t), t, c, s"$ioRoot/$t.$c"))

  private def ioRoundTrip(spark: SparkSession, src: DataFrame, table: String,
                          container: String, dir: String): Seq[Outcome] = {
    val name = s"$table.$container"
    lazy val plasma = new PlasmaStore(dir)
    val t0 = System.nanoTime()
    container match {
      case "arrow_file" => src.write.format("arrow").mode("overwrite").save(dir)
      case "arrow_stream" =>
        src.write.format("arrow").option("ipc.format", "stream").mode("overwrite").save(dir)
      case "arrow_zstd" =>
        src.write.format("arrow").option("ipc.compression", "zstd").mode("overwrite").save(dir)
      case "arrow_dict" => ArrowDictWriter.write(src, dir, dictCols(table))
      case "feather" => FeatherV1.write(src, dir)
      case "plasma" => plasma.putDataFrame(table, src)
      case "parquet" => src.write.mode("overwrite").parquet(dir)
    }
    val t1 = System.nanoTime()
    val stored = Disk.bytes(new File(dir))
    val t2 = System.nanoTime()
    val back = container match {
      case "plasma" => plasma.getDataFrame(spark, table).get
      case "parquet" => spark.read.parquet(dir)
      case _ => spark.read.format("arrow").load(dir)
    }
    val (n, fp) = Fingerprint.ofTable(back, src.schema)
    val t3 = System.nanoTime()
    Disk.delete(new File(dir))
    Seq(Outcome(s"write.$name", "write", 0.0, (t1 - t0) / 1e9, -1L, "", stored),
      Outcome(s"read.$name", "read", 0.0, (t3 - t2) / 1e9, n, fp))
  }
}

object Disk {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else if (f.exists()) f.length() else 0L

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    Files.deleteIfExists(f.toPath); ()
  }

  /** SHA-256 over a table's schema and the data pages of its parquet
    * files, in file-name order. Each file's footer is left out: parquet
    * writes each column's set of encodings in hash-set order, which
    * differs from one JVM to the next for the same data.
    */
  def sha256(dir: Path, schemaJson: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schemaJson.getBytes("UTF-8"))
    val files = Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    files.foreach { f =>
      val b = Files.readAllBytes(f.toPath)
      // layout: data pages, footer, footer length (int32 LE), "PAR1"
      val footer = java.nio.ByteBuffer.wrap(b, b.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      md.update(b, 0, b.length - 8 - footer)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
