package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Schema-checked loaders for the driver-generated TPC-H-ish tables.
  *
  * Analog of the reference's table readers (reference:
  * python/pyarrow/parquet.py:read_table) — in Spark the parquet DSv2
  * scan already does column pruning + predicate pushdown, so these are
  * plain declarative scans and Catalyst handles the rest.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Derived `partsupp`: the synthetic schema ships no partsupp
    * parquet, so the part↔supplier relationship is reconstructed from
    * the distinct (l_partkey, l_suppkey) pairs lineitem actually uses —
    * referential integrity holds by construction, exactly as in real
    * TPC-H where every lineitem (partkey, suppkey) is a partsupp row.
    * ps_availqty / ps_supplycost are pure integer arithmetic on the
    * keys so Spark and the DuckDB oracle derive bit-identical values.
    *
    * Scale note: the distinct is one lineitem-wide shuffle; on a real
    * 100 TB deployment this table would be materialized once (it is
    * sf-scaling but ~40× smaller than lineitem), not re-derived per
    * query — same trade as a bucketed dimension build.
    */
  def partsupp(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // materialized once per (session, dir) and persisted — four TPC-H
    // queries (Q2/Q11/Q16/Q20) consume it, and re-deriving means
    // re-paying the lineitem-wide distinct shuffle each time
    SessionMemo(s, ("partsupp", d))(
      lineitem(s, d)
        .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .distinct()
        .withColumn("ps_availqty",
          (col("ps_partkey") * 37 + col("ps_suppkey") * 101) % 9999 + 1)
        .withColumn("ps_supplycost",
          ((col("ps_partkey") * 13 + col("ps_suppkey") * 7) % 99900 + 100)
            .cast(org.apache.spark.sql.types.DoubleType) / 100.0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    )
  }

  /** [[partsupp]] materialized ONCE per (session, dir) as a bucketed,
    * bucket-sorted table keyed ps_partkey — the storage layout its four
    * consumers (Q2/Q11/Q16/Q20) want: their part-side joins, windows
    * and aggregates are all keyed ps_partkey (or a superset,
    * (ps_partkey, ps_suppkey) in Q20, which hash-partitioning on
    * ps_partkey also satisfies), so the bucketed scan's partitioning
    * replaces a per-query Exchange of the partsupp side. The persisted
    * form ([[partsupp]]) saved the derive; this also saves the
    * re-shuffle per consumer — the standard "build your dimension
    * bucketed" trade at 100 TB, where partsupp is ~40× smaller than
    * lineitem but still far too big to broadcast.
    */
  def partsuppBucketed(s: SparkSession, d: String, buckets: Int = 8): DataFrame =
    SessionMemo(s, ("partsuppBucketed", d, buckets)) {
      val table = s"graft_partsupp_b${buckets}_$d"
        .replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      partsuppBuilt.synchronized {
        // a catalog that has the table reuses it (every newSession()
        // shares its parent's catalog)
        if (!s.catalog.tableExists(table)) partsuppBuilt.get(table) match {
          // built in this JVM under another catalog (a session with its
          // own SharedState): register those files, never rebuild them,
          // since another session's memo still reads them
          case Some((schema, location)) =>
            s.sql(s"CREATE TABLE $table ($schema) USING parquet " +
              s"CLUSTERED BY (ps_partkey) SORTED BY (ps_partkey) " +
              s"INTO $buckets BUCKETS LOCATION '$location'")
          case None =>
            // the first build in this JVM. The in-memory catalog forgets
            // tables between JVMs but their warehouse files survive, and
            // saveAsTable refuses a managed location that already exists
            // — clear leftovers explicitly, through Hadoop FS so a
            // non-local warehouse (HDFS/object store) is swept too, not
            // just the driver's local disk
            val leftover = new org.apache.hadoop.fs.Path(
              s.conf.get("spark.sql.warehouse.dir"), table)
            val fs = leftover.getFileSystem(s.sessionState.newHadoopConf())
            if (fs.exists(leftover)) fs.delete(leftover, true)
            partsupp(s, d).write
              .bucketBy(buckets, "ps_partkey").sortBy("ps_partkey")
              .mode("overwrite").saveAsTable(table)
            val built = s.sessionState.catalog
              .getTableMetadata(TableIdentifier(table))
            partsuppBuilt(table) = (built.schema.toDDL, built.location.toString)
        }
      }
      s.table(table)
    }

  /** Bucketed partsupp tables built in this JVM → (schema DDL, location). */
  private val partsuppBuilt =
    scala.collection.mutable.Map.empty[String, (String, String)]

  /** The oracle-side twin of [[partsupp]], spliced into each oracle
    * query as a WITH clause.
    */
  val partsuppSql: String =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    ((l_partkey * 37 + l_suppkey * 101) % 9999) + 1 AS ps_availqty,
      |    CAST(((l_partkey * 13 + l_suppkey * 7) % 99900) + 100 AS DOUBLE) / 100.0 AS ps_supplycost
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))""".stripMargin

  /** `events.parquet` stores `ts` as parquet INT64 TIMESTAMP(NANOS).
    * Spark's vectorized reader has no nanosecond timestamp type, so we
    * read nanos as long (legacy flag set in GraftSession) and derive a
    * microsecond timestamp column — the same truncation DuckDB applies
    * when it reads nanos into its native microsecond timestamps.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // Runtime-settable; must be on before the scan is planned. Spark
    // otherwise rejects the file with PARQUET_TYPE_ILLEGAL.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: true division routes the ~1.7e18 ns
        // epoch through a double and loses microseconds past 2^53.
        // NTZ (naive) like the source data and like DuckDB reads it —
        // session tz is UTC so the wall clock is unchanged.
        raw.withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ => raw
    }
  }
}
