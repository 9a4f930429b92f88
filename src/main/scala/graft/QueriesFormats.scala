package graft

import org.apache.spark.sql.functions._

import graft.TempDirs.tempDir

/** Source/sink queries (SURVEY §2.D): these run a real write+read
  * through the format under test and are then checked against the
  * DuckDB oracle computed straight from the original parquet — a
  * faithful roundtrip is exactly a hash match.
  */
object QueriesFormats {

  val all: Seq[QueryDef] = Seq(

    // -------------------------------------------------- D1/D2 arrow ipc
    QueryDef("q_arrow_roundtrip",
      (s, d) => {
        val dir = tempDir("graft-arrow-rt")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_returnflag", "l_shipdate")
          .write.format("arrow").mode("overwrite").save(dir)
        s.read.format("arrow").load(dir)
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        l_returnflag, l_shipdate
        FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // ---------------------------------------- D7 partitioned dataset
    // write_to_dataset(partition_cols=['o_orderstatus']) analog +
    // partition-pruned read (reference: python/pyarrow/parquet.py
    // write_to_dataset / ParquetDataset filters).
    QueryDef("q_partitioned_dataset",
      (s, d) => {
        val dir = tempDir("graft-partds")
        // repartition by the partition column first: one writer task
        // per partition value instead of every task writing every
        // value (tasks × values small files — the classic partitioned-
        // write mistake at scale; at 100 TB add a bucketing secondary
        // key to cap per-task volume)
        // r16 (guide §2.3, project before the exchange/sink): the demo
        // dataset only ever serves the pruned read below, so writing
        // the other six order columns was pure write amplification the
        // optimizer cannot remove through a sink
        Tables.orders(s, d)
          .select("o_orderstatus", "o_orderpriority", "o_totalprice")
          .repartition(col("o_orderstatus"))
          .write.partitionBy("o_orderstatus").mode("overwrite").parquet(dir)
        s.read.parquet(dir)
          .where(col("o_orderstatus") === "F")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            QueryDef.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
        ${QueryDef.sqlDsum("o_totalprice")} AS sum_price
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ------------------------------------- D14 parquet footer metadata
    // pyarrow ParquetFile.metadata analog: row-group/column-chunk
    // stats as a DataFrame, read distributed (one task per file
    // batch, metadata-only IO). DuckDB's parquet_metadata() needs a
    // literal path, so the oracle carries the {SFDIR} placeholder
    // that Verify resolves to its invocation dir — both engines read
    // the same file at any scale factor.
    QueryDef("q_parquet_meta",
      (s, d) => graft.sources.ParquetInfo.rowGroups(s, s"$d/lineitem.parquet")
        .select(col("row_group_id"), col("path_in_schema"),
          col("row_group_num_rows"), col("num_values"),
          col("null_count"), col("total_compressed_size"))
        .orderBy("row_group_id", "path_in_schema"),
      Some("""SELECT row_group_id, path_in_schema, row_group_num_rows,
          num_values, CAST(stats_null_count AS BIGINT) AS null_count,
          total_compressed_size
        FROM parquet_metadata('{SFDIR}/lineitem.parquet')
        ORDER BY row_group_id, path_in_schema""")),

    // -------------------------------------- D11b/c plasma roundtrip
    // node-local object-store interop: a bounded dim table parked as a
    // sealed arrow-stream object, read back via the plasma source's
    // batch path (one scan partition per sealed object).
    QueryDef("q_plasma_roundtrip",
      (s, d) => {
        val dir = tempDir("graft-plasma-q")
        val store = new graft.sources.plasma.PlasmaStore(dir)
        store.putDataFrame("customers",
          Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal"))
        s.read.format("plasma").option("dir", dir).load()
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
        ORDER BY c_custkey""")),

    // ------------------------------------------------------- D8 ORC
    QueryDef("q_orc_roundtrip",
      (s, d) => {
        val dir = tempDir("graft-orc")
        Tables.supplier(s, d).write.mode("overwrite").orc(dir)
        s.read.orc(dir).select("s_suppkey", "s_name", "s_acctbal")
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
        ORDER BY s_suppkey""")),

    // ------------------------------------------------------ D9 JSON
    QueryDef("q_json_roundtrip",
      (s, d) => {
        val dir = tempDir("graft-json")
        Tables.nation(s, d).write.mode("overwrite").json(dir)
        s.read.json(dir)
          .select(col("n_nationkey").cast("int").as("n_nationkey"),
            col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
        ORDER BY n_nationkey""")),

    // ------------------------------------------- D4b feather v1 container
    // write+read through the legacy single-batch format (reference:
    // cpp/src/arrow/ipc/feather.h); the read goes through the same
    // arrow source, which sniffs the FEA1 magic per file.
    QueryDef("q_feather_roundtrip",
      (s, d) => {
        val dir = tempDir("graft-feather")
        graft.sources.feather.FeatherV1.write(
          Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"), dir)
        s.read.format("arrow").load(dir).orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, c_nationkey
        FROM customer ORDER BY c_custkey""")),

    // ------------------------------------ D9b arrow JSON integration format
    // write+read through the integration-test representation
    // (reference: cpp/src/arrow/ipc/json.h), sniffed by the leading
    // brace in the same arrow source.
    QueryDef("q_arrow_json_roundtrip",
      (s, d) => {
        val dir = tempDir("graft-ajson")
        graft.sources.json.ArrowJsonIntegration.write(
          Tables.part(s, d).select("p_partkey", "p_name", "p_brand", "p_size"), dir)
        s.read.format("arrow").load(dir).orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_name, p_brand, p_size
        FROM part ORDER BY p_partkey""")),

    // ------------------------------------------------------- D10 CSV
    QueryDef("q_csv_roundtrip",
      (s, d) => {
        val dir = tempDir("graft-csv")
        Tables.region(s, d).write.mode("overwrite")
          .option("header", "true").csv(dir)
        s.read.option("header", "true").option("inferSchema", "false")
          .schema("r_regionkey INT, r_name STRING").csv(dir)
          .orderBy("r_regionkey")
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))
  )
}
