package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import QueryDef.{dec2, dsum, revenueTerm, sqlDsum, sqlRevenue}

/** Extended TPC-H suite (SURVEY §2.C, round 2): the classic queries
  * re-expressed over the synthetic star schema. Queries needing
  * partsupp / shipmode / commitdate columns the synthetic tables lack
  * are adapted (noted per query) — the join/agg shape is preserved,
  * which is what matters for plan quality at 100 TB.
  *
  * Cross-engine exactness: money aggregates go through bounded
  * decimals (see QueryDef); averages and ratios divide two exact
  * doubles so both engines round identically.
  */
object QueriesTpch {

  /** charge = price·(1-disc)·(1+tax) in bounded decimals: widths are
    * kept small (12,2)/(4,2) so the triple product stays under both
    * engines' 38-digit cap without scale truncation.
    */
  private def chargeTerm = {
    val p = col("l_extendedprice").cast(DecimalType(12, 2))
    val d = col("l_discount").cast(DecimalType(4, 2))
    val t = col("l_tax").cast(DecimalType(4, 2))
    p * (lit(1).cast(DecimalType(4, 2)) - d) * (lit(1).cast(DecimalType(4, 2)) + t)
  }
  private val sqlCharge =
    """CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      | * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      | * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)"""
      .stripMargin.replaceAll("\n", " ")

  /** Exact cross-engine average: decimal sum → double, over double count. */
  private def davg(c: org.apache.spark.sql.Column) =
    sum(dec2(c)).cast(DoubleType) / count(lit(1)).cast(DoubleType)
  private def sqlDavg(x: String) =
    s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"

  val all: Seq[QueryDef] = Seq(

    // ----------------------------------------------------- TPC-H Q1 (full)
    QueryDef("q_tpch1",
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
            .cast(DoubleType).as("sum_disc_price"),
          sum(chargeTerm).cast(DoubleType).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlDsum("l_quantity")} AS sum_qty,
        ${sqlDsum("l_extendedprice")} AS sum_base_price,
        ${sqlRevenue("l_extendedprice", "l_discount")} AS sum_disc_price,
        $sqlCharge AS sum_charge,
        ${sqlDavg("l_quantity")} AS avg_qty,
        ${sqlDavg("l_extendedprice")} AS avg_price,
        ${sqlDavg("l_discount")} AS avg_disc,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---------------------------------------------------------- TPC-H Q7
    // volume shipping between two nations, by year
    QueryDef("q_tpch7",
      (s, d) => {
        // Scale shape: the two-nation predicate is pushed onto supplier
        // and customer BEFORE they meet the fact tables — each build
        // side shrinks to ~2/25 of its rows up front. Only nation
        // (fixed 25 rows) carries a broadcast hint; supplier/customer
        // scale with sf, so AQE decides how to join them (at 100 TB a
        // forced broadcast of either is an OOM).
        val twoNations = Seq("NATION_1", "NATION_2")
        val n1 = Tables.nation(s, d).where(col("n_name").isin(twoNations: _*))
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d).where(col("n_name").isin(twoNations: _*))
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        val supp = Tables.supplier(s, d)
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust = Tables.customer(s, d)
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .select(col("c_custkey"), col("cust_nation"))
        // Fact tables meet each other LAST: lineitem is cut to the two
        // nations' suppliers (~2/25) and orders to the two nations'
        // customers (~2/25) before the orderkey join, so the one big
        // shuffle moves ~8% of each fact table instead of all of it —
        // AQE broadcasts the pre-shrunk supp/cust sides at small sf
        // and the shape stays shuffle-safe when they outgrow the
        // threshold.
        Tables.lineitem(s, d)
          .where(col("l_shipdate").between(
            to_timestamp(lit("1996-01-01")), to_timestamp(lit("1997-12-31"))))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
          .join(Tables.orders(s, d)
              .join(cust, col("o_custkey") === col("c_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                 (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast(LongType).as("l_year"))
          .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
            .cast(DoubleType).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year,
        ${sqlRevenue("l_extendedprice", "l_discount")} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year""")),

    // ---------------------------------------------------------- TPC-H Q8
    // market share of NATION_3 suppliers for PROMO parts sold into ASIA
    QueryDef("q_tpch8",
      (s, d) => {
        // Dims (nation/region, fixed cardinality) are broadcast onto the
        // sf-scaling tables *first*, so the region filter shrinks
        // customer before it reaches the fact join. part/customer/
        // supplier scale with sf — no forced broadcast; AQE picks the
        // join strategy from runtime sizes.
        //
        // r13 (VERDICT r12 item 8): orders is restricted to ASIA
        // customers BEFORE the fact join — a left-semi that keeps ~1/5
        // of orders, so the lineitem⋈orders leg carries a 5×-lighter
        // side (small enough for AQE to broadcast at bench scales).
        // Catalyst does not reorder user joins without CBO stats, so
        // the filter-first order DuckDB's optimizer picks is written
        // out here. Interleaved same-sitting A/B at sf3
        // (TPCHGAP_r13.json, results identical): 2.05 vs 3.43 s median — the
        // 2.7× warm-slope ratio the r13 gap fit flagged drops to the
        // core's structural band.
        val nCust = Tables.nation(s, d).select(col("n_nationkey").as("c_nk"),
          col("n_regionkey").as("c_rk"))
        val nSupp = Tables.nation(s, d).select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
        val custAsia = Tables.customer(s, d)
          .join(broadcast(nCust), col("c_nationkey") === col("c_nk"))
          .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
            col("c_rk") === col("r_regionkey"))
          .select(col("c_custkey"))
        val supp = Tables.supplier(s, d)
          .join(broadcast(nSupp), col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("supp_nation"))
        val ordersAsia = Tables.orders(s, d)
          .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
          .select(col("o_orderkey"), col("o_orderdate"))
        val base = Tables.lineitem(s, d)
          .join(Tables.part(s, d).where(col("p_type") === "PROMO"),
            col("l_partkey") === col("p_partkey"))
          .join(ordersAsia, col("l_orderkey") === col("o_orderkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey"))
        base.groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
          .agg((sum(when(col("supp_nation") === "NATION_3",
              revenueTerm(col("l_extendedprice"), col("l_discount"))))
              .cast(DoubleType)
            / sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
              .cast(DoubleType)).as("mkt_share"))
          .orderBy("o_year")
      },
      Some(s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
            THEN CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
        / ${sqlRevenue("l_extendedprice", "l_discount")} AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        GROUP BY o_year ORDER BY o_year""")),

    // ----------------------------------------------------- TPC-H Q9 (adapted)
    // product-type profit by nation and year; the synthetic schema has
    // no partsupp, so profit omits the ps_supplycost term
    QueryDef("q_tpch9",
      // part/supplier scale with sf → no forced broadcast (AQE
      // decides); nation is 25 rows → hint kept. The '%bolt%' filter
      // matches a real slice of the synthetic p_name vocabulary
      // ("adjective noun" strings), so the 5-way join aggregates
      // non-empty groups at every sf.
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.part(s, d).where(col("p_name").like("%bolt%")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .cast(DoubleType).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc),
      Some(s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        ${sqlRevenue("l_extendedprice", "l_discount")} AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY 1, 2 ORDER BY 1, 2 DESC""")),

    // ---------------------------------------------------------- TPC-H Q10
    // returned-item reporting: top customers by lost revenue
    QueryDef("q_tpch10",
      // r14 census fix: the classic form groups by (c_custkey, c_name,
      // c_acctbal, n_name) — every wide customer attribute rides the
      // fact-scale aggregation exchange for nothing, since they are
      // functionally dependent on c_custkey. Aggregate the fact join
      // by o_custkey alone (a NARROW (key, revenue) shuffle), take the
      // top 20 on the narrow relation (same (revenue desc, custkey)
      // order and tie-break), then attach customer/nation attributes
      // to the 20 survivors via a broadcast of the bounded top — the
      // customer table is probed map-side, never shuffled, and the
      // wide strings never enter an exchange. 1.44 → 1.27 s sf3
      // median, identity-checked (TPCHGAP_r14.json); at 100 TB the
      // agg exchange carries 16 bytes instead of ~200 per surviving
      // fact row.
      // FK PRECONDITION (r15 ADVICE, mirroring q_tpch15's isNotNull
      // note): taking the top 20 BEFORE the customer join assumes
      // customer's PK is complete over orders.o_custkey (TPC-H
      // referential integrity). A top-20 o_custkey missing from
      // customer would yield <20 rows and displace a qualifying
      // customer, where the classic join-first form would have
      // filtered that fact pre-aggregation. The two forms were
      // identity-checked equal on this data (TPCHGAP_r14.json).
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .where(col("l_returnflag") === "R")
          .join(Tables.orders(s, d)
              .where(col("o_orderdate") >= to_timestamp(lit("1996-10-01")) &&
                     col("o_orderdate") < to_timestamp(lit("1997-01-01"))),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
            .cast(DoubleType).as("revenue"))
        val top = rev.orderBy(col("revenue").desc, col("o_custkey")).limit(20)
        Tables.customer(s, d)
          .join(broadcast(top), col("c_custkey") === col("o_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"), col("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
        ${sqlRevenue("l_extendedprice", "l_discount")} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ----------------------------------------------------- TPC-H Q12 (adapted)
    // priority-class line counts per linestatus (no l_shipmode /
    // commitdate in the synthetic schema; the filter+pivot-count shape
    // is preserved)
    QueryDef("q_tpch12",
      (s, d) => Tables.lineitem(s, d)
        .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
               col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1)))
            .as("high_line_count"),
          count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1)))
            .as("low_line_count"))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
        COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
        COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // ---------------------------------------------------------- TPC-H Q13
    // customer order-count distribution (left join keeps 0-order
    // customers)
    QueryDef("q_tpch13",
      // Aggregate BEFORE the join: per-custkey order counts collapse
      // the fact side map-side-combined, so the customer join probes
      // ~one row per customer instead of every order row (the left
      // join + count over raw orders built a 10×-larger hash
      // relation for the same counts); 0-order customers surface via
      // coalesce after the left join — count(col) over an all-null
      // group ≡ 0.
      (s, d) => {
        val cnt = Tables.orders(s, d)
          .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_ord"))
        Tables.customer(s, d)
          .join(cnt, col("c_custkey") === col("o_custkey"), "left")
          .select(coalesce(col("n_ord"), lit(0L)).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN (
            SELECT * FROM orders WHERE o_orderpriority <> '4-NOT SPECIFIED'
          ) ON c_custkey = o_custkey
          GROUP BY c_custkey)
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // ---------------------------------------------------------- TPC-H Q15
    // top supplier(s) by revenue over a quarter
    QueryDef("q_tpch15",
      (s, d) => {
        // the revenue aggregate feeds BOTH the supplier join and the
        // global max; ReuseExchange collapses the two consumers onto
        // ONE lineitem scan + ONE agg exchange only if the branch
        // subtrees are canonically identical — the join branch infers
        // isnotnull(l_suppkey), so it is written here on the SHARED
        // relation (r14 census fix: without it lineitem scanned and
        // aggregated twice; 1.51 → 1.04 s sf3 median, identity-
        // checked, TPCHGAP_r14.json). No semantic change:
        // l_suppkey is a non-null FK and a null-key group could never
        // join supplier.
        val rev = Tables.lineitem(s, d)
          .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                 col("l_shipdate") < to_timestamp(lit("1996-04-01")) &&
                 col("l_suppkey").isNotNull)
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
            .cast(DoubleType).as("total_revenue"))
        val top = rev.agg(max(col("total_revenue")).as("mx"))
        Tables.supplier(s, d)
          .join(rev, col("s_suppkey") === col("supplier_no"))
          .join(broadcast(top), col("total_revenue") === col("mx"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some(s"""WITH rev AS (
          SELECT l_suppkey AS supplier_no,
            ${sqlRevenue("l_extendedprice", "l_discount")} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN rev ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s_suppkey""")),

    // ---------------------------------------------------------- TPC-H Q17
    // small-quantity-order revenue: lineitems under 20% of their
    // part's average quantity, for one brand
    QueryDef("q_tpch17",
      (s, d) => {
        // Single lineitem scan: p_brand is a part attribute, so all
        // lineitems of a partkey share it — joining the Brand#1 parts
        // FIRST leaves the per-part averages unchanged while shrinking
        // the window input to the brand's share. One shuffle (by
        // l_partkey, for the window) replaces the old second scan +
        // aggregate + rejoin; part scales with sf → no forced
        // broadcast.
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_partkey")
        Tables.lineitem(s, d)
          .join(Tables.part(s, d).where(col("p_brand") === "Brand#1"),
            col("l_partkey") === col("p_partkey"))
          .withColumn("qty_limit",
            lit(0.2) * (sum(dec2(col("l_quantity"))).over(w).cast(DoubleType)
              / count(lit(1)).over(w).cast(DoubleType)))
          .where(col("l_quantity") < col("qty_limit"))
          .agg((sum(dec2(col("l_extendedprice"))).cast(DoubleType) / 7.0)
            .as("avg_yearly"))
      },
      Some(s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN (SELECT l_partkey AS pk, 0.2 * (${sqlDavg("l_quantity")}) AS qty_limit
              FROM lineitem GROUP BY l_partkey) ON l_partkey = pk
        WHERE p_brand = 'Brand#1' AND l_quantity < qty_limit""")),

    // ---------------------------------------------------------- TPC-H Q18
    // large-volume customers: orders above a total-quantity threshold
    QueryDef("q_tpch18",
      // Early aggregate: lineitem collapses to per-order quantity sums
      // and the >300 filter runs BEFORE any join — what reaches the
      // orders/customer joins is the handful of qualifying orders, not
      // the whole fact table (l_orderkey determines every grouped
      // column, so grouping before vs after the joins is equivalent).
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(dec2(col("l_quantity"))).as("sq"))
        .where(col("sq") > 300)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("sq").cast(DoubleType).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100),
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // ----------------------------------------------------- TPC-H Q21 (adapted)
    // suppliers who kept orders waiting. The synthetic schema has no
    // receipt/commit dates, so "late" is re-expressed as "sole
    // last-shipping supplier": in orders fed by >=2 suppliers, count
    // per supplier the orders whose max ship date belongs to that
    // supplier alone — preserving Q21's exists/not-exists correlation
    // shape (one supplier late, no other supplier late).
    QueryDef("q_tpch21",
      (s, d) => {
        // single lineitem scan + single fact shuffle, STRAIGHT-LINE
        // (r16): repartition by l_orderkey once, then three CHAINED
        // aggregates — per-(order,supplier) ship-date max, per-(order,
        // ship-date) supplier count/min, and a per-order max_by that
        // picks the latest date's (count, min supplier) while summing
        // nsupp — all satisfied by HashPartitioning(l_orderkey), so
        // there is no second branch at all. The r15 executed plan
        // showed the intended ReuseExchange between the perSupp and
        // per-order branches NOT firing (2 lineitem scans + 2 fact
        // exchanges + an order-cardinality broadcast/SMJ of the
        // max-of-maxes side); a self-join-free form needs none of it.
        // nlast = suppliers whose max ship date equals the order max
        // ⇔ the latest byDate group's supplier count; sole_supp = that
        // group's min supplier (supp_mx is a group key → max_by sees
        // no ordering ties, so the pick is deterministic).
        val base = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .repartition(col("l_orderkey"))
        val perSupp = base.groupBy("l_orderkey", "l_suppkey")
          .agg(max(col("l_shipdate")).as("supp_mx"))
        val byDate = perSupp.groupBy("l_orderkey", "supp_mx")
          .agg(count(lit(1)).as("c"), min(col("l_suppkey")).as("ms"))
        val lastShippers = byDate.groupBy("l_orderkey")
          .agg(sum(col("c")).as("nsupp"),
            max_by(struct(col("c").as("nlast"), col("ms").as("sole")),
              col("supp_mx")).as("top"))
          .where(col("nsupp") >= 2 && col("top.nlast") === 1)
          .select(col("l_orderkey"), col("top.sole").as("sole_supp"))
        lastShippers
          .join(Tables.supplier(s, d), col("sole_supp") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""WITH per_order AS (
          SELECT l_orderkey, MAX(l_shipdate) AS mx,
            COUNT(DISTINCT l_suppkey) AS nsupp
          FROM lineitem GROUP BY l_orderkey
        ), last_shippers AS (
          SELECT l.l_orderkey, p.nsupp,
            COUNT(DISTINCT l.l_suppkey) AS nlast,
            MIN(l.l_suppkey) AS sole_supp
          FROM lineitem l JOIN per_order p
            ON l.l_orderkey = p.l_orderkey AND l.l_shipdate = p.mx
          GROUP BY l.l_orderkey, p.nsupp
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM last_shippers JOIN supplier ON sole_supp = s_suppkey
        WHERE nsupp >= 2 AND nlast = 1
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""")),

    // ----------------------------------------------------- TPC-H Q22 (adapted)
    // global sales opportunity: dormant customers with above-average
    // balances. No c_phone in the synthetic schema, so the "country
    // code" is the customer's nation key; and because the synthetic
    // generator gives every customer at least one order (median 10),
    // "dormant" is re-expressed as "fewer than 5 orders" — the
    // scalar-subquery + NOT-EXISTS (anti-join against the active set)
    // shape is intact and the result is non-empty at every sf.
    QueryDef("q_tpch22",
      (s, d) => {
        val nations = Seq(1, 3, 5, 7, 9).map(_.toLong)
        val sel = Tables.customer(s, d)
          .where(col("c_nationkey").isin(nations: _*))
        // scalar aggregate: bounded single row, broadcast by construction
        val avgBal = sel.where(col("c_acctbal") > 0)
          .agg(avg(dec2(col("c_acctbal"))).as("ab"))
        // Count orders only for candidate custkeys: the anti join's
        // left side is ⊆ sel, so semi-restricting orders to sel's
        // custkeys first (AQE sizes the build side) leaves the ≥5
        // active set identical where it matters while skipping the
        // ~4/5 of the fact table owned by out-of-band nations.
        val active = Tables.orders(s, d)
          .join(sel.select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
          .where(col("n_orders") >= 5)
        sel.join(broadcast(avgBal))
          .where(col("c_acctbal").cast(DecimalType(18, 2)) > col("ab"))
          .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").as("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            dsum(col("c_acctbal")).as("totacctbal"))
          .orderBy("cntrycode")
      },
      Some(s"""SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
        ${sqlDsum("c_acctbal")} AS totacctbal
        FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9)
          AND CAST(c_acctbal AS DECIMAL(18,2)) > (
            SELECT AVG(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
            WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9))
          AND NOT EXISTS (
            SELECT 1 FROM (SELECT o_custkey FROM orders
                           GROUP BY o_custkey HAVING COUNT(*) >= 5) a
            WHERE a.o_custkey = c_custkey)
        GROUP BY c_nationkey ORDER BY cntrycode""")),

    // ----------------------------------------------------- TPC-H Q19 (adapted)
    // disjunctive brand/size/quantity predicate revenue (no l_shipmode
    // in the synthetic schema)
    QueryDef("q_tpch19",
      // part scales with sf → no forced broadcast; AQE decides.
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 21)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 40)))
        .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
          .cast(DoubleType).as("revenue")),
      Some(s"""SELECT ${sqlRevenue("l_extendedprice", "l_discount")} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)""")),

    // ----------------------------------------------------- TPC-H Q2 (adapted)
    // minimum-cost supplier per part in a region, over the derived
    // partsupp (Tables.partsupp). The correlated min-subquery is
    // re-expressed as a window min over ps_partkey on the
    // already-filtered EUROPE candidate set — one shuffle keyed by
    // partkey instead of a self-join, and the region filter is applied
    // once instead of twice.
    QueryDef("q_tpch2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // nation/region: fixed cardinality (25/5) → safe hard hints.
        val suppEur = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).where(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
        val cand = Tables.partsuppBucketed(s, d)
          .join(suppEur, col("ps_suppkey") === col("s_suppkey"))
        val w = Window.partitionBy("ps_partkey")
        cand
          .withColumn("mincost", min(col("ps_supplycost")).over(w))
          .where(col("ps_supplycost") === col("mincost"))
          // part scales with sf → no forced broadcast; AQE decides.
          .join(Tables.part(s, d)
              .where(col("p_size").between(10, 15) && col("p_type") === "LARGE"),
            col("ps_partkey") === col("p_partkey"))
          .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some(s"""WITH ${Tables.partsuppSql}
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        FROM part JOIN partsupp ON p_partkey = ps_partkey
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size BETWEEN 10 AND 15 AND p_type = 'LARGE' AND r_name = 'EUROPE'
          AND ps_supplycost = (
            SELECT MIN(ps_supplycost) FROM partsupp ps2
            JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")),

    // ----------------------------------------------------- TPC-H Q11 (adapted)
    // important-stock identification: per-part inventory value within
    // one nation, kept when above a fraction of the nation's total.
    // The scalar total is a grouping-free aggregate of the SAME
    // per-part values — computed once and broadcast (the sanctioned
    // single-row pattern, like q_tpch22's average balance).
    QueryDef("q_tpch11",
      (s, d) => {
        val natSupp = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d).where(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
        val perPart = Tables.partsuppBucketed(s, d)
          .join(natSupp, col("ps_suppkey") === col("s_suppkey"))
          .groupBy("ps_partkey")
          .agg(sum(dec2(col("ps_supplycost")) * col("ps_availqty"))
            .cast(DoubleType).as("value"))
        val total = perPart.agg((sum(col("value")) * lit(0.001)).as("threshold"))
        perPart.join(broadcast(total))
          .where(col("value") > col("threshold"))
          .select("ps_partkey", "value")
          .orderBy(col("value").desc, col("ps_partkey"))
      },
      Some(s"""WITH ${Tables.partsuppSql}
        SELECT ps_partkey,
          CAST(SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) AS DOUBLE) AS value
        FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY ps_partkey
        HAVING CAST(SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) AS DOUBLE) > (
          SELECT SUM(v) * 0.001 FROM (
            SELECT CAST(SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) AS DOUBLE) AS v
            FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7' GROUP BY ps_partkey) t)
        ORDER BY value DESC, ps_partkey""")),

    // ----------------------------------------------------- TPC-H Q16 (adapted)
    // parts/supplier relationship: supplier counts per brand/type/size,
    // excluding flagged suppliers. No s_comment in the synthetic schema,
    // so "complaints" is re-expressed as a negative account balance —
    // the NOT-IN (anti-join) shape is intact. The excluded set scales
    // with sf → left_anti with no hint; AQE sizes the build side.
    QueryDef("q_tpch16",
      (s, d) => {
        val flagged = Tables.supplier(s, d)
          .where(col("s_acctbal") < 0).select("s_suppkey")
        // Anti join first: the flagged-supplier set is far below the
        // broadcast threshold, so partsupp streams through it map-side
        // un-shuffled; the selective part join (bigger build side)
        // then sees the survivors. (Measured: part-first forces the
        // partsupp shuffle and is ~1.5× slower at sf10.)
        Tables.partsuppBucketed(s, d)
          .join(flagged, col("ps_suppkey") === col("s_suppkey"), "left_anti")
          .join(Tables.part(s, d)
              .where(col("p_brand") =!= "Brand#5" && col("p_type") =!= "MEDIUM" &&
                col("p_size").isin(1, 9, 15, 23, 36, 45, 49, 50)),
            col("ps_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some(s"""WITH ${Tables.partsuppSql}
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#5' AND p_type <> 'MEDIUM'
          AND p_size IN (1, 9, 15, 23, 36, 45, 49, 50)
          AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // ----------------------------------------------------- TPC-H Q20 (adapted)
    // potential part promotion: suppliers of 'red' parts whose stock
    // exceeds half of what they shipped in 1999. The correlated scalar
    // subquery is re-expressed as an EARLY per-(part,supplier) aggregate
    // of the date-windowed lineitem joined back to partsupp — lineitem
    // collapses before any join (same rationale as q_tpch18/21).
    QueryDef("q_tpch20",
      (s, d) => {
        val shipped = Tables.lineitem(s, d)
          .where(col("l_shipdate") >= to_timestamp(lit("1999-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("2000-01-01")))
          .groupBy("l_partkey", "l_suppkey")
          .agg(sum(dec2(col("l_quantity"))).as("qty"))
        val redParts = Tables.part(s, d)
          .where(col("p_name").startsWith("red")).select("p_partkey")
        val excess = Tables.partsuppBucketed(s, d)
          .join(shipped, col("ps_partkey") === col("l_partkey") &&
            col("ps_suppkey") === col("l_suppkey"))
          // part scales with sf → semi join, no hint.
          .join(redParts, col("ps_partkey") === col("p_partkey"), "left_semi")
          .where(col("ps_availqty") > lit(0.5) * col("qty"))
          .select("ps_suppkey").distinct()
        Tables.supplier(s, d)
          .where(col("s_nationkey").isin(3, 4))
          .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
          .select("s_name", "s_nationkey")
          .orderBy("s_name")
      },
      Some(s"""WITH ${Tables.partsuppSql},
        shipped AS (
          SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
          GROUP BY l_partkey, l_suppkey)
        SELECT s_name, s_nationkey FROM supplier
        WHERE s_suppkey IN (
          SELECT ps_suppkey FROM partsupp
          JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            AND ps_availqty > 0.5 * qty)
          AND s_nationkey IN (3, 4)
        ORDER BY s_name"""))
  )
}
