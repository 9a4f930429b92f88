package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Deterministic FK-consistent scale-up of a testdata directory: every
  * sf-scaling table is replicated `mult`× with per-copy key offsets
  * (span = max(key)+1, so sparse ids never collide), keeping every
  * foreign key valid — copy k of lineitem references copy k of
  * orders/part/supplier, exactly like a bigger TPC-H generation.
  * Fixed-cardinality dims (region, nation) are copied once; nationkey
  * references stay in [0, 25) by construction.
  *
  * Content columns scale honestly, not degenerately:
  *  - documents: copy-local token suffixes (the ScaleSmoke trick) keep
  *    copies out of each other's near-dup space; n_chars recomputed.
  *  - embeddings: small deterministic sin-jitter (amplitude 0.02 vs
  *    component sd 0.125) keeps copies geometrically distinct instead
  *    of producing cos=1 ties in the ANN suite.
  *  - events: user/event ids offset per copy → sessions stay
  *    copy-local; the ns-int64 `ts` column is carried as BIGINT
  *    (Spark cannot write TIMESTAMP(NANOS)), which Tables.events
  *    already handles via its LongType branch.
  *
  * Usage: ScaleGen <srcDir> <dstDir> <mult>
  * Output parquet lands at dstDir/<table>.parquet/ (directories —
  * spark.read.parquet reads them exactly like the single-file inputs).
  */
object ScaleGen {

  private def span(df: DataFrame, key: String): Long =
    df.agg(max(col(key).cast("long"))).head().getLong(0) + 1L

  /** `mult` copies of `df`, the listed key columns offset by
    * k·span(key) in copy k. Spans come from the SOURCE table each key
    * refers to, so FK columns shift in lockstep with their PK.
    */
  private def replicate(df: DataFrame, mult: Int,
                        offsets: Map[String, Long]): DataFrame =
    (0 until mult).map { k =>
      offsets.foldLeft(df) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + lit(k * s))
      }
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleGen <srcDir> <dstDir> <mult> [tables]")
    val (src, dst, mult) = (args(0), args(1), args(2).toInt)
    // optional 4th arg: comma-list of tables to generate (a docs-only
    // sf30 for the pipeline sweep need not pay a 300x lineitem write)
    val keep: String => Boolean =
      if (args.length > 3) args(3).split(",").toSet else _ => true
    require(mult >= 1, s"mult must be >= 1: $mult")
    val spark = Measure.start(GraftSession.local("graft-scalegen")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // fixed-cardinality dims: copy once
    Seq("region", "nation").filter(keep).foreach(t => write(read(t), t, 1))

    if (Seq("customer", "supplier", "part", "orders", "lineitem")
        .exists(keep)) {
      val custSpan = span(read("customer"), "c_custkey")
      val suppSpan = span(read("supplier"), "s_suppkey")
      val partSpan = span(read("part"), "p_partkey")
      val ordSpan = span(read("orders"), "o_orderkey")

      if (keep("customer"))
        write(replicate(read("customer"), mult, Map("c_custkey" -> custSpan)),
          "customer", 4)
      if (keep("supplier"))
        write(replicate(read("supplier"), mult, Map("s_suppkey" -> suppSpan)),
          "supplier", 1)
      if (keep("part"))
        write(replicate(read("part"), mult, Map("p_partkey" -> partSpan)),
          "part", 4)
      if (keep("orders"))
        write(replicate(read("orders"), mult,
          Map("o_orderkey" -> ordSpan, "o_custkey" -> custSpan)), "orders", 8)
      if (keep("lineitem"))
        write(replicate(read("lineitem"), mult,
          Map("l_orderkey" -> ordSpan, "l_partkey" -> partSpan,
            "l_suppkey" -> suppSpan)), "lineitem", 16)
    }

    if (keep("events")) {
      val ev = read("events")
      write(replicate(ev, mult,
        Map("event_id" -> span(ev, "event_id"), "user_id" -> span(ev, "user_id"))),
        "events", 8)
    }

    if (keep("documents")) {
    val docs = read("documents")
    val docSpan = span(docs, "doc_id")
    val docCopies = (0 until mult).map { k =>
      docs.select(
        (col("doc_id") + lit(k * docSpan)).as("doc_id"),
        // copy-local token suffixes: shingles never collide across copies
        concat_ws(" ", transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"_$k")))).as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("int"))
    }.reduce(_ unionAll _)
    write(docCopies.select("doc_id", "text", "lang", "source", "n_chars"),
      "documents", 4)
    }

    if (keep("embeddings")) {
    val emb = read("embeddings")
    val embSpan = span(emb, "vec_id")
    val embCopies = (0 until mult).map { k =>
      emb.select(
        (col("vec_id") + lit(k * embSpan)).as("vec_id"),
        (if (k == 0) col("embedding") else
          transform(col("embedding"), (x, i) =>
            (x + sin(col("vec_id") * 131 + i * 17 + lit(k * 37)) * lit(0.02d))
              .cast("float"))).as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
    write(embCopies, "embeddings", 2)
    }

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").filter(keep).foreach { t =>
      println(s"[scalegen] $t rows=${spark.read.parquet(s"$dst/$t.parquet").count()}")
    }
    spark.stop()
  }
}
