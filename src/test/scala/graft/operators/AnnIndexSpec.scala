package graft.operators

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index (G11) + incremental maintenance (G12):
  * search-from-disk correctness, the on-disk probe-pruning proof, and
  * append/stream/drift behavior.
  */
class AnnIndexSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
    .select("vec_id", "embedding")
  private lazy val queries = emb.where($"vec_id" < 10)

  // one index on disk shared by the read-only tests
  private lazy val index: AnnIndex.IvfPqIndex = {
    val dir = Files.createTempDirectory("graft-annidx-spec").toString
    AnnIndex.write(emb, dir, dim = 64, nCells = 16, stride = 7,
      kmeansIters = 1, m = 8, ncodes = 16)
  }

  private def asTuples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("qid", "nid", "rank").as[(Long, Long, Long)]
      .collect().toSeq.sorted

  test("exhaustive searchExact from disk equals brute force") {
    val fromDisk = asTuples(AnnIndex.searchExact(index, queries, k = 5, nprobe = 16))
    val exact = asTuples(Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("qid", "nid", "rank"))
    assert(fromDisk == exact, s"disk=${fromDisk.take(5)} exact=${exact.take(5)}")
  }

  test("open() round-trips centroids and codebooks exactly") {
    val reopened = AnnIndex.open(spark, index.dir)
    assert(reopened.codebooks == index.codebooks)
    val a = index.centroids.as[(Long, Array[Float])].collect()
      .map { case (i, v) => (i, v.toSeq) }.sortBy(_._1).toSeq
    val b = reopened.centroids.as[(Long, Array[Float])].collect()
      .map { case (i, v) => (i, v.toSeq) }.sortBy(_._1).toSeq
    assert(a == b)
    // and a search through the reopened handle matches the original
    assert(asTuples(AnnIndex.searchExact(reopened, queries, 5, 16)) ==
      asTuples(AnnIndex.searchExact(index, queries, 5, 16)))
  }

  test("sub-exhaustive probe prunes cell partitions on disk") {
    val pruned = AnnIndex.searchExact(index, queries, k = 5, nprobe = 2)
    // 1. the probe predicate is a partition filter, not a data filter
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:") && plan.contains("cent_id"),
      s"expected cent_id partition filters in:\n$plan")
    assert(!plan.contains("PushedFilters: [In(cent_id"),
      s"probe predicate leaked into data filters:\n$plan")
    // 2. the files actually read are a strict subset of the index, and
    //    every one lives under a probed cent_id= directory (the same
    //    pruned relation the search plans, observed via file names)
    val allCells = index.cells.select(input_file_name()).distinct()
      .as[String].collect().toSet
    val readFiles = index.cells.where($"cent_id".isin(
        probedCellIds(nprobe = 2).map(_.asInstanceOf[Any]): _*))
      .select(input_file_name()).distinct().as[String].collect().toSet
    assert(readFiles.nonEmpty && readFiles.size < allCells.size,
      s"pruned read must touch fewer files: ${readFiles.size} of ${allCells.size}")
    val cells = probedCellIds(nprobe = 2).toSet
    assert(readFiles.forall(f => cells.exists(c => f.contains(s"cent_id=$c/"))),
      s"read a file outside probed cells: $readFiles vs $cells")
  }

  /** The distinct probe cells the search would read at this nprobe —
    * recomputed the same way the operator does (local centroid
    * relation only).
    */
  private def probedCellIds(nprobe: Int): Seq[Long] = {
    val qc = queries.as("q").join(broadcast(index.centroids.as("c")))
      .select($"q.vec_id".as("qid"), $"c.cent_id".as("cent_id"),
        Similarity.cosine($"q.embedding", $"c.cent").as("ccos"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy($"ccos".desc, $"cent_id")
    qc.withColumn("r", row_number().over(w)).where($"r" <= nprobe)
      .select("cent_id").distinct().as[Long].collect().toSeq.sorted
  }

  test("searchAdc with full refine equals exact search") {
    // refine·k >= corpus size → every probed row is re-ranked exactly
    // (the full-refine==exact contract SimilaritySpec pins for pqTopK;
    // sub-full refine recall is gated numerically in q_ann_recall)
    val n = emb.count().toInt
    val adc = asTuples(AnnIndex.searchAdc(index, queries, k = 5,
      nprobe = 16, refine = n / 5 + 1))
    val exact = asTuples(AnnIndex.searchExact(index, queries, k = 5, nprobe = 16))
    assert(adc == exact)
  }

  test("searchAdc equals its recompute twin ivfPqTopK over the same " +
      "artifacts at sub-exhaustive nprobe, with and without refine") {
    // the same centroids and codebooks assign, encode and probe alike on
    // both paths, so the persisted search and the recompute must agree
    // rank for rank — approximate (refine = 0) and re-ranked (refine = 2)
    for (refine <- Seq(0, 2)) {
      val fromDisk = asTuples(AnnIndex.searchAdc(index, queries, k = 5,
        nprobe = 4, refine = refine))
      val recompute = asTuples(Similarity.ivfPqTopK(emb, queries, k = 5,
        dim = 64, nprobe = 4, refine = refine,
        centroids = Some(index.centroids), codebooks = Some(index.codebooks)))
      assert(fromDisk.size == 50, s"refine=$refine: got ${fromDisk.size}")
      assert(fromDisk == recompute,
        s"refine=$refine: disk=${fromDisk.take(5)} recompute=${recompute.take(5)}")
    }
  }

  test("filtered serving: allowed-set search equals brute force within " +
      "the filter on both paths, pruning untouched") {
    // "top-k within label" from the persisted index: the positive
    // twin of the G13 tombstone anti-join
    val full = Tables.embeddings(spark, sfDir)
    val allowed = full.where($"label" === 3).select("vec_id")
    val sub = full.where($"label" === 3).select("vec_id", "embedding")
    val want = asTuples(Similarity.bruteForceTopK(sub, queries, k = 5)
      .select("qid", "nid", "rank"))
    assert(want.nonEmpty, "filter must be non-vacuous at gate scale")
    val exact = AnnIndex.searchExact(index, queries, k = 5, nprobe = 16,
      allowed = Some(allowed))
    assert(asTuples(exact) == want)
    val n = emb.count().toInt
    val adc = asTuples(AnnIndex.searchAdc(index, queries, k = 5,
      nprobe = 16, refine = n / 5 + 1, allowed = Some(allowed)))
    assert(adc == want)
    // the filter narrows probed rows; it must never widen the scan —
    // cent_id partition pruning survives the semi join
    val plan = AnnIndex.searchExact(index, queries, k = 5, nprobe = 2,
      allowed = Some(allowed)).queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:") && plan.contains("cent_id"),
      s"expected cent_id partition filters in:\n$plan")
  }

  test("hard-negative mining composes over the persisted index: " +
      "exhaustive-probe candidates equal the brute-force chain") {
    // the G16 serving form: searchExact(keepScore) feeds
    // hardNegativesFrom, so an epoch's negatives come off the disk
    // index with no brute-force corpus pass; exhaustive probes make
    // the brute chain the exact oracle
    val pos = queries.select($"vec_id".as("qid"))
      .withColumn("nid", $"qid" * 7 + 3)
    val n = emb.count().toInt
    val cands = AnnIndex.searchExact(index, queries, k = n, nprobe = 16,
      keepScore = true)
    val fromIdx = asTuples(Similarity.hardNegativesFrom(cands, pos,
      k = 5, minMargin = Some(0.1), dropAbovePos = true))
    val brute = asTuples(Similarity.hardNegatives(emb, queries, pos,
      k = 5, minMargin = Some(0.1), dropAbovePos = true))
    assert(fromIdx.nonEmpty, "chain must be non-vacuous at gate scale")
    assert(fromIdx == brute, s"idx=${fromIdx.take(5)} brute=${brute.take(5)}")
    // keepScore = false keeps the rank-only serving contract unchanged
    assert(AnnIndex.searchExact(index, queries, k = 5, nprobe = 16)
      .columns.toSeq == Seq("qid", "nid", "rank"))
    // r10 (VERDICT item 9): the QUANTIZED path carries the exact
    // re-rank cosine through keepScore too, so epoch mining runs off
    // the codes-only production index — full-refine ADC == the exact
    // chain == brute, bit for bit
    val adcCands = AnnIndex.searchAdc(index, queries, k = n, nprobe = 16,
      refine = 1, keepScore = true) // refine·k = n candidates = all
    val fromAdc = asTuples(Similarity.hardNegativesFrom(adcCands, pos,
      k = 5, minMargin = Some(0.1), dropAbovePos = true))
    assert(fromAdc == brute, s"adc=${fromAdc.take(5)} brute=${brute.take(5)}")
    // approximate mode (refine <= 0) exposes the ADC estimate under
    // its OWN name — `cos` stays reserved for exact re-rank scores, so
    // schema-driven consumers cannot mistake an estimate for exact
    assert(AnnIndex.searchAdc(index, queries, k = 5, nprobe = 16,
      refine = 0, keepScore = true)
      .columns.toSeq == Seq("qid", "nid", "acos", "rank"))
  }

  test("index-resident metadata: where-predicate search equals the " +
      "allowed-set path, pushes into the scan, survives maintenance") {
    val full = Tables.embeddings(spark, sfDir)
    val dir = Files.createTempDirectory("graft-annidx-meta").toString
    val idx = AnnIndex.write(full.select("vec_id", "embedding", "label"),
      dir, dim = 64, nCells = 16, stride = 7, kmeansIters = 1,
      m = 8, ncodes = 16, metaCols = Seq("label"))
    // the label rides the cell rows: a plain predicate replaces the
    // external id-relation join, same results on both search paths
    val allowed = full.where($"label" === 3).select("vec_id")
    val want = asTuples(AnnIndex.searchExact(idx, queries, k = 5,
      nprobe = 16, allowed = Some(allowed)))
    assert(want.nonEmpty, "filter must be non-vacuous at gate scale")
    val viaPred = asTuples(AnnIndex.searchExact(idx, queries, k = 5,
      nprobe = 16, where = Some($"label" === 3)))
    assert(viaPred == want, s"pred=${viaPred.take(5)} allowed=${want.take(5)}")
    val n = full.count().toInt
    val adcPred = asTuples(AnnIndex.searchAdc(idx, queries, k = 5,
      nprobe = 16, refine = n / 5 + 1, where = Some($"label" === 3)))
    assert(adcPred == want)
    // the predicate reaches the parquet scan as a pushed data filter
    // WITHOUT disturbing cent_id partition pruning
    val plan = AnnIndex.searchExact(idx, queries, k = 5, nprobe = 2,
      where = Some($"label" === 3)).queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:") && plan.contains("cent_id"),
      s"expected cent_id partition filters in:\n$plan")
    assert(plan.contains("EqualTo(label,3)"),
      s"expected the label predicate pushed to the scan in:\n$plan")
    // maintenance preserves the column: appended rows carry their
    // label and serve through the same predicate, and compaction
    // leaves filtered results identical
    val fresh = full.limit(20)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding",
        lit(77).as("label"))
    AnnIndex.append(idx, fresh)
    val gotFresh = asTuples(AnnIndex.searchExact(idx, queries, k = 5,
      nprobe = 16, where = Some($"label" === 77)))
    assert(gotFresh.nonEmpty && gotFresh.forall(_._2 >= 1000000L),
      s"appended-with-label rows must serve the predicate: $gotFresh")
    val beforeCompact = asTuples(AnnIndex.searchExact(idx, queries, k = 5,
      nprobe = 16, where = Some($"label" === 3)))
    val compacted = AnnIndex.compactCells(idx)
    assert(asTuples(AnnIndex.searchExact(compacted, queries, k = 5,
      nprobe = 16, where = Some($"label" === 3))) == beforeCompact)
  }

  test("crashed-rebuild residue: open() pairs the published version's " +
      "cells with ITS OWN artifacts, never the residue") {
    val dir = Files.createTempDirectory("graft-annidx-crash").toString
    val built = AnnIndex.write(emb, dir, dim = 64, nCells = 16, stride = 7,
      kmeansIters = 1, m = 8, ncodes = 16)
    val want = asTuples(AnnIndex.searchExact(built, queries, k = 5,
      nprobe = 16))
    // a rebuild that died after writing its artifacts but BEFORE the
    // CURRENT flip leaves v2 artifact residue next to the published v1
    // — the r8 layout kept these unversioned, so the residue would
    // have REPLACED the live centroids/codebooks under v1's cells
    spark.range(4)
      .select($"id".as("cent_id"),
        typedlit(Seq.fill(64)(0.0f)).as("cent"))
      .write.parquet(s"$dir/centroids.v${built.version + 1}")
    spark.range(1).select(lit(0).as("m"), lit(0).as("code"),
        typedlit(Seq.fill(8)(0.0)).as("cent"))
      .write.parquet(s"$dir/codebooks.v${built.version + 1}")
    val reopened = AnnIndex.open(spark, dir)
    assert(reopened.version == built.version)
    assert(reopened.codebooks == built.codebooks,
      "reopened index must load the published version's codebooks")
    assert(asTuples(AnnIndex.searchExact(reopened, queries, k = 5,
      nprobe = 16)) == want)
  }

  test("append: base index + appended rows equals an index built whole") {
    val dir = Files.createTempDirectory("graft-annidx-append").toString
    val base = emb.where($"vec_id" % 3 =!= 0)
    val extra = emb.where($"vec_id" % 3 === 0)
    // freeze artifacts on the base slice, then build both ways with them
    val baseIdx = AnnIndex.write(base, dir, dim = 64, nCells = 8, stride = 7)
    AnnIndex.append(baseIdx, extra)
    val wholeDir = Files.createTempDirectory("graft-annidx-whole").toString
    val wholeIdx = AnnIndex.write(emb, wholeDir, dim = 64, nCells = 8,
      stride = 7, centroids = Some(baseIdx.centroids),
      codebooks = Some(baseIdx.codebooks))
    val q = emb.where($"vec_id" < 10)
    assert(asTuples(AnnIndex.searchExact(baseIdx, q, 5, 8)) ==
      asTuples(AnnIndex.searchExact(wholeIdx, q, 5, 8)))
  }

  test("compactCells: file count drops, search is identical, " +
      "append-after-compact works, cellstats refresh from footers") {
    val dir = Files.createTempDirectory("graft-annidx-compact").toString
    val base = emb.where($"vec_id" % 3 =!= 0)
    val idx = AnnIndex.write(base, dir, dim = 64, nCells = 8, stride = 7)
    // accrete small files the way daily streamingAppend batches do
    AnnIndex.append(idx, emb.where($"vec_id" % 3 === 0 && $"vec_id" % 2 === 0))
    AnnIndex.append(idx, emb.where($"vec_id" % 3 === 0 && $"vec_id" % 2 =!= 0))
    def files(i: AnnIndex.IvfPqIndex) =
      i.cells.select(input_file_name()).distinct().count()
    // cellstats are versioned with the cells (r9): read the
    // version the given index snapshot serves
    def cellstats(i: AnnIndex.IvfPqIndex) =
      spark.read.parquet(s"$dir/cellstats.v${i.version}")
        .collect().map(r => r.getAs[Number](0).longValue() ->
          r.getAs[Number](1).longValue()).toMap
    val before = asTuples(AnnIndex.searchExact(idx, queries, 5, 8))
    val filesBefore = files(idx)
    // cellstats BEFORE compaction describe only the build-time base
    // (the drift baseline deliberately excludes appends)
    assert(cellstats(idx).values.sum == base.count())
    // r9: compaction PUBLISHES a new version and returns the index
    // pinned to it; the passed index keeps serving the old snapshot
    val idx2 = AnnIndex.compactCells(idx)
    val filesAfter = files(idx2)
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count: $filesBefore -> $filesAfter")
    // one file per cell: the repartition-by-cell write discipline
    val nCellDirs = idx2.cells.select("cent_id").distinct().count()
    assert(filesAfter == nCellDirs,
      s"expected one file per cell: $filesAfter files, $nCellDirs cells")
    // the data is byte-identical in content: same search results
    assert(asTuples(AnnIndex.searchExact(idx2, queries, 5, 8)) == before)
    // the pre-compaction object is untouched (open-during-compaction
    // consistency): same files, same results
    assert(files(idx) == filesBefore)
    assert(asTuples(AnnIndex.searchExact(idx, queries, 5, 8)) == before)
    // cellstats refreshed from the rewritten footers now cover ALL rows
    assert(cellstats(idx2).values.sum == emb.count())
    // and per-cell counts agree with the data itself
    val fromData = idx2.cells.groupBy("cent_id").count().collect()
      .map(r => r.getAs[Number](0).longValue() ->
        r.getAs[Number](1).longValue()).toMap
    assert(cellstats(idx2) == fromData)
    // append after compaction lands and is searchable
    val extra = emb.where($"vec_id" < 2)
      .select(($"vec_id" + 500000).as("vec_id"), $"embedding")
    AnnIndex.append(idx2, extra)
    assert(idx2.cells.count() == emb.count() + 2)
    val q0 = emb.where($"vec_id" === 0)
    val hits = AnnIndex.searchExact(idx2, q0, k = 1, nprobe = 8)
      .select("nid").as[Long].collect()
    // vec 500000 is a duplicate of vec 0 → its cosine is 1.0, rank 1
    assert(hits.sameElements(Array(500000L)), hits.toSeq.toString)
  }

  test("streamingAppend: streamed batches converge to the batch index") {
    val dir = Files.createTempDirectory("graft-annidx-stream").toString
    val base = emb.where($"vec_id" % 3 =!= 0)
    val extraRows = emb.where($"vec_id" % 3 === 0)
      .as[(Long, Array[Float])].collect().toSeq
    val baseIdx = AnnIndex.write(base, dir, dim = 64, nCells = 8, stride = 7)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val query = AnnIndex.streamingAppend(baseIdx, stream)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-annidx-ckpt").toString)
      .start()
    try {
      val (h, t) = extraRows.splitAt(extraRows.length / 2)
      mem.addData(h: _*); query.processAllAvailable()
      mem.addData(t: _*); query.processAllAvailable()
    } finally query.stop()
    val wholeDir = Files.createTempDirectory("graft-annidx-whole2").toString
    val wholeIdx = AnnIndex.write(emb, wholeDir, dim = 64, nCells = 8,
      stride = 7, centroids = Some(baseIdx.centroids),
      codebooks = Some(baseIdx.codebooks))
    val q = emb.where($"vec_id" < 10)
    assert(asTuples(AnnIndex.searchExact(baseIdx, q, 5, 8)) ==
      asTuples(AnnIndex.searchExact(wholeIdx, q, 5, 8)))
  }

  test("streaming query serving through the persisted index matches batch") {
    // G4's serving loop composed with G11: query micro-batches answered
    // by searchExact against the on-disk index inside foreachBatch —
    // the full production serving shape (open once, serve many)
    val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val opened = AnnIndex.open(spark, index.dir)
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        served ++= AnnIndex.searchExact(opened, batch, k = 5, nprobe = 16)
          .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
        ()
      }.start()
    try {
      val rows = queries.as[(Long, Array[Float])].collect().toSeq
      val (h, t) = rows.splitAt(rows.length / 2)
      mem.addData(h: _*); q.processAllAvailable()
      mem.addData(t: _*); q.processAllAvailable()
    } finally q.stop()
    assert(served.sorted.toSeq ==
      asTuples(AnnIndex.searchExact(index, queries, k = 5, nprobe = 16)))
  }

  test("codes-only index: ADC ranks match the full index, exact paths reject") {
    val dir = Files.createTempDirectory("graft-annidx-codes").toString
    val codesIdx = AnnIndex.write(emb, dir, dim = 64, nCells = 16, stride = 7,
      centroids = Some(index.centroids), codebooks = Some(index.codebooks),
      storeEmbeddings = false)
    // approximate ranks are identical — the codes are the same codes
    val a = asTuples(AnnIndex.searchAdc(codesIdx, queries, 5, 16, refine = 0))
    val b = asTuples(AnnIndex.searchAdc(index, queries, 5, 16, refine = 0))
    assert(a == b)
    // the serving-format size cut is real: codes-only cells are smaller
    def bytes(i: AnnIndex.IvfPqIndex) = {
      val root = new java.io.File(i.cellsDir)
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(root)
    }
    assert(bytes(codesIdx) < bytes(index) / 2,
      s"codes-only ${bytes(codesIdx)} vs full ${bytes(index)}")
    // exact paths state the contract instead of failing downstream
    intercept[IllegalArgumentException] {
      AnnIndex.searchExact(codesIdx, queries, 5, 16)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.searchAdc(codesIdx, queries, 5, 16, refine = 4)
    }
    // appends keep the codes-only layout readable
    AnnIndex.append(codesIdx, emb.where($"vec_id" < 3).select($"vec_id" + 100000 as "vec_id", $"embedding"))
    assert(!codesIdx.cells.columns.contains("embedding"))
  }

  test("empty query batch returns an empty result, not an error") {
    val none = queries.where($"vec_id" < 0)
    assert(AnnIndex.searchExact(index, none, 5, 4).count() == 0)
    assert(AnnIndex.searchAdc(index, none, 5, 4).count() == 0)
  }

  test("delete: ids vanish from every search path; compaction makes it " +
      "physical; deleted ids can be re-added") {
    val dir = Files.createTempDirectory("graft-annidx-del").toString
    val idx = AnnIndex.write(emb, dir, dim = 64, nCells = 8, stride = 7)
    val del = emb.where($"vec_id" % 5 === 0).select("vec_id")
    AnnIndex.delete(idx, del)
    val remaining = emb.where($"vec_id" % 5 =!= 0)
    // exhaustive search over the tombstoned index IS brute force over
    // the remaining corpus — deletes are invisible to ranking logic
    val got = asTuples(AnnIndex.searchExact(idx, queries, 5, 8))
    val want = asTuples(Similarity.bruteForceTopK(remaining, queries, 5)
      .select("qid", "nid", "rank"))
    assert(got == want)
    // the ADC path reads the same alive() relation
    val adcHits = AnnIndex.searchAdc(idx, queries, 5, 8, refine = 0)
      .select("nid").as[Long].collect()
    assert(!adcHits.exists(_ % 5 == 0), s"ADC returned deleted ids: " +
      adcHits.filter(_ % 5 == 0).mkString(","))
    // logical until compaction: the cell files still hold every row
    assert(idx.cells.count() == emb.count())
    val idx2 = AnnIndex.compactCells(idx)
    assert(idx2.cells.count() == remaining.count(),
      "compaction must drop tombstoned rows physically")
    assert(!new java.io.File(idx2.tombDir).exists(),
      "the new version must start with no tombstones")
    assert(asTuples(AnnIndex.searchExact(idx2, queries, 5, 8)) == got)
    // delete-after-compact opens a fresh tombstone set
    AnnIndex.delete(idx2, emb.where($"vec_id" === 1).select("vec_id"))
    assert(!AnnIndex.searchExact(idx2, queries, 5, 8)
      .select("nid").as[Long].collect().contains(1L))
    // re-adding a deleted id makes it alive again: its appended row
    // carries a generation later than the tombstone's
    AnnIndex.append(idx2, emb.where($"vec_id" === 1))
    val q1 = emb.where($"vec_id" === 2)
    val back = AnnIndex.searchExact(idx2, q1, k = remaining.count().toInt, nprobe = 8)
      .select("nid").as[Long].collect()
    assert(back.contains(1L), "re-added id must be searchable again")
  }

  test("upsert: replaced vectors serve the new embedding, inserts land") {
    val dir = Files.createTempDirectory("graft-annidx-upsert").toString
    val idx = AnnIndex.write(emb, dir, dim = 64, nCells = 8, stride = 7)
    val v0 = emb.where($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head()
    // replace vec 3's embedding with vec 0's, and insert a brand-new id
    val up = Seq((3L, v0), (900001L, v0)).toDF("vec_id", "embedding")
    AnnIndex.upsert(idx, up)
    val q0 = emb.where($"vec_id" === 0)
    val top = AnnIndex.searchExact(idx, q0, k = 3, nprobe = 8)
      .select("nid").as[Long].collect().toSet
    // both upserted rows are exact copies of vec 0 → cosine 1.0, the
    // top ranks (old vec 3 must NOT shadow the replacement)
    assert(top.contains(3L) && top.contains(900001L), top.toString)
    // the old version is dead, not merely outranked: an exhaustive
    // search returns nid 3 exactly once (two live versions would rank
    // as two distinct rows)
    val all0 = AnnIndex.searchExact(idx, q0, k = (emb.count() + 2).toInt,
      nprobe = 8).select("nid").as[Long].collect()
    assert(all0.count(_ == 3L) == 1,
      s"vec 3 served ${all0.count(_ == 3L)} versions")
    // compaction collapses versions to exactly one row per live id
    val idx2 = AnnIndex.compactCells(idx)
    assert(idx2.cells.count() == emb.count() + 1)
    assert(idx2.cells.groupBy("vec_id").count()
      .where($"count" > 1).count() == 0, "duplicate versions survived")
  }

  test("versioned publication: pinned readers survive compaction, a " +
      "crashed attempt leaves the old version live, vacuum reclaims") {
    val dir = Files.createTempDirectory("graft-annidx-pub").toString
    val idx = AnnIndex.write(emb, dir, dim = 64, nCells = 8, stride = 7)
    assert(idx.version == 1L, s"fresh build publishes v1: ${idx.version}")
    val before = asTuples(AnnIndex.searchExact(idx, queries, 5, 8))
    // a reader opened BEFORE any maintenance — pins v1
    val reader = AnnIndex.open(spark, dir)
    assert(reader.version == 1L && reader.cellsDir == idx.cellsDir)
    // crash-mid-compaction: a partial cells.v2 exists but CURRENT was
    // never flipped — open() must keep resolving v1 and serving it
    new java.io.File(s"$dir/cells.v2/cent_id=0").mkdirs()
    val afterCrash = AnnIndex.open(spark, dir)
    assert(afterCrash.version == 1L,
      s"unpublished residue must be invisible: v${afterCrash.version}")
    assert(asTuples(AnnIndex.searchExact(afterCrash, queries, 5, 8)) == before)
    // a real compaction overwrites the residue and flips CURRENT
    val idx2 = AnnIndex.compactCells(idx)
    assert(idx2.version == 2L)
    assert(asTuples(AnnIndex.searchExact(idx2, queries, 5, 8)) == before)
    // the pre-compaction reader keeps serving its pinned snapshot
    assert(asTuples(AnnIndex.searchExact(reader, queries, 5, 8)) == before)
    assert(new java.io.File(reader.cellsDir).exists(),
      "publication must not delete the version a reader is pinned to")
    // fresh opens resolve the new version
    val fresh = AnnIndex.open(spark, dir)
    assert(fresh.version == 2L && fresh.cellsDir == idx2.cellsDir)
    // vacuum (maintenance window) reclaims v1; v2 still serves
    AnnIndex.vacuum(idx2)
    assert(!new java.io.File(s"$dir/cells.v1").exists(), "v1 must be gone")
    assert(asTuples(AnnIndex.searchExact(fresh, queries, 5, 8)) == before)
  }

  test("assignmentDrift: shifted batch scores far above in-distribution") {
    val inDist = emb.where($"vec_id" % 7 === 0)
    val shifted = inDist.select($"vec_id",
      transform($"embedding", x => (x + lit(5.0f)).cast("float"))
        .as("embedding"))
    val dIn = AnnIndex.assignmentDrift(index, inDist)
    val dShift = AnnIndex.assignmentDrift(index, shifted)
    assert(dIn >= 0.0 && dIn < 0.2, s"in-distribution drift too high: $dIn")
    assert(dShift > dIn + 0.2, s"shifted drift $dShift vs in-dist $dIn")
  }

  test("retrain: the drift loop closes — high drift, retrain from the " +
      "index's own rows, republished version serves the moved corpus") {
    // build on the native distribution, then the corpus MOVES: a
    // shifted batch is appended and part of the original is deleted —
    // the ongoing-ingest shape assignmentDrift exists to flag
    val dir = Files.createTempDirectory("graft-annidx-retrain").toString
    val base = emb.where($"vec_id" % 3 =!= 0)
    val idx = AnnIndex.write(base, dir, dim = 64, nCells = 8, stride = 7,
      kmeansIters = 1, m = 8, ncodes = 16)
    val shifted = emb.where($"vec_id" % 3 === 0)
      .select(($"vec_id" + 700000L).as("vec_id"),
        transform($"embedding", x => (x + lit(5.0f)).cast("float"))
          .as("embedding"))
    AnnIndex.append(idx, shifted)
    AnnIndex.delete(idx, base.where($"vec_id" % 11 === 0).select("vec_id"))
    val driftBefore = AnnIndex.assignmentDrift(idx, shifted)
    assert(driftBefore > 0.2, s"shifted batch must register drift: $driftBefore")
    // retrain needs NO external corpus: the stored rows are the input.
    // Tombstoned rows drop (retrain is also a compaction), version
    // advances, the pinned old handle keeps serving its snapshot
    val oldResults = asTuples(AnnIndex.searchExact(idx, queries, 5, 8))
    val re = AnnIndex.retrain(idx, nCells = 8, kmeansIters = 1)
    assert(re.version == idx.version + 1)
    assert(asTuples(AnnIndex.searchExact(idx, queries, 5, 8)) == oldResults)
    // the republished version's baseline covers the moved corpus, so
    // the same batch now reads as in-distribution
    val driftAfter = AnnIndex.assignmentDrift(re, shifted)
    assert(driftAfter < driftBefore - 0.1,
      s"retrained baseline must absorb the shift: $driftBefore -> $driftAfter")
    // correctness after retrain: exhaustive search equals brute force
    // over exactly the alive rows (deletes applied, appends present)
    val aliveCorpus = base.where($"vec_id" % 11 =!= 0).union(shifted)
    val want = asTuples(Similarity.bruteForceTopK(aliveCorpus, queries, k = 5)
      .select("qid", "nid", "rank"))
    assert(asTuples(AnnIndex.searchExact(re, queries, 5, 8)) == want)
    assert(re.cells.where($"gen" =!= 0L).count() == 0,
      "retrain starts a clean generation")
    // frozen codebooks by default: ADC decode tables are unchanged
    assert(re.codebooks == idx.codebooks)
  }
}
