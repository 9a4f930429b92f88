package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import sqlImplicits._

  // 4-dim toy corpus with an obvious structure: 0≈1 (near-dup),
  // 2 orthogonal, 3 antiparallel to 0.
  private lazy val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.99f, 0.1f, 0f, 0f)),
    (2L, Array(0f, 1f, 0f, 0f)),
    (3L, Array(-1f, 0f, 0f, 0f)),
    (4L, Array(0.7f, 0.7f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("cosine basics") {
    val c01 = vecs.as("a").join(vecs.as("b"), $"a.vec_id" === 0 && $"b.vec_id" === 1)
      .select(Similarity.cosine($"a.embedding", $"b.embedding")).as[Double].head()
    assert(c01 > 0.99)
    val c03 = vecs.as("a").join(vecs.as("b"), $"a.vec_id" === 0 && $"b.vec_id" === 3)
      .select(Similarity.cosine($"a.embedding", $"b.embedding")).as[Double].head()
    assert(math.abs(c03 + 1.0) < 1e-9)
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val res = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), k = 2)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(res.map(_._2).toSeq == Seq(1L, 4L), s"got ${res.toSeq}")
  }

  test("bruteForceTopKL2 ranks by Euclidean distance, excludes self") {
    // from vec 0: L2 says 1 (0.1 away) < 4 (~0.76) < 2 (~1.41) < 3 (2.0)
    val res = Similarity.bruteForceTopKL2(vecs, vecs.where($"vec_id" === 0), k = 4)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(res.map(_._2).toSeq == Seq(1L, 4L, 2L, 3L), s"got ${res.toSeq}")
  }

  test("l2 metric disagrees with cosine on non-unit vectors, agrees on unit ones") {
    // scaled copy of vec 2: cosine rank unchanged, L2 rank pushed out
    val scaled = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)), // slightly off-direction, near in L2
      (2L, Array(10f, 0f, 0f, 0f))     // exactly parallel, far in L2
    ).toDF("vec_id", "embedding")
    val q = scaled.where($"vec_id" === 0)
    val byCos = Similarity.bruteForceTopK(scaled, q, k = 2)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    val byL2 = Similarity.bruteForceTopKL2(scaled, q, k = 2)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(byCos == Seq(2L, 1L), s"cosine prefers direction: $byCos")
    assert(byL2 == Seq(1L, 2L), s"l2 prefers proximity: $byL2")
    // on unit-normalized embeddings the two rankings coincide
    val unit = vecs.select($"vec_id", exprUnit($"embedding").as("embedding"))
    val qu = unit.where($"vec_id" === 0)
    val cosR = Similarity.bruteForceTopK(unit, qu, k = 4)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    val l2R = Similarity.bruteForceTopKL2(unit, qu, k = 4)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(cosR == l2R, s"unit-norm: cosine $cosR vs l2 $l2R")
  }

  private def exprUnit(c: org.apache.spark.sql.Column) = {
    import graft.functions.{exprs, UnitNorm}
    // UnitNorm yields array<double>; cast back to float for the topK APIs
    exprs.toColumn(UnitNorm(exprs.toExpr(c))).cast("array<float>")
  }

  test("l2 distance: ragged pairs are null, identical vectors are 0") {
    val df = Seq((Array(1f, 2f), Array(1f, 2f))).toDF("a", "b")
    assert(df.select(Similarity.l2($"a", $"b")).as[Double].head() == 0.0)
    val ragged = Seq((Array(1f, 2f), Array(1f))).toDF("a", "b")
    assert(ragged.select(Similarity.l2($"a", $"b")).head().isNullAt(0))
  }

  test("cosineNearDups finds the planted near-duplicate at 0.95") {
    val pairs = Similarity.cosineNearDups(vecs, threshold = 0.95, planes = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"got $pairs")
  }

  test("lshTopK returns subsets of brute-force with correct ranks") {
    val brute = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), k = 4)
      .select("nid").as[Long].collect().toSet
    val lsh = Similarity.lshTopK(vecs, vecs.where($"vec_id" === 0), k = 4, planes = 2)
      .select("nid").as[Long].collect().toSet
    assert(lsh.subsetOf(brute + 0L))
    assert(lsh.nonEmpty, "bucket must at least contain the near-identical vector")
  }

  test("ivfTopK assigns cells and probes them") {
    val res = Similarity.ivfTopK(vecs, vecs.where($"vec_id" === 0), k = 3,
      nCells = 2, stride = 2, nprobe = 2)
      .select("nid").as[Long].collect().toSet
    assert(res.nonEmpty)
    assert(!res.contains(0L), "self must be excluded")
  }

  test("kmeans centroids converge toward cluster structure") {
    // two tight clusters around e1 and e2
    val clustered = (
      (0 until 10).map(i => (i.toLong, Array(1f, 0.05f * i, 0f, 0f))) ++
      (10 until 20).map(i => (i.toLong, Array(0f, 0.05f * (i - 10), 1f, 0f)))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(clustered, nCells = 2, stride = 10, iters = 3)
      .orderBy("cent_id").collect()
    assert(cents.length == 2)
    val c0 = cents(0).getSeq[Float](1)
    val c1 = cents(1).getSeq[Float](1)
    // each centroid should be dominated by its cluster's axis
    assert(c0(0) > 0.5f && c0(2) < 0.3f, s"c0=$c0")
    assert(c1(2) > 0.5f && c1(0) < 0.3f, s"c1=$c1")
  }

  test("ivf recall: with enough probes ivf matches brute force on real embeddings") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.where($"vec_id" === 0)
    val brute = Similarity.bruteForceTopK(emb, q, k = 3)
      .select("nid").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(emb, q, k = 3, nCells = 4, stride = 7, nprobe = 4)
      .select("nid").as[Long].collect().toSet
    // nprobe == nCells → exhaustive → must equal brute force
    assert(ivf == brute, s"ivf $ivf vs brute $brute")
  }

  test("ivf recall curve: recall vs brute force is non-decreasing in nprobe") {
    // 4 planted tight clusters along distinct axes + jitter
    val clustered = (0 until 40).map { i =>
      val axis = i % 4
      val base = Array.fill(4)(0.02f * ((i * 7 + axis) % 5))
      base(axis) = 1f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val q = clustered.where($"vec_id" === 0)
    val brute = Similarity.bruteForceTopK(clustered, q, k = 5)
      .select("nid").as[Long].collect().toSet
    val recalls = Seq(1, 2, 4).map { np =>
      val got = Similarity.ivfTopK(clustered, q, k = 5,
        nCells = 4, stride = 4, nprobe = np).select("nid").as[Long].collect().toSet
      (got intersect brute).size.toDouble / brute.size
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall must not drop as nprobe grows: $recalls")
    assert(recalls.last == 1.0, s"exhaustive probe must reach full recall: $recalls")
    // probing only the query's own cell must already find same-cluster
    // neighbors (the planted cluster dominates top-k)
    assert(recalls.head > 0.0, s"nprobe=1 found nothing: $recalls")
  }

  test("train-once/search-many: pre-trained centroids reproduce the default path") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 5)
    val cents = Similarity.trainIvfCentroids(emb, nCells = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val trained = rows(Similarity.ivfTopK(emb, queries, k = 3, nCells = 8,
      nprobe = 8, centroids = Some(cents)))
    val default = rows(Similarity.ivfTopK(emb, queries, k = 3, nCells = 8, nprobe = 8))
    assert(trained == default && trained.nonEmpty)
    // search twice against the same index: identical answers, no retrain
    assert(rows(Similarity.ivfTopK(emb, queries, k = 3, nCells = 8,
      nprobe = 8, centroids = Some(cents))) == trained)
  }

  test("streaming ANN: a query stream searches a static pre-trained index") {
    // the serving shape: index trained once on the static corpus,
    // query micro-batches answered via foreachBatch — ivfTopK's
    // window ranking is legal inside the batch context.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = Similarity.trainIvfCentroids(emb, nCells = 8)
    val qVecs = emb.where(col("vec_id") < 3)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    input.addData(qVecs.toIndexedSeq)
    val results = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.ivfTopK(emb, batch, k = 2, nCells = 8, nprobe = 8,
            centroids = Some(cents))
          .select("qid", "nid", "rank").collect()
          .foreach(r => results.synchronized {
            results += ((r.getLong(0), r.getLong(1), r.getLong(2)))
          })
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "streaming ANN query timed out")
    finally q.stop()
    val batchAnswers = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 3),
        k = 2, nCells = 8, nprobe = 8, centroids = Some(cents))
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(results.toSet == batchAnswers && results.nonEmpty,
      s"stream ${results.toSet} != batch $batchAnswers")
  }

  test("pq codebooks have the right shape and encoding is deterministic") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val books = Similarity.trainPqCodebooks(emb, dim = 64, m = 8, ncodes = 4)
    assert(books.length == 8 && books.forall(_.forall(_.length == 8)),
      "8 subspaces of width 64/8")
    assert(books.forall(b => b.length <= 4 && b.nonEmpty))
    import graft.functions.{exprs, PqEncode}
    def codesOf() = emb.orderBy("vec_id")
      .select(exprs.toColumn(PqEncode(exprs.toExpr(col("embedding")), books)))
      .collect().map(_.getSeq[Int](0).toSeq).toSeq
    val c1 = codesOf()
    assert(c1 == codesOf(), "same books must encode identically")
    assert(c1.flatten.forall(c => c >= 0 && c < 4), "codes within book range")
  }

  test("pq with full-corpus refine is exactly brute force") {
    // refine·k >= corpus size → the exact re-rank sees every candidate
    // the ADC scan produced for each query; with ncodes ≥ distinct
    // subvector patterns the scan keeps everything, so the result must
    // equal brute force row for row
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.where($"vec_id" < 3)
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(emb, q, k = 3))
    val pq = rows(Similarity.pqTopK(emb, q, k = 3, dim = 64,
      m = 8, ncodes = 16, refine = n))
    assert(pq == brute && pq.nonEmpty, s"pq $pq vs brute $brute")
  }

  test("pq recall: planted near-duplicates surface through ADC + re-rank") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    // plant a jittered copy of every query vector; top-1 must find it
    val q = emb.where($"vec_id" < 5)
    val planted = q.select(($"vec_id" + 1000000).as("vec_id"),
      transform($"embedding",
        (x, i) => (x + sin($"vec_id" * 131 + i * 17) * lit(0.01d))
          .cast("float")).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionAll(planted)
    val top1 = Similarity.pqTopK(corpus, q, k = 1, dim = 64,
        m = 8, ncodes = 16, refine = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    (0L until 5L).foreach { id =>
      assert(top1.get(id).contains(id + 1000000),
        s"query $id: expected planted copy, got ${top1.get(id)}")
    }
  }

  test("sq with full-corpus refine is exactly brute force; bounds " +
      "have corpus width; encode handles degenerate dimensions") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.where($"vec_id" < 3)
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(emb, q, k = 3))
    val (lo, hi) = Similarity.trainSqBounds(emb, dim = 64)
    assert(lo.length == 64 && hi.length == 64 &&
      lo.zip(hi).forall { case (l, h) => l <= h })
    val sq = rows(Similarity.sqTopK(emb, q, k = 3, dim = 64,
      refine = n, bounds = Some((lo, hi))))
    assert(sq == brute && sq.nonEmpty, s"sq $sq vs brute $brute")
    // a constant dimension must encode to 0 and dequantize exactly:
    // planting dim 0 as constant shifts no ranking among these vectors
    import spark.implicits._
    val const = emb.select($"vec_id",
      transform($"embedding", (x, i) =>
        org.apache.spark.sql.functions.when(i === 0, lit(0.25f))
          .otherwise(x)).as("embedding"))
    val cq = const.where($"vec_id" < 3)
    val sqc = rows(Similarity.sqTopK(const, cq, k = 3, dim = 64, refine = n))
    val bc = rows(Similarity.bruteForceTopK(const, cq, k = 3))
    assert(sqc == bc, "degenerate dimension must not corrupt ranking")
  }

  test("sq recall: planted near-duplicates surface at production " +
      "refine depth") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.where($"vec_id" < 5)
    val planted = q.select(($"vec_id" + 1000000).as("vec_id"),
      transform($"embedding",
        (x, i) => (x + sin($"vec_id" * 131 + i * 17) * lit(0.01d))
          .cast("float")).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionAll(planted)
    val top1 = Similarity.sqTopK(corpus, q, k = 1, dim = 64, refine = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    (0L until 5L).foreach { id =>
      assert(top1.get(id).contains(id + 1000000),
        s"query $id: expected planted copy, got ${top1.get(id)}")
    }
  }

  test("ivf-pq with exhaustive probes and full refine is exactly brute force") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.where($"vec_id" < 3)
    val n = emb.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(emb, q, k = 3))
    val ivfpq = rows(Similarity.ivfPqTopK(emb, q, k = 3, dim = 64,
      nCells = 4, nprobe = 4, m = 8, ncodes = 16, refine = n))
    assert(ivfpq == brute && ivfpq.nonEmpty, s"ivfpq $ivfpq vs brute $brute")
  }

  test("ivf-pq finds planted duplicates at sub-exhaustive settings") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.where($"vec_id" < 5)
    val planted = q.select(($"vec_id" + 1000000).as("vec_id"),
      transform($"embedding",
        (x, i) => (x + sin($"vec_id" * 131 + i * 17) * lit(0.01d))
          .cast("float")).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionAll(planted)
    // a jittered copy quantizes into its base's IVF cell, so probing
    // the query's own top cells must surface it
    val top1 = Similarity.ivfPqTopK(corpus, q, k = 1, dim = 64,
        nCells = 8, nprobe = 2, m = 8, ncodes = 16, refine = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    (0L until 5L).foreach { id =>
      assert(top1.get(id).contains(id + 1000000),
        s"query $id: expected planted copy, got ${top1.get(id)}")
    }
  }

  test("pq train-once/search-many reproduces the default path") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.where($"vec_id" < 3)
    val books = Similarity.trainPqCodebooks(emb, dim = 64, m = 8, ncodes = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val trained = rows(Similarity.pqTopK(emb, q, k = 3, dim = 64,
      codebooks = Some(books)))
    assert(trained == rows(Similarity.pqTopK(emb, q, k = 3, dim = 64)) &&
      trained.nonEmpty)
    assert(rows(Similarity.pqTopK(emb, q, k = 3, dim = 64,
      codebooks = Some(books))) == trained, "same index, same answers")
  }

  test("streaming PQ serving: query micro-batches search static codebooks") {
    // same serving shape as the IVF case: codebooks trained once on
    // the static corpus, query batches answered via foreachBatch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sfDir)
    val books = Similarity.trainPqCodebooks(emb, dim = 64, m = 8, ncodes = 16)
    val qVecs = emb.where(col("vec_id") < 3)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    input.addData(qVecs.toIndexedSeq)
    val results = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.pqTopK(emb, batch, k = 2, dim = 64,
            codebooks = Some(books))
          .select("qid", "nid", "rank").collect()
          .foreach(r => results.synchronized {
            results += ((r.getLong(0), r.getLong(1), r.getLong(2)))
          })
      }
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "streaming PQ query timed out")
    finally q.stop()
    val batchAnswers = Similarity.pqTopK(emb, emb.where(col("vec_id") < 3),
        k = 2, dim = 64, codebooks = Some(books))
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(results.toSet == batchAnswers && results.nonEmpty,
      s"stream ${results.toSet} != batch $batchAnswers")
  }

  test("semanticDedup drops exactly the planted duplicates under cell blocking") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    // plant a barely-jittered copy of 5 vectors; the copy must
    // co-assign with its base cell and be dropped (canonical = min id)
    val bases = emb.where($"vec_id" < 5)
    val planted = bases.select(($"vec_id" + 1000000).as("vec_id"),
      transform($"embedding",
        (x, i) => (x + sin($"vec_id" * 131 + i * 17) * lit(0.001d))
          .cast("float")).as("embedding"), $"label")
    val corpus = emb.unionAll(planted)
    // corpus strangers top out near cos 0.5, planted copies ≈ 1.0
    val kept = Similarity.semanticDedup(corpus, threshold = 0.9, nCells = 8)
      .select("vec_id").as[Long].collect().toSet
    (0L until 5L).foreach { id =>
      assert(kept.contains(id), s"base $id must survive as canonical")
      assert(!kept.contains(id + 1000000), s"copy of $id must be dropped")
    }
    assert(kept.size == emb.count(), "exactly the 5 copies are removed")
  }

  test("semantic pair generation is cell-local — no cartesian at nCells > 1") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val p = Similarity.semanticNearDups(emb, threshold = 0.9, nCells = 8)
      .queryExecution.executedPlan
    val cartesian = p.collect {
      case n if n.nodeName.contains("CartesianProduct") ||
        n.nodeName.contains("BroadcastNestedLoop") => n
    }
    assert(cartesian.isEmpty, "cell blocking must plan as an equi-join")
  }

  test("brute force on real embeddings: top1 of each query has highest cosine") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val res = Similarity.bruteForceTopK(emb, emb.where($"vec_id" < 3), k = 1)
      .select("qid", "cos").as[(Long, Double)].collect()
    assert(res.length == 3)
    assert(res.forall { case (_, c) => c > -1.0 && c < 1.0 })
  }

  test("filtered ANN pushes the metadata predicate to the corpus scan") {
    // the vector-store "search within tenant/label" query: the filter
    // must reach the parquet reader (row-group pruning at scale), not
    // run post-scan
    val subset = graft.Tables.embeddings(spark, sfDir).where($"label" === 3)
    val df = Similarity.ivfTopK(subset, subset.where($"vec_id" < 50), k = 3,
      nCells = 4, nprobe = 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label,3)"),
      s"label predicate not pushed to the scan:\n$plan")
  }

  test("rrfFuse: reciprocal ranks add across lists, missing contributes 0") {
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("qid", "nid", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("qid", "nid", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), k = 60, topK = 10)
      .select("qid", "nid", "rrf", "n_lists", "rank")
      .as[(Long, Long, Double, Long, Long)].collect()
      .sortBy(_._5)
    // contributions rounded to 6 dp: 1/61 → 0.016393, 1/62 → 0.016129;
    // the sum is decimal-exact, so 0.032522 arrives bit-exactly
    assert(out.map(t => (t._2, t._3, t._4, t._5)).toSeq == Seq(
      (11L, 0.032522, 2L, 1L), // in both lists → wins fusion
      (10L, 0.016393, 1L, 2L),
      (12L, 0.016129, 1L, 3L)), s"got ${out.toSeq}")
  }

  test("rrfFuse: topK cuts per query, ties broken by nid") {
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L))
      .toDF("qid", "nid", "rank")
    val out = Similarity.rrfFuse(Seq(a), k = 60, topK = 1)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 10L, 1L), (2L, 20L, 1L)), s"got $out")
  }

  test("mmrRerank diversifies: the near-dup of the top pick is displaced") {
    // query 100 points at cluster A; a1/a2 are near-dups of each other,
    // b is less relevant but orthogonal to A. Plain top-2 = {a1, a2};
    // MMR at λ=0.5 must keep a1 and swap the redundant a2 for b.
    val corpus = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.98f, 0.05f, 0f, 0f)),   // a1: most relevant
      (2L, Array(0.97f, 0.06f, 0f, 0f)),   // a2: near-dup of a1
      (3L, Array(0.5f, 0f, 0.86f, 0f))     // b: relevant, diverse
    ).toDF("vec_id", "embedding")
    val q = corpus.where($"vec_id" === 100)
    val plain = Similarity.bruteForceTopK(corpus, q, k = 2, roundCosTo = 6)
      .select("nid").as[Long].collect().toSet
    assert(plain == Set(1L, 2L), s"plain top-2 must be the near-dup pair: $plain")
    val mmr = Similarity.mmrRerank(corpus, q, k = 2, n = 3, lambda = 0.5)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(mmr == Seq(1L, 3L), s"MMR must displace the near-dup: $mmr")
    // λ=1 degenerates to plain relevance ranking
    val rel = Similarity.mmrRerank(corpus, q, k = 2, n = 3, lambda = 1.0)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(rel == Seq(1L, 2L), s"λ=1 must equal plain ranking: $rel")
  }

  test("mmrRerankCandidates: MMR over exhaustive-probe index candidates " +
      "equals MMR over brute-force candidates") {
    // the r9 composability fix: mmrRerank used to hardcode
    // bruteForceTopK for candidates, so MMR could never run over an
    // index retrieval without a redundant corpus pass. Candidates from
    // the PERSISTED index (exhaustive probe — spec-equal to brute
    // force) through the same rel transform must produce the identical
    // selection sequence.
    val emb = graft.Tables.embeddings(spark, sfDir)
    val q = emb.where($"vec_id" < 3)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ann-mmr").toString
    val idx = AnnIndex.write(emb, dir, dim = 64, nCells = 8,
      stride = 7, kmeansIters = 1, m = 8, ncodes = 16)
    val idxCand = AnnIndex.searchExact(idx, q, k = 12, nprobe = 8)
    val bfCand = Similarity.bruteForceTopK(emb, q, k = 12)
      .select("qid", "nid", "rank")
    def toRel(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rel",
          round(lit(1.0) / (col("rank") + lit(60.0)), 6))
        .select("qid", "nid", "rel")
    def run(corpus: org.apache.spark.sql.DataFrame,
            cand: org.apache.spark.sql.DataFrame) =
      Similarity.mmrRerankCandidates(corpus, cand, k = 5)
        .select("qid", "nid", "rank").as[(Long, Long, Long)]
        .collect().sortBy(t => (t._1, t._3)).toSeq
    // disk chain re-attaches vectors from the index's own cells —
    // no pass over the original embeddings table anywhere
    val viaIdx = run(idx.cells.select("vec_id", "embedding"), toRel(idxCand))
    val viaBf = run(emb, toRel(bfCand))
    assert(viaIdx.nonEmpty && viaIdx.size == 15, s"got ${viaIdx.size}")
    assert(viaIdx == viaBf, s"idx=${viaIdx.take(6)} bf=${viaBf.take(6)}")
    // and the self-contained form is exactly the delegation
    val d1 = Similarity.mmrRerank(emb, q, k = 5, n = 12)
      .select("qid", "nid", "rank").as[(Long, Long, Long)]
      .collect().sortBy(t => (t._1, t._3)).toSeq
    val d2 = run(emb, Similarity.bruteForceTopK(emb, q, 12, roundCosTo = 6)
      .select($"qid", $"nid", $"cos".as("rel")))
    assert(d1 == d2)
  }

  test("mmrRerank: negative redundancy is kept, short candidate sets, determinism") {
    // the anti-parallel candidate's NEGATIVE sim to the first pick must
    // boost (not clamp to 0) its second-round score: with λ=0.5 the
    // anti-parallel vector 3 outranks the orthogonal 2 at rank 2
    val q0 = vecs.where($"vec_id" === 0)
    val mmr = Similarity.mmrRerank(vecs, q0, k = 3, n = 4, lambda = 0.5)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(mmr.head == 1L, s"rank 1 is the most relevant: $mmr")
    val i3 = mmr.indexOf(3L)
    val i2 = mmr.indexOf(2L)
    assert(i3 >= 0 && (i2 < 0 || i3 < i2),
      s"anti-parallel (sim<0) must outrank orthogonal under MMR: $mmr")
    // k beyond the candidate pool returns the whole pool, ordered
    val all = Similarity.mmrRerank(vecs, q0, k = 10, n = 10, lambda = 0.5)
      .select("nid").as[Long].collect()
    assert(all.length == 4 && all.toSet == Set(1L, 2L, 3L, 4L))
    // deterministic across runs
    val again = Similarity.mmrRerank(vecs, q0, k = 3, n = 4, lambda = 0.5)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(again == mmr)
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(vecs, q0, k = 3, n = 2, lambda = 0.5)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(vecs, q0, k = 1, n = 2, lambda = 1.5)
    }
  }

  test("mmrRerankCandidates: a zero-vector candidate or a NaN rel ranks " +
      "in SQL double order, k distinct picks, deterministic") {
    // a zero vector's cosine to any candidate is 0/0 = NaN, and a
    // retriever may hand over a NaN rel. NaN is the greatest double in
    // Spark SQL's order (the order rankTopK uses), so a NaN score is
    // picked first, and once a NaN redundancy term enters every
    // remaining score, they tie and break by nid ascending
    val corpus = vecs.unionByName(
      Seq((9L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val cand = Seq(
      (0L, 1L, 0.9), (0L, 2L, 0.8), (0L, 9L, 0.7), (0L, 3L, 0.6),
      (0L, 4L, 0.5),
      (100L, 1L, 0.9), (100L, 2L, Double.NaN), (100L, 3L, 0.5)
    ).toDF("qid", "nid", "rel")
    def picks(): Map[Long, Seq[Long]] =
      Similarity.mmrRerankCandidates(corpus, cand, k = 3, lambda = 0.5)
        .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
        .groupBy(_._1)
        .map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
    val first = picks()
    assert(first == Map(0L -> Seq(1L, 9L, 2L), 100L -> Seq(2L, 1L, 3L)),
      s"got $first")
    assert(picks() == first)
  }

  // x–y-plane geometry with hand-computable cosines against the query
  // (1,0,0,0): positives at 0.993884 (max) and 0.707107 (min), so the
  // floor sits at 0.657107 and the ceiling at 0.993884
  private lazy val hnCorpus = Seq(
    (1L, Array(0.9f, 0.1f, 0f, 0f)), // positive, cos 0.993884 (pos_max)
    (2L, Array(0.5f, 0.5f, 0f, 0f)), // positive, cos 0.707107 (pos_min)
    (3L, Array(1f, 0.01f, 0f, 0f)), // cos 0.99995 > pos_max: false negative, dropped
    (4L, Array(0.8f, 0.2f, 0f, 0f)), // cos 0.970143: hard negative, rank 1
    (5L, Array(0.6f, 0.4f, 0f, 0f)), // cos 0.832050: hard negative, rank 3
    (6L, Array(0f, 1f, 0f, 0f)), // cos 0 < floor: easy, dropped
    (7L, Array(0.7f, 0.35f, 0f, 0f)), // cos 0.894427: hard negative, rank 2
    (100L, Array(1f, 0f, 0f, 0f)), // the query itself (self excluded)
    (200L, Array(0f, 0f, 1f, 0f)) // second query, no positives
  ).toDF("vec_id", "embedding")

  test("hardNegatives: positives excluded, hardness floor and " +
      "false-negative ceiling both fire, no-positive queries pass through") {
    val qs = hnCorpus.where($"vec_id" === 100L || $"vec_id" === 200L)
    // self-pair (100,100) present to prove it is ignored, not a baseline
    val pos = Seq((100L, 1L), (100L, 2L), (100L, 100L)).toDF("qid", "nid")
    val out = Similarity.hardNegatives(hnCorpus, qs, pos, k = 10,
        minMargin = Some(0.05), dropAbovePos = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
    val q100 = out.filter(_._1 == 100L).sortBy(_._3).map(_._2).toSeq
    assert(q100 == Seq(4L, 7L, 5L),
      s"expected the three hard negatives in cosine order, got $q100")
    // qid 200 has no positives: both screens pass through; every
    // candidate has cos 0 except none — ranks are pure nid tiebreaks
    val q200 = out.filter(_._1 == 200L).sortBy(_._3).map(_._2).toSeq
    assert(q200 == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 100L),
      s"no-baseline query must keep plain top-k with nid ties: $q200")
  }

  test("hardNegativesFrom over an exhaustive scored relation equals " +
      "the brute-force form") {
    val qs = hnCorpus.where($"vec_id" === 100L || $"vec_id" === 200L)
    val pos = Seq((100L, 1L), (100L, 2L)).toDF("qid", "nid")
    // caller-supplied candidates: every (q, c) pair scored with the
    // same kernel but UNROUNDED — From re-rounds on entry
    val cands = hnCorpus.as("c")
      .join(broadcast(qs.as("q")), $"q.vec_id" =!= $"c.vec_id")
      .select($"q.vec_id".as("qid"), $"c.vec_id".as("nid"),
        Similarity.cosine($"q.embedding", $"c.embedding").as("cos"))
    val from = Similarity.hardNegativesFrom(cands, pos, k = 10,
        minMargin = Some(0.05), dropAbovePos = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.hardNegatives(hnCorpus, qs, pos, k = 10,
        minMargin = Some(0.05), dropAbovePos = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().toSet
    assert(from == brute, s"from=$from brute=$brute")
  }

  test("hardNegatives with screens off equals brute-force top-k minus positives") {
    val qs = hnCorpus.where($"vec_id" === 100L)
    val pos = Seq((100L, 1L), (100L, 2L)).toDF("qid", "nid")
    val hn = Similarity.hardNegatives(hnCorpus, qs, pos, k = 4)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().toSet
    val posSet = Set(1L, 2L)
    val brute = Similarity.bruteForceTopK(hnCorpus, qs, k = 4 + posSet.size)
      .orderBy("rank").select("qid", "nid").as[(Long, Long)].collect()
      .filterNot(p => posSet(p._2)).take(4)
    // same membership; ranks re-densified among the negatives
    assert(hn.map(p => (p._1, p._2)) == brute.toSet, s"$hn vs ${brute.toSeq}")
    assert(hn.map(_._3) == Set(1L, 2L, 3L, 4L))
  }
}
