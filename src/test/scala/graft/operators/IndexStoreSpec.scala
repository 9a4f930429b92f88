package graft.operators

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one index life cycle, driven over all three persisted indexes:
  * crash before the CURRENT flip, search while a newer version
  * publishes, legacy layouts, stale handles, replay after compaction,
  * and the batch ledger gating DedupIndex appends.
  */
class IndexStoreSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
    .select("vec_id", "embedding")
  private lazy val docs = Tables.documents(spark, sfDir)
    .select("doc_id", "text")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-store-$tag").toString

  /** One index kind as the life-cycle specs drive it: `build(dir,
    * full)` writes half the corpus (full = false) or all of it, and
    * `search` is deterministic in the served corpus.
    */
  private case class Kind[H](name: String, primary: String,
                             build: (String, Boolean) => H,
                             open: String => H,
                             version: H => Long,
                             search: H => Seq[String],
                             compact: H => H,
                             vacuum: H => Unit)

  private val ann = Kind[AnnIndex.IvfPqIndex]("ann", "cells",
    (dir, full) => AnnIndex.write(
      if (full) emb else emb.where($"vec_id" % 2 === 0), dir, dim = 64,
      nCells = 4, stride = 7, m = 8, ncodes = 16),
    AnnIndex.open(spark, _), _.version,
    h => rows(AnnIndex.searchExact(h, emb.where($"vec_id" < 5), k = 5,
      nprobe = 4)),
    AnnIndex.compactCells(_), AnnIndex.vacuum)

  private val bm25 = Kind[Bm25Index.Index]("bm25", "postings",
    (dir, full) => Bm25Index.write(
      if (full) docs else docs.where($"doc_id" % 2 === 0),
      "doc_id", "text", dir, nBuckets = 8),
    Bm25Index.open(spark, _), _.version,
    h => rows(Bm25Index.search(h, docs.where($"doc_id" < 3), "doc_id",
      "text", topK = 10)),
    Bm25Index.compactDeltas(_), Bm25Index.vacuum)

  private val dedup = Kind[DedupIndex.Index]("dedup", "bands",
    (dir, full) => DedupIndex.write(
      if (full) docs else docs.where($"doc_id" % 2 === 0),
      "doc_id", "text", dir, nBuckets = 8, nSigBuckets = 4),
    DedupIndex.open(spark, _), _.version,
    { h =>
      val res = DedupIndex.screenBatch(h, docs.where($"doc_id" < 40)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"),
        "doc_id", "text")
      rows(res.dropped) ++ rows(res.clean.select("doc_id"))
    },
    DedupIndex.compactBatches(_), DedupIndex.vacuum)

  /** Copy every `<base>.v<from>` directory of `src` into `dst` as
    * `<base>.v<to>`: a complete but unpublished version, the state a
    * crash between the artifact writes and the CURRENT flip leaves.
    */
  private def plantVersion(src: String, dst: String, from: Long, to: Long): Unit =
    new File(src).listFiles().filter(_.getName.endsWith(s".v$from")).foreach { d =>
      val target = new File(dst, d.getName.stripSuffix(s".v$from") + s".v$to").toPath
      Files.walk(d.toPath).iterator.asScala.foreach { p: Path =>
        Files.copy(p, target.resolve(d.toPath.relativize(p).toString),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }

  /** Turn a freshly written v1 directory into the r7/r8 layout:
    * unversioned relation dirs and no CURRENT or GEN. */
  private def legacyize(dir: String): Unit = {
    new File(dir).listFiles().filter(_.getName.endsWith(".v1")).foreach(d =>
      assert(d.renameTo(new File(dir, d.getName.stripSuffix(".v1")))))
    Seq("CURRENT", "GEN").foreach(n => new File(dir, n).delete())
  }

  Seq(ann, bm25, dedup).foreach(lifecycle(_))

  private def lifecycle[H](k: Kind[H]): Unit = {
    test(s"${k.name}: a crash before the flip changes nothing; the next " +
        "compaction and write succeed over the residue") {
      val dir = tmp(s"${k.name}-crash")
      val idx = k.build(dir, false)
      val before = k.search(idx)
      val other = tmp(s"${k.name}-crash-ref")
      val ref = k.search(k.build(other, true))
      assert(ref != before, "fixture: the two corpora must serve differently")
      plantVersion(other, dir, 1L, 2L)
      val reopened = k.open(dir)
      assert(k.version(reopened) == 1L && k.search(reopened) == before,
        "unpublished residue must stay invisible")
      val compacted = k.compact(reopened)
      assert(k.version(compacted) == 2L && k.search(compacted) == before,
        "a compaction must replace the residue, not merge with it")
      val rebuilt = k.build(dir, true)
      assert(k.version(rebuilt) == 3L && k.search(rebuilt) == ref)
    }

    test(s"${k.name}: a handle pinned before a compaction and a rebuild " +
        "serves identical results until vacuum") {
      val dir = tmp(s"${k.name}-pin")
      val idx = k.build(dir, false)
      val pinned = k.open(dir)
      val before = k.search(pinned)
      k.compact(idx)
      assert(k.search(pinned) == before)
      val rebuilt = k.build(dir, true)
      assert(k.search(pinned) == before)
      assert(k.search(k.open(dir)) == k.search(rebuilt))
      k.vacuum(rebuilt)
      assert(!new File(dir, s"${k.primary}.v1").exists(),
        "vacuum reclaims the pinned version")
    }

    test(s"${k.name}: vacuum through a stale handle keeps the version " +
        "CURRENT names; a stale compaction refuses") {
      val dir = tmp(s"${k.name}-stale")
      val idx = k.build(dir, false)
      val stale = k.open(dir)
      val live = k.build(dir, true)
      val served = k.search(live)
      k.vacuum(stale)
      val fresh = k.open(dir)
      assert(k.version(fresh) == k.version(live) && k.search(fresh) == served,
        "vacuum must never delete the live version")
      assert(!new File(dir, s"${k.primary}.v${k.version(idx)}").exists())
      intercept[IllegalStateException](k.compact(stale))
      assert(k.search(k.open(dir)) == served)
    }

    test(s"${k.name}: a legacy layout (unversioned dirs, no CURRENT) " +
        "opens, compacts into v1 and vacuums its legacy dirs") {
      val dir = tmp(s"${k.name}-legacy")
      val before = k.search(k.build(dir, false))
      legacyize(dir)
      val legacy = k.open(dir)
      assert(k.version(legacy) == 0L && k.search(legacy) == before)
      val compacted = k.compact(legacy)
      assert(k.version(compacted) == 1L && k.search(compacted) == before)
      k.vacuum(compacted)
      assert(!new File(dir, k.primary).exists())
      assert(k.search(k.open(dir)) == before)
    }
  }

  test("ann: compactCells twice through one handle keeps the published " +
      "version and the upsert made on it") {
    val dir = tmp("ann-compact-twice")
    val idx = ann.build(dir, false)
    val compacted = AnnIndex.compactCells(idx)
    // a copy of query vec 1 lands on the published version
    AnnIndex.upsert(compacted, emb.where($"vec_id" === 1L)
      .select(lit(900001L).as("vec_id"), $"embedding"))
    val served = ann.search(AnnIndex.open(spark, dir))
    assert(served != ann.search(idx), "fixture: the upsert must change search")
    intercept[IllegalStateException](AnnIndex.compactCells(idx))
    val fresh = AnnIndex.open(spark, dir)
    assert(fresh.version == compacted.version && ann.search(fresh) == served,
      "the second compaction must not republish over the upsert")
  }

  test("ann: a pre-GEN legacy index (meta/next_gen = 50, no GEN) deletes " +
      "rows written at generation 49") {
    val dir = tmp("ann-legacy-gen")
    val idx = ann.build(dir, false)
    idx.cells.withColumn("gen", lit(49L))
      .write.partitionBy("cent_id").parquet(s"$dir/cells.legacy")
    legacyize(dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new File(dir, "cells"))
    assert(new File(dir, "cells.legacy").renameTo(new File(dir, "cells")))
    Seq(50L).toDF("next_gen").write.parquet(s"$dir/meta")
    val legacy = AnnIndex.open(spark, dir)
    assert(legacy.version == 0L &&
      legacy.cells.where($"gen" =!= 49L).count() == 0)
    val ids = emb.where($"vec_id" % 2 === 0 && $"vec_id" < 20)
    AnnIndex.delete(legacy, ids.select("vec_id"))
    assert(IndexStore.generation(spark, dir).contains(50L))
    val hits = AnnIndex.searchExact(legacy, emb.where($"vec_id" < 5),
      k = 300, nprobe = 4).select("nid").as[Long].collect().toSet
    assert(hits.nonEmpty && hits.forall(n => n >= 20 || n % 2 != 0),
      s"rows at generation 49 must die: ${hits.filter(_ < 20)}")
  }

  test("bm25: a batch done before a compaction replays as a skip; " +
      "nothing lands in the new version") {
    val dir = tmp("bm25-replay")
    val idx = bm25.build(dir, false)
    val batch = docs.where($"doc_id" % 2 === 1)
    Bm25Index.appendDocsBatch(idx, batch, "doc_id", "text", batchId = 1L)
    val compacted = Bm25Index.compactDeltas(idx)
    val served = bm25.search(compacted)
    Bm25Index.appendDocsBatch(compacted, batch, "doc_id", "text", batchId = 1L)
    assert(!new File(dir, s"postings_batches.v${compacted.version}").exists())
    assert(bm25.search(Bm25Index.open(spark, dir)) == served)
  }

  private def sigsOf(df: DataFrame): DataFrame =
    Dedup.minhashSignature(df, "doc_id", "text")

  private def batchIds(rel: DataFrame): Set[Long] =
    rel.select("batch_id").distinct().collect()
      .map(_.getAs[Number](0).longValue()).toSet

  test("dedup: a batch done before a compaction replays as a skip; " +
      "nothing lands in the new version") {
    val dir = tmp("dedup-replay")
    val idx = dedup.build(dir, false)
    val batch = docs.where($"doc_id" % 2 === 1 && $"doc_id" < 60)
    DedupIndex.appendBatch(idx, sigsOf(batch), 1L)
    val compacted = DedupIndex.compactBatches(idx)
    val served = dedup.search(compacted)
    DedupIndex.appendBatch(compacted, sigsOf(batch), 1L)
    val fresh = DedupIndex.open(spark, dir)
    assert(batchIds(fresh.bandRows) == Set(0L) &&
      batchIds(fresh.sigRows) == Set(0L))
    assert(dedup.search(fresh) == served)
  }

  private val probeText =
    "the quick brown fox jumps over the lazy dog again and again"

  test("dedup: an intent-only batch is invisible to a fresh open; the " +
      "build rows still screen") {
    import graft.functions.{exprs, LshBandKeys}
    val dir = tmp("dedup-torn")
    val idx = DedupIndex.write(Seq((1L, probeText),
        (2L, "an unrelated second seed document")).toDF("doc_id", "text"),
      "doc_id", "text", dir, nBuckets = 8, nSigBuckets = 4)
    // a torn append of batch 5: its intent row and band partitions
    // landed, its sig partitions and done row did not
    spark.range(1).select(lit(5L).as("batch_id"),
        lit(idx.version).as("version"), lit("intent").as("state"),
        lit(0L).as("fp"))
      .coalesce(1).write.mode("append").parquet(s"$dir/batch_ledger")
    sigsOf(Seq((70001L, probeText)).toDF("doc_id", "text"))
      .select(col("doc_id"), posexplode(exprs.toColumn(
        LshBandKeys(exprs.toExpr(col("sig")), idx.bands))).as(Seq("band", "bh")))
      .withColumn("bucket", pmod(xxhash64(col("band"), col("bh")), lit(8L)))
      .withColumn("batch_id", lit(5L))
      .write.mode("append").partitionBy("bucket", "batch_id")
      .parquet(idx.bandsDir)
    val fresh = DedupIndex.open(spark, dir)
    assert(batchIds(fresh.bandRows) == Set(0L),
      "an in-flight batch's band partitions must stay invisible")
    val res = DedupIndex.screenBatch(fresh,
      Seq((80001L, probeText)).toDF("doc_id", "text"), "doc_id", "text")
    assert(res.dropped.select("new_id", "matched_id").as[(Long, Long)]
      .collect().toSet == Set((80001L, 1L)),
      "the build rows screen; the batch-5 doc is no candidate")
  }

  test("dedup: reusing a batchId with different signatures after a " +
      "compaction throws") {
    val dir = tmp("dedup-fp")
    val idx = dedup.build(dir, false)
    DedupIndex.appendBatch(idx, sigsOf(docs.where($"doc_id" === 1L)), 5L)
    val compacted = DedupIndex.compactBatches(idx)
    val ex = intercept[IllegalStateException] {
      DedupIndex.appendBatch(compacted, sigsOf(docs.where($"doc_id" === 3L)), 5L)
    }
    assert(ex.getMessage.contains("fingerprint"))
  }
}
