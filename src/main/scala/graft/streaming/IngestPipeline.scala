package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{AnnIndex, Bm25Index, Curation, DedupIndex}

/** The composed streaming ingest story (VERDICT r10 item 7): one
  * micro-batch loop running the full production intake —
  *
  *   stream → the curation chain's screens (mined boilerplate, the
  *   gate, the eval-span scrub) → persisted-index dedup screen (F12)
  *   → clean sink (exactly-once) → ANN upsert (G12/G13) →
  *   lexical-index append (H18, optional — r13)
  *
  * — with every leg REPLAY-IDEMPOTENT, so a query killed anywhere
  * inside a batch and restarted from its checkpoint converges to
  * exactly-once row accounting:
  *
  *  - the dedup screen reads `beforeBatch = b`, so a replayed batch
  *    never sees its own partial append, and `appendBatch` lands in
  *    per-(bucket, batch_id) partitions with dynamic overwrite — the
  *    replay REPLACES its crashed attempt (the IncrementalDedup rule);
  *  - both batch-keyed legs (dedup `appendBatch`, BM25
  *    `appendDocsBatch`) are bracketed by ONE ledger protocol
  *    (IndexStore.Ledger, one ledger per index directory): a batch is
  *    readable only once its done row lands, a batch done under an
  *    older version replays as a skip, and a compaction refuses while
  *    a batch is in-flight;
  *  - the clean sink writes batch_id-partitioned parquet with dynamic
  *    overwrite — same rule, so accounting never double-counts;
  *  - the ANN leg uses `upsert`, not `append`: a replayed batch's
  *    upsert tombstones the crashed attempt's rows at a strictly later
  *    generation, so searches serve exactly ONE live copy per vec_id
  *    no matter how many times the batch replays (append would
  *    double-serve — the reason the composed pipeline upserts).
  *
  * `gate` is the map-only screen (the I14 shape —
  * [[Streams.qualityGate]] for the full Gopher-kernel → classifier →
  * BPE battery, or any stateless filter); running it before the
  * dedup screen keeps rejected docs out of the signature index, so
  * gate-failing spam never pollutes dedup state. Both indexes must
  * exist (seed them with `DedupIndex.write` / `AnnIndex.write`);
  * handles re-open per batch, so index maintenance published between
  * batches (versioned CURRENT flips) is picked up at the next batch.
  */
object IngestPipeline {

  /** `bm25IndexDir` (r13, VERDICT r12 item 2): when set, each batch's
    * clean documents are ALSO appended to the persisted lexical index
    * via [[Bm25Index.appendDocsBatch]] — the batch-keyed,
    * dynamic-overwrite form, so a replayed batch REPLACES its crashed
    * attempt's postings/df-delta/meta-delta partitions (plain
    * `appendDocs`'s append mode would double-count every replay).
    * The index must exist (seed it with `Bm25Index.write`); the GEN
    * bump inside the append keeps watching servers fresh per batch.
    *
    * Republish discipline (r14): appendDocsBatch resolves CURRENT at
    * call time, so its replay idempotency is per index VERSION. The
    * batch ledger (IndexStore.Ledger, shared with the dedup leg)
    * enforces the composition:
    * `compactDeltas` refuses to run while a stream batch is in-flight
    * (intent without done), a replay of a batch already complete under
    * an older version is skipped (its rows are folded into the
    * compacted base), and a batch stranded in-flight under an older
    * version throws — so run `Bm25Index.write` (a full republish) only
    * while the stream is stopped or between committed batches.
    *
    * `frequentLinesDir` (r14, VERDICT r13 item 7): when set, the F10
    * mined-boilerplate screen ([[graft.operators.Dedup.dropListedLines]]
    * against the pre-mined (h, line_df) table — mine it once with
    * `Dedup.frequentLines` over a pilot corpus) runs first, BEFORE the
    * gate (see the screen order above): each doc's text is
    * REPLACED by its boilerplate-stripped rebuild, so the gate, the dedup
    * signatures, the clean sink, and both index appends all see
    * clean_text — boilerplate never pollutes near-dup signatures or
    * the lexical postings. A doc whose every line is mined boilerplate
    * vanishes at this stage (nothing content-bearing to ingest), the
    * F10 contract. Replay-safe because the screen is a deterministic
    * function of (batch, mined table); the mined table must therefore
    * stay IMMUTABLE while the stream runs — republish it only between
    * committed batches, like the BM25 index above.
    */
  /** Screen order: the batch's screens are the curation chain's
    * ([[graft.operators.Curation.Chain]]), in the batch pipeline's
    * order: mined boilerplate → `gate` → eval-span scrub. Boilerplate
    * runs BEFORE the gate because padding distorts the statistics the
    * gate reads (a nav-bar-padded doc can clear a word-count gate on
    * padding alone), so a stream and
    * [[graft.operators.Curation.curationPipelineV2]] keep the same docs
    * with the same text. The cost: the screen's doc-keyed rebuild
    * aggregate runs over the whole micro-batch, not over gate survivors
    * only. Both screens hold the chain's NULL contract: a NULL-text
    * doc flows through them as empty text.
    *
    * Exact dedup: the batch chain's one-pass min(struct(id, ...))
    * content-hash dedup does not run per micro-batch; the stream's
    * dedup is the persisted-index screen, which also sees the
    * screened text.
    *
    * `evalScrubDir` (r15, VERDICT r14 item 5): when set, the K37
    * cross-corpus ExactSubstr decontamination
    * ([[graft.operators.Dedup.exactSubstrDecontaminate]] against the
    * immutable eval table at this path — (doc_id, `textCol`) parquet,
    * the benchmark suite) runs after the gate and before the dedup
    * screen: each surviving doc's text is replaced by its scrubbed
    * rebuild, so the dedup signatures, the clean sink, and both index
    * appends never carry a verbatim eval span. A doc whose every token is
    * eval-covered (n_kept = 0 with n_tokens > 0 — pure leaked
    * benchmark) vanishes here, the F10 all-boilerplate rule applied to
    * contamination; empty/NULL-text survivors flow through as
    * empty-text (nothing was leaked). Replay-safe for the same reason
    * as F10: a deterministic function of (batch, eval table) — keep
    * the eval table IMMUTABLE while the stream runs.
    */
  def start(docs: DataFrame, idCol: String, textCol: String,
            gate: DataFrame => DataFrame,
            dedupIndexDir: String, annIndexDir: String, outDir: String,
            threshold: Double = 0.8,
            checkpointDir: String,
            bm25IndexDir: Option[String] = None,
            frequentLinesDir: Option[String] = None,
            evalScrubDir: Option[String] = None): StreamingQuery = {
    // the checkpoint is REQUIRED, not optional: every exactly-once
    // guarantee above keys the dynamic overwrites by batchId, and an
    // uncheckpointed restart renumbers batches from 0 — batch_id=0
    // would overwrite while stale higher partitions double-count, and
    // the dedup index's beforeBatch horizon would shift against its
    // own appends (r11 review finding)
    require(checkpointDir.nonEmpty, "checkpointDir must be non-empty")
    val writer = docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // the screens, in the curation chain's order (see scaladoc)
        val screened = Curation.Chain(textCol, idCol,
          boilerplate = frequentLinesDir.map(spark.read.parquet(_)),
          gate = Some(gate),
          evalScrub = evalScrubDir.map(spark.read.parquet(_)))(batch)
        val gated = screened.persist()
        try {
          val idx = DedupIndex.open(spark, dedupIndexDir)
          val b = batchId + 1L // batch_id 0 is the dedup seed build
          val res = DedupIndex.screenBatch(idx, gated, idCol, textCol,
            threshold, beforeBatch = Some(b))
          try {
            val clean = res.clean.persist()
            try {
              // empty-batch guard: a quiet or fully-filtered batch must
              // not bump the ANN generation, append empty tombstone/
              // sig files, or litter an empty sink partition — 10k idle
              // micro-batches would otherwise grow every future search's
              // file list. Replay-safe: the pipeline is deterministic
              // over checkpointed offsets, so a replayed batch computes
              // the same clean set as its crashed attempt — an
              // empty-clean replay implies the crash also wrote nothing
              // (or an empty partition, which dynamic overwrite leaves
              // semantically empty either way).
              if (!clean.isEmpty) {
                // exactly-once accounting sink: a replay overwrites its
                // own partition, never appends beside it
                clean.withColumn("batch_id", lit(batchId))
                  .write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy("batch_id")
                  .parquet(outDir)
                // replay-idempotent ANN leg (see scaladoc)
                AnnIndex.upsert(AnnIndex.open(spark, annIndexDir),
                  clean.select(col(idCol).as("vec_id"), col("embedding")))
                DedupIndex.appendBatch(idx, res.cleanSigs, b)
                // replay-idempotent lexical leg (r13): batch-keyed
                // dynamic overwrite — see the bm25IndexDir scaladoc
                bm25IndexDir.foreach { bdir =>
                  Bm25Index.appendDocsBatch(
                    Bm25Index.open(spark, bdir), clean, idCol, textCol,
                    batchId)
                }
              }
            } finally clean.unpersist()
          } finally res.release()
        } finally gated.unpersist()
    }
    writer.option("checkpointLocation", checkpointDir).start()
  }
}
