package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All of these are pure `org.apache.spark.sql.functions` compositions
  * (whole-stage-codegen'd, no UDFs) so they run at full scan speed and
  * distribute trivially: each is a narrow map over the documents scan.
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-ish token estimate: unicode chars / 4, the standard rough
    * chars-per-token heuristic, as ceil(len/4).
    */
  def tokenCountBpe(text: Column): Column =
    ceil(length(text).cast(DoubleType) / 4.0).cast(LongType)

  /** Count non-overlapping occurrences of `needle` in `'  '+text+' '`
    * padded with spaces — the replace-length trick, chosen because it
    * mirrors exactly into ANSI SQL for the DuckDB oracle.
    */
  def paddedCount(text: Column, needle: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val tok = s" $needle "
    ((length(padded) - length(replace(padded, lit(tok), lit(""))))
      / tok.length).cast(LongType)
  }

  /** Stopword-marker language ID. A tiny deterministic classifier:
    * argmax of per-language stopword hit counts, 'unk' when no marker
    * hits. Ties broken in fixed language order (en,es,de,fr).
    * Real-world quality comes from bigger marker sets; the operator
    * shape (pure column expr, no shuffle) is the point at 100 TB.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "les", "et", "une"))

  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, ms) =>
      lang -> ms.map(m => paddedCount(text, m)).reduce(_ + _)
    }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("unk"): Column) { case ((lang, s), elseC) =>
      when(s === best && s > 0, lit(lang)).otherwise(elseC)
    }
  }

  /** Quality score in [0,1]: blend of length band, alpha ratio and
    * stopword density — the usual cheap pre-filter before expensive
    * dedup/classification stages.
    */
  def qualityParts(text: Column): (Column, Column, Column) = {
    val len = length(text).cast(DoubleType)
    val nSpace = (length(text) - length(replace(text, lit(" "), lit("")))).cast(DoubleType)
    val nTok = nSpace + 1.0
    val avgTokLen = (len - nSpace) / nTok
    val stop = paddedCount(text, "the").cast(DoubleType) / nTok
    (len, avgTokLen, stop)
  }

  def qualityScore(text: Column): Column = {
    val (len, avgTokLen, stop) = qualityParts(text)
    val lenScore = least(len / 500.0, lit(1.0))
    val tokScore = when(avgTokLen >= 3.0 && avgTokLen <= 8.0, 1.0).otherwise(0.5)
    val stopScore = least(stop * 10.0, lit(1.0))
    lenScore * 0.4 + tokScore * 0.3 + stopScore * 0.3
  }

  /** Stopwords for the H16 rule battery (the classic
    * "contains at least 2 of" presence screen).
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style rule battery (H16): the named per-document screens
    * of the classic rule-based quality filter — word-count band, mean
    * word length band, symbol-to-word ratio (# and ellipses), bullet /
    * ellipsis line fractions, alphabetic-word fraction, stopword
    * presence — each emitted as its measured statistic AND its boolean
    * flag, plus the conjunction `pass`. Unlike [[qualityScore]]'s
    * blended scalar, per-rule flags are what a curation pipeline
    * actually routes on (drop vs review vs keep) and what makes filter
    * decisions auditable.
    *
    * Pure column expressions over one scan — split/filter/aggregate
    * higher-order functions, no explode, no shuffle, codegen end to
    * end — so the battery runs at scan speed on 100 TB like the rest
    * of this file. Ratios are rounded to 6 dp BEFORE flag comparison
    * so the flags are bit-deterministic cross-engine.
    */
  /** The H16 statistics as raw column expressions (shared by the
    * audit-table form and the pipeline filter form).
    */
  private case class GopherStats(nWords: Column, meanWordLen: Column,
      symbolRatio: Column, alphaFrac: Column, bulletFrac: Column,
      ellipsisFrac: Column, nStop: Column)

  private def gopherStatCols(t: Column): GopherStats = {
    // whitespace-CLASS split (space, tab, newline, VT, FF, CR — the
    // Java regex \s set, mirrored as an explicit class so the RE2
    // oracle matches byte-for-byte): newline-wrapped prose must not
    // merge tokens across line breaks (r8 review finding)
    val words = filter(split(t, "[ \\t\\n\\x0B\\f\\r]+"), w => w =!= lit(""))
    val lines = filter(split(t, "\n"), l => l =!= lit(""))
    val nWords = size(words).cast(LongType)
    val nLines = size(lines).cast(LongType)
    val meanWordLen = when(nWords > 0,
      round(aggregate(words, lit(0L), (a, w) => a + length(w)).cast(DoubleType)
        / nWords.cast(DoubleType), 6)).otherwise(lit(0.0))
    val nHash = (length(t) - length(replace(t, lit("#"), lit("")))).cast(LongType)
    val nDots = ((length(t) - length(replace(t, lit("..."), lit("")))) / 3)
      .cast(LongType)
    val nUell = (length(t) - length(replace(t, lit("…"), lit("")))).cast(LongType)
    val symbolRatio = when(nWords > 0,
      round((nHash + nDots + nUell).cast(DoubleType) / nWords.cast(DoubleType), 6))
      .otherwise(lit(0.0))
    val alphaFrac = when(nWords > 0,
      round(size(filter(words, w => w.rlike("[A-Za-z]"))).cast(DoubleType)
        / nWords.cast(DoubleType), 6)).otherwise(lit(0.0))
    val bulletFrac = when(nLines > 0,
      round(size(filter(lines,
        l => substring(ltrim(l), 1, 1).isin("-", "*", "•"))).cast(DoubleType)
        / nLines.cast(DoubleType), 6)).otherwise(lit(0.0))
    val ellipsisFrac = when(nLines > 0,
      round(size(filter(lines,
        l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
        .cast(DoubleType) / nLines.cast(DoubleType), 6)).otherwise(lit(0.0))
    val nStop = gopherStopwords
      .map(s => when(paddedCount(t, s) > 0, 1L).otherwise(0L))
      .reduce(_ + _).cast(LongType)
    GopherStats(nWords, meanWordLen, symbolRatio, alphaFrac, bulletFrac,
      ellipsisFrac, nStop)
  }

  /** `useKernel = true` (r9): the same audit relation from the
    * single-scan native kernel (functions.GopherStatsExpr) — the
    * column battery re-splits the document once per statistic
    * (higher-order functions sit outside codegen subexpression
    * elimination), so audits over big corpora pay ~7× scan cost for
    * identical output. Spec-pinned equal row-for-row; the gate keeps
    * the column form (its full SQL mirror IS the oracle).
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L,
                  useKernel: Boolean = false): DataFrame = {
    if (useKernel) {
      import graft.functions.{exprs, GopherStatsExpr}
      return df.select(col(idCol).as("doc_id"),
          exprs.toColumn(GopherStatsExpr(exprs.toExpr(col(textCol)),
            minWords, maxWords)).as("__g"))
        .select(col("doc_id"), col("__g.*"))
    }
    val s = gopherStatCols(col(textCol))
    df.select(col(idCol).as("doc_id"),
        s.nWords.as("n_words"), s.meanWordLen.as("mean_word_len"),
        s.symbolRatio.as("symbol_ratio"), s.alphaFrac.as("alpha_frac"),
        s.bulletFrac.as("bullet_frac"), s.ellipsisFrac.as("ellipsis_frac"),
        s.nStop.as("n_stop"))
      .withColumn("r_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_word_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("r_bullet", col("bullet_frac") <= 0.9)
      .withColumn("r_ellipsis", col("ellipsis_frac") <= 0.3)
      .withColumn("r_alpha", col("alpha_frac") >= 0.8)
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("pass",
        col("r_words") && col("r_word_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stop"))
  }

  /** The H16 conjunction as ONE reusable map-only predicate — the form
    * a composed pipeline filters on when it doesn't need the per-rule
    * audit columns. Backed by the single-pass native kernel
    * (functions.GopherPass): the column battery re-splits the document
    * once per statistic because higher-order functions sit outside
    * codegen subexpression elimination; the kernel computes every
    * statistic in one scan with no intermediate arrays (~25× at sf3).
    * TextAnalysisSpec pins kernel == [[gopherRules]].`pass` row-for-row
    * on the corpus and on adversarial planted edge cases.
    */
  def gopherPass(text: Column, minWords: Long = 50L,
                 maxWords: Long = 100000L, minStop: Long = 2L): Column = {
    import graft.functions.{exprs, GopherPass}
    exprs.toColumn(GopherPass(exprs.toExpr(text), minWords, maxWords,
      minStop))
  }

  /** Per-document mean unigram surprisal −mean(ln p(token)), with
    * p estimated from the corpus itself — the cheap stand-in for the
    * KenLM-perplexity quality filter (CCNet-style): documents made of
    * corpus-typical tokens score low, token-salad scores high.
    *
    * Tokenize-once shape: the corpus is scanned and exploded exactly
    * once into per-(doc, term) counts; corpus term frequencies, the
    * corpus total and per-doc lengths are all re-aggregations of that
    * relation (vocabulary-sized — no second pass over the raw text).
    * The mean is computed as Σ tf_dt·(−ln p_t) / n_d with each term's
    * contribution rounded to 6 dp and decimal-summed, so the reduction
    * is order-independent and engine-exact — stronger than the
    * rounded-double-avg contract it replaces.
    */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dt = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf_dt"))
    val tf = dt.groupBy("term").agg(sum(col("tf_dt")).as("tf"))
    val total = tf.agg(sum(col("tf")).as("n_total"))
    // r16 MEASURED NEGATIVE (kept for the record): a shuffle_hash hint
    // on the vocab-bounded tf side — rationale was dropping the
    // sort-merge's sort of the corpus (doc, term) relation — measured
    // 3.24 s vs 2.92 s warm at sf3 on a quiet box (solo A/B, reps 3)
    // and grew the static plan by one exchange. The planner's SMJ
    // amortizes its sort across the downstream doc_id aggregate
    // better than the hash build pays off at this vocab size. Plain
    // join stands.
    dt.join(tf, "term").join(broadcast(total))
      .withColumn("c",
        round(col("tf_dt").cast(DoubleType)
          * -log(col("tf").cast(DoubleType) / col("n_total").cast(DoubleType)),
          6).cast(DecimalType(28, 6)))
      .groupBy("doc_id")
      .agg(sum(col("tf_dt")).as("n_tokens"),
        round(sum(col("c")).cast(DoubleType)
          / sum(col("tf_dt")).cast(DoubleType), 6).as("surprisal"))
  }

  /** Unicode NFC normalization + whitespace collapse — the canonical
    * first step of a text-curation pipeline (the reference's
    * `utf8_normalize` kernel followed by trim). Native expression, so
    * the whole cleanup stays one codegen'd map over the scan.
    */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column = {
    import graft.functions.{exprs, UnicodeNormalize}
    exprs.toColumn(UnicodeNormalize(exprs.toExpr(text), form))
  }

  def normalizeText(text: Column, form: String = "NFC"): Column =
    trim(regexp_replace(unicodeNormalize(text, form), "\\s+", " "))

  /** Deflated byte size of the text (native codegen kernel). */
  def deflateSize(text: Column): Column = {
    import graft.functions.{exprs, DeflateSize}
    exprs.toColumn(DeflateSize(exprs.toExpr(text)))
  }

  /** Compression-ratio quality signal (H13): deflated / raw UTF-8
    * bytes. Low-entropy text (boilerplate, template spam, repetition)
    * lands far below natural prose — the CCNet/Gopher-style screen
    * that needs no tokenizer, no vocabulary, and one codegen'd pass
    * over the scan. Deterministic (fixed deflate level, raw stream),
    * so it composes with the hash-keyed sampling/split family.
    */
  def compressionRatio(text: Column): Column =
    deflateSize(text).cast(org.apache.spark.sql.types.DoubleType) /
      octet_length(text).cast(org.apache.spark.sql.types.DoubleType)

  /** PII redaction: emails, North-American phone numbers and IPv4
    * addresses replaced with typed placeholder tags. Patterns are
    * deliberately RE2-compatible (no lookarounds, no backrefs) so the
    * same regexes run in Spark (java.util.regex) and the DuckDB
    * oracle (RE2) with identical semantics. Order matters: emails are
    * scrubbed before phones/IPs so their digit runs can't be
    * re-matched inside an address.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, ipv4Re, "<IP>")
    regexp_replace(noIp, phoneRe, "<PHONE>")
  }

  /** Per-kind redaction counts (same pattern order as redactPii). */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val noEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, ipv4Re, "<IP>")
    Seq(
      "n_emails" -> regexp_count(text, lit(emailRe)).cast(LongType),
      "n_ips" -> regexp_count(noEmail, lit(ipv4Re)).cast(LongType),
      "n_phones" -> regexp_count(noIp, lit(phoneRe)).cast(LongType))
  }

  /** URL canonicalization (H10): the dedup key a web-corpus pipeline
    * derives before exact dedup. Fragment stripped; scheme and
    * authority lowercased (the path stays case-sensitive per
    * RFC 3986); default ports (:80/:443) and a leading `www.`
    * dropped; tracking parameters (utm_*, fbclid, gclid) removed with
    * separator cleanup (`?&&x` → `?x`, trailing `?`/`&` trimmed).
    * Every step is an RE2-compatible regex (no lookarounds, no
    * backrefs), so the identical patterns run in Spark and the DuckDB
    * oracle. Pure narrow map — the whole cleanup is one codegen stage
    * over the scan.
    */
  val urlTrackingRe = "(utm_[a-z]+|fbclid|gclid)=[^&]*"

  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val pre = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)
    val preCanon = regexp_replace(
      regexp_replace(lower(pre), "://www\\.", "://"), ":(80|443)$", "")
    val rest = noFrag.substr(length(pre) + 1, length(noFrag))
    val restCanon = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(rest, urlTrackingRe, ""),
      "\\?&+", "?"), "&&+", "&"), "[?&]+$", "")
    concat(preCanon, restCanon)
  }

  /** host / registrable-domain-ish suffix / path of a canonical URL
    * (the group-by keys of per-site corpus stats). "Domain" is the
    * last two host labels — real pipelines substitute a public-suffix
    * list; the two-label fallback is the deterministic,
    * oracle-mirrorable core.
    */
  def urlParts(canon: Column): Seq[(String, Column)] = {
    val host = regexp_extract(canon, "://([^/?:]+)", 1)
    Seq(
      "host" -> host,
      "domain" -> regexp_extract(host, "([^.]+\\.[^.]+)$", 1),
      "path" -> regexp_extract(canon, "://[^/?]*(/[^?]*)", 1))
  }

  /** Top next-token continuations (H11): the bigram conditional
    * P(w2|w1) table, the count-based n-gram language-model building
    * block (and the data behind repeated-template detection). Pair
    * extraction is a narrow zip_with of the token array against its
    * own tail — no self-join, no extra shuffle; counting is one
    * (w1,w2)-keyed aggregation with map-side combine; head totals and
    * ranks ride one w1-keyed window pass. Everything after the first
    * agg is vocabulary²-bounded, far below corpus size at any scale.
    * `minHeadCount` keeps only statistically meaningful heads.
    */
  def bigramNextTokens(df: DataFrame, textCol: String, k: Int = 3,
                       minHeadCount: Long = 20L): DataFrame = {
    require(k > 0 && minHeadCount >= 0, s"bad k=$k / minHeadCount=$minHeadCount")
    // r16: native BigramPairs generator — the zip_with(slice, slice) →
    // struct → explode chain was ~90% of q_bigram_lm at sf3 (OPTIMIZATION_r16.md:
    // blm_pairs 5.08 s vs blm_tokens 0.63 s); same (w1, w2) rows
    val pairs = df.select(graft.functions.exprs.toColumn(
      graft.functions.BigramPairs(
        graft.functions.exprs.toExpr(tokens(col(textCol)))))
      .as(Seq("w1", "w2")))
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val byHead = Window.partitionBy("w1")
    counts
      .withColumn("cnt_w1", sum(col("cnt")).over(byHead))
      .withColumn("rk",
        row_number().over(byHead.orderBy(col("cnt").desc, col("w2"))))
      .where(col("rk") <= k && col("cnt_w1") >= minHeadCount)
      .select(col("w1"), col("w2"), col("cnt"), col("cnt_w1"),
        round(col("cnt").cast(DoubleType) / col("cnt_w1").cast(DoubleType), 6)
          .as("p_next"),
        col("rk").cast(LongType).as("rk"))
  }

  /** Doc-level bigram LM score (H14): mean −ln of the add-k-smoothed
    * corpus bigram probability over a document's own bigrams — the
    * CCNet-style "LM perplexity" quality filter, with the corpus
    * itself as the LM (no external model in this container). Typical
    * prose scores low; token salad and out-of-distribution boilerplate
    * score high. Composes H11's count table into a per-document
    * screen.
    *
    * p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V), V = #distinct heads.
    * Counts are exact integers, k exact in binary (default 0.5), each
    * −ln contribution is rounded 6 dp and decimal-summed, and the mean
    * is one exact division rounded 6 dp — the H7 surprisal contract.
    *
    * Plan: the (doc, w1, w2) relation is built once per branch by a
    * narrow zip_with (no self-join); stats are map-side-combined
    * groupBys (count tables are vocab²-bounded), reattached by
    * (w1,w2)- and w1-keyed joins — hash joins AQE can skew-split,
    * deliberately NOT hot-head windows (the K15 lesson: a window
    * partition on 'the' cannot be split).
    */
  private def bigramPairs(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    // r16: native BigramPairs generator (see bigramNextTokens) — the
    // HOF chain it replaces dominated BOTH halves of
    // q_bigram_perplexity (stats build AND scoring pass, OPTIMIZATION_r16.md)
    docs.select(col(idCol).as("doc_id"),
      graft.functions.exprs.toColumn(graft.functions.BigramPairs(
        graft.functions.exprs.toExpr(tokens(col(textCol)))))
        .as(Seq("w1", "w2")))

  /** The trained LM half of [[bigramDocScore]]: one (w1, w2, c12, c1,
    * v) relation — vocab²-bounded, so the per-head window runs over
    * distinct pairs (no hot-head corpus window). Train once per corpus
    * version and persist/memoize; every scoring pass then pays one
    * probe scan, the IVF train/search split applied to the LM.
    */
  def bigramStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cPair = bigramPairs(docs, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    cPair
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
      .crossJoin(broadcast(cPair.agg(countDistinct(col("w1")).as("v"))))
  }

  def bigramDocScore(docs: DataFrame, idCol: String, textCol: String,
                     k: Double = 0.5,
                     stats: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"smoothing k must be positive: $k")
    val st = stats.getOrElse(bigramStats(docs, idCol, textCol))
    // v rides every stats row; lift it to a broadcast scalar so UNSEEN
    // bigrams — the whole point of scoring NEW docs against pretrained
    // stats — still receive their smoothed probability k/(c1+k·V)
    // instead of silently dropping out of an inner join
    val vScalar = broadcast(st.agg(max(col("v")).as("v")))
    // a bigram with a SEEN head but novel continuation must take c1
    // from a HEAD table (p = k/(c1+k·V)), not coalesce c1 to 0 — the
    // (w1,w2)-only join understated nll for docs mixing seen heads
    // with new continuations.
    // r15 (guide §1.2): ONE scoring pass. The previous seen/unseen
    // union recomputed the corpus tokenize+explode+probe for each
    // branch (two full passes of the expensive half). Joining the
    // vocab-bounded head table unconditionally costs one extra
    // broadcast probe per bigram and drops the second pass. Identity:
    // for a SEEN pair the head join returns the same c1 the pair join
    // carried (both are the head total), so taking c1 from the head
    // side everywhere — and c12 = 0 where the pair join missed — is
    // row-for-row what the union produced (the final aggregate is
    // count + an order-independent DECIMAL sum, so branch order never
    // mattered).
    val heads = st.groupBy("w1").agg(max(col("c1")).as("c1h"))
    bigramPairs(docs, idCol, textCol)
      .join(st.select("w1", "w2", "c12"), Seq("w1", "w2"), "left")
      .join(heads, Seq("w1"), "left")
      .crossJoin(vScalar)
      .withColumn("c12", coalesce(col("c12"), lit(0L)))
      .withColumn("c1", coalesce(col("c1h"), lit(0L)))
      .withColumn("nll",
        round(-log((col("c12") + lit(k)) / (col("c1") + lit(k) * col("v"))), 6)
          .cast(DecimalType(28, 6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nll")).cast(DoubleType) / count(lit(1)), 6)
          .as("avg_nll"))
  }

  /** Content-defined chunks of the text (native CdcChunks kernel). */
  def cdcChunks(text: Column, targetSize: Int = 64, minSize: Int = 16,
                maxSize: Int = 256): Column = {
    import graft.functions.{exprs, CdcChunks}
    exprs.toColumn(CdcChunks(exprs.toExpr(text), targetSize, minSize, maxSize))
  }

  /** Content-defined chunking (H15): one row per chunk, boundaries
    * chosen by a rolling hash of the text itself — so an insertion or
    * deletion shifts only the chunks around the edit and every chunk
    * after it stays byte-identical. The chunker to put in front of F9
    * chunk-hash dedup when documents are re-crawled/re-encoded with
    * small edits: fixed windows (H6) would mis-align every chunk after
    * the edit and recognize nothing. Narrow map + posexplode, no
    * shuffle.
    */
  def chunkDocsCdc(docs: DataFrame, idCol: String, textCol: String,
                   targetSize: Int = 64, minSize: Int = 16,
                   maxSize: Int = 256): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(cdcChunks(col(textCol), targetSize, minSize, maxSize))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("chunk"), length(col("chunk")).cast(LongType).as("n_chunk_chars"))

  /** Content fingerprint: md5 of lowercased text (hex). Identical
    * builtin exists in DuckDB, so exact-dedup results are
    * oracle-checkable end to end.
    */
  def fingerprintMd5(text: Column): Column = md5(lower(text))

  /** Rolling polynomial hash (base 31, mod 2^61-1) over characters —
    * the classic Rabin-Karp document fingerprint; spec-tested (not
    * SQL-mirrorable). Uses aggregate() over the char codes: stays in
    * codegen, no UDF.
    */
  def fingerprintRolling(text: Column): Column = {
    val mod = 2305843009213693951L // 2^61-1
    val codes = transform(split(text, ""), ch => ascii(ch).cast(LongType))
    aggregate(codes, lit(0L),
      (acc, c) => pmod(acc * 31L + c, lit(mod)))
  }

  /** Fixed-size token chunking with overlap — the standard prep step
    * before tokenizer/packing stages in a training pipeline. Chunk
    * starts advance by (size - overlap); the trailing chunk may be
    * short. Narrow map + explode: distributes as a flat map, no
    * shuffle.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkSize: Int = 32, overlap: Int = 8): DataFrame = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val stride = chunkSize - overlap
    val toks = tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        explode(sequence(lit(0), greatest(size(col("t")) - 1, lit(0)), lit(stride)))
          .as("s0"), col("t"))
      .select(col("doc_id"),
        (col("s0") / stride).cast(LongType).as("chunk_idx"),
        concat_ws(" ", slice(col("t"), col("s0") + 1, lit(chunkSize))).as("chunk"),
        least(size(col("t")) - col("s0"), lit(chunkSize)).cast(LongType).as("n_chunk_tokens"))
  }

  /** BPE tokenizer training (H17): learn `numMerges` byte-pair merges
    * from the corpus (Sennrich et al., ACL 2016) — the tokenizer-
    * construction pass every LM data pipeline runs before token
    * budgeting. The Spark half is ONE tokenize+count scan collapsed
    * to the (word, freq) vocabulary, capped at the `maxWords` most
    * frequent words (deterministic count-desc/word tiebreak) — the
    * head of the Zipf curve carries virtually all pair mass, which is
    * why capped-vocab training is the standard practice. The capped
    * table collects to the driver (bounded, the centroid-matrix
    * sanction) and the merge loop itself is pure JVM arithmetic —
    * no per-iteration Spark jobs, so `numMerges` is free of cluster
    * round-trips. Returns merges in rank order.
    */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int = 200,
               maxWords: Int = 65536): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1: $maxWords")
    val vocab = termFrequencies(df, textCol)
      .orderBy(col("cnt").desc, col("term"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.functions.BpeRuntime.train(vocab, numMerges)
  }

  /** Apply learned BPE merges to one pre-tokenized word → its subword
    * array (map-only; the bounded merge table rides the serialized
    * expression like the PQ codebooks).
    */
  def bpeEncodeWord(word: Column, merges: Seq[(String, String)]): Column = {
    import graft.functions.{exprs, BpeEncode}
    exprs.toColumn(BpeEncode(exprs.toExpr(word), merges))
  }

  /** Apply learned BPE merges to a whole text column → the document's
    * subword token array. Pre-tokenization is [[tokens]] (trim, lower,
    * whitespace split) — the same normalization every other text
    * operator keys on — then per-word kernel encoding, flattened.
    * Word boundaries are hard: tokens never span words.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(filter(tokens(text), w => w =!= ""),
      w => bpeEncodeWord(w, merges)))

  /** Term frequencies: explode + count. Map-side combine makes this a
    * single shuffle keyed by term; vocabulary is much smaller than the
    * corpus at any scale.
    */
  def termFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** Okapi BM25 ranking of every document against a fixed bag of query
    * terms — the lexical half of a retrieval stack (the classic
    * tf-idf-family relevance the reference's users run via
    * `pyarrow`-backed search engines).
    *
    * Query terms are normalized like corpus [[tokens]] (lowercased,
    * whitespace-trimmed); a term that is empty or still holds
    * whitespace after that can never match a token, so it is rejected.
    *
    * Plan: [[Bm25.bagPostings]]'s two lazy corpus passes, both in-plan
    * — the bag-filtered tf relation and the broadcast statistics row
    * (df for the bag plus the corpus scalars) — then one doc-keyed
    * aggregate and a TakeOrderedAndProject (per-partition top-k +
    * driver merge), never a full sort. Nothing windows over term.
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                 topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.map { t =>
      val n = t.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("^\\s+|\\s+$", "")
      require(n.matches("\\S+"),
        s"query term must be one non-empty token: '$t'")
      n
    }.distinct
    import df.sparkSession.implicits._
    Bm25.bagPostings(df, idCol, textCol, terms.toDF("term"))
      .withColumn("s", Bm25.termScore(k1, b))
      .groupBy("doc_id")
      .agg(sum(col("s")).cast(DoubleType).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Multi-query BM25 retrieval (query-by-example): each query row's
    * distinct tokens form its term bag; candidates are corpus documents
    * sharing at least one term, scored per (query, candidate) and
    * ranked within the query. The query set is bounded (it is the thing
    * a user types or the handful of eval documents), so it broadcasts;
    * the corpus-side work is [[Bm25.bagPostings]]'s two lazy passes,
    * and the per-term join fan-out is the inverted-index posting-list
    * size — never all-pairs over documents. Self-matches are excluded.
    */
  def bm25Retrieve(corpus: DataFrame, queries: DataFrame,
                   idCol: String, textCol: String,
                   k1: Double = 1.2, b: Double = 0.75,
                   topK: Int = 20): DataFrame = {
    val qt = Bm25.queryTerms(queries, idCol, textCol)
    Bm25.rank(Bm25.bagPostings(corpus, idCol, textCol, qt.select("term")),
      qt, k1, b, topK)
  }

  /** HTML → text extraction (H19, round 11) — the step a crawl
    * pipeline runs before EVERY text screen in this file: strip
    * comments and script/style blocks, turn block-boundary tags into
    * newlines (so F10/F11 line dedup and the Gopher line statistics
    * see real line structure), drip the remaining tags, decode the
    * basic entities, and normalize whitespace per line.
    *
    * Deliberately a REGEX STRIPPER, not an HTML5 tree parser: every
    * stage is a codegen'd builtin (`regexp_replace`/`replace`) with an
    * RE2-compatible pattern, so the identical chain runs digit-for-
    * digit in DuckDB (the H9/H10 oracle discipline) and the whole
    * operator is one narrow map — no UDF, no shuffle, pipelines inside
    * whatever scan the caller pays, at any corpus scale.
    *
    * Documented semantics (the standard stripper conventions):
    *  - `<script>`/`<style>` bodies and `<!-- -->` comments vanish
    *    (lazy match per block; an UNCLOSED block survives to the tag
    *    stripper, which removes its tags but keeps its text);
    *  - `<br>` and CLOSING block tags (p/div/li/h1-6/tr/ul/ol/table)
    *    become newlines; every other `<...>` run becomes a space — a
    *    bare `<` in text is treated as a tag opener until the next
    *    `>`, exactly as in every regex stripper;
    *  - entities: the named/numeric basics (nbsp, lt, gt, quot,
    *    apos + their codepoints), with the ampersand decoded LAST so
    *    `&amp;lt;` yields the literal text `&lt;` (correct HTML
    *    semantics); `&amp;` and `&#38;` decode in ONE alternation
    *    pass (r12), so `&amp;#38;` yields the literal `&#38;` instead
    *    of double-decoding — chained replaces had that hole in either
    *    order; other entities pass through untouched;
    *  - within-line whitespace collapses to single spaces, lines trim,
    *    empty lines drop. NOT idempotent by design: decoded `&lt;`
    *    becomes a literal `<` that a second pass would strip.
    */
  def htmlToText(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment,
      "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val blocks = regexp_replace(noStyle,
      "(?i)<(?:br\\s*/?|/(?:p|div|li|h[1-6]|tr|ul|ol|table|title))\\s*>",
      "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    // basics first, ampersand LAST (so "&amp;lt;" decodes to literal
    // "&lt;"). The two ampersand spellings decode in ONE alternation
    // pass (r12): chained replaces had an order hole either way —
    // "&amp;#38;" double-decoded to "&" under amp-then-numeric (and
    // "&#38;amp;" would under the swap) — while a single left-to-right
    // scan consumes "&amp;" and leaves the following "#38;" as text.
    val ent = Seq(
      "&nbsp;" -> " ", "&#160;" -> " ",
      "&lt;" -> "<", "&#60;" -> "<",
      "&gt;" -> ">", "&#62;" -> ">",
      "&quot;" -> "\"", "&#34;" -> "\"",
      "&apos;" -> "'", "&#39;" -> "'")
      .foldLeft(noTags) { case (c, (from, to)) =>
        replace(c, lit(from), lit(to))
      }
    val entAmp = regexp_replace(ent, "&(?:amp|#38);", "&")
    val spaced = regexp_replace(entAmp, "[ \\t\\x0B\\f\\r]+", " ")
    array_join(
      filter(transform(split(spaced, "\n"), l => trim(l)), l => l =!= ""),
      "\n")
  }
}
