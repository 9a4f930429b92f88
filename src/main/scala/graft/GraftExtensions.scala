package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, HyperplaneBucket, LshBandKeys, MinHashSignature, ShingleSet, SimHash64, TensorPack, TensorUnpack, UnitNorm}

/** SparkSessionExtensions installer: exposes graft's native
  * expressions to SQL. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `withExtensions(new GraftExtensions)` — after which
  * `SELECT minhash_sig(shingles, 64)`, `simhash64(tokens)`,
  * `tensor_pack(t)`, `tensor_unpack(b)` work from plain SQL. It also
  * installs the planner rules in `graft.plans`: `CodecElimination`
  * and `SortedCollect`, which plans the sort at the root of an answer
  * as per-partition sorts merged on the driver.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.CodecElimination)
    ext.injectPlannerStrategy(_ => graft.plans.SortedCollect)
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(arr[, numPerm]) - minhash signature of a string array"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => MinHashSignature(a, 64)
        case Seq(a, n) if n.foldable => n.eval() match {
          case i: java.lang.Number => MinHashSignature(a, i.intValue())
          case other => throw new IllegalArgumentException(
            s"minhash_sig: numPerm must be an integer literal, got $other")
        }
        case _ => throw new IllegalArgumentException(
          "minhash_sig(arr[, numPerm]) — numPerm must be a literal")
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(arr) - 64-bit simhash of a string array"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => SimHash64(a)
        case _ => throw new IllegalArgumentException("simhash64(arr)")
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_set"),
      info("shingle_set", "shingle_set(arr[, n]) - distinct word n-gram shingles of a token array"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => ShingleSet(a, 3)
        case Seq(a, n) if n.foldable => n.eval() match {
          case i: java.lang.Number => ShingleSet(a, i.intValue())
          case other => throw new IllegalArgumentException(
            s"shingle_set: n must be an integer literal, got $other")
        }
        case _ => throw new IllegalArgumentException(
          "shingle_set(arr[, n]) — n must be a literal")
      }))
    ext.injectFunction((
      FunctionIdentifier("lsh_band_keys"),
      info("lsh_band_keys", "lsh_band_keys(sig, bands) - per-band bucket hashes of a minhash signature"),
      (args: Seq[Expression]) => args match {
        case Seq(a, n) if n.foldable => n.eval() match {
          case i: java.lang.Number => LshBandKeys(a, i.intValue())
          case other => throw new IllegalArgumentException(
            s"lsh_band_keys: bands must be an integer literal, got $other")
        }
        case _ => throw new IllegalArgumentException(
          "lsh_band_keys(sig, bands) — bands must be a literal")
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - double dot product of two float/double arrays"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException("dot_product(a, b)")
      }))
    ext.injectFunction((
      FunctionIdentifier("l2_distance"),
      info("l2_distance", "l2_distance(a, b) - Euclidean distance of two float/double arrays"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => graft.functions.L2Distance(a, b)
        case _ => throw new IllegalArgumentException("l2_distance(a, b)")
      }))
    ext.injectFunction((
      FunctionIdentifier("unicode_normalize"),
      info("unicode_normalize",
        "unicode_normalize(str[, form]) - Unicode normalization (NFC default; NFD/NFKC/NFKD)"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => graft.functions.UnicodeNormalize(a)
        case Seq(a, f) =>
          val form = f match {
            case org.apache.spark.sql.catalyst.expressions.Literal(s, _)
                if s != null => s.toString
            case _ => throw new IllegalArgumentException(
              "unicode_normalize form must be a string literal")
          }
          graft.functions.UnicodeNormalize(a, form)
        case _ => throw new IllegalArgumentException("unicode_normalize(str[, form])")
      }))
    ext.injectFunction((
      FunctionIdentifier("cdc_chunks"),
      info("cdc_chunks",
        "cdc_chunks(str[, target, min, max]) - content-defined chunks (rolling-hash boundaries)"),
      (args: Seq[Expression]) => {
        def lit(e: Expression, what: String): Int =
          if (e.foldable) e.eval() match {
            case n: java.lang.Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"cdc_chunks $what must be an integer literal, got $other")
          } else throw new IllegalArgumentException(
            s"cdc_chunks $what must be a literal")
        args match {
          case Seq(a) => graft.functions.CdcChunks(a)
          case Seq(a, t, mn, mx) => graft.functions.CdcChunks(a,
            lit(t, "target"), lit(mn, "min"), lit(mx, "max"))
          case _ => throw new IllegalArgumentException(
            "cdc_chunks(str[, target, min, max])")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("deflate_size"),
      info("deflate_size",
        "deflate_size(str) - deflated byte size of the UTF-8 text (compression-ratio quality signal)"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => graft.functions.DeflateSize(a)
        case _ => throw new IllegalArgumentException("deflate_size(str)")
      }))
    ext.injectFunction((
      FunctionIdentifier("unit_norm"),
      info("unit_norm", "unit_norm(a) - unit-L2-normalized copy of a float array"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => UnitNorm(a)
        case _ => throw new IllegalArgumentException("unit_norm(a)")
      }))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_bucket"),
      info("hyperplane_bucket", "hyperplane_bucket(vec, planes[, seed]) - LSH sign-pattern bucket of a float array"),
      (args: Seq[Expression]) => {
        def lit(e: Expression, what: String): Int =
          if (e.foldable) e.eval() match {
            case i: java.lang.Number => i.intValue()
            case other => throw new IllegalArgumentException(
              s"hyperplane_bucket: $what must be an integer literal, got $other")
          } else throw new IllegalArgumentException(
            s"hyperplane_bucket: $what must be a literal")
        args match {
          case Seq(a, p) => HyperplaneBucket(a, lit(p, "planes"))
          case Seq(a, p, s) => HyperplaneBucket(a, lit(p, "planes"), lit(s, "seed"))
          case _ => throw new IllegalArgumentException(
            "hyperplane_bucket(vec, planes[, seed])")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("pq_adc"),
      info("pq_adc", "pq_adc(codes, lut) - product-quantization asymmetric-distance sum: lut[m*ncodes + codes[m]] over subspaces"),
      (args: Seq[Expression]) => args match {
        case Seq(c, l) => graft.functions.PqAdc(c, l)
        case _ => throw new IllegalArgumentException("pq_adc(codes, lut)")
      }))
    ext.injectFunction((
      FunctionIdentifier("tensor_pack"),
      info("tensor_pack", "tensor_pack(struct<shape,data>) - serialize tensor to binary"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => TensorPack(a)
        case _ => throw new IllegalArgumentException("tensor_pack(t)")
      }))
    ext.injectFunction((
      FunctionIdentifier("tensor_unpack"),
      info("tensor_unpack",
        "tensor_unpack(binary[, dtype]) - deserialize tensor binary " +
          "(dtype: float32|float64|int32|int64, default float32)"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => TensorUnpack(a)
        case Seq(a, d) =>
          val dtype = d match {
            case org.apache.spark.sql.catalyst.expressions.Literal(s, _)
                if s != null => s.toString
            case _ => throw new IllegalArgumentException(
              "tensor_unpack dtype must be a string literal")
          }
          TensorUnpack(a, graft.functions.TensorCodec.elemOf(dtype))
        case _ => throw new IllegalArgumentException("tensor_unpack(b[, dtype])")
      }))
    // sketch probes (B9/B10): query serialized count-min / bloom
    // sketches row-by-row; bloom_agg exposes the internal
    // runtime-filter aggregate (build over xxhash64(col))
    ext.injectFunction((
      FunctionIdentifier("cms_estimate"),
      info("cms_estimate", "cms_estimate(sketch, item) - estimated count of item in a count_min_sketch() result"),
      (args: Seq[Expression]) => args match {
        case Seq(s, i) => graft.functions.CmsEstimate(s, i)
        case _ => throw new IllegalArgumentException("cms_estimate(sketch, item)")
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain", "bloom_might_contain(filter, item) - membership probe of a bloom_agg() result (item = xxhash64 of the key)"),
      (args: Seq[Expression]) => args match {
        case Seq(f, i) => graft.functions.BloomMightContain(f, i)
        case _ => throw new IllegalArgumentException("bloom_might_contain(filter, item)")
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      info("bloom_agg", "bloom_agg(xxhash64(col)[, estItems[, numBits]]) - serialized bloom filter over long items"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        val agg = args match {
          // 1-arg: Spark's own constructor defaults from
          // spark.sql.optimizer.runtime.bloomFilter.expectedNumItems
          case Seq(c) => new BloomFilterAggregate(c)
          case Seq(c, n) => new BloomFilterAggregate(c, n)
          case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
          case _ => throw new IllegalArgumentException(
            "bloom_agg(item[, estItems[, numBits]])")
        }
        agg.toAggregateExpression()
      }))
    // H16 kernels (r9): the boolean gate and the struct audit form
    ext.injectFunction((
      FunctionIdentifier("gopher_pass"),
      info("gopher_pass",
        "gopher_pass(text[, minWords, maxWords, minStop]) - single-pass Gopher rule-battery conjunction"),
      (args: Seq[Expression]) => {
        def lit(e: Expression, what: String): Long =
          if (e.foldable) e.eval() match {
            case n: java.lang.Number => n.longValue()
            case other => throw new IllegalArgumentException(
              s"gopher_pass: $what must be an integer literal, got $other")
          } else throw new IllegalArgumentException(
            s"gopher_pass: $what must be a literal")
        args match {
          case Seq(t) => graft.functions.GopherPass(t, 50L, 100000L, 2L)
          case Seq(t, mw) =>
            graft.functions.GopherPass(t, lit(mw, "minWords"), 100000L, 2L)
          case Seq(t, mw, xw) => graft.functions.GopherPass(t,
            lit(mw, "minWords"), lit(xw, "maxWords"), 2L)
          case Seq(t, mw, xw, ms) => graft.functions.GopherPass(t,
            lit(mw, "minWords"), lit(xw, "maxWords"), lit(ms, "minStop"))
          case _ => throw new IllegalArgumentException(
            "gopher_pass(text[, minWords, maxWords, minStop])")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("gopher_stats"),
      info("gopher_stats",
        "gopher_stats(text[, minWords, maxWords]) - struct of every Gopher-rule statistic, flag, and the conjunction"),
      (args: Seq[Expression]) => {
        def lit(e: Expression, what: String): Long =
          if (e.foldable) e.eval() match {
            case n: java.lang.Number => n.longValue()
            case other => throw new IllegalArgumentException(
              s"gopher_stats: $what must be an integer literal, got $other")
          } else throw new IllegalArgumentException(
            s"gopher_stats: $what must be a literal")
        args match {
          case Seq(t) => graft.functions.GopherStatsExpr(t, 50L, 100000L)
          case Seq(t, mw) =>
            graft.functions.GopherStatsExpr(t, lit(mw, "minWords"), 100000L)
          case Seq(t, mw, xw) => graft.functions.GopherStatsExpr(t,
            lit(mw, "minWords"), lit(xw, "maxWords"))
          case _ => throw new IllegalArgumentException(
            "gopher_stats(text[, minWords, maxWords])")
        }
      }))
    // curation/layout primitives, built as raw catalyst trees (the
    // Column bridge yields unresolved nodes a function builder can't
    // return) with the same semantics as Curation.sampleKey /
    // Layout.zValue — spec-asserted equal
    ext.injectFunction((
      FunctionIdentifier("sample_key"),
      info("sample_key",
        "sample_key(id) - deterministic 2-hex-char sampling key (md5 prefix of the id rendered as a string)"),
      (args: Seq[Expression]) => args match {
        case Seq(a) =>
          import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Md5, Substring}
          import org.apache.spark.sql.types.{BinaryType, StringType}
          Substring(Md5(Cast(Cast(a, StringType), BinaryType)),
            Literal(1), Literal(2))
        case _ => throw new IllegalArgumentException("sample_key(id)")
      }))
    ext.injectFunction((
      FunctionIdentifier("z_value"),
      info("z_value",
        "z_value(x, y[, bits]) - Morton (Z-curve) interleave of two non-negative coordinates (default 16 bits each)"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast, Literal, ShiftLeft, ShiftRightUnsigned}
        import org.apache.spark.sql.types.LongType
        def lit(e: Expression): Int =
          if (e.foldable) e.eval() match {
            case i: java.lang.Number => i.intValue()
            case other => throw new IllegalArgumentException(
              s"z_value: bits must be an integer literal, got $other")
          } else throw new IllegalArgumentException("z_value: bits must be a literal")
        val (x, y, bits) = args match {
          case Seq(a, b) => (a, b, 16)
          case Seq(a, b, n) => (a, b, lit(n))
          case _ => throw new IllegalArgumentException("z_value(x, y[, bits])")
        }
        require(bits >= 1 && bits <= 31, s"z_value: bits out of range: $bits")
        val xl = Cast(x, LongType)
        val yl = Cast(y, LongType)
        (0 until bits).map { i =>
          val xi = ShiftLeft(BitwiseAnd(
            ShiftRightUnsigned(xl, Literal(i)), Literal(1L)), Literal(2 * i))
          val yi = ShiftLeft(BitwiseAnd(
            ShiftRightUnsigned(yl, Literal(i)), Literal(1L)), Literal(2 * i + 1))
          BitwiseOr(xi, yi): Expression
        }.reduce[Expression]((a, b) => BitwiseOr(a, b))
      }))
  }
}
