package graft

import org.apache.spark.sql.SparkSession

class GraftExtensionsSpec extends SparkSpec {

  private lazy val extSpark: SparkSession = TestSession.graft("graft-ext-test")

  test("GraftSession builder applies scale defaults") {
    assert(extSpark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(extSpark.conf.get("spark.sql.parquet.outputTimestampType") ==
      "TIMESTAMP_MICROS")
  }

  test("minhash_sig and simhash64 are callable from SQL") {
    val row = extSpark.sql(
      """SELECT size(minhash_sig(array('a b c','b c d'), 32)) AS n,
                simhash64(array('x','y')) AS sh""").head()
    assert(row.getInt(0) == 32)
    assert(!row.isNullAt(1))
  }

  test("cdc_chunks is callable from SQL and partitions the input") {
    val row = extSpark.sql(
      "SELECT array_join(cdc_chunks(repeat('lorem ipsum ', 40), 32, 8, 128), '') AS re," +
        " size(cdc_chunks(repeat('lorem ipsum ', 40), 32, 8, 128)) AS n").head()
    assert(row.getString(0) == "lorem ipsum " * 40)
    assert(row.getInt(1) > 1)
  }

  test("gopher_pass and gopher_stats are callable from SQL and agree") {
    val row = extSpark.sql(
      """SELECT gopher_pass(t, 5) AS p,
                gopher_stats(t, 5).pass AS sp,
                gopher_stats(t, 5).n_words AS nw,
                gopher_stats(t, 5).r_stop AS rs
         FROM VALUES ('the books have arrived and that is all we need to know') v(t)"""
    ).head()
    assert(row.getBoolean(0) && row.getBoolean(1),
      "clean 12-word sentence with stopwords must pass both forms")
    assert(row.getLong(2) == 12L)
    assert(row.getBoolean(3))
    // a violation flips both forms together
    val bad = extSpark.sql(
      "SELECT gopher_pass(t, 50), gopher_stats(t, 50).r_words " +
        "FROM VALUES ('too short') v(t)").head()
    assert(!bad.getBoolean(0) && !bad.getBoolean(1))
  }

  test("deflate_size is callable from SQL and matches the kernel") {
    val got = extSpark.sql("SELECT deflate_size(repeat('ab', 50))")
      .head().getLong(0)
    assert(got == graft.functions.CompressRuntime.deflateSize(
      org.apache.spark.unsafe.types.UTF8String.fromString("ab" * 50)))
  }

  test("sample_key and z_value are callable from SQL and match the operators") {
    val row = extSpark.sql(
      """SELECT sample_key(42) AS k,
                z_value(5, 3, 3) AS z,
                z_value(5, 3) AS z16""").head()
    // md5("42") = a1d0c6e8...; first two hex chars
    assert(row.getString(0) == "a1")
    assert(row.getLong(1) == 27L) // x=101,y=011 interleaved
    assert(row.getLong(2) == 27L) // high bits are zero for small inputs
    val err = intercept[Exception] {
      extSpark.sql("SELECT z_value(1, 2, id) FROM range(1)").collect()
    }
    assert(err.getMessage.contains("literal"))
  }

  test("tensor_pack/tensor_unpack roundtrip from SQL") {
    val row = extSpark.sql(
      """SELECT tensor_unpack(tensor_pack(named_struct(
           'shape', array(2, 2), 'data', array(1.0F, 2.0F, 3.0F, 4.0F)))) AS t""")
      .selectExpr("t.shape", "t.data").head()
    assert(row.getSeq[Int](0) == Seq(2, 2))
    assert(row.getSeq[Float](1) == Seq(1f, 2f, 3f, 4f))
  }

  test("optimizer rule eliminates tensor codec roundtrips") {
    // file-backed source so ConvertToLocalRelation can't pre-evaluate
    extSpark.read.parquet(s"$sfDir/embeddings.parquet")
      .createOrReplaceTempView("emb_ext")
    val df = extSpark.sql(
      """SELECT tensor_unpack(tensor_pack(named_struct(
           'shape', array(64), 'data', embedding))) AS t FROM emb_ext""")
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(!optimized.contains("tensor_pack"),
      s"codec pair should be eliminated:\n$optimized")
    // and the session WITHOUT the extension keeps the codecs
    import org.apache.spark.sql.functions._
    import graft.operators.Tensor
    val plain = graft.Tables.embeddings(spark, sfDir)
      .select(Tensor.unpack(Tensor.pack(
        Tensor.tensor(array(lit(64)), col("embedding")))).as("t"))
    assert(plain.queryExecution.optimizedPlan.toString().contains("tensor_pack"))
  }

  test("default minhash_sig arity uses 64 permutations") {
    val n = extSpark.sql("SELECT size(minhash_sig(array('a'))) AS n").head().getInt(0)
    assert(n == 64)
  }

  test("round-2 functions callable from SQL: shingles, bands, vector math") {
    val row = extSpark.sql(
      """SELECT shingle_set(array('a','b','c','d'), 2) AS sh,
                size(lsh_band_keys(minhash_sig(array('a b','b c')), 16)) AS nb,
                dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS dp,
                dot_product(unit_norm(array(3.0F, 4.0F)),
                            unit_norm(array(3.0F, 4.0F))) AS unit_cos,
                hyperplane_bucket(array(1.0F, -1.0F), 4) AS hb""").head()
    assert(row.getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(row.getInt(1) == 16)
    assert(row.getDouble(2) == 11.0)
    assert(math.abs(row.getDouble(3) - 1.0) < 1e-12)
    assert(!row.isNullAt(4))
  }

  test("unicode_normalize and l2_distance are callable from SQL") {
    val row = extSpark.sql(
      """SELECT unicode_normalize('Café') AS nfc,
                unicode_normalize('①', 'NFKC') AS nfkc,
                l2_distance(array(1.0F, 2.0F), array(4.0F, 6.0F)) AS d""").head()
    assert(row.getString(0) == "Café")
    assert(row.getString(1) == "1")
    assert(row.getDouble(2) == 5.0)
    intercept[Exception] {
      extSpark.sql("SELECT unicode_normalize('x', 'BAD')").head()
    }
  }

  test("pq_adc is callable from SQL and sums the right table cells") {
    // 2 subspaces × 2 codes: lut = [m0c0, m0c1, m1c0, m1c1];
    // codes (1, 0) → lut[1] + lut[2] = 20 + 30
    val v = extSpark.sql(
      """SELECT pq_adc(array(1, 0),
                       array(10.0D, 20.0D, 30.0D, 40.0D)) AS s""").head().getDouble(0)
    assert(v == 50.0)
  }
}
