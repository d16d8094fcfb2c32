package graft

import graft.functions.{SimHash64, SimHash64Expr}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd SimHash expression: eval/codegen parity, SQL
  * registration, near-dup behavior.
  */
class SimHashExprSpec extends SparkTestBase {
  import spark.implicits._

  test("interpreted eval matches the plain-Scala hash") {
    val s = "the quick brown fox"
    val viaEval = Seq(s).toDF("t")
      .select(SimHash64Expr.simhash64($"t").as("h")).head.getLong(0)
    assert(viaEval == SimHash64.hash(UTF8String.fromString(s)))
  }

  test("codegen path (projection over many rows) agrees with direct hash") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val got = docs.select($"doc_id", SimHash64Expr.simhash64($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = docs.select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> SimHash64.hash(UTF8String.fromString(r.getString(1))))
      .toMap
    assert(got == want)
  }

  test("SQL registration: simhash64(text) usable from spark.sql") {
    SimHash64Expr.register(spark)
    spark.read.parquet(s"$sf/documents.parquet").limit(5)
      .createOrReplaceTempView("sh_docs")
    val rows = spark.sql(
      "SELECT doc_id, simhash64(text) AS h FROM sh_docs").collect()
    assert(rows.length == 5 && rows.forall(!_.isNullAt(1)))
  }

  test("SQL registration: winnow/kgram/rolling-span expressions via registerAll") {
    graft.functions.GraftFunctions.registerAll(spark)
    spark.read.parquet(s"$sf/documents.parquet").limit(5)
      .createOrReplaceTempView("sql_fn_docs")
    val rows = spark.sql(
      """SELECT doc_id,
        |  size(winnow_fps64(text)) AS n_fps,
        |  size(winnow_fps64(text, 5, 4)) AS n_fps_args,
        |  size(kgram_hashes64(text, 5)) AS n_grams,
        |  size(rolling_span_hash64(text, 8)) AS n_spans
        |FROM sql_fn_docs""".stripMargin).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getInt(1) > 0 && r.getInt(1) == r.getInt(2))
      assert(r.getInt(3) > 0, "every doc has at least one shingle")
      assert(r.getInt(4) >= 0)
    }

    // pq_adc: codes (1, 0) over a 2-subspace x 2-code table picks
    // table[0*2+1] + table[1*2+0] = 0.25 + 4.0
    val adc = spark.sql(
      """SELECT pq_adc(array(1, 0),
        |  array(CAST(0.5 AS FLOAT), CAST(0.25 AS FLOAT),
        |        CAST(4.0 AS FLOAT), CAST(8.0 AS FLOAT)), 2) AS s""".stripMargin)
      .head().getDouble(0)
    assert(adc == 4.25, s"got $adc")
  }

  test("similar texts have small hamming distance, dissimilar large") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tonight"
    val c = "completely unrelated words about database query optimization engines"
    def h(s: String) = SimHash64.hash(UTF8String.fromString(s))
    assert(SimHash64.hamming(h(a), h(b)) < SimHash64.hamming(h(a), h(c)))
    assert(SimHash64.hamming(h(a), h(a)) == 0)
  }

  test("minhash_sig expression: parity eval/codegen, shingle semantics, nulls") {
    import graft.functions.{MinHashSig, MinHashSigExpr}
    def sigOf(s: String): Seq[Long] =
      MinHashSig.compute(UTF8String.fromString(s), 128, 5)
        .toLongArray().toSeq
    // identical texts -> identical signatures (the LSH recall contract)
    assert(sigOf("a b c d e f g") == sigOf("a b c d e f g"))
    // different texts -> (almost surely) different signatures
    assert(sigOf("a b c d e f g") != sigOf("h i j k l m n"))
    // shorter-than-shingle docs hash their single shorter shingle
    assert(sigOf("one two") == sigOf("one two"))
    assert(sigOf("one two") != sigOf("one three"))
    // codegen projection agrees with direct compute
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    val got = docs.select($"doc_id",
        MinHashSigExpr.minhashSig(Dedup.normText($"text"), 128, 5).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = docs.select($"doc_id", Dedup.normText($"text").as("t")).collect()
      .map(r => r.getLong(0) ->
        MinHashSig.compute(UTF8String.fromString(r.getString(1)), 128, 5)
          .toLongArray().toSeq)
      .toMap
    assert(got == want)
    // null text -> null signature
    val n = Seq((1L, null: String)).toDF("id", "t")
      .select(MinHashSigExpr.minhashSig($"t", 128, 5).as("sig")).head
    assert(n.isNullAt(0))
  }

  test("minhash_sig bands: every one-word edit of a 150-word document shares a band") {
    import graft.functions.MinHashSigExpr
    // 500 documents of 150 words drawn from a 4,000-word vocabulary, each
    // beside a copy with one word replaced: shingle Jaccard is about
    // 141/151, so with independent families a pair misses all 16 bands
    // of 8 rows with probability about (1 − 0.93^8)^16 ≈ 1e-6
    val rnd = new scala.util.Random(20261019)
    val docs = (0 until 500).flatMap { i =>
      val words = Array.fill(150)(s"w${rnd.nextInt(4000)}")
      val edited = words.clone()
      val at = rnd.nextInt(150)
      var repl = words(at)
      while (repl == words(at)) repl = s"w${rnd.nextInt(4000)}"
      edited(at) = repl
      Seq((2L * i, words.mkString(" ")), (2L * i + 1, edited.mkString(" ")))
    }.toDF("id", "text")
    val sig = docs.select($"id",
      MinHashSigExpr.minhashSig(Dedup.normText($"text"), 128, 5).as("sig"))
    val bands = Dedup.lshBandsFromSig(sig, "id", 128, 16)
      .select($"id", $"band_id", $"band_hash").as[(Long, Int, Long)].collect()
    assert(bands.length == 1000 * 16)
    val byDoc = bands.groupBy(_._1).view.mapValues(_.map(b => (b._2, b._3)).toSet).toMap
    val missed = (0 until 500).filter(i =>
      (byDoc(2L * i) intersect byDoc(2L * i + 1)).isEmpty)
    assert(missed.isEmpty,
      s"${missed.size} of 500 one-word-edit pairs share no band: ${missed.take(10)}")
  }

  test("minhash_sig refuses a non-positive numHashes or shingleSize by name") {
    import graft.functions.MinHashSigExpr
    val df = Seq("a b c d e f").toDF("t")
    for ((n, k) <- Seq((0, 5), (128, 0), (128, -1))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(MinHashSigExpr.minhashSig($"t", n, k)).collect()
      }
      assert(e.getMessage.contains("minhash_sig needs numHashes >= 1"), e.getMessage)
    }
  }

  test("GraftFunctions: all custom expressions usable from pure SQL") {
    import graft.functions.{GraftExtensions, GraftFunctions}
    GraftFunctions.registerAll(spark)
    Seq((1L, "the quick brown fox jumps again", Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("id", "t", "a", "b").createOrReplaceTempView("gf_docs")
    val r = spark.sql(
      """SELECT simhash64(t) AS sh, minhash_sig(t, 64, 3) AS mh,
        |  graft_dot(a, b) AS d, graft_l2norm(a) AS n FROM gf_docs""".stripMargin).head
    assert(!r.isNullAt(0))
    assert(r.getSeq[Long](1).length == 64)
    assert(r.getDouble(2) == 11.0)
    assert(math.abs(r.getDouble(3) - math.sqrt(5.0)) < 1e-12)
    // defaults apply when the literal args are omitted
    assert(spark.sql("SELECT minhash_sig(t) FROM gf_docs")
      .head.getSeq[Long](0).length == 128)
    // SQL fingerprints normalize like the operator path: case/whitespace
    // variants collide (the LSH recall contract for mixed pipelines)
    Seq(("The  QUICK brown   fox jumps again ", "the quick brown fox jumps again"))
      .toDF("messy", "clean").createOrReplaceTempView("gf_norm")
    val nr = spark.sql(
      """SELECT simhash64(messy) = simhash64(clean) AS sh_eq,
        |  minhash_sig(messy, 64, 3) = minhash_sig(clean, 64, 3) AS mh_eq
        |FROM gf_norm""".stripMargin).head
    assert(nr.getBoolean(0) && nr.getBoolean(1),
      "SQL-side fingerprints must normalize text like Dedup.normText")
    // the SparkSessionExtensions injector wires the same set without error
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("simhashNearDuplicates (expression-backed) still finds planted dups") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val planted = docs.where($"doc_id" % 50 === 0)
      .withColumn("doc_id", $"doc_id" + 1000000L)
    val pairs = Dedup.simhashNearDuplicates(docs.unionByName(planted),
      "text", "doc_id", maxHamming = 0)
    val plantedFound = pairs.where($"id_b" - $"id_a" === 1000000L).count()
    assert(plantedFound == docs.where($"doc_id" % 50 === 0).count())
  }
}
