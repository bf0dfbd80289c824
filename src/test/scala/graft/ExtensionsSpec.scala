package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.{functions => F}
import graft.functions.TextExprs

/** SQL registration of the native expressions ([[GraftExtensions]]):
  * the SQL path must be the SAME expression the Column API builds. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.register(spark)
  }

  test("extensions class wires every function without error") {
    // the injection list must be structurally sound (names, infos,
    // builders) — apply() walks it end to end
    new GraftExtensions().apply(new SparkSessionExtensions)
    assert(GraftExtensions.functions.map(_._1.funcName).distinct.size ==
      GraftExtensions.functions.size)
  }

  test("minhash_band_hashes_from_hashes names the contract violation on a " +
      "null array element (toLongArray would die with a bare assertion)") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Throwable] {
      spark.sql("SELECT minhash_band_hashes_from_hashes(" +
        "array(1L, CAST(NULL AS BIGINT)), 64, 16)").collect()
    }
    assert(msgs(e).exists(_.contains("null element")), msgs(e))
    // null-free arrays (the stored-feature contract) evaluate fine
    assert(spark.sql("SELECT size(minhash_band_hashes_from_hashes(" +
      "array(1L, 2L, 3L), 64, 16)) AS n").collect()(0).getInt(0) == 16)
  }

  test("scalar functions match their Column-API twins") {
    val r = spark.sql(
      """SELECT simhash64('the quick brown fox') AS sh,
                strip_accents('café naïve') AS sa,
                count_regex_matches('a1b22c333', '[0-9]+') AS crm,
                shingle_hashes('a b c d', 2) AS sg,
                minhash_signature('a b c d e', 2, 16) AS mh,
                minhash_band_hashes('the cat sat on the mat the cat sat',
                  3, 64, 16) AS bt,
                minhash_band_hashes_from_hashes(shingle_hashes(
                  'the cat sat on the mat the cat sat', 3), 64, 16) AS bh"""
      ).collect().head
    val twin = spark.range(1).select(
      TextExprs.simhash64(F.lit("the quick brown fox")).as("sh"),
      TextExprs.stripAccents(F.lit("café naïve")).as("sa"),
      TextExprs.countRegexMatches(F.lit("a1b22c333"), "[0-9]+").as("crm"),
      TextExprs.shingleHashes(F.lit("a b c d"), 2).as("sg"),
      TextExprs.minhashSignature(F.lit("a b c d e"), 2, 16).as("mh"))
      .collect().head
    assert(r.getLong(0) == twin.getLong(0))
    assert(r.getString(1) == "cafe naive" && r.getString(1) == twin.getString(1))
    assert(r.getLong(2) == 3L && r.getLong(2) == twin.getLong(2))
    assert(r.getSeq[Long](3) == twin.getSeq[Long](3) &&
      r.getSeq[Long](3).size == 3)
    assert(r.getSeq[Long](4) == twin.getSeq[Long](4))
    // band hashes over the text == band hashes over its stored shingle
    // hashes: the identity every MinHash index path builds postings on
    assert(r.getSeq[Long](5) == r.getSeq[Long](6) &&
      r.getSeq[Long](5).size == 16)
  }

  test("unicode_normalize: NFC composes, NFKC folds compatibility forms, " +
      "SQL == Column twin, null through, bad form loud") {
    // decomposed e + combining acute; fi ligature; full-width A; circled 1
    val dirty = "é ﬁ Ａ ①"
    val r = spark.sql(
      s"SELECT unicode_normalize('$dirty', 'NFC') AS c, " +
        s"unicode_normalize('$dirty', 'NFKC') AS k").collect().head
    assert(r.getString(0) == "é ﬁ Ａ ①") // composed only
    assert(r.getString(1) == "é fi A 1") // compatibility-folded
    val twin = spark.range(1).select(
      TextExprs.unicodeNormalize(F.lit(dirty), "NFC").as("c"),
      TextExprs.unicodeNormalize(F.lit(dirty), "NFKC").as("k"))
      .collect().head
    assert(r.getString(0) == twin.getString(0) &&
      r.getString(1) == twin.getString(1))
    assert(spark.range(1).select(TextExprs.unicodeNormalize(
      F.lit(null).cast("string"), "NFC")).collect().head.isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', 'NFX')").collect()
    }
  }

  test("pair expansion + capped aggregate compose in pure SQL") {
    val pairs = spark.sql(
      "SELECT explode(ordered_pairs(array(3L, 1L, 2L))) AS p").collect()
    assert(pairs.map(r => (r.getStruct(0).getLong(0),
      r.getStruct(0).getLong(1))).toSet ==
      Set((3L, 1L), (3L, 2L), (1L, 2L)))
    Seq((1, 10L), (1, 11L), (1, 12L), (2, 20L))
      .toDF("bucket", "id").createOrReplaceTempView("ext_ids")
    val agg = spark.sql(
      """SELECT bucket, capped_sorted_ids(id, 2) AS ids
         FROM ext_ids GROUP BY bucket ORDER BY bucket""").collect()
    assert(agg(0).isNullAt(1), "3 ids with cap 2 must saturate to null")
    assert(agg(1).isNullAt(1), "singleton bucket yields null")
    val hp = spark.sql(
      """SELECT explode(hamming_pairs(
           array(named_struct('id', 1L, 'sig', 0L),
                 named_struct('id', 2L, 'sig', 3L),
                 named_struct('id', 3L, 'sig', -1L)), 2)) AS p""").collect()
    assert(hp.map(r => (r.getStruct(0).getLong(0),
      r.getStruct(0).getLong(1), r.getStruct(0).getInt(2))).toSeq ==
      Seq((1L, 2L, 2)))
  }

  test("hyperplane_sig in SQL matches the Column API") {
    val d = Seq((1L, Array(0.5f, -0.25f, 1.0f))).toDF("id", "v")
    d.createOrReplaceTempView("ext_vecs")
    val sqlSig = spark.sql(
      "SELECT hyperplane_sig(v, 16, 42) AS s FROM ext_vecs").collect().head.getLong(0)
    val apiSig = d.select(graft.functions.VectorExprs
      .hyperplaneSig(F.col("v"), 16, 42L).as("s")).collect().head.getLong(0)
    assert(sqlSig == apiSig)
  }

  test("sorted_set_overlap in SQL: foldable set, matches the Column API") {
    val n = spark.sql(
      """SELECT sorted_set_overlap(shingle_hashes('a b c d', 2),
           shingle_hashes('a b c x', 2)) AS n""").collect().head.getLong(0)
    // shared 2-shingles of "a b c d" vs "a b c x": "a b", "b c" -> 2
    assert(n == 2L)
    val setHashes = spark.range(1)
      .select(TextExprs.shingleHashes(F.lit("a b c x"), 2).as("h"))
      .collect().head.getSeq[Long](0).toArray.sorted
    val twin = spark.range(1).select(TextExprs.sortedSetOverlap(
      TextExprs.shingleHashes(F.lit("a b c d"), 2), setHashes).as("n"))
      .collect().head.getLong(0)
    assert(twin == 2L)
    // int literals widen; non-foldable sets fail at analysis time
    assert(spark.sql("SELECT sorted_set_overlap(array(1L,2L), array(1,3))")
      .collect().head.getLong(0) == 1L)
    val e = intercept[Exception] {
      spark.sql("SELECT sorted_set_overlap(array(1L), array(id)) FROM range(2)")
        .collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }

  test("bpe_token_count in SQL: foldable merge table, matches the " +
      "Column API") {
    // "lower lower" under merges (l,o),(lo,w),(e,r): [low, er] x2 = 4
    val n = spark.sql(
      """SELECT bpe_token_count('lower lower',
           array(array('l','o'), array('lo','w'), array('e','r'))) AS n""")
      .collect().head.getLong(0)
    assert(n == 4L)
    val twin = spark.range(1).select(TextExprs.bpeTokenCount(
      F.lit("lower lower"),
      Seq("l" -> "o", "lo" -> "w", "e" -> "r")).as("n"))
      .collect().head.getLong(0)
    assert(twin == 4L)
    // non-foldable merge tables fail at analysis time
    val e = intercept[Exception] {
      spark.sql("""SELECT bpe_token_count('x',
          array(array(cast(id AS string), 'o'))) FROM range(2)""").collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
    // malformed pairs fail loudly
    val e2 = intercept[Exception] {
      spark.sql("SELECT bpe_token_count('x', array(array('a')))").collect()
    }
    assert(e2.getMessage.contains("2-element"), e2.getMessage)
  }

  test("config arguments must be literals — analysis-time failure") {
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a b c', length('xx'))").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      e.getMessage.contains("shingle_hashes"), e.getMessage)
  }

  test("recommended confs carry the extensions registration") {
    assert(GraftSession.recommendedConfs(8)("spark.sql.extensions") ==
      "graft.GraftExtensions")
  }
}
