package graft.text

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the dedup stack: known near-duplicates MUST share an
  * LSH band bucket and verify above the Jaccard threshold; unrelated docs
  * must not pair up. */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (id, band, bucket) rows from (id, sig array). */
  private def bandBuckets(df: org.apache.spark.sql.DataFrame, idCol: String, sigCol: String,
                          bands: Int, rowsPerBand: Int) =
    df.select(col(idCol),
      posexplode(TextOps.bandBucketCols(col(sigCol), bands, rowsPerBand))
        .as(Seq("band", "bucket")))

  /** (id, simhash) per row of `df`. */
  private def simhashCodes(df: org.apache.spark.sql.DataFrame, idCol: String,
                           tokCol: org.apache.spark.sql.Column) =
    df.select(col(idCol), TextOps.simhashCol(tokCol).as("simhash"))

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "cat watches from the warm windowsill and the birds sing in the garden " +
    "under a bright morning sun with dew still on the grass"
  // near-dup: one word changed
  private val nearDup = base.replace("morning", "evening")
  // unrelated text, same length scale
  private val other = "completely different content about distributed query " +
    "engines shuffling partitioned columnar data across executor nodes with " +
    "broadcast joins adaptive execution and whole stage code generation"

  private def corpus = Seq(
    (0L, base), (1L, nearDup), (2L, other),
    (3L, "tiny"), (4L, base.toUpperCase)) // case variant → exact dup after normalize
    .toDF("doc_id", "text")

  test("native MinHashSig equals the composed HOF form the oracle replays") {
    val both = corpus
      .select(col("doc_id"), TextOps.normalized("text").as("norm"))
      .withColumn("sh", TextOps.charShingles("norm", 5))
      .select(col("doc_id"),
        TextOps.minhashSigCol(col("sh"), 64).as("native"),
        TextOps.minhashSigColComposed(col("sh"), 64).as("composed"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"signature divergence for doc ${r.getLong(0)}")
    }
  }

  test("native SimHash64 equals an in-engine md5Bits64 vote recompute") {
    // independent composed recompute: one md5Bits64 per token (exploded),
    // 64 vote sums, OR-fold of the majority bits — the oracle's SQL image
    val toks = corpus.select(col("doc_id"), explode(TextOps.tokens("text")).as("t"))
      .select(col("doc_id"), TextOps.md5Bits64(col("t")).as("h"))
    val votes = (0 until 64).map(i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$i"))
    val code = (0 until 64).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    val composed = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), code.as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = corpus
      .select(col("doc_id"), TextOps.simhashCol(TextOps.tokens("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    composed.foreach { case (id, c) =>
      assert(native(id) == c, s"simhash divergence for doc $id")
    }
  }

  test("minhash signatures: identical after normalization, close for near-dups") {
    val sigDf = corpus
      .select(col("doc_id"), TextOps.normalized("text").as("norm"))
      .withColumn("sh", TextOps.charShingles("norm", 5))
      .withColumn("sig", TextOps.minhashSigCol(col("sh"), 64))
    val sigs = sigDf.select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(4L), "case variant must hash identically")
    val agree01 = sigs(0L).zip(sigs(1L)).count { case (a, b) => a == b }
    val agree02 = sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree01 > 32, s"near-dup agreement too low: $agree01/64")
    assert(agree02 < 16, s"unrelated agreement too high: $agree02/64")
  }

  test("LSH banding pairs near-dups, not unrelated docs") {
    val sigDf = corpus
      .select(col("doc_id"), TextOps.normalized("text").as("norm"))
      .withColumn("sh", TextOps.charShingles("norm", 5))
      .withColumn("sig", TextOps.minhashSigCol(col("sh"), 64))
    val pairs = TextOps.candidatePairs(
      bandBuckets(sigDf, "doc_id", "sig", bands = 16, rowsPerBand = 4), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "near-dup pair not a candidate")
    assert(pairs.contains((0L, 4L)), "exact-dup pair not a candidate")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)),
      s"unrelated doc became a candidate: $pairs")
  }

  test("bucket-size cap drops hot buckets before the self-join") {
    // 300 identical docs → one bucket of 300 per band; cap 100 must kill it
    val swarm = (0L until 300L).map(i => (i, "identical text for everyone"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.normalized("text").as("norm"))
      .withColumn("sh", TextOps.charShingles("norm", 5))
      .withColumn("sig", TextOps.minhashSigCol(col("sh"), 16))
    val buckets = bandBuckets(swarm, "doc_id", "sig", bands = 4, rowsPerBand = 4)
    assert(TextOps.candidatePairs(buckets, "doc_id", maxBucketSize = 100).count() == 0L)
    // with a big enough cap the pairs appear (bounded quadratic is allowed)
    assert(TextOps.candidatePairs(buckets, "doc_id", maxBucketSize = 500).count() > 0L)
  }

  test("prefixCandidates: complete at the threshold, prunes shared-vocabulary corpora") {
    // Zipf-ish corpus: every doc shares a hot 20-token head (the vocabulary
    // every real document shares) plus 20 tokens from a 2000-token rare
    // tail; pairwise Jaccard stays well under 0.5. Plus one planted near-dup
    // pair. Prefix filtering must push the hot head OUT of the prefixes.
    val rnd = new scala.util.Random(7)
    val hot = (0 until 15).map(i => f"hot$i%03d")
    val tail = (0 until 2000).map(i => f"tok$i%04d")
    val docsSeq = (0L until 60L).map { i =>
      i -> (hot ++ rnd.shuffle(tail).take(25)).toSet
    } :+ (60L -> (0 until 40).map(j => f"dup$j%03d").toSet) :+
      (61L -> ((0 until 36).map(j => f"dup$j%03d").toSet + "x1" + "x2" + "x3" + "x4"))
    val toks = docsSeq.flatMap { case (id, ts) => ts.map(t => (id, t)) }
      .toDF("doc_id", "g")
    def jac(a: Set[String], b: Set[String]) =
      a.intersect(b).size.toDouble / a.union(b).size
    val want = (for {
      (ia, sa) <- docsSeq; (ib, sb) <- docsSeq
      if ia < ib && jac(sa, sb) >= 0.5
    } yield (ia, ib)).toSet
    assert(want.nonEmpty, "fixture must contain a true near-dup pair")
    val got = TextOps.prefixCandidates(toks, "doc_id", t = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // complete: every true pair is a candidate (prefix filtering is exact)
    assert(want.subsetOf(got), s"missed true pairs: ${want -- got}")
    // pruning: nowhere near the 62·61/2 all-pairs count despite the shared pool
    val allPairs = 62 * 61 / 2
    assert(got.size < allPairs / 4, s"no pruning: ${got.size} of $allPairs")
  }

  test("simhashCodePairs: a negative code pairs through band 0 (regression: % vs &)") {
    // xor has exactly bits 63, 37, 29 set → bands 1-3 all differ and the
    // low band is the ONLY shared chunk; the left code is a negative long.
    // The old `% 65536` banding gave the negative member a negative
    // band-0 chunk and silently missed this pair (caught by the sf0.1
    // oracle sweep).
    val b = 0x000000000000a20aL
    val a = b | (1L << 63) | (1L << 37) | (1L << 29)
    assert(a < 0L)
    val pairs = TextOps.simhashCodePairs(Seq(a, b).toDF("simhash")).collect()
    assert(pairs.length == 1, s"band-0 pair must surface: ${pairs.toSeq}")
    assert(pairs.head.getInt(2) == 3)
  }

  test("simhashCodePairs: swarm collapses to one code row; pigeonhole pairs survive") {
    // a million-doc identical swarm reaches the band join as ONE distinct
    // code; here 3 distinct codes stand in for any swarm sizes behind them
    val codes = Seq(
      0x0123456789abcdefL,
      0x0123456789abcdeeL, // hamming 1 from the first
      0x7777777777777777L) // far from both
      .toDF("simhash")
    val pairs = TextOps.simhashCodePairs(codes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == 1, s"expected exactly the hamming-1 pair: ${pairs.toSeq}")
    assert(pairs.head._3 == 1)
    // residual hot band buckets (many DISTINCT codes sharing one 16-bit
    // chunk) are capped: 300 codes identical except in the top band share
    // bands 0-2 → bucket size 300 > cap → only the top band can pair them,
    // and there all codes differ → no bucket repeats → no pairs at all
    val hot = (0L until 300L).map(i => 0x1111111111110000L | i).toDF("simhash")
    assert(TextOps.simhashCodePairs(hot, maxBucketSize = 100).count() == 0L)
    // with the cap lifted the within-bucket pairs come back (bounded corpus)
    assert(TextOps.simhashCodePairs(hot, maxBucketSize = 500)
      .filter(col("hamming") <= 3).count() > 0L)
  }

  test("shingle-set collapse: identical-doc swarm never reaches the prefix join") {
    // 200 identical docs + 1 lang-variant + a near-dup pair + an unrelated
    // doc: the prefix join must see ONE representative per distinct trigram
    // set (4 here), while the full query still emits every within-block pair
    val swarmText = "all work and no play makes jack a dull boy again today"
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = textA + " today"
    val other = "zebras quietly migrate across vast plains under violet skies"
    val docsSeq: Seq[(Long, String, String, String)] =
      (0L until 200L).map(i => (i, "web", "en", swarmText)) ++ Seq(
        (200L, "web", "en", textA),
        (201L, "web", "en", textB),
        (202L, "web", "de", swarmText), // same set, different block → no pairs
        (203L, "web", "en", other))
    val docsDf = docsSeq.toDF("doc_id", "source", "lang", "text")

    // structural bound: 5 distinct (set, source, lang) groups ⇒ prefix-join
    // input is 5 reps (4 in the 'en' block, 1 in 'de'), candidate pairs
    // ≤ C(4,2) — the 200-doc swarm is invisible to it
    val baseDf = docsDf.select(col("doc_id"), col("source"), col("lang"),
        TextOps.charShingles("text", 3).as("sh"))
      .withColumn("set_key", TextOps.shingleSetKey(col("sh")))
    val reps = baseDf.groupBy(col("set_key"), col("source"), col("lang"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("sh")).as("sh"))
    assert(reps.count() == 5L, "collapse must leave one rep per (set, block)")
    val candCount = TextOps.prefixCandidates(
      reps.select(col("doc_id"), col("source"), col("lang"), explode(col("sh")).as("g")),
      "doc_id", t = 0.5, blockCols = Seq("source", "lang")).count()
    assert(candCount <= 6L, s"prefix join saw more than the en-block rep pairs: $candCount")

    // end-to-end: the registered query (via a temp documents.parquet) must
    // match the brute-force oracle semantics pair-for-pair
    val dir = java.nio.file.Files.createTempDirectory("ngram_swarm").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.relational.DataPipelineQueries.queries("dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def sh3(s: String) = s.sliding(3).toSet
    def jac(a: Set[String], b: Set[String]) = a.intersect(b).size.toDouble / a.union(b).size
    val want = (for {
      (ia, sa, la, ta) <- docsSeq; (ib, sb, lb, tb) <- docsSeq
      if ia < ib && sa == sb && la == lb && jac(sh3(ta), sh3(tb)) >= 0.5
    } yield (ia, ib)).toSet
    assert(want.size == 200 * 199 / 2 + 1, s"fixture arithmetic: ${want.size}")
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("minhash collapse: identical-doc swarm keeps its duplicates despite the bucket cap") {
    // 300 identical docs — above the default maxBucketSize of 256. Before
    // the set-collapse, identical docs shared EVERY band bucket, so the cap
    // dropped all of them and the swarm lost its own duplicate pairs; now
    // the swarm reaches banding as one representative and its members pair
    // within the group at jaccard 1.0
    val swarmText = "all work and no play makes jack a dull boy again today"
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = textA + " today"
    val other = "zebras quietly migrate across vast plains under violet skies"
    val docsSeq: Seq[(Long, String, String, String)] =
      (0L until 300L).map(i => (i, "web", "en", swarmText)) ++ Seq(
        (300L, "web", "en", textA),
        (301L, "web", "en", textB),
        (302L, "web", "en", other))
    val dir = java.nio.file.Files.createTempDirectory("minhash_swarm").toString
    docsSeq.toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.relational.DataPipelineQueries.queries("dedup_minhash")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    (0L until 300L).foreach { i =>
      val (n, dupOf, j) = rows(i)
      assert(n == 300L && dupOf >= 0L && dupOf != i && j == 1.0,
        s"swarm doc $i lost its dup: ${rows(i)}")
    }
    // the singletons: the near-dup pair points at each other with the
    // verified exact Jaccard; the unrelated doc has no partner
    assert(rows(300L)._1 == 1L && rows(300L)._2 == 301L && rows(300L)._3 >= 0.5,
      s"near-dup verdict: ${rows(300L)}")
    assert(rows(301L)._1 == 1L && rows(301L)._2 == 300L && rows(301L)._3 >= 0.5,
      s"near-dup verdict: ${rows(301L)}")
    assert(rows(302L) == ((1L, -1L, -1.0)), s"unrelated verdict: ${rows(302L)}")
    // the near-dup pair itself (distinct texts, jaccard ≥ 0.5) must still
    // surface through the banding path the query is built on
    val base = docsSeq.toDF("doc_id", "source", "lang", "text")
      .select(col("doc_id"), TextOps.normalized("text").as("norm"))
      .withColumn("sh", TextOps.charShingles("norm", 5))
      .withColumn("sig", TextOps.minhashSigCol(col("sh"), 64))
    val pairs = TextOps.candidatePairs(
      bandBuckets(base, "doc_id", "sig", bands = 16, rowsPerBand = 4), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((300L, 301L)), "near-dup pair missed by banding")
  }

  test("text_repetition: signals match a hand computation") {
    // "the cat the cat runs": toks n=5 distinct=3 → dup_word 0.4; bigrams
    // [the cat, cat the, the cat, cat runs] → top 2/4 = 0.5; length 20 →
    // 13 8-gram positions, "the cat " repeats (pos 1 and 9) → 1 - 12/13
    val docsSeq = Seq(
      (0L, "web", "en", "the cat the cat runs"),
      (1L, "web", "en", "hello"),
      (2L, "web", "en", "123 456 123 456 789"))
    val dir = java.nio.file.Files.createTempDirectory("rep").toString
    docsSeq.toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.relational.DataPipelineQueries.queries("text_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows(0L) == ((0.4, 0.5, BigDecimal(1.0 - 12.0 / 13.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)), rows(0L).toString)
    assert(rows(1L) == ((0.0, 0.0, 0.0)), rows(1L).toString)
    // token-free doc (digits only): NO duplicate words, not "100% duplicates"
    assert(rows(2L)._1 == 0.0 && rows(2L)._2 == 0.0, rows(2L).toString)
  }

  test("text_pii_scrub: redacts emails and phones, counts match, md5 is of the scrubbed text") {
    val docsSeq = Seq(
      (0L, "web", "en", "contact bob@example.com or call 555-123-4567 today"),
      (1L, "web", "en", "no pii here at all"),
      (2L, "web", "en", "two mails a@b.co c.d@e-f.org and 012.345.6789"),
      // phone-shaped local part: consumed by the email tag, NOT double-counted
      (3L, "web", "en", "spam from 123-456-7890@spam.com arrived"))
    val dir = java.nio.file.Files.createTempDirectory("pii").toString
    docsSeq.toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = graft.relational.DataPipelineQueries.queries("text_pii_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rows(0L) == ((1L, 1L,
      md5hex("contact <EMAIL> or call <PHONE> today"))), rows(0L).toString)
    assert(rows(1L) == ((0L, 0L, md5hex("no pii here at all"))), rows(1L).toString)
    assert(rows(2L) == ((2L, 1L,
      md5hex("two mails <EMAIL> <EMAIL> and <PHONE>"))), rows(2L).toString)
    assert(rows(3L) == ((1L, 0L,
      md5hex("spam from <EMAIL> arrived"))), rows(3L).toString)
  }

  test("simhash: near-dups within small Hamming distance, unrelated far") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hs = simhashCodes(corpus.withColumn("toks", TextOps.tokens("text")), "doc_id", col("toks"))
      .withColumnRenamed("simhash", "h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ham(hs(0L), hs(1L)) <= 6, s"near-dup hamming ${ham(hs(0L), hs(1L))}")
    assert(ham(hs(0L), hs(2L)) > 10, s"unrelated hamming ${ham(hs(0L), hs(2L))}")
    assert(hs(0L) == hs(4L), "simhash must be case-insensitive (lowered tokens)")
  }
}
