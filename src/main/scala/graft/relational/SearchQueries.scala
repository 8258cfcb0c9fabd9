package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.{Similarity, TextOps}

/** Retrieval wave: RAG-style document chunking, inverted-index
  * construction, and BM25 ranked keyword search — the retrieval side of
  * the training-data pipeline (chunk for embedding, index for lookup,
  * rank for retrieval-augmented sampling).
  *
  * All three ride the canonical token expression
  * ([[TextOps.tokens]]: `regexp_extract_all(lower(text), '[a-z]+')`) that
  * the vocab/BPE/decontaminate family already oracle-matches, so the
  * tokenizer-parity ground is proven. Conventions as in the sibling
  * modules: floats rounded BEFORE any comparison or rank, counts BIGINT,
  * total ORDER BY, aliases identical to the DuckDB oracle.
  */
object SearchQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.tbl(s, d, "documents")

  // ------------------------------------------------------------- chunking
  /** Overlapping fixed-size chunking for embedding/RAG: each document is
    * split into windows of 50 tokens with stride 40 (10-token overlap so
    * no boundary sentence is lost), the standard prep before an
    * embedding pass. Pure per-row codegen: tokenize once, compute the
    * chunk count in closed form, `explode(sequence(...))` the chunk ids
    * and `slice`/`array_join` each window — no UDF, no shuffle at all
    * until the presentation sort, and each input row fans out to
    * ⌈(n−50)/40⌉+1 rows independent of every other row, so the operator
    * is embarrassingly parallel at any scale (the sink would be
    * `sink_partitioned`-style, not the total ORDER BY the gate's stable
    * hash needs). Chunk windows at the tail may be short; empty docs are
    * dropped (no tokens ⇒ nothing to embed). */
  private def textChunk(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      // empty-doc drop expressed on the RAW column: `tokens` is the
      // [a-z]+ runs of lower(text), so "has a token" ⟺ lower(text)
      // contains an [a-z] char. The previous filter(size(toks) > 0) was
      // pushed below the Project computing toks, re-inlining the full
      // regexp tokenization into an interpreted Filter (a second
      // corpus-wide tokenize); this single-char
      // rlike scans cheaply and leaves exactly one tokenize in the plan
      .filter(lower(col("text")).rlike("[a-z]"))
      .select(col("doc_id"), TextOps.tokens("text").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("n_chunks",
        when(col("n") <= 50, lit(1L))
          .otherwise(ceil((col("n") - 50).cast("double") / 40.0).cast("long") + 1L))
      .select(col("doc_id"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_id"),
        col("toks"))
      .withColumn("piece", expr("slice(toks, cast(chunk_id * 40 + 1 as int), 50)"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("piece")).cast("long").as("n_tokens"),
        array_join(col("piece"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))

  // ------------------------------------------------------- inverted index
  /** Inverted-index build for the 100 highest-document-frequency terms:
    * postings (term → document, term frequency) plus each term's df. Two
    * map-side-combinable hash aggregates — (token, doc) term counts, then
    * per-token document counts — a bounded `TakeOrdered` for the 100-term
    * lexicon (deterministic ties: df DESC, token ASC; never a global
    * sort), and a BROADCAST join of that 100-row lexicon back onto the
    * postings, so the only exchanges at 100 TB are the two combinable
    * aggregations. A full-vocabulary index would simply drop the lexicon
    * cap and write `sink_partitioned`-style by term prefix; the cap is
    * what keeps the gate artifact bounded. */
  private def textInvertedIndex(s: SparkSession, d: String): DataFrame = {
    val tf = docs(s, d)
      .select(col("doc_id"), explode(TextOps.tokens("text")).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val lexicon = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(100)
    tf.join(broadcast(lexicon), "token")
      .select(col("token"), col("df"), col("doc_id"), col("tf"))
      .orderBy(col("token"), col("doc_id"))
  }

  // --------------------------------------------------------------- BM25
  /** BM25-ranked keyword search (k₁=1.2, b=0.75) for the fixed query
    * {spark, window, merge}: the scoring pass a retrieval-augmented
    * sampler runs over the index. Plan shape: the corpus token stream is
    * semi-joined to the 3-row query lexicon BEFORE any aggregation (the
    * `isin` filter is codegen'd into the scan projection), so the tf
    * aggregate only ever sees query-term hits; document lengths are one
    * combinable aggregate over the same scan; N and avgdl collapse to a
    * 1-row broadcast; per-term df is a query-lexicon-sized broadcast.
    * Top-20 via `TakeOrdered` on an EXACT INTEGER score: idf rounded to
    * 6 dp, each term contribution rounded to 6 dp then lifted to BIGINT
    * micros, and the document score is `sum(w_micros)` — an integer sum,
    * hence independent of partition/accumulation order (ties to doc_id).
    * The r13 shape summed the rounded DOUBLES and re-rounded to 4 dp;
    * double summation is order-dependent in the last ulp, so a term sum
    * landing within an ulp of a 4-dp half boundary could flip between
    * runs and between engines — exactly the driver-gate hash-fail on
    * search_hybrid_weighted. Integer micros close that class. */
  private def textSearchBm25(s: SparkSession, d: String): DataFrame = {
    val query = Seq("spark", "window", "merge")
    val dl = docs(s, d)
      .select(col("doc_id"), size(TextOps.tokens("text")).cast("double").as("dl"))
    // tokens exploded INLINE (generator child = the regexp expression):
    // the previous named-column shape (`base.select(explode(col("toks")))`)
    // paid InferFiltersFromGenerate's re-inline tax — size(tokens) > 0 &&
    // isnotnull(tokens) pushed below the Project, tokenizing the corpus
    // twice more per row. Inline children infer
    // nothing (the Spark 4.1 rule guards on Attribute children).
    val hits = docs(s, d)
      .select(col("doc_id"), explode(TextOps.tokens("text")).as("token"))
      .filter(col("token").isin(query: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      round(avg(col("dl")), 6).as("avgdl"))
    val dfT = hits.groupBy(col("token")).agg(count(lit(1)).cast("double").as("dft"))
    hits
      .join(dl, "doc_id")
      .join(broadcast(dfT), "token")
      .crossJoin(broadcast(stats))
      .withColumn("idf_r",
        round(log((col("n_docs") - col("dft") + 0.5) / (col("dft") + 0.5) + 1.0), 6))
      .withColumn("w_r", round(
        col("idf_r") * col("tf") * 2.2 /
          (col("tf") + (col("dl") / col("avgdl") * 0.75 + 0.25) * 1.2), 6))
      .withColumn("w_micros", expr("cast(round(w_r * 1000000) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w_micros")).as("score_micros"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_micros").desc, col("doc_id")).limit(20)
  }

  // ------------------------------------------------------ feature hashing
  /** Hash-trick featurization (64-bucket "hashing vectorizer"): each token
    * maps to `md5(token)`'s first byte mod 64 and the document becomes a
    * sparse (doc_id, feature_idx, cnt) vector — the fixed-dimension,
    * vocabulary-free encoding a downstream linear model or MinHash-free
    * clusterer consumes. Entirely collision-deterministic across engines:
    * the bucket is derived from the md5 HEX CHARACTERS via explicit ascii
    * arithmetic (both engines agree on md5 and ascii; no engine-local
    * integer-parse function is involved). One explode into one map-side-
    * combinable aggregate — the same shape as text_vocab, scale-free. */
  private def featureHash(s: SparkSession, d: String): DataFrame = {
    val hv = (pos: Int) =>
      s"IF(ascii(substr(hx, $pos, 1)) >= 97, ascii(substr(hx, $pos, 1)) - 87," +
        s" ascii(substr(hx, $pos, 1)) - 48)"
    docs(s, d)
      .select(col("doc_id"), explode(TextOps.tokens("text")).as("token"))
      .withColumn("hx", md5(col("token")))
      .withColumn("feature_idx", expr(s"(${hv(1)} * 16 + ${hv(2)}) % 64").cast("long"))
      .groupBy(col("doc_id"), col("feature_idx"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("doc_id"), col("feature_idx"))
  }

  // -------------------------------------------------- deterministic reservoir
  /** Deterministic k-per-key "reservoir" sample (k=10 eval docs per
    * language): classic reservoir sampling is sequential and
    * arrival-order dependent — the distributable determinization keeps
    * the k SMALLEST content-addressed hashes per key instead, which is
    * order-independent, stable under re-runs/retries/corpus growth (a
    * doc's fate depends only on its id), and exactly the bounded
    * [[graft.functions.TopKRows]] aggregate: O(k) state per key, map-side
    * combine, each input partition ships ≤ k candidates — never the
    * rank-window's full per-key sort. Priority = the first 4 md5 hex
    * chars via the same engine-portable ascii arithmetic as feature_hash,
    * negated so the aggregate's value-DESC order means hash-ASC; ties
    * (16-bit space) break on doc_id inside the aggregate and the oracle
    * alike. */
  private def sampleReservoir(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val hv = (pos: Int) =>
      s"IF(ascii(substr(hx, $pos, 1)) >= 97, ascii(substr(hx, $pos, 1)) - 87," +
        s" ascii(substr(hx, $pos, 1)) - 48)"
    val agg = ColumnBridge.column(graft.functions.TopKRows(10,
      ColumnBridge.expression(col("neg_hv")),
      ColumnBridge.expression(col("doc_id"))).toAggregateExpression())
    docs(s, d).select(col("lang"), col("doc_id"))
      .withColumn("hx", md5(col("doc_id").cast("string")))
      .withColumn("neg_hv", expr(
        s"-cast(((${hv(1)} * 16 + ${hv(2)}) * 16 + ${hv(3)}) * 16 + ${hv(4)} as double)"))
      .groupBy(col("lang")).agg(agg.as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("lang"), (col("i") + 1).cast("long").as("rank"),
        col("e.id").as("doc_id"))
      .orderBy(col("lang"), col("rank"))
  }

  // ----------------------------------------------------------- hybrid RRF
  /** RRF constant (Cormack et al. 2009's k=60) and the leg / fused depths. */
  private[relational] val RrfK = 60
  private[relational] val HybridLegK = 20
  private[relational] val HybridTopK = 10

  /** Reciprocal-rank FUSION of two leg rankings — factored out so the spec
    * can pin the fusion math on synthetic legs (the r12 verdict's
    * acceptance case: a doc at rank 2 in BOTH legs must beat a doc at
    * rank 1 in one leg and absent from the other). Integer arithmetic
    * end-to-end: each present leg contributes `10⁹ div (RrfK + rank)` —
    * truncating division, exact on both engines — absent legs contribute
    * 0; fused order is (score DESC, doc_id), top [[HybridTopK]] kept.
    *
    * @param lex (qid, doc_id, rank) lexical leg, rank 1-based BIGINT
    * @param vec (qid, doc_id, rank) vector leg */
  private[relational] def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.select(col("qid"), col("doc_id"), col("rank").as("lex_rank"))
      .join(vec.select(col("qid"), col("doc_id"), col("rank").as("vec_rank")),
        Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"1000000000L div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000L div ($RrfK + vec_rank)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rrf_score").desc, col("doc_id"))))
      .filter(col("fused_rank") <= HybridTopK)
      .select(col("qid"), col("doc_id"), col("rrf_score"),
        col("fused_rank").cast("long").as("fused_rank"),
        col("lex_rank"), col("vec_rank"))

  /** HYBRID retrieval via reciprocal-rank fusion — the r12 verdict's
    * "what's missing" #3, the RAG-serving shape nearly every retrieval
    * pipeline ships: for each of the 10 fixed query docs (doc_id < 10 —
    * the similarity family's query-subset convention; embeddings.vec_id
    * indexes the same corpus ids), fuse (a) a BM25 more-like-this leg
    * (the query doc's DISTINCT tokens as terms, the proven
    * text_search_bm25 rounding discipline, self excluded, top
    * [[HybridLegK]]) with (b) the exact cosine top-[[HybridLegK]] leg
    * (the proven similarity_topk construction) — RRF with k=[[RrfK]] in
    * pure integer arithmetic ([[rrfFuse]]).
    *
    * 100-TB shape: the lexical leg is the corpus token stream semi-joined
    * to the (small, broadcast) query lexicon before any aggregation plus
    * two combinable aggregates; the vector leg's brute force stands in
    * for the IVF path at the exactness gate (similarity_ivf/ivfpq hold
    * the scale story); fusion itself is query-keyed joins over ≤ 2·legK
    * rows per query — nothing corpus-sized past the legs. */
  private def searchHybridRrf(s: SparkSession, d: String): DataFrame = {
    val legs = hybridLegsTable(s, d)
    def leg(name: String) = legs.filter(col("leg") === name)
      .select(col("qid"), col("doc_id"), col("rank"))
    rrfFuse(leg("lex"), leg("vec")).orderBy(col("qid"), col("fused_rank"))
  }

  /** Both retrieval legs persisted once per corpus (the family-memo
    * pattern, `family_builds` name "hybrid_legs"): `leg = 'lex'` rows
    * carry the BM25 more-like-this score, `leg = 'vec'` rows the exact
    * cosine — BOTH as exact BIGINT micros (`score_micros`), each with its
    * 1-based per-query rank — search_hybrid_rrf and search_hybrid_weighted
    * fuse from the same table, the way a serving stack scores each leg
    * once and feeds every fusion policy from the cached leg results.
    * The lex score is `sum` of per-term 6-dp weights lifted to BIGINT
    * micros — an exact integer sum, order-independent (the r13
    * `round(sum(double), 4)` flipped at 4-dp half boundaries with
    * partition order: the round's one driver-gate hash-fail); the vec
    * score is the 6-dp cosine lifted to micros. */
  private val hybridLegsMemo = new graft.core.SessionMemo[String](dir =>
    DataPipelineQueries.deleteRecursively(java.nio.file.Paths.get(dir)),
    name = "hybrid_legs")

  private def hybridLegsTable(s: SparkSession, d: String): DataFrame =
    s.read.parquet(hybridLegsDir(s, d))

  private def hybridLegsDir(s: SparkSession, d: String): String =
    hybridLegsMemo.getOrBuild(s, d) {
      val base = docs(s, d).select(col("doc_id"), TextOps.tokens("text").as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dl = base.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
      val qTerms = base.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), explode(array_distinct(col("toks"))).as("token"))
      val qTok = qTerms.select(col("token")).distinct()
      // postings restricted to query terms BEFORE aggregation (the bm25 plan
      // rule); eager because df and the per-query fan-out both read it
      val qHits = base.select(col("doc_id"), explode(col("toks")).as("token"))
        .join(broadcast(qTok), "token")
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .localCheckpoint(true)
      val dfT = qHits.groupBy(col("token")).agg(count(lit(1)).cast("double").as("dft"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
        round(avg(col("dl")), 6).as("avgdl"))
      val lexScores = qHits
        .join(broadcast(qTerms), "token")
        .filter(col("doc_id") =!= col("qid"))
        .join(dl, "doc_id")
        .join(broadcast(dfT), "token")
        .crossJoin(broadcast(stats))
        .withColumn("idf_r",
          round(log((col("n_docs") - col("dft") + 0.5) / (col("dft") + 0.5) + 1.0), 6))
        .withColumn("w_r", round(
          col("idf_r") * col("tf") * 2.2 /
            (col("tf") + (col("dl") / col("avgdl") * 0.75 + 0.25) * 1.2), 6))
        .withColumn("w_micros", expr("cast(round(w_r * 1000000) as bigint)"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("w_micros")).as("score_micros"))
      val lex = lexScores
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score_micros").desc, col("doc_id"))))
        .filter(col("rank") <= HybridLegK)
        .select(lit("lex").as("leg"), col("qid"), col("doc_id"),
          col("score_micros"), col("rank").cast("long").as("rank"))
      val e = Tables.embeddings(s, d)
      val vec = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = HybridLegK)
        .withColumn("score_micros", expr("cast(round(cosine * 1000000) as bigint)"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score_micros").desc, col("neighbor"))))
        .select(lit("vec").as("leg"), col("qid"), col("neighbor").as("doc_id"),
          col("score_micros"), col("rank").cast("long").as("rank"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_hybrid_legs_")
      lex.unionByName(vec).write.mode("overwrite").parquet(tmp.toString)
      base.unpersist()
      tmp.toString
    }

  /** Weighted-sum hybrid — the MIN-MAX-normalized alpha-blend fusion
    * (Elastic/Vespa-style "linear" hybrid) beside [[searchHybridRrf]]'s
    * rank-only one: each leg's EXACT-INTEGER micro scores are normalized
    * per query to [0, 10⁶] in exact integer arithmetic
    * (`(10⁶·(s − min)) div (max − min)`; a constant leg normalizes to
    * 10⁶), then fused as 0.6·lex + 0.4·vec via `(6·lex + 4·vec) div 10`,
    * absent legs contributing 0. Unlike RRF, score GAPS matter: a leg
    * that ranks a doc far above its runner-up keeps that margin through
    * fusion. Serves from the same memoized leg table; fusion is
    * query-keyed joins over ≤ 2·[[HybridLegK]] rows per query. Every
    * value from leg score to fused rank is integer arithmetic — no
    * double ever feeds the output, so no accumulation-order flake. */
  private def searchHybridWeighted(s: SparkSession, d: String): DataFrame =
    weightedFuseFromLegs(hybridLegsTable(s, d))

  private def weightedFuseFromLegs(legs: DataFrame): DataFrame = {
    def leg(name: String) = legs.filter(col("leg") === name)
      .select(col("qid"), col("doc_id"), col("score_micros"))
    weightedFuse(leg("lex"), leg("vec")).orderBy(col("qid"), col("fused_rank"))
  }

  /** Spec for the persisted hybrid leg artifact: exact-integer-micro bm25
    * lexical leg + brute-force-cosine vector leg, top-[[HybridLegK]]. */
  private[relational] val HybridLegsSpec =
    s"bm25micro_lex.cos6micro_vec.top$HybridLegK"

  private[relational] def saveHybridLegs(s: SparkSession, d: String,
                                         root: String): Unit =
    graft.core.ArtifactStore.save(root, HybridLegsSpec,
      Seq("legs" -> hybridLegsTable(s, d)),
      // the memo table IS the artifact — file-copy, don't re-encode (r17)
      sourceDirs = Map("legs" -> hybridLegsDir(s, d)))

  private[relational] def loadHybridLegs(s: SparkSession, root: String): DataFrame =
    graft.core.ArtifactStore.load(s, root, HybridLegsSpec, Seq(
      "legs" -> "leg:string,qid:bigint,doc_id:bigint,score_micros:bigint,rank:bigint"
    )).head

  /** Gate: the weighted hybrid fusion served from a RELOADED leg artifact
    * (r15 verdict ask #3 — the hybrid_legs memo as a cross-session
    * table; production search stacks persist per-leg scores and fuse at
    * query time). All-integer legs round-trip parquet exactly; oracle =
    * search_hybrid_weighted's SQL VERBATIM. */
  private def searchHybridPersist(s: SparkSession, d: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_legs_persist_")
    try {
      saveHybridLegs(s, d, tmp.toString)
      weightedFuseFromLegs(loadHybridLegs(s, tmp.toString)).localCheckpoint(true)
    } finally DataPipelineQueries.deleteRecursively(tmp)
  }

  /** The weighted fusion math factored like [[rrfFuse]] so the spec can
    * pin it on synthetic legs: min-max normalize each leg per query to
    * [0, 10⁶] in exact integer arithmetic
    * (`(10⁶·(s−min)) div (max−min)` over BIGINT micro scores; a constant
    * leg normalizes to 10⁶), fuse 0.6/0.4 as `(6·lex + 4·vec) div 10`
    * with absent legs contributing 0.
    *
    * @param lex (qid, doc_id, score_micros) — exact BIGINT micro scores
    * @param vec (qid, doc_id, score_micros) — exact BIGINT micro scores */
  private[relational] def weightedFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    def normed(df: DataFrame, out: String) = {
      val w = Window.partitionBy(col("qid"))
      df.withColumn("mn", min(col("score_micros")).over(w))
        .withColumn("mx", max(col("score_micros")).over(w))
        .select(col("qid"), col("doc_id"),
          expr("""CASE WHEN mx = mn THEN 1000000L
                  ELSE (1000000L * (score_micros - mn)) div (mx - mn) END""").as(out))
    }
    normed(lex, "lex_norm")
      .join(normed(vec, "vec_norm"), Seq("qid", "doc_id"), "full_outer")
      .withColumn("fused_micros",
        expr("""(6L * coalesce(lex_norm, 0L) + 4L * coalesce(vec_norm, 0L)) div 10L"""))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("fused_micros").desc, col("doc_id"))))
      .filter(col("fused_rank") <= HybridTopK)
      .select(col("qid"), col("doc_id"), col("fused_micros"),
        col("fused_rank").cast("long").as("fused_rank"),
        col("lex_norm"), col("vec_norm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_reservoir" -> (sampleReservoir _),
    "feature_hash" -> (featureHash _),
    "text_chunk" -> (textChunk _),
    "text_inverted_index" -> (textInvertedIndex _),
    "text_search_bm25" -> (textSearchBm25 _),
    "search_hybrid_rrf" -> (searchHybridRrf _),
    "search_hybrid_weighted" -> (searchHybridWeighted _),
    "search_hybrid_persist" -> (searchHybridPersist _),
  )

  /** The two legs as shared oracle CTEs — `lexr` (qid, doc_id, BM25
    * score_micros, rank) and `vecr` (qid, doc_id, cosine score_micros,
    * rank), both exact BIGINT micros (per-term 6-dp weights lifted to
    * integers BEFORE the order-independent integer sum) — composed by
    * both fusion oracles exactly as the engines compose
    * [[hybridLegsTable]]. */
  private def hybridLegsCteSql: String =
    s"""base AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
      |              FROM documents),
      |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM base),
      |qterms AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS token
      |           FROM base WHERE doc_id < 10),
      |postings AS MATERIALIZED (
      |  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS token FROM base)
      |  WHERE token IN (SELECT DISTINCT token FROM qterms)
      |  GROUP BY 1, 2),
      |dft AS (SELECT token, CAST(count(*) AS DOUBLE) AS dft FROM postings GROUP BY token),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |                 round(avg(dl), 6) AS avgdl FROM dl),
      |w AS (SELECT q.qid, p.doc_id,
      |        round(round(ln((s.n_docs - d.dft + 0.5) / (d.dft + 0.5) + 1.0), 6)
      |              * p.tf * 2.2
      |              / (p.tf + (l.dl / s.avgdl * 0.75 + 0.25) * 1.2), 6) AS w_r
      |      FROM postings p
      |      JOIN qterms q USING (token)
      |      JOIN dl l ON l.doc_id = p.doc_id
      |      JOIN dft d USING (token)
      |      CROSS JOIN stats s
      |      WHERE p.doc_id <> q.qid),
      |lexs AS (SELECT qid, doc_id,
      |                sum(CAST(round(w_r * 1000000) AS BIGINT)) AS score_micros
      |         FROM w GROUP BY 1, 2),
      |lexr AS (SELECT qid, doc_id, score_micros, CAST(rn AS BIGINT) AS rank FROM (
      |          SELECT qid, doc_id, score_micros,
      |                 row_number() OVER (PARTITION BY qid
      |                                    ORDER BY score_micros DESC, doc_id) AS rn
      |          FROM lexs) WHERE rn <= $HybridLegK),
      |q2 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |p2 AS (
      |  SELECT q2.qid, e.vec_id,
      |         list_sum(list_transform(generate_series(1, len(q2.qe)),
      |                                 i -> q2.qe[i]::DOUBLE * e.embedding[i]::DOUBLE)) AS dot,
      |         list_sum(list_transform(generate_series(1, len(q2.qe)),
      |                                 i -> q2.qe[i]::DOUBLE * q2.qe[i]::DOUBLE)) AS n1,
      |         list_sum(list_transform(generate_series(1, len(e.embedding)),
      |                                 i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) AS n2
      |  FROM q2, embeddings e WHERE q2.qid <> e.vec_id),
      |vecr AS (SELECT qid, vec_id AS doc_id, score_micros, CAST(rn AS BIGINT) AS rank FROM (
      |          SELECT qid, vec_id,
      |                 CAST(round(round(dot / (sqrt(n1) * sqrt(n2)), 6) * 1000000)
      |                      AS BIGINT) AS score_micros,
      |                 row_number() OVER (PARTITION BY qid
      |                   ORDER BY CAST(round(round(dot / (sqrt(n1) * sqrt(n2)), 6) * 1000000)
      |                                 AS BIGINT) DESC, vec_id) AS rn
      |          FROM p2) WHERE rn <= $HybridLegK)""".stripMargin

  /** Base literals plus the *_persist alias (family SQL verbatim — see
    * DataPipelineQueries.oracle). */
  lazy val oracle: Map[String, String] = oracleBase +
    ("search_hybrid_persist" -> oracleBase("search_hybrid_weighted"))

  private lazy val oracleBase: Map[String, String] = Map(
    // same 4-hex-char priority, hash-ASC with doc_id tiebreak
    "sample_reservoir" ->
      """WITH h AS (SELECT lang, doc_id,
        |             (((CASE WHEN ascii(substr(hx, 1, 1)) >= 97
        |                     THEN ascii(substr(hx, 1, 1)) - 87
        |                     ELSE ascii(substr(hx, 1, 1)) - 48 END) * 16
        |               + (CASE WHEN ascii(substr(hx, 2, 1)) >= 97
        |                       THEN ascii(substr(hx, 2, 1)) - 87
        |                       ELSE ascii(substr(hx, 2, 1)) - 48 END)) * 16
        |              + (CASE WHEN ascii(substr(hx, 3, 1)) >= 97
        |                      THEN ascii(substr(hx, 3, 1)) - 87
        |                      ELSE ascii(substr(hx, 3, 1)) - 48 END)) * 16
        |             + (CASE WHEN ascii(substr(hx, 4, 1)) >= 97
        |                     THEN ascii(substr(hx, 4, 1)) - 87
        |                     ELSE ascii(substr(hx, 4, 1)) - 48 END) AS hv
        |           FROM (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx
        |                 FROM documents)),
        |r AS (SELECT lang, doc_id,
        |             CAST(row_number() OVER (PARTITION BY lang
        |                                     ORDER BY hv, doc_id) AS BIGINT) AS rank
        |      FROM h)
        |SELECT lang, rank, doc_id FROM r WHERE rank <= 10
        |ORDER BY lang, rank""".stripMargin,
    // same md5-hex ascii arithmetic — no engine-local hex parse involved
    "feature_hash" ->
      """WITH t AS (SELECT doc_id, md5(token) AS hx
        |           FROM (SELECT doc_id,
        |                   unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |                 FROM documents)),
        |f AS (SELECT doc_id,
        |        ((CASE WHEN ascii(substr(hx, 1, 1)) >= 97
        |               THEN ascii(substr(hx, 1, 1)) - 87
        |               ELSE ascii(substr(hx, 1, 1)) - 48 END) * 16
        |         + (CASE WHEN ascii(substr(hx, 2, 1)) >= 97
        |                 THEN ascii(substr(hx, 2, 1)) - 87
        |                 ELSE ascii(substr(hx, 2, 1)) - 48 END)) % 64 AS feature_idx
        |      FROM t)
        |SELECT doc_id, CAST(feature_idx AS BIGINT) AS feature_idx,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM f GROUP BY 1, 2 ORDER BY doc_id, feature_idx""".stripMargin,
    // identical closed-form chunk count and 1-based inclusive slices
    "text_chunk" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
        |           FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks,
        |             CASE WHEN n <= 50 THEN 1
        |                  ELSE CAST(ceil((n - 50) / 40.0) AS BIGINT) + 1 END AS n_chunks
        |      FROM n),
        |x AS (SELECT doc_id, toks,
        |             unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM c),
        |p AS (SELECT doc_id, chunk_id,
        |             list_slice(toks, CAST(chunk_id * 40 + 1 AS BIGINT),
        |                        CAST(chunk_id * 40 + 50 AS BIGINT)) AS piece
        |      FROM x)
        |SELECT doc_id, chunk_id, CAST(len(piece) AS BIGINT) AS n_tokens,
        |       array_to_string(piece, ' ') AS chunk_text
        |FROM p ORDER BY doc_id, chunk_id""".stripMargin,
    // df DESC, token ASC lexicon cap; postings complete per kept term
    "text_inverted_index" ->
      """WITH tf AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
        |            FROM (SELECT doc_id,
        |                    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |lex AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
        |        ORDER BY df DESC, token LIMIT 100)
        |SELECT tf.token, lex.df, tf.doc_id, tf.tf
        |FROM tf JOIN lex ON tf.token = lex.token
        |ORDER BY tf.token, tf.doc_id""".stripMargin,
    // same rounding ladder: idf@6dp -> term weight@6dp -> BIGINT micros
    // -> exact integer sum -> rank (order-independent by construction)
    // full replay of both legs + the integer RRF fusion: the BM25 leg with
    // each query doc's distinct tokens as terms (identical rounding chain
    // to text_search_bm25), the exact-cosine leg (identical construction
    // to similarity_topk), 10^9 // (60 + rank) contributions, (score DESC,
    // doc_id) fused order, top-10 per query
    "search_hybrid_rrf" ->
      s"""WITH $hybridLegsCteSql,
        |lex AS (SELECT qid, doc_id, rank AS lex_rank FROM lexr),
        |vec AS (SELECT qid, doc_id, rank AS vec_rank FROM vecr),
        |fused AS (
        |  SELECT coalesce(l.qid, v.qid) AS qid,
        |         coalesce(l.doc_id, v.doc_id) AS doc_id,
        |         coalesce(CAST(1000000000 // ($RrfK + l.lex_rank) AS BIGINT), 0)
        |       + coalesce(CAST(1000000000 // ($RrfK + v.vec_rank) AS BIGINT), 0) AS rrf_score,
        |         l.lex_rank, v.vec_rank
        |  FROM lex l FULL OUTER JOIN vec v
        |    ON l.qid = v.qid AND l.doc_id = v.doc_id)
        |SELECT qid, doc_id, rrf_score, CAST(rn AS BIGINT) AS fused_rank,
        |       lex_rank, vec_rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                 ORDER BY rrf_score DESC, doc_id) AS rn FROM fused)
        |WHERE rn <= $HybridTopK
        |ORDER BY qid, fused_rank""".stripMargin,
    "search_hybrid_weighted" ->
      s"""WITH $hybridLegsCteSql,
        |lexn AS (
        |  SELECT qid, doc_id,
        |         CASE WHEN mx = mn THEN 1000000
        |              ELSE (1000000 * (smic - mn)) // (mx - mn) END AS lex_norm
        |  FROM (SELECT qid, doc_id, score_micros AS smic,
        |               min(score_micros) OVER (PARTITION BY qid) AS mn,
        |               max(score_micros) OVER (PARTITION BY qid) AS mx
        |        FROM lexr)),
        |vecn AS (
        |  SELECT qid, doc_id,
        |         CASE WHEN mx = mn THEN 1000000
        |              ELSE (1000000 * (smic - mn)) // (mx - mn) END AS vec_norm
        |  FROM (SELECT qid, doc_id, score_micros AS smic,
        |               min(score_micros) OVER (PARTITION BY qid) AS mn,
        |               max(score_micros) OVER (PARTITION BY qid) AS mx
        |        FROM vecr)),
        |fused AS (
        |  SELECT coalesce(l.qid, v.qid) AS qid,
        |         coalesce(l.doc_id, v.doc_id) AS doc_id,
        |         (6 * coalesce(l.lex_norm, 0) + 4 * coalesce(v.vec_norm, 0)) // 10
        |           AS fused_micros,
        |         CAST(l.lex_norm AS BIGINT) AS lex_norm,
        |         CAST(v.vec_norm AS BIGINT) AS vec_norm
        |  FROM lexn l FULL OUTER JOIN vecn v
        |    ON l.qid = v.qid AND l.doc_id = v.doc_id)
        |SELECT qid, doc_id, CAST(fused_micros AS BIGINT) AS fused_micros,
        |       CAST(rn AS BIGINT) AS fused_rank, lex_norm, vec_norm
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |                 ORDER BY fused_micros DESC, doc_id) AS rn FROM fused)
        |WHERE rn <= $HybridTopK
        |ORDER BY qid, fused_rank""".stripMargin,
    "text_search_bm25" ->
      """WITH base AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
        |              FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM base),
        |hits AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        |         FROM (SELECT doc_id, unnest(toks) AS token FROM base)
        |         WHERE token IN ('spark', 'window', 'merge')
        |         GROUP BY 1, 2),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 round(avg(dl), 6) AS avgdl FROM dl),
        |dft AS (SELECT token, CAST(count(*) AS DOUBLE) AS dft FROM hits GROUP BY token),
        |w AS (SELECT h.doc_id,
        |        round(round(ln((s.n_docs - d.dft + 0.5) / (d.dft + 0.5) + 1.0), 6)
        |              * h.tf * 2.2
        |              / (h.tf + (l.dl / s.avgdl * 0.75 + 0.25) * 1.2), 6) AS w_r
        |      FROM hits h
        |      JOIN dl l USING (doc_id)
        |      JOIN dft d USING (token)
        |      CROSS JOIN stats s)
        |SELECT doc_id,
        |       CAST(sum(CAST(round(w_r * 1000000) AS BIGINT)) AS BIGINT) AS score_micros,
        |       CAST(count(*) AS BIGINT) AS n_terms
        |FROM w GROUP BY doc_id
        |ORDER BY score_micros DESC, doc_id LIMIT 20""".stripMargin,
  )
}
