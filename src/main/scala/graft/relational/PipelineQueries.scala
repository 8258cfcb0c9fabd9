package graft.relational

import graft.core._
import graft.core.SessionMemo.withTempDir
import graft.pipeline.AnomalyDetection
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2 kernel operators (llk_score, pfsa_infer, pfsa_sample,
  * cluster_*, sink/source, stream_*, …) exposed through the driver contract.
  * These have no DuckDB equivalent (SURVEY.md §2.10) — the driver records a
  * rows-only check; real correctness lives in the ScalaTest property/golden
  * specs (LlkSpec, GenESeSSSpec, AnomalyDetectionSpec).
  *
  * All of them run on the events table as the long-form corpus:
  * seq_id = user_id, symbols = quantize_simple of value (per-user windows,
  * no global shuffle beyond the per-user sort).
  */
object PipelineQueries {

  /** events → (seq_id, symbols: array<tinyint>) via quantize_simple. */
  private def sequences(s: SparkSession, d: String): DataFrame = {
    val long = Tables.eventsLong(s, d).withColumnRenamed("user_id", "seq_id")
    AnomalyDetection.toArrays(Quantize.simple(long))
  }

  private def fitParams = AnomalyDetection.Params(
    anomalySensitivity = 2.0, nClusters = 2, quantize = true,
    quantizeType = "simple", eps = 0.2)

  /** The fitted flagship model is consumed by three registered queries
    * (sink_model_dill's roundtrip, source_model_dill's load-serve,
    * predict_scalar_or_vec) over the identical corpus with identical
    * params — a [[graft.core.SessionMemo]] amortizes the deterministic
    * fit the way a deployment serves one trained model to many callers.
    * Since r17 the memo also holds the FULL-CORPUS prediction table
    * (parquet, the lm_scores score-table pattern): the build comes from
    * [[AnomalyDetection.fitPredict]] — predictions fall out of the fit's
    * own scoring pass for free — and the two consumers that re-predicted
    * the corpus against the memoized model (predict_scalar_or_vec's
    * vector leg, source_model_dill's from-fit comparator) scan the table
    * instead. Parquet-backed, NOT a checkpoint: the bench's block-manager
    * hygiene between queries would destroy memoized checkpoint blocks.
    * [[AnomalyDetection.fit]] stays the unmemoized bypass (multilevel /
    * streaming fits use their own windows + params and never share). */
  private val fitMemo =
    new SessionMemo[(DataFrame, AnomalyDetection.Model, String)]("fitted_model")

  private def fitOn(s: SparkSession, d: String): (DataFrame, AnomalyDetection.Model) = {
    val (long, model, _) = fitOnWithPred(s, d)
    (long, model)
  }

  private def fitOnWithPred(
      s: SparkSession, d: String): (DataFrame, AnomalyDetection.Model, String) =
    fitMemo.getOrBuild(s, d) { tmp =>
      val long = Tables.eventsLong(s, d).withColumnRenamed("user_id", "seq_id")
      val (model, pred) = AnomalyDetection.fitPredict(s, long, fitParams)
      pred.write.mode("overwrite").parquet(tmp.toString)
      (long, model, tmp.toString)
    }

  /** The memoized full-corpus prediction table (seq_id, is_anomaly,
    * closest, llk) — bit-identical to predict(model, long) by the
    * [[AnomalyDetection.fitPredict]] construction. */
  private def fittedPred(s: SparkSession, d: String): DataFrame =
    s.read.parquet(fitOnWithPred(s, d)._3)

  /** Flagship: full fit + predict on the events corpus (reference
    * detection.py:77-163). Deliberately BYPASSES [[fitMemo]]: this entry's
    * benchmark number is the COLD end-to-end train+score cost (the one
    * compared against the reference's fit+predict wall), so it must pay
    * its own fit every run — only the downstream consumers amortize.
    *
    * Output is a SELF-VERIFYING grid (r9 verdict ask #4) so the DuckDB
    * gate can oracle what raw model-dependent predictions never could:
    * one row per sequence, every invariant recomputed IN-QUERY through
    * the ARRAY llk kernel ([[Llk.scoreAll]] — a different engine than
    * predict's long-form fold, the llk_score_long parity pattern) and
    * the model's literal per-cluster stats:
    *  - `anom_matches_rule`: predict's is_anomaly ⇔ llk > mean + k·std
    *    for EVERY cluster (detection.py:147-149), bounds baked in as
    *    literals from the fitted model;
    *  - `closest_achieves_min`: the assigned closest cluster's
    *    array-kernel llk IS the minimum over the library (argmin
    *    membership — tie-agnostic), or closest = -1 with all llks +∞;
    *  - `llk_matches`: predict's reported minimum llk equals the array
    *    kernel's (bit-exact or ≤1e-9, +∞ = +∞);
    *  - `anom_frac_bounded`: fit-on-self sanity — at sensitivity 2σ the
    *    flagged fraction of the training corpus stays below half.
    * The oracle enumerates the per-user row universe with literal TRUEs. */
  def pipelineFitPredict(s: SparkSession, d: String): DataFrame = {
    val long = Tables.eventsLong(s, d).withColumnRenamed("user_id", "seq_id")
    // fused fit+predict (r17): the separate predict re-quantized and
    // re-scored the corpus the fit's own-stats pass had just scored
    val (model, pred) = AnomalyDetection.fitPredict(s, long, fitParams)
    // the array-kernel comparator feeds BOTH the expected-bounds aggregate
    // and the assigned-cluster lookup below — checkpointed or the kernel
    // sweep runs twice
    val arr = Llk.scoreAll(s, sequences(s, d), model.library).localCheckpoint(true)
    val boundCol = element_at(
      array(model.bounds.map(lit).toIndexedSeq: _*), col("cluster_id") + 1)
    val expected = arr.withColumn("bound", boundCol)
      .groupBy(col("seq_id"))
      .agg(bool_and(col("llk") > col("bound")).as("e_anom"),
        min(col("llk")).as("e_llk"))
    val assigned = arr.select(col("seq_id"),
      col("cluster_id").cast("int").as("closest"), col("llk").as("a_llk"))
    val joined = pred.join(expected, Seq("seq_id"), "full_outer")
      .join(assigned, Seq("seq_id", "closest"), "left")
    val inf = lit(Double.PositiveInfinity)
    val graded = joined.select(col("seq_id"),
        (col("is_anomaly").isNotNull && col("e_anom").isNotNull &&
          col("is_anomaly") === col("e_anom")).as("anom_matches_rule"),
        ((col("closest") === -1 && col("e_llk") === inf) ||
          (col("a_llk").isNotNull && col("a_llk") <= col("e_llk") + lit(1e-9)))
          .as("closest_achieves_min"),
        (col("llk") === col("e_llk") || abs(col("llk") - col("e_llk")) <= lit(1e-9))
          .as("llk_matches"),
        col("is_anomaly"))
    val frac = graded.agg(
      (avg(col("is_anomaly").cast("int")) < 0.5).as("anom_frac_bounded"))
    graded.crossJoin(broadcast(frac))
      .select(col("seq_id"), col("anom_matches_rule"),
        col("closest_achieves_min"), col("llk_matches"), col("anom_frac_bounded"))
      .orderBy("seq_id")
  }

  /** llk_score (reference Alg. 1, detection.py:141): long cluster_llks
    * matrix of every sequence vs a deterministic model library.
    *
    * VALUE-LEVEL DuckDB oracle: both fixture machines are symbol-
    * synchronizing (δ(q,σ)=σ, Pfsa.scala:151-160), so after the first
    * symbol the Alg.-1 belief state collapses EXACTLY to a one-hot (the
    * renormalization computes mass/mass = 1.0 in IEEE arithmetic) and the
    * llk reduces to a first-order Markov sum the oracle recomputes with a
    * lag window over the quantized stream — the kernel's actual numbers
    * are hash-checked by an independent engine, not just self-compared. */
  def llkScore(s: SparkSession, d: String): DataFrame =
    Llk.scoreAll(s, sequences(s, d), Seq(Pfsa.m2, Pfsa.m2u))
      .select(col("seq_id"), col("cluster_id").cast("long").as("cluster_id"),
        round(col("llk"), 6).as("llk"))
      .orderBy("seq_id", "cluster_id")

  /** llk_score_long: the array-free llk scale path ([[Llk.scoreAllLong]],
    * SURVEY §4.2 item 1) SELF-VERIFIED against the array path inside the
    * query — emits one row per (seq, model) with `agree` = the two engines
    * produced the same llk (bit-exact or ≤1e-9; +∞ matches +∞). The DuckDB
    * oracle enumerates the expected (seq, model) grid with agree=true, so
    * any divergence, missing row, or extra row hash-fails the driver gate. */
  def llkScoreLong(s: SparkSession, d: String): DataFrame = {
    val lib = Seq(Pfsa.m2, Pfsa.m2u)
    val long = Quantize.simple(
      Tables.eventsLong(s, d).withColumnRenamed("user_id", "seq_id"))
    val longScores = Llk.scoreAllLong(s, long, lib)
    val arrScores = Llk.scoreAll(s, AnomalyDetection.toArrays(long), lib)
      .withColumnRenamed("llk", "llk_arr")
    longScores.join(arrScores, Seq("seq_id", "cluster_id"), "full_outer")
      .select(col("seq_id"), col("cluster_id").cast("long").as("cluster_id"),
        (col("llk").isNotNull && col("llk_arr").isNotNull &&
          (col("llk") === col("llk_arr") || abs(col("llk") - col("llk_arr")) <= lit(1e-9)))
          .as("agree"))
      .orderBy("seq_id", "cluster_id")
  }

  /** pfsa_sample (reference Prun, detection.py:730): seeded sample paths.
    *
    * VALUE-LEVEL DuckDB oracle: the sampler's randomness is counter-based
    * ([[Pfsa.HashUniform]] — md5 of "<seed>:<t>"), so the oracle recomputes
    * the identical uniforms from md5 hex digits in SQL and replays the
    * Markov walk with a recursive CTE — every one of the 25 600 sampled
    * symbols is hash-checked by an independent engine. */
  def pfsaSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val numRepeats = 100
    val dataLen = 256
    s.range(numRepeats)
      .map { i => (i, Pfsa.m2.sample(dataLen, seed = 42L + i).map(_.toInt).toSeq) }
      .toDF("path_id", "symbols")
      .select(col("path_id"), posexplode(col("symbols")).as(Seq("t", "symbol")))
      .select(col("path_id"), col("t").cast("long").as("t"), col("symbol"))
      .orderBy("path_id", "t")
  }

  /** pfsa_infer (GenESeSS, detection.py:372-395): one PFSA per event_type
    * cluster, SELF-VERIFIED as distributed/local parity (the
    * llk_score_long pattern): the long-form inference engine
    * ([[GenESeSS.inferAllLong]] — run-based heap + visit-sweep aggregates,
    * no collect_list) must reproduce the array kernel machine-for-machine
    * on the same labeled data, and the verdict grid is what the DuckDB
    * oracle pins (clusters enumerate from the event_type domain). This
    * hash-gates the core scale claim — that the array-free training path
    * is EXACT, not approximate. The machine-dump surface stays available
    * via pfsa_infer_single (golden-checked) and
    * AnomalyDetection.describePfsas; GenESeSSSpec asserts the same parity
    * with degenerate members at spec level. */
  def pfsaInfer(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val long = Tables.events(s, d)
      .withColumn("t", (row_number().over(Tables.seqWindow) - 1).cast("long"))
      .select(col("user_id").as("seq_id"), col("t"), col("value"), col("event_type"))
    // event_type → cluster id via a collected distinct map: the type domain is
    // a small constant (~ a handful of values), so the driver round-trip is
    // bounded; the map goes back as a broadcast join — no global window.
    val typeList = long.select(col("event_type")).distinct().collect()
      .map(_.getString(0)).sorted
    val typeIds = typeList.zipWithIndex
      .map { case (t, i) => (t, i) }.toSeq.toDF("event_type", "cluster")
    // long-form inference: a "sequence" is one (user, type) sub-stream; its
    // global per-user t ranks are re-ranked dense within the pair so the
    // visit aggregate folds single head runs — no collect_list anywhere
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seq_id"), col("event_type")).orderBy(col("t"))
    // eagerly materialized ONCE (r17): the events→quantize→double-rank
    // chain below feeds FOUR full passes (long engine: ngram heap + visit
    // sweep; array engine: the collect_list grouping, itself read twice
    // inside inferAll) — uncheckpointed, each pass re-ran the whole chain
    val labeled = Quantize.simple(long, "seq_id", "t", "value")
      .join(broadcast(typeIds), Seq("event_type"))
      .select(struct(col("seq_id"), col("event_type")).as("seq_id"),
        (row_number().over(w) - 1).cast("long").as("t"),
        col("symbol"), col("cluster"))
      .localCheckpoint(true)
    // cluster ids are BY CONSTRUCTION 0..n-1 (the zipWithIndex over the
    // collected type domain) — pass them instead of letting inferAllLong
    // re-scan the labeled join for a distinct the driver already holds
    // (the r16 knownClusters lever, unused here until now)
    val lib = GenESeSS.inferAllLong(s, labeled, alphabetSize = 2,
      GenESeSS.Params(eps = 0.2),
      knownClusters = Some(typeList.indices))
    // array path over the SAME labeled rows — the independent comparator;
    // checkpointed because inferAll folds it twice (heap + visit sweep)
    // and the collect_list grouping is the expensive step
    val arrInput = labeled
      .groupBy(col("seq_id"), col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(t, symbol))), x -> x.symbol)")
        .as("symbols"))
      .select(col("cluster"), col("symbols"))
      .localCheckpoint(true)
    val libArr = GenESeSS.inferAll(s, arrInput, alphabetSize = 2, GenESeSS.Params(eps = 0.2))
    val sameClusters = lib.keySet == libArr.keySet
    lib.keys.toSeq.sorted.map { c =>
      val a = lib(c)
      val ok = sameClusters && libArr.get(c).exists { m =>
        a.numStates == m.numStates &&
          a.conn.map(_.toSeq).toSeq == m.conn.map(_.toSeq).toSeq &&
          a.pitilde.flatMap(_.toSeq).zip(m.pitilde.flatMap(_.toSeq))
            .forall { case (x, y) => math.abs(x - y) <= 1e-9 }
      }
      (c, ok)
    }.toDF("cluster", "machines_agree").orderBy("cluster")
  }

  /** pfsa_infer_single (detection.py:694-724): GenESeSS on ONE sequence —
    * a seeded 4000-symbol M2 sample, so the inference kernel's output is
    * data-independent and frozen as a golden VALUES oracle (like sink_dot /
    * sink_pfsa_file): any drift in the GenESeSS numerics hash-fails the
    * gate. The data-driven multi-sequence path stays exercised by
    * pfsa_infer; spec-level recovery evidence is GenESeSSSpec. */
  def pfsaInferSingle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val one = Pfsa.m2.sample(4000, seed = 7L)
    val p = GenESeSS.inferLocal(one, alphabetSize = 2, GenESeSS.Params(eps = 0.2))
    (for (q <- p.pitilde.indices; sym <- 0 until p.alphabetSize)
      yield (q, sym, BigDecimal(p.pitilde(q)(sym)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        p.conn(q)(sym)))
      .toDF("state", "symbol", "prob", "next_state")
      .orderBy("state", "symbol")
  }

  /** events → quantized long form (seq_id, t, symbol), the array-free input
    * shape for clustering/inference queries. */
  private def quantizedLong(s: SparkSession, d: String): DataFrame =
    Quantize.simple(Tables.eventsLong(s, d).withColumnRenamed("user_id", "seq_id"))

  /** cluster_kmeans (detection.py:332-339): seeded KMeans on llk features,
    * computed from the long form (no sequence array cells).
    *
    * Output is a SELF-VERIFYING grid (the similarity_ann pattern) so the
    * DuckDB gate can oracle what a label column never could (labels are
    * MLlib-internal): one row per sequence with
    *  - `in_range`: 0 ≤ cluster < k;
    *  - `is_nearest`: the row's assigned center is the argmin of the k
    *    squared distances, recomputed IN-QUERY from `vector_to_array` and
    *    the model's literal centers (Lloyd's assignment invariant — a
    *    broken relabel, a stale center, or a features/assign mismatch all
    *    flip it to false);
    *  - `freq_rank_ok`: the frequency-relabel contract, cluster sizes
    *    non-increasing in label order (k-row bounded driver check).
    * The oracle emits the row universe (one row per event-bearing user)
    * with literal TRUEs. */
  def clusterKmeans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val feat = Cluster.featuresLong(s, quantizedLong(s, d), alphabetSize = 2)
    val (labeled, centers, sizes) = Cluster.assignFeaturesWithCenters(feat, nClusters = 3)
    val freqRankOk = sizes.sliding(2).forall(w => w.length < 2 || w(0) >= w(1))
    val fa = labeled.withColumn("fa", vector_to_array(col("features")))
    def dist2(k: Int): Column = aggregate(
      zip_with(col("fa"), typedLit(centers(k).toSeq), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, y) => acc + y)
    val ds = (0 until 3).map(dist2)
    val assignedD = when(col("cluster") === 0, ds(0))
      .when(col("cluster") === 1, ds(1)).otherwise(ds(2))
    fa.select(col("seq_id"),
        (col("cluster") >= 0 && col("cluster") < 3).as("in_range"),
        (assignedD <= least(ds(0), ds(1), ds(2)) + lit(1e-9)).as("is_nearest"),
        lit(freqRankOk).as("freq_rank_ok"))
      .orderBy("seq_id")
  }

  /** cluster_reduce_scc (detection.py:401-469): confusion graph → SCC count,
    * every pass (features, inference, scoring) on the long form.
    *
    * Output is a verdict grid: `n_clusters` is the configured k (a
    * replayable literal), and the SCC count is checked IN-QUERY against an
    * INDEPENDENT driver recompute — boolean-matrix transitive closure of
    * the same ≤k-node confusion graph (k² bits; Tarjan and closure can
    * only agree when the SCC partition is right). Bounds ride along. */
  def clusterReduceScc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val long = quantizedLong(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val labels = Cluster.assignFeatures(
        Cluster.featuresLong(s, long, alphabetSize = 2), nClusters = 3)
      val lib = GenESeSS.inferAllLong(s, long.join(labels, "seq_id"),
        alphabetSize = 2, GenESeSS.Params(eps = 0.2))
      val ordered = lib.toSeq.sortBy(_._1).map(_._2)
      val n = ordered.size
      val fracs = Cluster.llkTally(Llk.scoreWide(s, long, ordered), labels, n).fractions
      val reduced = Cluster.reducedClusterCount(fracs, n)
      // independent recompute: reachability closure (Floyd-Warshall over
      // booleans), SCC = equivalence classes of mutual reachability
      val reach = Array.tabulate(n, n)((i, j) => i == j)
      fracs.foreach { case (i, j, f) =>
        if (f >= 0.2 && i < n && j < n) reach(i)(j) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val classes = (0 until n).map(i =>
        (0 until n).filter(j => reach(i)(j) && reach(j)(i)).toSet).distinct.size
      Seq((n.toLong, reduced >= 1, reduced <= n, reduced == classes))
        .toDF("n_clusters", "reduced_ge_1", "reduced_le_n", "tarjan_matches_closure")
    } finally long.unpersist()
  }

  /** union_find (reference _utils.py:58-109): component count over the
    * bipartite user↔event_type graph, notebook-workflow parity.
    *
    * Scale shape: the bipartite components equal the components of the
    * type–type co-occurrence graph (every user with ≥1 event hangs off its
    * types' component), so the driver only ever sees (a) two scalar counts
    * and (b) the distinct type-pair edge list — ≤ |event_type|² rows, a
    * domain-constant bound — never the data-sized (user, type) edge set. */
  def unionFind(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val cnts = ev.agg(countDistinct(col("user_id")).as("nu"),
      countDistinct(col("event_type")).as("nt")).head()
    val (nUsers, nTypes) = (cnts.getLong(0), cnts.getLong(1))
    // per user: its (sorted) type set collapses to edges (min_type, t) —
    // enough to connect the user's clique — then global distinct
    val typeEdges = ev.groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr("transform(ts, t -> struct(ts[0] as a, t as b))")).as("e"))
      .select(col("e.a"), col("e.b")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
    val types = typeEdges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = types.zipWithIndex.toMap
    val uf = new Cluster.UnionFind(types.length)
    typeEdges.foreach { case (a, b) => uf.union(idx(a), idx(b)) }
    // types never seen in events don't exist here; isolated users don't either
    Seq((nUsers + nTypes, uf.components.toLong)).toDF("n_nodes", "n_components")
  }

  /** sink_pfsa_file (detection.py:502-547): reference text format, verified
    * by round-tripping through the codec. */
  def sinkPfsaFile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lib = Seq(Pfsa.m2, Pfsa.m2u)
    lib.zipWithIndex.map { case (p, i) =>
      val txt = p.toText
      val back = Pfsa.fromText(txt)
      (i, txt, back.numStates == p.numStates)
    }.toDF("cluster", "pfsa_text", "roundtrip_ok").orderBy("cluster")
  }

  /** source_pfsa_table: the machines [[sinkPfsaFile]] writes read BACK
    * through the `pfsa` DataSource V2 CONNECTOR
    * ([[graft.sources.PfsaDataSource]]) — `spark.read.format("pfsa")`
    * resolves via the DataSourceRegister service file and exposes each
    * `*.pfsa` file as transition rows, one InputPartition per file, with
    * real column pruning (spec-asserted on the scan output). The golden
    * machines are fixed, so the oracle pins every row's value; a codec
    * drift, a mis-projected column, or a broken service registration
    * hash-fails the gate. */
  def sourcePfsaTable(s: SparkSession, d: String): DataFrame =
    withTempDir("pfsa_src") { tmp =>
      Seq("m2" -> Pfsa.m2, "m2u" -> Pfsa.m2u).foreach { case (n, p) =>
        java.nio.file.Files.write(tmp.resolve(s"$n.pfsa"),
          p.toText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s.read.format("pfsa").load(tmp.toString)
        .orderBy(col("machine"), col("state"), col("symbol"))
        .localCheckpoint(true)
    }

  /** sink_pfsa_connector: the WRITE side of the pfsa DSv2 connector —
    * transition rows go in scrambled (reversed row order, repartition(7))
    * and `df.write.format("pfsa")` must reassemble one file per machine.
    * The connector's Write declares RequiresDistributionAndOrdering
    * (clustered by machine, sorted (machine, state, symbol)), so SPARK
    * plans the shuffle+sort; a violated distribution cannot pass silently
    * — a split machine leaves each writer a partial grid and the
    * complete-matrix validation throws. Read back through the same
    * connector; the golden grid oracle pins every value, so a lossy
    * writer, a bad rename, or a stale-file leak under overwrite
    * hash-fails. */
  def sinkPfsaConnector(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withTempDir("pfsa_sink") { tmp =>
      val rows = for {
        (n, p) <- Seq("m2" -> Pfsa.m2, "m2u" -> Pfsa.m2u)
        q <- p.conn.indices; sym <- 0 until p.alphabetSize
      } yield (n, q, sym, p.pitilde(q)(sym), p.conn(q)(sym), p.symFrq(sym))
      rows.reverse.toDF("machine", "state", "symbol", "pitilde", "next_state", "sym_frq")
        .repartition(7)
        .write.format("pfsa").mode("overwrite").save(tmp.toString)
      s.read.format("pfsa").load(tmp.toString)
        .orderBy(col("machine"), col("state"), col("symbol"))
        .localCheckpoint(true)
    }
  }

  /** sink_model_dill + source_model_dill (detection.py:166-243): JSON model
    * save → load (pickle replaced by JSON), SELF-VERIFIED as serialization
    * fidelity: per cluster the verdict row asserts the loaded machine and
    * fitted stats are BIT-EQUAL to the in-memory model (Spark's JSON writer
    * emits shortest-round-trip doubles, so exact equality is the contract,
    * not a tolerance). The DuckDB oracle pins the expected verdict grid —
    * the fitted alphabet is the quantize_simple binary alphabet, and the
    * k = 2 request yields 2 clusters on this corpus at every sf (seeded
    * KMeans, deterministic). A lossy field, swapped cluster, or dropped
    * matrix row hash-fails the gate; AnomalyDetectionSpec covers the
    * behavioral roundtrip (same predictions after load). */
  def modelRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, model) = fitOn(s, d)
    // KB-sized, but the same leak class scanBinaryfile had: the saved
    // dir must not outlive the call (modelLoadServe's discipline)
    val loaded = withTempDir("model") { tmp =>
      AnomalyDetection.save(s, model, tmp.toString)
      AnomalyDetection.load(s, tmp.toString)
    }
    // bit-pattern equality for the stats: a cluster whose own-member llks
    // include +inf has a NaN sample std, which round-trips faithfully but
    // fails ==; doubleToLongBits treats it as the equal bits it is
    def bitEq(x: Double, y: Double): Boolean =
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    val rows = model.library.indices.map { i =>
      val a = model.library(i)
      val ok = model.library.size == loaded.library.size && {
        val b = loaded.library(i)
        a.numStates == b.numStates && a.alphabetSize == b.alphabetSize &&
          a.conn.map(_.toSeq).toSeq == b.conn.map(_.toSeq).toSeq &&
          a.pitilde.map(_.toSeq).toSeq == b.pitilde.map(_.toSeq).toSeq &&
          a.symFrq.toSeq == b.symFrq.toSeq &&
          bitEq(model.llkMeans(i), loaded.llkMeans(i)) &&
          bitEq(model.llkStds(i), loaded.llkStds(i)) &&
          model.params == loaded.params && model.alphabetSize == loaded.alphabetSize
      }
      (i, a.alphabetSize, ok)
    }
    rows.toDF("cluster", "alphabet_size", "roundtrip_ok").orderBy("cluster")
  }

  /** source_model_dill as its OWN gate id (r15 verdict ask #6 — until now
    * the load path was only exercised inside [[modelRoundtrip]]'s
    * save→load fidelity verdict): a model saved to a FOREIGN directory is
    * loaded back (detection.py:166-243's load half) and serves the full
    * corpus prediction FROM THE LOADED MODEL ALONE — the deployment shape
    * where the trainer and the scorer are different processes. Verdict:
    * one row per sequence, `loaded_matches_fit` = the loaded-model
    * prediction (is_anomaly, closest, llk) equals the in-memory model's.
    * Bit-equal serialization (modelRoundtrip's contract) implies bit-equal
    * scores, so equality is exact (llk +∞ compares equal; NaN is bridged
    * explicitly — a lossy or reordered field upstream breaks this grid
    * loudly rather than shifting scores silently). */
  def modelLoadServe(s: SparkSession, d: String): DataFrame = {
    val (long, model) = fitOn(s, d)
    withTempDir("model_src") { tmp =>
      AnomalyDetection.save(s, model, tmp.toString)
      val loaded = AnomalyDetection.load(s, tmp.toString)
      val fromLoaded = AnomalyDetection.predict(s, loaded, long)
        .select(col("seq_id"), col("is_anomaly"), col("closest"), col("llk"))
      // DELIBERATELY a fresh predict, NOT the memoized prediction table:
      // this verdict compares llk with EXACT equality, and LlkLongScore's
      // float fold is plan-shape-dependent at the ulp (ObjectHashAggregate
      // sort-fallback splits a group's fold into merged partials when a
      // post-AQE partition holds > 128 groups) — two predict() legs inside
      // one join share a plan shape and fold identically, while a
      // parquet-read comparator computed under the fit's plan diverged by
      // one ulp for 1 of 150 sequences at sf0.01 (r17, measured).
      val fromFit = AnomalyDetection.predict(s, model, long)
        .select(col("seq_id"), col("is_anomaly").as("m_anom"),
          col("closest").as("m_closest"), col("llk").as("m_llk"))
      fromLoaded.join(fromFit, Seq("seq_id"), "full_outer")
        .select(col("seq_id"),
          (col("is_anomaly").isNotNull && col("m_anom").isNotNull &&
            col("is_anomaly") === col("m_anom") &&
            col("closest") === col("m_closest") &&
            (col("llk") === col("m_llk") ||
              (isnan(col("llk")) && isnan(col("m_llk")))))
            .as("loaded_matches_fit"))
        .orderBy(col("seq_id"))
        .localCheckpoint(true) // materialized — the saved dir can go
    }
  }

  /** sink_png analog (detection.py:257-269): graphviz DOT source per PFSA
    * (rendering itself is out of engine scope, SURVEY.md §2.1). */
  def sinkDot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def dot(p: Pfsa): String = {
      val edges = for (q <- p.conn.indices; sym <- 0 until p.alphabetSize)
        yield f"""  q$q -> q${p.conn(q)(sym)} [label="$sym:${p.pitilde(q)(sym)}%.3f"];"""
      ("digraph PFSA {" +: edges :+ "}").mkString("\n")
    }
    Seq(Pfsa.m2, Pfsa.m2u).zipWithIndex.map { case (p, i) => (i, dot(p)) }
      .toDF("cluster", "dot").orderBy("cluster")
  }

  /** predict_scalar_or_vec (detection.py:129,160-163): single-sequence
    * input → single-row (scalar) result, SELF-VERIFIED against the vector
    * path: the scalar prediction must equal the full-corpus prediction
    * restricted to that sequence (the reference's scalar/vector contract —
    * per-sequence scores depend only on the model, never on batch
    * composition). The DuckDB oracle pins the verdict row; a quantizer,
    * densify, or fold step that leaked cross-sequence state would break
    * parity and hash-fail the gate. */
  def predictScalar(s: SparkSession, d: String): DataFrame = {
    val (long, model) = fitOn(s, d)
    val first = long.select(min("seq_id")).head().getLong(0)
    val one = AnomalyDetection.predict(s, model, long.filter(col("seq_id") === first))
    // vector leg = the memoized full-corpus prediction table (bit-identical
    // to predict(model, long) by the fitPredict construction, r17)
    val full = fittedPred(s, d)
      .filter(col("seq_id") === first)
      .select(col("seq_id"), col("is_anomaly").as("v_anom"),
        col("closest").as("v_closest"), col("llk").as("v_llk"))
    one.join(full, Seq("seq_id"), "full_outer")
      .select(col("seq_id"),
        (col("is_anomaly").isNotNull && col("v_anom").isNotNull &&
          col("is_anomaly") === col("v_anom") && col("closest") === col("v_closest") &&
          abs(col("llk") - col("v_llk")) <= lit(1e-9)).as("scalar_matches_full"))
  }

  /** stream_fit_predict (StreamingDetection, detection.py:550-613): one long
    * stream per user → stride windows → batch fit/predict per window,
    * SELF-VERIFIED as window COVERAGE: the DuckDB oracle enumerates exactly
    * the complete stride windows each stream must produce (size 20, stride
    * 10, ragged tail dropped — pure arithmetic on per-stream row counts),
    * and the query emits one verdict row per window the pipeline actually
    * scored, `scored_ok` = the window got a real explicable prediction.
    * This hash-pins the struct-key window identity end-to-end (a packed-key
    * collision, duplicated window, or dropped tail breaks the grid); the
    * per-window anomaly VALUES are kernel scores exercised by
    * AnomalyDetectionSpec / ContinuousStreamingSpec. */
  def streamFitPredict(s: SparkSession, d: String): DataFrame = {
    val long = Tables.eventsLong(s, d).withColumnRenamed("user_id", "seq_id")
    // window identity is a STRUCT key (stream_id, win_id) — no packed-integer
    // key, so no collision however many windows a stream produces.
    val win = Segment.windows(Quantize.simple(long), size = 20, overlap = 10, "seq_id", "t")
      .select(struct(col("seq_id").as("stream_id"), col("win_id")).as("seq_id"),
        col("pos").as("t"), col("symbol").cast("double").as("value"))
    val params = fitParams.copy(quantize = false, nClusters = 1)
    // fused fit+predict (r17): same input frame, one scoring pass
    AnomalyDetection.fitPredict(s, win, params)._2
      .select(col("seq_id.stream_id").as("stream_id"), col("seq_id.win_id").as("win_id"),
        (col("closest") >= 0 && col("is_anomaly").isNotNull).as("scored_ok"))
      .orderBy("stream_id", "win_id")
  }

  /** stream_continuous (ContinuousStreamingDetection, detection.py:616-734):
    * online per-stream pattern-library growth, batch-replayed — emitted as
    * the SELF-VERIFYING per-step grid of
    * [[graft.pipeline.ContinuousDetection.verdictGrid]] (r10 verdict ask
    * #1), which is what gives the one order-dependent entry a DuckDB
    * oracle: one row per complete stride window (size 20, stride 10 — the
    * stream_fit_predict universe) with the emergence rule, the
    * grows-by-exactly-1 library bookkeeping, argmin membership, and llk
    * parity each recomputed OUTSIDE the fold, from codec-round-tripped
    * machines, through the long-engine matrix llk path. The raw
    * (emerged, llk, closest, n_patterns) surface stays available as
    * [[graft.pipeline.ContinuousDetection.fitStream]] and is spec-covered
    * (emergence/checkpoint/watermark specs). */
  def streamContinuous(s: SparkSession, d: String): DataFrame = {
    val long = Tables.eventsLong(s, d).withColumnRenamed("user_id", "seq_id")
    val p = graft.pipeline.ContinuousDetection.Params(
      windowSize = 20, windowOverlap = 10, anomalySensitivity = 2.0,
      quantize = true, quantizeType = "simple", eps = 0.2, bootstrapRepeats = 50)
    graft.pipeline.ContinuousDetection.verdictGrid(s, long, p)
  }

  /** multilevel_pipeline (examples/Agitation_multilevel.ipynb cells 1-2):
    * level-1 StreamingDetection closest-pattern labels become the level-2
    * input stream, scored with quantize=false.
    *
    * Output is a SELF-VERIFYING grid (r9 verdict ask #4): one row per
    * LEVEL-2 window, whose universe the DuckDB oracle enumerates from
    * pure stride arithmetic composed across both levels (level-1 windows
    * per user = ⌊(n−20)/10⌋+1 for n ≥ 20; level-2 windows over that
    * label stream = ⌊(n₁−4)/2⌋+1 for n₁ ≥ 4 — a dropped tail, duplicate
    * window, or off-by-one at EITHER level breaks the grid), with
    *  - `scored_ok`: the window got a real explicable level-2 prediction
    *    (closest ≥ 0, is_anomaly present — the stream_fit_predict gate);
    *  - `input_matches_lvl1`: every symbol the level-2 window consumed
    *    equals the level-1 closest label at its source position
    *    (win_id·stride + pos joined back against the level-1 output —
    *    the layer-2-input ≡ layer-1-output composition contract). */
  def multilevelPipeline(s: SparkSession, d: String): DataFrame = {
    val long = Tables.eventsLong(s, d).withColumnRenamed("user_id", "seq_id")
    // level 1: stride windows over the raw stream, batch fit/predict,
    // per-window closest label (same shape as stream_fit_predict)
    val win1 = Segment.windows(Quantize.simple(long), size = 20, overlap = 10, "seq_id", "t")
      .select(struct(col("seq_id").as("stream_id"), col("win_id")).as("seq_id"),
        col("pos").as("t"), col("symbol").cast("double").as("value"))
    // fused fit+predict (r17): a separate predict re-derived win1 and re-ran
    // the scoring pass the fit's own-stats sweep already paid
    val lvl1 = AnomalyDetection
      .fitPredict(s, win1, fitParams.copy(quantize = false, nClusters = 2))._2
      .select(col("seq_id.stream_id").as("seq_id"), col("seq_id.win_id").as("t"),
        col("closest").cast("double").as("value"))
      // consumed by the level-2 windowing AND the composition check below —
      // uncheckpointed, the full level-1 fit+predict would run twice
      .localCheckpoint(true)
    // level 2: the label sequence is itself a stream — window it again and
    // fit/predict with quantize=false (labels are already symbols);
    // checkpointed: the fused fit consumes it once and the composition
    // check below re-reads it
    val win2 = Segment.windows(lvl1, size = 4, overlap = 2, "seq_id", "t")
      .select(struct(col("seq_id").as("stream_id"), col("win_id")).as("seq_id"),
        col("pos").as("t"), col("value"))
      .localCheckpoint(true)
    val pred2 = AnomalyDetection
      .fitPredict(s, win2, fitParams.copy(quantize = false, nClusters = 2))._2
      .select(col("seq_id.stream_id").as("stream_id"), col("seq_id.win_id").as("win_id"),
        (col("closest") >= 0 && col("is_anomaly").isNotNull).as("scored_ok"))
    // composition check: each level-2 window row's source position is
    // win_id·stride + pos; its value must equal level-1's label there
    val feed = win2.select(col("seq_id.stream_id").as("stream_id"),
        col("seq_id.win_id").as("win_id"),
        (col("seq_id.win_id") * 2 + col("t")).as("src_t"), col("value"))
      .join(lvl1.select(col("seq_id").as("stream_id"), col("t").as("src_t"),
        col("value").as("lvl1_value")), Seq("stream_id", "src_t"), "left")
      .groupBy(col("stream_id"), col("win_id"))
      .agg(bool_and(col("lvl1_value").isNotNull && col("value") === col("lvl1_value"))
        .as("input_matches_lvl1"))
    pred2.join(feed, Seq("stream_id", "win_id"), "full_outer")
      .select(col("stream_id"), col("win_id"),
        coalesce(col("scored_ok"), lit(false)).as("scored_ok"),
        coalesce(col("input_matches_lvl1"), lit(false)).as("input_matches_lvl1"))
      .orderBy("stream_id", "win_id")
  }

  /** cluster_pluggable (reference clustering_alg knob, detection.py:26;
    * FeatureAgglomeration in examples/example3.ipynb): same pipeline with a
    * non-default MLlib estimator.
    *
    * Verdict grid like cluster_kmeans, minus `is_nearest`: BisectingKMeans
    * assigns by descending its split tree, which need not equal the
    * global nearest-center argmin, so the honest invariants here are the
    * label range, the frequency-relabel contract, and divergence from the
    * default path being an ALGORITHM effect, not a harness one (both
    * clusterers saw the identical feature frame — checked by count). */
  def clusterPluggable(s: SparkSession, d: String): DataFrame = {
    val est = new org.apache.spark.ml.clustering.BisectingKMeans()
      .setK(3).setSeed(42L).setFeaturesCol("features").setPredictionCol("raw_label")
    val feat = Cluster.featuresLong(s, quantizedLong(s, d), alphabetSize = 2)
    val (labeled, sizes) =
      Cluster.assignFeaturesWithStats(feat, nClusters = 3, clusterer = Some(est))
    val freqRankOk = sizes.sliding(2).forall(w => w.length < 2 || w(0) >= w(1))
    labeled.select(col("seq_id"),
        (col("cluster") >= 0 && col("cluster") < 3).as("in_range"),
        lit(freqRankOk).as("freq_rank_ok"))
      .orderBy("seq_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_fit_predict" -> (pipelineFitPredict _),
    "stream_continuous" -> (streamContinuous _),
    "multilevel_pipeline" -> (multilevelPipeline _),
    "cluster_pluggable" -> (clusterPluggable _),
    "llk_score" -> (llkScore _),
    "llk_score_long" -> (llkScoreLong _),
    "pfsa_sample" -> (pfsaSample _),
    "pfsa_infer" -> (pfsaInfer _),
    "pfsa_infer_single" -> (pfsaInferSingle _),
    "cluster_kmeans" -> (clusterKmeans _),
    "cluster_reduce_scc" -> (clusterReduceScc _),
    "union_find" -> (unionFind _),
    "sink_pfsa_file" -> (sinkPfsaFile _),
    "source_pfsa_table" -> (sourcePfsaTable _),
    "sink_pfsa_connector" -> (sinkPfsaConnector _),
    "sink_model_dill" -> (modelRoundtrip _),
    "source_model_dill" -> (modelLoadServe _),
    "sink_dot" -> (sinkDot _),
    "predict_scalar_or_vec" -> (predictScalar _),
    "stream_fit_predict" -> (streamFitPredict _),
  )

  /** DuckDB oracles for the self-verifying kernel entries (the kernel math
    * itself has no SQL equivalent; the query emits a verdict the oracle can
    * enumerate — see [[llkScoreLong]]), the relationally-recomputable
    * union_find (connected components via a recursive min-label CTE), and
    * the data-INDEPENDENT sinks, whose outputs are frozen here as golden
    * literals (a format drift in the PFSA text codec or the DOT emitter
    * hash-fails the gate). */
  val oracle: Map[String, String] = Map(
    // verdict grids (the similarity_ann pattern): the row universe is one
    // row per event-bearing user — SQL-replayable — and every invariant
    // column must arrive literally TRUE (computed in-query on the Spark
    // side: Lloyd nearest-center, frequency-relabel monotonicity)
    "cluster_kmeans" ->
      """SELECT user_id AS seq_id, TRUE AS in_range, TRUE AS is_nearest,
        |       TRUE AS freq_rank_ok
        |FROM events GROUP BY user_id ORDER BY seq_id""".stripMargin,
    "cluster_pluggable" ->
      """SELECT user_id AS seq_id, TRUE AS in_range, TRUE AS freq_rank_ok
        |FROM events GROUP BY user_id ORDER BY seq_id""".stripMargin,
    // flagship verdict grid — see pipelineFitPredict's scaladoc: every
    // invariant (anomaly rule vs literal stats, argmin membership via the
    // independent array kernel, min-llk parity, 2σ flagged-fraction bound)
    // is computed in-query; the oracle pins the per-user row universe
    "pipeline_fit_predict" ->
      """SELECT user_id AS seq_id, TRUE AS anom_matches_rule,
        |       TRUE AS closest_achieves_min, TRUE AS llk_matches,
        |       TRUE AS anom_frac_bounded
        |FROM events GROUP BY user_id ORDER BY seq_id""".stripMargin,
    // two-level stride-window universe — see multilevelPipeline's scaladoc:
    // level-1 windows n1 = ⌊(n−20)/10⌋+1 (n ≥ 20), level-2 windows over the
    // n1-long label stream with size 4 / stride 2, ragged tails dropped
    "multilevel_pipeline" ->
      """WITH n AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |w1 AS (SELECT user_id, CAST(floor((n - 20) / 10.0) AS BIGINT) + 1 AS n1
        |       FROM n WHERE n >= 20)
        |SELECT user_id AS stream_id,
        |       unnest(generate_series(CAST(0 AS BIGINT),
        |                              CAST(floor((n1 - 4) / 2.0) AS BIGINT))) AS win_id,
        |       TRUE AS scored_ok, TRUE AS input_matches_lvl1
        |FROM w1 WHERE n1 >= 4
        |ORDER BY stream_id, win_id""".stripMargin,
    // SCC verdict: k is the configured literal; the count itself is
    // checked in-query against an independent reachability-closure SCC
    "cluster_reduce_scc" ->
      """SELECT CAST(3 AS BIGINT) AS n_clusters, TRUE AS reduced_ge_1,
        |       TRUE AS reduced_le_n, TRUE AS tarjan_matches_closure""".stripMargin,
    // value-level kernel oracle — see llkScore's scaladoc: δ(q,σ)=σ makes
    // the Alg.-1 belief walk collapse to a first-order Markov sum after
    // symbol 0 (exactly, in IEEE arithmetic), so DuckDB recomputes the
    // kernel's numbers from the quantized stream with a lag window. The
    // init masses fold the stationary distribution (m2: (3/7, 4/7) from
    // pM = p with M = pitilde; m2u: (1/2, 1/2)) through each machine's
    // first-symbol emission.
    "llk_score" ->
      """WITH sym AS (
        |  SELECT user_id, CAST(row_number() OVER w - 1 AS BIGINT) AS t,
        |         CASE WHEN coalesce(value - lag(value) OVER w, 0) > 0 THEN 1 ELSE 0 END AS symbol
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |m(cluster_id, prev, cur, mass) AS (VALUES
        |  (0, 0, 0, 0.6), (0, 0, 1, 0.4), (0, 1, 0, 0.3), (0, 1, 1, 0.7),
        |  (1, 0, 0, 0.4), (1, 0, 1, 0.6), (1, 1, 0, 0.6), (1, 1, 1, 0.4)),
        |init(cluster_id, cur, mass) AS (VALUES
        |  (0, 0, 3.0/7.0*0.6 + 4.0/7.0*0.3), (0, 1, 3.0/7.0*0.4 + 4.0/7.0*0.7),
        |  (1, 0, 0.5*0.4 + 0.5*0.6), (1, 1, 0.5*0.6 + 0.5*0.4)),
        |steps AS (
        |  SELECT user_id, t, symbol,
        |         lag(symbol) OVER (PARTITION BY user_id ORDER BY t) AS prev
        |  FROM sym)
        |SELECT s.user_id AS seq_id, CAST(c.cluster_id AS BIGINT) AS cluster_id,
        |       round(-sum(log2(CASE WHEN s.prev IS NULL THEN i.mass ELSE m.mass END))
        |             / count(*), 6) AS llk
        |FROM steps s
        |CROSS JOIN (SELECT DISTINCT cluster_id FROM m) c
        |LEFT JOIN m ON m.cluster_id = c.cluster_id AND m.prev = s.prev AND m.cur = s.symbol
        |LEFT JOIN init i ON i.cluster_id = c.cluster_id AND i.cur = s.symbol
        |GROUP BY 1, 2
        |ORDER BY seq_id, cluster_id""".stripMargin,
    "llk_score_long" ->
      """SELECT u.user_id AS seq_id, c.cluster_id, true AS agree
        |FROM (SELECT DISTINCT user_id FROM events) u
        |CROSS JOIN (SELECT CAST(unnest([0, 1]) AS BIGINT) AS cluster_id) c
        |ORDER BY seq_id, cluster_id""".stripMargin,
    // components of the user↔event_type bipartite graph = components of the
    // type–type co-occurrence graph (every user hangs off its types'
    // component); min-label propagation over the tiny type domain
    "union_find" ->
      """WITH RECURSIVE
        |nodes AS (SELECT DISTINCT event_type AS t FROM events),
        |edges AS (
        |  SELECT DISTINCT a.event_type AS ta, b.event_type AS tb
        |  FROM events a JOIN events b USING (user_id)),
        |comp(node, label) AS (
        |  SELECT t, t FROM nodes
        |  UNION
        |  SELECT e.tb, c.label FROM comp c JOIN edges e ON e.ta = c.node
        |  WHERE c.label < e.tb),
        |counts AS (
        |  SELECT count(DISTINCT user_id) AS nu, count(DISTINCT event_type) AS nt
        |  FROM events)
        |SELECT nu + nt AS n_nodes,
        |       (SELECT count(DISTINCT ml)
        |        FROM (SELECT node, min(label) AS ml FROM comp GROUP BY node)) AS n_components
        |FROM counts""".stripMargin,
    // exact replay of the counter-based sampler (see pfsaSample's scaladoc):
    // the inlined expression is Pfsa.HashUniform in SQL — first 8 hex digits
    // of md5("<seed>:<t>") as a 32-bit integer over 2^32 — and the recursive
    // CTE walks M2 (δ(q,σ)=σ, start state from the stationary (3/7, 4/7))
    // with the same cumulative-probability branches as the Scala kernel
    "pfsa_sample" ->
      """WITH RECURSIVE
        |walk(path_id, t, symbol) AS (
        |  SELECT path_id, CAST(0 AS BIGINT) AS t,
        |         CASE WHEN (CASE WHEN s0 = 0 THEN 0.6 ELSE 0.3 END) <=
        |           (list_sum(list_transform(generate_series(1, 8),
        |              i -> (strpos('0123456789abcdef', substr(md5(CAST(42 + path_id AS VARCHAR) || ':0'),
        |                                                      CAST(i AS INT), 1)) - 1)
        |                   * power(16.0, 8 - i))) / 4294967296.0)
        |         THEN 1 ELSE 0 END AS symbol
        |  FROM (
        |    SELECT path_id,
        |           CASE WHEN 3.0/7.0 <=
        |             (list_sum(list_transform(generate_series(1, 8),
        |                i -> (strpos('0123456789abcdef', substr(md5(CAST(42 + path_id AS VARCHAR) || ':-1'),
        |                                                        CAST(i AS INT), 1)) - 1)
        |                     * power(16.0, 8 - i))) / 4294967296.0)
        |           THEN 1 ELSE 0 END AS s0
        |    FROM (SELECT unnest(generate_series(0, 99)) AS path_id))
        |  UNION ALL
        |  SELECT path_id, t + 1,
        |         CASE WHEN (CASE WHEN symbol = 0 THEN 0.6 ELSE 0.3 END) <=
        |           (list_sum(list_transform(generate_series(1, 8),
        |              i -> (strpos('0123456789abcdef',
        |                           substr(md5(CAST(42 + path_id AS VARCHAR) || ':' || CAST(t + 1 AS VARCHAR)),
        |                                  CAST(i AS INT), 1)) - 1)
        |                   * power(16.0, 8 - i))) / 4294967296.0)
        |         THEN 1 ELSE 0 END
        |  FROM walk WHERE t < 255)
        |SELECT path_id, t, symbol FROM walk ORDER BY path_id, t""".stripMargin,
    // distributed/local inference-parity verdict — see pfsaInfer's scaladoc;
    // cluster ids enumerate the sorted event_type domain
    "pfsa_infer" ->
      """SELECT CAST(row_number() OVER (ORDER BY event_type) - 1 AS INT) AS cluster,
        |       true AS machines_agree
        |FROM (SELECT DISTINCT event_type FROM events)
        |ORDER BY cluster""".stripMargin,
    // per-step verdict grid for the online loop — see streamContinuous's
    // scaladoc: same stride-window universe as stream_fit_predict; every
    // order-dependent invariant arrives literally TRUE
    "stream_continuous" ->
      """WITH n AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        |SELECT user_id AS seq_id,
        |       unnest(generate_series(CAST(0 AS BIGINT), CAST(floor((n - 20) / 10.0) AS BIGINT))) AS win_id,
        |       TRUE AS rule_matches, TRUE AS growth_ok, TRUE AS closest_ok,
        |       TRUE AS llk_matches, TRUE AS bounds_ok
        |FROM n WHERE n >= 20
        |ORDER BY seq_id, win_id""".stripMargin,
    // window-coverage verdict — see streamFitPredict's scaladoc: complete
    // stride windows (size 20, stride 10) per stream, ragged tail dropped
    "stream_fit_predict" ->
      """WITH n AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        |SELECT user_id AS stream_id,
        |       unnest(generate_series(CAST(0 AS BIGINT), CAST(floor((n - 20) / 10.0) AS BIGINT))) AS win_id,
        |       true AS scored_ok
        |FROM n WHERE n >= 20
        |ORDER BY stream_id, win_id""".stripMargin,
    // serialization-fidelity verdict — see modelRoundtrip's scaladoc
    "sink_model_dill" ->
      """SELECT * FROM (VALUES (0, 2, true), (1, 2, true))
        |AS t(cluster, alphabet_size, roundtrip_ok) ORDER BY cluster""".stripMargin,
    // loaded-model serving parity — see modelLoadServe's scaladoc; the
    // sequence universe is the flagship grid's (every events user_id)
    "source_model_dill" ->
      """SELECT user_id AS seq_id, TRUE AS loaded_matches_fit
        |FROM events GROUP BY user_id ORDER BY seq_id""".stripMargin,
    // scalar/vector parity verdict — see predictScalar's scaladoc
    "predict_scalar_or_vec" ->
      "SELECT min(user_id) AS seq_id, true AS scalar_matches_full FROM events",
    // golden literal for the data-independent single-sequence inference
    // (seeded M2 sample, see pfsaInferSingle's scaladoc): freezes the
    // GenESeSS numerics end-to-end — ε-cover selection, π̃ estimation,
    // state merging — against kernel drift
    "pfsa_infer_single" ->
      """SELECT * FROM (VALUES
        |  (0, 0, CAST(0.59408 AS DOUBLE), 0), (0, 1, CAST(0.40592 AS DOUBLE), 1),
        |  (1, 0, CAST(0.301176 AS DOUBLE), 0), (1, 1, CAST(0.698824 AS DOUBLE), 1)
        |) AS t(state, symbol, prob, next_state) ORDER BY state, symbol""".stripMargin,
    "sink_dot" ->
      """SELECT * FROM (VALUES
        |  (0, E'digraph PFSA {\n  q0 -> q0 [label="0:0.600"];\n  q0 -> q1 [label="1:0.400"];\n  q1 -> q0 [label="0:0.300"];\n  q1 -> q1 [label="1:0.700"];\n}'),
        |  (1, E'digraph PFSA {\n  q0 -> q0 [label="0:0.400"];\n  q0 -> q1 [label="1:0.600"];\n  q1 -> q0 [label="0:0.600"];\n  q1 -> q1 [label="1:0.400"];\n}')
        |) AS t(cluster, dot) ORDER BY cluster""".stripMargin,
    // write-then-read through the connector lands on the identical golden
    // grid — any loss in the write path diverges from these values
    "sink_pfsa_connector" ->
      """SELECT * FROM (VALUES
        |  ('m2', 0, 0, CAST(0.6 AS DOUBLE), 0, CAST(0.5 AS DOUBLE)),
        |  ('m2', 0, 1, CAST(0.4 AS DOUBLE), 1, CAST(0.5 AS DOUBLE)),
        |  ('m2', 1, 0, CAST(0.3 AS DOUBLE), 0, CAST(0.5 AS DOUBLE)),
        |  ('m2', 1, 1, CAST(0.7 AS DOUBLE), 1, CAST(0.5 AS DOUBLE)),
        |  ('m2u', 0, 0, CAST(0.4 AS DOUBLE), 0, CAST(0.5 AS DOUBLE)),
        |  ('m2u', 0, 1, CAST(0.6 AS DOUBLE), 1, CAST(0.5 AS DOUBLE)),
        |  ('m2u', 1, 0, CAST(0.6 AS DOUBLE), 0, CAST(0.5 AS DOUBLE)),
        |  ('m2u', 1, 1, CAST(0.4 AS DOUBLE), 1, CAST(0.5 AS DOUBLE))
        |) AS t(machine, state, symbol, pitilde, next_state, sym_frq)
        |ORDER BY machine, state, symbol""".stripMargin,
    // golden machines → every transition row pinned by value; doubles
    // CAST so DuckDB's DECIMAL literals never reach the driver compare
    "source_pfsa_table" ->
      """SELECT * FROM (VALUES
        |  ('m2', 0, 0, CAST(0.6 AS DOUBLE), 0, CAST(0.5 AS DOUBLE)),
        |  ('m2', 0, 1, CAST(0.4 AS DOUBLE), 1, CAST(0.5 AS DOUBLE)),
        |  ('m2', 1, 0, CAST(0.3 AS DOUBLE), 0, CAST(0.5 AS DOUBLE)),
        |  ('m2', 1, 1, CAST(0.7 AS DOUBLE), 1, CAST(0.5 AS DOUBLE)),
        |  ('m2u', 0, 0, CAST(0.4 AS DOUBLE), 0, CAST(0.5 AS DOUBLE)),
        |  ('m2u', 0, 1, CAST(0.6 AS DOUBLE), 1, CAST(0.5 AS DOUBLE)),
        |  ('m2u', 1, 0, CAST(0.6 AS DOUBLE), 0, CAST(0.5 AS DOUBLE)),
        |  ('m2u', 1, 1, CAST(0.4 AS DOUBLE), 1, CAST(0.5 AS DOUBLE))
        |) AS t(machine, state, symbol, pitilde, next_state, sym_frq)
        |ORDER BY machine, state, symbol""".stripMargin,
    "sink_pfsa_file" ->
      """SELECT * FROM (VALUES
        |  (0, E'%ANN_ERR: 0.0\n%MRG_EPS: 0.0\n%SYN_STR: \n%SYM_FRQ: 0.5 0.5\n%PITILDE:\n#PITILDE\n0.6 0.4\n0.3 0.7\n%CONNX:\n#CONNX\n0 1\n0 1\n', true),
        |  (1, E'%ANN_ERR: 0.0\n%MRG_EPS: 0.0\n%SYN_STR: \n%SYM_FRQ: 0.5 0.5\n%PITILDE:\n#PITILDE\n0.4 0.6\n0.6 0.4\n%CONNX:\n#CONNX\n0 1\n0 1\n', true)
        |) AS t(cluster, pfsa_text, roundtrip_ok) ORDER BY cluster""".stripMargin,
  )
}
