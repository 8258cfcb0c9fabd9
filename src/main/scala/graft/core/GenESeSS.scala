package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** PFSA inference — GenESeSS (reference Alg. 2, tex/ms.tex:296-338; invoked
  * at detection.py:372-395,700-722; published as chattopadhyay2013abductive).
  *
  * Split per SURVEY.md §2.8:
  *   - the HEAVY part — the "derivative heap" of empirical next-symbol
  *     counts for every context y, |y| ≤ L — is one distributed pass: on
  *     the long form the [[graft.functions.PfsaHeapLong]] aggregate folds
  *     each cluster's t-ordered rows into a count table (runs join at
  *     merge, so counts are exact under any partitioning) and prunes it
  *     before the collect; the array path counts `explode`d n-grams;
  *   - the TINY part — ε-synchronization, BFS state discovery, SCC
  *     restriction — runs on the driver over the heap, which holds at most
  *     Σ_{l≤L} |Σ|^l < |Σ|²/(ε(|Σ|−1)) contexts for in-alphabet data;
  *   - the π̃ transition-count pass is a second distributed sweep with the
  *     inferred skeleton broadcast.
  *
  * Exact numeric parity with the reference's C++ kernel is impossible (binary
  * absent); acceptance is behavioral — recovering known generators within ε
  * (SURVEY.md §7.4 items 1-2), checked in GenESeSSSpec.
  */
object GenESeSS {

  final case class Params(
      eps: Double = 0.1,
      maxL: Int = 8,
      maxStates: Int = 64,
      smooth: Double = 0.5,
      /** Contexts observed fewer times than this are dropped before the
        * driver collect (noise floor; 1 = keep all). */
      minCtxCount: Long = 1L,
      /** Hard cap on contexts per cluster shipped to the driver: the heap
        * keeps only the `maxContexts` most frequent contexts, so the collect
        * is bounded by k·maxContexts·|Σ| rows regardless of data size or
        * alphabet (a 12-symbol alphabet at L=8 would otherwise be |Σ|^L ≈
        * 4.3e8 contexts — a driver bomb at 100-TB scale). */
      maxContexts: Int = 1 << 16)

  /** Context depth L = ⌈log_|Σ|(1/ε)⌉ (tex/ms.tex:299), capped. */
  def contextLength(alphabetSize: Int, eps: Double, maxL: Int = 8): Int = {
    val raw = math.ceil(math.log(1.0 / eps) / math.log(alphabetSize.toDouble)).toInt
    math.min(maxL, math.max(1, raw))
  }

  // Contexts travel as strings of printable chars — one char per symbol,
  // good for alphabets up to 90 symbols (the reference's are ≤ a dozen).
  private val CHAR0 = '!'
  private def enc(s: Byte): Char = (CHAR0 + s).toChar
  private[core] def decodeCtx(ctx: String): Array[Byte] =
    ctx.map(c => (c - CHAR0).toByte).toArray

  /** Distributed derivative-heap counting: for every sequence and position,
    * emit (context y of length 1..L, next symbol); one groupBy produces the
    * empirical φ̂_y counts. `seqs` must have `cluster` and `symbols` columns;
    * output: (cluster, ctx, nxt, cnt).
    *
    * The emit is pure built-ins (`sequence`/`transform`/`slice`/`flatten`),
    * so the hottest stage of inference stays inside whole-stage codegen —
    * no UDF boxing. Contexts travel as `array<tinyint>` slices and are
    * re-encoded to the compact string form only at the driver boundary
    * (inferAll's collect). */
  def ngramCounts(seqs: DataFrame, maxCtxLen: Int): DataFrame =
    seqs
      // sequence(1, 0) would run DESCENDING — drop <2-symbol sequences first
      .filter(size(col("symbols")) >= 2)
      .select(col("cluster"), explode(expr(
        s"""flatten(transform(sequence(1, size(symbols) - 1), t ->
           |  transform(sequence(1, least($maxCtxLen, t)), l ->
           |    struct(slice(symbols, t - l + 1, l) AS ctx,
           |           element_at(symbols, t + 1) AS nxt))))""".stripMargin)).as("e"))
      .select(col("cluster"), col("e.ctx").as("ctx"), col("e.nxt").cast("int").as("nxt"))
      .groupBy("cluster", "ctx", "nxt")
      .agg(count(lit(1)).as("cnt"))

  /** [[ngramCounts]] over LONG-FORM `(seq_id, t, symbol, cluster)` rows:
    * the same (cluster, ctx, nxt, cnt) counts, unpruned, from one
    * [[graft.functions.PfsaHeapLong]] aggregate per cluster — no sequence is
    * ever one array cell, so there is no sequence-length ceiling, and the
    * per-cluster state is the context table (bounded by the alphabet and L)
    * plus one open run per sequence. The input is partitioned by seq_id and
    * t-sorted first, so each sequence folds as one run. */
  def ngramCountsLong(longDf: DataFrame, maxCtxLen: Int): DataFrame =
    heapLong(presorted(longDf), maxCtxLen, minCtxCount = 1L, maxContexts = Int.MaxValue)
      .select(col("cluster"), inline(col("heap")))

  /** Per-cluster (cluster, heap: array<struct<ctx, nxt, cnt>>) over long-form
    * rows, pruned inside the aggregate (see [[graft.functions.PfsaHeapLong]]). */
  private[core] def heapLong(longDf: DataFrame, maxCtxLen: Int, minCtxCount: Long,
                       maxContexts: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val heap = ColumnBridge.column(graft.functions.PfsaHeapLong(
      ColumnBridge.expression(col("seq_id")),
      ColumnBridge.expression(col("t").cast("long")),
      ColumnBridge.expression(col("symbol").cast("byte")),
      maxCtxLen, minCtxCount, maxContexts).toAggregateExpression())
    longDf.groupBy(col("cluster")).agg(heap.as("heap"))
  }

  /** One partition per sequence, t-ascending: the shape the run-based
    * aggregates fold in a single run per sequence. */
  private def presorted(longDf: DataFrame): DataFrame =
    longDf.repartition(col("seq_id")).sortWithinPartitions(col("seq_id"), col("t"))

  /** Driver-side finish for one cluster: heap → (conn, states, annErr, syn). */
  private final case class Skeleton(
      conn: Array[Array[Int]], annErr: Double, synStr: Seq[Int], symFrq: Array[Double])

  private def buildSkeleton(
      heap: Map[String, (Array[Double], Long)],  // ctx -> (φ̂, freq)
      alphabetSize: Int, p: Params): Skeleton = {
    val k = alphabetSize
    if (heap.isEmpty) // degenerate input (length < 2): 1-state uniform machine
      return Skeleton(Array(Array.tabulate(k)(_ => 0)), 0.0, Seq.empty,
        Array.fill(k)(1.0 / k))
    // overall symbol frequency = length-1 context marginal
    val totals = new Array[Double](k)
    heap.foreach { case (ctx, (dist, freq)) =>
      if (ctx.length == 1) {
        var s = 0
        while (s < k) { totals(s) += dist(s) * freq; s += 1 }
      }
    }
    val totMass = totals.sum
    val symFrq = if (totMass > 0) totals.map(_ / totMass) else Array.fill(k)(1.0 / k)

    def linf(a: Array[Double], b: Array[Double]): Double = {
      var m = 0.0; var i = 0
      while (i < k) { m = math.max(m, math.abs(a(i) - b(i))); i += 1 }
      m
    }

    // ε-synchronizing prefix: hull-vertex heuristic — the context whose φ̂ is
    // farthest from the frequency-weighted centroid, max-frequency tiebreak
    // (tex/ms.tex:304-307; SURVEY.md §7.4 item 1).
    val centroid = new Array[Double](k)
    var wsum = 0.0
    heap.foreach { case (_, (dist, freq)) =>
      var i = 0
      while (i < k) { centroid(i) += dist(i) * freq; i += 1 }
      wsum += freq.toDouble
    }
    if (wsum > 0) { var i = 0; while (i < k) { centroid(i) /= wsum; i += 1 } }
    val x0 = heap.toSeq
      .map { case (ctx, (dist, freq)) => (ctx, dist, freq, linf(dist, centroid)) }
      .sortBy { case (ctx, _, freq, d) => (-d, -freq, ctx.length, ctx) }
      .head._1

    // BFS state discovery: a state is an ε-distinct φ̂; transition on σ
    // extends the representative context (trimmed to the deepest suffix
    // present in the heap). New state unless some existing one is ε-close.
    val stateDist = mutable.ArrayBuffer[Array[Double]]()
    val stateCtx = mutable.ArrayBuffer[String]()
    val transitions = mutable.Map[(Int, Int), Int]()
    var mergeErr = 0.0
    var mergeCnt = 0

    def lookup(ctx: String): Option[Array[Double]] = {
      // deepest known suffix of ctx
      var i = 0
      while (i < ctx.length) {
        heap.get(ctx.substring(i)) match {
          case Some((d, _)) => return Some(d)
          case None => i += 1
        }
      }
      None
    }

    def stateFor(dist: Array[Double], ctx: String): Int = {
      var best = -1
      var bestD = Double.MaxValue
      var q = 0
      while (q < stateDist.length) {
        val d = linf(dist, stateDist(q))
        if (d < bestD) { bestD = d; best = q }
        q += 1
      }
      if (best >= 0 && (bestD < p.eps || stateDist.length >= p.maxStates)) {
        mergeErr += bestD; mergeCnt += 1
        best
      } else {
        stateDist += dist; stateCtx += ctx
        stateDist.length - 1
      }
    }

    val d0 = heap(x0)._1
    stateFor(d0, x0)
    val queue = mutable.Queue(0)
    val visited = mutable.Set(0)
    while (queue.nonEmpty) {
      val q = queue.dequeue()
      var s = 0
      while (s < k) {
        val ctx2full = stateCtx(q) + enc(s.toByte)
        val ctx2 = if (ctx2full.length > 16) ctx2full.takeRight(16) else ctx2full
        val distOpt = lookup(ctx2).orElse(Some(symFrq))
        val q2 = stateFor(distOpt.get, ctx2)
        transitions((q, s)) = q2
        if (visited.add(q2)) queue.enqueue(q2)
        s += 1
      }
    }

    // Restrict to the recurrent part: Tarjan SCCs of the transition graph,
    // keep a terminal SCC (no edges leaving it) reachable from the start —
    // the machine's steady-state component (tex/ms.tex:312-315).
    val n = stateDist.length
    val adj = Array.fill(n)(mutable.Set[Int]())
    transitions.foreach { case ((q, _), q2) => adj(q) += q2 }
    val sccOf = tarjan(n, adj.map(_.toSeq))
    val numScc = sccOf.max + 1
    val sccOut = Array.fill(numScc)(false)
    for (q <- 0 until n; q2 <- adj(q)) if (sccOf(q) != sccOf(q2)) sccOut(sccOf(q)) = true
    val terminal = (0 until numScc).filter(!sccOut(_))
    // pick the terminal SCC with the most states (deterministic tiebreak on id)
    val chosen = terminal.maxBy(c => (sccOf.count(_ == c), -c))
    val keep = (0 until n).filter(sccOf(_) == chosen)
    val remap = keep.zipWithIndex.toMap
    val m = keep.length
    val conn = Array.ofDim[Int](m, k)
    for ((q, qi) <- keep.zipWithIndex; s <- 0 until k) {
      val q2 = transitions((q, s))
      // edges leaving the SCC reroute to the ε-closest kept state
      conn(qi)(s) = remap.getOrElse(q2,
        remap(keep.minBy(kq => linf(stateDist(q2), stateDist(kq)))))
    }
    Skeleton(conn, if (mergeCnt > 0) mergeErr / mergeCnt else 0.0,
      decodeCtx(x0).map(_.toInt).toSeq, symFrq)
  }

  /** Iterative Tarjan SCC (driver-side, graph has ≤ maxStates nodes).
    * Port of the reference's DirectedGraph.find_scc (_utils.py:111-160). */
  private[core] def tarjan(n: Int, adj: IndexedSeq[Seq[Int]]): Array[Int] = {
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = mutable.Stack[Int]()
    val sccOf = Array.fill(n)(-1)
    var counter = 0
    var sccCount = 0
    for (root <- 0 until n if index(root) == -1) {
      // explicit work stack: (node, child iterator position)
      val work = mutable.Stack[(Int, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.pop()
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack(v) = true
        }
        var recurse = false
        var i = ci
        val children = adj(v)
        while (i < children.length && !recurse) {
          val w = children(i)
          if (index(w) == -1) {
            work.push((v, i + 1)); work.push((w, 0)); recurse = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!recurse) {
          if (low(v) == index(v)) {
            var w = -1
            while (w != v) {
              w = stack.pop(); onStack(w) = false; sccOf(w) = sccCount
            }
            sccCount += 1
          }
          if (work.nonEmpty) {
            val (parent, _) = work.top
            low(parent) = math.min(low(parent), low(v))
          }
        }
      }
    }
    sccOf
  }

  /** Infer one PFSA per cluster.
    *
    * @param seqs DataFrame with `cluster: int` and `symbols: array<tinyint>`
    * @return cluster id → inferred Pfsa
    */
  def inferAll(spark: SparkSession, seqs: DataFrame, alphabetSize: Int,
               params: Params = Params()): Map[Int, Pfsa] = {
    val k = alphabetSize
    val L = contextLength(k, params.eps, params.maxL)
    val counts = collectHeaps(ngramCounts(seqs, L), k, params)
    val allClusters = seqs.select("cluster").distinct().collect().map(_.getInt(0))
    val skeletons = allClusters.map { cluster =>
      cluster -> buildSkeleton(counts.getOrElse(cluster, Map.empty), k, params)
    }.toMap

    // ---- distributed π̃ estimation: run sequences through the embedded
    // skeletons counting (state, symbol) visits (tex/ms.tex:316-318) — a
    // native codegen expression, and posexplode_OUTER so the kernel isn't
    // cloned into inferred generate filters (see Llk.scoreAll)
    val visits = {
      import org.apache.spark.sql.graft.ColumnBridge
      ColumnBridge.column(graft.functions.PfsaVisitCounts(
        ColumnBridge.expression(col("cluster")),
        ColumnBridge.expression(col("symbols")),
        skeletons.map { case (c, s) => c -> s.conn }, k))
    }
    val visitRows = seqs
      .select(col("cluster"), posexplode_outer(visits).as(Seq("idx", "c")))
      .filter(col("idx").isNotNull)
      .groupBy("cluster", "idx")
      .agg(sum(col("c")).as("c"))
      .collect()
      .groupBy(_.getInt(0))
    assemblePfsas(skeletons, visitRows, k, params)
  }

  /** [[inferAll]] over LONG-FORM labeled rows `(seq_id, t, symbol, cluster)`
    * — no sequence is ever one array cell. Two aggregates read the same
    * seq_id-partitioned, t-sorted input: the [[graft.functions.PfsaHeapLong]]
    * heap (counted, floored at `minCtxCount` and cut to the `maxContexts`
    * largest contexts per cluster inside the aggregate, so only the pruned
    * heap is collected) and the [[graft.functions.PfsaVisitLong]] π̃ sweep
    * (per-group state O(|Q|·|Σ|)). Produces the same machines as
    * [[inferAll]] on the equivalent arrays (spec-checked), with no
    * sequence-length ceiling.
    *
    * @param presort false when the caller already hash-partitioned by seq_id
    *                and sorted by (seq_id, t) — e.g. fit's cached frame —
    *                so neither aggregate adds an exchange of the raw rows
    * @param knownClusters the distinct `cluster` ids present in
    *                      `longLabeled`, when the caller already holds them
    *                      (fit's frequency relabel does) — skips a full
    *                      re-scan of the labeled join just to re-derive them */
  def inferAllLong(spark: SparkSession, longLabeled: DataFrame, alphabetSize: Int,
                   params: Params = Params(), presort: Boolean = true,
                   knownClusters: Option[Seq[Int]] = None): Map[Int, Pfsa] = {
    import org.apache.spark.sql.graft.ColumnBridge
    val k = alphabetSize
    val L = contextLength(k, params.eps, params.maxL)
    val src = if (presort) presorted(longLabeled) else longLabeled
    val counts = heapLong(src, L, params.minCtxCount, params.maxContexts).collect()
      .map(r => r.getInt(0) -> heapOf(
        r.getSeq[Row](1).map(e => (e.getSeq[Byte](0), e.getInt(1), e.getLong(2))), k))
      .toMap
    val allClusters = knownClusters.map(_.toArray).getOrElse(
      longLabeled.select("cluster").distinct().collect().map(_.getInt(0)))
    val skeletons = allClusters.map { cluster =>
      cluster -> buildSkeleton(counts.getOrElse(cluster, Map.empty), k, params)
    }.toMap

    val visitsAgg = ColumnBridge.column(graft.functions.PfsaVisitLong(
      ColumnBridge.expression(col("cluster").cast("int")),
      ColumnBridge.expression(col("t").cast("long")),
      ColumnBridge.expression(col("symbol").cast("byte")),
      skeletons.map { case (c, s) => c -> s.conn }, k).toAggregateExpression())
    // grouping by (cluster, seq_id) reuses src's seq_id partitioning — seq_id
    // colocates the pair, no second exchange
    val visitRows = src
      .groupBy(col("cluster"), col("seq_id"))
      .agg(visitsAgg.as("v"))
      .select(col("cluster").cast("int").as("cluster"),
        posexplode_outer(col("v")).as(Seq("idx", "c")))
      .filter(col("idx").isNotNull)
      .groupBy("cluster", "idx")
      .agg(sum(col("c")).as("c"))
      .collect()
      .groupBy(_.getInt(0))
    assemblePfsas(skeletons, visitRows, k, params)
  }

  /** Array-path heap collection: prune distributively (frequency floor +
    * per-cluster top-`maxContexts` by mass), collect ≤ k·maxContexts·|Σ|
    * rows, and assemble each cluster's heap with [[heapOf]]. */
  private def collectHeaps(ngrams: DataFrame, k: Int,
                           params: Params): Map[Int, Map[String, (Array[Double], Long)]] = {
    val raw = ngrams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keptCtx = raw.groupBy(col("cluster"), col("ctx"))
      .agg(sum(col("cnt")).as("tot"))
      .filter(col("tot") >= params.minCtxCount)
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster")).orderBy(col("tot").desc, col("ctx"))))
      .filter(col("r") <= params.maxContexts)
      .select(col("cluster"), col("ctx"))
    try raw.join(broadcast(keptCtx), Seq("cluster", "ctx"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cluster, rows) =>
        cluster -> heapOf(rows.toSeq.map(r => (r.getSeq[Byte](1), r.getInt(2), r.getLong(3))), k)
      }
    finally raw.unpersist()
  }

  /** Driver boundary for one cluster's pruned (ctx, nxt, cnt) rows: contexts
    * → compact string form, counts → (φ̂, freq). */
  private def heapOf(rows: Seq[(Seq[Byte], Int, Long)],
                     k: Int): Map[String, (Array[Double], Long)] =
    rows.groupBy(_._1.map(enc).mkString)
      .map { case (ctx, rs) =>
        val dist = new Array[Double](k)
        var tot = 0L
        rs.foreach { case (_, nxt, cnt) =>
          // out-of-alphabet next-symbols are skipped, matching localHeap
          // and the scoring kernels (they tolerate caller-supplied
          // alphabetSize smaller than the data's true domain)
          if (nxt >= 0 && nxt < k) { dist(nxt) += cnt.toDouble; tot += cnt }
        }
        var i = 0
        while (i < k && tot > 0L) { dist(i) /= tot; i += 1 }
        ctx -> (dist, tot)
      }

  /** Shared π̃ assembly: smoothed visit counts → row-stochastic emissions. */
  private def assemblePfsas(
      skeletons: Map[Int, Skeleton],
      visitRows: Map[Int, Array[org.apache.spark.sql.Row]],
      k: Int, params: Params): Map[Int, Pfsa] =
    skeletons.map { case (cluster, sk) =>
      val nq = sk.conn.length
      val counts = Array.fill(nq, k)(params.smooth) // Laplace smoothing: no 0-prob emissions
      visitRows.getOrElse(cluster, Array.empty).foreach { r =>
        val idx = r.getInt(1)
        counts(idx / k)(idx % k) += r.getLong(2).toDouble
      }
      val pitilde = counts.map { row =>
        val tot = row.sum
        row.map(_ / tot)
      }
      cluster -> Pfsa(sk.conn, pitilde, sk.symFrq, sk.annErr, params.eps,
        Some(sk.synStr).filter(_.nonEmpty))
    }

  /** Same kernel on a single sequence (online library growth, reference
    * detection.py:694-724). Delegates to the fully-local path — no Spark job
    * for a single window. */
  def inferSingle(spark: SparkSession, symbols: Array[Byte], alphabetSize: Int,
                  params: Params = Params()): Pfsa =
    inferLocal(symbols, alphabetSize, params)

  /** Local (single-JVM) derivative heap for ONE sequence — same counting as
    * [[ngramCounts]], for use where inference must run inside an executor /
    * stream state handler (no nested Spark jobs). Bounded by `maxContexts`
    * like the distributed path. */
  private def localHeap(symbols: Array[Byte], k: Int, maxCtxLen: Int,
                        maxContexts: Int): Map[String, (Array[Double], Long)] = {
    val counts = mutable.HashMap.empty[String, Array[Long]]
    val d = symbols.length
    var t = 1
    while (t < d) {
      val lmax = math.min(maxCtxLen, t)
      val sb = new StringBuilder(lmax)
      var l = 1
      while (l <= lmax) {
        sb.insert(0, enc(symbols(t - l)))
        val row = counts.getOrElseUpdate(sb.toString, new Array[Long](k))
        val s = symbols(t).toInt
        if (s >= 0 && s < k) row(s) += 1
        l += 1
      }
      t += 1
    }
    val trimmed: collection.Map[String, Array[Long]] =
      if (counts.size <= maxContexts) counts
      else counts.toSeq.sortBy { case (ctx, row) => (-row.sum, ctx) }
        .take(maxContexts).toMap
    trimmed.iterator.map { case (ctx, row) =>
      val tot = row.sum
      if (tot == 0) ctx -> (Array.fill(k)(1.0 / k), 0L)
      else ctx -> (row.map(_.toDouble / tot), tot)
    }.toMap
  }

  /** Count (state, symbol) visits through `conn` and normalize with Laplace
    * smoothing → π̃ rows (tex/ms.tex:316-318) — local analog of the
    * distributed visit pass in [[inferAll]]. */
  private def pitildeFromVisits(conn: Array[Array[Int]], k: Int, smooth: Double,
                                seqs: Iterator[Array[Byte]]): Array[Array[Double]] = {
    val nq = conn.length
    val cnt = Array.fill(nq, k)(smooth)
    seqs.foreach { arr =>
      var q = 0
      var t = 0
      while (t < arr.length) {
        val s = arr(t).toInt
        if (s >= 0 && s < k) { cnt(q)(s) += 1.0; q = conn(q)(s) }
        t += 1
      }
    }
    cnt.map { row => val tot = row.sum; row.map(_ / tot) }
  }

  /** Fully local GenESeSS on one sequence — the online library-growth path
    * (reference detection.py:694-724) calls this inside the per-stream state
    * handler. O(d·L) time, heap bounded by maxContexts, zero Spark jobs. */
  def inferLocal(symbols: Array[Byte], alphabetSize: Int,
                 params: Params = Params()): Pfsa = {
    val L = contextLength(alphabetSize, params.eps, params.maxL)
    val heap = localHeap(symbols, alphabetSize, L, params.maxContexts)
    val sk = buildSkeleton(heap, alphabetSize, params)
    Pfsa(sk.conn,
      pitildeFromVisits(sk.conn, alphabetSize, params.smooth, Iterator.single(symbols)),
      sk.symFrq, sk.annErr, params.eps, Some(sk.synStr).filter(_.nonEmpty))
  }
}
