package graft.pipeline

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Online anomaly detection with a GROWING pattern library — Spark-native
  * rebuild of the reference's `ContinuousStreamingDetection`
  * (detection.py:616-734).
  *
  * Semantics (detection.py:628-691): the stream is segmented into windows;
  * each window, in order, is scored against every PFSA in the current
  * library; if NO entry explains it (llk above that entry's mean +
  * sensitivity·std), the window's index is recorded as a pattern-emergence
  * time and a new PFSA is inferred from that single window
  * (detection.py:694-724), its llk stats bootstrapped from `bootstrapRepeats`
  * sampled paths plus the window itself (detection.py:726-734).
  *
  * Scale design: the per-stream fold is inherently order-dependent (later
  * windows see a library grown by earlier ones, SURVEY §7.4.3), so each
  * stream is one `mapGroups`/state-handler invocation — sequential WITHIN a
  * stream, parallel ACROSS streams. Everything the handler needs
  * (GenESeSS.inferLocal, Llk.llk, Pfsa.sample) is pure local Scala — no
  * nested Spark jobs, no driver round-trips; per-stream state is just the
  * library (KBs).
  *
  * Documented divergence (SURVEY §7.4.4): the reference OVERWRITES its global
  * llk mean/std scalars on every library add (detection.py:733-734) so all
  * previous patterns silently inherit the newest pattern's stats; we keep
  * per-entry stats, which is what the batch path (detection.py:472-499)
  * does and what the paper's threshold rule describes.
  */
object ContinuousDetection {

  final case class Params(
      windowSize: Int = 1000,
      windowOverlap: Int = 0,
      anomalySensitivity: Double = 1.0,
      quantize: Boolean = true,
      quantizeType: String = "simple",
      nSymbols: Int = 2,
      eps: Double = 0.1,
      bootstrapRepeats: Int = 100,
      seed: Long = 42L)

  /** One library entry: the PFSA plus ITS OWN llk stats (mean, sample std). */
  final case class LibEntry(pfsa: Pfsa, mean: Double, std: Double)
      extends Serializable

  /** Per-window result row: `emerged` marks pattern-emergence times
    * (detection.py:624,657,673); `closest` is the explaining / newly-born
    * library index; `n_patterns` the library size after the window. */
  final case class WindowScore(
      seq_id: Long, win_id: Long, emerged: Boolean, llk: Double,
      closest: Int, n_patterns: Int)

  /** Pure per-window state transition (the loop body, detection.py:661-676).
    *
    * @return (library after the window, emerged?, llk on the
    *         explaining/new entry, index of that entry)
    */
  private def step(lib: Vector[LibEntry], symbols: Array[Byte], p: Params,
                   seedBase: Long): (Vector[LibEntry], Boolean, Double, Int) = {
    // alphabet_size = max+1, NOT distinct count (detection.py:647-650;
    // load-bearing quirk per SURVEY §7.4.4)
    val alpha = if (symbols.isEmpty) 1 else symbols.map(_.toInt).max + 1
    val llks = lib.map { e =>
      if (alpha > e.pfsa.alphabetSize) Double.PositiveInfinity
      else Llk.llk(symbols, e.pfsa)
    }
    val unexplained = lib.isEmpty || lib.indices.forall { j =>
      llks(j) > lib(j).mean + p.anomalySensitivity * lib(j).std
    }
    if (!unexplained) {
      var best = 0
      var j = 1
      while (j < llks.length) { if (llks(j) < llks(best)) best = j; j += 1 }
      (lib, false, llks(best), best)
    } else {
      // birth of a new pattern: infer from this single window
      // (detection.py:673-676,694-724)
      val k = math.max(2, alpha)
      val pfsa = GenESeSS.inferLocal(symbols, k, GenESeSS.Params(eps = p.eps))
      // stats bootstrap: the window + seeded sample paths (detection.py:726-733)
      val own = Llk.llk(symbols, pfsa)
      val boot = Array.tabulate(p.bootstrapRepeats)(i =>
        Llk.llk(pfsa.sample(p.windowSize, seedBase + i), pfsa))
      val all = own +: boot.toVector
      val mean = all.sum / all.size
      val std =
        if (all.size < 2) 0.0
        else math.sqrt(all.map(v => (v - mean) * (v - mean)).sum / (all.size - 1))
      (lib :+ LibEntry(pfsa, mean, std), true, own, lib.size)
    }
  }

  /** Quantize + segment the long form `(seq_id, t, value)` into per-window
    * symbol arrays `(seq_id, win_id, symbols)`. */
  def segments(longDf: DataFrame, p: Params): DataFrame =
    Segment.windowArrays(
      Quantize.byType(longDf, p.quantize, p.quantizeType, p.nSymbols)._1,
      p.windowSize, p.windowOverlap)

  /** Batch replay of the online loop over long-form input holding one or
    * many independent streams. Windows are folded in win_id order inside one
    * group handler per stream; streams parallelize across executors.
    *
    * A stream's windows are materialized in the handler for the sort — the
    * same per-stream memory the reference needs for its single in-memory
    * stream; at 100-TB scale the fleet of streams distributes while each
    * stream stays executor-sized.
    */
  def fitStream(spark: SparkSession, longDf: DataFrame, p: Params): DataFrame =
    fitStreamEvidence(spark, longDf, p)
      .select(col("seq_id"), col("win_id"), col("emerged"), col("llk"),
        col("closest"), col("n_patterns"))

  /** Per-window EVIDENCE row: the [[WindowScore]] fields plus the library
    * size BEFORE the window and, on emergence, the newborn entry serialized
    * through the PFSA text codec with its bootstrapped stats — everything a
    * second, fold-free pass needs to re-certify the order-dependent library
    * state (see [[verdictGrid]]). `symbols` rides along (windowSize bytes)
    * so the recompute never re-joins the segmentation. */
  final case class WindowEvidence(
      seq_id: Long, win_id: Long, emerged: Boolean, llk: Double, closest: Int,
      n_before: Int, n_patterns: Int,
      born_pfsa: Option[String], born_mean: Double, born_std: Double,
      symbols: Seq[Byte])

  /** Deterministic per-window bootstrap seed — a pure function of
    * (base seed, stream, window) shared by the fold and the verdict
    * grid's bounds recompute, so neither threads RNG state. */
  private[graft] def seedBase(pSeed: Long, sid: Long, wid: Long): Long =
    pSeed + sid * 7919L + wid * 104729L

  /** The online loop (detection.py:628-691) and [[step]]'s one caller:
    * each `(win_id, symbols)` runs at its [[seedBase]] seed against the
    * library the previous window left. The batch replay and the stream
    * handlers only assemble the windows and keep the returned library.
    *
    * @return (library after the last window, one row per window in order) */
  private[graft] def foldWindows(sid: Long, lib0: Vector[LibEntry],
                                 windows: Iterator[(Long, Array[Byte])],
                                 p: Params): (Vector[LibEntry], Array[WindowScore]) = {
    var lib = lib0
    val rows = windows.map { case (wid, syms) =>
      val (next, emerged, llk, closest) = step(lib, syms, p, seedBase(p.seed, sid, wid))
      lib = next
      WindowScore(sid, wid, emerged, llk, closest, lib.size)
    }.toArray
    (lib, rows)
  }

  /** The [[fitStream]] fold, emitting [[WindowEvidence]] rows. Seeds and
    * step semantics are identical — [[fitStream]] is a projection of this. */
  def fitStreamEvidence(spark: SparkSession, longDf: DataFrame, p: Params)
      : org.apache.spark.sql.Dataset[WindowEvidence] = {
    import spark.implicits._
    // Seq[Byte] (ArrayType(ByteType)), not Array[Byte] (Spark would demand
    // an up-cast to BINARY)
    segments(longDf, p)
      .select(col("seq_id").cast("long"), col("win_id").cast("long"), col("symbols"))
      .as[(Long, Long, Seq[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (sid: Long, it: Iterator[(Long, Long, Seq[Byte])]) =>
        val sorted = it.toArray.sortBy(_._2)
        val (lib, rows) = foldWindows(sid, Vector.empty,
          sorted.iterator.map { case (_, wid, syms) => (wid, syms.toArray) }, p)
        // the library only grows: a newborn keeps its index, `closest`
        rows.iterator.zip(sorted.iterator).map { case (s, (_, _, syms)) =>
          val born = if (s.emerged) Some(lib(s.closest)) else None
          WindowEvidence(sid, s.win_id, s.emerged, s.llk, s.closest, s.n_patterns - born.size,
            s.n_patterns, born.map(_.pfsa.toText), born.fold(0.0)(_.mean), born.fold(0.0)(_.std),
            syms)
        }
      }
  }

  /** SELF-VERIFYING grid for the online loop — the pipeline_fit_predict
    * verdict-grid pattern applied PER STEP, which is what makes the one
    * order-dependent gate entry DuckDB-oracleable: the oracle enumerates
    * the stride-window universe (pure arithmetic) with literal TRUEs, and
    * every invariant is recomputed here OUTSIDE the fold, from evidence
    * carried as data:
    *
    *  - machines are re-parsed from the TEXT CODEC (so a lossy
    *    serialization breaks the grid), and each window's llk against every
    *    library member is recomputed through the LONG-ENGINE MATRIX path
    *    ([[graft.functions.LlkLongScore.Buffer]] with t starting at 1 —
    *    a genuinely different numeric route than the fold's
    *    [[graft.core.Llk.llk]] vector walk, the llk_score_long parity
    *    pattern), with library VERSIONS reconstructed from birth order
    *    rather than threaded fold state;
    *  - `rule_matches`: emerged ⇔ the reference's emergence rule
    *    (detection.py:661-676) — library empty, or EVERY member's llk above
    *    its own mean + sensitivity·std (bounds from the birth-time
    *    bootstrap, carried as literals; ±1e-9 tolerant so the cross-engine
    *    recompute can't flip a boundary);
    *  - `growth_ok`: the library grows by exactly 1 on emergence and is
    *    exactly the birth count before the window otherwise (the
    *    order-dependent bookkeeping itself);
    *  - `closest_ok`: a newborn pattern gets index n_before; an explained
    *    window's closest achieves the library-version minimum llk
    *    (tie-agnostic, recomputed values);
    *  - `llk_matches`: the fold's reported llk equals the independent
    *    recompute on the explaining/new entry (≤1e-9, +∞ ≡ +∞);
    *  - `bounds_ok` (r11 verdict ask #3 — the grid's last trust edge):
    *    on emergence, the newborn's `born_mean`/`born_std` literals are
    *    RE-DERIVED from scratch — the codec-round-tripped machine is
    *    re-sampled through the seeded counter-based md5 sampler
    *    ([[Pfsa.sample]], the pfsa_sample value-oracled kernel) at the
    *    recomputed per-window seed, each path re-scored, and the
    *    mean/sample-std recomputed — so a tampered bound, a lossy codec,
    *    or a seed drift now breaks the grid instead of riding through as
    *    trusted evidence. Non-emergence windows are vacuously true. */
  def verdictGrid(spark: SparkSession, longDf: DataFrame, p: Params): DataFrame =
    verdictGrid0(fitStreamEvidence(spark, longDf, p), p)

  /** Grading stage of [[verdictGrid]], split out so specs can feed it
    * tampered evidence and watch the right verdict go false. */
  private[graft] def verdictGrid0(
      ev: org.apache.spark.sql.Dataset[WindowEvidence], p: Params): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val eps = 1e-9
    ev
      .groupByKey(_.seq_id)
      .flatMapGroups { (sid: Long, it: Iterator[WindowEvidence]) =>
        val rows = it.toArray.sortBy(_.win_id)
        val births = rows.filter(_.emerged)
        val lib: Array[Pfsa] = births.map(b => Pfsa.fromText(b.born_pfsa.get))
        val bounds: Array[Double] =
          births.map(b => b.born_mean + p.anomalySensitivity * b.born_std)
        var seen = 0
        rows.iterator.map { w =>
          val nBefore = seen
          if (w.emerged) seen += 1
          val nAfter = nBefore + (if (w.emerged) 1 else 0)
          // long-engine matrix-mode llk of this window vs every machine
          // (t from 1 keeps the run off the vector-mode head path)
          val buf = new graft.functions.LlkLongScore.Buffer
          var t = 0
          while (t < w.symbols.length) {
            buf.add((t + 1).toLong, w.symbols(t).toInt, lib); t += 1
          }
          val llk2 = buf.result(lib)
          val ruleMatches =
            if (nBefore == 0) w.emerged
            else if (w.emerged) (0 until nBefore).forall(j => llk2(j) > bounds(j) - eps)
            else (0 until nBefore).exists(j => llk2(j) <= bounds(j) + eps)
          val growthOk = w.n_before == nBefore && w.n_patterns == nAfter
          val closestOk =
            if (w.emerged) w.closest == nBefore
            else w.closest >= 0 && w.closest < nBefore &&
              llk2(w.closest) <= (0 until nBefore).map(llk2).min + eps
          val llkMatches = w.closest >= 0 && w.closest < llk2.length && {
            val l2 = llk2(w.closest)
            w.llk == l2 || math.abs(w.llk - l2) <= eps
          }
          // bounds recompute: the full birth-time bootstrap, re-run from
          // the re-parsed machine and the recomputed seed (bit-identical
          // in the untampered case — the codec round-trips doubles via
          // shortest-repr toString and the sampler is counter-based)
          val boundsOk = !w.emerged || (nBefore < lib.length && {
            val pf = lib(nBefore)
            val sb = seedBase(p.seed, sid, w.win_id)
            val own = Llk.llk(w.symbols.toArray, pf)
            val boot = Array.tabulate(p.bootstrapRepeats)(i =>
              Llk.llk(pf.sample(p.windowSize, sb + i), pf))
            val all = own +: boot.toVector
            val mean = all.sum / all.size
            val std =
              if (all.size < 2) 0.0
              else math.sqrt(all.map(v => (v - mean) * (v - mean)).sum / (all.size - 1))
            // bit-equality short-circuit first (the llk_matches guard): a
            // zero-mass newborn yields mean = +Inf, std = NaN on BOTH the
            // fold and this recompute — |Inf−Inf| = NaN would fail an
            // untampered grid; Double.compare treats NaN ≡ NaN
            (java.lang.Double.compare(mean, w.born_mean) == 0 ||
              math.abs(mean - w.born_mean) <= eps) &&
            (java.lang.Double.compare(std, w.born_std) == 0 ||
              math.abs(std - w.born_std) <= eps)
          })
          (sid, w.win_id, ruleMatches, growthOk, closestOk, llkMatches, boundsOk)
        }
      }
      .toDF("seq_id", "win_id", "rule_matches", "growth_ok", "closest_ok",
        "llk_matches", "bounds_ok")
      .orderBy("seq_id", "win_id")
  }
}
