package graft.streaming

import graft.pipeline.ContinuousDetection
import graft.pipeline.ContinuousDetection.{LibEntry, Params, WindowScore}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming form of [[ContinuousDetection]]: the per-stream PFSA
  * library lives in `flatMapGroupsWithState` keyed state, so the online loop
  * (reference detection.py:628-691) runs incrementally across triggers —
  * `fit_stream` on an unbounded source.
  *
  * Ordering contract: within a trigger, a stream's windows are folded in
  * win_id order; ACROSS triggers the source must deliver windows in order
  * (the reference's stream is synchronous and in-order, SURVEY §2.10 — it has
  * no late-data semantics either). State is the library only: KBs per stream,
  * independent of stream length.
  *
  * Works identically under batch execution (state starts empty per group),
  * which is how the spec exercises both paths with one assertion set.
  */
object ContinuousStreaming {

  /** @param windows (stream_id, win_id, symbols) — from
    *                [[ContinuousDetection.segments]] or a streaming source
    */
  def scores(windows: Dataset[(Long, Long, Seq[Byte])],
             p: Params): Dataset[WindowScore] = {
    import windows.sparkSession.implicits._
    implicit val stateEnc: Encoder[Vector[LibEntry]] =
      Encoders.kryo[Vector[LibEntry]]
    windows
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sid: Long, it: Iterator[(Long, Long, Seq[Byte])],
         state: GroupState[Vector[LibEntry]]) =>
          val (lib, rows) = ContinuousDetection.foldWindows(sid,
            state.getOption.getOrElse(Vector.empty),
            it.toArray.sortBy(_._2).iterator.map { case (_, wid, syms) => (wid, syms.toArray) }, p)
          state.update(lib)
          rows.iterator
      }
  }

  /** Event-time hardened variant of [[scores]]: windows arrive stamped with
    * an event time, the stream declares a watermark (`delay`), and
    * out-of-order delivery WITHIN the allowed lateness is repaired in state —
    * arrivals buffer in a pending map and fold strictly in `win_id` order
    * once their predecessors exist, so the library evolves exactly as under
    * in-order delivery. Arrivals stamped older than the current watermark
    * are rejected in the handler (Structured Streaming leaves late-data
    * handling to (flat)MapGroupsWithState users — only aggregations get
    * automatic filtering), giving the explicit late-data rejection the
    * reference's synchronous stream never needed (SURVEY §2.10 — a
    * documented hardening beyond reference parity, not a semantics change
    * for in-order sources).
    *
    * State stays bounded AND live: the pending buffer holds at most
    * `maxPending` windows, and a hole in the win_id sequence is abandoned —
    * the frontier JUMPS to the oldest pending window — as soon as either
    * (a) the buffer overflows `maxPending`, or (b) the watermark passes the
    * oldest BUFFERED window's event time (its missing predecessors carry
    * earlier event times, so the watermark guarantees they can no longer be
    * admitted — waiting further cannot help). Without (b) a single
    * permanently lost window would strand every later window in state
    * forever. Liveness over completeness, the watermark trade.
    *
    * The fold anchors at win_id 0 per stream ([[ContinuousDetection]]
    * numbering); a source that starts mid-stream (first delivered wid > 0)
    * is treated as having lost its prefix and unsticks through the same
    * watermark jump once event time advances.
    *
    * @param windows (stream_id, win_id, symbols, event_time)
    */
  def scoresWithWatermark(windows: Dataset[(Long, Long, Seq[Byte], java.sql.Timestamp)],
                          p: Params, delay: String = "10 seconds",
                          maxPending: Int = 1024): Dataset[WindowScore] = {
    import windows.sparkSession.implicits._
    implicit val stateEnc: Encoder[(Vector[LibEntry], Long, Map[Long, (Seq[Byte], Long)])] =
      Encoders.kryo[(Vector[LibEntry], Long, Map[Long, (Seq[Byte], Long)])]
    windows
      .withWatermark("_4", delay)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sid: Long, it: Iterator[(Long, Long, Seq[Byte], java.sql.Timestamp)],
         state: GroupState[(Vector[LibEntry], Long, Map[Long, (Seq[Byte], Long)])]) =>
          val (lib0, nextWin0, pending0) =
            state.getOption.getOrElse(
              (Vector.empty[LibEntry], 0L, Map.empty[Long, (Seq[Byte], Long)]))
          var nextWin = nextWin0
          var pending = pending0
          // -1 when the watermark hasn't advanced yet; batch execution has
          // no watermark at all (the Try) — both mean "nothing is late"
          val wm = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(-1L)
          it.foreach { case (_, wid, syms, ts) =>
            // beyond-lateness straggler (event time behind an ESTABLISHED
            // watermark — wm <= 0 means none yet, so pre-epoch stamps are
            // not mistaken for late data) or wid < nextWin (duplicate /
            // slot already scored or abandoned): dropped
            if ((wm <= 0L || ts.getTime >= wm) && wid >= nextWin && !pending.contains(wid))
              pending += wid -> (syms, ts.getTime)
          }
          // the frontier window is ready, or a hole before it is abandoned
          // (the frontier jumps to the oldest pending window)
          def ready: Boolean = pending.contains(nextWin) || {
            // single traversal folds both minima (hole checks happen at
            // most once per hole per trigger; no per-check full rescans)
            var minWid = Long.MaxValue
            var minTs = Long.MaxValue
            pending.foreach { case (k2, (_, t2)) =>
              if (k2 < minWid) minWid = k2
              if (t2 < minTs) minTs = t2
            }
            val giveUp = pending.nonEmpty &&
              (pending.size > maxPending || (wm > 0L && minTs < wm))
            if (giveUp) nextWin = minWid
            giveUp
          }
          val inOrder = Iterator.continually(()).takeWhile(_ => ready).map { _ =>
            val wid = nextWin
            val syms = pending(wid)._1
            pending -= wid
            nextWin += 1
            (wid, syms.toArray)
          }
          val (lib, rows) = ContinuousDetection.foldWindows(sid, lib0, inOrder, p)
          state.update((lib, nextWin, pending))
          rows.iterator
      }
  }

  /** Same online loop fed by a RAW symbol stream `(stream_id, t, symbol)` —
    * window assembly happens inside the state handler: per key, symbols are
    * buffered until `windowSize` accumulate, each completed window runs
    * through [[ContinuousDetection.foldWindows]], and the buffer keeps `windowOverlap`
    * symbols of carry. State = (library, carry buffer ≤ windowSize, next
    * window id) — bounded per stream regardless of stream length.
    *
    * Same ordering contract as [[scores]]: in-order delivery across
    * triggers, `t` contiguous per stream. */
  def scoresFromSymbols(symbols: Dataset[(Long, Long, Byte)],
                        p: Params): Dataset[WindowScore] = {
    import symbols.sparkSession.implicits._
    // same contract Segment.windows enforces on the batch path — a stride
    // <= 0 would spin the state handler forever on the first full window,
    // and a negative overlap would silently drop symbols
    require(p.windowOverlap >= 0 && p.windowOverlap < p.windowSize,
      s"windowOverlap must be in [0, windowSize): ${p.windowOverlap} vs ${p.windowSize}")
    val stride = p.windowSize - p.windowOverlap
    implicit val stateEnc: Encoder[(Vector[LibEntry], Seq[Byte], Long)] =
      Encoders.kryo[(Vector[LibEntry], Seq[Byte], Long)]
    symbols
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sid: Long, it: Iterator[(Long, Long, Byte)],
         state: GroupState[(Vector[LibEntry], Seq[Byte], Long)]) =>
          val (lib0, carry, nextWin) =
            state.getOption.getOrElse((Vector.empty[LibEntry], Seq.empty[Byte], 0L))
          // advancing-offset scan with ONE compaction per trigger: shifting
          // the remainder per emitted window (buf.remove(0, stride)) is
          // O(n²/stride) element moves for an n-symbol batch — a 1M-symbol
          // trigger at stride 500 would do ~2G moves; this does n
          val all = carry.toArray ++ it.toArray.sortBy(_._2).map(_._3)
          val complete =
            if (all.length < p.windowSize) 0 else (all.length - p.windowSize) / stride + 1
          val wins = Iterator.range(0, complete).map(w =>
            (nextWin + w, java.util.Arrays.copyOfRange(all, w * stride, w * stride + p.windowSize)))
          val (lib, rows) = ContinuousDetection.foldWindows(sid, lib0, wins, p)
          val off = rows.length * stride
          state.update((lib, java.util.Arrays.copyOfRange(all, off, all.length).toSeq,
            nextWin + rows.length))
          rows.iterator
      }
  }
}
