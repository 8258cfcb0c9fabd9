package graft.relational

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-4 operators (graph triangles, autocorrelation, CUSUM changepoint,
  * mode, stats-pruned scan, audio framing). Oracle parity for all six runs
  * at the gate (verified at sf0.001/0.01/0.1); these specs pin what the
  * hash can't see: the triangle enumeration against a brute-force driver
  * recompute, autocorrelation range/pair-count structure, CUSUM's
  * return-to-zero and flag consistency, the mode's maximality, the scan's
  * ACTUAL row-group skipping (metrics, not just values), and the PCM
  * frame math against a byte-level driver recompute.
  */
class SeriesBatch2Spec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SeriesQueries.queries(name)(spark, sf)

  /** The scan_stats_pruning layout written under `dir`: returns the range
    * filter over it (plan and scan metrics for the assertions) and the
    * total row count. */
  private def statsPruningProbe(dir: java.nio.file.Path, lo: Long, hi: Long)
      : (org.apache.spark.sql.DataFrame, Long) = {
    Tables.eventsTsUs(spark, sf).filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartitionByRange(8, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/sorted")
    val all = spark.read.parquet(s"$dir/sorted")
    (all.filter(col("user_id").between(lo, hi)), all.count())
  }

  test("graph_triangles matches a brute-force driver recompute on the same kNN graph") {
    val got = AnalyticsQueries.queries("graph_triangles")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rebuild the identical graph: exact cosine, round 6, top-3 per node
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val ids = emb.keys.toArray.sorted
    // same bucketed ANN edge build as the engine (GraphTestUtil is the
    // third independent implementation beside the plan and the oracle)
    val und = GraphTestUtil.annEdges(emb).toSeq
      .flatMap { case (s, ds) => ds.map(t => (math.min(s, t), math.max(s, t))) }
      .toSet
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val triCount = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for { (x, ys) <- adj; y <- ys; z <- adj.getOrElse(y, Set.empty) if und.contains((x, z)) } {
      triCount(x) += 1; triCount(y) += 1; triCount(z) += 1
    }
    assert(got.keySet === emb.keySet)
    ids.foreach { id => assert(got(id) === triCount(id), s"node $id") }
    assert(got.values.sum % 3 === 0L, "each triangle counted at exactly 3 corners")
    assert(got.values.sum > 0L, "fixture graph must contain triangles")
  }

  test("ts_autocorr: 6 lags per type, r in [-1,1], pair counts bounded by the hour grid") {
    val rows = q("ts_autocorr").collect()
    val byType = rows.groupBy(_.getString(0))
    assert(byType.nonEmpty)
    byType.values.foreach { rs =>
      assert(rs.length === 6)
      val ord = rs.sortBy(_.getLong(1))
      assert(ord.map(_.getLong(1)).toSeq === (1L to 6L))
      ord.foreach(r => if (!r.isNullAt(2)) assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
      // pair counts are bounded by the observed-hour span and never grow
      // by more than the grid can: each lag pairs only hours whose shifted
      // partner is also observed (the sf0.001 hour grid is sparse)
      val nHours = ord.map(_.getLong(3)).max
      ord.foreach(r => assert(r.getLong(3) >= 1L && r.getLong(3) <= nHours))
    }
  }

  test("ts_changepoint: cusum returns to ~zero at each user's end; flags match the threshold") {
    val rows = q("ts_changepoint").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(5))
        assert(r.getBoolean(6) === (math.abs(r.getLong(4)) > r.getLong(5)), s"flag at $r")
    }
    rows.groupBy(_.getLong(1)).values.foreach { rs =>
      val last = rs.maxBy(r => (r.getLong(2), r.getLong(0)))
      // Σ(v − mean) ≈ 0; in cents, per-event quantization contributes ≤ .5
      assert(math.abs(last.getLong(4)) <= rs.length.toLong,
        s"final cusum for user ${last.getLong(1)} should return to ~0")
    }
  }

  test("agg_mode: the mode really is the user's max-count type with the pinned tie-break") {
    val rows = q("agg_mode").collect()
    val counts = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type")).count().collect()
      .groupBy(_.getLong(0))
    assert(rows.length === counts.size)
    rows.foreach { r =>
      val cs = counts(r.getLong(0)).map(x => x.getString(1) -> x.getLong(2))
      val best = cs.sortBy { case (t, n) => (-n, t) }.head
      assert((r.getString(1), r.getLong(2)) === best)
      assert(r.getLong(3) === cs.map(_._2).sum)
      assert(math.abs(r.getDouble(4) - r.getLong(2).toDouble / r.getLong(3)) < 1e-6)
    }
  }

  test("scan_stats_pruning: a narrow range over the sorted layout skips most row-groups") {
    val dir = java.nio.file.Files.createTempDirectory("statspec")
    try {
      // pick ~the middle tenth of the fixture's user span
      val users = Tables.events(spark, sf).agg(min(col("user_id")), max(col("user_id"))).head()
      val (lo, hi) = (users.getLong(0), users.getLong(1))
      val mid = lo + (hi - lo) / 2
      val width = math.max(1L, (hi - lo) / 10)
      val (filtered, total) = statsPruningProbe(dir, mid, mid + width)
      // materialize THIS queryExecution — the scan metrics below belong to it
      val matched = filtered.collect().length.toLong
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("user_id"),
        s"range predicate must reach the scan:\n$plan")
      val scans = filtered.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, plan)
      val scanned = scans.map(_.metrics("numOutputRows").value).sum
      assert(scanned < total / 2,
        s"sorted layout + stats should skip most rows: scanned $scanned of $total")
      assert(scanned >= matched, "scan emits at least the matching rows")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("multimodal_audio_rms matches a byte-level driver recompute; short docs emit nothing") {
    val rows = q("multimodal_audio_rms").collect()
    assert(rows.nonEmpty)
    val texts = Tables.tbl(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // frame inventory: every doc with >= 320 bytes appears with ALL its frames
    val expectFrames = texts.view.mapValues(t => t.getBytes("UTF-8").length / 320).toMap
    val gotByDoc = rows.groupBy(_.getLong(0))
    expectFrames.foreach { case (id, nf) =>
      if (nf > 0) assert(gotByDoc(id).length === nf, s"doc $id frame count")
      else assert(!gotByDoc.contains(id), s"doc $id is shorter than one frame")
    }
    // exact RMS/peak recompute for every frame of the largest doc
    val (bigId, _) = expectFrames.maxBy(_._2)
    val bytes = texts(bigId).getBytes("UTF-8")
    gotByDoc(bigId).foreach { r =>
      val f = r.getLong(2).toInt
      val samples = (0 until 160).map { i =>
        val lo = bytes(f * 320 + 2 * i) & 0xff
        val hi = bytes(f * 320 + 2 * i + 1) & 0xff
        val v = lo + 256 * hi
        if (v >= 32768) v - 65536 else v
      }
      val rms = math.sqrt(samples.map(x => x.toDouble * x).sum / 160.0)
      assert(math.abs(r.getDouble(3) - rms) < 1e-5, s"rms frame $f")
      assert(r.getLong(4) === samples.map(math.abs).max.toLong, s"peak frame $f")
    }
  }
}
