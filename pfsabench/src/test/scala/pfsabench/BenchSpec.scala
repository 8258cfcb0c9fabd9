package pfsabench

import graft.core.Llk
import graft.pipeline.AnomalyDetection
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The benchmark's own checks. Seed 20261017 is held out: it is used
  * nowhere else, so the workloads are shown correct on inputs nobody tuned
  * them on. */
class BenchSpec extends AnyFunSuite {
  private val heldOut = 20261017L

  test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val spec = parse(new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    def names(key: String) = (spec \ key).children.map(m => ((m \ "name").values, (m \ "unit").values))
    assert(names("end_to_end") == Metrics.endToEnd.map(m => (m._1, m._2)))
    assert(names("per_layer") == Metrics.perLayer)
    assert((spec \ "workloads").children.map(w => (w \ "name").values) == Workloads.names)
    assert(Metrics.perLayer.map(_._1).distinct.size == Metrics.perLayer.size)
  }

  test("inputs are a pure function of the seed, and differ between seeds") {
    val a = Inputs.SwitchSpec(heldOut, 0, size = 4, segments = 3, segLen = 500)
    val b = a.copy(seed = heldOut + 1)
    assert((0L until 4L).forall(s => a.values(s).sameElements(a.copy().values(s))))
    assert((0L until 4L).exists(s => !a.values(s).sameElements(b.values(s))))
    assert(a.values(0).length == 1500)
    // levels() keeps every value inside its symbol's unit band
    val syms = a.symbolsOf(1)
    assert(a.values(1).zip(syms).forall { case (v, s) => math.abs(v - s) < 0.5 })
    // every stream meets all four machines in its first four segments
    assert((0L until 4L).forall(s => (0 until 4).map(a.machineOf(s, _)).toSet == Set(0, 1, 2, 3)))
    val series = Inputs.SeriesSpec(heldOut, 0, size = 120, length = 10, planted = 3)
    assert((0L until 120L).count(series.machineOf(_) == 3) == 3)
    assert((0 to 2).forall(m => (0L until 120L).count(series.machineOf(_) == m) == 39))
  }

  test("the oracle accepts the recomputed prediction and rejects tampered ones") {
    val lib = Inputs.ternaryRegimes
    val model = AnomalyDetection.Model(AnomalyDetection.Params(quantizeType = "complex", nSymbols = 3),
      Some(graft.core.Quantize.ComplexModel(Array(0.5, 1.5), detrend = false)), 3, lib,
      Array(1.2, 1.2, 1.2), Array(0.01, 0.01, 0.01))
    val syms = Inputs.ternaryPlanted.sample(1000, heldOut)
    val values = Inputs.levels(syms, heldOut, 0)
    assert(Oracle.quantize(values, model).sameElements(syms))
    val llks = lib.map(Llk.llk(syms, _))
    val best = llks.indices.minBy(llks)
    val anom = llks.indices.forall(j => llks(j) > model.bounds(j))
    assert(Oracle.agrees(anom, best, llks(best), syms, model, model.bounds))
    assert(!Oracle.agrees(anom, best, llks(best) + 1e-6, syms, model, model.bounds))
    assert(!Oracle.agrees(!anom, best, llks(best), syms, model, model.bounds))
    val worst = llks.indices.maxBy(llks)
    assert(!Oracle.agrees(anom, worst, llks(best), syms, model, model.bounds))
  }

  test("jobs go to the library file of their call site, then to the plan's kernel") {
    val cluster = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "org.apache.spark.sql.graft.ColumnBridge$.column(ColumnBridge.scala:14)\n" +
      "graft.core.Cluster$.assignFeaturesWithStats(Cluster.scala:154)\n" +
      "graft.pipeline.AnomalyDetection$.fitImpl(AnomalyDetection.scala:131)"
    assert(Layers.attribute(cluster, "", Layers.Batch) == "core.cluster")
    val fit = "graft.pipeline.AnomalyDetection$.fitImpl(AnomalyDetection.scala:189)"
    assert(Layers.attribute(fit, "ObjectHashAggregate [llk_score_long(t, symbol)]", Layers.Batch) == "core.llk")
    assert(Layers.attribute(fit, "Project", Layers.Batch) == Layers.Batch)
    assert(Layers.attribute("pfsabench.FitLarge.call(Workloads.scala:9)", "Scan parquet", "core.segment") ==
      "core.segment")
    assert(Layers.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L)
    assert(Layers.coveredExcept(Seq((0L, 100L)), Seq((10L, 20L), (15L, 30L))) == 80L)
  }

  test("tail is the latency with ten samples beyond it") {
    assert(Main.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Main.tail((1 to 11).map(_.toDouble)).map(_._2).contains(1.0))
    val t = Main.tail((1 to 100).map(_.toDouble)).get
    assert(t._1 == 90.0 && t._2 == 90.0)
  }

  test("both workloads run clean on the held-out seed") {
    val work = Files.createTempDirectory(Paths.get("target"), "bench").toFile.getAbsoluteFile
    val spark = Main.session(work, 2)
    try Workloads.names.foreach { name =>
      val wl = Workloads.byName(name)
      val fp1 = wl.generate(spark, new java.io.File(work, s"$name-a").getPath, heldOut)
      val fp2 = wl.generate(spark, new java.io.File(work, s"$name-b").getPath, heldOut)
      assert(fp1 == fp2 && fp1.nonEmpty, s"$name: inputs differ between two generations")
      wl.warmUp()
      wl.begin()
      val spans = new Spans(spark.sparkContext)
      spans.on = true
      val consumed = (0 until 2).map(i => spans.call(wl.entry, wl.layer)(wl.call(i, spans))).sum
      wl.end()
      val c = wl.check()
      assert(consumed > 0 && c.checked > 0, s"$name: nothing checked")
      assert(c.wrong == 0, s"$name: ${c.notes.mkString("; ")}")
      assert(c.planted > 0 && c.plantedFlagged > 0, s"$name: no planted input detected")
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
  }
}
