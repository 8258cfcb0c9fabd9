package graft.core

import graft.TestSpark
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests for the kernels (SURVEY §5 item 2): invariants
  * that must hold for arbitrary inputs, not just the golden fixtures.
  * (Seeded Gen sampling instead of the scalatestplus bridge — the bridge
  * artifact is not in the offline dependency cache.) */
class KernelPropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic sample set from a generator (shared harness). */
  private def forAll[A](g: Gen[A], n: Int = 25)(body: A => Unit): Unit =
    graft.PropSampler.forAll(g, seedBase = 0xC0FFEEL, n = n)(body)

  private val smallSeq = Gen.listOfN(40, Gen.chooseNum(-50.0, 50.0))

  test("quantize_simple: symbol is exactly the sign of the first difference") {
    forAll(smallSeq) { vals =>
      val df = vals.zipWithIndex.map { case (v, t) => (0L, t.toLong, v) }
        .toDF("seq_id", "t", "value")
      val syms = Quantize.simple(df).orderBy("t").select("symbol").as[Byte].collect()
      val expect = vals.zip(0.0 +: vals.dropRight(1).map(identity))
        .zipWithIndex.map { case ((v, prev), i) =>
          if (i == 0) 0.toByte else if (v - prev > 0) 1.toByte else 0.toByte
        }
      assert(syms.toSeq == expect)
    }
  }

  test("window_segment: every window has `size` rows at positions 0..size-1 " +
       "starting at stride multiples, ragged tail dropped") {
    val gens = for {
      n <- Gen.chooseNum(0, 60)
      size <- Gen.chooseNum(1, 12)
      overlap <- Gen.chooseNum(0, math.max(0, size - 1))
    } yield (n, size, overlap)
    forAll(gens) { case (n, size, overlap) =>
      val stride = size - overlap
      val df = (0 until n).map(t => (0L, t.toLong, t.toDouble)).toDF("seq_id", "t", "value")
      val rows = Segment.windows(df, size, overlap)
        .select("win_id", "pos", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val byWin = rows.groupBy(_._1)
      val expectWins = if (n < size) 0 else (n - size) / stride + 1
      assert(byWin.size == expectWins, s"n=$n size=$size overlap=$overlap")
      byWin.foreach { case (w, ws) =>
        assert(ws.length == size)
        assert(ws.map(_._2).sorted.toSeq == (0L until size.toLong))
        // window w covers original positions [w*stride, w*stride+size)
        ws.foreach { case (_, pos, v) => assert(v == (w * stride + pos).toDouble) }
      }
    }
  }

  test("alphabet_size quirk: max(symbol)+1, NOT distinct count (detection.py:134)") {
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, 9))) { symsInt =>
      val syms = symsInt.map(_.toByte)
      // the engine-wide rule used by fit and the continuous loop
      val alpha = syms.map(_.toInt).max + 1
      assert(alpha >= symsInt.distinct.size)
      assert(alpha == symsInt.max + 1)
    }
  }

  test("llk: finite and non-negative on in-alphabet data, permutation of models is stable") {
    forAll(Gen.zip(Gen.chooseNum(1L, 10000L), Gen.chooseNum(10, 400))) { case (seed, len) =>
      val data = Pfsa.m2.sample(len, seed)
      val a = Llk.llk(data, Pfsa.m2)
      val b = Llk.llk(data, Pfsa.m2u)
      assert(!a.isNaN && !a.isInfinite && a >= 0.0)
      assert(!b.isNaN && !b.isInfinite && b >= 0.0)
      // deterministic: same inputs, same scores
      assert(a == Llk.llk(data, Pfsa.m2))
    }
  }

  test("pfsa_sample: symbols stay inside the alphabet; seed pins the path") {
    forAll(Gen.zip(Gen.chooseNum(1L, 10000L), Gen.chooseNum(1, 500))) { case (seed, len) =>
      val p = Pfsa.m2
      val s = p.sample(len, seed)
      assert(s.length == len)
      assert(s.forall(b => b >= 0 && b < p.alphabetSize))
      assert(s.toSeq == p.sample(len, seed).toSeq)
    }
  }

  test("long-form llk fold ≡ array kernel for arbitrary sequences and scatterings") {
    import org.apache.spark.sql.functions._
    val gen = for {
      len <- Gen.chooseNum(1, 400)
      syms <- Gen.listOfN(len, Gen.chooseNum(0, 1))
      block <- Gen.chooseNum(7, 97) // scatter granularity
    } yield (syms.map(_.toByte), block)
    forAll(gen, n = 12) { case (syms, block) =>
      val arr = syms.toArray
      val long = syms.zipWithIndex.map { case (s, t) => (0L, t.toLong, s) }
        .toDF("seq_id", "t", "symbol")
        .repartition(5, expr(s"cast(t / $block as int)"))
        .sortWithinPartitions("seq_id", "t")
      // the LlkLongScore aggregate (graft_llk_score_long) over the
      // scattered rows merges matrix runs; the entry point is exact
      import org.apache.spark.sql.graft.ColumnBridge
      val agg = ColumnBridge.column(graft.functions.LlkLongScore(ColumnBridge.expression(col("t")),
        ColumnBridge.expression(col("symbol")), Array(Pfsa.m2, Pfsa.m2u)).toAggregateExpression())
      val got = long.groupBy(col("seq_id")).agg(agg.as("llks"))
        .select(posexplode(col("llks")).as(Seq("cluster_id", "llk")))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val exact = Llk.scoreAllLong(spark, long, Seq(Pfsa.m2, Pfsa.m2u))
        .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
      for ((m, ci) <- Seq(Pfsa.m2, Pfsa.m2u).zipWithIndex) {
        val want = Llk.llk(arr, m)
        assert(math.abs(got(ci) - want) <= 1e-9 || got(ci) == want,
          s"len=${arr.length} block=$block model=$ci: ${got(ci)} vs $want")
        assert(exact(ci) == want, s"len=${arr.length} block=$block model=$ci: ${exact(ci)} vs $want")
      }
    }
  }

  test("complex quantizer: fitted cutoffs are sorted and strictly increasing") {
    forAll(Gen.zip(Gen.listOfN(200, Gen.chooseNum(-1000.0, 1000.0)), Gen.chooseNum(2, 8))) {
      case (vals, bins) =>
        val df = vals.zipWithIndex.map { case (v, t) => (0L, t.toLong, v) }
          .toDF("seq_id", "t", "value")
        val m = Quantize.fitComplex(df, nBins = bins, relErr = 0.01)
        assert(m.cutoffs.toSeq == m.cutoffs.sorted.toSeq)
        assert(m.cutoffs.distinct.length == m.cutoffs.length)
        assert(m.alphabetSize <= bins)
        // every assigned symbol is within the fitted alphabet
        val syms = Quantize.applyComplex(df, m).select("symbol").as[Byte].collect()
        assert(syms.forall(s => s >= 0 && s < m.alphabetSize))
    }
  }
}
