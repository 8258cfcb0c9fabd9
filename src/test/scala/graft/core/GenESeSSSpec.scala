package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral acceptance per SURVEY.md §7.4: GenESeSS must recover known
  * generators (M2.cfg ground truth) within ε — bit-parity with the absent
  * C++ kernel is explicitly not the bar. */
class GenESeSSSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("recovers M2's emission probabilities from sampled data") {
    val data = Pfsa.m2.sample(200000, seed = 11)
    val inferred = GenESeSS.inferLocal(data, alphabetSize = 2,
      GenESeSS.Params(eps = 0.05))
    // M2 has 2 states with δ(q,σ)=σ: state ≡ last symbol. The inferred
    // machine must explain the data about as well as the generator itself.
    val sample2 = Pfsa.m2.sample(50000, seed = 12)
    val llkTrue = Llk.llk(sample2, Pfsa.m2)
    val llkInf = Llk.llk(sample2, inferred)
    assert(llkInf < llkTrue + 0.02, s"inferred $llkInf vs generator $llkTrue")
    // and must distinguish M2 data from M2_u data
    val dataU = Pfsa.m2u.sample(50000, seed = 13)
    assert(Llk.llk(dataU, inferred) > llkInf + 0.05)
  }

  test("inferAll fans out per cluster in one pass") {
    val seqs = Seq(
      (0, Pfsa.m2.sample(30000, 21).toSeq),
      (0, Pfsa.m2.sample(30000, 22).toSeq),
      (1, Pfsa.m2u.sample(30000, 23).toSeq),
      (1, Pfsa.m2u.sample(30000, 24).toSeq)).toDF("cluster", "symbols")
    val lib = GenESeSS.inferAll(spark, seqs, alphabetSize = 2, GenESeSS.Params(eps = 0.05))
    assert(lib.keySet == Set(0, 1))
    val m2data = Pfsa.m2.sample(20000, 25)
    val m2udata = Pfsa.m2u.sample(20000, 26)
    assert(Llk.llk(m2data, lib(0)) < Llk.llk(m2data, lib(1)))
    assert(Llk.llk(m2udata, lib(1)) < Llk.llk(m2udata, lib(0)))
  }

  test("long-form inference matches the array path machine-for-machine") {
    import org.apache.spark.sql.functions._
    // same corpus in both shapes: arrays for inferAll, (seq_id, t, symbol,
    // cluster) rows for inferAllLong — identical heap counts, skeletons,
    // and visit sweeps must produce IDENTICAL machines
    val data = Seq(
      (0L, 0, Pfsa.m2.sample(20000, 31).toSeq),
      (1L, 0, Pfsa.m2.sample(20000, 32).toSeq),
      (2L, 1, Pfsa.m2u.sample(20000, 33).toSeq),
      (3L, 1, Pfsa.m2u.sample(20000, 34).toSeq),
      (4L, 1, Seq[Byte](1))) // degenerate single-symbol member
    val seqs = data.map { case (_, c, s) => (c, s) }.toDF("cluster", "symbols")
    val long = data.flatMap { case (sid, c, s) =>
      s.zipWithIndex.map { case (sym, t) => (sid, t.toLong, sym, c) }
    }.toDF("seq_id", "t", "symbol", "cluster")
    val p = GenESeSS.Params(eps = 0.05)

    val cntArr = GenESeSS.ngramCounts(seqs, 4).collect()
      .map(r => (r.getInt(0), r.getSeq[Byte](1).toList, r.getInt(2)) -> r.getLong(3)).toMap
    val cntLong = GenESeSS.ngramCountsLong(long, 4).collect()
      .map(r => (r.getInt(0), r.getSeq[Byte](1).toList, r.getInt(2)) -> r.getLong(3)).toMap
    assert(cntArr == cntLong, "n-gram heaps diverged between array and long form")

    val libA = GenESeSS.inferAll(spark, seqs, alphabetSize = 2, p)
    val libL = GenESeSS.inferAllLong(spark, long, alphabetSize = 2, p)
    assert(libA.keySet == libL.keySet)
    for (c <- libA.keySet) {
      assert(libA(c).conn.map(_.toSeq).toSeq == libL(c).conn.map(_.toSeq).toSeq,
        s"cluster $c skeleton diverged")
      assert(libA(c).pitilde.map(_.toSeq).toSeq == libL(c).pitilde.map(_.toSeq).toSeq,
        s"cluster $c emissions diverged")
      assert(libA(c).symFrq.toSeq == libL(c).symFrq.toSeq)
    }
    // and the plan really is array-free
    val plan = GenESeSS.ngramCountsLong(long, 4).queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), plan)
  }

  test("long-form visit sweep survives scattered partitions (serialize + run merge)") {
    import org.apache.spark.sql.functions._
    // scatter rows by t-block WITHOUT presorting: partial aggregation folds
    // per-partition mid runs, buffers SERIALIZE across the exchange, and the
    // final merge composes transition functions — the distributed shape the
    // pre-partitioned fit plan never exercises
    val data = Seq(
      (0L, 0, Pfsa.m2.sample(5000, 41).toSeq),
      (1L, 1, Pfsa.m2u.sample(5000, 42).toSeq))
    val seqs = data.map { case (_, c, s) => (c, s) }.toDF("cluster", "symbols")
    val long = data.flatMap { case (sid, c, s) =>
      s.zipWithIndex.map { case (sym, t) => (sid, t.toLong, sym, c) }
    }.toDF("seq_id", "t", "symbol", "cluster")
      .repartition(8, expr("cast(t / 100 as int)"))
      .sortWithinPartitions("seq_id", "t")
    val p = GenESeSS.Params(eps = 0.05)
    val libA = GenESeSS.inferAll(spark, seqs, alphabetSize = 2, p)
    val libL = GenESeSS.inferAllLong(spark, long, alphabetSize = 2, p, presort = false)
    assert(libA.keySet == libL.keySet)
    for (c <- libA.keySet) {
      assert(libA(c).conn.map(_.toSeq).toSeq == libL(c).conn.map(_.toSeq).toSeq)
      // visit counts are integers, so even via matrix-run composition the
      // emissions must be EXACTLY equal
      assert(libA(c).pitilde.map(_.toSeq).toSeq == libL(c).pitilde.map(_.toSeq).toSeq,
        s"cluster $c emissions diverged under scattered partitions")
    }
  }

  test("long-form heap and inference are exact under any plan shape") {
    import org.apache.spark.sql.functions._
    // (seq_id, cluster, t of the i-th symbol, symbols): dense t from 0, t
    // starting at 1000, sparse t (stride 3, starting at 7), sequences
    // shorter than L = 5, a single symbol, and arbitrary bytes (-1, 5, -128,
    // 127) besides the alphabet {0, 1}. Cluster 2's periodic sequences tie
    // many context totals at the maxContexts cut.
    def withNoise(s: Array[Byte], seed: Long): Seq[Byte] = {
      val rnd = new scala.util.Random(seed)
      s.toSeq.map(b => if (rnd.nextInt(50) == 0) Seq[Byte](-1, 5, -128, 127)(rnd.nextInt(4)) else b)
    }
    val data: Seq[(Long, Int, Int => Long, Seq[Byte])] = Seq(
      (0L, 0, i => i.toLong, withNoise(Pfsa.m2.sample(1500, 51), 1)),
      (1L, 0, i => 1000L + i, Pfsa.m2.sample(1200, 52).toSeq),
      (2L, 1, i => 7L + 3L * i, withNoise(Pfsa.m2u.sample(1500, 53), 2)),
      (3L, 1, i => 2L + i, Seq[Byte](1, 0, 1)),
      (4L, 1, i => 40L + i, Seq[Byte](0)),
      (5L, 2, i => i.toLong, Seq.fill(20)(Seq[Byte](-1, 0, 5)).flatten),
      (6L, 2, i => 5L * i, Seq.fill(15)(Seq[Byte](5, 1, -1, 0)).flatten))
    val L = GenESeSS.contextLength(2, 0.05)
    assert(L == 5)
    val full = GenESeSS.Params(eps = 0.05)
    val pruned = GenESeSS.Params(eps = 0.05, minCtxCount = 2L, maxContexts = 3)

    def countsOf(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), r.getSeq[Byte](1).toList, r.getInt(2)) -> r.getLong(3)).toMap
    def sameMachines(a: Map[Int, Pfsa], b: Map[Int, Pfsa], what: String): Unit = {
      assert(a.keySet == b.keySet, what)
      for (c <- a.keySet) {
        assert(a(c).conn.map(_.toSeq).toSeq == b(c).conn.map(_.toSeq).toSeq, s"$what: cluster $c skeleton")
        assert(a(c).pitilde.map(_.toSeq).toSeq == b(c).pitilde.map(_.toSeq).toSeq, s"$what: cluster $c emissions")
        assert(a(c).symFrq.toSeq == b(c).symFrq.toSeq, s"$what: cluster $c symFrq")
      }
    }

    // reference: the array path on the main session
    val seqs = data.map { case (_, c, _, s) => (c, s) }.toDF("cluster", "symbols")
    val want = countsOf(GenESeSS.ngramCounts(seqs, L).collect())
    val libFull = GenESeSS.inferAll(spark, seqs, alphabetSize = 2, full)
    val libPruned = GenESeSS.inferAll(spark, seqs, alphabetSize = 2, pruned)
    // the prune recomputed on the driver from the full counts: floor at 2,
    // then the 3 largest totals, ties by context in signed-byte order
    def ctxOrder(a: List[Byte], b: List[Byte]): Boolean =
      a.zip(b).find { case (x, y) => x != y }.map { case (x, y) => x < y }
        .getOrElse(a.length < b.length)
    val keptCtx = want.groupBy { case ((c, ctx, _), _) => (c, ctx) }
      .map { case (key, rows) => key -> rows.values.sum }
      .filter(_._2 >= 2L)
      .groupBy(_._1._1).toSeq
      .flatMap { case (_, tots) =>
        tots.toSeq.sortWith { case (((_, a), ta), ((_, b), tb)) =>
          ta > tb || (ta == tb && ctxOrder(a, b)) }.take(3).map(_._1)
      }.toSet
    val wantPruned = want.filter { case ((c, ctx, _), _) => keptCtx((c, ctx)) }
    assert(keptCtx.size == 9 && wantPruned.size < want.size)

    for (parts <- Seq(1, 3, 8); aqe <- Seq(true, false); fallback <- Seq(1, 128)) {
      val shape = s"parts=$parts aqe=$aqe fallback=$fallback"
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      ss.conf.set("spark.sql.adaptive.enabled", aqe)
      ss.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", fallback.toLong)
      // t-blocks of 3 (shorter than L), reverse t order within each
      // partition: partial buffers hold many short runs that only join at
      // merge/eval, and every buffer crosses the exchange serialized
      val rows = data.flatMap { case (sid, c, tOf, s) =>
        s.zipWithIndex.map { case (sym, i) => (sid, tOf(i), sym, c) } }
      val long = ss.createDataFrame(rows).toDF("seq_id", "t", "symbol", "cluster")
        .repartition(parts, expr("cast(t / 3 as int)"))
        .sortWithinPartitions(col("t").desc)

      assert(countsOf(GenESeSS.ngramCountsLong(long, L).collect()) == want, s"$shape: ngramCountsLong")
      def heap(minCtx: Long, maxCtx: Int) = countsOf(GenESeSS.heapLong(long, L, minCtx, maxCtx)
        .select(col("cluster"), inline(col("heap"))).collect())
      assert(heap(1L, Int.MaxValue) == want, s"$shape: unpruned heap")
      assert(heap(2L, 3) == wantPruned, s"$shape: pruned heap")
      sameMachines(libFull, GenESeSS.inferAllLong(ss, long, alphabetSize = 2, full, presort = false),
        s"$shape: full heap")
      sameMachines(libPruned, GenESeSS.inferAllLong(ss, long, alphabetSize = 2, pruned, presort = false),
        s"$shape: pruned heap")
    }
  }

  test("degenerate input yields a usable 1-state machine") {
    val p = GenESeSS.inferLocal(Array[Byte](1), alphabetSize = 2)
    assert(p.numStates == 1)
    assert(math.abs(p.pitilde(0).sum - 1.0) < 1e-9)
  }

  test("tarjan SCC matches reference DirectedGraph.find_scc semantics") {
    // graph: 0→1→2→0 (one SCC), 3→4 (two singleton SCCs), 2→3
    val adj = IndexedSeq(Seq(1), Seq(2), Seq(0, 3), Seq(4), Seq.empty[Int])
    val scc = GenESeSS.tarjan(5, adj)
    assert(scc(0) == scc(1) && scc(1) == scc(2))
    assert(scc(3) != scc(0) && scc(4) != scc(3))
    assert(scc.max + 1 == 3)
  }
}
