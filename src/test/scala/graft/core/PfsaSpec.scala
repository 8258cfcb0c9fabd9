package graft.core

import org.scalatest.funsuite.AnyFunSuite

class PfsaSpec extends AnyFunSuite {

  test("stationary distribution of M2 solves pM = p") {
    val p = Pfsa.m2.stationary
    // M2: δ(q,σ)=σ so M = pitilde; solve by hand: p0 = p0·.6 + p1·.3
    // → p0 = 3/7, p1 = 4/7
    assert(math.abs(p(0) - 3.0 / 7) < 1e-9)
    assert(math.abs(p(1) - 4.0 / 7) < 1e-9)
    assert(math.abs(p.sum - 1.0) < 1e-9)
  }

  test("entropy rate of a fair-coin machine is 1 bit") {
    val fair = Pfsa(Array(Array(0, 0)), Array(Array(0.5, 0.5)), Array(0.5, 0.5))
    assert(math.abs(fair.entropyRate - 1.0) < 1e-12)
  }

  test("sample respects emission bias and is deterministic under a seed") {
    val biased = Pfsa(Array(Array(0, 0)), Array(Array(0.9, 0.1)), Array(0.9, 0.1))
    val s1 = biased.sample(20000, seed = 7)
    val s2 = biased.sample(20000, seed = 7)
    assert(s1.sameElements(s2))
    val frac1 = s1.count(_ == 1).toDouble / s1.length
    assert(math.abs(frac1 - 0.1) < 0.01)
  }

  test("text codec round-trips (reference M2.cfg shape)") {
    val m = Pfsa.m2.copy(annErr = 0.01, mrgEps = 0.1, synStr = Some(Seq(0, 1)))
    val back = Pfsa.fromText(m.toText)
    assert(back.conn.map(_.toSeq).toSeq == m.conn.map(_.toSeq).toSeq)
    val flatBack = back.pitilde.flatMap(_.toSeq).toSeq
    val flatOrig = m.pitilde.flatMap(_.toSeq).toSeq
    assert(flatBack.zip(flatOrig).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(back.synStr.contains(Seq(0, 1)))
    assert(back.annErr == 0.01)
  }

  test("HashUniform equals md5 of the \"<seed>:<t>\" string, draw for draw") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def viaString(seed: Long, t: Long): Double = {
      val d = md.digest(s"$seed:$t".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      v.toDouble / 4294967296.0
    }
    val rnd = new scala.util.Random(20261019L)
    val seeds = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(8)(rnd.nextLong())
    val largeT = Seq(-1L, 9L, 10L, 99L, 100L, Int.MaxValue.toLong, Int.MaxValue + 1L,
      Long.MaxValue, Long.MinValue, -1000000L) ++
      (1 to 18).flatMap(e => Seq(math.pow(10, e).toLong - 1, math.pow(10, e).toLong)) ++
      Seq.fill(200)(rnd.nextLong())
    for (seed <- seeds) {
      val u = new Pfsa.HashUniform(seed)
      // every t from 0 to 10^6 for the edge seeds, a stride for the rest
      val step = if (seed == 0L || seed == -1L || seed == Long.MinValue) 1L else 997L
      var t = 0L
      while (t <= 1000000L) {
        val (a, b) = (u(t), viaString(seed, t))
        if (a != b) fail(s"seed $seed t $t: $a != $b")
        t += step
      }
      largeT.foreach { t =>
        assert(u(t) == viaString(seed, t), s"seed $seed t $t")
      }
    }
  }
}
