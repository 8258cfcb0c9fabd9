package graft.core

/** Probabilistic finite-state automaton (Q, Σ, δ, π̃).
  *
  * Mirrors the reference's PFSA info dict (reference detection.py:56,385-393)
  * and its text-file form (reference detection.py:502-547, examples/M2.cfg):
  * `conn(q)(s)` is the next state δ(q,σ=s), `pitilde(q)(s)` the probability of
  * emitting σ=s from state q (rows sum to 1).
  *
  * Deliberately tiny (|Q|·|Σ| doubles) so a whole model library broadcasts to
  * executors in KBs — the scale path is "data distributed, models broadcast".
  *
  * @param conn    |Q|×|Σ| next-state ids (%CONNX)
  * @param pitilde |Q|×|Σ| row-stochastic emission matrix (%PITILDE)
  * @param symFrq  length-|Σ| overall symbol frequency (%SYM_FRQ); its length
  *                IS the alphabet size (reference detection.py:139)
  * @param annErr  inference error reported by GenESeSS (%ANN_ERR)
  * @param mrgEps  ε used at inference (%MRG_EPS)
  * @param synStr  synchronizing string, if any (%SYN_STR)
  */
final case class Pfsa(
    conn: Array[Array[Int]],
    pitilde: Array[Array[Double]],
    symFrq: Array[Double],
    annErr: Double = 0.0,
    mrgEps: Double = 0.0,
    synStr: Option[Seq[Int]] = None) extends Serializable {

  def numStates: Int = pitilde.length
  def alphabetSize: Int = symFrq.length

  /** Stationary distribution of the induced Markov chain
    * M(q,q') = Σ_{σ: δ(q,σ)=q'} π̃(q,σ) — the left eigenvector for eigenvalue
    * 1 (reference tex/ms.tex:265), via power iteration (|Q| is tiny).
    */
  lazy val stationary: Array[Double] = {
    val n = numStates
    var p = Array.fill(n)(1.0 / n)
    var iter = 0
    var delta = 1.0
    while (iter < 1000 && delta > 1e-13) {
      val next = new Array[Double](n)
      var q = 0
      while (q < n) {
        val pq = p(q)
        if (pq != 0.0) {
          var s = 0
          while (s < alphabetSize) {
            next(conn(q)(s)) += pq * pitilde(q)(s)
            s += 1
          }
        }
        q += 1
      }
      delta = 0.0
      var i = 0
      while (i < n) { delta = math.max(delta, math.abs(next(i) - p(i))); i += 1 }
      p = next
      iter += 1
    }
    p
  }

  /** Entropy rate in bits/symbol: H = -Σ_q p(q) Σ_σ π̃(q,σ) log2 π̃(q,σ).
    * The asymptotic llk of self-generated data (tex/ms.tex Thm 1). */
  lazy val entropyRate: Double = {
    val p = stationary
    var h = 0.0
    var q = 0
    while (q < numStates) {
      var s = 0
      while (s < alphabetSize) {
        val pr = pitilde(q)(s)
        if (pr > 0) h -= p(q) * pr * (math.log(pr) / math.log(2))
        s += 1
      }
      q += 1
    }
    h
  }

  /** Generate a sample path of `len` symbols (reference Prun,
    * detection.py:730; Markov simulation per tex/ms.tex:109-114).
    *
    * The randomness is COUNTER-BASED, not generator-state-based: the t-th
    * uniform is [[Pfsa.HashUniform]](seed)(t) (t = -1 draws the stationary
    * start state), so a sample path is a pure function of (machine, seed)
    * with no sequential RNG state. That is the distributed-sampling shape —
    * any partitioning, task retry, or evaluation order reproduces the same
    * path — and it makes the draw sequence exactly replayable by an
    * independent engine (the pfsa_sample DuckDB oracle recomputes the same
    * md5-derived uniforms in SQL and walks the machine with a recursive
    * CTE). */
  def sample(len: Int, seed: Long): Array[Byte] = {
    val uniform = new Pfsa.HashUniform(seed)
    val out = new Array[Byte](len)
    // start from the stationary distribution
    var q = {
      val u = uniform(-1L); var acc = 0.0; var i = 0
      while (i < numStates - 1 && { acc += stationary(i); acc <= u }) i += 1
      i
    }
    var t = 0
    while (t < len) {
      val u = uniform(t.toLong)
      var acc = 0.0
      var s = 0
      while (s < alphabetSize - 1 && { acc += pitilde(q)(s); acc <= u }) s += 1
      out(t) = s.toByte
      q = conn(q)(s)
      t += 1
    }
    out
  }

  /** Reference text-file form (examples/M2.cfg:3-10, detection.py:538-547). */
  def toText: String = {
    val sb = new StringBuilder
    sb ++= s"%ANN_ERR: $annErr\n%MRG_EPS: $mrgEps\n"
    sb ++= s"%SYN_STR: ${synStr.map(_.mkString(" ")).getOrElse("")}\n"
    sb ++= s"%SYM_FRQ: ${symFrq.mkString(" ")}\n"
    sb ++= "%PITILDE:\n#PITILDE\n"
    pitilde.foreach(r => sb ++= r.mkString(" ") += '\n')
    sb ++= "%CONNX:\n#CONNX\n"
    conn.foreach(r => sb ++= r.mkString(" ") += '\n')
    sb.result()
  }
}

object Pfsa {

  /** Counter-based uniform u ∈ [0,1): the first 32 bits of
    * md5("<seed>:<t>") over 2³². Exactly reproducible in SQL (first 8 hex
    * digits of DuckDB's `md5`), and the 2⁻³² value grid keeps every
    * cumulative-probability comparison away from fp boundary effects, so
    * the Scala walk and a SQL replay take identical branches.
    *
    * One instance per seed: the ASCII of `"<seed>:"` is written once and
    * each draw appends the digits of `t` in the same buffer and digests
    * into a reused array, so a draw allocates nothing. */
  private[graft] final class HashUniform(seed: Long) {
    private val md = java.security.MessageDigest.getInstance("MD5")
    // "-9223372036854775808:" is 21 bytes, and so is any t
    private val buf = new Array[Byte](42)
    private val prefix = { val n = HashUniform.writeLong(seed, buf, 0); buf(n) = ':'; n + 1 }
    private val out = new Array[Byte](16)

    def apply(t: Long): Double = {
      md.update(buf, 0, HashUniform.writeLong(t, buf, prefix))
      md.digest(out, 0, out.length)
      val v = ((out(0) & 0xffL) << 24) | ((out(1) & 0xffL) << 16) |
        ((out(2) & 0xffL) << 8) | (out(3) & 0xffL)
      v.toDouble / 4294967296.0
    }
  }

  private[graft] object HashUniform {
    /** Writes the decimal ASCII of `x` (as `Long.toString`) at `from`;
      * returns the end offset. Digits come from the negated value, so
      * `Long.MinValue` needs no special case. */
    def writeLong(x: Long, buf: Array[Byte], from: Int): Int = {
      var neg = if (x < 0) x else -x
      var len = if (x < 0) 2 else 1
      var probe = neg / 10
      while (probe != 0) { len += 1; probe /= 10 }
      val end = from + len
      var i = end - 1
      while (i >= from + (if (x < 0) 1 else 0)) {
        buf(i) = ('0' - (neg % 10)).toByte
        neg /= 10
        i -= 1
      }
      if (x < 0) buf(from) = '-'
      end
    }
  }

  /** Parse the reference text form written by [[Pfsa.toText]]. */
  def fromText(text: String): Pfsa = {
    val lines = text.linesIterator.toVector
    def scalar(tag: String): Option[String] =
      lines.find(_.startsWith(s"%$tag:")).map(_.drop(tag.length + 2).trim)
    def matrix(tag: String): Array[Array[Double]] = {
      val start = lines.indexWhere(_.startsWith(s"#$tag")) + 1
      lines.drop(start).takeWhile(l => l.nonEmpty && !l.startsWith("%") && !l.startsWith("#"))
        .map(_.trim.split("\\s+").map(_.toDouble)).toArray
    }
    val pit = matrix("PITILDE")
    val cx = matrix("CONNX").map(_.map(_.toInt))
    val frq = scalar("SYM_FRQ").map(_.split("\\s+").filter(_.nonEmpty).map(_.toDouble))
      .getOrElse(Array.fill(pit.head.length)(1.0 / pit.head.length))
    Pfsa(
      conn = cx,
      pitilde = pit,
      symFrq = frq,
      annErr = scalar("ANN_ERR").flatMap(_.toDoubleOption).getOrElse(0.0),
      mrgEps = scalar("MRG_EPS").flatMap(_.toDoubleOption).getOrElse(0.0),
      synStr = scalar("SYN_STR").filter(_.nonEmpty)
        .map(_.split("\\s+").toSeq.flatMap(_.toIntOption)))
  }

  /** The M2.cfg ground-truth machine (examples/M2.cfg:8-10): 2 states over
    * {0,1}, δ(q,σ)=σ, π̃ = [[.6,.4],[.3,.7]]. Used by specs as a golden model. */
  def m2: Pfsa = Pfsa(
    conn = Array(Array(0, 1), Array(0, 1)),
    pitilde = Array(Array(0.6, 0.4), Array(0.3, 0.7)),
    symFrq = Array(0.5, 0.5))

  /** The M2_u.cfg variant (examples/M2_u.cfg): π̃ = [[.4,.6],[.6,.4]]. */
  def m2u: Pfsa = Pfsa(
    conn = Array(Array(0, 1), Array(0, 1)),
    pitilde = Array(Array(0.4, 0.6), Array(0.6, 0.4)),
    symFrq = Array(0.5, 0.5))
}
