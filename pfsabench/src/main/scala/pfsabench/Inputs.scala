package pfsabench

import graft.core.Pfsa
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every generated value is a pure function of
  * (seed, ids) — symbols come from [[Pfsa.sample]], whose draws are
  * counter-based — so the same seed yields the same corpus on any
  * partitioning, and the driver-side oracle can name the machine behind
  * each sequence without reading it back. */
object Inputs {

  /** Symbol-synchronizing chain (δ(q,σ) = σ): the state is the last symbol. */
  def chain(rows: Array[Array[Double]]): Pfsa = {
    val k = rows.length
    Pfsa(Array.fill(k)(Array.tabulate(k)(identity)), rows, Array.fill(k)(1.0 / k))
  }

  // Ternary regimes for the equal-mass quantizer ("complex", 3 bins): each
  // favours a different symbol, so they differ in marginals as well as in
  // memory. The planted machine is a near-deterministic 0→1→2 cycle, which
  // no regime explains.
  val ternaryRegimes: IndexedSeq[Pfsa] = IndexedSeq(
    chain(Array(Array(0.70, 0.20, 0.10), Array(0.55, 0.35, 0.10), Array(0.60, 0.10, 0.30))),
    chain(Array(Array(0.30, 0.60, 0.10), Array(0.10, 0.80, 0.10), Array(0.10, 0.55, 0.35))),
    chain(Array(Array(0.35, 0.10, 0.55), Array(0.10, 0.30, 0.60), Array(0.10, 0.20, 0.70))))
  val ternaryPlanted: Pfsa = chain(Array(
    Array(0.04, 0.92, 0.04), Array(0.04, 0.04, 0.92), Array(0.92, 0.04, 0.04)))

  /** Uniform in [0, 1) from (seed, salt, id) — splitmix64 finalizer. */
  def unit(seed: Long, salt: Long, id: Long): Double = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Continuous values whose equal-mass bins recover the sample: symbol s
    * becomes s plus noise well inside its unit band. */
  def levels(syms: Array[Byte], seed: Long, id: Long): Array[Double] =
    Array.tabulate(syms.length)(t => syms(t) + 0.8 * (unit(seed, 11, id * 1000003L + t) - 0.5))

  /** A generated long-form corpus: `size` series, each a pure function of
    * its id. */
  trait Corpus extends Serializable {
    def size: Int
    def values(id: Long): Array[Double]
  }

  /** Machine `m`: a regime, or the planted machine for m = regimes.size. */
  def ternary(m: Int): Pfsa = if (m == ternaryRegimes.size) ternaryPlanted else ternaryRegimes(m)

  /** Series that each come from one machine: `planted` of the `size`
    * series, at seeded positions, from the planted machine; the others from
    * the regimes in turn. Counts per machine do not depend on the seed, so
    * neither does the shape of the fit. */
  final case class SeriesSpec(seed: Long, corpus: Int, size: Int, length: Int, planted: Int)
      extends Corpus {
    @transient private lazy val rank: Map[Long, Int] =
      (0L until size).sortBy(unit(seed, 400L + corpus, _)).zipWithIndex.toMap
    def machineOf(series: Long): Int =
      if (rank(series) < planted) ternaryRegimes.size else rank(series) % ternaryRegimes.size
    def symbolsOf(series: Long): Array[Byte] =
      ternary(machineOf(series)).sample(length, seed * 1000003L + corpus * 7919L + series)
    def values(series: Long): Array[Double] = levels(symbolsOf(series), seed, series)
  }

  /** Regime-switching streams: each stream visits the three regimes and
    * the planted machine in its own seeded order, one machine per segment
    * of `segLen` symbols, then repeats that order. Every stream therefore
    * meets each machine for the first time in its first four segments. */
  final case class SwitchSpec(seed: Long, corpus: Int, size: Int, segments: Int, segLen: Int)
      extends Corpus {
    def machineOf(stream: Long, seg: Int): Int = {
      val n = ternaryRegimes.size + 1
      (0 until n).sortBy(m => unit(seed, 500L + corpus, stream * n + m)).apply(seg % n)
    }
    def symbolsOf(stream: Long): Array[Byte] =
      Array.tabulate(segments)(g =>
        ternary(machineOf(stream, g)).sample(segLen, seed * 1000003L + corpus * 7919L + stream * 1009L + g)
      ).flatten
    def values(stream: Long): Array[Double] = levels(symbolsOf(stream), seed, stream)
  }

  /** Write corpora as long-form `(seq_id, t, value)` parquet under
    * `dir/corpus=<index>`, generated by a Spark job so setup uses every
    * core. */
  def writeCorpora(spark: SparkSession, dir: String, corpora: IndexedSeq[Corpus]): Unit = {
    import spark.implicits._
    val offsets = corpora.scanLeft(0L)(_ + _.size).toArray
    spark.range(0L, offsets.last, 1, spark.sparkContext.defaultParallelism * 2)
      .as[Long]
      .flatMap { id =>
        val c = java.util.Arrays.binarySearch(offsets, id) match {
          case i if i >= 0 => i
          case i => -i - 2
        }
        val sid = id - offsets(c)
        val v = corpora(c).values(sid)
        Iterator.tabulate(v.length)(t => (c, sid, t.toLong, v(t)))
      }
      .toDF("corpus", "seq_id", "t", "value")
      .write.mode("overwrite").partitionBy("corpus").parquet(dir)
  }

  /** Content hash of each `by` group of a dataset: row count plus
    * order-independent folds of a 64-bit row hash, so two runs on the same
    * seed provably read identical inputs whatever the file layout. */
  def fingerprints(df: DataFrame, by: String): Map[String, String] = {
    val h = xxhash64(df.columns.filter(_ != by).sorted.map(col).toIndexedSeq: _*)
    df.groupBy(col(by).cast("string"))
      .agg(count(lit(1)), bit_xor(h), sum(shiftrightunsigned(h, 33)),
        sum(h.bitwiseAND(lit(0x7fffffffL))))
      .collect()
      .map(r => s"$by=${r.getString(0)}" ->
        f"${r.getLong(1)}%d-${r.getLong(2)}%016x-${r.getLong(3)}%x-${r.getLong(4)}%x")
      .sortBy(_._1).toMap
  }
}
