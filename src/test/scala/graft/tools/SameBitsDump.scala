package graft.tools

import graft.core.{Llk, Pfsa, Segment}
import graft.pipeline.AnomalyDetection
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Dumps the models and predictions of `fitPredict`, `fit` and `predict`
  * on fixed corpora, one text file per corpus, as raw bits: two builds
  * whose dumps are byte-identical fitted and predicted the same bits.
  * `scripts/same_bits.sh <rev>` runs it on a revision and on the working
  * tree and diffs the dumps; it uses only the public detection API, so it
  * runs against older revisions as well.
  *
  * Usage: `Test/runMain graft.tools.SameBitsDump <out dir> [corpus ...]`
  *
  * Corpora: three shaped like the benchmark's fit workload (48 random-walk
  * streams cut into 1000/500 windows, complex quantizer), two more of that
  * shape with string seq_ids and with NaN and null values, one the
  * reduce-clusters fixpoint merges (k 5 → 4), one with `quantize = false`,
  * one with a pluggable clusterer, and `many_groups`: PlanShapeFoldSpec's
  * 600 short sequences, about 150 per partition, where an aggregate would
  * fall back to sort. The
  * last also records, per entry point, how many llks differ from `Llk.llk`
  * on the sequence's symbols. */
object SameBitsDump {

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(out)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val wanted = args.drop(1).toSet
      corpora(spark).foreach { case (name, make) =>
        if (wanted.isEmpty || wanted(name)) {
          val text = dump(spark, make())
          java.nio.file.Files.writeString(out.resolve(s"$name.txt"), text)
          println(s"[same-bits] $name: ${text.length} chars")
        }
      }
    } finally spark.stop()
  }

  /** A corpus: input rows, params, clusterer, and (for `many_groups`)
    * each sequence's symbols. */
  private final case class Corpus(
      df: DataFrame, params: AnomalyDetection.Params,
      clusterer: Option[org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]] = None,
      symbols: Option[Map[Long, Array[Byte]]] = None)

  private def corpora(spark: SparkSession): Seq[(String, () => Corpus)] = {
    import spark.implicits._
    def longForm(rows: Seq[(Long, Array[Byte])]) = rows.flatMap { case (id, syms) =>
      syms.zipWithIndex.map { case (s, t) => (id, t.toLong, s.toDouble) }
    }.toDF("seq_id", "t", "value")
    def twoRegimes(perRegime: Int, len: Int, seed: Long, uOffset: Long) =
      (0 until perRegime).map(i => i.toLong -> Pfsa.m2.sample(len, seed = seed + i)) ++
        (0 until perRegime).map(i => (perRegime + i).toLong -> Pfsa.m2u.sample(len, seed = seed + uOffset + i))
    val tri = Pfsa(Array(Array(0, 1, 2), Array(0, 1, 2), Array(0, 1, 2)),
      Array(Array(0.6, 0.3, 0.1), Array(0.1, 0.6, 0.3), Array(0.3, 0.1, 0.6)),
      Array(1.0 / 3, 1.0 / 3, 1.0 / 3))
    def segmented(seed: Long): Corpus = {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 48).flatMap { s =>
        val m = if (s % 4 == 3) tri else if (s % 2 == 0) Pfsa.m2 else Pfsa.m2u
        var x = 0.0
        m.sample(3000, seed * 1000 + s).zipWithIndex.map { case (sym, t) =>
          x += (sym - 1).toDouble + rnd.nextGaussian() * 0.3
          (s.toLong, t.toLong, x)
        }
      }
      Corpus(Segment.windows(rows.toDF("seq_id", "t", "value"), 1000, 500)
        .select((col("seq_id") * 1000000L + col("win_id")).as("seq_id"), col("pos").as("t"),
          col("value")),
        AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 3, reduceClusters = true,
          quantizeType = "complex", nSymbols = 3, eps = 0.2))
    }
    val fixpoint = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 5,
      reduceClusters = true, quantize = false, eps = 0.05)
    val plain = AnomalyDetection.Params(anomalySensitivity = 2.0, nClusters = 2,
      reduceClusters = true, quantize = false, eps = 0.05)
    Seq(
      "fit_large_9301" -> (() => segmented(9301L)),
      "fit_large_9302" -> (() => segmented(9302L)),
      "fit_large_9303" -> (() => segmented(9303L)),
      "complex_strings" -> { () =>
        val c = segmented(9304L)
        c.copy(df = c.df.withColumn("seq_id", concat(lit("w"), col("seq_id").cast("string"))))
      },
      "complex_gaps" -> { () =>
        val c = segmented(9305L)
        c.copy(df = c.df.withColumn("value", when(col("t") % 97 === 5, lit(Double.NaN))
          .when(col("t") % 89 === 7, lit(null)).otherwise(col("value"))))
      },
      "merging" -> (() => Corpus(longForm(twoRegimes(10, 1000, 3000L, 500L)), fixpoint)),
      "quantize_false" -> (() => Corpus(longForm(twoRegimes(6, 4000, 1700L, 100L)), plain)),
      "pluggable" -> (() => Corpus(longForm(twoRegimes(6, 3000, 1900L, 100L)), plain,
        Some(new SplitAtHalf(6L)))),
      "many_groups" -> { () =>
        // PlanShapeFoldSpec's corpus
        val seqs = (0 until 600).map { i =>
          i.toLong -> (if (i % 3 == 0) Pfsa.m2u else Pfsa.m2).sample(30 + i % 23, seed = 8800L + i)
        }
        Corpus(longForm(seqs), plain.copy(nClusters = 3), symbols = Some(seqs.toMap))
      })
  }

  private def bits(x: Double): String = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(x))

  private def model(m: AnomalyDetection.Model): String = {
    val sb = new StringBuilder
    sb ++= s"alphabet ${m.alphabetSize} library ${m.library.size}\n"
    sb ++= s"cutoffs ${m.complexModel.map(_.cutoffs.map(bits).mkString(",")).getOrElse("-")}\n"
    sb ++= s"means ${m.llkMeans.map(bits).mkString(",")}\nstds ${m.llkStds.map(bits).mkString(",")}\n"
    m.library.zipWithIndex.foreach { case (p, i) =>
      sb ++= s"pfsa $i conn ${p.conn.map(_.mkString(",")).mkString(";")}\n"
      sb ++= s"pfsa $i pitilde ${p.pitilde.map(_.map(bits).mkString(",")).mkString(";")}\n"
      sb ++= s"pfsa $i symFrq ${p.symFrq.map(bits).mkString(",")} annErr ${bits(p.annErr)} " +
        s"mrgEps ${bits(p.mrgEps)} synStr ${p.synStr.map(_.mkString(",")).getOrElse("-")}\n"
    }
    sb ++= AnomalyDetection.describePfsas(m) += '\n'
    sb.result()
  }

  /** Prediction rows sorted by seq_id (numeric ids in number order):
    * (seq_id, is_anomaly, closest, llk). */
  private def rows(pred: DataFrame): Seq[(Any, Boolean, Int, Double)] =
    pred.collect().map(r => (r.get(0), r.getBoolean(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._1 match { case id: Long => (id, ""); case id => (0L, id.toString) }).toSeq

  private def dump(spark: SparkSession, c: Corpus): String = {
    val df = c.df.persist()
    try {
      val (fused, fusedPred) = AnomalyDetection.fitPredict(spark, df, c.params, c.clusterer)
      val fitted = AnomalyDetection.fit(spark, df, c.params, c.clusterer)
      val legs = Seq("fitPredict" -> (fused, rows(fusedPred)),
        "fit+predict" -> (fitted, rows(AnomalyDetection.predict(spark, fitted, df))))
      val sb = new StringBuilder
      legs.foreach { case (name, (m, preds)) =>
        sb ++= s"== $name model\n" ++= model(m)
        sb ++= s"== $name predictions\n"
        preds.foreach { case (id, an, cl, llk) => sb ++= s"$id $an $cl ${bits(llk)}\n" }
        c.symbols.foreach { syms =>
          val off = preds.count { case (id, _, cl, llk) =>
            val want = if (cl < 0) Double.PositiveInfinity
              else Llk.llk(syms(id.asInstanceOf[Long]), m.library(cl))
            java.lang.Double.doubleToRawLongBits(want) != java.lang.Double.doubleToRawLongBits(llk)
          }
          sb ++= s"== $name llks that differ from Llk.llk: $off of ${preds.size}\n"
        }
      }
      sb.result()
    } finally df.unpersist()
  }
}

/** A clusterer that puts the sequences below `cut` in one cluster and the
  * rest in the other, whatever their features. */
private class SplitAtHalf(cut: Long, override val uid: String)
    extends org.apache.spark.ml.Estimator[SplitAtHalfModel] {
  def this(cut: Long) = this(cut, org.apache.spark.ml.util.Identifiable.randomUID("splitAtHalf"))
  override def fit(ds: org.apache.spark.sql.Dataset[_]): SplitAtHalfModel = new SplitAtHalfModel(cut, uid)
  override def transformSchema(schema: StructType): StructType = schema.add("raw_label", IntegerType)
  override def copy(extra: org.apache.spark.ml.param.ParamMap): SplitAtHalf = this
}

private class SplitAtHalfModel(cut: Long, override val uid: String)
    extends org.apache.spark.ml.Model[SplitAtHalfModel] {
  override def transform(ds: org.apache.spark.sql.Dataset[_]): DataFrame =
    ds.withColumn("raw_label", (col("seq_id") >= cut).cast("int"))
  override def transformSchema(schema: StructType): StructType = schema.add("raw_label", IntegerType)
  override def copy(extra: org.apache.spark.ml.param.ParamMap): SplitAtHalfModel = this
}
