package graft.relational

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted quality model (r14 verdict ask #2): the LR fit is a one-time
  * family build that writes a 65-row model table; every serve call loads
  * it instead of refitting. These specs pin the persistence contract:
  * save → load → score is BIT-exact (doubles round-trip parquet
  * unchanged), the loader validates shape and feature spec, and the serve
  * grid covers the scored universe. */
class QualityModelPersistSpec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("save -> load -> score is bit-exact through a second parquet round-trip") {
    val root = DataPipelineQueries.qualityModelRoot(spark, sf)
    val (w1, b1) = DataPipelineQueries.loadedQualityModel(spark, root)
    assert(w1.length === 64)
    // write the loaded model back out through the same table format (a
    // second save), reload with the production loader, compare raw bits
    val tmp = java.nio.file.Files.createTempDirectory("graft_qm_spec_")
    try {
      import spark.implicits._
      val spec = "md5_token_hash_64_tf_norm"
      (w1.zipWithIndex.map { case (wi, i) => (i, wi, 64, spec) } :+
        ((-1, b1, 64, spec)))
        .toSeq.toDF("fi", "weight", "n_features", "feat_spec")
        .write.mode("overwrite").parquet(s"$tmp/model")
      val (w2, b2) = DataPipelineQueries.loadedQualityModel(spark, tmp.toString)
      assert(java.lang.Double.doubleToRawLongBits(b1) ===
        java.lang.Double.doubleToRawLongBits(b2), "intercept bits")
      w1.indices.foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(w1(i)) ===
          java.lang.Double.doubleToRawLongBits(w2(i)), s"coefficient $i bits")
      }
      // score parity: both model copies produce IDENTICAL rounded
      // probabilities over the persisted feature table (not approximately
      // — the loaded doubles are the same bits, so the native margin is
      // the same double)
      import org.apache.spark.sql.graft.ColumnBridge
      def probs(w: Array[Double], b: Double) = {
        val margin = ColumnBridge.column(graft.functions.VecDotConst(
          ColumnBridge.expression(col("farr")), w)) + lit(b)
        spark.read.parquet(s"$root/feats")
          .select(col("doc_id"),
            round(lit(1.0) / (lit(1.0) + exp(-margin)), 6).as("p"))
      }
      assert(probs(w1, b1).except(probs(w2, b2)).count() === 0L)
      assert(probs(w2, b2).except(probs(w1, b1)).count() === 0L)
    } finally graft.core.SessionMemo.deleteRecursively(tmp)
  }

  test("loader fails loudly on truncated or spec-incompatible model tables") {
    val root = DataPipelineQueries.qualityModelRoot(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_qm_bad_")
    try {
      // truncated: 64 rows (intercept dropped)
      spark.read.parquet(s"$root/model").filter(col("fi") >= 0)
        .write.mode("overwrite").parquet(s"$tmp/model")
      val e1 = intercept[IllegalArgumentException] {
        DataPipelineQueries.loadedQualityModel(spark, tmp.toString)
      }
      assert(e1.getMessage.contains("expected 65"))
      // foreign feature spec
      spark.read.parquet(s"$root/model")
        .withColumn("feat_spec", lit("someone_elses_hash"))
        .write.mode("overwrite").parquet(s"$tmp/model")
      val e2 = intercept[IllegalArgumentException] {
        DataPipelineQueries.loadedQualityModel(spark, tmp.toString)
      }
      assert(e2.getMessage.contains("incompatible feature spec"))
    } finally graft.core.SessionMemo.deleteRecursively(tmp)
  }

  test("quality_score_serve: complete integer-exact deciles + load certificate") {
    val rows = DataPipelineQueries.queries("quality_score_serve")(spark, sf).collect()
    assert(rows.length === 10)
    assert(rows.map(_.getLong(0)).toSeq === (0L to 9L))
    val universe = Tables.tbl(spark, sf, "documents")
      .filter(size(graft.text.TextOps.tokens("text")) > 0).count()
    assert(rows.map(_.getLong(1)).sum === universe)
    val expected = (1L to universe).groupBy(r => (r - 1) * 10 / universe)
      .view.mapValues(_.size.toLong).toMap
    rows.foreach(r => assert(r.getLong(1) === expected(r.getLong(0))))
    rows.foreach { r =>
      assert(r.getLong(2) === 65L, "model row count certificate")
      assert(r.getBoolean(3), "weights finite")
    }
  }
}
