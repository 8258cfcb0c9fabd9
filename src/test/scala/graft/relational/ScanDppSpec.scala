package graft.relational

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** scan_dpp: the values are gated by the DuckDB oracle; this spec pins the
  * part the oracle cannot see — that the fact scan really carries a
  * dynamic-pruning subquery (only the dim-selected partitions are opened)
  * and that the result matches a direct unpartitioned recompute. */
class ScanDppSpec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The DPP fact-dim join frame WITHOUT the checkpoint, for the plan
    * assertion (localCheckpoint truncates the lineage this spec reads). */
  private def scanDppPlanProbe(factPath: String,
                               dim: org.apache.spark.sql.DataFrame) =
    spark.read.parquet(factPath).join(dim, Seq("lang"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))

  test("the fact scan's partition filters carry a dynamic pruning expression") {
    val tmp = java.nio.file.Files.createTempDirectory("dpp_spec")
    try {
      Tables.tbl(spark, sf, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(s"$tmp/docs")
      val dim = DataPipelineQueries.dppDim(spark, sf)
      val probe = scanDppPlanProbe(s"$tmp/docs", dim)
      probe.collect() // AQE finalizes the plan (DPP reuse decided at runtime)
      val plan = probe.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("dynamicpruning"),
        s"expected a dynamic pruning expression on the partitioned scan:\n$plan")
    } finally graft.core.SessionMemo.deleteRecursively(tmp)
  }

  test("scan_dpp values equal the direct unpartitioned recompute") {
    val rows = DataPipelineQueries.queries("scan_dpp")(spark, sf).collect()
    assert(rows.nonEmpty, "src0 must observe at least one lang")
    val langs = Tables.tbl(spark, sf, "documents")
      .filter(col("source") === "src0").select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(rows.length === langs.size)
    val direct = Tables.tbl(spark, sf, "documents")
      .filter(col("lang").isin(langs.toSeq: _*))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (n, sc) = direct(r.getString(0))
      assert(r.getLong(1) === n && r.getLong(2) === sc)
    }
  }
}
