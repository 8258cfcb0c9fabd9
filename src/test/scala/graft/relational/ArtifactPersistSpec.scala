package graft.relational

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-session artifact persistence (r15 verdict ask #3): the generic
  * [[graft.core.ArtifactStore]] behind the five family-memo save/load pairs
  * (minhash_sigs, dup_groups, ann_edges, lm_scores, hybrid_legs). Pins
  * the round-trip (save → load is row-exact) and every loud-failure
  * branch of the loader — a foreign, truncated, or schema-drifted
  * artifact must fail AT LOAD with a message naming the problem, never
  * serve silently-wrong rows. The family-level bit-parity against DuckDB
  * is gated by the *_persist entries (oracle = family SQL verbatim). */
class ArtifactPersistSpec extends AnyFunSuite {
  private val spark = graft.TestSpark.spark
  import spark.implicits._

  private val Spec = "test.artifact.v1"
  private val Schema = "id:bigint,name:string,score:double"

  private def sample = Seq((1L, "a", 0.5), (2L, "b", -1.25), (3L, "c", 0.0))
    .toDF("id", "name", "score")

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_artifact_spec_").toString

  private def rm(p: String): Unit =
    graft.core.SessionMemo.deleteRecursively(
      java.nio.file.Paths.get(p))

  test("save -> load round-trips rows exactly (both difference directions empty)") {
    val root = freshRoot()
    try {
      graft.core.ArtifactStore.save(root, Spec, Seq("t" -> sample))
      val loaded = graft.core.ArtifactStore.load(spark, root, Spec, Seq("t" -> Schema)).head
      assert(loaded.except(sample).count() === 0L)
      assert(sample.except(loaded).count() === 0L)
      assert(loaded.count() === 3L)
    } finally rm(root)
  }

  test("load fails loudly on a wrong spec string") {
    val root = freshRoot()
    try {
      graft.core.ArtifactStore.save(root, Spec, Seq("t" -> sample))
      val e = intercept[IllegalArgumentException] {
        graft.core.ArtifactStore.load(spark, root, "other.spec", Seq("t" -> Schema))
      }
      assert(e.getMessage.contains("spec"))
      assert(e.getMessage.contains(root))
    } finally rm(root)
  }

  test("load fails loudly on a missing/mismatched table set") {
    val root = freshRoot()
    try {
      graft.core.ArtifactStore.save(root, Spec, Seq("t" -> sample))
      val e = intercept[IllegalArgumentException] {
        graft.core.ArtifactStore.load(spark, root, Spec,
          Seq("t" -> Schema, "missing" -> "id:bigint"))
      }
      assert(e.getMessage.contains("tables"))
    } finally rm(root)
  }

  test("load fails loudly on schema drift (names or types)") {
    val root = freshRoot()
    try {
      graft.core.ArtifactStore.save(root, Spec, Seq("t" -> sample))
      val e = intercept[IllegalArgumentException] {
        graft.core.ArtifactStore.load(spark, root, Spec,
          Seq("t" -> "id:bigint,name:string,score:bigint"))
      }
      assert(e.getMessage.contains("schema"))
    } finally rm(root)
  }

  test("load fails loudly when the table was truncated after save") {
    val root = freshRoot()
    try {
      graft.core.ArtifactStore.save(root, Spec, Seq("t" -> sample))
      // corrupt: overwrite the table with fewer rows, keep _meta
      sample.filter(col("id") =!= 2L).write.mode("overwrite").parquet(s"$root/t")
      val e = intercept[IllegalArgumentException] {
        graft.core.ArtifactStore.load(spark, root, Spec, Seq("t" -> Schema))
      }
      assert(e.getMessage.contains("rows"))
    } finally rm(root)
  }

  test("load fails loudly on a non-artifact root (unreadable _meta)") {
    val root = freshRoot()
    try {
      val e = intercept[IllegalArgumentException] {
        graft.core.ArtifactStore.load(spark, root, Spec, Seq("t" -> Schema))
      }
      assert(e.getMessage.contains("_meta"))
    } finally rm(root)
  }

  test("family loaders round-trip their memo tables row-exactly") {
    val sf = "/root/testdata/sf0.001"
    // minhash: the widest artifact (string arrays + long arrays)
    val r1 = freshRoot()
    try {
      DataPipelineQueries.saveMinhashSigs(spark, sf, r1)
      val (m, g) = DataPipelineQueries.loadMinhashSigs(spark, r1)
      val (m0, g0) = DataPipelineQueries.minhashSigsTables(spark, sf)
      assert(m.except(m0).count() === 0L && m0.except(m).count() === 0L)
      assert(g.except(g0).count() === 0L && g0.except(g).count() === 0L)
    } finally rm(r1)
    // lm scores: doubles must round-trip bit-exactly for except() to agree
    val r2 = freshRoot()
    try {
      DataPipelineQueries.saveLmScores(spark, sf, r2)
      val lm = DataPipelineQueries.loadLmScores(spark, r2)
      assert(lm.count() === 500L)
      assert(lm.filter(col("lm_logp").isNull).count() === 0L)
    } finally rm(r2)
  }
}
