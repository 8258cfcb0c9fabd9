package graft.relational

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r13 ngram-Jaccard caps on a swarm fixture where they BIND: 300
  * docs in one block share a hot head (every head trigram's bucket holds
  * all 300 reps > NgramBucketCap → dropped), so candidacy flows only
  * through the docs' rare COLD trigrams — and for the pairs that do
  * qualify, the hot add-back must restore the dropped trigrams into an
  * EXACT jaccard. An independent in-test recompute of the capped
  * semantics (bucket cap → cold candidacy → degree cap → exact J over
  * FULL sets) must match the engine row-for-row, and the uncapped
  * brute-force answer must be strictly larger (the documented recall
  * trade, visible). */
class NgramCapSwarmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // head of 12 chars shared by all swarm docs; suffix = 2 distinct chars,
  // so docs sharing the suffix's FIRST char share one cold boundary trigram
  private val head = "commonheadzz"
  private val suffixes = (for (a <- 'a' to 'z'; b <- 'a' to 'n') yield s"$a$b").take(300)
  private val swarm = suffixes.zipWithIndex.map { case (sfx, i) =>
    (i.toLong, head + sfx)
  }

  private def trigrams(t: String): Set[String] =
    (1 to math.max(t.length - 2, 1)).map(i =>
      t.substring(i - 1, math.min(i + 2, t.length))).toSet

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Independent replay of the capped semantics at doc level (no collapse
    * applies — all sets distinct): bucket sizes per trigram, cold = 2..cap,
    * candidates share ≥ 1 cold trigram (degree ≤ 25 here, cap non-binding),
    * exact jaccard over the FULL trigram sets, keep ≥ 0.5. */
  private def cappedReference(cap: Int): Map[(Long, Long), Double] = {
    val sets = swarm.map { case (id, t) => id -> trigrams(t) }.toMap
    val bucket = sets.values.flatten.groupBy(identity).map { case (g, xs) => g -> xs.size }
    val cold = bucket.filter { case (_, c) => c >= 2 && c <= cap }.keySet
    (for {
      Seq((a, sa), (b, sb)) <- sets.toSeq.sortBy(_._1).combinations(2)
      shared = sa intersect sb
      if (shared intersect cold).nonEmpty
      j = round6(shared.size.toDouble / (sa.size + sb.size - shared.size))
      if j >= 0.5
    } yield (a, b) -> j).toMap
  }

  test("caps bind on the swarm; survivors carry exact hot-inclusive jaccard") {
    val dir = java.nio.file.Files.createTempDirectory("ngswarm").toString
    swarm.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val engine = DataPipelineQueries.queries("dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ref = cappedReference(cap = 256)
    assert(engine == ref,
      s"engine ${engine.size} pairs vs reference ${ref.size}; " +
        s"diff=${(engine.toSet diff ref.toSet).take(3)} / " +
        s"${(ref.toSet diff engine.toSet).take(3)}")
    // the hot add-back is load-bearing: every surviving pair's jaccard
    // includes the 10+ dropped head trigrams (cold-only J would be tiny)
    assert(engine.nonEmpty && engine.values.forall(_ >= 0.5))
    // and the recall trade is real: uncapped brute force qualifies ALL
    // swarm pairs (every pair shares the whole head), far more than the
    // cold-candidacy survivors
    val sets = swarm.map { case (id, t) => id -> trigrams(t) }.toMap
    val bruteCount = sets.toSeq.combinations(2).count { case Seq((_, sa), (_, sb)) =>
      val sh = (sa intersect sb).size
      round6(sh.toDouble / (sa.size + sb.size - sh)) >= 0.5
    }
    assert(engine.size < bruteCount,
      s"expected capped recall < brute (${engine.size} vs $bruteCount)")
    graft.core.SessionMemo.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
