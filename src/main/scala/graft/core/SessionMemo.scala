package graft.core

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Session-scoped memo of a derived artifact keyed by (session, canonical
  * data dir) — the amortized-serving pattern `similarity_index_reuse`
  * measures, factored out for every query family that consumes the same
  * derived object over the same corpus (the graph family's k-NN edge
  * relation, the pipeline family's fitted reference model). A production
  * deployment builds these once and serves many analytics from them; the
  * per-query cold build is the anti-pattern, not the amortization.
  *
  * Values must be pure driver-side data or session-owned frames (eagerly
  * localCheckpoint'ed), so a value's lifetime never outlives its key's
  * session. A corpus REWRITTEN in place under the same path within one
  * live session would serve the stale artifact — acceptable over
  * immutable fixture data, and every call site keeps an unmemoized bypass.
  *
  * The memo OWNS each entry's artifact dir: every build is handed a fresh
  * `graft_<name>_*` dir under `java.io.tmpdir` to write into, and the
  * memo deletes it when the build throws (nothing is memoized), when the
  * build loses a concurrent race for its key, when the entry's session
  * has stopped (evicted on the next lookup), or from one JVM shutdown
  * hook — so neither a failed build nor a long-lived multi-session
  * process can leave orphaned artifacts behind. */
final class SessionMemo[V](name: String) {
  private val m = TrieMap.empty[(SparkSession, String), (Path, V)]
  private lazy val hookOnce: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => m.values.foreach(e => SessionMemo.deleteQuietly(e._1))))

  def getOrBuild(s: SparkSession, dir: String)(build: Path => V): V = {
    hookOnce
    m.filterInPlace { case ((sess, _), (tmp, _)) =>
      val live = !sess.sparkContext.isStopped
      if (!live) SessionMemo.deleteQuietly(tmp)
      live
    }
    val key = (s, new java.io.File(dir).getCanonicalPath)
    m.get(key) match {
      case Some((_, v)) => v
      case None =>
        // TrieMap.getOrElseUpdate is not atomic for the build side: two
        // racing callers would both run `build`. putIfAbsent decides one
        // winner; the loser deletes its own freshly built dir.
        val t0 = System.nanoTime()
        val tmp = SessionMemo.create(name)
        val built =
          try build(tmp)
          catch { case e: Throwable => SessionMemo.deleteQuietly(tmp); throw e }
        SessionMemo.record(name, (System.nanoTime() - t0) / 1e9)
        m.putIfAbsent(key, (tmp, built)) match {
          case Some((_, winner)) => SessionMemo.deleteQuietly(tmp); winner
          case None => built
        }
    }
  }

  private[graft] def size: Int = m.size
}

/** Build-time ledger for the memos — the r12 verdict's observability
  * ask: the one-time family builds (ANN edge table, dedup pair frame, LM
  * score table, fitted model) are paid by whichever gated query runs
  * first, and a bench artifact that can't tell build from serve makes
  * round-over-round per-query tables lie. Each memo appends (name,
  * seconds) when its build actually runs; Bench snapshots the ledger
  * around every query and reports the builds as their own rows. Pure
  * driver-side bookkeeping — no effect on values or plans.
  *
  * Also the single owner of engine temp directories: the memo's artifact
  * dirs and every query-scoped scratch dir ([[withTempDir]]) are created
  * and deleted here and nowhere else in the engine. */
object SessionMemo {
  private val ledger =
    new java.util.concurrent.CopyOnWriteArrayList[(String, Double)]()

  private[core] def record(name: String, secs: Double): Unit =
    ledger.add((name, secs))

  /** Immutable snapshot of (memo name, build seconds) entries so far. */
  def buildLedger: Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    ledger.asScala.toSeq
  }

  /** Runs `body` with a fresh `graft_<name>_*` dir under `java.io.tmpdir`
    * and deletes the dir on every path out. `body` must eagerly
    * materialize whatever it returns (e.g. localCheckpoint) — a lazy
    * frame over the dir would scan deleted files. */
  def withTempDir[A](name: String)(body: Path => A): A = {
    val tmp = create(name)
    try body(tmp) finally deleteRecursively(tmp)
  }

  private def create(name: String): Path =
    Files.createTempDirectory(s"graft_${name}_")

  /** Depth-first removal of `root` and everything under it; a missing
    * path is a no-op. */
  private[graft] def deleteRecursively(root: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(root)) return
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  private def deleteQuietly(root: Path): Unit =
    scala.util.Try(deleteRecursively(root))
}
