package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the session-scoped artifact memo behind `sharedAnnEdges`
  * (graph family's materialized k-NN edge table) and the pipeline
  * family's fitted-model reuse: one build per (session, corpus dir),
  * keyed by CANONICAL path so spelling variants of the same dir share
  * the artifact, and the memo owns each build's `graft_<name>_*` dir.
  * (Eviction-on-session-stop cannot be exercised here — the spec JVM
  * owns one shared SparkContext — so it stays a code-path documented in
  * the scaladoc, guarded by `isStopped` only.) */
class SessionMemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("builds once per (session, dir) and returns the memoized value") {
    val memo = new SessionMemo[String]("spec_once")
    var builds = 0
    val dir = Files.createTempDirectory("memo_a_").toString
    val v1 = memo.getOrBuild(spark, dir) { _ => builds += 1; s"artifact-$builds" }
    val v2 = memo.getOrBuild(spark, dir) { _ => builds += 1; s"artifact-$builds" }
    assert(builds == 1)
    assert(v1 == "artifact-1" && v2 == "artifact-1")
    assert(memo.size == 1)
  }

  test("distinct corpus dirs build distinct artifacts") {
    val memo = new SessionMemo[String]("spec_distinct")
    val d1 = Files.createTempDirectory("memo_b_").toString
    val d2 = Files.createTempDirectory("memo_c_").toString
    assert(memo.getOrBuild(spark, d1)(_ => "one") == "one")
    assert(memo.getOrBuild(spark, d2)(_ => "two") == "two")
    assert(memo.size == 2)
  }

  test("canonical-path keying collapses spelling variants of one dir") {
    val memo = new SessionMemo[Int]("spec_canonical")
    val p = Files.createTempDirectory("memo_d_")
    val plain = p.toString
    val dotted = p.resolve(".").toString // same dir, non-canonical spelling
    assert(memo.getOrBuild(spark, plain)(_ => 1) == 1)
    assert(memo.getOrBuild(spark, dotted)(_ => 2) == 1) // memo hit, no rebuild
    assert(memo.size == 1)
  }

  test("a build that throws leaves no dir behind, memoizes nothing, and reruns") {
    val memo = new SessionMemo[String]("spec_throws")
    val corpus = Files.createTempDirectory("memo_e_").toString
    var handed = Option.empty[Path]
    val e = intercept[IllegalStateException] {
      memo.getOrBuild(spark, corpus) { tmp =>
        handed = Some(tmp)
        Files.writeString(tmp.resolve("partial.parquet"), "half-written")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    val failed = handed.get
    assert(failed.getFileName.toString.startsWith("graft_spec_throws_"))
    assert(failed.getParent == Path.of(System.getProperty("java.io.tmpdir")))
    assert(!Files.exists(failed), s"failed build leaked $failed")
    assert(memo.size == 0)
    var rebuilt = false
    assert(memo.getOrBuild(spark, corpus) { _ => rebuilt = true; "ok" } == "ok")
    assert(rebuilt, "the next call must build again")
    assert(memo.size == 1)
  }

  test("racing builds of one key: both get the winner, one dir survives") {
    val memo = new SessionMemo[String]("spec_race")
    val corpus = Files.createTempDirectory("memo_f_").toString
    val bothBuilding = new CountDownLatch(2)
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val racers = (1 to 2).map { i =>
        Future {
          memo.getOrBuild(spark, corpus) { tmp =>
            dirs.add(tmp)
            Files.writeString(tmp.resolve("v.txt"), s"v$i")
            // neither build finishes until both have started
            bothBuilding.countDown()
            assert(bothBuilding.await(30, TimeUnit.SECONDS))
            tmp.toString
          }
        }
      }
      val got = racers.map(Await.result(_, 60.seconds))
      assert(dirs.size == 2)
      assert(got.distinct.size == 1, s"both callers must see the winner: $got")
      val survivors = dirs.toArray(Array.empty[Path]).filter(Files.exists(_))
      assert(survivors.toSeq.map(_.toString) == Seq(got.head),
        s"exactly the winner's dir survives: ${survivors.toSeq}")
      assert(memo.size == 1)
    } finally pool.shutdown()
  }

  test("a memoized entry's dir exists and holds what the build wrote") {
    val memo = new SessionMemo[Path]("spec_holds")
    val corpus = Files.createTempDirectory("memo_g_").toString
    val dir = memo.getOrBuild(spark, corpus) { tmp =>
      Files.createDirectories(tmp.resolve("table"))
      Files.writeString(tmp.resolve("table/part-0.txt"), "payload")
      tmp
    }
    assert(dir.getFileName.toString.startsWith("graft_spec_holds_"))
    assert(Files.readString(dir.resolve("table/part-0.txt")) == "payload")
    assert(memo.getOrBuild(spark, corpus)(_ => fail("must be a memo hit")) == dir)
    assert(Files.readString(dir.resolve("table/part-0.txt")) == "payload")
  }
}
