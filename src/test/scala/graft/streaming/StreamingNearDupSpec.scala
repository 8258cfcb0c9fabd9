package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Incremental MinHash near-dup: a doc seen in trigger 1 must pair with
  * its near-duplicate arriving in trigger 2 (the keyed band-bucket state
  * property the batch pass has no counterpart for), and an over-cap swarm
  * must stay bounded — state stores at most the cap per bucket. */
class StreamingNearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs `body` with the RocksDB state store provider transformWithState
    * requires, restoring the previous provider afterwards (the suite's
    * session is shared with specs using the default provider). */
  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, StreamingNearDup.RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val baseText =
    "the quick brown fox jumps over the lazy dog while the cat watches " +
      "from the warm windowsill and the birds sing in the garden outside"

  test("a near-dup arriving a trigger later pairs with the stored original") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[(Long, String)]
      val docs = input.toDS().toDF("doc_id", "text")
      val query = StreamingNearDup.nearDupPairs(docs)
        .writeStream.format("memory").queryName("sneardup")
        .outputMode("append").start()
      try {
        input.addData((0L, baseText))
        query.processAllAvailable()
        assert(spark.table("sneardup").isEmpty, "a lone doc has no partner")

        // trigger 2: a light edit of doc 0 plus an unrelated doc — only the
        // near-dup may pair, and only against STATE from trigger 1
        input.addData((1L, baseText + " tonight"),
          (2L, "completely different content about spark structured streaming"))
        query.processAllAvailable()
        val pairs = spark.table("sneardup").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).distinct.toSeq
        assert(pairs.map(p => (p._1, p._2)) == Seq((0L, 1L)),
          s"expected exactly the cross-trigger near-dup pair: $pairs")
        assert(pairs.head._3 >= 0.5 && pairs.head._3 < 1.0,
          s"estimate should be high but not exact: ${pairs.head._3}")
      } finally query.stop()
    }
  }

  test("an exact duplicate pairs at estimate 1.0 in every band it shares") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[(Long, String)]
      val query = StreamingNearDup.nearDupPairs(input.toDS().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("sneardup_exact")
        .outputMode("append").start()
      try {
        input.addData((10L, baseText))
        query.processAllAvailable()
        input.addData((11L, "  " + baseText.toUpperCase + "  ")) // normalizes equal
        query.processAllAvailable()
        val hits = spark.table("sneardup_exact").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        // identical signatures collide in ALL 16 bands, est exactly 1.0
        assert(hits.length == 16, s"expected one hit per band: ${hits.length}")
        assert(hits.forall(h => h._1 == 10L && h._2 == 11L && h._3 == 1.0))
        assert(hits.map(_._4).sorted.toSeq == (0 until 16), "one hit per distinct band")
      } finally query.stop()
    }
  }

  test("TTL mode: occupants past their TTL no longer pair; fresh ones do") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[(Long, String)]
      val query = StreamingNearDup.nearDupPairs(
        input.toDS().toDF("doc_id", "text"),
        ttl = Some(java.time.Duration.ofSeconds(2)))
        .writeStream.format("memory").queryName("sneardup_ttl")
        .outputMode("append").start()
      // processing-time mode keeps running no-data cleanup batches, so
      // processAllAvailable never settles — poll the sink instead
      def pairsNow() = spark.table("sneardup_ttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq.sorted
      def waitFor(expect: Seq[(Long, Long)] => Boolean, what: String): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (!expect(pairsNow())) {
          assert(System.currentTimeMillis() < deadline,
            s"timed out waiting for $what; pairs = ${pairsNow()}")
          Thread.sleep(250)
        }
      }
      try {
        // one batch, two identical docs: both are inside the TTL → pair
        input.addData((0L, baseText), (1L, baseText))
        waitFor(_.contains((0L, 1L)), "the in-TTL pair (0,1)")

        // let every stored entry expire, then replay the text: the
        // horizon-bounded trade — aged-out occupants are invisible, so the
        // two fresh copies pair only with EACH OTHER
        Thread.sleep(6000)
        input.addData((2L, baseText), (3L, baseText))
        waitFor(_.contains((2L, 3L)), "the post-expiry pair (2,3)")
        assert(pairsNow() == Seq((0L, 1L), (2L, 3L)),
          s"expired occupants must not pair with fresh arrivals: ${pairsNow()}")
      } finally query.stop()
    }
  }

  test("registered stream_neardup query: every synthesized copy pair found at est 1.0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sneardup_q").toString
    Seq((0L, "web", "en", baseText),
      (1L, "web", "en", "some unrelated text about entirely different things"),
      (2L, "web", "en", "yet another distinct document body with its own words"),
      (10L, "web", "en", baseText + " with a tail making it a distinct near-dup"))
      .toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.relational.DataPipelineQueries.queries("stream_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    assert(rows == Seq((0L, true, true, true, true), (10L, true, true, true, true)),
      s"synthesized-pair / state-metrics verdict grid broken: $rows")
  }

  test("registered stream_neardup keeps its state partitions within the session cap") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val dir = java.nio.file.Files.createTempDirectory("sneardup_parts").toString
    (0 until 40).map(i => (i.toLong, "web", "en", s"document $i $baseText tail $i"))
      .toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name != null && e.progress.name.startsWith("stream_neardup_"))
          Option(e.progress.stateOperators).toSeq.flatten
            .foreach(op => parts.add(op.numShufflePartitions))
    }
    spark.streams.addListener(l)
    try {
      graft.relational.DataPipelineQueries.queries("stream_neardup")(spark, dir).count()
      org.apache.spark.sql.graft.ColumnBridge
        .waitListenerBusEmpty(spark.sparkContext, 30000L)
    } finally spark.streams.removeListener(l)
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val seen = parts.asScala.toSeq.map(_.longValue)
    assert(seen.nonEmpty, "the streaming query must report its state operators")
    assert(seen.forall(_ <= cap),
      s"state partitions $seen exceed the session's $cap shuffle partitions")
  }

  test("state-store metrics: state rows and bytes track the documented per-doc bound") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[(Long, String)]
      val query = StreamingNearDup.nearDupPairs(input.toDS().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("sneardup_metrics")
        .outputMode("append").start()
      try {
        val nDocs = 60
        input.addData((0 until nDocs).map(i =>
          (i.toLong, s"document number $i " + baseText + s" tail marker $i")))
        query.processAllAvailable()
        val sops = query.recentProgress.toSeq
          .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
        assert(sops.nonEmpty, "no stateOperators progress reported")
        val rowsTotal = sops.map(_.numRowsTotal).max
        val rowsUpdated = sops.map(_.numRowsUpdated).sum
        val bytes = sops.map(_.memoryUsedBytes).max
        info(s"numRowsTotal=$rowsTotal numRowsUpdated=$rowsUpdated memoryUsedBytes=$bytes")
        info(s"customMetrics=${sops.map(_.customMetrics).mkString(";")}")
        // one state row per occupied (band, bucket) key: at most bands per doc
        assert(rowsTotal > 0 && rowsTotal <= 16L * nDocs,
          s"state rows $rowsTotal exceed bands x docs = ${16 * nDocs}")
        assert(rowsUpdated > 0, "no state rows were updated")
        // the scaladoc's ~8 KB/doc worst-case payload bound (16 bands x
        // (8 + 8x64) bytes per member), with 4x margin for store overhead
        // plus a fixed 1 MB floor: memory and on-disk SST must stay LINEAR
        // in the stored docs (measured: 17.5 KB memory / 55 KB SST at 60
        // docs — far inside; a super-linear regression blows through 4x)
        val payloadBound = 4L * nDocs * 16 * (8 + 8 * 64) + (1L << 20)
        assert(bytes > 0, "state store reported no memory usage")
        assert(bytes <= payloadBound,
          s"state memory $bytes exceeds the documented per-doc bound $payloadBound")
        val sst = sops.flatMap(s => Option(s.customMetrics).toSeq)
          .flatMap(m => Option(m.get("rocksdbSstFileSize")).map(_.longValue))
        assert(sst.nonEmpty && sst.max <= payloadBound,
          s"SST bytes ${sst.maxOption} exceed the documented per-doc bound $payloadBound")
      } finally query.stop()
    }
  }

  test("an over-cap identical swarm stores only the cap; emissions stay bounded") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[(Long, String)]
      val query = StreamingNearDup.nearDupPairs(
        input.toDS().toDF("doc_id", "text"), maxBucketSize = 2)
        .writeStream.format("memory").queryName("sneardup_cap")
        .outputMode("append").start()
      try {
        input.addData((0L, baseText), (1L, baseText), (2L, baseText), (3L, baseText))
        query.processAllAvailable()
        val pairs = spark.table("sneardup_cap").collect()
          .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq.sorted
        // bounded top-k admission: docs 0 and 1 (the two smallest ids)
        // fill every bucket no matter the arrival order, and the admitted
        // pair (0,1) always surfaces; over-cap arrivals may additionally
        // pair against transient admission candidates, but the set stays
        // within the swarm and bounded by cap per arrival per band
        assert(pairs.contains((0L, 1L)), s"admitted pair (0,1) missing: $pairs")
        assert(pairs.toSet.subsetOf(
          (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)).toSet),
          s"pairs escaped the batch-1 swarm: $pairs")

        // the swarm's STATE really is capped and deterministic: a later
        // arrival pairs against exactly the stored two smallest ids
        input.addData((4L, baseText))
        query.processAllAvailable()
        val later = spark.table("sneardup_cap").collect()
          .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq.sorted
        val batch2 = later.filter(_._2 == 4L)
        assert(batch2 == Seq((0L, 4L), (1L, 4L)),
          s"late arrival must pair with exactly the stored members {0,1}: $later")
      } finally query.stop()
    }
  }
}
