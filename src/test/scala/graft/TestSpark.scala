package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` on this thread in a Spark job group of its own, calling
    * `onJob` (on the listener bus) as each job of the group starts, and
    * return once the bus has delivered every event `body` queued. */
  def inJobGroup[A](sc: org.apache.spark.SparkContext)(onJob: () => Unit)(body: => A): A = {
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) onJob()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.sql.graft.ColumnBridge.waitListenerBusEmpty(sc, 30000L)
      out
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the Spark jobs it ran on this thread. */
  def jobsOf[A](sc: org.apache.spark.SparkContext)(body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val out = inJobGroup(sc)(() => jobs.incrementAndGet())(body)
    (out, jobs.get())
  }
}
