package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for suites that need one (getOrCreate, so
  * all suites in the forked test JVM reuse a single context). */
trait SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def resourcePath(name: String): String =
    getClass.getResource(name).getPath

  /** The number of Spark jobs started while `body` runs: a listener
    * counting job starts, registered after the bus has drained (so no
    * earlier job is counted) and removed in a `finally`. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
