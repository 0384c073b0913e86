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

  /** The description (`spark.job.description`, `<none>` when unset) of
    * each Spark job started while `body` runs, in start order: a
    * job-start listener registered after the bus has drained (so no
    * earlier job is seen) and removed in a `finally`. */
  def jobDescriptionsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
        ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      descs.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** The number of Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = jobDescriptionsDuring(body).size
}
