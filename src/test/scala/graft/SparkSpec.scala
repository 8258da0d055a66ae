package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (mirrors the reference's
  * module-scoped `local[1]` fixture, `tests/conftest.py:8-17`, but with a
  * few cores so shuffle/exchange paths are exercised too).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SharedSpark.spark
  lazy val sqlImplicits: spark.implicits.type = spark.implicits

  /** Number of Spark jobs `body` starts. Two marker jobs bracket the
    * block: listener events arrive asynchronously but in order, and job
    * ids are sequential, so the count is the id distance between them.
    */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(
        e.jobId -> Option(e.properties).map(_.getProperty("spark.job.description")).orNull)
    }
    val tag = java.util.UUID.randomUUID().toString
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(s"start-$tag")
      body
      marker(s"end-$tag")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def ids(name: String) = started.toArray.collect { case (i: Int, `name`) => i }
      while (ids(s"end-$tag").isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      ids(s"end-$tag").head - ids(s"start-$tag").head - 1
    } finally sc.removeSparkListener(listener)
  }
}
