package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so the suite doesn't pay startup per spec).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = "/root/testdata/sf0.001"

  /** Spark jobs `body` runs, counted by a listener. */
  def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.BusDrainForTest(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.BusDrainForTest(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config(GraftSession.LocalSpreadKey, "true") // single-row-group local files
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
