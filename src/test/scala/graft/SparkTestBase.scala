package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites (JVM-wide). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-table specs need a catalog warehouse; keep it out of cwd
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Runs `body` with `n` shuffle partitions and AQE coalescing off, so the
    * partition count really is `n`; restores both settings after. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val old = keys.map(spark.conf.get)
    spark.conf.set(keys(0), n.toString); spark.conf.set(keys(1), "false")
    try body finally keys.zip(old).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Number of Spark jobs `body` submits (the listener bus is drained
    * before and after, so jobs of earlier code are not counted). */
  def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}
