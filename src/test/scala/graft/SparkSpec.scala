package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, local[4]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient lazy val spark: SparkSession = SparkSpec.session

  // engine-tracked caches accumulate across suites on the shared session;
  // release them so no suite's timing or memory depends on suite order
  override def afterAll(): Unit = {
    graft.Pipeline.clearIntermediateCaches(spark)
    super.afterAll()
  }
}

object SparkSpec {
  /** Runs `body` and counts the Spark jobs submitted while it ran. The
    * listener bus delivers in order: once a marker job submitted after
    * `body` is seen, every job `body` submitted has been seen too. */
  def countJobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "count-jobs-marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("count-jobs-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
