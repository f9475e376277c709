package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. A suite that stops
  * it (PlanIndexSpec's restart case) gets a fresh one on the next call, so
  * the suites after it run on a live session. */
object TestSpark {
  private var session: SparkSession = _

  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped) session = build()
    session
  }

  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the Spark jobs it started. Listener events arrive in
    * order, so once a marker job run afterwards is seen, every earlier job is. */
  def jobsRunBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("jobs-run-by-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var n = 0
      var d = seen.poll(60, TimeUnit.SECONDS)
      while (d != "jobs-run-by-marker") {
        assert(d != null, "marker job not seen")
        n += 1
        d = seen.poll(60, TimeUnit.SECONDS)
      }
      (out, n)
    } finally sc.removeSparkListener(listener)
  }

  /** Ids of the RDDs persisted in the shared session right now. */
  def persistentRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** True when the session's Dataset cache holds no entry. */
  def datasetCacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty
}
