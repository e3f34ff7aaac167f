package graft

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate dedupes). */
trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.session

  /** The Spark jobs `body` starts on this thread, and its result. Only
    * jobs of a job group set for the call are counted, not those of a
    * stream another suite left running.
    */
  def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      ListenerBusDrain(sc)
      (jobs.get, out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestSession {
  lazy val session: SparkSession =
    SparkEntry.session(cores = 4, shufflePartitions = Some(4))
}
