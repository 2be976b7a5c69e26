package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. */
trait JobCounting { self: SparkSpec =>

  /** What `body` returns and the Spark jobs started while it ran, counted
    * by job group so no other thread's job is seen. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val out = body
      TestListenerBus.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
