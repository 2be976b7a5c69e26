package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. */
trait JobCounting { self: SparkSpec =>

  /** What `body` returns and the Spark jobs started while it ran, counted
    * by job group so no other thread's job is seen. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, jobs) = jobPropertiesDuring(body)
    (out, jobs.size)
  }

  /** What `body` returns and how many SQL executions (actions) its jobs
    * ran for: AQE runs one action as one job per query stage. */
  def executionsDuring[T](body: => T): (T, Int) = {
    val (out, jobs) = jobPropertiesDuring(body)
    (out, jobs.map(_.getProperty("spark.sql.execution.id")).distinct.size)
  }

  private def jobPropertiesDuring[T](body: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) jobs.add(e.properties)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val out = body
      TestListenerBus.drain(sc)
      (out, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
