package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** A Spark job as its start event reports it. */
final case class JobStart(id: Int, stageNames: Seq[String], properties: Properties) {
  def property(key: String): Option[String] = Option(properties.getProperty(key))
}

object JobRecorder {
  private val FenceProp = "graft.test.fence"

  /** Runs `body` and returns the start events of the Spark jobs that
    * started while it ran, from any thread. The listener bus delivers
    * events in order, so once the start of a one-task fence job run after
    * `body` arrives, every earlier job's start has been seen. */
  def jobsOf(spark: SparkSession)(body: => Any): Seq[JobStart] = {
    val sc = spark.sparkContext
    val fence = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[JobStart]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new Properties)
        if (p.getProperty(FenceProp) == fence) fenced.countDown()
        else jobs.add(JobStart(e.jobId, e.stageInfos.map(_.name), p))
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(FenceProp, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceProp, null)
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job start never arrived")
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}
