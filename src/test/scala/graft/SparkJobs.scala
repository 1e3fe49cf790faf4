package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** What one block started on the test session: the jobs and the submitted
  * stages per job description (skipped stages are not submitted, so not
  * counted), and the jobs that ran a parquet schema inference (a stage
  * named `parquet at <file>:<line>`).
  */
final case class SparkJobs(byDescription: Map[String, Int],
                           stagesByDescription: Map[String, Int],
                           parquetInference: Int) {
  def total: Int = byDescription.values.sum
}

object SparkJobs {

  /** Runs `body` in its own job group and returns its result with what
    * the group started. The listener bus is drained before the counts are
    * read (`listenerBus` is private[spark], hence reflection).
    */
  def of[T](body: => T): (T, SparkJobs) = {
    val sc = SparkTestSession.get.sparkContext
    val group = s"spark-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[(String, Boolean)]()
    val stages = new ConcurrentLinkedQueue[String]()
    def description(props: java.util.Properties): Option[String] =
      Option(props).filter(_.getProperty("spark.jobGroup.id") == group)
        .map(p => String.valueOf(p.getProperty("spark.job.description")))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        description(e.properties).foreach(d =>
          jobs.add(d -> e.stageInfos.exists(_.name.startsWith("parquet at "))))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        description(e.properties).foreach(stages.add)
    }
    def perDescription(ds: Iterable[String]) = ds.groupMapReduce(identity)(_ => 1)(_ + _)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      val js = jobs.asScala.toSeq
      (out, SparkJobs(perDescription(js.map(_._1)), perDescription(stages.asScala),
        js.count(_._2)))
    } finally sc.removeSparkListener(listener)
  }
}
