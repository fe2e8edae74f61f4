package graft

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for suite classes. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  /** The sf0.01 fixture tables (TESTDATA.md), the scale `Verify` checks. */
  val Sf001Dir = "/root/testdata/sf0.01"

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The number of Spark jobs `body` submits. */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int =
    jobStartsDuring(spark)(body).size

  /** The start events of the Spark jobs `body` submits, in order. */
  def jobStartsDuring(spark: SparkSession)(body: => Unit): Seq[SparkListenerJobStart] =
    eventsDuring(spark)(body).collect { case e: SparkListenerJobStart => e }

  /** The stages `body` runs (skipped stages excluded), in submission order. */
  def stagesDuring(spark: SparkSession)(body: => Unit): Seq[StageInfo] =
    eventsDuring(spark)(body).collect { case e: SparkListenerStageSubmitted => e.stageInfo }

  /** `stages` that run more than `width` tasks, as "name: n tasks" lines. */
  def wideStages(stages: Seq[StageInfo], width: Int): Seq[String] =
    stages.filter(_.numTasks > width).map(st => s"${st.name}: ${st.numTasks} tasks")

  /** `body` on a session of `n` shuffle partitions. */
  def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** The job-start and stage-submitted events of `body`, in order. The
    * listener bus delivers in order, so one tagged sentinel job after
    * `body` marks the point by which every event of `body` has been seen.
    */
  private def eventsDuring(spark: SparkSession)(body: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobsDuring"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkListenerEvent)]
    def tagOf(p: java.util.Properties) = Option(p).flatMap(p => Option(p.getProperty(tag)))
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case j: SparkListenerJobStart => tagOf(j.properties).foreach(t => seen.add(t -> e))
        case st: SparkListenerStageSubmitted => tagOf(st.properties).foreach(t => seen.add(t -> e))
        case _ =>
      }
    }
    def tagged(t: String)(f: => Unit): Unit = {
      sc.setLocalProperty(tag, t)
      try f finally sc.setLocalProperty(tag, null)
    }
    def events = seen.toArray(Array.empty[(String, SparkListenerEvent)]).toSeq
    def ended = events.exists(_._1 == "end")
    sc.addSparkListener(listener)
    try {
      tagged("body")(body)
      tagged("end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!ended && System.nanoTime() < deadline) Thread.sleep(10)
      assert(ended, "sentinel job never reached the listener")
      events.collect { case ("body", e) => e }
    } finally sc.removeSparkListener(listener)
  }
}
