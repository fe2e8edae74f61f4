package graft.bench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerUnpersistRDD}
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Task metrics of every job run under one job group. */
final class GroupStats {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** Slowest task ÷ median task; 0 when the group ran no tasks. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(Stats.median(s.map(_.toDouble).toSeq), 1.0)
    }
}

/** Listener the harness registers: sums task metrics per job group (the
  * harness sets one group per span) and samples the bytes held by persisted
  * blocks so a timed operation can report its peak.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val gs = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupStats)
      gs.cpuNs += m.executorCpuTime
      gs.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      gs.spillBytes += m.diskBytesSpilled
      gs.inputBytes += m.inputMetrics.bytesRead
      gs.taskMs += e.taskInfo.duration
    }
  }

  /** Metrics of one job group, after every queued event has been handled. */
  def group(id: String): GroupStats = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(groups.getOrElse(id, new GroupStats))
  }

  // bytes held per persisted RDD block; unpersist reports no per-block
  // update, so a whole RDD's blocks go when its unpersist event arrives
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var cached = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val i = e.blockUpdatedInfo
        val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
        cached += size - blocks.getOrElse(id, 0L)
        if (size == 0L) blocks.remove(id) else blocks(id) = size
        peak = math.max(peak, cached)
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_.rddId == e.rddId).toSeq
    gone.foreach(id => cached -= blocks.remove(id).get)
  }

  /** Runs `f` and returns its value with the peak bytes (MB) persisted
    * blocks held while it ran, inputs cached before it included.
    */
  def peakCached[A](f: => A): (A, Double) = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized { peak = cached }
    val a = f
    org.apache.spark.BenchBus.drain(sc)
    val bytes: Long = synchronized(peak)
    (a, bytes / 1e6)
  }
}

/** One traced interval: a call into a layer, timed from outside. */
final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Each span runs its body under its own Spark job
  * group, so the probe attributes task metrics to the innermost span.
  */
final class Tracer(sc: SparkContext, probe: Probe) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  private def group(s: Span): String = s"span-${s.id}"

  def apply[A](name: String)(f: => A): A = {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(group(s), name)
    try f
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def maybe[A](on: Boolean, name: String)(f: => A): A = if (on) apply(name)(f) else f

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the time its (sequential) child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Task metrics of jobs launched directly inside `s`, not in its children. */
  def stats(s: Span): GroupStats = probe.group(group(s))

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[", ",\n", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def loadAvg1m: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch {
      case _: Exception =>
        java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    }
}
