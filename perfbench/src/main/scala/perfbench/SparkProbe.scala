package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did during one call. */
final case class CallStats(
    wallS: Double, jobs: Int, stages: Int, tasks: Int, taskS: Double,
    driverFloorS: Double, shuffleWriteMb: Double, shuffleReadMb: Double,
    spillMb: Double, failedTasks: Int, gcS: Double,
    observed: Map[String, Map[String, Long]])

/** Listener-based counters for calls of the traced run.
  *
  * Listener events arrive asynchronously. After each call the probe runs
  * a one-task marker job in its own job group; the marker's job-end event
  * is queued behind every event of the call, so once it is seen the
  * call's counters are complete.
  */
final class SparkProbe(spark: SparkSession) {
  private val MarkerGroup = "perfbench-marker"

  private final class Collector extends SparkListener with QueryExecutionListener {
    var jobs = 0
    var tasks = 0
    var failed = 0
    var taskMs = 0L
    var shuffleW = 0L
    var shuffleR = 0L
    var spill = 0L
    val stageSpans = ArrayBuffer[(Long, Long)]()
    val observed = scala.collection.mutable.Map[String, Map[String, Long]]()
    var markerDone = false
    private val markerJobs = scala.collection.mutable.Set[Int]()

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      if (g.contains(MarkerGroup)) markerJobs += j.jobId else jobs += 1
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs.remove(j.jobId)) { markerDone = true; notifyAll() }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime) stageSpans += ((a, b))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (t.reason != Success) failed += 1
      Option(t.taskMetrics).foreach { m =>
        taskMs += m.executorRunTime
        shuffleW += m.shuffleWriteMetrics.bytesWritten
        shuffleR += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        qe.observedMetrics.foreach { case (name, row) =>
          val fields = Option(row.schema).map(_.fieldNames.toSeq).getOrElse(Nil)
          observed(name) = fields.zipWithIndex.collect {
            case (f, i) if !row.isNullAt(i) && row.get(i).isInstanceOf[Long] =>
              f -> row.getLong(i)
          }.toMap
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    def reset(): Unit = synchronized {
      jobs = 0; tasks = 0; failed = 0; taskMs = 0L; shuffleW = 0L; shuffleR = 0L
      spill = 0L; stageSpans.clear(); observed.clear(); markerDone = false
    }
  }

  private val c = new Collector

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run `body` with the listeners attached, returning its result and
    * what Spark did meanwhile. Outside `measure` nothing is attached. */
  def measure[T](body: => T): (T, CallStats) = {
    c.reset()
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    val gc0 = gcMs
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var wall = 0.0
    val out =
      try { val r = body; wall = (System.nanoTime() - t0) / 1e9; r }
      finally {
        drain()
        spark.sparkContext.removeSparkListener(c)
        spark.listenerManager.unregister(c)
      }
    val endMs = startMs + (wall * 1000).toLong
    val gc = (gcMs - gc0) / 1e3
    c.synchronized {
      val mb = 1e6
      (out, CallStats(wall, c.jobs, c.stageSpans.size, c.tasks, c.taskMs / 1e3,
        SparkProbe.driverFloorS(startMs, endMs, c.stageSpans.toSeq),
        c.shuffleW / mb, c.shuffleR / mb, c.spill / mb, c.failed, gc,
        c.observed.toMap))
    }
  }

  private def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "listener drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    c.synchronized {
      while (!c.markerDone && System.currentTimeMillis() < deadline) c.wait(100)
    }
  }
}

object SparkProbe {

  /** Seconds of the call window `[startMs, endMs)` during which no stage
    * was running: the time the call spends in the driver (planning,
    * scheduling, commit) rather than in tasks. Stage intervals are
    * clipped to the window first. */
  def driverFloorS(startMs: Long, endMs: Long, stages: Seq[(Long, Long)]): Double = {
    val clipped = stages.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
    math.max(0L, (endMs - startMs) - Trace.unionNs(clipped)) / 1e3
  }
}
