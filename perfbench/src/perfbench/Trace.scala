package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** A span: one call into a layer, timed from the benchmark's side.
  * Times are epoch milliseconds, the clock Spark stamps job events with. */
final case class Span(id: Int, parent: Int, name: String, t0: Double, t1: Double,
                      attrs: mutable.LinkedHashMap[String, Double])

/** Spark counters of one job, attributed to the span whose job group was
  * set when the job started. */
final class JobRec(val group: String, val t0: Long) {
  var t1: Long = t0
  var tasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Collects per-job task counters. Stages map to the job that submitted
  * them; task metrics are summed per job. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new JobRec(group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); rec <- jobs.get(j); m <- Option(e.taskMetrics)) {
      rec.tasks += 1
      rec.busyMs += m.executorRunTime
      rec.gcMs += m.jvmGCTime
      rec.inputBytes += m.inputMetrics.bytesRead
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Span recorder. Disabled, `span` only evaluates its body: the untraced
  * runs that give the end-to-end metrics register no listener and set no
  * job groups. Enabled, each span sets its own job group for the jobs its
  * body starts, and restores the enclosing span's group when it ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var lastDone = 0
  /** Off during warm-up, so only measured calls leave spans. */
  var on: Boolean = enabled
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), name,
        nowMs, 0.0, mutable.LinkedHashMap.empty)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        spans(s.id - 1) = s.copy(t1 = nowMs)
        lastDone = s.id
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Adds `v` to counter `k` of the span that ended last. Counters are
    * taken after the span has ended, so taking them costs it no time. */
  def count(k: String, v: => Double): Unit =
    if (on && lastDone > 0) {
      val a = spans(lastDone - 1).attrs
      a(k) = a.getOrElse(k, 0.0) + v
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
}
