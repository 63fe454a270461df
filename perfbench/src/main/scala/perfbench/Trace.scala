package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A span around one call the benchmark makes into the engine. `reqId` ties
  * the spans of one timed operation together; `parent` is -1 for the root. */
final case class Span(id: Long, parent: Long, reqId: Long, layer: String,
    name: String, startNs: Long, endNs: Long)

/** One Spark job as the listener saw it, with its tasks' totals. Times are
  * epoch ms (the listener's clock). */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var peakExecB = 0L
  var resultB = 0L
}

/** Listener pair the traced run registers: a [[SparkListener]] for job,
  * stage and task counts, and a [[QueryExecutionListener]] for planning time
  * (analysis + optimization + planning phases of `QueryExecution.tracker`). */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  /** (epoch ms when reported, planning ms) per successful or failed action. */
  private val plans = mutable.ArrayBuffer[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val r = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = r
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakExecB = math.max(j.peakExecB, m.peakExecutionMemory)
        j.resultB += m.resultSize
        if (info != null && info.finished) {
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        }
      }
    }
  }

  private def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += ((System.currentTimeMillis(), planMs(qe))) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { plans += ((System.currentTimeMillis(), planMs(qe))) }

  /** Jobs that started inside [t0, t1] (epoch ms). */
  def jobsIn(t0: Long, t1: Long): Vector[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= t0 && j.startMs <= t1).toVector
  }

  def planMsIn(t0: Long, t1: Long): Double = synchronized {
    plans.collect { case (t, ms) if t >= t0 && t <= t1 => ms }.sum
  }

  /** Wait (bounded) until every job started so far has ended and the
    * listener bus has had time to deliver the trailing task events. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (synchronized(jobs.values.exists(_.endMs < 0)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Spans around the benchmark's own calls into the engine. Disabled, every
  * method is a plain call of its body. Spans stay in memory until the end. */
final class Tracer(val on: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, req id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** The request id of the operation running on this thread (-1 if none). */
  def currentReq: Long = stack.get().headOption.map(_._2).getOrElse(-1L)

  /** Open a root span: a new request id for one timed operation. */
  def root[A](name: String)(body: => A): A =
    if (!on) body else span("bench", name, newRequest = true)(body)

  def span[A](layer: String, name: String, newRequest: Boolean = false)(body: => A): A =
    if (!on) body
    else {
      val st = stack.get()
      val id = nextId.incrementAndGet()
      val (parent, req) = st match {
        case (p, r) :: _ if !newRequest => (p, r)
        case _ => (-1L, id)
      }
      stack.set((id, req) :: st)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, req, layer, name, t0, System.nanoTime()))
        stack.set(st)
      }
    }

  def all: Vector[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toVector
  }
}

object Layers {
  /** Self time of each span: its duration minus the union of what its
    * child spans and the Spark jobs attributed to it cover. Jobs carry their
    * request in the job group (`op-<reqId>`) and attach to the innermost
    * span of that request that contains the job's start. Returns
    * (span, self ns, attributed job-wall ns). */
  def selfTimes(spans: Vector[Span], jobs: Vector[JobRec], clock: Clock)
      : Vector[(Span, Long, Long)] = {
    val byReq = spans.groupBy(_.reqId)
    val jobsByReq = jobs.filter(_.group.startsWith("op-"))
      .groupBy(_.group.stripPrefix("op-").toLong)
    byReq.toVector.flatMap { case (req, ss) =>
      val children = ss.groupBy(_.parent)
      val depth = mutable.HashMap[Long, Int]()
      def d(s: Span): Int = depth.getOrElseUpdate(s.id,
        if (s.parent < 0) 0 else ss.find(_.id == s.parent).map(d(_) + 1).getOrElse(0))
      val jobIv = jobsByReq.getOrElse(req, Vector.empty).filter(_.endMs >= 0).map { j =>
        (clock.toNs(j.startMs), clock.toNs(j.endMs))
      }
      val jobOwner = jobIv.groupBy { case (js, _) =>
        ss.filter(s => s.startNs <= js && js <= s.endNs).sortBy(-d(_)).headOption.map(_.id)
          .getOrElse(-1L)
      }
      ss.map { s =>
        val kids = children.getOrElse(s.id, Vector.empty).map(c => (c.startNs, c.endNs))
        val own = jobOwner.getOrElse(s.id, Vector.empty)
        val covered = union((kids ++ own).map { case (a, b) =>
          (math.max(a, s.startNs), math.min(b, s.endNs)) })
        (s, math.max(0L, (s.endNs - s.startNs) - covered), union(own.map { case (a, b) =>
          (math.max(a, s.startNs), math.min(b, s.endNs)) }))
      }
    }
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Maps the listener's epoch-ms clock onto System.nanoTime. */
final class Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def toNs(epochMs: Long): Long = ns0 + (epochMs - ms0) * 1000000L
  def toMs(ns: Long): Long = ms0 + (ns - ns0) / 1000000L
}
