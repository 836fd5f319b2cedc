package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, attrs: Map[String, Double])

/** In-memory span recorder for the traced run. Spans are recorded by the
  * benchmark's own code around each call into a layer (a stream's
  * micro-batch is a span around its feed), plus job/stage spans rebuilt
  * from listener events; nothing is written until the run ends. When `on`
  * is false, [[span]] is a plain call. Driver-thread only. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  /** nanoTime minus epoch-ms × 1e6: maps listener epoch-ms stamps onto the
    * nanoTime axis the driver-side spans use. */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def current: Int = stack.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, System.nanoTime(), Map.empty)
      }
    }

  /** Adds a finished span measured elsewhere (epoch milliseconds). */
  def addEpochMs(name: String, parent: Int, startMs: Long, endMs: Long,
                 attrs: Map[String, Double] = Map.empty): Int =
    if (!on) 0
    else {
      val id = nextId; nextId += 1
      spans += Span(id, parent, name, startMs * 1000000L + epochToNano,
        endMs * 1000000L + epochToNano, attrs)
      id
    }

  def toJson: String = spans.map { s =>
    val a = s.attrs.map { case (k, v) => s"${Out.str(k)}:${Out.num(v)}" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Out.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{$a}}"""
  }.mkString("[", ",\n", "]")
}

/** Stage totals gathered from task-end events. */
final class StageStat(val stageId: Int, val tag: String, val batch: Long) {
  var submittedMs = 0L
  var completedMs = 0L
  var tasks = 0
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var fetchWaitMs = 0L
  var gcMs = 0L
  var recordsRead = 0L
}

final class JobStat(val jobId: Int, val tag: String, val batch: Long,
                    val sqlExec: Long, val stageIds: Seq[Int], val startMs: Long) {
  @volatile var endMs = 0L
}

/** SparkListener the benchmark registers on the driver. Jobs and stages
  * are keyed by the `perfbench.tag` local property the client thread sets
  * before each layer call (streaming jobs inherit it from the thread that
  * started the query and add `streaming.sql.batchId`). Events arrive on
  * the listener bus asynchronously; [[drain]] waits until the bus has
  * delivered everything posted before it. */
final class ExecListener extends SparkListener {
  val TagKey = "perfbench.tag"
  private val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stages = new ConcurrentHashMap[Int, StageStat]()
  private val seenSentinels = ConcurrentHashMap.newKeySet[String]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val tag = prop(p, TagKey).getOrElse("")
    val batch = prop(p, "streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
    val exec = prop(p, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobStat(e.jobId, tag, batch, exec, e.stageIds, e.time))
    e.stageInfos.foreach { si =>
      stages.putIfAbsent(si.stageId, new StageStat(si.stageId, tag, batch))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      if (j.tag.startsWith("sentinel:")) seenSentinels.add(j.tag)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val p = e.properties
    val tag = prop(p, TagKey).getOrElse("")
    val batch = prop(p, "streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
    val s = stages.computeIfAbsent(e.stageInfo.stageId, id => new StageStat(id, tag, batch))
    s.synchronized { s.submittedMs = e.stageInfo.submissionTime.getOrElse(0L) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.synchronized {
        s.submittedMs = e.stageInfo.submissionTime.getOrElse(s.submittedMs)
        s.completedMs = e.stageInfo.completionTime.getOrElse(0L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.taskMs += e.taskInfo.duration
        if (m != null) {
          s.runMs += m.executorRunTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.gcMs += m.jvmGCTime
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }

  /** Blocks until every event posted before this call has been seen: runs
    * a one-task job tagged with a fresh sentinel and waits for its end. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val tag = s"sentinel:${System.nanoTime()}"
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(TagKey, prev)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!seenSentinels.contains(tag)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("listener bus did not drain within 60 s")
      Thread.sleep(2)
    }
  }

  def jobsFor(tag: String): Seq[JobStat] =
    jobs.values.asScala.filter(_.tag == tag).toSeq.sortBy(_.jobId)

  def stagesFor(tag: String): Seq[StageStat] =
    stages.values.asScala.filter(_.tag == tag).toSeq.sortBy(_.stageId)
}

/** Minimal JSON rendering for the raw result file. */
object Out {
  def str(s: String): String = graft.util.Json.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: collection.Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
