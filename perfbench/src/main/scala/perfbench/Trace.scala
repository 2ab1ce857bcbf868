package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._

/** Engine totals for one job tag. */
final class TagTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var peakTaskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** [start, end] ms of every finished job, for the job-busy union. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall ms covered by at least one running job of this tag. */
  def jobBusyMs: Long = {
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}

/** Rolls every task, stage and job up to each job tag it carries.
  * The benchmark tags each operation (`op`), each traced layer span
  * (`L:<layer>`) and each registry family (`F:<family>`), so every
  * metric is attributed exactly rather than by time window.
  */
final class TagListener extends SparkListener {
  private val stageTags = new ConcurrentHashMap[Int, Seq[String]]()
  private val jobTags = new ConcurrentHashMap[Int, (Seq[String], Long)]()
  private val totals = new ConcurrentHashMap[String, TagTotals]()

  private def of(tag: String): TagTotals =
    totals.computeIfAbsent(tag, _ => new TagTotals)

  private def tagsOf(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(Internals.JobTagsKey)))
      .map(_.split(Internals.JobTagsSep).toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = tagsOf(e.properties)
    e.stageIds.foreach(stageTags.put(_, tags))
    jobTags.put(e.jobId, (tags, e.time))
    synchronized { tags.foreach(of(_).jobs += 1) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTags.remove(e.jobId)).foreach { case (tags, start) =>
      synchronized { tags.foreach(of(_).jobSpans += ((start, e.time))) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tags = Option(stageTags.get(e.stageInfo.stageId))
      .getOrElse(tagsOf(e.properties))
    stageTags.put(e.stageInfo.stageId, tags)
    synchronized { tags.foreach(of(_).stages += 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tags = Option(stageTags.get(e.stageId)).getOrElse(Nil)
    val m = e.taskMetrics
    val ok = e.taskInfo.successful
    synchronized {
      tags.foreach { t =>
        val a = of(t)
        a.tasks += 1
        if (!ok) a.failedTasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.peakTaskMs = math.max(a.peakTaskMs, m.executorRunTime)
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Totals of `tag` (empty totals if it ran nothing). */
  def get(tag: String): TagTotals = synchronized {
    Option(totals.get(tag)).getOrElse(new TagTotals)
  }

  def tags: Seq[String] = synchronized { totals.keySet.asScala.toSeq.sorted }

  def reset(): Unit = synchronized { totals.clear() }
}

/** One traced interval: a layer call and the job tag its jobs carry. */
final case class Span(name: String, parent: String, tag: String,
    startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory and tags the jobs run inside them. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]

  def span[T](name: String)(body: => T): T = {
    val tag = s"L:$name"
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.removeJobTag(tag)
      stack.pop()
      spans += Span(name, parent, tag, t0, t1)
    }
  }

  /** Summed wall of every span named `name`. */
  def wallS(name: String): Double = spans.filter(_.name == name).map(_.wallS).sum
}

object Engine {
  /** Bytes of storage memory held by persisted blocks right now. */
  def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(_.memSize).sum

  def drain(sc: SparkContext): Unit = Internals.drain(sc)
}
