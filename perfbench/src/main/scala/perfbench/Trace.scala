package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Order statistics over latency samples. */
object Pct {
  /** Nearest-rank percentile: the ⌈p·n⌉-th smallest sample. */
  def of(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = of(xs, 0.5)
  /** Samples strictly above the p-th percentile — a percentile is only
    * reported when at least ten lie beyond it. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = of(xs, p); xs.count(_ > v)
  }
}

/** One timed interval: an op (parent = -1) or a layer call inside it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and
  * written out then; nothing is emitted while ops are timed. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }
  def all: Seq[Span] = spans.toSeq.sortBy(_.id)
}

object Tracer {
  /** Self time per span: its duration minus the part of its interval
    * that its child spans cover (children may overlap each other). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def toJson(s: Span, self: Long): String =
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self}"""
}

/** Spark work counted for one job group. */
final class Counts {
  var jobs, stages, tasks, runNs, inBytes, inRecords, shuffleRead,
    shuffleWrite, spill, outBytes = 0L
  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runNs += o.runNs
    inBytes += o.inBytes; inRecords += o.inRecords
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; outBytes += o.outBytes
  }
}

/** Counts Spark jobs, stages, tasks and bytes per job group.
  *
  * Each op runs under its own tag ([[Groups.tagged]]); a job is charged
  * to the tag it was submitted with, and its stages and tasks to the
  * job that owns them, so work is attributed by group, never by when it
  * happened. Jobs the program submits from its own threads (streaming
  * micro-batches) carry that thread's job group instead. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()

  private def of(g: String): Counts = counts.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = GroupListener.groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).synchronized { of(g).jobs += 1 }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, GroupListener.None)
    of(g).synchronized { of(g).stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, GroupListener.None)
    val m = e.taskMetrics
    val c = of(g)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runNs += m.executorRunTime * 1000000L
        c.inBytes += m.inputMetrics.bytesRead
        c.inRecords += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Counts of every group whose name satisfies `p`, summed. Call after
    * [[GroupListener.drain]]. */
  def sum(p: String => Boolean): Counts = {
    val out = new Counts
    counts.asScala.foreach { case (g, c) => if (p(g)) c.synchronized { out += c } }
    out
  }
  def get(g: String): Counts = sum(_ == g)
}

object GroupListener {
  val None = "<none>"
  val TagPrefix = "pb-"

  /** The group a job belongs to: the benchmark's own tag when it has
    * one (tags survive the program's internal thread hops), else the
    * job group, else [[None]]. */
  def groupOf(props: java.util.Properties): String = {
    if (props == null) return None
    val tags = Option(props.getProperty("spark.job.tags"))
      .toSeq.flatMap(_.split(',')).filter(_.startsWith(TagPrefix))
    tags.headOption
      .orElse(Option(props.getProperty("spark.jobGroup.id")))
      .getOrElse(None)
  }

  def install(sc: SparkContext): GroupListener = {
    val l = new GroupListener
    sc.addSparkListener(l)
    l
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drain(sc)
}

/** Runs a block under one benchmark tag. */
object Groups {
  def tagged[A](sc: SparkContext, group: String)(body: => A): A = {
    val tag = GroupListener.TagPrefix + group
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }
}
