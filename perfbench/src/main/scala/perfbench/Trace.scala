package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a graft module (or a group of
  * such calls). `metric` is the per-layer metric the span feeds, e.g.
  * `vt.merge_ms`; `fn` names the graft function called. Times are wall
  * clock (ms, for matching Spark job submission times) plus nanoTime
  * for the duration. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    metric: String, fn: String, startMs: Long, startNs: Long,
    var endNs: Long = 0L) {
  def durMs: Double = (endNs - startNs) / 1e6
  def endMs: Long = startMs + ((endNs - startNs) / 1000000L)
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * written when the run ends. With tracing off `span` only runs its
  * body, so the untraced run pays nothing but a branch. */
object Trace {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var op: Long = -1L

  /** Ops are run by one client thread; the op id tags every span. */
  def beginOp(id: Long): Unit = op = id
  def currentOp: Long = op

  def span[T](layer: String, metric: String, fn: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1L)
      val s = Span(ids.incrementAndGet(), parent, op, layer, metric, fn,
        System.currentTimeMillis(), System.nanoTime())
      stack.push(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        spans += s
      }
    }

  def all: Seq[Span] = spans.toSeq
}

/** Per-job task totals from a [[SparkListener]] registered by the
  * benchmark (traced runs only). Jobs are attributed to spans afterwards
  * by their submission time, so no thread-local job tagging is needed. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Job
  final class StageTotals {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var schedDelayMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakMem = 0L; var gcMs = 0L
  }
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.HashMap.empty[Int, StageTotals]
  val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet()
    jobs += Job(e.jobId, e.time, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    val st = stages.getOrElseUpdate(e.stageId, new StageTotals)
    st.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
      st.gcMs += m.jvmGCTime
      if (info != null)
        st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    events.incrementAndGet()

  /** Wait until the listener bus has delivered everything posted so far:
    * the event count must hold still for a short quiet period. */
  def settle(): Unit = {
    var last = -1L
    val deadline = System.currentTimeMillis() + 10000
    while (events.get != last && System.currentTimeMillis() < deadline) {
      last = events.get
      Thread.sleep(250)
    }
  }
}

object SparkCounters {
  final case class Job(id: Int, submitMs: Long, stages: Seq[Int])

  def register(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }
}
