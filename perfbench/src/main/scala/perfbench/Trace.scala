package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.storage.RDDBlockId

/** Spark work attributed to one span of one invocation. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var queueMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var writeBytes = 0L
  /** Bytes of RDD blocks stored while the span ran. */
  var storedBytes = 0L
}

/** Attributes Spark jobs to spans through a thread-local SparkContext
  * property. The client thread sets `Trace.SpanKey` to `<invocation>/<span>`
  * before calling into a layer; every job submitted from that thread, and
  * from the threads Spark spawns on its behalf, carries the property.
  *
  * Listener callbacks run on the listener-bus thread; readers call
  * [[drain]] first and then read under the same lock.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  private val spans = mutable.HashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val rddSpan = mutable.HashMap.empty[Int, String]
  private val blockBytes = mutable.HashMap.empty[RDDBlockId, Long]
  private val liveBytes = mutable.HashMap.empty[String, Long]
  private val peakBytes = mutable.HashMap.empty[String, Long]

  /** Time spent inside this listener's callbacks, on the listener bus. */
  private var busyNs = 0L

  private def counters(span: String): Counters = spans.getOrElseUpdate(span, new Counters)
  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }
  private def invocationOf(span: String): String = span.takeWhile(_ != '/')

  def enter(invocation: Long, span: String): Unit =
    sc.setLocalProperty(Trace.SpanKey, s"$invocation/$span")
  def leave(): Unit = sc.setLocalProperty(Trace.SpanKey, null)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))).foreach { span =>
      counters(span).jobs += 1
      e.stageInfos.foreach { si =>
        stageSpan(si.stageId) = span
        si.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, span))
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val si = e.stageInfo
    stageSpan.get(si.stageId).foreach { span =>
      counters(span).stages += 1
      stageSubmit(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stageSpan.get(e.stageId).foreach { span =>
      val c = counters(span)
      c.tasks += 1
      stageSubmit.get(e.stageId).foreach(s => c.queueMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        rddSpan.get(b.rddId).foreach { span =>
          val size = info.memSize + info.diskSize
          val delta = size - blockBytes.getOrElse(b, 0L)
          if (size == 0L) blockBytes.remove(b) else blockBytes(b) = size
          if (delta > 0) counters(span).storedBytes += delta
          val inv = invocationOf(span)
          val live = liveBytes.getOrElse(inv, 0L) + delta
          liveBytes(inv) = live
          if (live > peakBytes.getOrElse(inv, 0L)) peakBytes(inv) = live
        }
      case _ =>
    }
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)

  def listenerMs: Double = synchronized(busyNs / 1e6)

  def span(invocation: Long, span: String): Counters = synchronized {
    spans.getOrElse(s"$invocation/$span", new Counters)
  }
  def peakStoredBytes(invocation: Long): Long = synchronized {
    peakBytes.getOrElse(invocation.toString, 0L)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Per-operator totals read from the SQLMetrics of an executed plan. */
  final case class Operators(
      aggMs: Long, sortMs: Long, joinBuildMs: Long, scanMs: Long,
      rowsScanned: Long, peakMemBytes: Long)

  /** Sums the operator metrics of the plan that was executed. The walk is
    * the one `graft.plans.ExplainAnalyze` makes: it descends into AQE's
    * final plan and into materialized query stages. `ExplainAnalyze.analyze`
    * itself is not called because it executes the plan again, which would
    * run the final stage twice and double its metrics.
    */
  def operators(plan: SparkPlan): Operators = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    def ms(m: SQLMetric): Long =
      if (m.metricType == "nsTiming") m.value / 1000000L else m.value
    var agg, sort, build, scan, rows, peak = 0L
    walk(plan).foreach { p =>
      val isScan = p.getClass.getSimpleName.endsWith("ScanExec")
      p.metrics.foreach {
        case ("aggTime", m) => agg += ms(m)
        case ("sortTime", m) => sort += ms(m)
        case ("buildTime", m) => build += ms(m)
        case ("scanTime", m) if isScan => scan += ms(m)
        case ("numOutputRows", m) if isScan => rows += m.value
        case ("peakMemory", m) => peak = math.max(peak, m.value)
        case _ =>
      }
    }
    Operators(agg, sort, build, scan, rows, peak)
  }
}
