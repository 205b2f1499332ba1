package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a module's public function. `parent` is the
  * enclosing span's id (0 at top level); `opId` is the benchmark op the
  * call belongs to.
  */
final case class Span(id: Long, name: String, opId: Long, parent: Long,
    startNs: Long, var endNs: Long, attrs: mutable.Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls, each under its own Spark job
  * group so the listener can charge jobs, stages and tasks to it.
  * Disabled, `span` is the bare call: the gated runs pay nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  var opId = 0L
  val counters: Option[SparkCounters] =
    if (enabled) Some(SparkCounters.install(spark)) else None

  def span[A](name: String, attrs: (String, Double)*)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = Span(nextId, name, opId, stack.headOption.fold(0L)(_.id),
        System.nanoTime(), 0L, mutable.Map(attrs: _*))
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a value to the innermost open span (no-op untraced). */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)
}

object Tracer {
  def group(spanId: Long): String = s"perfbench-$spanId"
}

/** Spark-side counters for one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, inputBytes = 0L
  var exchanges, filesRead = 0L
  val skews = mutable.ArrayBuffer[Double]()

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    exchanges += o.exchanges; filesRead += o.filesRead
    skews ++= o.skews
  }
}

/** A SparkListener keyed by job group: task metrics per group, plus
  * exchanges and files read from each finished SQL execution's plan.
  * Listener callbacks arrive on the bus thread; readers call [[drain]]
  * first and then read under the same lock.
  */
final class SparkCounters private (spark: SparkSession)
    extends SparkListener with AdaptiveSparkPlanHelper {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageSubmit = mutable.HashMap[Int, Long]()
  private val stageDurations = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val execGroup = mutable.HashMap[Long, String]()
  private val planStats = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val byGroup = mutable.HashMap[String, Counters]()

  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, "none"))
    c.tasks += 1
    stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    stageSubmit.get(e.stageId).foreach(s => c.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = of(stageGroup.getOrElse(id, "none"))
    c.stages += 1
    stageDurations.remove(id).filter(_.size >= 2).foreach { d =>
      val sorted = d.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med > 0) c.skews += sorted.last / med
    }
    stageSubmit.remove(id)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execGroup(s.executionId) = s.jobGroupId.getOrElse("none") }
    case end: SparkListenerSQLExecutionEnd =>
      // the executed plan rides on the end event (a Spark-internal field)
      Option(end.getClass.getMethod("qe").invoke(end)).collect { case qe: QueryExecution => qe }
        .foreach { qe =>
          val plan = qe.executedPlan
          val exchanges = collectWithSubqueries(plan) { case _: ShuffleExchangeLike => 1 }.size
          val files = collectWithSubqueries(plan) {
            case s: FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
          }.sum
          synchronized { planStats += ((end.executionId, exchanges.toLong, files)) }
        }
    case _ =>
  }

  /** Deliver every posted event, then fold plan stats into groups. */
  def drain(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    synchronized {
      planStats.foreach { case (id, ex, files) =>
        val c = of(execGroup.getOrElse(id, "none"))
        c.exchanges += ex
        c.filesRead += files
      }
      planStats.clear()
    }
  }

  def group(g: String): Counters = synchronized(byGroup.getOrElse(g, new Counters))
}

object SparkCounters {
  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }
}
