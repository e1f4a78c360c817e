package e2ebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer accounting, observed from outside the program: a
  * SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for each query's planning phases and executed
  * plan. Ops run one at a time, so everything delivered between
  * [[Tracer.begin]] and [[Tracer.end]] belongs to the current op.
  *
  * A stage counts as MapReduce work when the harness tagged its job
  * while calling into `graft.mapreduce` (the tag is a local property, so
  * it also rides on the shuffle stages that adaptive execution submits
  * from its own threads), or when its call site passes through
  * `graft.mapreduce`. Its tasks split into the map side (they write
  * shuffle) and the reduce side (they read it). */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val maxes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val mrStages = mutable.Set.empty[Int]

  def begin(): Unit = synchronized { acc.clear(); maxes.clear(); mrStages.clear() }

  /** The op's totals; `*_max` keys hold per-task maxima. */
  def end(): Map[String, Double] = synchronized {
    (acc.toMap ++ maxes.toMap).withDefaultValue(0.0)
  }

  private def add(k: String, v: Double): Unit = acc(k) += v
  private def max(k: String, v: Double): Unit = maxes(k) = math.max(maxes(k), v)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("sched.jobs", 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val layer = Option(e.properties).map(_.getProperty(Tracer.LayerKey)).orNull
    if (layer == Tracer.MapReduce || e.stageInfo.details.contains("graft.mapreduce."))
      mrStages += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    val run = m.executorRunTime.toDouble
    val cpu = m.executorCpuTime / 1e6
    val sw = m.shuffleWriteMetrics
    val sr = m.shuffleReadMetrics
    val readMb = (sr.localBytesRead + sr.remoteBytesRead) / 1e6
    val spillMb = m.diskBytesSpilled / 1e6
    add("sched.tasks", 1)
    add("sched.delay_ms", math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    add("task.run_ms", run)
    add("exec.cpu_ms", cpu)
    add("exec.gc_ms", m.jvmGCTime)
    add("shuffle.write_mb", sw.bytesWritten / 1e6)
    add("shuffle.read_mb", readMb)
    add("shuffle.fetch_wait_ms", sr.fetchWaitTime)
    add("spill.mb", spillMb)
    if (mrStages(e.stageId)) {
      val side = if (sw.bytesWritten > 0) "mr.map" else "mr.reduce"
      add(s"$side.task_ms", run)
      add(s"$side.cpu_ms", cpu)
      add(s"$side.gc_ms", m.jvmGCTime)
      max(s"$side.task_ms_max", run)
      if (side == "mr.map") {
        add("mr.map.records_in", m.inputMetrics.recordsRead)
        add("mr.map.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("mr.map.emits", sw.recordsWritten)
        add("mr.map.shuffle_write_mb", sw.bytesWritten / 1e6)
        add("mr.map.shuffle_write_ms", sw.writeTime / 1e6)
      } else {
        add("mr.reduce.shuffle_read_mb", readMb)
        add("mr.reduce.fetch_wait_ms", sr.fetchWaitTime)
        add("mr.reduce.spill_mb", spillMb)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { add("plan.aqe_replans", 1) }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val exchanges = Tracer.planHelper.collect(qe.executedPlan) {
      case x: ShuffleExchangeLike => x
    }.size
    synchronized {
      add("plan.ms", planMs)
      add("plan.exchanges", exchanges)
      add("plan.exec_ms", durationNs / 1e6)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  private val planHelper = new AdaptiveSparkPlanHelper {}
  val LayerKey = "e2ebench.layer"
  val MapReduce = "graft.mapreduce"

  /** Run `f` with every job it submits tagged as work of `layer`. */
  def inLayer[A](sc: org.apache.spark.SparkContext, layer: String)(f: => A): A = {
    sc.setLocalProperty(LayerKey, layer)
    try f finally sc.setLocalProperty(LayerKey, null)
  }
}
