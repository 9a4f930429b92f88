package graft.perfbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of one traced window (one timed operation).
  * Times are seconds, sizes bytes; everything else is a count.
  */
final class Layers {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v.getOrElse(k, 0.0), x)
  def ++=(o: Layers): Unit = o.v.foreach { case (k, x) =>
    if (k.startsWith("max.")) max(k, x) else add(k, x)
  }
}

/** The benchmark's own listeners: a QueryExecutionListener for the
  * Catalyst phases and the executed plan after AQE, and a
  * SparkListener for jobs, stages and task metrics. Nothing inside
  * graft is instrumented.
  */
final class Tracer(spark: SparkSession) {
  private var cur = new Layers
  private val taskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          cur.add(s"plan.${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
        }
        Census.of(qe.executedPlan).foreach { case (k, n) => cur.add(k, n.toDouble) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sl = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized(cur.add("exec.jobs", 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized(cur.add("exec.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      cur.add("exec.tasks", 1)
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        cur.add("exec.task_s", m.executorRunTime / 1e3)
        cur.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        cur.add("exec.gc_s", m.jvmGCTime / 1e3)
        cur.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        cur.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        cur.add("exec.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        cur.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        cur.max("max.exec.peak_exec_mem_mb", m.peakExecutionMemory / 1e6)
        cur.add("scan.input_mb", m.inputMetrics.bytesRead / 1e6)
        cur.add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  def start(): Unit = {
    // events still queued from an untraced pass would reach the new
    // listeners and be counted in the first traced step
    BenchAccess.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
  }

  def stop(): Unit = {
    BenchAccess.drainListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(qel)
    spark.sparkContext.removeSparkListener(sl)
  }

  /** Everything recorded since the previous call, once the listener
    * bus has delivered every pending event.
    */
  def take(): Layers = {
    BenchAccess.drainListenerBus(spark.sparkContext)
    synchronized {
      val out = cur
      // skew: max/median task time of the worst stage in the window
      val ratios = taskTimes.values.filter(_.nonEmpty).map { ts =>
        val s = ts.sorted
        val med = s(s.length / 2).max(1L)
        s.last.toDouble / med
      }
      out.max("max.exec.max_task_ratio", if (ratios.isEmpty) 0.0 else ratios.max)
      cur = new Layers
      taskTimes.clear()
      out
    }
  }
}

/** Operator census of an executed plan after AQE: the final stages,
  * their reused exchanges and every subquery plan.
  */
object Census {
  def of(root: SparkPlan): Map[String, Int] = {
    val n = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => n("plan.reused_exchanges") += 1
      case _ =>
        p match {
          case _: DataSourceScanExec | _: BatchScanExec => n("plan.scans") += 1
          case _: Exchange => n("plan.exchanges") += 1
          case _: BroadcastHashJoinExec => n("plan.bhj") += 1
          case _: SortMergeJoinExec => n("plan.smj") += 1
          case _: BroadcastNestedLoopJoinExec => n("plan.bnlj") += 1
          case w: WindowExec if w.partitionSpec.isEmpty => n("plan.unpartitioned_windows") += 1
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    n.toMap
  }
}
