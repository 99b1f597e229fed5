package org.apache.spark.sql.graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Runtime shuffle observability: measure what a job ACTUALLY moved, not
  * what the plan text suggests. Wraps an action in a SparkListener that
  * folds task-level metrics (shuffle write/read, spill, input) into one
  * snapshot — the ground truth for scale-shape claims like "this round
  * only shuffles the frontier" or "the broadcast path never writes
  * shuffle files". Lives in the spark.sql.graft package for
  * `listenerBus.waitUntilEmpty` (private[spark]), which makes the
  * snapshot deterministic instead of racing the async listener bus.
  *
  * Test-harness quality gate, not a hot-path component: specs pin
  * operator shuffle volumes with it (RunMetricsSpec), the way
  * PlanShapeSpec pins plan shapes; graft.Smoke prints each run's job,
  * task and task-second counts from it.
  */
object RunMetrics {

  /** Job count and task-metric totals across every job that ran inside
    * `measure`, plus the classes Janino compiled meanwhile
    * (`codegenCompiles`: codegen cache misses, JVM-wide).
    */
  case class Snapshot(
      tasks: Long,
      shuffleWriteBytes: Long,
      shuffleWriteRecords: Long,
      shuffleReadRecords: Long,
      spillBytes: Long,
      inputRecords: Long,
      jobs: Long,
      executorRunMs: Long,
      codegenCompiles: Long) {
    /** Executor task time summed over every task (not wall-clock). */
    def taskSeconds: Double = executorRunMs / 1000.0
  }

  private final class Fold extends SparkListener {
    val tasks = new LongAdder
    val swBytes = new LongAdder
    val swRecords = new LongAdder
    val srRecords = new LongAdder
    val spill = new LongAdder
    val input = new LongAdder
    val jobs = new LongAdder
    val runMs = new LongAdder

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        tasks.increment()
        swBytes.add(m.shuffleWriteMetrics.bytesWritten)
        swRecords.add(m.shuffleWriteMetrics.recordsWritten)
        srRecords.add(m.shuffleReadMetrics.recordsRead)
        spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
        input.add(m.inputMetrics.recordsRead)
        runMs.add(m.executorRunTime)
      }
    }

    def snapshot(compiles: Long): Snapshot = Snapshot(tasks.sum(), swBytes.sum(),
      swRecords.sum(), srRecords.sum(), spill.sum(), input.sum(), jobs.sum(),
      runMs.sum(), compiles)
  }

  /** Run `body`, return its result plus the fleet-wide task-metric totals
    * of everything it executed. Safe to nest queries inside; NOT safe to
    * run concurrently with unrelated jobs on the same context (their
    * tasks land in the same snapshot).
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Snapshot) = {
    val sc = spark.sparkContext
    val fold = new Fold
    sc.addSparkListener(fold)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, fold.snapshot(
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled))
    } finally sc.removeSparkListener(fold)
  }
}
