package graft.core

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import ShuffleTally.Delta

/** Structural accounting per measured region — jobs, stages, tasks,
  * shuffle and spill bytes: counters host noise cannot distort. A plan
  * that "minimizes shuffles" should show it in bytes, and a regression
  * that adds an exchange or a job shows up here even when wall time
  * hides in noise. Register once per session; `measure` snapshots the
  * counters around a thunk, draining the listener bus before each read
  * (job and task events are delivered asynchronously). */
final class ShuffleTally extends SparkListener {
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val spilled = new AtomicLong
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    stages.addAndGet(js.stageInfos.size)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def snapshot(sc: SparkContext): Delta = {
    org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
    Delta(shuffleWrite.get, shuffleRead.get, spilled.get, jobs.get,
      stages.get, tasks.get)
  }

  def measure[A](sc: SparkContext)(thunk: => A): (A, Delta) = {
    val before = snapshot(sc)
    val out = thunk
    (out, snapshot(sc) - before)
  }
}

object ShuffleTally {
  /** Counts over a region. `stages` counts every stage of every job
    * started, skipped (reused) stages included. */
  final case class Delta(shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         spilledBytes: Long, jobs: Long, stages: Long,
                         tasks: Long) {
    def -(o: Delta): Delta = Delta(shuffleWriteBytes - o.shuffleWriteBytes,
      shuffleReadBytes - o.shuffleReadBytes, spilledBytes - o.spilledBytes,
      jobs - o.jobs, stages - o.stages, tasks - o.tasks)
  }

  /** Install a tally on the session's listener bus. */
  def install(sc: SparkContext): ShuffleTally = {
    val t = new ShuffleTally
    sc.addSparkListener(t)
    t
  }
}
