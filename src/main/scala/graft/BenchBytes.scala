package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.GraftSparkHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-key byte telemetry for Bench (r14 verdict #2).
  *
  * Three rounds of bench adjudication ("is +1.9 s on a loaded box a
  * regression?") established that WALL time on this shared VM carries
  * irreducible ambient noise (host-level steal invisible to guest
  * loadavg), while the BYTES a fixed plan moves are deterministic:
  * same data + same plan => same shuffle-write bytes, to the
  * compression codec's determinism. So Bench now records, per key,
  * the total shuffle bytes written and bytes spilled across every job
  * the key ran, and the floor file min-merges them beside the wall
  * floors — a plan regression (e.g. a lost hash-early rewrite
  * re-shuffling strings) trips the byte diff on a calm OR a loaded box, while
  * ambient load alone never does.
  *
  * Mechanics: a [[SparkListener]] accumulates TaskMetrics counters at
  * task end; [[snapshot]] drains the listener bus first (task-end
  * events are async) so a [before, run, after] bracket attributes
  * exactly the key's tasks. Spill is recorded as DISK bytes spilled:
  * unlike shuffle-write bytes it is pressure-dependent (a function of
  * execution-memory contention, not just the plan), so it is reported
  * for the memory story but deliberately NOT part of the regression
  * flag.
  */
final class BenchBytes(sc: SparkContext) extends SparkListener {
  private val shuffleWrite = new AtomicLong(0L)
  private val diskSpill = new AtomicLong(0L)

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      diskSpill.addAndGet(m.diskBytesSpilled)
    }
  }

  sc.addSparkListener(this)

  /** (cumulative shuffle-write bytes, cumulative disk-spill bytes)
    * after draining pending listener events. */
  def snapshot(): (Long, Long) = {
    GraftSparkHooks.drainListenerBus(sc)
    (shuffleWrite.get(), diskSpill.get())
  }
}
