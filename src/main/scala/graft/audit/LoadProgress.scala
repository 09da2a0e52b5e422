package graft.audit

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Load-stage progress surface (§2.13 remnant — `loader.py:31,379-391`'s
  * `progress_callback(rows_loaded, chunk)`). The reference invokes a
  * callback per COPY chunk; Spark's execution is declarative, so the
  * analogue is cluster-wide task metrics: a listener accumulates records
  * read/written across all tasks, and `stage(...)` snapshots the deltas
  * around each named load stage. Counters are task-granular, so a
  * long-running distributed write shows progress as its tasks finish —
  * the same observability the per-chunk callback gives.
  */
object LoadProgress {
  final case class StageReport(name: String, seconds: Double,
                               recordsRead: Long, recordsWritten: Long)
}

final class LoadProgress(spark: SparkSession) extends SparkListener {
  import LoadProgress.StageReport

  private val recordsRead = new AtomicLong()
  private val recordsWritten = new AtomicLong()

  private val reports = scala.collection.mutable.ArrayBuffer[StageReport]()

  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  /** Run a named load stage; record wall time and the task-metric deltas
    * it produced. The listener bus is async, so it is drained before each
    * snapshot — otherwise a stage's trailing task-end events are missed
    * or attributed to the next stage.
    *
    * Stages may run CONCURRENTLY (the load verb overlaps the genotype
    * append with the variants parse and write on two driver threads):
    * wall times stay exact per stage, but the record-count deltas of
    * overlapping stages include each other's tasks — progress totals
    * remain correct, per-stage attribution is approximate only while
    * stages overlap. */
  def stage[T](name: String)(body: => T): T = {
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    val (r0, w0) = (recordsRead.get(), recordsWritten.get())
    val t0 = System.nanoTime()
    val out = body
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    val rep = StageReport(name, (System.nanoTime() - t0) / 1e9,
      recordsRead.get() - r0, recordsWritten.get() - w0)
    reports.synchronized { reports += rep }
    out
  }

  def report(): Seq[StageReport] = reports.synchronized { reports.toSeq }

  /** One line per stage, the `load` verb's progress output. */
  def print(): Unit = report().foreach { r =>
    println(f"  stage ${r.name}%-20s ${r.seconds}%8.2fs  " +
      f"read=${r.recordsRead}%,d written=${r.recordsWritten}%,d")
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
