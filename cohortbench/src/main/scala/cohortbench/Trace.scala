package cohortbench

import java.io.{File, PrintWriter}
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Engine and filesystem counters, read as running totals. */
final case class Counters(tasks: Long, busyNs: Long, shuffleWrite: Long,
                          spill: Long, gcMs: Long, bytesRead: Long, bytesWritten: Long) {
  def -(o: Counters): Counters = Counters(tasks - o.tasks, busyNs - o.busyNs,
    shuffleWrite - o.shuffleWrite, spill - o.spill, gcMs - o.gcMs,
    bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  def +(o: Counters): Counters = Counters(tasks + o.tasks, busyNs + o.busyNs,
    shuffleWrite + o.shuffleWrite, spill + o.spill, gcMs + o.gcMs,
    bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
  def attrs: Seq[(String, Double)] = Seq(
    "tasks" -> tasks.toDouble, "task_busy_s" -> busyNs / 1e9,
    "shuffle_write_bytes" -> shuffleWrite.toDouble, "spill_bytes" -> spill.toDouble,
    "gc_s" -> gcMs / 1e3, "fs_bytes_read" -> bytesRead.toDouble,
    "fs_bytes_written" -> bytesWritten.toDouble)
}
object Counters { val zero = Counters(0, 0, 0, 0, 0, 0, 0) }

/** Sums task metrics over every finished task (public listener API). */
final class TaskTotals extends SparkListener {
  val tasks, busyNs, shuffleWrite, spill, gcMs = new AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      busyNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }
}

/** Spans written one JSON object a line: name, start and end (ns since the
  * tracer began), parent, and the counter deltas over the span. Only a
  * traced run makes one; an untraced run measures without it. */
final class Tracer(sc: SparkContext, file: File) {
  private val listener = new TaskTotals
  sc.addSparkListener(listener)
  private val out = new PrintWriter(file, "UTF-8")
  private val t0 = System.nanoTime()
  private val stack = mutable.Stack[String]()
  private var nextId = 0

  def counters(): Counters = {
    org.apache.spark.cohortbench.Bus.flush(sc)
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Counters(listener.tasks.get, listener.busyNs.get, listener.shuffleWrite.get,
      listener.spill.get, listener.gcMs.get,
      fs.map(_.getBytesRead).sum, fs.map(_.getBytesWritten).sum)
  }

  /** Run `body` in a span; returns its value, wall seconds and counters. */
  def span[T](name: String)(body: => T): (T, Double, Counters) = {
    val id = s"$name#$nextId"; nextId += 1
    val parent = stack.headOption.getOrElse("")
    stack.push(id)
    val c0 = counters()
    val s = System.nanoTime()
    val v = try body finally stack.pop()
    val e = System.nanoTime()
    val d = counters() - c0
    val attrs = d.attrs.map { case (k, x) =>
      "\"" + k + "\":" + String.format(Locale.ROOT, "%.6f", Double.box(x)) }
    out.println(s"""{"name":"$id","start_ns":${s - t0},"end_ns":${e - t0},""" +
      s""""parent":"$parent",${attrs.mkString(",")}}""")
    out.flush()
    (v, (e - s) / 1e9, d)
  }

  def close(): Unit = { sc.removeSparkListener(listener); out.close() }
}
