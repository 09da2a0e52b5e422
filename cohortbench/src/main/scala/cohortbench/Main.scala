package cohortbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val tracer: Option[Tracer]) {
  /** Wall-clock samples per operation kind, in ms. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Counters summed per operation kind over traced operations. */
  val counters = mutable.LinkedHashMap[String, Counters]()
  /** Wall clock (epoch ms) at the start of the first timed operation. */
  var firstOpMs: Long = -1L
  /** Off while the starting store is built and the program warms up: the
    * same operations then run untimed. */
  var timing = false
  /** Timed operations whose output failed a check. */
  var failed = 0
  /** Values a traced run notes beside its spans (rows a probe returned,
    * store files around `compact`), per name. */
  val notes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def note(name: String, v: Double): Unit =
    notes.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Time one operation of the workload's mix. */
  def op[T](kind: String)(body: => T): T = {
    if (timing && firstOpMs < 0) firstOpMs = System.currentTimeMillis()
    tracer match {
      case _ if !timing => body
      case None =>
        val s = System.nanoTime()
        val v = body
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - s) / 1e6
        v
      case Some(t) =>
        val (v, secs, d) = t.span(s"op.$kind")(body)
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += secs * 1e3
        counters(kind) = counters.getOrElse(kind, Counters.zero) + d
        v
    }
  }

  def verb(args: String*): Unit = _root_.graft.Graft.run(spark, args.toArray)

  def rm(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
}

/** One workload: inputs, a starting store, and a fixed round of timed
  * operations that the run repeats for its measuring time. */
abstract class Workload(val ctx: Ctx) {
  /** Generate the inputs (outside setup time). */
  def generate(): Unit
  /** Build the starting store with the program's verbs and warm up. */
  def prepare(): Unit
  /** Operation kinds and how many of each one round performs. */
  def perRound: Seq[(String, Int)]
  /** One round; `check` is set for the round whose outputs are checked. */
  def round(r: Int, check: Option[Checker]): Unit

  /** The inputs and store the traced run's replay phase works on. */
  def replayInputs(): Replay.Inputs

  /** Repeat whole rounds until `seconds` have passed; round 0 is checked. */
  def measure(seconds: Double, checker: Checker): Double = {
    // every run starts timing from a collected heap, not from whatever
    // garbage its set-up happened to leave
    System.gc()
    ctx.timing = true
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      round(r, if (r == 0) Some(checker) else None)
      r += 1
    }
    r
  }
}

object Main {
  private def arg(args: Array[String], flag: String): Option[String] = {
    val i = args.indexOf(flag)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else String.format(Locale.ROOT, "%.9g", Double.box(x)).toDouble.toString

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload NAME"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val perturb = arg(args, "--perturb").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(2)
    val result = new File(arg(args, "--result").getOrElse(sys.error("--result FILE")))
    val root = new File(arg(args, "--work").getOrElse(sys.error("--work DIR")))
    val work = new File(root, s"$workload-${ProcessHandle.current().pid()}")
    work.mkdirs()

    val spark = graft.Tables.session(s"local[$cores]", shufflePartitions = 2 * cores)
    graft.qc.Hwe.register(spark)
    graft.functions.GenomicsFunctions.register(spark)
    graft.functions.VectorExpressions.register(spark)
    graft.functions.SimHashExpression.register(spark)
    graft.functions.MinHashExpression.register(spark)
    graft.transform.Normalizer.register(spark)
    graft.transform.Annotations.register(spark)

    val tracer =
      if (trace) {
        val tf = new File(root.getParentFile, s"traces/$workload-seed$seed.jsonl")
        tf.getParentFile.mkdirs()
        Some(new Tracer(spark.sparkContext, tf))
      } else None
    val ctx = new Ctx(spark, work, seed, tracer)
    val w: Workload = workload match {
      case "cohort"   => new Cohort(ctx)
      case "analysis" => new Analysis(ctx)
      case other      => sys.error(s"unknown workload $other")
    }
    val checker = new Checker(perturb)
    def mark(what: String): Unit = System.err.println(s"[cohortbench] $what at " +
      num((System.currentTimeMillis() - jvmStartMs) / 1e3) + " s")
    try {
      mark("session ready")
      val g0 = System.nanoTime()
      w.generate()
      val genS = (System.nanoTime() - g0) / 1e9
      mark("inputs generated")
      w.prepare()
      mark("store built and warm")
      val rounds = w.measure(seconds, checker)
      mark("measured")
      // setup = JVM start to the first timed operation, less input generation
      val setupS = (ctx.firstOpMs - jvmStartMs) / 1e3 - genS
      val med = ctx.samples.map { case (k, v) => k -> median(v.toSeq) }
      val roundS = w.perRound.map { case (k, n) => med.getOrElse(k, Double.NaN) * n }.sum / 1e3
      val attempted = ctx.samples.values.map(_.size).sum
      System.err.println(s"[cohortbench] $workload seed=$seed rounds=$rounds " +
        s"gen=${num(genS)}s " + med.map { case (k, v) =>
          s"$k=${num(v)}ms(n=${ctx.samples(k).size})" }.mkString(" "))
      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("round_s", roundS, "s"))
        else {
          // counters summed over the traced rounds, per round
          val c = w.perRound.map { case (k, _) => ctx.counters.getOrElse(k, Counters.zero) }
            .foldLeft(Counters.zero)(_ + _)
          val scale = 1.0 / rounds
          val layer = Replay.run(ctx, tracer.get, w.replayInputs())
          Seq(
            ("trace.round_s", roundS, "s"),
            ("spark.tasks_per_round", c.tasks * scale, "count"),
            ("spark.task_busy_s_per_round", c.busyNs / 1e9 * scale, "s"),
            ("spark.core_utilisation", c.busyNs / 1e9 * scale / (roundS * cores), "ratio"),
            ("spark.shuffle_write_bytes_per_round", c.shuffleWrite * scale, "B"),
            ("spark.spill_bytes_per_round", c.spill * scale, "B"),
            ("spark.gc_s_per_round", c.gcMs / 1e3 * scale, "s"),
            ("fs.bytes_read_per_round", c.bytesRead * scale, "B"),
            ("fs.bytes_written_per_round", c.bytesWritten * scale, "B")) ++ layer
        }
      if (perturb) {
        checker.summary.foreach { case (n, ok, _) =>
          println(s"PERTURB $workload $n ${if (ok) "ACCEPTED" else "rejected"}") }
        println(s"PERTURB $workload ${checker.count} checks, " +
          s"${checker.summary.count(!_._2)} rejected the perturbed expectation")
      }
      val json = "{\"correct\": " + checker.allPassed + ", \"attempted\": " + attempted +
        ", \"failed\": " + ctx.failed + ", \"metrics\": {" + metrics.map { case (n, v, u) =>
          "\"" + n + "\": {\"value\": " + num(v) + ", \"unit\": \"" + u + "\"}" }
          .mkString(", ") + "}}"
      Files.write(Paths.get(result.getPath), (json + "\n").getBytes("UTF-8"))
    } finally {
      tracer.foreach(_.close())
      ctx.rm(work.getPath)
      spark.stop()
      mark("stopped")
    }
  }
}
