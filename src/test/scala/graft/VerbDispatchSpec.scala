package graft

import java.nio.file.Files

/** Every verb `usage()` names reaches a dispatch arm: run bare (no
  * operand) against a fresh db, each may fail with its own usage or
  * data error, but none may fall through to `unknown verb`. */
class VerbDispatchSpec extends SparkSpec {

  /** Verbs of the usage text: the first word of each two-space-indented
    * line, split on `|` for the grouped entries. */
  private val usageVerbs: Seq[String] = Graft.Usage.linesIterator
    .filter(l => l.startsWith("  ") && !l.startsWith("   "))
    .flatMap(_.trim.takeWhile(_ != ' ').split('|')).toSeq

  test("every usage verb dispatches; every mutating verb is a usage verb") {
    assert(usageVerbs.contains("load") && usageVerbs.contains("export-prsice") &&
      usageVerbs.contains("media-features"), usageVerbs)
    val db = Files.createTempDirectory("dispatchdb").toString
    // bare `benchmark` runs the whole graft.Bench harness
    usageVerbs.filterNot(_ == "benchmark").foreach { verb =>
      val out = new java.io.ByteArrayOutputStream()
      val failure =
        try {
          Console.withOut(new java.io.PrintStream(out)) {
            Graft.run(spark, Array(verb, "--db", db))
          }
          None
        } catch { case e: Exception => Option(e.getMessage) }
      assert(!failure.exists(_.contains("unknown verb")), s"$verb: $failure")
      assert(!out.toString.contains("unknown verb"), s"$verb: $out")
    }
    assert(Graft.MutatingVerbs.subsetOf(usageVerbs.toSet),
      Graft.MutatingVerbs -- usageVerbs)
  }
}
