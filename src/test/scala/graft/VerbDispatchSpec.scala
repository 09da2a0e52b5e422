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

  test("a mutating verb missing its operand fails before it creates the db") {
    // the writer lock mkdirs the db, and a failed run appends an
    // audit_log row there: a typo'd --db must not come into being
    val verbs = Seq("load", "import-gwas", "import-pgs", "import-frequencies",
      "load-reference", "annotate-ld-blocks", "load-annotation", "dedup",
      "text-quality", "media-features")
    assert(verbs.toSet.subsetOf(Graft.MutatingVerbs))
    verbs.foreach { verb =>
      val db = Files.createTempDirectory("operanddb").toString + "/absent"
      val e = intercept[RuntimeException](Graft.run(spark, Array(verb, "--db", db)))
      assert(e.getMessage.startsWith(s"$verb expects "), s"$verb: ${e.getMessage}")
      assert(!new java.io.File(db).exists, s"$verb created $db")
    }
  }
}
