package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.lit

/** In-repo twins of the `GraftCliSpec` tests of `validate <batch-id>`,
  * `audit-verify` and `audit-stats` that read reference fixtures, plus
  * the load's PHI-scan ledger note and the operand guard, over inline
  * VCF text and hand-built audit logs so they run on every host. The
  * expected values are counted by hand from the inputs below. */
class HermeticVerbSpec extends SparkSpec {
  import spark.implicits._

  private def writeVcf(lines: String*): String = {
    val p = Files.createTempDirectory("hermeticvcf").resolve("in.vcf")
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  private def captured(a: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Graft.run(spark, a.toArray)
    }
    out.toString("UTF-8")
  }

  private val Cols = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"

  /** 1 + 2 + 1 ALT alleles = 4 variants, no two sharing a site. */
  private def fourVariants(): String = writeVcf(
    "##fileformat=VCFv4.2",
    "##contig=<ID=chr1,length=248956422>",
    "##contig=<ID=chr2,length=242193529>",
    Cols,
    "chr1\t100\trs11\tA\tG\t50\tPASS\t.",
    "chr1\t200\t.\tC\tT,A\t60\tPASS\t.",
    "chr2\t300\trs33\tG\tA\t70\tPASS\t.")

  test("validate <batch-id> reports one batch and fails on unknown ids (hermetic twin)") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = fourVariants()
    Graft.run(spark, Array("load", vcf, "--db", db))
    val batchId = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed")
      .select($"load_batch_id").head().getString(0)
    val s = captured("validate", batchId, "--db", db)
    assert(s.linesIterator.toSeq == Seq(s"Load Batch: $batchId",
      "Status: completed", "Expected variants: 4", "Actual variants: 4",
      "Duplicates: 0", "Validation passed"), s)
    // the whole-store face reconciles the same batch against its row
    val all = captured("validate", "--db", db)
    assert(all.contains("variants=4 duplicate_sites=0"), all)
    assert(all.contains(s"batch $batchId ($vcf): expected=4 actual=4 ok"), all)
    val e = intercept[RuntimeException] {
      Graft.run(spark, Array("validate", "no-such-batch", "--db", db))
    }
    assert(e.getMessage.contains("Load batch not found"), e.getMessage)
    val r = intercept[RuntimeException] {
      Graft.run(spark, Array("validate", batchId, "--db", db, "--rebuild"))
    }
    assert(r.getMessage.contains("does not take --rebuild"), r.getMessage)
  }

  /** Three chained entries dated 2026-08-10..12: two `load`s (the second
    * failed) and one `compact`, hashed as `AuditLog.append` hashes. */
  private def chain(): Seq[graft.audit.Audit.AuditEvent] = {
    val rows = Seq(("2026-08-10T12:00:00Z", "load", true),
      ("2026-08-11T12:00:00Z", "compact", true),
      ("2026-08-12T12:00:00Z", "load", false))
    rows.zipWithIndex.foldLeft(Seq.empty[graft.audit.Audit.AuditEvent]) {
      case (acc, ((t, verb, ok), i)) =>
        val prev = acc.lastOption.map(_.entry_hash)
          .getOrElse(graft.audit.Audit.GenesisHash)
        acc :+ graft.audit.Audit.AuditEvent(i + 1L, t, verb, "u",
          s"$verb --db x", ok, prev,
          graft.audit.Audit.entryHash(t, verb, "u", s"$verb --db x", ok, prev))
    }
  }

  private def auditDb(events: Seq[graft.audit.Audit.AuditEvent]): String = {
    val db = Files.createTempDirectory("auditdb").toString
    spark.createDataFrame(events).write.parquet(s"$db/audit_log")
    db
  }

  test("audit-verify text, --json and date windows over a clean chain (hermetic twin)") {
    val empty = Files.createTempDirectory("auditdb").toString
    assert(captured("audit-verify", "--db", empty).trim == "no audit log")
    val events = chain()
    val db = auditDb(events)
    assert(captured("audit-verify", "--db", db).trim ==
      "audit chain ok (3 entries)")
    // 08-11 and 08-12 fall on or after the start date
    val windowed = captured("audit-verify", "--db", db,
      "--start-date", "2026-08-11").trim
    assert(windowed == "audit chain ok (2 entries in window 2026-08-11..)")
    // the open bound prints as nothing, so any stdout encoding shows it
    assert(windowed.forall(_ < 128), windowed)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val rep = om.readTree(captured("audit-verify", "--db", db, "--json"))
    assert(rep.get("is_valid").asBoolean())
    assert(rep.get("total_entries").asInt() == 3)
    assert(rep.get("verified_entries").asInt() == 3)
    assert(rep.get("violation_count").asInt() == 0)
    assert(rep.get("coverage_percent").asDouble() == 100.0)
    // unwindowed, the dates come from the first and last entries
    assert(rep.get("start_date").asText() == "2026-08-10")
    assert(rep.get("end_date").asText() == "2026-08-12")
    assert(rep.get("first_entry_hash").asText() == events.head.entry_hash)
    assert(rep.get("last_entry_hash").asText() == events.last.entry_hash)
    // a one-day window holds the middle entry alone
    val one = om.readTree(captured("audit-verify", "--db", db, "--json",
      "--start-date", "2026-08-11", "--end-date", "2026-08-11"))
    assert(one.get("total_entries").asInt() == 1)
    assert(one.get("first_entry_hash").asText() == events(1).entry_hash)
    val bad = intercept[RuntimeException] {
      Graft.run(spark, Array("audit-verify", "--db", db,
        "--start-date", "08/11/2026"))
    }
    assert(bad.getMessage.contains("--start-date/--end-date must be YYYY-MM-DD"),
      bad.getMessage)
  }

  /** audit-verify's printed lines and error over `events`. */
  private def failing(events: Seq[graft.audit.Audit.AuditEvent],
                      json: Boolean = false): (String, String) = {
    val db = auditDb(events)
    val out = new java.io.ByteArrayOutputStream()
    val e = intercept[RuntimeException] {
      Console.withOut(new java.io.PrintStream(out)) {
        Graft.run(spark, Array("audit-verify", "--db", db) ++
          (if (json) Seq("--json") else Nil))
      }
    }
    (out.toString, e.getMessage)
  }

  test("audit-verify names TAMPERED, CONCURRENT APPEND and CHAIN BREAK entries (hermetic twin)") {
    val events = chain()
    // an edited action: entry 2's stored hash no longer covers its
    // content; entry 3 still links to that stored hash
    val (t, te) = failing(events.updated(1, events(1).copy(action = "doctored")))
    assert(t.trim == "TAMPERED: audit_id=2 compact at 2026-08-11T12:00:00Z", t)
    assert(te.contains("FAILED: 1 bad entries"), te)
    // a fork: a second, validly hashed entry 3 on the same predecessor —
    // both id-3 rows are flagged, neither as an edit
    val e3 = events(2)
    val forkHash = graft.audit.Audit.entryHash("2026-08-12T13:00:00Z", "load",
      "v", "load --db y", true, e3.previous_hash)
    val fork = e3.copy(event_time = "2026-08-12T13:00:00Z", user_name = "v",
      action = "load --db y", success = true, entry_hash = forkHash)
    val (c, ce) = failing(events :+ fork)
    assert(c.linesIterator.toSeq.sorted == Seq(
      "CONCURRENT APPEND: audit_id=3 load at 2026-08-12T12:00:00Z",
      "CONCURRENT APPEND: audit_id=3 load at 2026-08-12T13:00:00Z"), c)
    assert(ce.contains("FAILED: 2 bad entries"), ce)
    // a deleted entry: entry 3's predecessor is gone, its content verifies
    val (b, be) = failing(events.filterNot(_.audit_id == 2L))
    assert(b.trim == "CHAIN BREAK: audit_id=3 load at 2026-08-12T12:00:00Z", b)
    assert(be.contains("FAILED: 1 bad entries"), be)
    // the JSON face names the same two stories in the reference's words
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val (tj, _) = failing(events.updated(1, events(1).copy(action = "doctored")),
      json = true)
    val v = om.readTree(tj).get("violations")
    assert(v.size() == 1 && v.get(0).get("status").asText() == "hash_mismatch")
    val (bj, _) = failing(events.filterNot(_.audit_id == 2L), json = true)
    assert(om.readTree(bj).get("violations").get(0).get("status").asText() ==
      "chain_broken")
  }

  test("audit-stats counts per verb with success and time range (hermetic twin)") {
    val empty = Files.createTempDirectory("auditdb").toString
    assert(captured("audit-stats", "--db", empty).trim == "no audit log")
    val out = captured("audit-stats", "--db", auditDb(chain()))
    // event_type, n, n_success, first_event, last_event per verb
    val rows = out.linesIterator.filter(l => l.startsWith("|") &&
      !l.contains("event_type")).map(_.split('|').map(_.trim).drop(1).toSeq)
      .toSeq
    assert(rows == Seq(
      Seq("compact", "1", "1", "2026-08-11T12:00:00Z", "2026-08-11T12:00:00Z"),
      Seq("load", "2", "1", "2026-08-10T12:00:00Z", "2026-08-12T12:00:00Z")),
      out)
  }

  test("load --phi-scan records header, sample-name, data-row and custom-pattern findings in its ledger note") {
    val dir = Files.createTempDirectory("phinote")
    val cfg = dir.resolve("patterns.toml").toString
    Graft.run(spark, Array("phi-patterns-add", "--name", "study_code",
      "--pattern", "STUDY-\\d{4}", "--severity", "high",
      "--patterns-config", cfg))
    // findings: an email on a ## line (builtin, header), STUDY-4711 on a
    // ## line (custom, header), an MRN sample name (SAMPLE_ID[0]) and an
    // email in the data row's INFO
    val vcf = writeVcf(
      "##fileformat=VCFv4.2",
      "##contig=<ID=chr1,length=248956422>",
      "##reviewer=contact jane@example.org",
      "##cohort=STUDY-4711",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      Cols + "\tFORMAT\tMRN12345",
      "chr1\t100\t.\tA\tT\t50\tPASS\tNOTE=bob@example.com\tGT\t0/1")
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", vcf, "--db", db, "--phi-scan",
      "--patterns-config", cfg))
    val note = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").select($"note").head().getString(0)
    // 4 findings; the default header sanitization redacts the one
    // builtin header email (high risk)
    assert(note == "phi_scan: 4 findings (email,mrn,study_code) in " +
      "HEADER,INFO,SAMPLE_ID; header_sanitization: 1 items (risk: high)", note)
  }

  test("a flag or nothing in the operand slot is a usage error naming the verb, never a path") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fourVariants(), "--db", db))
    // a matched study, so export-plink would reach its write
    spark.read.parquet(s"$db/variants")
      .select($"variant_id", $"alt".as("effect_allele"),
        $"ref".as("other_allele"), lit(0.1).as("beta"),
        lit(0.01).as("standard_error"), lit(1e-8).as("p_value"))
      .write.parquet(s"$db/gwas_stats")
    val stray = new java.io.File("--db")
    assume(!stray.exists(), "a ./--db left by an earlier run")
    try {
      Seq(Array("export-plink", "--db", db), Array("audit-export", "--db", db),
          Array("phi-report"), Array("audit-verify-backup")).foreach { a =>
        val e = intercept[RuntimeException](Graft.run(spark, a))
        assert(e.getMessage.contains(s"${a.head} expects"), e.getMessage)
        assert(!stray.exists(), s"${a.mkString(" ")} wrote ./--db")
      }
    } finally if (stray.exists()) {
      graft.sinks.DbFs.deleteRecursive(stray.getAbsolutePath)
    }
  }
}
