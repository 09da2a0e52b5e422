package graft.audit

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

class AuditSpec extends SparkSpec {
  import spark.implicits._

  test("file sha256 is stable and matches a known vector") {
    val f = Files.createTempFile("hash", ".txt")
    Files.writeString(f, "hello graft\n")
    val h1 = Audit.fileSha256(f.toString)
    assert(h1 == Audit.fileSha256(f.toString))
    assert(h1.length == 64 && h1.matches("[0-9a-f]+"))
  }

  test("ledger: skip-on-same-hash, reload drops previous batch") {
    val dir = Files.createTempDirectory("ledger").toString + "/ledger"
    val ledger = new Audit.Ledger(spark, dir)
    assert(ledger.checkExisting("abc").isEmpty)
    ledger.append(Audit.LedgerEntry("batch-1", "/x.vcf", "abc", "completed",
      100L, new java.sql.Timestamp(1000)))
    assert(ledger.checkExisting("abc").contains("batch-1"))
    assert(ledger.checkExisting("other").isEmpty)

    val variants = Seq(("chr1", 1L, "batch-1"), ("chr1", 2L, "batch-2"))
      .toDF("chrom", "pos", "load_batch_id")
    val after = Audit.dropBatch(variants, "batch-1")
    assert(after.count() == 1)
    assert(after.head().getAs[String]("load_batch_id") == "batch-2")
  }

  test("hash chain: compute then verify; tamper detection") {
    val audit = Seq(
      (1L, "2024-01-01T00:00:00", "load", "alice", "load_vcf", true),
      (2L, "2024-01-01T01:00:00", "query", "bob", "annotate", true),
      (3L, "2024-01-01T02:00:00", "export", "alice", "export_plink", false)
    ).toDF("audit_id", "event_time", "event_type", "user_name", "action", "success")

    val chained = Audit.withChainHashes(audit)
    val verified = Audit.verifyChain(chained)
    assert(verified.filter(!$"chain_valid").count() == 0)
    // first row chains from genesis
    assert(verified.orderBy($"audit_id").head().getAs[String]("previous_hash") ==
      Audit.GenesisHash)

    // tamper with a middle row's action → its recomputed hash mismatches
    val tampered = chained.withColumn("action",
      when($"audit_id" === 2L, "TAMPERED").otherwise($"action"))
    val bad = Audit.verifyChain(tampered).filter(!$"chain_valid")
    assert(bad.count() == 1)
    assert(bad.head().getAs[Long]("audit_id") == 2L)
  }

  test("verifyChain names a forked chain (duplicate ids) distinctly from tampering") {
    // two appenders that both read tip audit_id=1 fork the chain: both
    // rows carry audit_id=2 with the same previous_hash — no one edited
    // anything, but lag over the id-ordered window sees a mismatch.
    // duplicate_id must mark BOTH rows so the verify face can say
    // "concurrent append", not "tampered".
    val base = Seq(
      (1L, "2024-01-01T00:00:00", "load", "alice", "load_vcf", true),
      (2L, "2024-01-01T01:00:00", "query", "bob", "annotate", true),
      (2L, "2024-01-01T01:00:01", "export", "carol", "export_plink", true),
      // the fork's SUCCESSOR: chains from ONE of the two id-2 arms; it
      // edited nothing and must verify clean deterministically (the old
      // lag-based check flagged it TAMPERED whenever the window's
      // arbitrary tie order surfaced the other arm)
      (3L, "2024-01-01T02:00:00", "load", "alice", "load_vcf2", true)
    ).toDF("audit_id", "event_time", "event_type", "user_name", "action", "success")
    // hash each forked row against row 1's hash, as live appenders would;
    // the successor row chains from bob's arm of the fork
    val h1 = Audit.entryHash("2024-01-01T00:00:00", "load", "alice",
      "load_vcf", success = true, Audit.GenesisHash)
    val h2bob = Audit.entryHash("2024-01-01T01:00:00", "query", "bob",
      "annotate", success = true, h1)
    val chained = base
      .withColumn("previous_hash",
        when($"audit_id" === 1L, Audit.GenesisHash)
          .when($"audit_id" === 3L, h2bob).otherwise(h1))
      .withColumn("entry_hash", lit("") /* recomputed below */)
    import org.apache.spark.sql.Row
    val rows = chained.collect().map { r =>
      val h = Audit.entryHash(r.getAs[String]("event_time"),
        r.getAs[String]("event_type"), r.getAs[String]("user_name"),
        r.getAs[String]("action"), r.getAs[Boolean]("success"),
        r.getAs[String]("previous_hash"))
      Row(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getBoolean(5), r.getAs[String]("previous_hash"), h)
    }
    val forked = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), chained.schema)
    val verified = Audit.verifyChain(forked)
    val dups = verified.filter($"duplicate_id").collect()
    assert(dups.length == 2 && dups.forall(_.getLong(0) == 2L))
    assert(dups.forall(!_.getAs[Boolean]("chain_valid")))
    // the intact genesis row stays valid
    assert(verified.filter($"audit_id" === 1L).head().getAs[Boolean]("chain_valid"))
    // and so does the fork's successor — deterministically, on every run
    assert(verified.filter($"audit_id" === 3L).head().getAs[Boolean]("chain_valid"))
  }
}

class AuditTipSpec extends SparkSpec {
  import spark.implicits._

  test("audit tip sidecar: O(1) tip honored only when file count matches; stale falls back") {
    val dir = Files.createTempDirectory("audittip").toString + "/audit_log"
    val log = new Audit.AuditLog(spark, dir)
    log.append("load", "a", success = true)
    log.append("compact", "b", success = true)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, ".tip")))
    // stale sidecar: delete it entirely — next append must full-scan and
    // keep the chain intact
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, ".tip"))
    log.append("load", "c", success = true)
    // stale COUNT: doctor the sidecar to claim a wrong file count — the
    // mismatch must force the fallback, not fork the chain from a bogus id
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, ".tip"),
      s"999 ${"ab" * 32} 1")
    log.append("export", "d", success = true)
    val verified = Audit.verifyChain(log.read())
    assert(verified.count() == 4)
    assert(verified.filter(!$"chain_valid").count() == 0,
      verified.orderBy($"audit_id").collect().mkString("\n"))
    assert(verified.agg(org.apache.spark.sql.functions.max($"audit_id"))
      .head().getLong(0) == 4L)
  }
}

class WritersSpec extends SparkSpec {
  import spark.implicits._
  import graft.sinks.Writers

  test("range layout: a chrom directory holds several pos-disjoint sorted files") {
    import org.apache.spark.sql.functions.{input_file_name, min => fmin, max => fmax}
    val base = Files.createTempDirectory("rangelayout").toString
    val vcf = s"$base/v.vcf"
    graft.vcf.SyntheticVcf.write(vcf, 20000, seed = 37L)
    // AQE sizes the range shuffle by its advisory/min partition sizes,
    // so at test scale (a few MB) everything coalesces into one file —
    // shrink the size floors to see the at-scale multi-file behavior
    val sized = Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16384",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    val prev = sized.keys.map(k => k -> spark.conf.getOption(k)).toMap
    sized.foreach { case (k, v) => spark.conf.set(k, v) }
    try Writers.writeVariants(graft.vcf.VcfReader.variants(spark, vcf), s"$base/t")
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val files = spark.read.parquet(s"$base/t").filter($"chrom" === "chr1")
      .groupBy(input_file_name().as("f"))
      .agg(fmin($"pos").as("lo"), fmax($"pos").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    // write parallelism is NOT capped at one task per chromosome
    assert(files.length > 1, s"expected several files in chrom=chr1, got ${files.length}")
    // and the files cover disjoint pos ranges, so a point/region probe
    // footer-prunes to one or two of them
    files.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges overlap: hi=$hi1 vs next lo=$lo2")
      case _ => ()
    }
  }

  test("variants write partitions by chrom with pos sorted for pruning") {
    val dir = Files.createTempDirectory("variants").toString + "/t"
    val v = Seq(("chr1", 100L, "A", "G"), ("chr2", 5L, "C", "T"),
      ("chr1", 50L, "G", "A")).toDF("chrom", "pos", "ref", "alt")
    Writers.writeVariants(v, dir)
    assert(new java.io.File(s"$dir/chrom=chr1").exists())
    assert(new java.io.File(s"$dir/chrom=chr2").exists())
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    // partition pruning: a chrom filter scans one directory
    val pruned = back.filter($"chrom" === "chr1")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 2)
    assert(scan.contains("PartitionFilters"))
  }

  test("dropBatchFiles: pure files unlink, mixed files rewrite filtered, others untouched") {
    val dir = Files.createTempDirectory("dropbatch").toString + "/t"
    // pure batch-A file, pure batch-B file, a MIXED A+B file, and a
    // legacy file with no load_batch_id column at all
    Seq((1L, "A"), (2L, "A")).toDF("id", "load_batch_id")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "B"), (4L, "B")).toDF("id", "load_batch_id")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((5L, "A"), (6L, "B")).toDF("id", "load_batch_id")
      .coalesce(1).sortWithinPartitions($"load_batch_id")
      .write.mode("append").parquet(dir)
    // legacy file written to a sibling then moved in (schema differs)
    val legacyDir = Files.createTempDirectory("dropbatchlegacy").toString + "/w"
    Seq(Tuple1(7L)).toDF("id").coalesce(1).write.parquet(legacyDir)
    val legacySrc = new java.io.File(legacyDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val legacyDst = new java.io.File(dir, s"legacy-${legacySrc.getName}")
    java.nio.file.Files.copy(legacySrc.toPath, legacyDst.toPath)
    val legacyMtime = legacyDst.lastModified()

    // the test dir deliberately mixes schemas (legacy file without the
    // column), so its own reads need mergeSchema; real stores are
    // schema-consistent
    def readAll() = spark.read.option("mergeSchema", "true").parquet(dir)
    def fileFor(id: Long): Option[String] = {
      import org.apache.spark.sql.functions.input_file_name
      readAll().withColumn("f", input_file_name())
        .filter($"id" === id).collect().headOption.map(_.getAs[String]("f"))
    }
    val pureBFile = fileFor(3L).get
    val (removed, rewritten) = Writers.dropKeyFiles(spark, dir, "load_batch_id", "A")
    assert(removed == 1, s"expected 1 pure batch-A file removed, got $removed")
    assert(rewritten == 1, s"expected 1 mixed file rewritten, got $rewritten")
    val back = readAll()
    // batch A fully gone; B and the legacy row intact
    assert(back.filter($"load_batch_id" <=> "A").count() == 0)
    assert(back.filter($"id".isin(3L, 4L, 6L)).count() == 3)
    assert(back.filter($"id" === 7L).count() == 1)
    // the pure-B file and legacy file were never touched
    assert(fileFor(4L).get == pureBFile, "pure batch-B file was rewritten")
    assert(legacyDst.lastModified() == legacyMtime, "legacy file touched")
    // no trash/tmp residue
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.contains(".trash-") || f.getName.contains(".tmp-")))
    // dropping a batch that is not present is a no-op
    assert(Writers.dropKeyFiles(spark, dir, "load_batch_id", "ZZZ") == ((0, 0)))
    // and a missing directory answers (0,0) rather than failing
    assert(Writers.dropKeyFiles(spark, s"$dir-nope", "load_batch_id", "A") == ((0, 0)))
  }

  test("dropKeyFiles: composite key drops the conjunction only") {
    // import-frequencies' (source, subset) replace: dropping
    // (v3, nfe) must not touch (v4, nfe) — same subset, different
    // source — nor (v3, all); a mixed file rewrites keeping the
    // non-matching conjunctions
    val dir = Files.createTempDirectory("dropkeys").toString + "/t"
    Seq((1L, "v3", "nfe"), (2L, "v3", "nfe"))
      .toDF("id", "source", "subset")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "v4", "nfe")).toDF("id", "source", "subset")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((4L, "v3", "all")).toDF("id", "source", "subset")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((5L, "v3", "nfe"), (6L, "v3", "all"))
      .toDF("id", "source", "subset")
      .coalesce(1).write.mode("append").parquet(dir)
    def fileFor(id: Long): String = {
      import org.apache.spark.sql.functions.input_file_name
      spark.read.parquet(dir).withColumn("f", input_file_name())
        .filter($"id" === id).head().getAs[String]("f")
    }
    val v4File = fileFor(3L)
    val v3AllFile = fileFor(4L)
    val (removed, rewritten) = Writers.dropKeyFiles(
      spark, dir, Seq("source" -> "v3", "subset" -> "nfe"))
    assert(removed == 1, s"expected the pure (v3,nfe) file removed: $removed")
    assert(rewritten == 1, s"expected the mixed file rewritten: $rewritten")
    val back = spark.read.parquet(dir)
    assert(back.filter($"source" === "v3" && $"subset" === "nfe").count() == 0)
    assert(back.filter($"id".isin(3L, 4L, 6L)).count() == 3,
      "non-matching conjunctions must survive")
    // files not holding the dropped conjunction were never touched
    assert(fileFor(3L) == v4File, "(v4,nfe) file was rewritten")
    assert(fileFor(4L) == v3AllFile, "(v3,all) file was rewritten")
  }

  test("dropKeyFiles: multi-byte UTF-8 key values classify by unsigned order") {
    // parquet UTF8 binary stats order UNSIGNED lexicographic; a signed
    // byte compare sees 0xCE-leading "ΩΩΩ" as LESS than "AAA" and would
    // misclassify a mixed [AAA, ΩΩΩ] file as not covering the Greek key,
    // leaving its rows behind — a silent duplicate on the next import of
    // a non-ASCII study accession / source name
    val dir = Files.createTempDirectory("droputf8").toString + "/t"
    Seq((1L, "AAA"), (2L, "ΩΩΩ")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "ΩΩΩ")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((4L, "AAA")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(dir)
    def fileFor(id: Long): String = {
      import org.apache.spark.sql.functions.input_file_name
      spark.read.parquet(dir).withColumn("f", input_file_name())
        .filter($"id" === id).head().getAs[String]("f")
    }
    val asciiOnly = fileFor(4L)
    val (removed, rewritten) = Writers.dropKeyFiles(spark, dir, "k", "ΩΩΩ")
    assert(removed == 1, s"pure ΩΩΩ file should unlink whole: $removed")
    assert(rewritten == 1, s"mixed [AAA,ΩΩΩ] file should rewrite: $rewritten")
    val back = spark.read.parquet(dir)
    assert(back.filter($"k" === "ΩΩΩ").count() == 0,
      "multi-byte key rows survived the drop")
    assert(back.filter($"k" === "AAA").count() == 2)
    assert(fileFor(4L) == asciiOnly, "ASCII-only file was touched")
  }

  // --- dropKeyFiles rollback arms, under injected rename faults (the
  // object-store failure mode: rename returns false mid-surgery). Both
  // phases of the metadata step are exercised: trashing a doomed file,
  // and landing a staged rewrite. After either fault the store must read
  // back byte-identical and carry no trash/tmp residue — at 100 TB a
  // half-applied per-key replace is silent data loss or duplication.

  private def faultStore(prefix: String): (String, String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    val base = Files.createTempDirectory(prefix).toString
    val dir = s"faultfs://$base/t"
    Seq((1L, "A"), (2L, "A")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "B")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((4L, "A"), (5L, "B")).toDF("id", "k")
      .coalesce(1).write.mode("append").parquet(dir) // mixed file
    import org.apache.spark.sql.functions.input_file_name
    val mixedName = new org.apache.hadoop.fs.Path(
      spark.read.parquet(dir).withColumn("f", input_file_name())
        .filter($"id" === 4L).head().getAs[String]("f")).getName
    (base, dir, mixedName)
  }

  private def assertRolledBack(base: String, dir: String,
                               before: Seq[org.apache.spark.sql.Row]): Unit = {
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == before,
      "store content changed across a rolled-back drop")
    val residue = new java.io.File(base).listFiles().filter(f =>
      f.getName.contains(".trash-") || f.getName.contains(".tmp-"))
    assert(residue.isEmpty, residue.map(_.getName).mkString(","))
  }

  private def assertCleanDropWorks(dir: String): Unit = {
    val (removed, rewritten) = Writers.dropKeyFiles(spark, dir, "k", "A")
    assert(removed == 1 && rewritten == 1, s"$removed removed/$rewritten rewritten")
    val back = spark.read.parquet(dir)
    assert(back.filter($"k" === "A").count() == 0)
    assert(back.filter($"k" === "B").count() == 2)
  }

  test("dropKeyFiles: a failed trash rename rolls back already-trashed files") {
    val (base, dir, mixedName) = faultStore("droprb1")
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    // pure A-file trashes first; the MIXED file's trash rename then fails,
    // so rollback must restore the pure file from trash
    try {
      FaultFs.failWhen = (src, dst) =>
        dst.toString.contains(".trash-") && src.getName == mixedName
      val e = intercept[RuntimeException](
        Writers.dropKeyFiles(spark, dir, "k", "A"))
      assert(e.getMessage.contains("cannot stage"), e.getMessage)
    } finally FaultFs.reset()
    assertRolledBack(base, dir, before)
    assertCleanDropWorks(dir)
  }

  test("dropKeyFiles: a failed rewrite landing rolls back pure AND mixed files") {
    val (base, dir, mixedName) = faultStore("droprb2")
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    // both files are in trash when the staged rewrite's landing rename
    // (tmp data file -> original mixed path) fails; rollback must restore
    // both. The committer's own renames stay inside the .tmp- dir and
    // must not trip the fault.
    try {
      FaultFs.failWhen = (src, dst) =>
        src.toString.contains(".tmp-") && dst.getName == mixedName &&
          !dst.toString.contains(".tmp-")
      val e = intercept[RuntimeException](
        Writers.dropKeyFiles(spark, dir, "k", "A"))
      assert(e.getMessage.contains("cannot land rewrite"), e.getMessage)
    } finally FaultFs.reset()
    assertRolledBack(base, dir, before)
    assertCleanDropWorks(dir)
  }

  test("appendRowDriverSide: leftover temp junk never bricks the table") {
    // a kill mid-write leaves only a DOT-prefixed .tmp (ignored by
    // Spark's directory listing); later reads and appends proceed, and
    // a clean append leaves no temp residue of its own
    val dir = Files.createTempDirectory("drvrow").toString + "/ledger"
    val ledger = new Audit.Ledger(spark, dir)
    ledger.append(Audit.LedgerEntry("b1", "/x.vcf", "h1", "completed",
      1L, new java.sql.Timestamp(1000)))
    // simulate the crash artifact: garbage bytes under the temp name
    Files.write(java.nio.file.Paths.get(dir, ".part-driver-dead.tmp"),
      Array[Byte](1, 2, 3))
    assert(spark.read.parquet(dir).count() == 1)
    ledger.append(Audit.LedgerEntry("b2", "/y.vcf", "h2", "completed",
      2L, new java.sql.Timestamp(2000)))
    assert(ledger.checkExisting("h2").contains("b2"))
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.count(_.endsWith(".snappy.parquet")) == 2)
    assert(!names.exists(n => n.endsWith(".tmp") && n != ".part-driver-dead.tmp"),
      s"append leaked its own temp: $names")
  }

  test("backup checksum is byte-compatible with Python json.dumps (differential)") {
    // the reference verifies backups by re-dumping the parsed entries
    // with json.dumps(sort_keys=True, separators=(",",":")) and
    // sha256-ing the result (`audit/integrity.py:294-296,332-335`) — a
    // user pointing Python tooling at OUR export must get OUR checksum
    val py = try {
      new ProcessBuilder("python3", "--version").start().waitFor() == 0
    } catch { case _: Throwable => false }
    assume(py, "python3 not available")
    val entries = Seq(
      Audit.BackupEntry(1L, "2026-08-14T00:00:00Z", "load", "ünïcode-üser",
        "loaded \"x.vcf\"", success = true, "0" * 64, "a" * 64),
      Audit.BackupEntry(2L, "2026-08-14T00:01:00Z", "compact", null,
        "compacted", success = false, "a" * 64, "b" * 64))
    val out = Files.createTempFile("backup", ".json").toString
    Audit.writeBackup(entries, out)
    val script = Files.createTempFile("chk", ".py")
    Files.writeString(script,
      """import json, hashlib, sys
        |doc = json.load(open(sys.argv[1]))
        |c = hashlib.sha256(json.dumps(doc["entries"], sort_keys=True,
        |    separators=(",", ":")).encode()).hexdigest()
        |print("PYCHK=" + c)
        |print("METAC=" + doc["metadata"]["checksum"])
        |""".stripMargin)
    val p = new ProcessBuilder("python3", script.toString, out)
      .redirectErrorStream(true).start()
    val outText = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, outText)
    val lines = outText.linesIterator.toSeq
    val pychk = lines.find(_.startsWith("PYCHK=")).get.drop(6)
    val metac = lines.find(_.startsWith("METAC=")).get.drop(6)
    assert(pychk == metac,
      s"python json.dumps checksum $pychk != embedded $metac\n$outText")
    // and our own verifier agrees
    assert(Audit.verifyBackupFile(out)._1)
  }

  test("upsert: incoming wins, unmatched existing survives") {
    val existing = Seq((1L, "old"), (2L, "keep")).toDF("id", "v")
    val incoming = Seq((1L, "new"), (3L, "add")).toDF("id", "v")
    val merged = graft.sinks.Writers.upsert(existing, incoming, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged == Map(1L -> "new", 2L -> "keep", 3L -> "add"))
  }

  test("upsert: duplicate-keyed incoming collapses to one row per key") {
    // ON CONFLICT DO UPDATE leaves exactly one row per key; an incoming
    // batch listing a key twice must not land both rows
    val existing = Seq((1L, "old")).toDF("id", "v")
    val incoming = Seq((1L, "n1"), (1L, "n2"), (2L, "add")).toDF("id", "v")
    val merged = graft.sinks.Writers.upsert(existing, incoming, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(merged.length == 2, s"duplicate key survived: ${merged.toSeq}")
    assert(merged.toMap.keySet == Set(1L, 2L))
    assert(Set("n1", "n2").contains(merged.toMap.apply(1L)))
  }

  test("insertIgnore: existing wins, duplicate incoming dropped") {
    val existing = Seq((1L, "old")).toDF("id", "v")
    val incoming = Seq((1L, "new"), (2L, "add"), (2L, "dup")).toDF("id", "v")
    val merged = graft.sinks.Writers.insertIgnore(existing, incoming, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged(1L) == "old")
    assert(merged.contains(2L) && merged.size == 2)
  }

  test("replaceInPlaceAll: a failing write leaves every destination untouched, no temp residue") {
    val base = Files.createTempDirectory("swapall").toString
    val (dirA, dirB) = (s"$base/a", s"$base/b")
    Seq((1L, "a0")).toDF("id", "v").write.parquet(dirA)
    Seq((1L, "b0")).toDF("id", "v").write.parquet(dirB)
    val newA = Seq((1L, "a1")).toDF("id", "v")
    val newB = Seq((1L, "b1")).toDF("id", "v")
    intercept[RuntimeException] {
      Writers.replaceInPlaceAll(Seq(
        (newA, dirA, (d, p) => d.write.parquet(p)),
        (newB, dirB, (_, _) => sys.error("boom: second write fails"))))
    }
    // both destinations unchanged — including dirA, whose write succeeded
    assert(spark.read.parquet(dirA).head().getString(1) == "a0")
    assert(spark.read.parquet(dirB).head().getString(1) == "b0")
    // no tmp/old siblings left behind
    val residue = new java.io.File(base).listFiles()
      .map(_.getName).filter(n => n.contains(".tmp-") || n.contains(".old-"))
    assert(residue.isEmpty, s"residue: ${residue.mkString(",")}")

    // happy path swaps both
    Writers.replaceInPlaceAll(Seq(
      (newA, dirA, (d, p) => d.write.parquet(p)),
      (newB, dirB, (d, p) => d.write.parquet(p))))
    assert(spark.read.parquet(dirA).head().getString(1) == "a1")
    assert(spark.read.parquet(dirB).head().getString(1) == "b1")
  }

  test("swap phase: a failed stage-aside rename reverses already-swapped tables") {
    // tables swap in declaration order; table b's stage-aside rename
    // fails AFTER table a has fully swapped to new data — the rollback
    // must put a's previous data back and leave no tmp/old residue
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    val base = Files.createTempDirectory("swapfault1").toString
    val (dirA, dirB) = (s"faultfs://$base/a", s"faultfs://$base/b")
    Seq((1L, "a0")).toDF("id", "v").write.parquet(dirA)
    Seq((1L, "b0")).toDF("id", "v").write.parquet(dirB)
    def writer(dst: String, value: String): Map[String, String] => Unit =
      tmps => Seq((1L, value)).toDF("id", "v").write.parquet(tmps(dst))
    try {
      FaultFs.failWhen = (src, dst) =>
        src.getName == "b" && dst.getName.startsWith("b.old-")
      val e = intercept[RuntimeException] {
        Writers.replaceInPlaceAllStagedGrouped(Seq(
          Seq((dirA, writer(dirA, "a1"))),
          Seq((dirB, writer(dirB, "b1")))))
      }
      assert(e.getMessage.contains("could not stage"), e.getMessage)
    } finally FaultFs.reset()
    assert(spark.read.parquet(dirA).head().getString(1) == "a0",
      "already-swapped table a was not reversed")
    assert(spark.read.parquet(dirB).head().getString(1) == "b0")
    val residue = new java.io.File(base).listFiles()
      .map(_.getName).filter(n => n.contains(".tmp-") || n.contains(".old-"))
    assert(residue.isEmpty, s"residue: ${residue.mkString(",")}")
    // renames healthy again: the same swap lands
    Writers.replaceInPlaceAllStagedGrouped(Seq(
      Seq((dirA, writer(dirA, "a1"))), Seq((dirB, writer(dirB, "b1")))))
    assert(spark.read.parquet(dirA).head().getString(1) == "a1")
    assert(spark.read.parquet(dirB).head().getString(1) == "b1")
  }

  test("swap phase: a failed move-in rename restores the in-flight table and reverses the rest") {
    // table c is NEW (no previous data); its tmp->dst move-in fails after
    // a (existing) fully swapped — rollback restores a's previous data,
    // c must not exist, and no residue survives. The in-flight-entry
    // guard (restore-before-throw) is also exercised on an EXISTING b
    // whose move-in fails after b was staged aside.
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    val base = Files.createTempDirectory("swapfault2").toString
    val (dirA, dirB, dirC) =
      (s"faultfs://$base/a", s"faultfs://$base/b", s"faultfs://$base/c")
    Seq((1L, "a0")).toDF("id", "v").write.parquet(dirA)
    Seq((1L, "b0")).toDF("id", "v").write.parquet(dirB)
    def writer(dst: String, value: String): Map[String, String] => Unit =
      tmps => Seq((1L, value)).toDF("id", "v").write.parquet(tmps(dst))
    // arm 1: EXISTING table b's move-in fails (b already staged aside)
    try {
      FaultFs.failWhen = (src, dst) =>
        src.getName.startsWith("b.tmp-") && dst.getName == "b"
      val e = intercept[RuntimeException] {
        Writers.replaceInPlaceAllStagedGrouped(Seq(
          Seq((dirA, writer(dirA, "a1"))),
          Seq((dirB, writer(dirB, "b1")))))
      }
      assert(e.getMessage.contains("could not move new data"), e.getMessage)
    } finally FaultFs.reset()
    assert(spark.read.parquet(dirA).head().getString(1) == "a0")
    assert(spark.read.parquet(dirB).head().getString(1) == "b0",
      "in-flight table b was left staged aside")
    // arm 2: NEW table c's move-in fails (nothing to restore for c)
    try {
      FaultFs.failWhen = (src, dst) =>
        src.getName.startsWith("c.tmp-") && dst.getName == "c"
      intercept[RuntimeException] {
        Writers.replaceInPlaceAllStagedGrouped(Seq(
          Seq((dirA, writer(dirA, "a1"))),
          Seq((dirC, writer(dirC, "c1")))))
      }
    } finally FaultFs.reset()
    assert(spark.read.parquet(dirA).head().getString(1) == "a0")
    assert(!new java.io.File(s"$base/c").exists(),
      "a rolled-back CREATION must leave no destination")
    val residue = new java.io.File(base).listFiles()
      .map(_.getName).filter(n => n.contains(".tmp-") || n.contains(".old-"))
    assert(residue.isEmpty, s"residue: ${residue.mkString(",")}")
  }

  test("writeStringAtomic: a failed landing preserves the new content at the temp name") {
    // the clobber-retry path (no-clobber store + rename fault): the old
    // file is already removed, so the temp MUST survive as the only
    // copy — deleting it too would destroy a PHI registry outright
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    val base = Files.createTempDirectory("wsa").toString
    val path = s"faultfs://$base/reg.toml"
    graft.sinks.DbFs.writeStringAtomic(path, "v1")
    assert(graft.sinks.DbFs.readString(path).contains("v1"))
    try {
      FaultFs.failWhen = (_, dst) => dst.getName == "reg.toml"
      val e = intercept[RuntimeException](
        graft.sinks.DbFs.writeStringAtomic(path, "v2"))
      assert(e.getMessage.contains("preserved at"), e.getMessage)
    } finally FaultFs.reset()
    val tmp = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith(".reg.toml.tmp-"))
    assert(tmp.nonEmpty, "surviving temp copy missing")
    assert(java.nio.file.Files.readString(tmp.head.toPath) == "v2")
    // healthy renames: the write lands and replaces
    graft.sinks.DbFs.writeStringAtomic(path, "v3")
    assert(graft.sinks.DbFs.readString(path).contains("v3"))
  }

  test("compactPartitionDir: rename faults never lose the partition") {
    // per-partition compaction is the 100 TB compact path; a failed
    // rename must not leave the partition stranded at <root>.<dir>.old-*
    // (invisible to partition discovery = silent data loss for the chrom)
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    val base = Files.createTempDirectory("compfault").toString
    val root = s"faultfs://$base/t"
    (1 to 3).foreach { i =>
      Seq((i.toLong, "chr1")).toDF("pos", "chrom")
        .coalesce(1).write.mode("append").partitionBy("chrom").parquet(root)
    }
    val before = spark.read.parquet(root).orderBy("pos").collect().toSeq
    def residue(): Seq[String] = new java.io.File(base).listFiles()
      .map(_.getName).filter(n => n.contains(".tmp-") || n.contains(".old-")).toSeq
    // arm 1: the stage-aside rename fails — nothing moved yet
    try {
      FaultFs.failWhen = (src, dst) =>
        src.getName == "chrom=chr1" && dst.getName.contains(".old-")
      val e = intercept[RuntimeException](Writers.compactPartitionDir(
        spark, root, "chrom=chr1", 128, Seq("pos")))
      assert(e.getMessage.contains("could not stage"), e.getMessage)
    } finally FaultFs.reset()
    assert(spark.read.parquet(root).orderBy("pos").collect().toSeq == before)
    assert(residue().isEmpty, residue().mkString(","))
    // arm 2: the move-in rename fails AFTER the partition was staged
    // aside — the guard must put the old data back
    try {
      FaultFs.failWhen = (src, dst) =>
        src.getName.contains(".tmp-") && dst.getName == "chrom=chr1"
      val e = intercept[RuntimeException](Writers.compactPartitionDir(
        spark, root, "chrom=chr1", 128, Seq("pos")))
      assert(e.getMessage.contains("could not move new data"), e.getMessage)
    } finally FaultFs.reset()
    assert(spark.read.parquet(root).orderBy("pos").collect().toSeq == before,
      "partition content lost across a rolled-back compaction")
    assert(residue().isEmpty, residue().mkString(","))
    // healthy renames: compaction lands, content identical, fewer files
    Writers.compactPartitionDir(spark, root, "chrom=chr1", 128, Seq("pos"))
    assert(spark.read.parquet(root).orderBy("pos").collect().toSeq == before)
    val files = new java.io.File(s"$base/t/chrom=chr1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 compacted file, saw $files")
  }

  test("grouped staging: a failure inside the concurrent group leaves all destinations untouched") {
    // the load stages [[variants], [rsid_idx, gene_idx]] — the second
    // group runs its writers concurrently. A failure of either
    // concurrent writer (while its sibling may have fully staged) must
    // leave every destination untouched and clean every temp, exactly
    // like the sequential contract.
    val base = Files.createTempDirectory("swapgrp").toString
    val (dirA, dirB, dirC) = (s"$base/a", s"$base/b", s"$base/c")
    Seq((1L, "a0")).toDF("id", "v").write.parquet(dirA)
    Seq((1L, "b0")).toDF("id", "v").write.parquet(dirB)
    Seq((1L, "c0")).toDF("id", "v").write.parquet(dirC)
    def writer(value: String): Map[String, String] => Unit = { tmps =>
      val dst = value match {
        case "a1" => dirA; case "b1" => dirB; case _ => dirC
      }
      Seq((1L, value)).toDF("id", "v").write.parquet(tmps(dst))
    }
    intercept[RuntimeException] {
      Writers.replaceInPlaceAllStagedGrouped(Seq(
        Seq((dirA, writer("a1"))),
        Seq(
          (dirB, writer("b1")),
          (dirC, { _: Map[String, String] =>
            sys.error("boom: concurrent sibling fails") }))))
    }
    Seq(dirA -> "a0", dirB -> "b0", dirC -> "c0").foreach { case (d, v) =>
      assert(spark.read.parquet(d).head().getString(1) == v, d)
    }
    val residue = new java.io.File(base).listFiles()
      .map(_.getName).filter(n => n.contains(".tmp-") || n.contains(".old-"))
    assert(residue.isEmpty, s"residue: ${residue.mkString(",")}")

    // happy path: sequential head group, concurrent tail group, all land
    Writers.replaceInPlaceAllStagedGrouped(Seq(
      Seq((dirA, writer("a1"))),
      Seq((dirB, writer("b1")), (dirC, writer("c1")))))
    Seq(dirA -> "a1", dirB -> "b1", dirC -> "c1").foreach { case (d, v) =>
      assert(spark.read.parquet(d).head().getString(1) == v, d)
    }
  }
}

class AnnotationLoaderSpec extends SparkSpec {
  import spark.implicits._
  import graft.ingest.AnnotationLoader

  test("echtvar JSON config parse with type inference") {
    val f = Files.createTempFile("cfg", ".json")
    Files.writeString(f,
      """[
        |{"field": "AC", "alias": "gnomad_ac"},
        |{"field": "AF", "alias": "gnomad_af", "multiplier": 2000000},
        |{"field": "FILTER", "alias": "gnomad_filter", "missing_string": "PASS"}
        |]""".stripMargin)
    val cfg = AnnotationLoader.loadFieldConfig(f.toString)
    assert(cfg.map(_.alias) == Seq("gnomad_ac", "gnomad_af", "gnomad_filter"))
    assert(cfg(0).fieldType == "Integer")
    assert(cfg(1).fieldType == "Float" && cfg(1).multiplier == 2000000)
    assert(cfg(2).fieldType == "String" && cfg(2).missingString == "PASS")
    val schema = AnnotationLoader.schemaFor(cfg)
    assert(schema.fieldNames.toSeq ==
      Seq("chrom", "pos", "ref", "alt", "gnomad_ac", "gnomad_af", "gnomad_filter"))
  }

  test("FILTER field default missing_string is '.', not PASS (reference truthiness)") {
    // `_extract_field_value` returns `missing_string or "PASS"` for a
    // PASS/'.'-filtered record — the default missing_string "." is
    // TRUTHY in that expression, so only an explicitly empty
    // missing_string ever yields "PASS"
    val f = Files.createTempFile("cfg", ".json")
    Files.writeString(f,
      """[{"field": "FILTER", "alias": "f_default"}]""")
    val cfgDefault = AnnotationLoader.loadFieldConfig(f.toString)
    assert(cfgDefault.head.missingString == ".")
    val vcf = Files.createTempFile("ann", ".vcf")
    Files.writeString(vcf,
      """##fileformat=VCFv4.2
        |##INFO=<ID=AC,Number=A,Type=Integer,Description="ac">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO
        |chr1	100	.	A	G	50	PASS	AC=3
        |chr1	200	.	C	T	50	lowq	AC=4
        |""".stripMargin)
    val annoD = AnnotationLoader.load(spark, vcf.toString, cfgDefault)
    val byPos = annoD.collect().map(r =>
      r.getAs[Long]("pos") -> r.getAs[String]("f_default")).toMap
    assert(byPos(100L) == ".", s"default missing_string must serve '.': $byPos")
    assert(byPos(200L) == "lowq")
    // explicitly empty missing_string is the one PASS fallback
    Files.writeString(f,
      """[{"field": "FILTER", "alias": "f_empty", "missing_string": ""}]""")
    val annoE = AnnotationLoader.load(spark, vcf.toString,
      AnnotationLoader.loadFieldConfig(f.toString))
    val byPosE = annoE.collect().map(r =>
      r.getAs[Long]("pos") -> r.getAs[String]("f_empty")).toMap
    assert(byPosE(100L) == "PASS")
  }

  test("annotation source load from VCF with aliases and dedup") {
    val f = Files.createTempFile("cfg", ".json")
    Files.writeString(f,
      """[{"field": "AC", "alias": "src_ac"}, {"field": "AF", "alias": "src_af", "multiplier": 10}]""")
    val cfg = AnnotationLoader.loadFieldConfig(f.toString)
    val anno = AnnotationLoader.load(spark, fixture("gnomad_subset.vcf.gz"), cfg)
      .cache()
    assert(anno.columns.toSeq == Seq("chrom", "pos", "ref", "alt", "src_ac", "src_af"))
    assert(anno.count() > 0)
    assert(anno.filter($"src_af".isNotNull).count() > 0)
    // J1: fold-join against variants via Annotator
    val v = graft.vcf.VcfReader.variants(spark, fixture("gnomad_subset.vcf.gz"))
      .select($"chrom", $"pos", $"ref", $"alt", $"rs_id").limit(100)
    val annotated = graft.query.Annotator.annotate(v,
      Seq(graft.query.Annotator.Source("gnomad", anno, Seq("src_ac", "src_af"))),
      filterExpr = Some("src_af IS NOT NULL"))
    assert(annotated.count() > 0)
    assert(annotated.columns.contains("src_af"))
  }
}

class AuditHashFidelitySpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.audit.Audit

  test("entryHash \\uXXXX-escapes non-ASCII and serializes details like json.dumps") {
    // differential vector produced with CPython:
    // json.dumps({...}, separators=(', ', ': ')) -> sha256
    val h = Audit.entryHash(
      "2024-01-01T00:00:00", "load", "Jos\u00e9 \ud83d\ude00", "acc\u00e8s",
      success = true, previousHash = "0" * 64, details = Seq("k" -> "v\u00fc"))
    assert(h == "07ce74039c145cef474a2a0a42e9384065099b533f4f6dcb2ea2cc4c739887ca")
  }
}

class PhiSanitizerSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.transform.PhiSanitizer

  test("redacts SSN/MRN/emails/dates, preserves structural lines") {
    val lines = Seq(
      "##fileformat=VCFv4.2",
      "##sample=<ID=S1,Contact=jane.doe@hospital.org,MRN:12345>",
      "##note=patient_id:P-998 visited on 03/15/2021",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">")
    val r = PhiSanitizer.sanitizeHeader(lines)
    assert(r.lines(0) == lines(0))                      // preserved
    assert(r.lines(3) == lines(3))                      // preserved prefix
    assert(!r.lines(1).contains("jane.doe@hospital.org"))
    assert(!r.lines(1).contains("12345"))
    assert(!r.lines(2).contains("03/15/2021"))
    assert(r.redactions.map(_.category).toSet.intersect(
      Set("email", "mrn", "patient_id", "date_us")).size >= 3)
  }

  test("scans INFO/FORMAT descriptions; preserves ID=reference/assembly lines") {
    val lines = Seq(
      "##INFO=<ID=X,Number=1,Type=String,Description=\"from /home/jdoe/run1/ by jane@lab.org\">",
      "##genome=<ID=reference,File=/home/jdoe/genomes/hg19.fa>",
      "##contig=<ID=1,length=249250621,assembly=b37>",
      "##GATKCommandLine=<CommandLine=\"-I /home/jdoe/p.bam\",Version=4>")
    val r = PhiSanitizer.sanitizeHeader(lines)
    assert(!r.lines(0).contains("/home/jdoe/"))          // INFO Description scanned
    assert(!r.lines(0).contains("jane@lab.org"))
    assert(r.lines(1) == lines(1))                       // ID=reference preserved
    assert(r.lines(2) == lines(2))                       // assembly preserved
    assert(r.lines(3) == "##GATKCommandLine=<[REDACTED]>") // both sub forms apply, like the reference
  }

  test("preserve is exact-field, and CommandLine lines still get the pattern scan") {
    // 'ID=ReferenceBias' must NOT ride the id=reference preserve check
    // (the reference's substring test lets it leak), and a bare unquoted
    // CommandLine value must still face the builtin patterns (the
    // reference returns early and leaks it wholesale)
    val lines = Seq(
      "##INFO=<ID=ReferenceBias,Description=\"contact jsmith@hospital.org\">",
      "##source_CommandLine=bwa mem /home/jsmith/ref.fa MRN:12345")
    val r = PhiSanitizer.sanitizeHeader(lines)
    assert(!r.lines(0).contains("jsmith@hospital.org"),
      s"substring preserve leaked: ${r.lines(0)}")
    assert(!r.lines(1).contains("/home/jsmith"), s"leaked: ${r.lines(1)}")
    assert(!r.lines(1).contains("12345"), s"leaked: ${r.lines(1)}")
  }

  test("pattern registry TOML round-trips hostile strings (seeded fuzz)") {
    // the registry's hand-rolled TOML quote/unquote must survive
    // whatever lands in names/descriptions/patterns — backslashes,
    // quotes, tabs, '=' signs, '#', unicode — across an append-reload
    // cycle, including multiple appends to one file. Patterns are
    // Pattern.quote-wrapped so arbitrary content stays compilable.
    val rnd = new scala.util.Random(20260814L)
    val alphabet =
      "ab \\\"\t=#[]ü€Ω'_-.,:;()"
    def randStr(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 25).foreach { _ =>
      val dir = java.nio.file.Files.createTempDirectory("phitoml")
      val cfg = dir.resolve("reg.toml").toString
      val entries = (1 to 1 + rnd.nextInt(4)).map { i =>
        val name = s"p$i" + randStr(rnd.nextInt(8)).replaceAll("[\t\n\r]", "_")
        val pattern = java.util.regex.Pattern.quote(randStr(1 + rnd.nextInt(12)))
        val sev = PhiSanitizer.Severities(rnd.nextInt(4))
        val desc = randStr(rnd.nextInt(20))
        val ci = rnd.nextBoolean()
        graft.transform.PhiPatternRegistry.append(cfg, name, pattern, sev, desc, ci)
        (name, pattern, sev, desc, ci)
      }
      val back = graft.transform.PhiPatternRegistry.load(cfg)
      assert(back.length == entries.length, s"entry count drifted: $cfg")
      back.zip(entries).foreach { case (got, (name, pattern, sev, desc, ci)) =>
        assert(got.name == name, s"name drifted: '${got.name}' vs '$name'")
        val expectRe = if (ci) "(?i)" + pattern else pattern
        assert(got.regex.pattern.pattern == expectRe,
          s"pattern drifted: '${got.regex.pattern.pattern}' vs '$expectRe'")
        assert(got.severity == sev)
        assert(got.description == desc,
          s"description drifted: '${got.description}' vs '$desc'")
      }
    }
    // validation errors still fire through the same path
    val dir = java.nio.file.Files.createTempDirectory("phitomlv")
    val cfg = dir.resolve("reg.toml").toString
    val e1 = intercept[RuntimeException](
      graft.transform.PhiPatternRegistry.append(cfg, "x", "a(", "high", ""))
    assert(e1.getMessage.contains("Invalid regex"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      graft.transform.PhiPatternRegistry.append(cfg, "x", "a", "urgent", ""))
    assert(e2.getMessage.contains("Invalid severity"), e2.getMessage)
  }

  test("registry parses hand-edited TOML: inline comments honored, malformed lines loud") {
    // a trailing comment after a quoted value is a comment, not content
    // (naively keeping the raw value would compile a regex that includes
    // the quotes and comment and silently matches nothing)
    val dir = java.nio.file.Files.createTempDirectory("phitomlhand")
    val cfg = dir.resolve("reg.toml")
    java.nio.file.Files.writeString(cfg,
      """[[patterns]]
        |name = "edited"   # added by hand
        |pattern = "X-\d+" # catches export tokens
        |severity = "high"
        |description = "value with # inside stays intact"
        |case_insensitive = true # yes
        |""".stripMargin)
    val back = graft.transform.PhiPatternRegistry.load(cfg.toString)
    assert(back.length == 1)
    assert(back.head.name == "edited")
    assert(back.head.regex.pattern.pattern == "(?i)X-\\d+",
      back.head.regex.pattern.pattern)
    assert(back.head.description == "value with # inside stays intact")
    assert(back.head.regex.findFirstIn("sample X-123 here").isDefined)
    // unterminated string and trailing garbage error loudly, as the
    // reference's from_dict validation would
    java.nio.file.Files.writeString(cfg,
      "[[patterns]]\nname = \"broken\npattern = \"x\"\nseverity = \"high\"\n")
    val e1 = intercept[RuntimeException](
      graft.transform.PhiPatternRegistry.load(cfg.toString))
    assert(e1.getMessage.contains("Unterminated"), e1.getMessage)
    java.nio.file.Files.writeString(cfg,
      "[[patterns]]\nname = \"x\" junk\npattern = \"x\"\nseverity = \"high\"\n")
    val e2 = intercept[RuntimeException](
      graft.transform.PhiPatternRegistry.load(cfg.toString))
    assert(e2.getMessage.contains("Trailing content"), e2.getMessage)
  }

  test("full builtin registry: all 18 reference patterns present and firing") {
    // one positive probe per pattern added for phi/patterns.py parity
    // (the registry carries every reference builtin, each with its
    // reference severity)
    assert(PhiSanitizer.BuiltinRegistry.length == 18)
    val probes = Seq(
      ("credit_card", "card 4111-1111-1111-1111 on file", "critical"),
      ("home_path_windows", """log at C:\Users\jdoe\run1.log""", "medium"),
      ("institution_hospital", "treated at Mayo Clinic in 2019", "medium"),
      ("name_field", "patient_name:John contact", "critical"),
      ("address_field", "zip_code:02115", "high"),
      ("fax", "fax:617-555-0199", "high"),
      ("device_id", "device_id:SN-8812", "medium"))
    probes.foreach { case (cat, text, sev) =>
      val hits = PhiSanitizer.scanValue(text, "T")
      assert(hits.exists(_.category == cat), s"$cat missed in: $text")
      assert(PhiSanitizer.severityOf(cat, PhiSanitizer.BuiltinRegistry) == sev)
    }
    // sanitize redacts through the same registry
    val (out, reds) = PhiSanitizer.sanitizeLine(
      "##note=patient_name:Doe fax:555-0100 at Johns Hopkins")
    assert(reds.map(_.category).toSet
      .intersect(Set("name_field", "fax", "institution_hospital")).size == 3, reds)
    assert(!out.contains("Doe"), out)
  }
}
