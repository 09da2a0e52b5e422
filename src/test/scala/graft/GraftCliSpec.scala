package graft

import java.nio.file.Files

/** End-to-end CLI verbs over a temp parquet database: load → validate →
  * idempotent reload skip → import-pgs → export-plink. */
class GraftCliSpec extends SparkSpec {
  import spark.implicits._

  /** Replace the variants table ALONE, leaving its projections as they
    * are — an out-of-band rewrite. */
  private def variantsOnly(db: String, rows: org.apache.spark.sql.DataFrame): Unit =
    graft.sinks.WritePlan.rewrite(spark, graft.sinks.WritePlan.Family(
      graft.sinks.WritePlan.Sink(s"$db/variants",
        graft.sinks.Writers.writeVariants(_, _, _))), rows)

  test("load / skip-reload / validate / import-pgs / export round trip") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = fixture("hapmap3_overlap.vcf")

    Graft.run(spark, Array("load", vcf, "--db", db))
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == 10)
    assert(v.columns.contains("variant_id"))
    // chrom partitioning on disk (K1)
    assert(new java.io.File(s"$db/variants/chrom=chr1").exists())
    // K1b/K1c: the load maintains the rsID projection and the driver-side
    // point-lookup face answers through it (no Spark job)
    assert(new java.io.File(s"$db/rsid_idx").exists())
    Graft.run(spark, Array("lookup", "chr1:752566", "--db", db))
    Graft.run(spark, Array("lookup", "1:752566", "--db", db)) // bare name falls back to chr1
    Graft.run(spark, Array("lookup", "rs3094315", "--db", db))
    // region form serves driver-side and prints every row in range
    val rOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(rOut)) {
      Graft.run(spark, Array("lookup", "chr1:752000-753000", "--db", db))
    }
    assert(rOut.toString.linesIterator.count(_.contains("pos=")) ==
      v.filter($"chrom" === "chr1" && $"pos".between(752000L, 753000L)).count())
    assert(graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", "rs3094315")
      .exists(_("pos") == "752566"))

    // idempotent reload: same file hash → skip (completed ledger row
    // exists; the load also wrote its up-front in_progress row)
    Graft.run(spark, Array("load", vcf, "--db", db))
    val ledger1 = spark.read.parquet(s"$db/ledger")
    assert(ledger1.filter($"status" === "completed").count() == 1)
    assert(ledger1.filter($"status" === "in_progress").count() == 1)

    // validate reports both covering projections fresh after the load's
    // atomic swap (STALE would mean the indexes missed the swap)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(vOut.toString.contains("rsid_idx: ok"), vOut.toString)
    assert(!vOut.toString.contains("STALE"), vOut.toString)

    // hapmap3 flagging pass; the printed count must equal the stored
    // truth (an observe() on the range-partitioned write double-counts
    // via the boundary-sampling pass — this guards the count source)
    val captured = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(captured)) {
      Graft.run(spark, Array("load-reference", fixture("hapmap3_test.tsv"), "--db", db))
    }
    val flagged = spark.read.parquet(s"$db/variants")
    val nFlagged = flagged.filter($"in_hapmap3").count()
    assert(nFlagged >= 5)
    assert(captured.toString.contains(s"flagged in_hapmap3=$nFlagged"),
      s"printed count disagrees with store: ${captured.toString.trim}")

    // PGS weights match against loaded variants
    Graft.run(spark, Array("import-pgs", fixture("pgs_test_beta.txt"), "--db", db))
    val w = spark.read.parquet(s"$db/prs_weights")
    assert(w.count() > 0)

    // export via the gwas path needs gwas_stats; use import-pgs output as
    // a stats stand-in is not the contract — exercise export directly:
    val stats = w.select($"variant_id", $"effect_allele", $"other_allele",
      $"effect_weight".as("beta"))
      .withColumn("standard_error", org.apache.spark.sql.functions.lit(0.01))
      .withColumn("p_value", org.apache.spark.sql.functions.lit(1e-8))
    val out = graft.export.PrsFormats.plinkScore(stats,
      flagged.select($"variant_id", $"chrom", $"pos", $"rs_id"))
    assert(out.columns.toSeq == Seq("SNP", "A1", "BETA"))
    assert(out.count() > 0)
  }

  test("load stages rsID and gene indexes atomically; gene lookups serve from the covering projection") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcfDir = Files.createTempDirectory("annvcf")
    val vcf = vcfDir.resolve("ann.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 3000, seed = 19L, annFrac = 0.6)
    Graft.run(spark, Array("load", vcf, "--db", db))
    // both secondary projections exist, committed in the SAME swap as the
    // variants table (no .tmp-/.old- leftovers)
    assert(new java.io.File(s"$db/rsid_idx").exists())
    assert(new java.io.File(s"$db/gene_idx").exists())
    assert(!new java.io.File(db).listFiles()
      .exists(f => f.getName.contains(".tmp-") || f.getName.contains(".old-")))
    // gene lookup answers from the covering index with the INCLUDE columns
    val v = spark.read.parquet(s"$db/variants")
    val g = v.filter($"gene".isNotNull).select($"gene").head().getString(0)
    val hits = graft.query.PointLookup.byGene(spark, s"$db/gene_idx", g)
    assert(hits.nonEmpty)
    assert(hits.length == v.filter($"gene" === g).count())
    assert(hits.forall(h => h.contains("impact") || h.contains("consequence")))
    Graft.run(spark, Array("lookup", s"gene:$g", "--db", db))
    // CLI validation: a missing key and a non-numeric position both give
    // the usage-style error, not a raw NumberFormatException
    val e1 = intercept[RuntimeException] {
      Graft.run(spark, Array("lookup", "--db", db))
    }
    assert(e1.getMessage.contains("lookup expects"))
    val e2 = intercept[RuntimeException] {
      Graft.run(spark, Array("lookup", "chr1:12,345", "--db", db))
    }
    assert(e2.getMessage.contains("numeric position"))
  }

  test("post-load variant rewrites keep both covering projections fresh") {
    // the rsID projection is a COVERING full-row copy: a variants rewrite
    // that skips the index rebuild would leave `lookup rsX` serving stale
    // flag/popmax/LD columns. All three post-load rewrite verbs must stage
    // the index rebuilds in the same atomic swap (reference: transactional
    // index maintenance, `references/hapmap3.py:53-107`).
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    val pre = graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", "rs3094315")
    assert(pre.nonEmpty && !pre.exists(_.contains("in_hapmap3")))

    Graft.run(spark, Array("load-reference", fixture("hapmap3_test.tsv"), "--db", db))
    val afterFlag = graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", "rs3094315")
    assert(afterFlag.exists(_.get("in_hapmap3").contains("true")),
      s"stale rsID projection after load-reference: $afterFlag")

    Graft.run(spark, Array("annotate-ld-blocks",
      fixture("ld_blocks_eur_grch37.bed"), "--db", db))
    val afterLd = graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", "rs3094315")
    // chr1:752566 sits in EUR block [10583, 1892607] — the served row now
    // carries the (content-derived) block id the store was just assigned
    val wantBlock = spark.read.parquet(s"$db/variants")
      .filter($"rs_id" === "rs3094315").head()
      .getAs[Long]("ld_block_id").toString
    assert(afterLd.exists(_.get("ld_block_id").contains(wantBlock)),
      s"stale rsID projection after annotate-ld-blocks: $afterLd")
    // the earlier verb's column survives the later rewrite
    assert(afterLd.exists(_.get("in_hapmap3").contains("true")))

    // validate agrees: both projections content-fresh after the rewrites
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(vOut.toString.contains("rsid_idx: ok"), vOut.toString)
    assert(vOut.toString.contains("gene_idx: ok"), vOut.toString)
    assert(!vOut.toString.contains("STALE"), vOut.toString)
  }

  test("validate detects content drift that preserves row counts") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    // out-of-band rewrite: identical rows except one SERVED column — the
    // exact drift a count-only freshness check cannot see
    val tweaked = spark.read.parquet(s"$db/variants")
      .withColumn("qual", $"qual" + org.apache.spark.sql.functions.lit(1000.0))
    variantsOnly(db, tweaked)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(vOut.toString.contains(
      "rsid_idx: STALE (row counts match but served content"), vOut.toString)
    // --rebuild repairs the stale projections in place from the live
    // store; a subsequent validate is clean and the probe serves the
    // rewritten column
    val rOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(rOut)) {
      Graft.run(spark, Array("validate", "--db", db, "--rebuild"))
    }
    assert(rOut.toString.contains("rebuilt rsid_idx"), rOut.toString)
    val vOut2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut2)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(!vOut2.toString.contains("STALE"), vOut2.toString)
    val hit = graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", "rs3094315")
    assert(hit.exists(_.get("qual").exists(_.toDouble > 1000.0)), hit.toString)
  }

  test("compact rewrites appended genotypes into sized files and rebuilds projections") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcfDir = Files.createTempDirectory("compactvcf")
    // two distinct sample-bearing files → two genotype APPENDS
    val vcfA = vcfDir.resolve("a.vcf").toString
    val vcfB = vcfDir.resolve("b.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfA, 500, seed = 23L)
    graft.vcf.SyntheticVcf.write(vcfB, 500, seed = 29L)
    Graft.run(spark, Array("load", vcfA, "--db", db, "--store-genotypes"))
    Graft.run(spark, Array("load", vcfB, "--db", db, "--store-genotypes"))
    val g0 = spark.read.parquet(s"$db/genotypes").count()
    val v0 = spark.read.parquet(s"$db/variants").count()
    // genotypes are hive-partitioned by chrom from the first append (the
    // variants layout) — per-chrom parquet file counts:
    def genoFiles(): Map[String, Int] =
      new java.io.File(s"$db/genotypes").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("chrom="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    val files0 = genoFiles()
    assert(files0.nonEmpty, "genotypes not hive-partitioned by chrom")
    assert(files0.values.sum > files0.size,
      s"expected append fragmentation across loads, got $files0")
    Graft.run(spark, Array("compact", "--db", db, "--target-file-mb", "128"))
    // counts stable, each chrom directory folded to the size-derived file
    // count (1 at this scale), variants still chrom-partitioned + indexes
    // rebuilt
    assert(spark.read.parquet(s"$db/genotypes").count() == g0)
    assert(genoFiles().values.forall(_ == 1), s"not folded: ${genoFiles()}")
    // compaction clusters genotypes on (chrom, pos): each chrom's single
    // compacted file reads back pos-ordered, so min/max stats prune
    // region scans and the driver-side probe
    genoFiles().keys.foreach { d =>
      val ps = spark.read.parquet(s"$db/genotypes/$d")
        .select($"pos").collect().map(_.getLong(0))
      assert(ps.toSeq == ps.toSeq.sorted, s"compacted genotypes $d not clustered")
    }
    assert(spark.read.parquet(s"$db/variants").count() == v0)
    assert(new java.io.File(s"$db/variants/chrom=chr1").exists())
    assert(new java.io.File(s"$db/rsid_idx").exists())
    val rs = spark.read.parquet(s"$db/variants")
      .filter($"rs_id".isNotNull).select($"rs_id").head().getString(0)
    assert(graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", rs).nonEmpty)
    // --compact on load folds the genotype rewrite into the load itself
    val vcfC = vcfDir.resolve("c.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfC, 500, seed = 31L)
    Graft.run(spark, Array("load", vcfC, "--db", db, "--compact", "--store-genotypes"))
    assert(genoFiles().values.forall(_ == 1), s"not folded: ${genoFiles()}")
    assert(spark.read.parquet(s"$db/genotypes").count() > g0)
  }

  test("numeric-contig cohort (--no-human-genome) appends a chrX batch " +
       "without nulling chrom") {
    // an all-numeric chrom layout ("chrom=1","chrom=2") would read back
    // as an INTEGER partition column under default partition-type
    // inference; aligning a later 'X'-contig batch to that schema casts
    // 'X' to null — every row lands in the null partition, unreachable
    // by any chrom-scoped probe, while counts still reconcile. The CLI
    // disables inference (chrom stays string) and canAppend refuses
    // lossy type casts, so the batch must land probeable under chrom=X.
    val db = Files.createTempDirectory("graftdb").toString
    val dir = Files.createTempDirectory("numvcf")
    def writeVcf(name: String, lines: Seq[String]): String = {
      val p = dir.resolve(name)
      val hdr = Seq("##fileformat=VCFv4.2",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
      java.nio.file.Files.write(p,
        (hdr ++ lines).mkString("\n").getBytes("UTF-8"))
      p.toString
    }
    val vcfNum = writeVcf("num.vcf", Seq(
      "1\t100\t.\tA\tG\t50\tPASS\tDP=10",
      "1\t200\t.\tC\tT\t50\tPASS\tDP=11",
      "2\t300\t.\tG\tA\t50\tPASS\tDP=12"))
    val vcfX = writeVcf("x.vcf", Seq(
      "X\t500\t.\tT\tC\t50\tPASS\tDP=13"))
    Graft.run(spark, Array("load", vcfNum, "--db", db, "--no-human-genome"))
    assert(new java.io.File(s"$db/variants/chrom=1").exists())
    val beforeFiles = new java.io.File(s"$db/variants/chrom=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length())
      .toMap
    Graft.run(spark, Array("load", vcfX, "--db", db, "--no-human-genome"))
    // no row fell into the null partition; the X batch is where it belongs
    assert(!new java.io.File(
      s"$db/variants/chrom=__HIVE_DEFAULT_PARTITION__").exists(),
      "chrX rows were null-cast into the default partition")
    assert(new java.io.File(s"$db/variants/chrom=X").exists())
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == 4)
    assert(v.filter($"chrom".cast("string") === "X").count() == 1)
    // the load APPENDED (prior batch's files untouched), not rewrote
    val afterFiles = new java.io.File(s"$db/variants/chrom=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length())
      .toMap
    assert(afterFiles == beforeFiles,
      "numeric-contig append rewrote the existing store")
    // and the driver-side probe serves the X row
    assert(graft.query.PointLookup.byPosition(
      spark, s"$db/variants", "X", 500L).nonEmpty)
  }

  test("validate <batch-id> reports one batch and fails on unknown ids") {
    // the reference's validate face takes a load batch UUID and checks
    // that batch alone: status, expected-vs-actual count, in-batch
    // duplicates, nonzero exit on failure (`cli.py:511-575`)
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("multiallelic.vcf"), "--db", db))
    val batchId = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed")
      .select($"load_batch_id").head().getString(0)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Graft.run(spark, Array("validate", batchId, "--db", db))
    }
    val s = out.toString
    assert(s.contains(s"Load Batch: $batchId"), s)
    assert(s.contains("Status: completed"), s)
    assert(s.contains("Duplicates: 0"), s)
    assert(s.contains("Validation passed"), s)
    val e = intercept[RuntimeException] {
      Graft.run(spark, Array("validate", "no-such-batch", "--db", db))
    }
    assert(e.getMessage.contains("Load batch not found"), e.getMessage)
  }

  test("concurrent loads into one db serialize on the writer lock (§2.13)") {
    // the reference serializes mutations at Postgres (every load runs in
    // a transaction; concurrent writers queue on its locks) — two
    // simultaneous `load`s of different files both land. The parquet
    // store serializes on Audit.withDbWriterLock instead; without it the
    // two threads race the append-vs-rewrite decision on a fresh db and
    // interleave their ledger/audit appends.
    val db = Files.createTempDirectory("graftdb").toString
    val vcfA = fixture("multiallelic.vcf")      // 8 decomposed variants
    val vcfB = fixture("with_annotations.vcf")  // 4 variants
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(vcfA, vcfB).map { vcf =>
      new Thread(() => {
        start.await()
        try Graft.run(spark, Array("load", vcf, "--db", db))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"concurrent load failed: ${errs.peek()}")
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == 12, s"both batches must land (got ${v.count()})")
    assert(v.select($"load_batch_id").distinct().count() == 2)
    // ledger holds one completed row per file, each with its own count
    val ledger = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed")
      .select($"n_variants").collect().map(_.getLong(0)).sorted
    assert(ledger.toSeq == Seq(4L, 8L), s"ledger ${ledger.toSeq}")
    // the audit chain did not fork: ids are unique and the chain verifies
    val audit = spark.read.parquet(s"$db/audit_log")
    assert(audit.select($"audit_id").distinct().count() == audit.count())
    Graft.run(spark, Array("audit-verify", "--db", db)) // throws on a fork
  }

  test("multi-file cohort load accumulates batches; per-batch ledger counts (§2.13)") {
    // the round-7 audit's reproduction, pinned: a SECOND different VCF
    // loaded into an existing db must APPEND a new batch (the reference
    // deletes only the same file's prior batch, loader.py:244-252) —
    // before the fix the store was silently replaced by the newest file.
    val db = Files.createTempDirectory("graftdb").toString
    val vcfA = fixture("multiallelic.vcf")      // 8 decomposed variants
    val vcfB = fixture("with_annotations.vcf")  // 4 variants
    Graft.run(spark, Array("load", vcfA, "--db", db, "--store-genotypes"))
    val nA = spark.read.parquet(s"$db/variants").count()
    Graft.run(spark, Array("load", vcfB, "--db", db, "--store-genotypes"))
    val v = spark.read.parquet(s"$db/variants")
    val nAll = v.count()
    assert(nAll > nA, s"second load must grow the store ($nA -> $nAll)")
    assert(v.select($"load_batch_id").distinct().count() == 2)
    // per-batch ledger counts: each completed row records its OWN batch's
    // contribution (reference variants_loaded), not the whole store's
    val ledger = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed")
      .select($"load_batch_id", $"n_variants").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perBatch = v.groupBy($"load_batch_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ledger == perBatch,
      s"ledger per-batch counts $ledger != store $perBatch")
    assert(perBatch.values.sum == nAll)
    // a file-A row still serves through the point-lookup face
    val aOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(aOut)) {
      Graft.run(spark, Array("lookup", "chr1:54712", "--db", db))
    }
    assert(aOut.toString.contains("pos="), s"file-A row lost: ${aOut.toString}")
    // re-load of A still skips — and, unlike before the fix, its rows are
    // actually present while the ledger says so
    val sOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(sOut)) {
      Graft.run(spark, Array("load", vcfA, "--db", db, "--store-genotypes"))
    }
    assert(sOut.toString.contains("skip: file already loaded"), sOut.toString)
    assert(spark.read.parquet(s"$db/variants").count() == nAll)
    // zero orphan genotype sites: every genotype site exists in variants
    val orphans = spark.read.parquet(s"$db/genotypes")
      .select($"chrom", $"pos", $"ref", $"alt").distinct()
      .join(v.select($"chrom", $"pos", $"ref", $"alt").distinct(),
        Seq("chrom", "pos", "ref", "alt"), "left_anti").count()
    assert(orphans == 0, s"$orphans orphan genotype sites")
    // validate scopes dup detection per batch and reconciles each
    // store batch against its ledger row (cli.py:548-570)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(vOut.toString.contains("duplicate_sites=0"), vOut.toString)
    assert(vOut.toString.linesIterator
      .count(l => l.startsWith("batch ") && l.endsWith(" ok")) == 2, vOut.toString)
    assert(!vOut.toString.contains("MISMATCH"), vOut.toString)
    // force-reload of A within the cohort replaces ONLY A's batch: B's
    // rows survive, total count is unchanged, A gets a fresh batch id
    val batchesBefore = v.select($"load_batch_id").distinct()
      .collect().map(_.getString(0)).toSet
    Graft.run(spark, Array("load", vcfA, "--db", db, "--force-reload", "--store-genotypes"))
    val v2 = spark.read.parquet(s"$db/variants")
    assert(v2.count() == nAll)
    val batchesAfter = v2.select($"load_batch_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(batchesAfter.size == 2)
    assert((batchesAfter -- batchesBefore).size == 1,
      s"force-reload must mint one new batch: $batchesBefore -> $batchesAfter")
    assert(v2.filter($"pos" === 54712L).count() == 1, "file-A row missing")
  }

  test("cohort load is O(batch): a second load appends files, never rewrites prior ones") {
    // the 100 TB property of the cohort path: loading one more VCF into
    // an existing db must cost O(that file), so every file written by
    // earlier loads — store AND both covering projections — survives
    // byte-identical; only new files appear. (The reference's INSERTs
    // are O(batch) for the same reason.) A rewrite would show up here as
    // a changed (length, mtime) or a vanished path. Two synthetic VCFs
    // with overlapping pos ranges also pin the serving contracts that
    // disjoint-file layouts used to give for free: probes must read
    // EVERY overlapping file and return pos-sorted results.
    val db = Files.createTempDirectory("graftdb").toString
    val vcfDir = Files.createTempDirectory("cohortvcf")
    val vcfA = vcfDir.resolve("a.vcf").toString
    val vcfB = vcfDir.resolve("b.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfA, 1200, seed = 31L, annFrac = 0.5)
    graft.vcf.SyntheticVcf.write(vcfB, 1200, seed = 32L, annFrac = 0.5)
    Graft.run(spark, Array("load", vcfA, "--db", db))
    def inventory(t: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$db/$t"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val tables = Seq("variants", "rsid_idx", "gene_idx")
    val before = tables.map(t => t -> inventory(t)).toMap
    Graft.run(spark, Array("load", vcfB, "--db", db))
    val after = tables.map(t => t -> inventory(t)).toMap
    before.foreach { case (t, inv) =>
      inv.foreach { case (path, identity) =>
        assert(after(t).get(path).contains(identity),
          s"append-mode load rewrote or removed $path")
      }
    }
    assert(after("variants").size > before("variants").size,
      "second batch must land as new variant files")
    val v = spark.read.parquet(s"$db/variants")
    val batches = v.select($"load_batch_id").distinct()
      .collect().map(_.getString(0))
    assert(batches.length == 2)
    // the projections were APPENDED to, and probes read every
    // overlapping file: a batch-B gene/rsid must serve, with exactly the
    // store's row count for that key (cross-batch union, no file skipped)
    val batchB = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").orderBy($"completed_at".desc)
      .select($"load_batch_id").head().getString(0)
    def checkKey(col: String, idx: String,
                 probe: String => Seq[Map[String, String]]): Unit = {
      val key = v.filter($"load_batch_id" === batchB)
        .filter(v(col).isNotNull).select(v(col)).head().getString(0)
      val hits = probe(key)
      assert(hits.nonEmpty, s"$col=$key not served from appended $idx")
      assert(hits.length == v.filter(v(col) === key).count(),
        s"$col=$key: probe must union every batch's rows")
    }
    checkKey("gene", "gene_idx",
      g => graft.query.PointLookup.byGene(spark, s"$db/gene_idx", g))
    checkKey("rs_id", "rsid_idx",
      r => graft.query.PointLookup.byRsid(
        spark, s"$db/rsid_idx", s"$db/variants", r))
    // region probe across overlapping batch files: complete and pos-sorted
    // (expectations materialized NOW: a DataFrame captured before the
    // compact swap below would read dead files)
    val totalN = v.count()
    val expectedRegion = v.filter($"chrom" === "chr1" &&
      $"pos".between(10000L, 300000L)).count()
    def checkRegion(): Unit = {
      val rows = graft.query.PointLookup.byRegion(
        spark, s"$db/variants", "chr1", 10000L, 300000L)
      assert(rows.length == expectedRegion,
        s"region: ${rows.length} != $expectedRegion")
      val ps = rows.map(_("pos").toLong)
      assert(ps == ps.sorted, "region result must be pos-sorted")
    }
    checkRegion()
    // compact folds the append fragmentation; everything still serves
    Graft.run(spark, Array("compact", "--db", db,
      "--tables", "variants,genotypes,rsid_idx,gene_idx"))
    assert(spark.read.parquet(s"$db/variants").count() == totalN)
    checkRegion()
  }

  test("mixed sample-less / genotyped / --normalize cohort stays on the append path") {
    // The schema-widening trap (reference: the variants table carries
    // EVERY column regardless of the file's FORMAT content, null until
    // filled — `schema.py:110-187`): a sample-less load must produce the
    // SAME store schema as a genotyped one, so loading file A without
    // samples then file B with samples (or mixing --normalize) appends
    // O(batch) instead of tripping the schema-evolution full rewrite.
    val db = Files.createTempDirectory("graftdb").toString
    val vcfDir = Files.createTempDirectory("mixvcf")
    val noSamples = vcfDir.resolve("nosamples.vcf").toString
    val withSamples = vcfDir.resolve("samples.vcf").toString
    val normed = vcfDir.resolve("normed.vcf").toString
    graft.vcf.SyntheticVcf.write(noSamples, 800, samples = Seq.empty,
      seed = 71L)
    graft.vcf.SyntheticVcf.write(withSamples, 800, seed = 72L)
    graft.vcf.SyntheticVcf.write(normed, 800, samples = Seq.empty, seed = 73L)
    Graft.run(spark, Array("load", noSamples, "--db", db))
    val schema0 = spark.read.parquet(s"$db/variants").schema
    // the sample-less store already carries the QC columns, typed, null
    graft.qc.VariantQc.joinedColumns.foreach { case (c, t) =>
      val f = schema0.fields.find(_.name == c)
      assert(f.exists(_.dataType == t), s"missing/mistyped QC column $c")
    }
    def inventory(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$db/variants"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val inv0 = inventory()
    Graft.run(spark, Array("load", withSamples, "--db", db, "--store-genotypes"))
    val inv1 = inventory()
    inv0.foreach { case (path, id) =>
      assert(inv1.get(path).contains(id),
        s"genotyped load into a sample-less store rewrote $path")
    }
    // normalize now defaults ON (reference `cli.py:269`), so the mixed
    // setting worth pinning is a --no-normalize load into a normalized
    // store staying on the append path
    Graft.run(spark, Array("load", normed, "--db", db, "--no-normalize"))
    val inv2 = inventory()
    inv1.foreach { case (path, id) =>
      assert(inv2.get(path).contains(id),
        s"--no-normalize load into a mixed store rewrote $path")
    }
    // all three batches serve: per-batch counts and a cross-batch lookup
    val v = spark.read.parquet(s"$db/variants")
    assert(v.select($"load_batch_id").distinct().count() == 3)
    // the genotyped batch's QC columns are filled; the sample-less are null
    assert(v.filter($"n_called".isNotNull).count() > 0)
    assert(v.filter($"n_called".isNull).count() > 0)
    val probe = v.filter($"chrom" === "chr1").agg(
      org.apache.spark.sql.functions.min($"pos")).head().getLong(0)
    assert(graft.query.PointLookup.byPosition(
      spark, s"$db/variants", "chr1", probe).nonEmpty)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(!vOut.toString.contains("STALE"), vOut.toString)
    assert(!vOut.toString.contains("MISMATCH"), vOut.toString)
  }

  test("a load after a schema-widening rewrite verb still appends, null-filling the widened columns") {
    // import-frequencies / load-reference / annotate-ld-blocks WIDEN the
    // store schema (popmax_af, in_hapmap3, ld_block_id) via a full
    // rewrite. A later cohort load's batch is then a strict SUBSET of
    // the store schema — it must still take the O(batch) append path
    // (null-filling the widened columns for its rows, as the reference's
    // INSERT leaves annotation columns NULL until the next import), and
    // the pre-existing files must survive byte-identical. Both batches
    // are genotyped synthetic VCFs so they parse to the same schema (a
    // sample-less first file would make the second load a GENUINE schema
    // evolution — the rewrite path — not the case under test); the panel
    // is built from batch A's own rows so flagging provably overlaps.
    val db = Files.createTempDirectory("graftdb").toString
    val vcfDir = Files.createTempDirectory("widenvcf")
    val vcfA = vcfDir.resolve("a.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfA, 300, seed = 32L, annFrac = 0.5)
    Graft.run(spark, Array("load", vcfA, "--db", db))
    val snps = spark.read.parquet(s"$db/variants")
      .filter(org.apache.spark.sql.functions.length($"ref") === 1 &&
        org.apache.spark.sql.functions.length($"alt") === 1)
      .select(org.apache.spark.sql.functions
        .regexp_replace($"chrom", "^chr", "").as("c"),
        $"pos", $"ref", $"alt")
      .limit(5).collect()
    assert(snps.nonEmpty, "batch A must contain SNPs for the panel")
    val panelLines = "rsid\tchrom\tposition\ta1\ta2" +:
      snps.toSeq.zipWithIndex.map { case (r, i) =>
        s"rs9000$i\t${r.getString(0)}\t${r.getLong(1)}\t" +
          s"${r.getString(2)}\t${r.getString(3)}"
      }
    val panel = vcfDir.resolve("panel.tsv")
    java.nio.file.Files.write(panel, panelLines.mkString("\n").getBytes)
    Graft.run(spark, Array("load-reference", panel.toString, "--db", db))
    val flaggedBefore = spark.read.parquet(s"$db/variants")
      .filter($"in_hapmap3").count()
    assert(flaggedBefore > 0, "fixture panel must flag at least one variant")
    def inventory(t: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$db/$t"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val tables = Seq("variants", "rsid_idx", "gene_idx")
    val before = tables.map(t => t -> inventory(t)).toMap
    val vcfB = vcfDir.resolve("b.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfB, 300, seed = 33L, annFrac = 0.5)
    Graft.run(spark, Array("load", vcfB, "--db", db))
    before.foreach { case (t, inv) =>
      inv.foreach { case (path, identity) =>
        assert(inventory(t).get(path).contains(identity),
          s"widened-store load rewrote or removed $path")
      }
    }
    val v = spark.read.parquet(s"$db/variants")
    val batchB = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").orderBy($"completed_at".desc)
      .select($"load_batch_id").head().getString(0)
    // the appended batch null-fills every widened column; the first
    // batch's flags are untouched
    assert(v.filter($"load_batch_id" === batchB)
      .filter($"in_hapmap3".isNotNull).count() == 0,
      "appended rows must leave widened columns null until the next import")
    assert(v.filter($"in_hapmap3").count() == flaggedBefore)
    // the appended projection rows carry the widened schema too (the
    // covering contract): an rsID probe on a batch-B row serves in full
    val rsB = v.filter($"load_batch_id" === batchB)
      .filter($"rs_id".isNotNull).select($"rs_id").head().getString(0)
    val hit = graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", rsB)
    assert(hit.nonEmpty, s"rs_id=$rsB not served after widened append")
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(vOut.toString.linesIterator
      .count(l => l.startsWith("batch ") && l.endsWith(" ok")) == 2, vOut.toString)
    assert(!vOut.toString.contains("MISMATCH"), vOut.toString)
  }

  test("validate detects crash-orphaned batches and --drop-orphans repairs both tables") {
    // a load killed between its appends and its ledger commit (hard
    // kill — the in-process rollback never runs) leaves store rows whose
    // batch has no completed ledger row. Simulate the crash residue by
    // appending rows under a fabricated batch id into BOTH tables (the
    // genotype append commits first, so genotype-only orphans are real
    // too), then verify validate names the orphan and --drop-orphans
    // restores exactly the committed content.
    val db = Files.createTempDirectory("graftdb").toString
    val vcfA = Files.createTempDirectory("orphvcf").resolve("a.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfA, 300, seed = 51L, annFrac = 0.5)
    Graft.run(spark, Array("load", vcfA, "--db", db, "--store-genotypes"))
    val v0 = spark.read.parquet(s"$db/variants")
    val nV = v0.count()
    val nG = spark.read.parquet(s"$db/genotypes").count()
    // crash residue: half of batch A's rows re-labeled as a batch that
    // never committed, appended like a partial load would have
    val orphanRows = v0.filter($"pos" % 2 === 0)
      .withColumn("load_batch_id",
        org.apache.spark.sql.functions.lit("orphan-crashed"))
    graft.sinks.Writers.writeVariants(orphanRows, s"$db/variants",
      mode = "append")
    val orphanG = spark.read.parquet(s"$db/genotypes")
      .limit(10).withColumn("load_batch_id",
        org.apache.spark.sql.functions.lit("orphan-crashed"))
    orphanG.write.mode("append").partitionBy("chrom")
      .parquet(s"$db/genotypes")
    val out1 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out1)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(out1.toString.contains("orphan batch(es)") &&
      out1.toString.contains("orphan-crashed"), out1.toString)
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      Graft.run(spark, Array("validate", "--db", db, "--drop-orphans"))
    }
    assert(out2.toString.contains("dropped orphan batch(es)"), out2.toString)
    val vAfter = spark.read.parquet(s"$db/variants")
    assert(vAfter.count() == nV, "variants not restored to committed content")
    assert(vAfter.filter($"load_batch_id" === "orphan-crashed").count() == 0)
    val gAfter = spark.read.parquet(s"$db/genotypes")
    assert(gAfter.count() == nG, "genotypes not restored")
    // the repair rebuilt projections in the same swap: probes still serve
    val rs = vAfter.filter($"rs_id".isNotNull).select($"rs_id")
      .head().getString(0)
    assert(graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", rs).nonEmpty)
    // a clean validate now reports no orphans
    val out3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out3)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(!out3.toString.contains("orphan batch(es)"), out3.toString)
  }

  test("a zero-variant load leaves no schema-less store and never poisons a later real load") {
    // a VCF with headers (and a declared sample) but no records writes
    // nothing — if the load left marker-only table directories behind, a
    // later REAL load into the same db would fail reading the store
    // schema (no parquet footer to infer from). The ledger still records
    // completed/0 for the file so a re-load of it skips by hash.
    val db = Files.createTempDirectory("graftdb").toString
    val dir = Files.createTempDirectory("emptyvcf")
    val emptyVcf = dir.resolve("empty.vcf")
    java.nio.file.Files.write(emptyVcf,
      ("##fileformat=VCFv4.2\n" +
        "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n")
        .getBytes)
    val out1 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out1)) {
      Graft.run(spark, Array("load", emptyVcf.toString, "--db", db))
    }
    assert(out1.toString.contains("loaded 0 variants"), out1.toString)
    assert(!new java.io.File(s"$db/variants").exists(),
      "empty load must not leave a schema-less variants directory")
    // a real load into the same db now works end to end
    val vcfB = dir.resolve("b.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfB, 200, seed = 44L, annFrac = 0.5)
    Graft.run(spark, Array("load", vcfB, "--db", db))
    assert(spark.read.parquet(s"$db/variants").count() > 0)
    // the empty file's ledger row still skips a re-load by hash
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      Graft.run(spark, Array("load", emptyVcf.toString, "--db", db))
    }
    assert(out2.toString.contains("skip: file already loaded"), out2.toString)
    val ledger = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed")
    assert(ledger.filter($"n_variants" === 0L).count() == 1)
  }

  test("cohort batches survive rewrite verbs and compact; validate reconciliation stays green") {
    // load-reference and `compact --tables variants` rewrite the WHOLE
    // store via replaceVariantsStaged — on a multi-file cohort they must
    // carry every batch's load_batch_id and row count through unchanged,
    // or validate's per-batch ledger reconciliation (cli.py:548-570)
    // reports MISMATCH on batches nobody touched
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    Graft.run(spark, Array("load", fixture("with_annotations.vcf"), "--db", db))
    val perBatch0 = spark.read.parquet(s"$db/variants")
      .groupBy($"load_batch_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perBatch0.size == 2)
    Graft.run(spark, Array("load-reference", fixture("hapmap3_test.tsv"), "--db", db))
    Graft.run(spark, Array("compact", "--db", db, "--tables", "variants"))
    val perBatch1 = spark.read.parquet(s"$db/variants")
      .groupBy($"load_batch_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perBatch1 == perBatch0,
      s"rewrites must preserve batches: $perBatch0 -> $perBatch1")
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(vOut.toString.linesIterator
      .count(l => l.startsWith("batch ") && l.endsWith(" ok")) == 2, vOut.toString)
    assert(!vOut.toString.contains("MISMATCH"), vOut.toString)
    assert(!vOut.toString.contains("STALE"), vOut.toString)
  }

  test("exports emit one SNP line per variant even when a cohort store duplicates the site") {
    // two batches of a multi-file cohort carry the same site: content-
    // keyed ids make them the SAME variant_id, and PRS tools reject
    // duplicate SNP ids — the export join must reach exactly one row
    val variants = Seq(
      (10L, "chr1", 100L, "rs10", "b1"),
      (10L, "chr1", 100L, "rs10", "b2"), // batch copy, same site
      (20L, "chr1", 200L, "rs20", "b1"))
      .toDF("variant_id", "chrom", "pos", "rs_id", "load_batch_id")
    val stats = Seq(
      (10L, "A", "G", 0.05, 0.01, 1e-8),
      (20L, "C", "T", 0.02, 0.01, 1e-6))
      .toDF("variant_id", "effect_allele", "other_allele",
        "beta", "standard_error", "p_value")
    val out = graft.export.PrsFormats.plinkScore(stats, variants)
    assert(out.count() == 2, "duplicate cohort site must not duplicate export lines")
    assert(out.select($"SNP").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("rs10", "rs20"))
    val ld = graft.export.PrsFormats.ldpred2(stats, variants,
      Some(100L), Some(100L), None)
    assert(ld.count() == 2)
  }

  test("legacy flat genotype stores keep appending flat until compact migrates them") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("multiallelic.vcf"), "--db", db, "--store-genotypes"))
    // simulate a pre-hive db: flatten the genotypes table in place
    val root = new java.io.File(s"$db/genotypes")
    val flat = spark.read.parquet(s"$db/genotypes").localCheckpoint()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(root)
    flat.write.parquet(s"$db/genotypes")
    assert(root.listFiles().exists(f => f.isFile && f.getName.endsWith(".parquet")))
    // a further load must NOT mix a hive append into the flat layout
    Graft.run(spark, Array("load", fixture("with_annotations.vcf"), "--db", db, "--store-genotypes"))
    assert(!root.listFiles().exists(_.getName.startsWith("chrom=")),
      "hive append mixed into a flat legacy store")
    val g = spark.read.parquet(s"$db/genotypes") // still readable
    val gCount = g.count() // materialize BEFORE compact swaps the files
    val site = g.select($"chrom", $"pos").orderBy($"chrom", $"pos").head()
    val hit0 = graft.query.PointLookup.genotypesAt(
      spark, s"$db/genotypes", site.getString(0), site.getLong(1), site.getLong(1))
    assert(hit0.nonEmpty, "flat-path probe lost")
    // compact migrates the layout; the probe switches to the hive path
    Graft.run(spark, Array("compact", "--db", db, "--tables", "genotypes"))
    assert(root.listFiles().exists(_.getName.startsWith("chrom=")),
      "compact did not migrate to the hive layout")
    assert(spark.read.parquet(s"$db/genotypes").count() == gCount)
    val hit1 = graft.query.PointLookup.genotypesAt(
      spark, s"$db/genotypes", site.getString(0), site.getLong(1), site.getLong(1))
    assert(hit1.map(_("sample_id")).sorted == hit0.map(_("sample_id")).sorted)
  }

  test("refresh-views materializes all four matviews when their inputs are present") {
    val db = Files.createTempDirectory("graftdb").toString
    // the reference's full workflow, in order: load → hapmap3 flags →
    // frequencies → gwas → sample QC → refresh (views/prs_views.py:133-159)
    val vcfS = Files.createTempDirectory("viewsvcf").resolve("s.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfS, 200, seed = 47L, annFrac = 0.5)
    Graft.run(spark, Array("load", vcfS, "--db", db, "--store-genotypes"))
    // with only the variants store, the gated views are skipped LOUDLY
    val out0 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out0)) {
      Graft.run(spark, Array("refresh-views", "--db", db))
    }
    assert(out0.toString.contains("skip prs_candidate_variants"), out0.toString)
    assert(out0.toString.contains("skip sample_qc_summary"), out0.toString)
    Graft.run(spark, Array("load-reference", fixture("hapmap3_test.tsv"), "--db", db))
    Graft.run(spark, Array("import-frequencies",
      graft.queries.VcfQueries.writeGnomadFixtureForTest(), "--db", db))
    val tsv = Files.createTempDirectory("gwas2").resolve("stats.tsv")
    Files.write(tsv, java.util.Arrays.asList(
      "CHR\tPOS\tEA\tOA\tPVAL\tBETA\tSE\tEAF\tSNP",
      "1\t752566\tA\tG\t1e-8\t0.05\t0.01\t0.25\trs3094315"))
    Graft.run(spark, Array("import-gwas", tsv.toString, "--db", db))
    Graft.run(spark, Array("compute-sample-qc", "--db", db))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Graft.run(spark, Array("refresh-views", "--db", db))
    }
    val views = Seq("variant_qc_summary", "chromosome_variant_counts",
      "prs_candidate_variants", "sample_qc_summary")
    views.foreach { v =>
      assert(new java.io.File(s"$db/views/$v").exists(), s"view $v not written")
      assert(out.toString.contains(s"$v refreshed in"), out.toString)
    }
    assert(!out.toString.contains("skip "), out.toString)
    // the always-on roll-ups carry real rows
    assert(spark.read.parquet(s"$db/views/variant_qc_summary").count() == 1)
    assert(spark.read.parquet(s"$db/views/sample_qc_summary").count() == 1)
  }

  test("list-failing-samples lists qc-failed samples worst call_rate first") {
    val db = Files.createTempDirectory("graftdb").toString
    // multiallelic.vcf's three samples are all ./. — call_rate 0, all fail
    Graft.run(spark, Array("load", fixture("multiallelic.vcf"), "--db", db, "--store-genotypes"))
    val out0 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out0)) {
      Graft.run(spark, Array("list-failing-samples", "--db", db))
    }
    assert(out0.toString.contains("no sample_qc table"), out0.toString)
    Graft.run(spark, Array("compute-sample-qc", "--db", db))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Graft.run(spark, Array("list-failing-samples", "--db", db))
    }
    val expected = spark.read.parquet(s"$db/sample_qc")
      .filter(!$"qc_pass").count()
    assert(expected > 0, "fixture should produce failing samples")
    val lines = out.toString.linesIterator.filter(_.startsWith("sample_id=")).toSeq
    assert(lines.length == expected, out.toString)
    assert(out.toString.contains(s"$expected failing sample(s)"), out.toString)
    // worst-first ordering (qc/schema.py:142-163's ORDER BY call_rate ASC)
    val rates = lines.map(_.split("call_rate=")(1).split(" ")(0).toDouble)
    assert(rates == rates.sorted, s"not worst-first: $rates")
  }

  test("mutating verbs append to the chained audit log; audit-verify detects tampering") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    Graft.run(spark, Array("load-reference", fixture("hapmap3_test.tsv"), "--db", db))
    // a read-only verb must NOT be audited
    Graft.run(spark, Array("lookup", "rs3094315", "--db", db))
    val log = spark.read.parquet(s"$db/audit_log").orderBy($"audit_id").collect()
    assert(log.map(_.getAs[String]("event_type")).toSeq ==
      Seq("load", "load-reference"))
    assert(log.forall(_.getAs[Boolean]("success")))
    // ids chain: row 1 links to genesis, row 2 to row 1's hash
    assert(log(0).getAs[String]("previous_hash") == graft.audit.Audit.GenesisHash)
    assert(log(1).getAs[String]("previous_hash") ==
      log(0).getAs[String]("entry_hash"))
    // failed operations are audited too, success=false
    intercept[Throwable] {
      Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db,
        "--force-reload", "--min-info-score", "nope"))
    }
    val log2 = spark.read.parquet(s"$db/audit_log")
    assert(log2.filter(!$"success").count() == 1)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("audit-verify", "--db", db))
    }
    assert(vOut.toString.contains("audit chain ok (3 entries)"), vOut.toString)
    // the log accrues one parquet file per append; compact folds it and
    // the chain stays verifiable (content unchanged — and the compaction
    // is itself audited, chaining a 4th entry onto the tip)
    Graft.run(spark, Array("compact", "--db", db, "--tables", "audit_log"))
    val vOutC = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOutC)) {
      Graft.run(spark, Array("audit-verify", "--db", db))
    }
    assert(vOutC.toString.contains("audit chain ok (4 entries)"), vOutC.toString)
    // tamper with a mid-chain row out-of-band → verification fails loudly
    val tampered = spark.read.parquet(s"$db/audit_log")
      .withColumn("action", org.apache.spark.sql.functions.when(
        $"audit_id" === 1L, org.apache.spark.sql.functions.lit("doctored"))
        .otherwise($"action"))
    graft.sinks.WritePlan.rewrite(spark,
      graft.sinks.WritePlan.plain(s"$db/audit_log"), tampered)
    val e = intercept[RuntimeException] {
      Graft.run(spark, Array("audit-verify", "--db", db))
    }
    assert(e.getMessage.contains("FAILED"), e.getMessage)
    Graft.run(spark, Array("audit-stats", "--db", db))
    // export carries the full chained rows, id-ordered, inside an
    // integrity envelope that verify-backup proves untampered
    val exp = Files.createTempDirectory("auditexp").resolve("log.json").toString
    Graft.run(spark, Array("audit-export", exp, "--db", db))
    val doc = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(exp))
    assert(doc.get("metadata").get("entry_count").asInt() == 4)
    assert(doc.get("entries").size() == 4)
    assert(doc.get("entries").get(0).has("entry_hash"))
    Graft.run(spark, Array("audit-verify-backup", exp))
    // value tampering inside an entry → checksum mismatch, loud failure
    val tamperedJson = Files.readString(java.nio.file.Paths.get(exp))
      .replaceFirst("\"user_name\":\"", "\"user_name\":\"evil-")
    val exp2 = Files.createTempDirectory("auditexp").resolve("bad.json")
    Files.writeString(exp2, tamperedJson)
    val eb = intercept[RuntimeException] {
      Graft.run(spark, Array("audit-verify-backup", exp2.toString))
    }
    assert(eb.getMessage.contains("checksum mismatch"), eb.getMessage)
    // a dropped entry → count mismatch named first
    val shortJson = tamperedJson.replaceFirst("\"entry_count\":4", "\"entry_count\":9")
    Files.writeString(exp2, shortJson)
    val ec = intercept[RuntimeException] {
      Graft.run(spark, Array("audit-verify-backup", exp2.toString))
    }
    assert(ec.getMessage.contains("Entry count mismatch"), ec.getMessage)
  }

  test("audit-export --start/--end windows on event dates and still verifies") {
    // the reference's export takes a created_date range
    // (`integrity.py:270-279`); metadata carries the window and the
    // checksum covers exactly the exported entries
    val db = Files.createTempDirectory("auditwin").toString
    val events = (1 to 6).map { i =>
      graft.audit.Audit.AuditEvent(i.toLong,
        f"2026-08-${9 + i}%02dT12:00:00Z", "load", "u", s"load f$i.vcf",
        success = true, if (i == 1) graft.audit.Audit.GenesisHash
        else s"h${i - 1}" * 8, s"h$i" * 8)
    }
    spark.createDataFrame(events).write.parquet(s"$db/audit_log")
    val dir = Files.createTempDirectory("auditwinout")
    def export(extra: String*): com.fasterxml.jackson.databind.JsonNode = {
      val out = dir.resolve(s"e${extra.hashCode}.json").toString
      Graft.run(spark, Array("audit-export", out, "--db", db) ++ extra)
      Graft.run(spark, Array("audit-verify-backup", out)) // must verify
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(out))
    }
    // whole-log export: null window, all 6 entries (dates 08-10..08-15)
    val full = export()
    assert(full.get("metadata").get("entry_count").asInt() == 6)
    assert(full.get("metadata").get("start_date").isNull)
    // both bounds inclusive
    val win = export("--start", "2026-08-11", "--end", "2026-08-13")
    assert(win.get("metadata").get("entry_count").asInt() == 3, win)
    assert(win.get("metadata").get("start_date").asText() == "2026-08-11")
    assert(win.get("metadata").get("end_date").asText() == "2026-08-13")
    assert(win.get("entries").get(0).get("audit_id").asLong() == 2L)
    assert(win.get("entries").get(2).get("audit_id").asLong() == 4L)
    // half-open windows work alone
    val fromOnly = export("--start", "2026-08-14")
    assert(fromOnly.get("metadata").get("entry_count").asInt() == 2, fromOnly)
    assert(fromOnly.get("metadata").get("end_date").isNull)
    val toOnly = export("--end", "2026-08-10")
    assert(toOnly.get("metadata").get("entry_count").asInt() == 1, toOnly)
    // an empty window exports an empty-but-valid backup
    val empty = export("--start", "2030-01-01")
    assert(empty.get("metadata").get("entry_count").asInt() == 0, empty)
    assert(empty.get("metadata").get("first_hash").isNull)
    // malformed dates are rejected before any work
    val bad = intercept[RuntimeException] {
      Graft.run(spark, Array("audit-export", dir.resolve("x.json").toString,
        "--db", db, "--start", "08/11/2026"))
    }
    assert(bad.getMessage.contains("YYYY-MM-DD"), bad.getMessage)
  }

  test("per-chrom compaction folds only fragmented partitions, content unchanged") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = Files.createTempDirectory("pcvcf").resolve("v.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 20000, seed = 47L)
    Graft.run(spark, Array("load", vcf, "--db", db))
    // refragment the store IN PLACE with AQE size floors shrunk: content
    // identical, layout multi-file per chrom dir (the at-scale shape)
    val sized = Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16384",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    val prev = sized.keys.map(k => k -> spark.conf.getOption(k)).toMap
    sized.foreach { case (k, v) => spark.conf.set(k, v) }
    try variantsOnly(db, spark.read.parquet(s"$db/variants"))
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val n0 = spark.read.parquet(s"$db/variants").count()
    val chr1 = new java.io.File(s"$db/variants/chrom=chr1")
    def chr1Files = chr1.listFiles().count(_.getName.endsWith(".parquet"))
    assert(chr1Files > 1, s"need a fragmented chrom dir, got $chr1Files")
    Graft.run(spark, Array("compact", "--db", db, "--tables", "variants",
      "--per-chrom", "--max-files", "1"))
    assert(chr1Files == 1, s"chr1 not folded: $chr1Files files")
    // no temp/old leftovers from the partition swap
    assert(!new java.io.File(s"$db").listFiles()
      .exists(f => f.getName.contains(".tmp-") || f.getName.contains(".old-")))
    assert(spark.read.parquet(s"$db/variants").count() == n0)
    // content unchanged ⇒ the covering projections are STILL fresh even
    // though per-chrom compaction rebuilds nothing
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(vOut.toString.contains("rsid_idx: ok"), vOut.toString)
    assert(!vOut.toString.contains("STALE"), vOut.toString)
    // probes still answer, pos-ordered, from the folded layout
    val df = spark.read.parquet(s"$db/variants")
    val bounds = df.filter($"chrom" === "chr1")
      .agg(org.apache.spark.sql.functions.min($"pos"),
        org.apache.spark.sql.functions.max($"pos")).head()
    val rows = graft.query.PointLookup.byRegion(
      spark, s"$db/variants", "chr1", bounds.getLong(0), bounds.getLong(1))
    assert(rows.length == df.filter($"chrom" === "chr1").count())
    val ps = rows.map(_("pos").toLong)
    assert(ps == ps.sorted)
  }

  test("lookup --genotypes serves per-sample rows driver-side with Spark parity") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = fixture("multiallelic.vcf") // sample-bearing fixture
    Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes"))
    val site = spark.read.parquet(s"$db/genotypes")
      .select($"chrom", $"pos").orderBy($"chrom", $"pos").head()
    val (chrom, pos) = (site.getString(0), site.getLong(1))
    def parity(): Unit = {
      // fresh read each time — compact swaps the files under a stale plan
      val g = spark.read.parquet(s"$db/genotypes")
      val direct = graft.query.PointLookup.genotypesAt(
        spark, s"$db/genotypes", chrom, pos, pos)
      val viaSpark = g.filter($"chrom" === chrom && $"pos" === pos).collect()
      assert(direct.nonEmpty && direct.length == viaSpark.length,
        s"genotype face: direct=${direct.length} spark=${viaSpark.length}")
      val dKeys = direct.map(m => (m("sample_id"), m.getOrElse("gt", ""))).sorted
      val sKeys = viaSpark.map(r => (r.getAs[String]("sample_id"),
        Option(r.getAs[String]("gt")).getOrElse(""))).toSeq.sorted
      assert(dKeys == sKeys, s"genotype rows differ at $chrom:$pos")
    }
    parity() // correct on the uncompacted (unclustered) store too
    Graft.run(spark, Array("compact", "--db", db))
    parity() // and on the clustered one, where footer pruning bites
    // CLI face: variant row(s) plus one line per sample
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Graft.run(spark, Array("lookup", s"$chrom:$pos", "--db", db, "--genotypes"))
    }
    val expected = spark.read.parquet(s"$db/genotypes")
      .filter($"chrom" === chrom && $"pos" === pos).count()
    assert(out.toString.linesIterator.count(_.contains("sample_id=")) == expected,
      out.toString)
    // without the flag, no per-sample rows print
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      Graft.run(spark, Array("lookup", s"$chrom:$pos", "--db", db))
    }
    assert(!out2.toString.contains("sample_id="))
    // the rsID and gene forms serve the matched sites' sample rows too
    // (needs a fixture with rs ids, genes AND samples — synthetic)
    val db2 = Files.createTempDirectory("graftdb2").toString
    val vcfS = Files.createTempDirectory("synthvcf").resolve("s.vcf").toString
    graft.vcf.SyntheticVcf.write(vcfS, 300, seed = 43L, annFrac = 0.5)
    Graft.run(spark, Array("load", vcfS, "--db", db2, "--store-genotypes"))
    val rsId = spark.read.parquet(s"$db2/variants")
      .filter($"rs_id".isNotNull).select($"rs_id").head().getString(0)
    val hits = graft.query.PointLookup.byRsid(
      spark, s"$db2/rsid_idx", s"$db2/variants", rsId)
    val g2 = spark.read.parquet(s"$db2/genotypes")
    val gexp = hits.map(h => (h("chrom"), h("pos").toLong)).distinct.map {
      case (c, p) => g2.filter($"chrom" === c && $"pos" === p).count()
    }.sum
    assert(gexp > 0)
    val out3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out3)) {
      Graft.run(spark, Array("lookup", rsId, "--db", db2, "--genotypes"))
    }
    assert(out3.toString.linesIterator.count(_.contains("sample_id=")) == gexp,
      out3.toString)
    // gene form: every site of the gene contributes its sample rows
    val gene = spark.read.parquet(s"$db2/variants")
      .filter($"gene".isNotNull).select($"gene").head().getString(0)
    val gHits = graft.query.PointLookup.byGene(spark, s"$db2/gene_idx", gene)
    val gGexp = gHits.map(h => (h("chrom"), h("pos").toLong)).distinct.map {
      case (c, p) => g2.filter($"chrom" === c && $"pos" === p).count()
    }.sum
    assert(gGexp > 0)
    val out4 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out4)) {
      Graft.run(spark, Array("lookup", s"gene:$gene", "--db", db2, "--genotypes"))
    }
    assert(out4.toString.linesIterator.count(_.contains("sample_id=")) == gGexp,
      out4.toString)
  }

  test("force-reload replaces the batch instead of duplicating it (K4, loader.py:182-252)") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = fixture("hapmap3_overlap.vcf")
    Graft.run(spark, Array("load", vcf, "--db", db))
    assert(spark.read.parquet(s"$db/variants").count() == 10)
    // same file hash + --force-reload: delete-then-insert, not append
    Graft.run(spark, Array("load", vcf, "--db", db, "--force-reload"))
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == 10)
    assert(v.select($"load_batch_id").distinct().count() == 1) // only the new batch
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == 2)         // both loads audited
  }

  test("force-reload keeps genotype counts stable and drops the old batch's rows") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = fixture("multiallelic.vcf") // sample-bearing fixture
    Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes"))
    val n0 = spark.read.parquet(s"$db/genotypes").count()
    assert(n0 > 0)
    Graft.run(spark, Array("load", vcf, "--db", db, "--force-reload", "--store-genotypes"))
    val g = spark.read.parquet(s"$db/genotypes")
    assert(g.count() == n0) // append-only would double it
    assert(g.select($"load_batch_id").distinct().count() == 1)
  }

  test("force-reload in a 3-batch cohort is O(batch): other batches' files untouched") {
    // the DELETE WHERE load_batch_id analogue (`loader.py:244-252`,
    // O(batch) in Postgres): reloading ONE file of a 3-file cohort must
    // drop-and-replace only that batch's files — every file the other
    // two batches wrote (store, both projections, genotypes) survives
    // byte-identical. A store rewrite would show here as changed
    // (length, mtime) or vanished paths.
    val db = Files.createTempDirectory("graftdb").toString
    val vcfDir = Files.createTempDirectory("reloadvcf")
    val vcfs = (0 until 3).map { i =>
      val p = vcfDir.resolve(s"f$i.vcf").toString
      graft.vcf.SyntheticVcf.write(p, 600, seed = 91L + i)
      p
    }
    vcfs.foreach(f => Graft.run(spark, Array("load", f, "--db", db, "--store-genotypes")))
    val ledger = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed")
      .orderBy($"completed_at").collect()
    assert(ledger.length == 3)
    val midBatch = ledger(1).getAs[String]("load_batch_id")
    val tables = Seq("variants", "rsid_idx", "gene_idx", "genotypes")
    def inventory(t: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$db/$t"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val before = tables.map(t => t -> inventory(t)).toMap
    val totalBefore = spark.read.parquet(s"$db/variants").count()
    val genoBefore = spark.read.parquet(s"$db/genotypes").count()
    Graft.run(spark, Array("load", vcfs(1), "--db", db, "--force-reload", "--store-genotypes"))
    val after = tables.map(t => t -> inventory(t)).toMap
    // every surviving pre-reload file either belonged to the reloaded
    // batch (now gone) or is byte-identical; at least one file per table
    // must be untouched (the other two batches' data)
    tables.foreach { t =>
      val untouched = before(t).filter { case (p, id) =>
        after(t).get(p).contains(id) }
      assert(untouched.nonEmpty, s"$t: force-reload rewrote every file")
      // and the reloaded batch's files are genuinely gone or replaced:
      // the table must not have grown by a full extra batch
      val v = spark.read.parquet(s"$db/$t")
      assert(v.filter($"load_batch_id" === midBatch).count() == 0,
        s"$t: old batch rows survived the reload")
    }
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == totalBefore) // same file → same row count
    assert(spark.read.parquet(s"$db/genotypes").count() == genoBefore)
    assert(v.select($"load_batch_id").distinct().count() == 3)
    // probes and validate agree post-reload
    val probe = v.filter($"chrom" === "chr1")
      .agg(org.apache.spark.sql.functions.min($"pos")).head().getLong(0)
    assert(graft.query.PointLookup.byPosition(
      spark, s"$db/variants", "chr1", probe).nonEmpty)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(!vOut.toString.contains("STALE"), vOut.toString)
    assert(!vOut.toString.contains("MISMATCH"), vOut.toString)
    assert(!vOut.toString.contains("orphan"), vOut.toString)
  }

  test("force-reload after compact still drops the old batch (mixed-file rewrite path)") {
    // post-compact files mix batches, so the surgical drop cannot just
    // unlink — it must take the filtered single-file rewrite path
    val db = Files.createTempDirectory("graftdb").toString
    val vcfDir = Files.createTempDirectory("reloadvcf2")
    val a = vcfDir.resolve("a.vcf").toString
    val b = vcfDir.resolve("b.vcf").toString
    graft.vcf.SyntheticVcf.write(a, 400, seed = 101L)
    graft.vcf.SyntheticVcf.write(b, 400, seed = 102L)
    Graft.run(spark, Array("load", a, "--db", db))
    Graft.run(spark, Array("load", b, "--db", db))
    Graft.run(spark, Array("compact", "--db", db,
      "--tables", "variants,genotypes,rsid_idx,gene_idx"))
    val batches0 = spark.read.parquet(s"$db/variants")
      .select($"load_batch_id").distinct().count()
    assert(batches0 == 2)
    val nB = spark.read.parquet(s"$db/variants")
      .join(spark.read.parquet(s"$db/ledger")
        .filter($"status" === "completed" && $"file_path" === b)
        .select($"load_batch_id"), Seq("load_batch_id")).count()
    assert(nB > 0)
    Graft.run(spark, Array("load", b, "--db", db, "--force-reload"))
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").select($"load_batch_id")
      .join(v, Seq("load_batch_id")).count())
    assert(v.select($"load_batch_id").distinct().count() == 2)
    // no duplicated sites within any batch
    assert(v.groupBy($"load_batch_id", $"chrom", $"pos", $"ref", $"alt")
      .count().filter($"count" > 1).count() == 0)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(!vOut.toString.contains("MISMATCH"), vOut.toString)
    assert(!vOut.toString.contains("orphan"), vOut.toString)
  }

  test("failed load writes a 'failed' ledger row, and skip never honors it") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = fixture("hapmap3_overlap.vcf")
    intercept[NumberFormatException] {
      Graft.run(spark, Array("load", vcf, "--db", db,
        "--min-info-score", "not-a-number"))
    }
    val ledger = spark.read.parquet(s"$db/ledger")
    assert(ledger.filter($"status" === "failed").count() == 1)
    assert(ledger.filter($"status" === "in_progress").count() == 1)
    assert(ledger.filter($"status" === "completed").count() == 0)
    // the failed batch must not satisfy the idempotency skip: a real load
    // of the same file afterwards goes through
    Graft.run(spark, Array("load", vcf, "--db", db))
    assert(spark.read.parquet(s"$db/variants").count() == 10)
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == 1)
  }

  test("a genotype-side write failure fails the whole load at the join point, nothing half-committed") {
    // the genotype append runs on its own driver thread, overlapped with
    // the variants parse; its failure must surface at the load's join
    // point and fail the WHOLE load — no store/projection tables from a
    // load whose genotype side never landed, a 'failed' ledger row, and
    // a clean retry once the obstruction is gone
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = Files.createTempDirectory("genofail")
      .resolve("cohort.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 200, seed = 91L) // genotyped (S1,S2)
    // a plain file where the genotypes table directory belongs: the
    // genotype append cannot land there and fails the genotype thread,
    // while the variants parse — and, on this fresh db, the variants
    // family's write — proceed normally
    Files.write(java.nio.file.Paths.get(s"$db/genotypes"),
      "not a table".getBytes)
    intercept[Throwable] {
      Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes"))
    }
    assert(!new java.io.File(s"$db/variants").exists(),
      "variants table must not exist after a genotype-side failure")
    assert(!new java.io.File(s"$db/rsid_idx").exists())
    assert(!new java.io.File(s"$db/gene_idx").exists())
    val ledger = spark.read.parquet(s"$db/ledger")
    assert(ledger.filter($"status" === "failed").count() == 1)
    assert(ledger.filter($"status" === "completed").count() == 0)
    // retry after removing the corruption: full load goes through (the
    // failed attempt's orphan genotype rows are exactly what
    // `validate --drop-orphans` reconciles; the new batch is complete)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$db/genotypes"))
    Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes"))
    assert(spark.read.parquet(s"$db/variants").count() >= 200)
    assert(spark.read.parquet(s"$db/genotypes").count() > 0)
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == 1)
  }

  test("phi scan covers sample names and data rows; --fail-on-phi implies the scan") {
    val db = Files.createTempDirectory("graftdb").toString
    // sample-name PHI: an MRN used as a sample id lives on the #CHROM
    // line, which the header sanitizer alone never scans
    val vcf = Files.createTempDirectory("phivcf").resolve("mrn.vcf")
    Files.write(vcf, java.util.Arrays.asList(
      "##fileformat=VCFv4.2",
      "##contig=<ID=chr1,length=248956422>",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tMRN12345",
      "chr1\t100\t.\tA\tT\t50\tPASS\t.\tGT\t0/1"))
    // --fail-on-phi alone (no --phi-scan) must still scan and abort
    val e = intercept[RuntimeException] {
      Graft.run(spark, Array("load", vcf.toString, "--db", db, "--fail-on-phi"))
    }
    assert(e.getMessage.contains("PHI detected"))

    // data-row PHI (an email smuggled into INFO) is caught by the sampled
    // record scan
    import graft.transform.PhiSanitizer
    val hits = PhiSanitizer.scanDataLineAt(
      "chr1\t100\t.\tA\tT\t50\tPASS\tNOTE=contact bob@example.com\tGT\t0/1",
      0L, PhiSanitizer.BuiltinPatterns)
    assert(hits.exists(d => d.category == "email" && d.location == "INFO"))
    assert(PhiSanitizer.scanHeaderLineAt(
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tMRN12345",
      0L, PhiSanitizer.BuiltinPatterns)
      .exists(_.category == "mrn"))
    // a clean VCF scans clean end-to-end (no false positives on GT rows)
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"),
      "--db", db, "--phi-scan"))
    val note = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").select($"note").head().getString(0)
    assert(note == "phi_scan: clean")
  }

  test("anonymize: one-way salted vault, deduped across reloads") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = fixture("multiallelic.vcf")
    Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes",
      "--anonymize", "--anonymize-salt", "pepper"))
    val vault = spark.read.parquet(s"$db/phi_vault/sample_id_mapping")
    // one-way mapping: anon id + provenance only, no recoverable original
    assert(vault.columns.toSet == Set("anon_id", "load_batch_id"))
    val n0 = vault.count()
    assert(n0 > 0)
    val g = spark.read.parquet(s"$db/genotypes")
    assert(g.filter(!$"sample_id".startsWith("ANON_")).count() == 0)
    // same samples reloaded → no duplicate vault rows (reference upserts
    // ON CONFLICT, phi/anonymizer get_or_create_anonymous_id)
    Graft.run(spark, Array("load", vcf, "--db", db, "--force-reload",
      "--store-genotypes", "--anonymize", "--anonymize-salt", "pepper"))
    assert(spark.read.parquet(s"$db/phi_vault/sample_id_mapping").count() == n0)
    // the salt keys the hash: the same samples under a different salt get
    // different anon ids (low-entropy ids can't be table-look-up'd)
    val db2 = Files.createTempDirectory("graftdb2").toString
    Graft.run(spark, Array("load", vcf, "--db", db2, "--store-genotypes",
      "--anonymize", "--anonymize-salt", "other"))
    val ids1 = vault.select($"anon_id").collect().map(_.getString(0)).toSet
    val ids2 = spark.read.parquet(s"$db2/phi_vault/sample_id_mapping")
      .select($"anon_id").collect().map(_.getString(0)).toSet
    assert(ids1.intersect(ids2).isEmpty)
  }

  test("import-gwas executes the matching join exactly once") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    val tsv = Files.createTempDirectory("gwas").resolve("stats.tsv")
    Files.write(tsv, java.util.Arrays.asList(
      "CHR\tPOS\tEA\tOA\tPVAL\tBETA\tSE\tEAF\tSNP",
      "1\t752566\tA\tG\t1e-8\t0.05\t0.01\t0.25\trs3094315",
      "1\t752721\tG\tA\t1e-6\t0.02\t0.01\t0.40\trs3131972"))
    // bookkeeping counts must come from the raw scan and the written
    // parquet — re-running the matching join for them tripled the load's
    // most expensive stage. Count executed actions whose physical plan
    // contains a join: exactly the single gwas_stats write.
    val joinRuns = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("Join")) joinRuns.incrementAndGet()
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Graft.run(spark, Array("import-gwas", tsv.toString, "--db", db))
      // the listener bus is async — give it a bounded settle window
      val deadline = System.currentTimeMillis() + 10000
      while (joinRuns.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      Thread.sleep(500) // catch any late extra executions
      assert(joinRuns.get() == 1)
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.parquet(s"$db/gwas_stats").count() == 2)
  }

  test("annotation-query registers anno_<src> and core tables (cli.py:1454-1501)") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("multiallelic.vcf"), "--db", db, "--store-genotypes"))
    // a tiny annotation source over the same sites
    val cfgPath = Files.createTempDirectory("annocfg").resolve("cfg.json")
    Files.write(cfgPath, java.util.Arrays.asList(
      """[{"field": "FILTER", "alias": "anno_filter", "missing_string": "PASS"}]"""))
    Graft.run(spark, Array("load-annotation", fixture("multiallelic.vcf"),
      "--name", "testsrc", "--config", cfgPath.toString, "--db", db))
    // the escape hatch must resolve variants, anno_testsrc AND genotypes
    Graft.run(spark, Array("annotation-query",
      """SELECT count(*) FROM variants v
         JOIN anno_testsrc a USING (chrom, pos, ref, alt)
         JOIN (SELECT DISTINCT chrom, pos FROM genotypes) g
           ON v.chrom = g.chrom AND v.pos = g.pos""",
      "--db", db))
    // and the views registered by name still answer through spark.sql
    assert(spark.sql("SELECT count(*) FROM anno_testsrc").head().getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM genotypes").head().getLong(0) > 0)
    // --output/--format json mirror the reference's output options
    val outDir = Files.createTempDirectory("aqout").resolve("rows.json").toString
    Graft.run(spark, Array("annotation-query",
      "SELECT chrom, pos FROM variants ORDER BY chrom, pos", "--db", db,
      "--output", outDir, "--format", "json"))
    assert(spark.read.json(outDir).count() ==
      spark.read.parquet(s"$db/variants").count())
    // --batch scopes annotate to one load batch (reference's positional arg)
    val batch = spark.read.parquet(s"$db/variants")
      .select($"load_batch_id").head().getString(0)
    val annOut = Files.createTempDirectory("annout").resolve("o.json").toString
    Graft.run(spark, Array("annotate", "--db", db, "--anno", "testsrc",
      "--batch", batch, "--output", annOut, "--format", "json"))
    assert(spark.read.json(annOut).count() > 0)
    val annOut2 = Files.createTempDirectory("annout2").resolve("o2.json").toString
    Graft.run(spark, Array("annotate", "--db", db, "--anno", "testsrc",
      "--batch", "no-such-batch", "--output", annOut2, "--format", "json"))
    assert(spark.read.json(annOut2).isEmpty)
  }

  test("annotate prefixes a later source's colliding field instead of dropping it") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("multiallelic.vcf"), "--db", db))
    val cfgPath = Files.createTempDirectory("annocfg").resolve("cfg.json")
    Files.write(cfgPath, java.util.Arrays.asList(
      """[{"field": "FILTER", "alias": "shared_af", "missing_string": "PASS"}]"""))
    Graft.run(spark, Array("load-annotation", fixture("multiallelic.vcf"),
      "--name", "src1", "--config", cfgPath.toString, "--db", db))
    Graft.run(spark, Array("load-annotation", fixture("multiallelic.vcf"),
      "--name", "src2", "--config", cfgPath.toString, "--db", db))
    val out = Files.createTempDirectory("annoout").resolve("out.tsv").toString
    Graft.run(spark, Array("annotate", "--db", db, "--anno", "src1,src2",
      "--output", out))
    val headerCols = scala.io.Source.fromFile(
      new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        .head)
      .getLines().next().split("\t").toSeq
    assert(headerCols.contains("shared_af"))      // first claim keeps the bare name
    assert(headerCols.contains("src2_shared_af")) // later source prefixed, not dropped

    // a source field named like a VARIANT column must be prefixed too —
    // bare, it would make the join output ambiguous and crash the writer
    val cfgQual = Files.createTempDirectory("annocfg2").resolve("cfg.json")
    Files.write(cfgQual, java.util.Arrays.asList(
      """[{"field": "DP", "alias": "qual", "missing_string": "0"}]"""))
    Graft.run(spark, Array("load-annotation", fixture("multiallelic.vcf"),
      "--name", "src3", "--config", cfgQual.toString, "--db", db))
    val out2 = Files.createTempDirectory("annoout2").resolve("out.tsv").toString
    Graft.run(spark, Array("annotate", "--db", db, "--anno", "src3",
      "--output", out2))
    val header2 = scala.io.Source.fromFile(
      new java.io.File(out2).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        .head)
      .getLines().next().split("\t").toSeq
    assert(header2.contains("qual"))              // the variant column
    assert(header2.contains("src3_qual"))         // the source's, prefixed
  }

  test("import-frequencies loads the long table and attaches popmax (cli.py:1193-1291)") {
    val db = Files.createTempDirectory("graftdb").toString
    // db variants = the same sites the frequency VCF annotates
    val freqVcf = graft.queries.VcfQueries.writeGnomadFixtureForTest()
    Graft.run(spark, Array("load", freqVcf, "--db", db))
    Graft.run(spark, Array("import-frequencies", freqVcf, "--db", db,
      "--source", "gnomAD_v3"))

    val long = spark.read.parquet(s"$db/population_frequencies")
    assert(long.columns.toSet.contains("population") && long.count() > 0)
    assert(long.select($"source").distinct().head().getString(0) == "gnomAD_v3")

    val v = spark.read.parquet(s"$db/variants")
    assert(v.columns.contains("popmax_af"))
    // rs1: AFR 0.2 beats NFE 0.05 (FIN 0.9 excluded as bottlenecked)
    val rs1 = v.filter($"rs_id" === "rs1").head()
    assert(rs1.getAs[Double]("popmax_af") == 0.2)
    assert(rs1.getAs[String]("popmax_population") == "AFR")
    // the covering rsID projection serves the freshly attached popmax
    // (the popmax update rewrites variants → the index rebuilds in the
    // same swap; a stale index would miss popmax_af entirely)
    val idxHit = graft.query.PointLookup.byRsid(
      spark, s"$db/rsid_idx", s"$db/variants", "rs1")
    assert(idxHit.exists(_.get("popmax_af").contains("0.2")),
      s"stale rsID projection after import-frequencies: $idxHit")

    // sources coexist per (source, subset) as in the reference's
    // ON CONFLICT key; re-import replaces only its own rows, and — the
    // O(import) claim — other sources' FILES survive byte-identical
    // (composite-key surgical drop + append, not a table rewrite)
    def freqInventory(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$db/population_frequencies"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val n0 = long.count()
    val invV3 = freqInventory()
    Graft.run(spark, Array("import-frequencies", freqVcf, "--db", db,
      "--source", "gnomAD_v4"))
    val invV34 = freqInventory()
    invV3.foreach { case (p, id) =>
      assert(invV34.get(p).contains(id),
        s"importing gnomAD_v4 rewrote gnomAD_v3's file $p")
    }
    val both = spark.read.parquet(s"$db/population_frequencies")
    assert(both.filter($"source" === "gnomAD_v3").count() == n0)
    assert(both.filter($"source" === "gnomAD_v4").count() == n0)
    Graft.run(spark, Array("import-frequencies", freqVcf, "--db", db,
      "--source", "gnomAD_v4"))
    invV3.foreach { case (p, id) =>
      assert(freqInventory().get(p).contains(id),
        s"re-importing gnomAD_v4 rewrote gnomAD_v3's file $p")
    }
    assert(spark.read.parquet(s"$db/population_frequencies").count() == 2 * n0)

    // a second source that does NOT cover rs1 must not null rs1's popmax
    // (the reference's per-record UPDATE leaves untouched variants alone)
    val partial = java.nio.file.Files.createTempFile("freq_partial", ".vcf")
    java.nio.file.Files.writeString(partial,
      """##fileformat=VCFv4.2
        |##INFO=<ID=AF,Number=A,Type=Float,Description="AF">
        |##INFO=<ID=AF_nfe,Number=A,Type=Float,Description="">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO
        |chr1	200	rs2	C	T	50	PASS	AF=0.2;AF_nfe=0.6
        |""".stripMargin)
    Graft.run(spark, Array("import-frequencies", partial.toString, "--db", db,
      "--source", "tiny_panel"))
    val v2 = spark.read.parquet(s"$db/variants")
    val rs1b = v2.filter($"rs_id" === "rs1").head()
    assert(rs1b.getAs[Double]("popmax_af") == 0.2)               // preserved
    assert(rs1b.getAs[String]("popmax_population") == "AFR")
    val rs2b = v2.filter($"rs_id" === "rs2").head()
    assert(rs2b.getAs[Double]("popmax_af") == 0.6)               // updated
  }

  test("init-db creates the layout and an empty ledger the first load appends to") {
    val db = Files.createTempDirectory("graftdb").toString + "/sub"
    Graft.run(spark, Array("init-db", "--db", db))
    assert(new java.io.File(s"$db/views").isDirectory)
    // empty but schema-correct: readable, zero rows, has the status column
    val ledger0 = spark.read.parquet(s"$db/ledger")
    assert(ledger0.count() == 0 && ledger0.columns.contains("status"))
    // ad-hoc SQL right after init-db works with no variants loaded yet
    Graft.run(spark, Array("annotation-query",
      "SELECT count(*) AS n FROM ledger", "--db", db))
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == 1)
  }

  test("studies coexist per-accession; re-import replaces, not duplicates; export scopes by --study") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    val dir = Files.createTempDirectory("gwas")
    val tsvA = dir.resolve("a.tsv"); val tsvB = dir.resolve("b.tsv")
    Files.write(tsvA, java.util.Arrays.asList(
      "CHR\tPOS\tEA\tOA\tPVAL\tBETA\tSE\tEAF\tSNP",
      "1\t752566\tA\tG\t1e-8\t0.05\t0.01\t0.25\trs3094315",
      "1\t752721\tG\tA\t1e-6\t0.02\t0.01\t0.40\trs3131972"))
    Files.write(tsvB, java.util.Arrays.asList(
      "CHR\tPOS\tEA\tOA\tPVAL\tBETA\tSE\tEAF\tSNP",
      "1\t752566\tA\tG\t1e-4\t0.01\t0.01\t0.25\trs3094315"))
    Graft.run(spark, Array("import-gwas", tsvA.toString, "--db", db,
      "--study-accession", "GCST_A", "--trait", "Height",
      "--sample-size", "1000"))
    // per-study imports are O(import), not O(table): every import lands
    // as new study-stamped files, so importing (or re-importing) one
    // study must leave every other study's files byte-identical — the
    // `DELETE WHERE study_id` + INSERT shape, not a table rewrite
    def inventory(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$db/gwas_stats"))
        .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
    }
    val invA = inventory()
    Graft.run(spark, Array("import-gwas", tsvB.toString, "--db", db,
      "--study-accession", "GCST_B"))
    val invAB = inventory()
    invA.foreach { case (p, id) =>
      assert(invAB.get(p).contains(id),
        s"importing study B rewrote study A's file $p")
    }
    val st = spark.read.parquet(s"$db/gwas_stats")
    assert(st.filter($"study_accession" === "GCST_A").count() == 2)
    assert(st.filter($"study_accession" === "GCST_B").count() == 1)
    // re-import study A: its rows are replaced, B's files untouched
    Graft.run(spark, Array("import-gwas", tsvA.toString, "--db", db,
      "--study-accession", "GCST_A"))
    val inv2 = inventory()
    invAB.filterNot { case (p, _) => invA.contains(p) }.foreach {
      case (p, id) =>
        assert(inv2.get(p).contains(id),
          s"re-importing study A rewrote study B's file $p")
    }
    assert(invA.keySet.intersect(inv2.keySet).isEmpty,
      "re-importing study A must replace its own files")
    val st2 = spark.read.parquet(s"$db/gwas_stats")
    assert(st2.filter($"study_accession" === "GCST_A").count() == 2)
    assert(st2.filter($"study_accession" === "GCST_B").count() == 1)
    // compaction clusters gwas_stats on study_accession (content
    // unchanged), and the per-study surgical replace still works on the
    // compacted layout
    Graft.run(spark, Array("compact", "--db", db, "--tables", "gwas_stats"))
    val stc = spark.read.parquet(s"$db/gwas_stats")
    assert(stc.filter($"study_accession" === "GCST_A").count() == 2)
    assert(stc.filter($"study_accession" === "GCST_B").count() == 1)
    Graft.run(spark, Array("import-gwas", tsvB.toString, "--db", db,
      "--study-accession", "GCST_B"))
    val stc2 = spark.read.parquet(s"$db/gwas_stats")
    assert(stc2.filter($"study_accession" === "GCST_A").count() == 2)
    assert(stc2.filter($"study_accession" === "GCST_B").count() == 1)
    // registry: one row per study, metadata kept
    val reg = spark.read.parquet(s"$db/studies")
    assert(reg.count() == 2)
    assert(reg.filter($"study_accession" === "GCST_A")
      .head().getAs[Long]("n_matched") == 2)
    Graft.run(spark, Array("list-studies", "--db", db))
    Graft.run(spark, Array("list-studies", "--db", db, "--json"))
    // export scoped to study B sees one row
    val out = Files.createTempDirectory("exp").resolve("b.txt").toString
    Graft.run(spark, Array("export-plink", out, "--db", db,
      "--study", "GCST_B"))
    assert(spark.read.option("sep", "\t").option("header", "true")
      .csv(out).count() == 1)
  }

  test("verbs on absent tables answer with their contract, not a path error") {
    val db = Files.createTempDirectory("graftdb").toString
    // a SAMPLE-FREE load: no genotypes table is ever created
    val vcf = Files.createTempDirectory("nos").resolve("n.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 50, samples = Seq.empty)
    Graft.run(spark, Array("load", vcf, "--db", db))
    val e1 = intercept[RuntimeException] {
      Graft.run(spark, Array("compute-sample-qc", "--db", db))
    }
    assert(e1.getMessage.contains("no genotypes table"), e1.getMessage)
    val out = Files.createTempDirectory("exp").resolve("x.txt").toString
    val e2 = intercept[RuntimeException] {
      Graft.run(spark, Array("export-plink", out, "--db", db))
    }
    assert(e2.getMessage.contains("no gwas_stats table"), e2.getMessage)
    val e3 = intercept[RuntimeException] {
      Graft.run(spark, Array("annotate", "--db", db, "--anno", "nope"))
    }
    assert(e3.getMessage.contains("unknown annotation source 'nope'"),
      e3.getMessage)
  }

  test("exports ship beta AS IMPORTED: no invented ln(OR) fallback for OR-only rows") {
    // every reference export selects g.beta WHERE beta IS NOT NULL and
    // never derives beta from odds_ratio — an OR-only study exports
    // ZERO rows to beta-keyed formats rather than silently shipping
    // ln(OR) under the BETA header
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    val dir = Files.createTempDirectory("gwas")
    val tsv = dir.resolve("or_only.tsv")
    Files.write(tsv, java.util.Arrays.asList(
      "CHR\tPOS\tEA\tOA\tPVAL\tOR\tSE\tEAF\tSNP",
      "1\t752566\tA\tG\t1e-8\t1.12\t0.01\t0.25\trs3094315"))
    Graft.run(spark, Array("import-gwas", tsv.toString, "--db", db,
      "--study-accession", "GCST_OR"))
    val st = spark.read.parquet(s"$db/gwas_stats")
      .filter($"study_accession" === "GCST_OR").head()
    assert(st.isNullAt(st.fieldIndex("beta")))
    assert(math.abs(st.getAs[Double]("odds_ratio") - 1.12) < 1e-12)
    val out = Files.createTempDirectory("exp").resolve("or.txt").toString
    Graft.run(spark, Array("export-plink", out, "--db", db,
      "--study", "GCST_OR"))
    assert(spark.read.option("sep", "\t").option("header", "true")
      .csv(out).count() == 0, "OR-only rows must not export a derived beta")
  }

  test("genotyped load QC equals VariantQc.fromGenotypes over the stored genotype rows") {
    // the QC columns fold from each line's sample columns inside the
    // variants parse; the independent answer is the A1 aggregate over
    // the genotype rows the same load stored. --no-normalize keeps the
    // variants' alleles raw, as the genotypes table keeps them, so the
    // two key on the same (chrom, pos, ref, alt).
    val vcf = Files.createTempDirectory("qcfold").resolve("a.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 1500, samples = Seq("S1", "S2", "S3", "S4"),
      seed = 7700L)
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes",
      "--no-normalize"))
    val keys = Seq("chrom", "pos", "ref", "alt")
    val qcCols = graft.qc.VariantQc.joinedColumns.map(_._1)
    def byKey(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("chrom", $"chrom".cast("string"))
        .select((keys ++ qcCols).map(org.apache.spark.sql.functions.col): _*)
        .collect().map(r => r.toSeq.take(4) -> r).toMap
    val stored = byKey(spark.read.parquet(s"$db/variants"))
    val expected = byKey(graft.qc.VariantQc.fromGenotypes(
      spark.read.parquet(s"$db/genotypes")
        .withColumn("chrom", $"chrom".cast("string"))))
    assert(stored.size == expected.size && stored.size >= 1500)
    assert(stored.values.exists(r => r.getAs[Int]("n_het") > 0))
    // Row equality takes NaN as equal to NaN (the n_called = 0 rows)
    stored.foreach { case (k, r) =>
      assert(expected.get(k).contains(r), s"$k: stored $r, expected ${expected.get(k)}")
    }
  }

  test("phi-scan reports findings standalone; phi-sanitize writes a clean copy") {
    val dir = Files.createTempDirectory("phicli")
    val vcf = dir.resolve("p.vcf").toString
    Files.writeString(java.nio.file.Paths.get(vcf),
      """##fileformat=VCFv4.2
        |##source=pipeline run by jsmith@hospital.org on 2023-01-15
        |##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO
        |chr1	100	MRN:445566	A	G	50	PASS	DP=10
        |""".stripMargin)
    val out1 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out1)) {
      Graft.run(spark, Array("phi-scan", vcf))
    }
    val s1 = out1.toString
    assert(s1.contains("PHI detected"), s1)
    assert(s1.contains("email") && s1.contains("mrn"), s1)
    // sanitize: headers redacted, data lines byte-identical
    val cleaned = dir.resolve("clean.vcf").toString
    Graft.run(spark, Array("phi-sanitize", vcf, "--output", cleaned))
    val lines = Files.readAllLines(java.nio.file.Paths.get(cleaned))
    assert(!lines.get(1).contains("jsmith@hospital.org"), lines.get(1))
    assert(lines.get(1).contains("[REDACTED]"))
    assert(lines.get(4).contains("MRN:445566"), "data lines must pass through")
    // the sanitized file still parses
    assert(graft.vcf.VcfReader.variants(spark, cleaned).count() == 1)
    // preview prints the plan without writing anything
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      Graft.run(spark, Array("phi-sanitize", vcf, "--preview"))
    }
    assert(out2.toString.contains("Items to sanitize"), out2.toString)
    // no --output and no --preview: sanitized content goes to STDOUT,
    // the reference's default face (`cli.py:5570-5572`)
    val outStd = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outStd)) {
      Graft.run(spark, Array("phi-sanitize", vcf))
    }
    val stdS = outStd.toString
    assert(stdS.contains("[REDACTED]") && !stdS.contains("jsmith@hospital.org"),
      stdS)
    assert(stdS.contains("MRN:445566"), "data lines pass through to stdout")
    // a clean file scans clean
    val cleanScan = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(cleanScan)) {
      Graft.run(spark, Array("phi-scan", cleaned))
    }
    assert(cleanScan.toString.contains("PHI detected"),
      "the MRN-style ID column finding must survive sanitize (headers-only)")
  }

  test("phi-report / phi-stats / phi-patterns verbs answer from the ledger and registry") {
    val dir = Files.createTempDirectory("phirep")
    val vcf = dir.resolve("p.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 50, seed = 31L)
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", vcf, "--db", db, "--phi-scan",
      "--anonymize"))
    val batch = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").head().getAs[String]("load_batch_id")
    def captured(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    val rep = captured(Array("phi-report", batch, "--db", db))
    assert(rep.contains("phi_scan"), rep)
    val e = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-report", "nope", "--db", db))
    }
    assert(e.getMessage.contains("Load batch not found"), e.getMessage)
    val stats = captured(Array("phi-stats", "--db", db))
    assert(stats.contains("anonymized_sample_ids=2"), stats) // S1, S2 anon
    assert(stats.contains("loads_scanned=1"), stats)
    val pats = captured(Array("phi-patterns-list"))
    assert(pats.contains("ssn") && pats.contains("email"), pats)
    val hit = captured(Array("phi-patterns-test",
      "--pattern", "MRN\\d+", "--input", "id MRN445 rest"))
    assert(hit.contains("match: MRN445"), hit)
    val miss = captured(Array("phi-patterns-test",
      "--pattern", "XYZ", "--input", "abc"))
    assert(miss.contains("no match"), miss)
    val bad = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-patterns-test",
        "--pattern", "(", "--input", "abc"))
    }
    assert(bad.getMessage.contains("Invalid regex pattern"), bad.getMessage)
  }

  test("phi-patterns-add persists a custom pattern that later scans detect") {
    val dir = Files.createTempDirectory("phiadd")
    val db = dir.resolve("db").toString
    val vcf = dir.resolve("c.vcf").toString
    // SECRETTOKEN-1234 matches no builtin pattern — only the custom one
    Files.writeString(java.nio.file.Paths.get(vcf),
      """##fileformat=VCFv4.2
        |##source=exported with key SECRETTOKEN-1234
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO
        |chr1	100	.	A	G	50	PASS	DP=10
        |""".stripMargin)
    def captured(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    // before add: scan is clean (builtins don't know the token shape)
    val before = captured(Array("phi-scan", vcf, "--db", db))
    assert(before.contains("No PHI detected"), before)
    // validation mirrors the reference: bad severity and bad regex are
    // rejected before anything is written (`cli.py:5840-5855`)
    val badSev = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-patterns-add", "--db", db,
        "--name", "x", "--pattern", "a+", "--severity", "urgent"))
    }
    assert(badSev.getMessage.contains("Invalid severity"), badSev.getMessage)
    val badRe = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-patterns-add", "--db", db,
        "--name", "x", "--pattern", "(", "--severity", "high"))
    }
    assert(badRe.getMessage.contains("Invalid regex pattern"), badRe.getMessage)
    assert(!new java.io.File(s"$db/phi_patterns.toml").exists(),
      "failed validation must not write the registry")
    // add → list → scan round trip
    Graft.run(spark, Array("phi-patterns-add", "--db", db,
      "--name", "secret_token", "--pattern", """SECRETTOKEN-\d+""",
      "--severity", "critical", "--description", "export token"))
    val listed = captured(Array("phi-patterns-list", "--db", db))
    assert(listed.contains("secret_token") && listed.contains("ssn"), listed)
    val onlyCrit = captured(Array("phi-patterns-list", "--db", db,
      "--severity", "critical"))
    assert(onlyCrit.contains("secret_token") && !onlyCrit.contains("email"),
      onlyCrit)
    val after = captured(Array("phi-scan", vcf, "--db", db))
    assert(after.contains("PHI detected") && after.contains("secret_token"),
      after)
    assert(after.contains("critical: 1"), after) // severity summary resolves
    // the same per-db registry gates the load path
    val e = intercept[RuntimeException] {
      Graft.run(spark, Array("load", vcf, "--db", db, "--fail-on-phi"))
    }
    assert(e.getMessage.contains("PHI detected"), e.getMessage)
    // a second add appends, not clobbers; explicit --patterns-config works
    Graft.run(spark, Array("phi-patterns-add", "--db", db,
      "--name", "tok2", "--pattern", "ZZ\\d+", "--severity", "low",
      "--ignore-case"))
    val pats = graft.transform.PhiPatternRegistry.load(s"$db/phi_patterns.toml")
    assert(pats.map(_.name) == Seq("secret_token", "tok2"), pats)
    assert(pats(1).regex.findFirstIn("zz42").isDefined, "--ignore-case folds in")
    val viaCfg = captured(Array("phi-patterns-list",
      "--patterns-config", s"$db/phi_patterns.toml"))
    assert(viaCfg.contains("tok2"), viaCfg)
    // loading a missing config is the reference's FileNotFoundError
    val nf = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-scan", vcf,
        "--patterns-config", dir.resolve("nope.toml").toString))
    }
    assert(nf.getMessage.contains("Pattern config not found"), nf.getMessage)
    // an explicit --phi-patterns-config on load reaches ANOTHER db's scan
    // (no per-db registry there), same merge semantics
    val db2 = dir.resolve("db2").toString
    val e2 = intercept[RuntimeException] {
      Graft.run(spark, Array("load", vcf, "--db", db2, "--fail-on-phi",
        "--phi-patterns-config", s"$db/phi_patterns.toml"))
    }
    assert(e2.getMessage.contains("PHI detected"), e2.getMessage)
    Graft.run(spark, Array("load", vcf, "--db", db2, "--phi-scan"))
    val note2 = spark.read.parquet(s"$db2/ledger")
      .filter($"status" === "completed").head().getAs[String]("note")
    assert(note2 == "phi_scan: clean",
      s"without the config the builtin scan must stay clean: $note2")
    // load accepts the phi verbs' flag spelling too — the common spelling
    // silently no-opping would be a PHI-gate bypass (fresh db: a skip-by-
    // hash return would bypass the scan before the flag could matter)
    val e3 = intercept[RuntimeException] {
      Graft.run(spark, Array("load", vcf, "--db",
        dir.resolve("db3").toString, "--fail-on-phi",
        "--patterns-config", s"$db/phi_patterns.toml"))
    }
    assert(e3.getMessage.contains("PHI detected"), e3.getMessage)
    // changing the detection configuration is db state: it runs under
    // the writer lock and lands a chained audit row like other mutations
    val audit = spark.read.parquet(s"$db/audit_log")
    assert(audit.filter($"event_type" === "phi-patterns-add").count() >= 1,
      "phi-patterns-add must be audit-logged")
    // without --db and without --patterns-config there is no explicit
    // destination — refuse rather than write into the shared default db
    val e4 = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-patterns-add", "--name", "x",
        "--pattern", "y", "--severity", "high"))
    }
    assert(e4.getMessage.contains("refusing"), e4.getMessage)
    // a severity typo on list errors instead of printing '0 total'
    val e5 = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-patterns-list", "--db", db,
        "--severity", "hi"))
    }
    assert(e5.getMessage.contains("Invalid severity"), e5.getMessage)
  }

  test("custom pattern reusing a builtin name REPLACES it, custom wins") {
    // the reference's registry is a name-keyed dict (add_pattern
    // last-wins): overriding builtin 'mrn' means the builtin regex no
    // longer runs (no double counts) and the custom severity labels the
    // summary (no mislabel from the shadowed builtin)
    val dir = Files.createTempDirectory("phioverride")
    val db = dir.resolve("db").toString
    val vcf = dir.resolve("o.vcf").toString
    Files.writeString(java.nio.file.Paths.get(vcf),
      """##fileformat=VCFv4.2
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO
        |chr1	100	MRN:777	A	G	50	PASS	DP=10
        |chr1	200	XMRNX-42	A	G	50	PASS	DP=10
        |""".stripMargin)
    def captured(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    Graft.run(spark, Array("phi-patterns-add", "--db", db,
      "--name", "mrn", "--pattern", """XMRNX-\d+""",
      "--severity", "low", "--description", "site-local mrn shape"))
    // exactly one mrn pattern listed, the custom one
    val listed = captured(Array("phi-patterns-list", "--db", db))
    val mrnRows = listed.linesIterator.filter(_.contains("\tmrn\t")).toSeq
    assert(mrnRows.length == 1, listed)
    assert(mrnRows.head.startsWith("low") &&
      mrnRows.head.contains("XMRNX"), listed)
    // the scan runs ONLY the custom regex for the category: the
    // builtin-shaped MRN:777 is NOT detected, XMRNX-42 is, and the
    // severity summary resolves to the custom 'low'
    val scan = captured(Array("phi-scan", vcf, "--db", db))
    assert(scan.contains("PHI detected: 1 finding(s)"), scan)
    assert(scan.contains("mrn: 1"), scan)
    assert(scan.contains("low: 1") && !scan.contains("critical: 1"), scan)
    // without the override the builtin still fires (control)
    val plain = captured(Array("phi-scan", vcf))
    assert(plain.contains("mrn: 1") && plain.contains("critical: 1"), plain)
  }

  test("hand-edited registry entry missing its pattern key errors loudly") {
    // an absent pattern key would otherwise compile the empty regex,
    // which zero-width-matches at every character position and floods
    // the scan with empty detections
    val dir = Files.createTempDirectory("phibadreg")
    val cfg = dir.resolve("phi_patterns.toml").toString
    Files.writeString(java.nio.file.Paths.get(cfg),
      """[[patterns]]
        |name = "nopattern"
        |severity = "high"
        |description = "edited by hand"
        |""".stripMargin)
    val e = intercept[RuntimeException] {
      graft.transform.PhiPatternRegistry.load(cfg)
    }
    assert(e.getMessage.contains("missing pattern"), e.getMessage)
    // and the add verb refuses an explicitly empty pattern
    val e2 = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-patterns-add",
        "--patterns-config", cfg,
        "--name", "x", "--pattern", "", "--severity", "high"))
    }
    assert(e2.getMessage.contains("Invalid regex pattern"), e2.getMessage)
  }

  test("phi-patterns-add with an explicit config under --db is mutating") {
    // --patterns-config $DB/phi_patterns.toml targets the same per-db
    // registry the implicit path does: it must take the writer lock and
    // land an audit row, or a concurrent locked add can lose a pattern
    // to this one's unserialized read-modify-write
    val dir = Files.createTempDirectory("phimut")
    val db = dir.resolve("db").toString
    Graft.run(spark, Array("phi-patterns-add", "--db", db,
      "--patterns-config", s"$db/phi_patterns.toml",
      "--name", "t1", "--pattern", "T1-\\d+", "--severity", "high"))
    val audit = spark.read.parquet(s"$db/audit_log")
    assert(audit.filter($"event_type" === "phi-patterns-add").count() == 1,
      "in-db explicit config must be audit-logged like the implicit path")
    // a config OUTSIDE the db stays a standalone file utility: no new
    // audit row claims a db configuration change that never happened
    Graft.run(spark, Array("phi-patterns-add", "--db", db,
      "--patterns-config", dir.resolve("ext.toml").toString,
      "--name", "t2", "--pattern", "T2-\\d+", "--severity", "high"))
    assert(spark.read.parquet(s"$db/audit_log")
      .filter($"event_type" === "phi-patterns-add").count() == 1,
      "outside-db config must not audit-log against the db")
  }

  test("phi-scan --json emits the reference report shape; --no-scan-headers skips headers") {
    val dir = Files.createTempDirectory("phijson")
    val vcf = dir.resolve("j.vcf").toString
    Files.writeString(java.nio.file.Paths.get(vcf),
      """##fileformat=VCFv4.2
        |##source=pipeline run by jsmith@hospital.org
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO
        |chr1	100	MRN:445566	A	G	50	PASS	DP=10
        |""".stripMargin)
    def captured(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    val js = captured(Array("phi-scan", vcf, "--json")).trim
    // the reference's phi detect --json keys (`cli.py:5685-5712`)
    assert(js.startsWith("{") && js.endsWith("}"), js)
    for (k <- Seq("\"has_phi\":true", "\"risk_level\":\"critical\"",
        "\"records_scanned\":1", "\"records_total\":1",
        "\"sample_rate\":1.0", "\"summary\":", "\"severity_summary\":",
        "\"detections\":"))
      assert(js.contains(k), s"missing $k in: $js")
    // per-detection envelope: pattern/severity/location/line/masked_value
    assert(js.contains("\"pattern\":\"mrn\""), js)
    assert(js.contains("\"location\":\"ID\""), js)
    assert(js.contains("\"line\":4"), js) // data row is file line 4
    // masked_value keeps first/last 2 chars (`detector.py:31-37`)
    assert(js.contains("\"masked_value\":\"MR******66\""), js)
    assert(js.contains("\"pattern\":\"email\""), js)
    assert(js.contains("\"location\":\"HEADER\""), js)
    assert(js.contains("\"line\":2"), js) // header email is file line 2
    // it parses as JSON (python oracle-side scripting reads this)
    // minimal structural check: balanced quotes via the summary ints
    assert(js.contains("\"mrn\":1") && js.contains("\"email\":1"), js)
    assert(js.contains("\"critical\":1") && js.contains("\"high\":1"), js)
    // --no-scan-headers drops the header findings but keeps data rows
    val noHdr = captured(Array("phi-scan", vcf, "--json", "--no-scan-headers")).trim
    assert(noHdr.contains("\"pattern\":\"mrn\""), noHdr)
    assert(!noHdr.contains("\"location\":\"HEADER\""), noHdr)
    assert(!noHdr.contains("email"), noHdr)
    // text face: clean scan stays the reference's clean report
    val cleanVcf = dir.resolve("c.vcf").toString
    Files.writeString(java.nio.file.Paths.get(cleanVcf),
      """##fileformat=VCFv4.2
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO
        |chr1	100	.	A	G	50	PASS	DP=10
        |""".stripMargin)
    val cleanJs = captured(Array("phi-scan", cleanVcf, "--json")).trim
    assert(cleanJs.contains("\"has_phi\":false") &&
      cleanJs.contains("\"risk_level\":\"none\"") &&
      cleanJs.contains("\"detections\":[]"), cleanJs)
  }

  test("phi-scan honors --sample-rate and --max-records") {
    val dir = Files.createTempDirectory("phisample")
    val vcf = dir.resolve("s.vcf").toString
    val rows = (1 to 60).map(i =>
      s"chr1\t${100 + i}\tMRN:99$i\tA\tG\t50\tPASS\tDP=$i").mkString("\n")
    Files.writeString(java.nio.file.Paths.get(vcf),
      "##fileformat=VCFv4.2\n" +
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" + rows + "\n")
    def captured(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    def scanned(s: String): (Long, Long) = {
      val m = """Records scanned: (\d+) / (\d+)""".r.findFirstMatchIn(s)
        .getOrElse(fail(s"no scanned line in: $s"))
      (m.group(1).toLong, m.group(2).toLong)
    }
    // defaults match the reference's phi detect: every record scanned
    val full = captured(Array("phi-scan", vcf))
    assert(scanned(full) == ((60L, 60L)), full)
    assert(full.contains("mrn: 60"), full)
    // --max-records caps the scanned count, total still reports the file
    val capped = captured(Array("phi-scan", vcf, "--max-records", "10"))
    assert(scanned(capped) == ((10L, 60L)), capped)
    assert(capped.contains("mrn: 10"), capped)
    // --sample-rate draws a strict subset (seeded, so stable across runs)
    val sampledOut = captured(Array("phi-scan", vcf, "--sample-rate", "0.2"))
    val (ns, nt) = scanned(sampledOut)
    assert(nt == 60L && ns > 0L && ns < 60L, sampledOut)
    // rate draw composes with the cap: scanned <= max
    val both = captured(Array("phi-scan", vcf,
      "--sample-rate", "0.5", "--max-records", "5"))
    assert(scanned(both)._1 <= 5L, both)
    // knob validation
    val bad = intercept[RuntimeException] {
      Graft.run(spark, Array("phi-scan", vcf, "--sample-rate", "1.5"))
    }
    assert(bad.getMessage.contains("--sample-rate"), bad.getMessage)
  }

  test("per-key replace validates the incoming batch BEFORE dropping the key") {
    // the reference's DELETE + INSERT runs in one transaction; here the
    // protection is ordering — the incoming plan's first execution (its
    // cache-and-count) must happen before dropKeyFiles destroys the
    // key's prior rows, so a malformed import input fails with the
    // store intact rather than after its study vanished
    import org.apache.spark.sql.functions.{lit, udf}
    val dir = Files.createTempDirectory("rbk").toString + "/t"
    Seq(("GCST_A", 1L), ("GCST_A", 2L), ("GCST_B", 9L)).toDF("k", "v")
      .write.mode("append").parquet(dir)
    val boom = udf((i: Long) =>
      if (i >= 0) sys.error("malformed import") else i)
    val bad = spark.range(1)
      .select(lit("GCST_A").as("k"), boom($"id").as("v"))
    val e = intercept[Exception] {
      graft.sinks.WritePlan.land(spark, graft.sinks.WritePlan.plain(dir), bad, Seq("k" -> "GCST_A"))
    }
    assert(e.getMessage != null)
    val back = spark.read.parquet(dir)
    assert(back.filter($"k" === "GCST_A").count() == 2,
      "failed import destroyed the key's prior rows")
    assert(back.filter($"k" === "GCST_B").count() == 1)
    // and a clean replace still lands
    val good = Seq(("GCST_A", 7L)).toDF("k", "v")
    graft.sinks.WritePlan.land(spark, graft.sinks.WritePlan.plain(dir), good, Seq("k" -> "GCST_A"))
    val after = spark.read.parquet(dir)
    assert(after.filter($"k" === "GCST_A").collect()
      .map(_.getAs[Long]("v")).toSeq == Seq(7L))
    assert(after.filter($"k" === "GCST_B").count() == 1)
  }

  test("import-pgs registers the score; list verbs answer on empty and populated dbs") {
    val db = Files.createTempDirectory("graftdb").toString
    // empty db: listings answer without error
    Graft.run(spark, Array("list-pgs", "--db", db))
    Graft.run(spark, Array("list-annotations", "--db", db, "--json"))
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    Graft.run(spark, Array("import-pgs", fixture("pgs_test_beta.txt"), "--db", db))
    val reg = spark.read.parquet(s"$db/pgs_scores")
    assert(reg.count() == 1)
    val row = reg.head()
    assert(row.getAs[Long]("weight_count") > 0)
    assert(row.getAs[Long]("matched_count") > 0)
    // re-import: registry upserts, weights replaced not duplicated
    val w0 = spark.read.parquet(s"$db/prs_weights").count()
    Graft.run(spark, Array("import-pgs", fixture("pgs_test_beta.txt"), "--db", db))
    assert(spark.read.parquet(s"$db/pgs_scores").count() == 1)
    assert(spark.read.parquet(s"$db/prs_weights").count() == w0)
    Graft.run(spark, Array("list-pgs", "--db", db, "--json"))
    // annotation registry via load-annotation
    val cfgPath = Files.createTempDirectory("annocfg").resolve("cfg.json")
    Files.write(cfgPath, java.util.Arrays.asList(
      """[{"field": "FILTER", "alias": "flt", "missing_string": "PASS"}]"""))
    Graft.run(spark, Array("load-annotation", fixture("multiallelic.vcf"),
      "--name", "srcA", "--config", cfgPath.toString, "--db", db,
      "--version", "v1"))
    val areg = spark.read.parquet(s"$db/annotation_sources")
    assert(areg.count() == 1)
    assert(areg.head().getAs[String]("version") == "v1")
    assert(areg.head().getAs[Long]("variant_count") > 0)
    Graft.run(spark, Array("list-annotations", "--db", db))
  }

  test("load --adj-filter / --dosage-only / --imputation-source / --report") {
    val dir = Files.createTempDirectory("loadflags")
    def writeVcf(name: String, body: String): String = {
      val p = dir.resolve(name)
      Files.writeString(p,
        """##fileformat=VCFv4.2
          |##INFO=<ID=DR2,Number=A,Type=Float,Description="dosage r2">
          |##INFO=<ID=IMP,Number=0,Type=Flag,Description="imputed">
          |##FORMAT=<ID=GT,Number=1,Type=String,Description="gt">
          |##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="gq">
          |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="dp">
          |##FORMAT=<ID=AD,Number=R,Type=Integer,Description="ad">
          |##FORMAT=<ID=DS,Number=A,Type=Float,Description="ds">
          |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	S1	S2
          |""".stripMargin + body)
      p.toString
    }
    // ADJ truth per call (`genotype_loader.py:140-172`): S1@100 het
    // passes (GQ30 DP20 AB .5); S2@100 fails GQ<20; S1@200 hom fails
    // DP<10; S2@200 hom-ref passes (AB irrelevant for homs)
    val vcf = writeVcf("adj.vcf",
      "chr1\t100\t.\tA\tG\t50\tPASS\tDR2=0.95;IMP\tGT:GQ:DP:AD:DS\t" +
        "0/1:30:20:10,10:1.0\t0/1:10:20:10,10:0.9\n" +
      "chr1\t200\t.\tC\tT\t50\tPASS\tDR2=0.2\tGT:GQ:DP:AD:DS\t" +
        "1/1:30:5:0,10:2.0\t0/0:99:30:30,0:0.1\n")

    val dbAdj = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", vcf, "--db", dbAdj, "--adj-filter",
      "--store-genotypes", "--no-anonymize"))
    val gAdj = spark.read.parquet(s"$dbAdj/genotypes")
    assert(gAdj.count() == 2, gAdj.collect().mkString("\n"))
    assert(gAdj.filter($"passes_adj").count() == 2)
    assert(gAdj.filter($"pos" === 100 && $"sample_id" === "S2").isEmpty)
    assert(gAdj.filter($"pos" === 200 && $"sample_id" === "S1").isEmpty)

    // dosage-only: hard-call fields nulled, dosage + GP/DS sources kept
    // (`genotype_loader.py:288-293`); variants unaffected
    val dbDos = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", vcf, "--db", dbDos, "--dosage-only",
      "--store-genotypes", "--no-anonymize"))
    val gDos = spark.read.parquet(s"$dbDos/genotypes")
    assert(gDos.count() == 4)
    // a dosage-only store holds no hard calls, so the variants' QC
    // columns must stay NULL (the reference's unfilled defaults) — an
    // aggregate over the nulled rows would persist call_rate=0 claims
    // the source data contradicts
    assert(spark.read.parquet(s"$dbDos/variants")
      .filter($"n_called".isNotNull || $"call_rate".isNotNull).isEmpty)
    assert(gDos.filter($"gt" =!= "." || $"phased" ||
      $"gq".isNotNull || $"dp".isNotNull || $"ad".isNotNull ||
      $"a1".isNotNull || $"allele_balance".isNotNull).isEmpty)
    assert(gDos.filter($"dosage".isNull).isEmpty)
    assert(gDos.filter($"pos" === 100 && $"sample_id" === "S1")
      .head().getAs[Double]("dosage") == 1.0)

    // auto-detection sniffs the ##INFO=<ID=DR2 line as beagle
    // (`parsers/imputation.py:106-107`) and fills the metrics...
    val vAuto = spark.read.parquet(s"$dbDos/variants")
    assert(vAuto.filter($"imputation_source" === "beagle").count() == 2)
    assert(vAuto.filter($"pos" === 100).head()
      .getAs[Double]("info_score") == 0.95)
    assert(vAuto.filter($"pos" === 100).head().getAs[Boolean]("is_imputed"))
    // ...and --imputation-source OVERRIDES the sniff with another tool's
    // vocabulary (impute2 reads INFO/INFO, absent here → null scores)
    val dbImp = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", vcf, "--db", dbImp,
      "--imputation-source", "impute2"))
    val vImp = spark.read.parquet(s"$dbImp/variants")
    assert(vImp.filter($"imputation_source" === "impute2").count() == 2)
    assert(vImp.filter($"info_score".isNotNull).count() == 0)
    // vocabulary is validated like the reference's Enum
    intercept[RuntimeException] {
      Graft.run(spark, Array("load", vcf, "--db", dbImp,
        "--imputation-source", "dragen", "--force-reload"))
    }

    // an explicit genotype-storage flag without --store-genotypes warns
    // instead of vanishing silently (storage became opt-in this round)
    def capturedF(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    val dbNoG = Files.createTempDirectory("graftdb").toString
    val warnOut = capturedF(Array("load", vcf, "--db", dbNoG, "--adj-filter"))
    assert(warnOut.contains("needs --store-genotypes"), warnOut)
    assert(!new java.io.File(s"$dbNoG/genotypes").exists())

    // --report: the reference's JSON shapes for success and skip
    // (`cli.py:458-497`), --sample-id feeding only the report
    val dbRep = Files.createTempDirectory("graftdb").toString
    val rep1 = dir.resolve("r1.json").toString
    Graft.run(spark, Array("load", vcf, "--db", dbRep,
      "--imputation-source", "beagle", "--min-info-score", "0.5",
      "--report", rep1, "--sample-id", "COHORT_A"))
    val r1 = Files.readString(java.nio.file.Paths.get(rep1))
    assert(r1.contains("\"status\": \"success\""), r1)
    assert(r1.contains("\"variants_loaded\": 1"), r1) // DR2=0.2 row dropped
    assert(r1.contains("\"variants_skipped\": 1"), r1)
    assert(r1.contains("\"file_hash\": \""), r1)
    assert(r1.contains("\"sample_id\": \"COHORT_A\""), r1)
    assert(r1.contains("\"elapsed_seconds\": "), r1)
    assert(r1.contains("\"vcf_file\": "), r1)
    // anonymization defaults ON (`cli.py:299-302`): even without genotype
    // storage, the header-derived sample mapping lands in the vault
    val vaultRep = spark.read.parquet(s"$dbRep/phi_vault/sample_id_mapping")
    assert(vaultRep.count() == 2)
    assert(vaultRep.filter(!$"anon_id".startsWith("ANON_")).isEmpty)
    val batchId = spark.read.parquet(s"$dbRep/ledger")
      .filter($"status" === "completed").head()
      .getAs[String]("load_batch_id")
    assert(r1.contains(s""""load_batch_id": "$batchId""""), r1)
    // skip shape carries the PREVIOUS batch id
    val rep2 = dir.resolve("r2.json").toString
    Graft.run(spark, Array("load", vcf, "--db", dbRep,
      "--imputation-source", "beagle", "--min-info-score", "0.5",
      "--report", rep2))
    val r2 = Files.readString(java.nio.file.Paths.get(rep2))
    assert(r2.contains("\"status\": \"skipped\""), r2)
    assert(r2.contains("\"variants_loaded\": 0"), r2)
    assert(r2.contains(s""""load_batch_id": "$batchId""""), r2)
    // default sample_id = file stem (Path.stem: last suffix stripped)
    assert(r2.contains("\"sample_id\": \"adj\""), r2)
  }

  test("load sanitize-headers defaults on; --no-hipaa-mode turns compliance off") {
    val dir = Files.createTempDirectory("sanhdr")
    val vcf = dir.resolve("h.vcf").toString
    Files.writeString(java.nio.file.Paths.get(vcf),
      """##fileformat=VCFv4.2
        |##source=run by jsmith@hospital.org
        |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	S1
        |chr1	100	.	A	G	50	PASS	DP=10	GT	0/1
        |""".stripMargin)
    def captured(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    // default: the load reports header PHI (`loader.py:308-326`) and the
    // ledger note carries the header_sanitization clause phi-report serves
    val db = Files.createTempDirectory("graftdb").toString
    val out = captured(Array("load", vcf, "--db", db))
    assert(out.contains("header sanitization: detected"), out)
    val batch = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").head().getAs[String]("load_batch_id")
    val rep = captured(Array("phi-report", batch, "--db", db))
    assert(rep.contains("header_sanitization"), rep)
    // anonymize default wrote the vault for this sample-bearing file
    assert(spark.read.parquet(s"$db/phi_vault/sample_id_mapping").count() == 1)
    // --no-sanitize-headers drops the header scan only
    val db2 = Files.createTempDirectory("graftdb").toString
    val out2 = captured(Array("load", vcf, "--db", db2, "--no-sanitize-headers"))
    assert(!out2.contains("header sanitization"), out2)
    assert(new java.io.File(s"$db2/phi_vault").exists()) // anonymize still on
    // --no-hipaa-mode is the master off switch (`cli.py:352-359`):
    // no header scan AND no anonymization vault
    val db3 = Files.createTempDirectory("graftdb").toString
    val out3 = captured(Array("load", vcf, "--db", db3, "--no-hipaa-mode"))
    assert(!out3.contains("header sanitization"), out3)
    assert(!new java.io.File(s"$db3/phi_vault").exists())
  }

  test("audit-verify --json emits the IntegrityReport shape; dates window the report") {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db))
    Graft.run(spark, Array("load-reference", fixture("hapmap3_test.tsv"), "--db", db))
    def captured(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // whole-log report (`integrity.py:52-73` dict shape)
    val rep = om.readTree(captured(Array("audit-verify", "--db", db, "--json")))
    assert(rep.get("is_valid").asBoolean())
    assert(rep.get("total_entries").asInt() == 2)
    assert(rep.get("verified_entries").asInt() == 2)
    assert(rep.get("violation_count").asInt() == 0)
    assert(rep.get("coverage_percent").asDouble() == 100.0)
    assert(rep.get("first_entry_hash").asText().length == 64)
    assert(rep.get("last_entry_hash").asText().length == 64)
    // a window before any event reports zero entries, still valid
    val repW = om.readTree(captured(Array("audit-verify", "--db", db,
      "--json", "--start-date", "1970-01-01", "--end-date", "1970-01-02")))
    assert(repW.get("total_entries").asInt() == 0)
    assert(repW.get("is_valid").asBoolean())
    assert(repW.get("start_date").asText() == "1970-01-01")
    // text face names the window
    val txt = captured(Array("audit-verify", "--db", db,
      "--start-date", "1970-01-01", "--end-date", "1970-01-02"))
    assert(txt.contains("audit chain ok (0 entries in window 1970-01-01..1970-01-02)"), txt)
    // tampering: the JSON face still reports (is_valid false, the
    // reference's hash_mismatch vocabulary) and exits nonzero
    val tampered = spark.read.parquet(s"$db/audit_log")
      .withColumn("action", org.apache.spark.sql.functions.when(
        $"audit_id" === 1L, org.apache.spark.sql.functions.lit("doctored"))
        .otherwise($"action"))
    graft.sinks.WritePlan.rewrite(spark,
      graft.sinks.WritePlan.plain(s"$db/audit_log"), tampered)
    val out = new java.io.ByteArrayOutputStream()
    val e = intercept[RuntimeException] {
      Console.withOut(new java.io.PrintStream(out)) {
        Graft.run(spark, Array("audit-verify", "--db", db, "--json"))
      }
    }
    assert(e.getMessage.contains("FAILED"), e.getMessage)
    val repBad = om.readTree(out.toString)
    assert(!repBad.get("is_valid").asBoolean())
    assert(repBad.get("violation_count").asInt() >= 1)
    assert(repBad.get("violations").get(0).get("status").asText() == "hash_mismatch")
    // a DELETED entry is the other failure story: the successor's own
    // content verifies but its link target is gone — chain_broken, not
    // hash_mismatch (`integrity.py:14-18` vocabulary)
    val db2 = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", fixture("hapmap3_overlap.vcf"), "--db", db2))
    Graft.run(spark, Array("load-reference", fixture("hapmap3_test.tsv"), "--db", db2))
    Graft.run(spark, Array("refresh-views", "--db", db2))
    val spliced = spark.read.parquet(s"$db2/audit_log")
      .filter($"audit_id" =!= 2L)
    assert(spark.read.parquet(s"$db2/audit_log").count() >= 3)
    graft.sinks.WritePlan.rewrite(spark,
      graft.sinks.WritePlan.plain(s"$db2/audit_log"), spliced)
    val out2 = new java.io.ByteArrayOutputStream()
    intercept[RuntimeException] {
      Console.withOut(new java.io.PrintStream(out2)) {
        Graft.run(spark, Array("audit-verify", "--db", db2, "--json"))
      }
    }
    val repDel = om.readTree(out2.toString)
    assert(!repDel.get("is_valid").asBoolean())
    val vDel = repDel.get("violations").get(0)
    assert(vDel.get("status").asText() == "chain_broken", vDel.toString)
    assert(vDel.get("message").asText().contains("deleted"), vDel.toString)
  }

  test("compute-sample-qc scopes by --batch-id / --sample-id and upserts; --json rows") {
    val db = Files.createTempDirectory("graftdb").toString
    val dir = Files.createTempDirectory("sqcscope")
    val vA = dir.resolve("a.vcf").toString
    val vB = dir.resolve("b.vcf").toString
    graft.vcf.SyntheticVcf.write(vA, 300, samples = Seq("A1", "A2"), seed = 31L)
    graft.vcf.SyntheticVcf.write(vB, 300, samples = Seq("B1"), seed = 32L)
    Graft.run(spark, Array("load", vA, "--db", db,
      "--store-genotypes", "--no-anonymize"))
    Graft.run(spark, Array("load", vB, "--db", db,
      "--store-genotypes", "--no-anonymize"))
    val batches = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed")
      .select($"file_path", $"load_batch_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // batch scope: only that batch's samples land in sample_qc
    Graft.run(spark, Array("compute-sample-qc", "--db", db,
      "--batch-id", batches(vA)))
    val afterA = spark.read.parquet(s"$db/sample_qc")
    assert(afterA.select($"sample_id").collect().map(_.getString(0)).toSet ==
      Set("A1", "A2"))
    // sample scope UPSERTS: B1's row joins, A rows survive
    Graft.run(spark, Array("compute-sample-qc", "--db", db,
      "--sample-id", "B1"))
    val afterB = spark.read.parquet(s"$db/sample_qc")
    assert(afterB.select($"sample_id").collect().map(_.getString(0)).toSet ==
      Set("A1", "A2", "B1"))
    // re-running a scope replaces, never duplicates
    Graft.run(spark, Array("compute-sample-qc", "--db", db,
      "--sample-id", "B1"))
    assert(spark.read.parquet(s"$db/sample_qc").count() == 3)
    // --json: per-sample rows for the scope as a parseable array
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Graft.run(spark, Array("compute-sample-qc", "--db", db,
        "--sample-id", "B1", "--json"))
    }
    val arr = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.toString.linesIterator.find(_.startsWith("[")).get)
    assert(arr.size() == 1)
    assert(arr.get(0).get("sample_id").asText() == "B1")
    assert(arr.get(0).has("call_rate") && arr.get(0).has("qc_pass"))
  }

  test("benchmark --synthetic/--vcf quick face; --db adds loading; --json shape") {
    def captured(a: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, a) }
      out.toString
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def jsonLine(s: String) =
      om.readTree(s.linesIterator.find(_.startsWith("{\"vcf_path\"")).get)
    // parse-only (`benchmark.py:75-88` shape; no loading key without --db)
    val n1 = jsonLine(captured(Array(
      "benchmark", "--synthetic", "400", "--json")))
    assert(n1.get("variant_count").asLong() >= 400) // decomposition adds rows
    assert(n1.get("parsing").get("rate_per_second").asDouble() > 0)
    assert(n1.get("settings").get("synthetic").asBoolean())
    assert(n1.get("settings").get("normalized").asBoolean())
    assert(!n1.has("loading"))
    // --db: end-to-end load benchmark, loading key present and the data
    // actually landed
    val db = Files.createTempDirectory("benchdb").toString
    val n2 = jsonLine(captured(Array(
      "benchmark", "--synthetic", "400", "--db", db, "--json")))
    assert(n2.has("loading"), n2.toString)
    assert(n2.get("loading").get("rate_per_second").asDouble() > 0)
    assert(spark.read.parquet(s"$db/variants").count() ==
      n2.get("variant_count").asLong())
    // --vcf face over a real fixture; text face prints the two lines
    val txt = captured(Array(
      "benchmark", "--vcf", fixture("hapmap3_overlap.vcf")))
    assert(txt.contains("Parsing:") && !txt.contains("Loading:"), txt)
    // a missing --vcf input errors like the reference
    intercept[RuntimeException] {
      Graft.run(spark, Array("benchmark", "--vcf", "/no/such.vcf"))
    }
  }

  test("pipeline verbs: dedup/ann-topk/text-quality/media-features round trips") {
    import org.apache.spark.sql.functions._
    val db = Files.createTempDirectory("graftdb_pipe").toString
    // the p07/p15/p16 corpus shape: base docs + mutated near-dup tails
    val d = Tables(spark, sfDir).documents.filter($"doc_id" < 200)
    val mutated = d.filter($"doc_id" < 20)
      .select(($"doc_id" + 1000000).as("doc_id"),
        concat($"text", lit(" appended tail token")).as("text"))
    val corpus = d.select($"doc_id", $"text").union(mutated)
    val corpusDir =
      Files.createTempDirectory("graft_pipe_corpus").toString + "/docs"
    corpus.write.parquet(corpusDir)

    def jsonOut(args: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, args) }
      out.toString.linesIterator.filter(_.startsWith("{")).mkString("\n")
    }

    // ---- dedup --method minhash --staged: byte-identical to the
    // library composition the p15/p16/p17 oracle keys pin
    val dedupJson = jsonOut(Array("dedup", corpusDir, "--db", db,
      "--method", "minhash", "--staged", "--json"))
    val libPairs = graft.pipeline.Dedup.minhashCandidatePairs(corpus)
      .filter($"est_jaccard" >= 0.5)
    val libClusters = graft.pipeline.Dedup.clusterPairs(libPairs)
    val libKeep =
      graft.pipeline.Dedup.dropNearDuplicates(corpus, libClusters)
    def keyset(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(keyset(spark.read.parquet(s"$db/dedup_corpus")) == keyset(libKeep))
    assert(spark.read.parquet(s"$db/dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      libClusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // the staged signature relation landed under the db and matches the
    // library signatures bit-for-bit
    val sigs = spark.read.parquet(s"$db/dedup_signatures")
    val libSigs =
      graft.pipeline.Dedup.minhashSignatures(corpus, "text", "doc_id", 3, 64)
    assert(sigs.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSet ==
      libSigs.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSet)
    assert(dedupJson.contains("\"method\":\"minhash\""), dedupJson)
    // report arithmetic: kept + dropped = docs
    assert(dedupJson.contains(s""""docs":${corpus.count()}"""), dedupJson)

    // ---- dedup --method exact: kept set = exactDedup (p01's operator)
    val db2 = Files.createTempDirectory("graftdb_pipe_exact").toString
    // seed exact duplicates: copy 5 docs verbatim under new ids
    val withCopies = corpus.union(corpus.filter($"doc_id" < 5)
      .select(($"doc_id" + 2000000).as("doc_id"), $"text"))
    val exactDir =
      Files.createTempDirectory("graft_pipe_exact").toString + "/docs"
    withCopies.write.parquet(exactDir)
    jsonOut(Array("dedup", exactDir, "--db", db2, "--json"))
    assert(keyset(spark.read.parquet(s"$db2/dedup_corpus")) ==
      keyset(graft.pipeline.Dedup.exactDedup(withCopies)))
    // membership shape: the 5 copied docs cluster with their originals
    val exClusters = spark.read.parquet(s"$db2/dedup_clusters")
    assert(exClusters.filter($"doc_id" >= 2000000).count() == 5)
    assert(exClusters.filter($"cluster_id" >= 2000000).count() == 0)

    // ---- dedup --method simhash: kept set matches the library
    // composition (p08's pair operator + cluster/keep)
    val db3 = Files.createTempDirectory("graftdb_pipe_sim").toString
    jsonOut(Array("dedup", corpusDir, "--db", db3,
      "--method", "simhash", "--max-hamming", "3", "--json"))
    val simClusters = graft.pipeline.Dedup.clusterPairs(
      graft.pipeline.Dedup.simhashPairs(corpus, maxHamming = 3))
    assert(keyset(spark.read.parquet(s"$db3/dedup_corpus")) ==
      keyset(graft.pipeline.Dedup.dropNearDuplicates(corpus, simClusters)))

    // ---- dedup --method embedding: byte-identical to the library
    // composition p12 pins (embeddingNearDup + cluster/keep); the id
    // column defaults to vec_id for vector corpora
    val db4 = Files.createTempDirectory("graftdb_pipe_embdd").toString
    val embCorpus = Tables(spark, sfDir).embeddings
      .select($"vec_id", $"embedding")
    val embAll = embCorpus.union(embCorpus.filter($"vec_id" < 20)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding"))
    val embCorpusDir =
      Files.createTempDirectory("graft_pipe_embdd").toString + "/vecs"
    embAll.write.parquet(embCorpusDir)
    val embJson = jsonOut(Array("dedup", embCorpusDir, "--db", db4,
      "--method", "embedding", "--threshold", "0.95", "--json"))
    val embClusters = graft.pipeline.Dedup.clusterPairs(
      graft.pipeline.Dedup.embeddingNearDup(embAll, threshold = 0.95))
    def vecKeyset(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(vecKeyset(spark.read.parquet(s"$db4/dedup_corpus")) ==
      vecKeyset(graft.pipeline.Dedup.dropNearDuplicates(
        embAll, embClusters, "vec_id")))
    assert(spark.read.parquet(s"$db4/dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      embClusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(embJson.contains("\"method\":\"embedding\""), embJson)
    // report arithmetic holds on the single-pass observed counts too
    assert(embJson.contains(s""""docs":${embAll.count()}"""), embJson)
    // --bands 2 routes to the multi-band recall dial (p22's operator)
    jsonOut(Array("dedup", embCorpusDir, "--db", db4,
      "--method", "embedding", "--threshold", "0.95", "--bands", "2",
      "--json"))
    val embClusters2 = graft.pipeline.Dedup.clusterPairs(
      graft.pipeline.Dedup.embeddingNearDup(embAll, threshold = 0.95,
        bands = 2))
    assert(vecKeyset(spark.read.parquet(s"$db4/dedup_corpus")) ==
      vecKeyset(graft.pipeline.Dedup.dropNearDuplicates(
        embAll, embClusters2, "vec_id")))

    // ---- dedup --method embedding --staged: outputs byte-identical to
    // the LIVE embedding run above (same dials), and the staged
    // dedup_vec_buckets relation landed with the self-describing
    // per-band schema and matches embeddingBuckets bit-for-bit
    val db4s = Files.createTempDirectory("graftdb_pipe_embst").toString
    jsonOut(Array("dedup", embCorpusDir, "--db", db4s,
      "--method", "embedding", "--threshold", "0.95", "--bands", "2",
      "--staged", "--json"))
    assert(vecKeyset(spark.read.parquet(s"$db4s/dedup_corpus")) ==
      vecKeyset(spark.read.parquet(s"$db4/dedup_corpus")))
    assert(spark.read.parquet(s"$db4s/dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      embClusters2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val stagedBk = spark.read.parquet(s"$db4s/dedup_vec_buckets")
    assert(stagedBk.columns.toSeq ==
      Seq("vec_id", "embedding", "nrm", "bucket_0", "bucket_1"),
      stagedBk.columns.mkString(","))
    val libBk = graft.pipeline.Dedup.embeddingBuckets(embAll, bands = 2)
    def bkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Seq[Float], Double, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq,
        r.getDouble(2), r.getLong(3), r.getLong(4))).toSet
    assert(bkSet(stagedBk) == bkSet(libBk))

    // ---- --use-staged: the sweep path derives from the EXISTING store
    // without re-staging. Without --bands it uses every staged band
    // (here 2) — outputs identical to the staged run above; with
    // --bands 1 it slices the store down to the live bands=1 result
    // (embClusters). The store itself must be untouched either way.
    jsonOut(Array("dedup", embCorpusDir, "--db", db4s,
      "--method", "embedding", "--threshold", "0.95", "--use-staged",
      "--json"))
    assert(spark.read.parquet(s"$db4s/dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      embClusters2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    jsonOut(Array("dedup", embCorpusDir, "--db", db4s,
      "--method", "embedding", "--threshold", "0.95", "--use-staged",
      "--bands", "1", "--json"))
    assert(spark.read.parquet(s"$db4s/dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      embClusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(spark.read.parquet(s"$db4s/dedup_vec_buckets").columns.toSeq ==
      Seq("vec_id", "embedding", "nrm", "bucket_0", "bucket_1"),
      "--use-staged must not rewrite the staged store")

    // ---- ann-topk: brute mode byte-identical to bruteForceTopK (p06's
    // operator); ivf mode ships k rows per query
    val emb = Tables(spark, sfDir).embeddings.select($"vec_id", $"embedding")
    val embDir = Files.createTempDirectory("graft_pipe_emb").toString
    emb.write.parquet(s"$embDir/corpus")
    emb.filter($"vec_id" < 4).write.parquet(s"$embDir/queries")
    val annJson = jsonOut(Array("ann-topk", "--corpus", s"$embDir/corpus",
      "--queries", s"$embDir/queries", "--db", db, "--mode", "brute",
      "--k", "5", "--json"))
    def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.select($"query_id", $"neighbor_id", $"cosine", $"rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(topkSet(spark.read.parquet(s"$db/ann_topk")) ==
      topkSet(graft.pipeline.Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 4), k = 5)))
    assert(annJson.contains("\"mode\":\"brute\"") &&
      annJson.contains("\"queries\":4"), annJson)
    jsonOut(Array("ann-topk", "--corpus", s"$embDir/corpus",
      "--queries", s"$embDir/queries", "--db", db, "--mode", "ivf",
      "--k", "5", "--ncentroids", "8", "--nprobe", "2", "--trained",
      "--json"))
    val ivfRows = spark.read.parquet(s"$db/ann_topk")
    assert(ivfRows.count() == 4 * 5, s"ivf rows ${ivfRows.count()}")

    // ---- text-quality: per-doc relation matches the library
    // composition (p02/p03/p09/p10 operators) on every column
    val tqJson = jsonOut(Array("text-quality", corpusDir, "--db", db,
      "--min-quality", "0.5", "--json"))
    val tq = spark.read.parquet(s"$db/text_quality")
    assert(tq.count() == corpus.count())
    val libQ = graft.pipeline.TextAnalysis.withQuality(corpus)
      .withColumn("_lm",
        graft.pipeline.TextAnalysis.langIdWithMargin($"text"))
      .select($"doc_id", $"quality_score", $"_lm.lang".as("lang"),
        graft.pipeline.TextAnalysis.fingerprint($"text").as("fingerprint"))
    def tqSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Double, String, Long)] =
      df.select($"doc_id", $"quality_score", $"lang", $"fingerprint")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
        .toSet
    assert(tqSet(tq) == tqSet(libQ))
    assert(tq.filter($"pass" =!= ($"quality_score" >= 0.5)).count() == 0)
    assert(tqJson.contains("\"langs\":{"), tqJson)

    // ---- media-features --from-documents: decode outcomes match the
    // library path (p11's operator). Needs the full documents shape
    // (mediaFromDocuments reads `source`), not the trimmed dedup corpus.
    val docsDir =
      Files.createTempDirectory("graft_pipe_docs").toString + "/docs"
    d.write.parquet(docsDir)
    val mfJson = jsonOut(Array("media-features", docsDir, "--db", db,
      "--from-documents", "--json"))
    val mf = spark.read.parquet(s"$db/media_features")
    val libMf = graft.pipeline.Multimodal.extractFeatures(
      graft.pipeline.Multimodal.mediaFromDocuments(d)).toDF()
    def mfSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, String)] =
      df.select($"media_id", $"media_type", $"content_hash", $"decoder")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSet
    assert(mfSet(mf) == mfSet(libMf))
    assert(mfJson.contains("\"decoders\":{"), mfJson)

    // ---- usage guards: a flag in the CORPUS slot (or a missing
    // operand) is a usage error, not a parquet read of the literal
    // "--db" and not an ArrayIndexOutOfBounds
    intercept[RuntimeException] {
      Graft.run(spark, Array("dedup", "--db", db4))
    }
    intercept[RuntimeException] {
      Graft.run(spark, Array("text-quality", "--db", db4))
    }
    intercept[RuntimeException] {
      Graft.run(spark, Array("media-features", "--db", db4))
    }
    // --staged persists a derivation store for minhash/embedding only:
    // on a storeless method it must reject rather than silently skip
    intercept[RuntimeException] {
      Graft.run(spark, Array("dedup", corpusDir, "--db", db4,
        "--method", "simhash", "--staged"))
    }
    intercept[RuntimeException] {
      Graft.run(spark, Array("dedup", corpusDir, "--db", db4,
        "--method", "exact", "--staged"))
    }
    // --use-staged guards: storeless method, --staged conflict, and a
    // db with no staged store must all reject loudly
    intercept[RuntimeException] {
      Graft.run(spark, Array("dedup", corpusDir, "--db", db4,
        "--method", "exact", "--use-staged"))
    }
    intercept[RuntimeException] {
      Graft.run(spark, Array("dedup", embCorpusDir, "--db", db4s,
        "--method", "embedding", "--staged", "--use-staged"))
    }
    intercept[RuntimeException] {
      // db4 never staged vec buckets
      Graft.run(spark, Array("dedup", embCorpusDir, "--db", db4,
        "--method", "embedding", "--use-staged"))
    }
    // minhash --use-staged: derives from the dedup_signatures staged in
    // the first run of this test — same kept set as that run
    Graft.run(spark, Array("dedup", corpusDir, "--db", db,
      "--method", "minhash", "--use-staged"))
    assert(keyset(spark.read.parquet(s"$db/dedup_corpus")) ==
      keyset(libKeep))
    // store-fixed dials REJECT with --use-staged instead of being
    // silently overridden by the store (r16 advisory) — including a
    // --sig-len that happens to MATCH the stored width (honoring it
    // would be coincidence, not contract)
    for (extra <- Seq(Array("--sig-len", "32"), Array("--sig-len", "64"),
        Array("--shingle-k", "4")))
      intercept[RuntimeException] {
        Graft.run(spark, Array("dedup", corpusDir, "--db", db,
          "--method", "minhash", "--use-staged") ++ extra)
      }
    // ...and the embedding twins against the vec-bucket store in db4s
    for (extra <- Seq(Array("--planes", "20"), Array("--dim", "32")))
      intercept[RuntimeException] {
        Graft.run(spark, Array("dedup", embCorpusDir, "--db", db4s,
          "--method", "embedding", "--use-staged") ++ extra)
      }
    // a store staged at a NON-default signature width sweeps with no
    // width flag: the stored width IS the dial (pre-r17 this path
    // rejected, mistaking the default 64 for a user ask)
    val db5 = Files.createTempDirectory("graftdb_pipe_mh32").toString
    jsonOut(Array("dedup", corpusDir, "--db", db5, "--method", "minhash",
      "--sig-len", "32", "--staged", "--json"))
    val staged32 = keyset(spark.read.parquet(s"$db5/dedup_corpus"))
    jsonOut(Array("dedup", corpusDir, "--db", db5, "--method", "minhash",
      "--use-staged", "--json"))
    assert(keyset(spark.read.parquet(s"$db5/dedup_corpus")) == staged32,
      "--use-staged must derive at the STORED width (32), matching " +
        "the staged run")
    // --bands stays a live sweep dial but must sweep WITHIN the width:
    // more bands than hashes would slice empty bands (rowsPerBand = 0)
    // where every document collides — reject against the STORE-probed
    // width on --use-staged and against --sig-len on a live run
    // (r17 advisory)
    val eBands = intercept[RuntimeException] {
      Graft.run(spark, Array("dedup", corpusDir, "--db", db5,
        "--method", "minhash", "--use-staged", "--bands", "48"))
    }
    assert(eBands.getMessage.contains("32"),
      s"bands-over-width rejection should name the stored width: $eBands")
    intercept[RuntimeException] {
      Graft.run(spark, Array("dedup", corpusDir, "--db", db4,
        "--method", "minhash", "--sig-len", "32", "--bands", "48"))
    }
    // ...and a within-width non-divisor sweep still runs (banding uses
    // the first bands*floor(width/bands) hashes)
    jsonOut(Array("dedup", corpusDir, "--db", db5, "--method", "minhash",
      "--use-staged", "--bands", "5", "--json"))

    // ---- empty corpus: text-quality writes the empty relation and the
    // report carries mean_quality:null (avg over zero rows) instead of
    // throwing
    val emptyDir =
      Files.createTempDirectory("graft_pipe_empty").toString + "/docs"
    corpus.filter(lit(false)).write.parquet(emptyDir)
    val emptyJson =
      jsonOut(Array("text-quality", emptyDir, "--db", db4, "--json"))
    assert(emptyJson.contains("\"docs\":0") &&
      emptyJson.contains("\"mean_quality\":null") &&
      emptyJson.contains("\"langs\":{}"), emptyJson)
    assert(spark.read.parquet(s"$db4/text_quality").count() == 0)

    // ---- verb discipline: every pipeline verb audit-logged its run
    val audit = spark.read.parquet(s"$db/audit_log")
    Seq("dedup", "ann-topk", "text-quality", "media-features").foreach { v =>
      assert(audit.filter($"event_type" === v && $"success").count() >= 1,
        s"no successful audit row for $v")
    }
  }

  test("text-quality --min-lang-margin: below-margin latin votes report as unknown") {
    import org.apache.spark.sql.functions._
    // doc 2 is an engineered sv/fr TIE ("och att en est sont" — both
    // families score 3/5), which the priority break labels fr at
    // margin 0.0; doc 1 is unambiguous English. The dial reclassifies
    // the zero-margin vote to unknown in the REPORT histogram only —
    // the written per-doc relation keeps the raw (lang, lang_margin).
    val corpus = Seq(
      (1L, "the cat is on the mat and it was a good day for all of us"),
      (2L, "och att en est sont")).toDF("doc_id", "text")
    val dir =
      Files.createTempDirectory("graft_tq_margin").toString + "/docs"
    corpus.write.parquet(dir)
    def jsonOut(args: Array[String]): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, args) }
      out.toString.linesIterator.filter(_.startsWith("{")).mkString("\n")
    }
    // without the dial: the tie reports as fr
    val db = Files.createTempDirectory("graftdb_tq_margin").toString
    val plain = jsonOut(Array("text-quality", dir, "--db", db, "--json"))
    assert(plain.contains(""""en":1""") && plain.contains(""""fr":1"""),
      plain)
    assert(!plain.contains("min_lang_margin"), plain)
    // with it: the zero-margin fr vote migrates to unknown; en (margin
    // well above 0.05) stays
    val gated = jsonOut(Array("text-quality", dir, "--db", db,
      "--min-lang-margin", "0.05", "--json"))
    assert(gated.contains(""""min_lang_margin":0.05"""), gated)
    assert(gated.contains(""""en":1""") &&
      gated.contains(""""unknown":1""") && !gated.contains(""""fr""""),
      gated)
    // report-side only: the written relation keeps the raw vote
    val rows = spark.read.parquet(s"$db/text_quality")
      .select($"doc_id", $"lang", $"lang_margin").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(rows(2L) == (("fr", 0.0)), rows.toString)
    assert(rows(1L)._1 == "en" && rows(1L)._2 > 0.05, rows.toString)
  }

  test("pipeline verb reports are single-pass: no post-write rescan actions") {
    // Structural tripwire for the r14 verdict-#3 rework: the verb
    // `--json` reports must collect every summary value via Observation
    // metrics DURING the write, so a verb run executes only write
    // COMMANDS — zero non-command actions (the old report's agg.head()
    // / groupBy.collect() rescans were exactly such actions, and any
    // reintroduced count()/collect() trips this).
    import org.apache.spark.sql.functions._
    val db = Files.createTempDirectory("graftdb_onepass").toString
    val d = Tables(spark, sfDir).documents.filter($"doc_id" < 100)
      .select($"doc_id", $"text")
    val dir = Files.createTempDirectory("graft_onepass").toString + "/docs"
    d.write.parquet(dir)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = {
        val cmd = qe.logical
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command]
        events.add(s"$f:${if (cmd) "command" else qe.logical.nodeName}")
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // The execution-listener bus dispatches asynchronously AND a freshly
    // registered listener can still receive queued events from earlier
    // tests' actions. Bracket the verb with marker actions: the bus is
    // ordered, so once a marker's event arrives, everything before it
    // has drained — clear pre-verb noise at the first marker, stop
    // collecting at the second.
    def runMarkerAndAwait(): Unit = {
      spark.range(1).collect() // "collect:Range" — nothing else collects a bare Range here
      var waited = 0
      while (waited < 20000 &&
          !events.toArray(Array.empty[String]).contains("collect:Range")) {
        Thread.sleep(100); waited += 100
      }
      assert(events.toArray(Array.empty[String]).contains("collect:Range"),
        "listener bus never delivered the marker event")
    }
    val evs = try {
      runMarkerAndAwait()
      events.clear()
      Console.withOut(new java.io.PrintStream(
          new java.io.ByteArrayOutputStream())) {
        Graft.run(spark, Array("text-quality", dir, "--db", db, "--json"))
      }
      runMarkerAndAwait()
      events.toArray(Array.empty[String]).toSeq
        .filterNot(_ == "collect:Range")
    } finally spark.listenerManager.unregister(listener)
    // Allowed non-command actions: exactly ONE GlobalLimit probe — the
    // audit hash chain reads its previous tip via a limit(1).collect()
    // (Audit.scala:464), an O(1)-row bookkeeping probe. Anything else
    // (a count() shows as an Aggregate, a histogram collect as an
    // Aggregate/Sort) is a reintroduced report rescan — and a SECOND
    // GlobalLimit would be a reintroduced bounded output rescan hiding
    // behind the tip probe's exemption (r15 verdict advisory #1), so
    // the exemption is pinned to one event, not a node-name class.
    val rescans = evs.filterNot(e =>
      e.endsWith(":command") || e.endsWith(":GlobalLimit"))
    assert(rescans.isEmpty,
      s"post-write rescan actions detected (report is no longer " +
        s"single-pass): $evs")
    assert(evs.count(_.endsWith(":GlobalLimit")) <= 1,
      s"more than one bounded GlobalLimit action — only the audit " +
        s"tip probe is exempt, a second one is an output rescan: $evs")
    // one write command for text_quality (+ the bounded tip probe);
    // a growing command count would mean extra write passes
    assert(evs.count(_.endsWith(":command")) == 1 && evs.size <= 3,
      s"unexpected action count: $evs")
  }
}
