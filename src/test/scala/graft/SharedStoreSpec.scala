package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.audit.FaultFs

/** The DEPLOY.md shared-storage claim, executed: a `--db` on a NON-local
  * Hadoop scheme must behave identically to a local one — existence
  * checks that silently answer "absent" for foreign schemes would route
  * an existing store down the fresh-db swap path and destroy its other
  * batches. `faultfs://` (a local filesystem registered under a foreign
  * scheme) stands in for HDFS/S3A: any `java.io.File` leak on a db path
  * shows up as wrong routing here, exactly as it would on a real object
  * store. The second test drives the swap-fault arm end-to-end through
  * the load verb.
  */
class SharedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def schemeDb(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    val base = Files.createTempDirectory(prefix).toString
    s"faultfs://$base/db"
  }

  test("full verb lifecycle against a non-local-scheme db") {
    val db = schemeDb("shareddb")
    val vcfDir = Files.createTempDirectory("sharedvcf")
    val vcf1 = vcfDir.resolve("a.vcf").toString
    val vcf2 = vcfDir.resolve("b.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf1, 300, seed = 11L)
    graft.vcf.SyntheticVcf.write(vcf2, 300, seed = 22L)

    Graft.run(spark, Array("init-db", "--db", db))
    Graft.run(spark, Array("load", vcf1, "--db", db))
    Graft.run(spark, Array("load", vcf2, "--db", db))
    val v = spark.read.parquet(s"$db/variants")
    // the critical routing assertion: load #2 must SEE the existing
    // store through the scheme and append — a java.io.File existence
    // check would answer false and swap batch 1 away
    assert(v.select("load_batch_id").distinct().count() == 2,
      "second load did not append — the store was invisible through the scheme")
    val total = v.count()
    assert(total > 0)

    // idempotency: the ledger reads through the scheme, so a re-load of
    // the same file skips (no third completed row, count unchanged)
    Graft.run(spark, Array("load", vcf2, "--db", db))
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == 2)
    assert(spark.read.parquet(s"$db/variants").count() == total)

    // force-reload: the surgical footer-stat drop works through the
    // scheme (batch count stays 2, rows replaced not duplicated)
    Graft.run(spark, Array("load", vcf2, "--db", db, "--force-reload"))
    val v2 = spark.read.parquet(s"$db/variants")
    assert(v2.count() == total)
    assert(v2.select("load_batch_id").distinct().count() == 2)

    // the input VCF itself addressed through the scheme: hash, header
    // and parse all stream via Hadoop IO — no local-path assumption on
    // the load's read side
    val vcf3 = vcfDir.resolve("c.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf3, 120, seed = 44L)
    Graft.run(spark, Array("load", s"faultfs://$vcf3", "--db", db))
    assert(spark.read.parquet(s"$db/variants")
      .select("load_batch_id").distinct().count() == 3,
      "a scheme-addressed input VCF must load like a local one")
    val total3 = spark.read.parquet(s"$db/variants").count()

    // import path through the scheme: matching join, key-stamped append,
    // registry upsert, and the per-key SURGICAL replace on re-import
    val mv = spark.read.parquet(s"$db/variants")
      .filter($"rs_id".isNotNull && $"ref".isin("A", "C", "G", "T") &&
        $"alt".isin("A", "C", "G", "T"))
      .select("chrom", "pos", "ref", "alt", "rs_id").head()
    val tsv = vcfDir.resolve("stats.tsv")
    java.nio.file.Files.write(tsv, java.util.Arrays.asList(
      "CHR\tPOS\tEA\tOA\tPVAL\tBETA\tSE\tEAF\tSNP",
      s"${mv.getString(0).stripPrefix("chr")}\t${mv.getLong(1)}\t" +
        s"${mv.getString(3)}\t${mv.getString(2)}\t1e-8\t0.05\t0.01\t0.25\t" +
        mv.getString(4)))
    Graft.run(spark, Array("import-gwas", tsv.toString, "--db", db,
      "--study-accession", "GCST01"))
    val imported = spark.read.parquet(s"$db/gwas_stats")
      .filter($"study_accession" === "GCST01").count()
    assert(imported >= 1, "import-gwas landed no rows through the scheme")
    Graft.run(spark, Array("import-gwas", tsv.toString, "--db", db,
      "--study-accession", "GCST01"))
    assert(spark.read.parquet(s"$db/gwas_stats")
      .filter($"study_accession" === "GCST01").count() == imported,
      "re-import must replace the study's rows, not duplicate them")
    assert(spark.read.parquet(s"$db/studies").count() == 1)

    // per-chrom incremental compact lists partition dirs via the scheme
    Graft.run(spark, Array("compact", "--db", db, "--tables", "variants",
      "--per-chrom", "--max-files", "1"))
    assert(spark.read.parquet(s"$db/variants").count() == total3)

    // validate: ledger reconcile + projection fingerprints, all scheme-side
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(!out.toString.contains("MISMATCH"), out.toString)
    assert(!out.toString.contains("orphan"), out.toString)

    // the audit chain (driver-side appends + O(1) tip sidecar) lived
    // through every verb above on the foreign scheme
    val aOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(aOut)) {
      Graft.run(spark, Array("audit-verify", "--db", db))
    }
    assert(aOut.toString.toLowerCase.contains("ok"), aOut.toString)

    // driver-side point serving reads the same scheme via Hadoop IO
    // fresh read: v2's listing predates the compact's file surgery (a
    // plan captured before out-of-band renames is stale by design)
    val site = spark.read.parquet(s"$db/variants")
      .filter($"chrom" === "chr1").agg(min($"pos")).head().getLong(0)
    assert(graft.query.PointLookup.byPosition(
      spark, s"$db/variants", "chr1", site).nonEmpty)

    // matview refresh writes its (presence-gated) views via the scheme
    val rOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(rOut)) {
      Graft.run(spark, Array("refresh-views", "--db", db))
    }
    assert(rOut.toString.contains("variant_qc_summary refreshed"),
      rOut.toString)
    assert(spark.read.parquet(s"$db/views/variant_qc_summary").count() > 0)

    // the PHI pattern registry string-IO round-trips through the scheme
    Graft.run(spark, Array("phi-patterns-add", "--db", db,
      "--name", "t_probe", "--pattern", "PROBE-\\d+",
      "--severity", "high", "--description", "spec probe"))
    val pOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(pOut)) {
      Graft.run(spark, Array("phi-patterns-list", "--db", db))
    }
    assert(pOut.toString.contains("t_probe"), pOut.toString)

    // phi-scan accepts the same scheme-addressed inputs the load verb
    // does — a java.io existence probe would reject an hdfs://-style
    // path the store just loaded
    val sOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(sOut)) {
      Graft.run(spark, Array("phi-scan", s"faultfs://$vcf3"))
    }
    assert(sOut.toString.contains("Records scanned"), sOut.toString)
  }

  /** Recorded renames onto `<t>` or `<t>.v-*` directly under the db root:
    * a table-dir rename, which on S3 proper is a non-atomic O(bytes)
    * copy+delete. (Committer renames INSIDE a staged version dir are
    * invisible to readers and fine.) */
  private def tableRenames(tables: Seq[String]): Seq[(String, String, Boolean)] = {
    import scala.jdk.CollectionConverters._
    FaultFs.renames.asScala.toSeq.filter { case (_, dst, _) =>
      val p = new org.apache.hadoop.fs.Path(dst)
      val name = p.getName
      val parentIsDb = Option(p.getParent).exists(_.toString.endsWith("/db"))
      parentIsDb && tables.exists(t => name == t || name.startsWith(s"$t.v-"))
    }
  }

  test("versioned db: swaps commit by pointer flip, never by table-dir rename") {
    val db = schemeDb("verdb")
    Graft.run(spark, Array("init-db", "--db", db, "--versioned-tables"))
    val vcfDir = Files.createTempDirectory("vervcf")
    val vcf1 = vcfDir.resolve("a.vcf").toString
    val vcf2 = vcfDir.resolve("b.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf1, 300, seed = 71L)
    graft.vcf.SyntheticVcf.write(vcf2, 300, seed = 72L)

    // fresh-db load commits via pointer: variants resolves to a v-dir
    Graft.run(spark, Array("load", vcf1, "--db", db))
    val vPhys1 = graft.sinks.DbFs.resolveTable(db, "variants")
    assert(vPhys1.contains(".v-"), s"expected a version dir, got $vPhys1")
    assert(spark.read.parquet(vPhys1).count() > 0)

    // appends land in the CURRENT version dir — no new version per load
    Graft.run(spark, Array("load", vcf2, "--db", db))
    assert(graft.sinks.DbFs.resolveTable(db, "variants") == vPhys1,
      "an append must not mint a new version")
    val total2 = spark.read.parquet(vPhys1).count()
    assert(spark.read.parquet(vPhys1)
      .select("load_batch_id").distinct().count() == 2)

    // the commit discipline, OBSERVED: during the 3-table compact swap
    // no rename targets a logical table path or a top-level version dir
    // — on S3 proper a directory rename is a non-atomic O(bytes)
    // copy+delete, so the only commit-path rename allowed is the small
    // pointer-file write. (Committer renames INSIDE a staged version
    // dir are invisible to readers and fine.)
    FaultFs.reset()
    FaultFs.recordRenames = true
    try Graft.run(spark, Array("compact", "--db", db, "--tables", "variants"))
    finally FaultFs.recordRenames = false
    val tables = Seq("variants", "rsid_idx", "gene_idx")
    val offenders = tableRenames(tables)
    assert(offenders.isEmpty,
      s"commit must be pointer-only; table-path renames seen: $offenders")
    val vPhys2 = graft.sinks.DbFs.resolveTable(db, "variants")
    assert(vPhys2 != vPhys1 && vPhys2.contains(".v-"),
      "compact must have flipped the pointer to a new version")
    assert(spark.read.parquet(vPhys2).count() == total2)
    // read-grace GC: the version this swap replaced SURVIVES (an
    // in-flight reader's resolved scan stays live until the NEXT swap);
    // current + exactly one previous per table, and the plain path
    // never reappeared. The surviving previous is still a COMPLETE
    // readable table.
    tables.foreach { t =>
      val vdirs = graft.sinks.DbFs.children(db)
        .map(_.getPath.getName).filter(_.startsWith(s"$t.v-"))
      assert(vdirs.length == 2, s"$t version dirs after grace-GC: $vdirs")
      assert(!graft.sinks.DbFs.exists(s"$db/$t"),
        s"plain $t dir must not coexist with a pointer")
    }
    assert(spark.read.parquet(vPhys1).count() == total2,
      "the read-grace previous version must stay fully readable")
    // point serving resolves the pointer
    val site = spark.read.parquet(vPhys2)
      .filter($"chrom" === "chr1").agg(min($"pos")).head().getLong(0)
    assert(graft.query.PointLookup.byPosition(
      spark, s"$db/variants", "chr1", site).nonEmpty)

    // FAULT ARM: the third pointer commit (gene_idx) fails twice — the
    // initial rename AND writeStringAtomic's delete+retry — so the swap
    // errors mid-commit; rollback must restore ALL three pointers (the
    // two flipped ones and the in-flight one) and sweep the staged
    // version dirs
    val before = tables.map(t =>
      graft.sinks.DbFs.readString(s"$db/$t.current").get.trim)
    val geneFaults = new java.util.concurrent.atomic.AtomicInteger(0)
    FaultFs.failWhen = (_, dst) =>
      dst.toString.endsWith("gene_idx.current") &&
        geneFaults.incrementAndGet() <= 2
    val e = intercept[Throwable] {
      try Graft.run(spark, Array("compact", "--db", db, "--tables", "variants"))
      finally FaultFs.reset()
    }
    assert(e.getMessage != null, e.toString)
    val after = tables.map(t =>
      graft.sinks.DbFs.readString(s"$db/$t.current").get.trim)
    assert(after == before,
      s"rollback must restore every pointer: $before -> $after")
    tables.foreach { t =>
      val phys = graft.sinks.DbFs.resolveTable(db, t)
      assert(graft.sinks.DbFs.exists(phys), s"$t resolves to missing $phys")
      val vdirs = graft.sinks.DbFs.children(db)
        .map(_.getPath.getName).filter(n =>
          n.startsWith(s"$t.v-") && !n.contains(".tmp-"))
      // current + the read-grace previous; the ABORTED swap's staged
      // version must be swept
      assert(vdirs.length == 2,
        s"staged versions must be swept after rollback: $t has $vdirs")
    }
    assert(spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "variants")).count() == total2)
    // and the store still takes a clean swap afterwards
    Graft.run(spark, Array("compact", "--db", db, "--tables", "variants"))
    assert(spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "variants")).count() == total2)

    // import path on the versioned layout: matching reads resolve, the
    // registry upsert mints a pointer for the registry table, and the
    // per-key surgical replace operates INSIDE the fact table's current
    // version (no new version per import)
    val mv = spark.read.parquet(graft.sinks.DbFs.resolveTable(db, "variants"))
      .filter($"rs_id".isNotNull && $"ref".isin("A", "C", "G", "T") &&
        $"alt".isin("A", "C", "G", "T"))
      .select("chrom", "pos", "ref", "alt", "rs_id").head()
    val tsv = vcfDir.resolve("stats.tsv")
    java.nio.file.Files.write(tsv, java.util.Arrays.asList(
      "CHR\tPOS\tEA\tOA\tPVAL\tBETA\tSE\tEAF\tSNP",
      s"${mv.getString(0).stripPrefix("chr")}\t${mv.getLong(1)}\t" +
        s"${mv.getString(3)}\t${mv.getString(2)}\t1e-8\t0.05\t0.01\t0.25\t" +
        mv.getString(4)))
    Graft.run(spark, Array("import-gwas", tsv.toString, "--db", db,
      "--study-accession", "GCST11"))
    val gwasPhys1 = graft.sinks.DbFs.resolveTable(db, "gwas_stats")
    val n1 = spark.read.parquet(gwasPhys1)
      .filter($"study_accession" === "GCST11").count()
    assert(n1 >= 1, "import-gwas landed no rows on the versioned layout")
    // second import of the same study: surgical replace within the
    // current fact version (pointer unchanged), registry re-upsert
    // swaps the REGISTRY to a new version via its pointer
    Graft.run(spark, Array("import-gwas", tsv.toString, "--db", db,
      "--study-accession", "GCST11"))
    assert(graft.sinks.DbFs.resolveTable(db, "gwas_stats") == gwasPhys1,
      "per-key replace must not mint a fact-table version")
    assert(spark.read.parquet(gwasPhys1)
      .filter($"study_accession" === "GCST11").count() == n1,
      "re-import must replace, not duplicate")
    assert(graft.sinks.DbFs.resolveTable(db, "studies").contains(".v-"),
      "the registry upsert should commit via pointer on a versioned db")
    assert(spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "studies")).count() == 1)
    val lOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(lOut)) {
      Graft.run(spark, Array("list-studies", "--db", db))
    }
    assert(lOut.toString.contains("GCST11"), lOut.toString)

    // the sql verb's db-root listing must not read version dirs or
    // pointer sidecars as tables
    val qOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(qOut)) {
      Graft.run(spark, Array("annotation-query",
        "SELECT count(*) AS n FROM variants", "--db", db))
    }
    assert(qOut.toString.contains(total2.toString), qOut.toString)

    // validate answers clean on the versioned layout (ledger reconcile
    // reads resolved tables; no dangling-pointer or stale-version lines)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(!vOut.toString.contains("MISMATCH"), vOut.toString)
    assert(!vOut.toString.contains("DANGLING"), vOut.toString)
    assert(!vOut.toString.contains("stale version"), vOut.toString)

    // append-only audit tables NEVER pointer-commit, even here: their
    // readers and appenders use plain paths by design, so a pointered
    // ledger would hide the load history (skip-by-hash answers "never
    // loaded" → silent duplicate loads) and split appends from reads
    val ledgerBefore = spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count()
    Graft.run(spark, Array("compact", "--db", db, "--tables", "ledger"))
    assert(!graft.sinks.DbFs.exists(s"$db/ledger.current"),
      "ledger must compact by rename, not pointer, on a versioned db")
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == ledgerBefore)
    // and the history still gates reloads: the same file skips
    Graft.run(spark, Array("load", vcf2, "--db", db))
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == ledgerBefore,
      "a compacted ledger must still answer skip-by-hash")

    // the pipeline verbs' tables swap the same way, run after run: each
    // run moves the pointer, the previous run's version survives as the
    // read-grace copy (nothing older does), and no table dir is renamed
    val inputs = Files.createTempDirectory("verinputs")
    val docs = inputs.resolve("docs").toString
    Seq((1L, "The quick brown fox jumps over the lazy dog near the river."),
      (2L, "A second document, written in plain English, with some words."))
      .toDF("doc_id", "text").write.parquet(docs)
    val vecs = inputs.resolve("vecs").toString
    Seq((1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)), (3L, Seq(0.6f, 0.8f, 0f)))
      .toDF("vec_id", "embedding").write.parquet(vecs)
    Seq("text_quality" -> Array("text-quality", docs, "--db", db),
      "ann_topk" -> Array("ann-topk", "--corpus", vecs, "--queries", vecs,
        "--db", db, "--k", "2")).foreach { case (t, verb) =>
      var prev = Option.empty[String]
      (1 to 2).foreach { run =>
        FaultFs.reset()
        FaultFs.recordRenames = true
        try Graft.run(spark, verb) finally FaultFs.recordRenames = false
        val tok = graft.sinks.DbFs.readString(s"$db/$t.current").map(_.trim)
        assert(tok.isDefined && tok != prev,
          s"$t run $run: the pointer must move ($prev -> $tok)")
        val vdirs = graft.sinks.DbFs.children(db).map(_.getPath.getName)
          .filter(_.startsWith(s"$t.v-")).toSet
        assert(vdirs == (tok ++ prev).map(v => s"$t.v-$v").toSet,
          s"$t run $run: expected current + the previous run's version, got $vdirs")
        assert(tableRenames(Seq(t)).isEmpty,
          s"$t run $run: table-dir renames seen: ${tableRenames(Seq(t))}")
        prev = tok
      }
    }
    FaultFs.reset()
  }

  test("load-annotation keeps its previous source when a re-load fails") {
    val db = schemeDb("annodb")
    Graft.run(spark, Array("init-db", "--db", db))
    val dir = Files.createTempDirectory("annovcf")
    def annoVcf(name: String, n: Int): String = {
      val p = dir.resolve(name)
      Files.write(p, (Seq("##fileformat=VCFv4.2",
        "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"ac\">",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO") ++
        (1 to n).map(i => s"chr1\t${100 * i}\t.\tA\tG\t50\tPASS\tAC=$i"))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      p.toString
    }
    val cfg = dir.resolve("cfg.json")
    Files.writeString(cfg, """[{"field": "AC", "alias": "x_ac"}]""")
    def load(vcf: String): Unit = Graft.run(spark, Array("load-annotation",
      vcf, "--db", db, "--name", "x", "--config", cfg.toString))
    def sites = spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "anno_x")).count()
    def registered = spark.read.parquet(s"$db/annotation_sources")
      .filter($"name" === "x").select($"variant_count").as[Long].collect().toSeq
    load(annoVcf("two.vcf", 2))
    assert(sites == 2 && registered == Seq(2L))

    // the re-load's write fails: every rename landing under anno_x*
    FaultFs.failWhen = (_, dst) => dst.toString.contains("/anno_x")
    intercept[Throwable] {
      try load(annoVcf("three.vcf", 3)) finally FaultFs.reset()
    }
    assert(sites == 2, "a failed re-load must keep the previous source")
    assert(registered == Seq(2L))
    val residue = graft.sinks.DbFs.children(db).map(_.getPath.getName)
      .filter(n => n.startsWith("anno_x") && n != "anno_x")
    assert(residue.isEmpty, s"residue: $residue")

    // mid-swap (staged .tmp- and staged-aside .old- siblings both
    // present), annotation-query registers no sibling as a source
    var midSwap = Option.empty[scala.util.Try[Seq[String]]]
    FaultFs.failWhen = { (src, _) =>
      if (midSwap.isEmpty && src.getName.startsWith("anno_x.tmp-"))
        midSwap = Some(scala.util.Try {
          Console.withOut(new java.io.ByteArrayOutputStream()) {
            Graft.run(spark, Array("annotation-query", "SELECT 1", "--db", db))
          }
          spark.catalog.listTables().collect().map(_.name).toSeq
        })
      false
    }
    try load(annoVcf("three.vcf", 3)) finally FaultFs.reset()
    assert(sites == 3 && registered == Seq(3L))
    assert(midSwap.isDefined, "the re-load must swap anno_x by rename")
    val views = midSwap.get.get
    assert(!views.exists(v => v.contains(".tmp-") || v.contains(".old-")),
      s"staged siblings registered as sources: $views")
  }

  test("cross-host writer lease: foreign holder blocks, race loses cleanly, expiry steals") {
    val db = schemeDb("leasedb")
    val vcfDir = Files.createTempDirectory("leasevcf")
    val vcf = vcfDir.resolve("a.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 80, seed = 91L)
    val leasePath = s"$db/.writer.lease"
    graft.sinks.DbFs.mkdirs(db)

    // (1) a DISTINCT simulated holder with a live lease: the same-host
    // monitor + file lock pass (they can't see another host), so the
    // lease is what fails the verb — fast, naming the holder
    graft.sinks.DbFs.writeStringAtomic(leasePath,
      s"other-host#pid1#aaaa\n${System.currentTimeMillis() + 3600000L}\n")
    val e1 = intercept[RuntimeException] {
      Graft.run(spark, Array("load", vcf, "--db", db))
    }
    assert(e1.getMessage.contains("other-host"), e1.getMessage)
    assert(e1.getMessage.contains("lease"), e1.getMessage)
    assert(!graft.sinks.DbFs.exists(
      graft.sinks.DbFs.resolveTable(db, "variants")),
      "a lease-blocked verb must not have touched the store")
    // the loser must not have destroyed the holder's lease
    assert(graft.sinks.DbFs.readString(leasePath).get.startsWith("other-host"))

    // (2) a racer overwriting inside the confirm window: the verb's
    // re-read-after-write detects the loss and errors cleanly, leaving
    // the racer's lease in place
    graft.sinks.DbFs.deleteRecursive(leasePath)
    val stopRacer = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racer = new Thread(() => {
      while (!stopRacer.get) {
        graft.sinks.DbFs.readString(leasePath) match {
          case Some(c) if !c.startsWith("racer-host") =>
            graft.sinks.DbFs.writeStringAtomic(leasePath,
              s"racer-host#pid2#bbbb\n${System.currentTimeMillis() + 3600000L}\n")
          case _ => ()
        }
        Thread.sleep(5)
      }
    })
    racer.setDaemon(true)
    racer.start()
    try {
      val e2 = intercept[RuntimeException] {
        Graft.run(spark, Array("load", vcf, "--db", db))
      }
      assert(e2.getMessage.contains("lease"), e2.getMessage)
    } finally {
      stopRacer.set(true)
      racer.join(2000)
    }
    assert(graft.sinks.DbFs.readString(leasePath).get.startsWith("racer-host"),
      "the race winner's lease must survive the loser's cleanup")

    // (3) an EXPIRED lease is crash residue: stolen, the verb runs, and
    // the lease is released afterwards
    graft.sinks.DbFs.writeStringAtomic(leasePath,
      s"other-host#pid1#aaaa\n${System.currentTimeMillis() - 1000L}\n")
    Graft.run(spark, Array("load", vcf, "--db", db))
    assert(spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "variants")).count() > 0)
    assert(!graft.sinks.DbFs.exists(leasePath),
      "the lease must be released after the verb")
  }

  test("chaos soak: one-shot rename faults never corrupt the store or its ledger") {
    chaosSoak(schemeDb("chaosdb"), versioned = false)
  }

  test("chaos soak on a VERSIONED db: pointer commits + GC survive faults") {
    // same contract, versioned layout: the injected faults now also hit
    // the writeStringAtomic pointer commits (their temps carry .tmp-)
    // and the post-commit version GC — a lost pointer or a GC'd live
    // version would fail (a) immediately
    val db = schemeDb("chaosvdb")
    Graft.run(spark, Array("init-db", "--db", db, "--versioned-tables"))
    chaosSoak(db, versioned = true)
  }

  private def chaosSoak(db: String, versioned: Boolean): Unit = {
    // the crash-consistency CONTRACT under repeated injected faults:
    // after ANY mutating verb — succeeded or killed by a rename fault
    // at a random point in its file surgery — the store must satisfy
    //   (a) every table reads back (no half-renamed residue bricks it),
    //   (b) `validate` is clean, OR names orphan batches that
    //       `validate --drop-orphans` repairs to clean, and
    //   (c) the audit chain verifies.
    // Faults target the engine's own rename traffic (staged .tmp-/.old-
    // swaps, .trash- surgical drops, .part-driver- metadata appends,
    // .tip sidecar moves) — each the object-store failure mode at a
    // different point in a mutation.
    val rnd = new scala.util.Random(424242L)
    val vcfDir = Files.createTempDirectory("chaosvcf")
    val vcfs = (0 until 3).map { i =>
      val p = vcfDir.resolve(s"c$i.vcf").toString
      graft.vcf.SyntheticVcf.write(p, 150, seed = 100L + i)
      p
    }
    val faultsFired = new java.util.concurrent.atomic.AtomicInteger(0)
    def armFault(nth: Int): Unit = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      FaultFs.failWhen = (src, dst) => {
        val s = src.toString; val d = dst.toString
        val engineRename = Seq(".tmp-", ".trash-", ".old-", ".part-driver-")
          .exists(t => s.contains(t) || d.contains(t))
        if (engineRename && counter.incrementAndGet() == nth) {
          faultsFired.incrementAndGet(); true
        } else false
      }
    }
    def runOp(args: Array[String]): Unit =
      try Graft.run(spark, args)
      catch { case _: Throwable => () } // a faulted verb may fail; that's the point
    def validateOut(extra: String*): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        Graft.run(spark, Array("validate", "--db", db) ++ extra)
      }
      out.toString
    }
    Graft.run(spark, Array("load", vcfs(0), "--db", db)) // clean seed batch
    (1 to 10).foreach { round =>
      val op = rnd.nextInt(4) match {
        case 0 => Array("load", vcfs(rnd.nextInt(3)), "--db", db)
        case 1 => Array("load", vcfs(rnd.nextInt(3)), "--db", db, "--force-reload")
        case 2 => Array("compact", "--db", db, "--tables", "variants",
          "--per-chrom", "--max-files", "1")
        case 3 => Array("compact", "--db", db, "--tables", "genotypes")
      }
      val faulted = rnd.nextBoolean()
      if (faulted) armFault(1 + rnd.nextInt(6))
      try runOp(op) finally FaultFs.reset()
      // (a) every table reads back
      Seq("variants", "rsid_idx", "gene_idx", "genotypes", "ledger").foreach { t =>
        val phys = graft.sinks.DbFs.resolveTable(db, t)
        if (graft.sinks.DbFs.exists(phys))
          assert(spark.read.parquet(phys).count() >= 0,
            s"round $round: $t unreadable after ${op.mkString(" ")}")
      }
      // (b) validate clean, or orphans repaired to clean
      var v = validateOut()
      if (v.contains("orphan")) {
        validateOut("--drop-orphans")
        v = validateOut()
      }
      assert(!v.contains("MISMATCH"),
        s"round $round after ${op.mkString(" ")} (faulted=$faulted): $v")
      assert(!v.contains("orphan"),
        s"round $round: orphan survived --drop-orphans: $v")
      // (c) the audit chain verifies (tip-sidecar faults must degrade to
      // the full-scan tip, never fork the chain)
      val aOut = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(aOut)) {
        Graft.run(spark, Array("audit-verify", "--db", db))
      }
      assert(aOut.toString.toLowerCase.contains("ok"),
        s"round $round audit chain broken: ${aOut.toString}")
    }
    // the soak must not have been vacuous: faults actually interrupted
    // engine renames (swallowed failures leave no log line to grep)
    assert(faultsFired.get() >= 2,
      s"only ${faultsFired.get()} fault(s) fired across the soak")
    // the store still takes a clean full load afterwards
    val before = spark.read.parquet(graft.sinks.DbFs.resolveTable(db, "variants"))
      .select("load_batch_id").distinct().count()
    assert(before >= 1)
    // versioned invariant: after the dust settles, each pointered table
    // has its pointer naming a live dir (the resolver never dangles)
    if (versioned)
      Seq("variants", "rsid_idx", "gene_idx").foreach { t =>
        val phys = graft.sinks.DbFs.resolveTable(db, t)
        assert(graft.sinks.DbFs.exists(phys), s"$t resolves to missing $phys")
      }
  }

  test("a mutating verb queues behind another process's writer lock") {
    // the cross-PROCESS arm of the single-writer discipline: a second
    // graft process mutating the same db must make this one wait, not
    // interleave. A python fcntl.lockf holder stands in for the other
    // process — java.nio FileLock is fcntl-based on Linux, so the two
    // contend on the same POSIX record lock (util-linux `flock` would
    // NOT: flock(2) and fcntl locks are independent domains).
    val db = Files.createTempDirectory("lockdb").toString
    val lockFile = s"$db/.writer.lock"
    // force lazy SparkSession init NOW: the holder's lease starts when
    // it locks, and a ~10s first-use session build inside Graft.run
    // would outlive it
    spark.sparkContext
    val holder = new ProcessBuilder("python3", "-c",
      s"""import fcntl,time
         |f=open('$lockFile','w')
         |fcntl.lockf(f,fcntl.LOCK_EX)
         |time.sleep(5)""".stripMargin).start()
    try {
      // wait until the other process actually holds the lock (poll with
      // a non-blocking tryLock instead of a blind sleep)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var held = false
      while (!held && System.nanoTime() < deadline) {
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(lockFile),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val l = ch.tryLock()
          if (l == null) held = true else l.release()
        } finally ch.close()
        if (!held) Thread.sleep(50)
      }
      assert(held, "flock holder never acquired the lock")
      val out = new java.io.ByteArrayOutputStream()
      val t0 = System.nanoTime()
      Console.withOut(new java.io.PrintStream(out)) {
        Graft.run(spark, Array("init-db", "--db", db))
      }
      val waited = (System.nanoTime() - t0) / 1e9
      assert(out.toString.contains("waiting for writer lock"),
        s"expected the queueing message, got: ${out.toString}")
      assert(out.toString.contains("ok: database layout initialized"),
        "the verb must complete once the other process releases")
      assert(waited >= 1.0,
        f"verb returned in $waited%.2fs — it did not queue behind the holder")
    } finally { holder.destroy(); holder.waitFor(); () }
  }

  test("a fresh-db load whose swap rename fails rolls back and retries cleanly") {
    val db = schemeDb("sharedfault")
    val vcf = Files.createTempDirectory("sharedfaultvcf")
      .resolve("a.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 200, seed = 33L)
    // the fresh-db load commits variants + both projections in one
    // all-or-nothing swap; fail the variants move-in rename mid-swap
    try {
      FaultFs.failWhen = (src, dst) =>
        src.getName.startsWith("variants.tmp-") && dst.getName == "variants"
      intercept[RuntimeException] {
        Graft.run(spark, Array("load", vcf, "--db", db))
      }
    } finally FaultFs.reset()
    // nothing half-committed: no variants table, a 'failed' ledger row,
    // and no staged residue under the db root
    assert(!graft.sinks.DbFs.exists(s"$db/variants"),
      "a rolled-back fresh-db load must leave no variants table")
    val ledger = spark.read.parquet(s"$db/ledger")
    assert(ledger.filter($"status" === "failed").count() == 1)
    assert(ledger.filter($"status" === "completed").count() == 0)
    val residue = graft.sinks.DbFs.children(db).map(_.getPath.getName)
      .filter(n => n.contains(".tmp-") || n.contains(".old-"))
    assert(residue.isEmpty, residue.mkString(","))
    // the failed attempt never satisfies the idempotency skip: the retry
    // loads for real
    Graft.run(spark, Array("load", vcf, "--db", db))
    assert(spark.read.parquet(s"$db/variants").count() >= 200)
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == 1)
  }

  test("isVanishedRead classification matrix") {
    import graft.sinks.DbFs.isVanishedRead
    // direct and cause-chain-wrapped FNF
    assert(isVanishedRead(new java.io.FileNotFoundException("x")))
    assert(isVanishedRead(new RuntimeException("wrap",
      new java.io.FileNotFoundException("gone"))))
    // the analyzer's path-not-found, produced by a REAL read of a dead
    // path (pins the actual message text, not a synthetic guess)
    val analyzer = intercept[Throwable] {
      spark.read.parquet("/tmp/graft_definitely_missing_dir_xq9").collect()
    }
    assert(isVanishedRead(analyzer), s"analyzer miss not classified: $analyzer")
    // cluster mode: an executor-side FNF whose cause chain was not
    // preserved across the wire — the class name appears only in the
    // SparkException message
    assert(isVanishedRead(new org.apache.spark.SparkException(
      "Job aborted due to stage failure: java.io.FileNotFoundException: " +
        "part-00003.parquet does not exist")))
    // non-vanish failures must PROPAGATE, not spin the retry loop
    assert(!isVanishedRead(new org.apache.spark.SparkException(
      "Job aborted due to stage failure: OutOfMemoryError")))
    assert(!isVanishedRead(new RuntimeException("unrelated")))
    assert(!isVanishedRead(new RuntimeException("outer",
      new IllegalStateException("inner"))))
    // a cyclic cause chain terminates at the depth cap instead of
    // looping forever
    val a = new RuntimeException("a")
    val b = new RuntimeException("b", a)
    a.initCause(b)
    assert(!isVanishedRead(a))
  }

  test("versioned db: retrying readers survive a multi-flip swap storm with ZERO failures, no quiesce") {
    // VERDICT r11 next-round #4: read-grace keeps exactly ONE previous
    // version, so a scan spanning TWO swaps of the same table can lose
    // its version dir — the residual exposure the plain-reader soak
    // below counts as transient failures. DbFs.withReadRetry closes it:
    // a vanished dir (exception OR silent-empty answer) re-resolves the
    // pointer and re-reads. This arm runs MORE back-to-back flips than
    // grace protects and tolerates NO read failure and NO partial or
    // empty result, with no writer quiesce before the assertions.
    val db = schemeDb("verretrystorm")
    Graft.run(spark, Array("init-db", "--db", db, "--versioned-tables"))
    val vcf = Files.createTempDirectory("verretryvcf").resolve("r.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 400, seed = 92L)
    Graft.run(spark, Array("load", vcf, "--db", db))
    val expected = spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "variants")).count()
    assert(expected >= 400)
    val probeSite = spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "variants"))
      .filter($"chrom" === "chr1").agg(min($"pos")).head().getLong(0)

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val scanReads = new java.util.concurrent.atomic.AtomicLong(0)
    val probeReads = new java.util.concurrent.atomic.AtomicLong(0)
    // Spark-scan reader through the retry seam: every read must return
    // the COMPLETE table — no failure arm at all
    val scanReader = new Thread(() => {
      try {
        while (!stop.get()) {
          val c = graft.sinks.DbFs.withReadRetry(s"$db/variants") { phys =>
            spark.read.parquet(phys).count()
          }
          scanReads.incrementAndGet()
          assert(c == expected,
            s"retrying reader saw a PARTIAL table: $c of $expected rows")
        }
      } catch { case t: Throwable => err.compareAndSet(null, t) }
    })
    // driver-side point-probe reader (PointLookup routes withReadRetry
    // internally): a known site must stay a hit through every flip —
    // the silent-empty escalation is what this asserts
    val probeReader = new Thread(() => {
      try {
        while (!stop.get()) {
          val hit = graft.query.PointLookup.byPosition(
            spark, s"$db/variants", "chr1", probeSite)
          probeReads.incrementAndGet()
          assert(hit.nonEmpty,
            s"point probe lost chr1:$probeSite mid-swap-storm")
        }
      } catch { case t: Throwable => err.compareAndSet(null, t) }
    })
    scanReader.start()
    probeReader.start()
    try {
      // 4 full-table compacts = 4 pointer flips; grace protects ONE
      // previous version, so un-retried readers would lose dirs here
      // (the soak below measures exactly that)
      (0 until 4).foreach { _ =>
        Graft.run(spark, Array("compact", "--db", db, "--tables", "variants"))
      }
    } finally {
      stop.set(true)
      scanReader.join(60000)
      probeReader.join(60000)
    }
    if (err.get() != null) throw err.get()
    assert(scanReads.get() > 0, "scan reader never completed a read")
    assert(probeReads.get() > 0, "probe reader never completed a read")
    info(s"scan reads=${scanReads.get()} probe reads=${probeReads.get()} " +
      "— zero failures across 4 mid-scan flips")
  }

  test("versioned db: readers across concurrent pointer flips see whole tables") {
    // The operational contract of the pointer layout (DEPLOY "Store
    // layout"): there is NEVER a moment with no live table under the
    // pointer, and a reader that resolves the pointer sees a COMPLETE
    // version — old or new. The one documented exposure is mid-scan GC
    // of the old version (same as the rename swap's old-dir delete), so
    // a reader that fails once must recover by RE-RESOLVING — two
    // consecutive failures, a partial row count, or an empty resolve
    // would each mean a torn swap rather than the documented race.
    val db = schemeDb("verreaders")
    Graft.run(spark, Array("init-db", "--db", db, "--versioned-tables"))
    val vcf = Files.createTempDirectory("verreadvcf").resolve("r.vcf").toString
    graft.vcf.SyntheticVcf.write(vcf, 400, seed = 91L)
    Graft.run(spark, Array("load", vcf, "--db", db))
    val expected = spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "variants")).count()
    assert(expected >= 400)

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val fails = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          try {
            val resolved = graft.sinks.DbFs.resolveTable(db, "variants")
            val c = spark.read.parquet(resolved).count()
            reads.incrementAndGet()
            // the load-bearing assertion: a read that SUCCEEDS must be a
            // COMPLETE version — a partial count would mean the pointer
            // named a half-built or half-deleted table (torn swap), where
            // a clean failure is just the documented mid-scan GC race
            assert(c == expected,
              s"reader saw a PARTIAL table: $c of $expected rows")
          } catch {
            // the documented exposure: a resolve taken just before a
            // flip can lose its version dir to the GC mid-scan — with
            // back-to-back swaps even a retry can land in the NEXT
            // swap's window, so transient failures are counted, not
            // fatal; recovery is asserted after the writer quiesces
            case _: org.apache.spark.sql.AnalysisException =>
              fails.incrementAndGet()
            case _: org.apache.spark.SparkException =>
              fails.incrementAndGet()
            case _: java.io.FileNotFoundException =>
              fails.incrementAndGet()
          }
        }
      } catch { case t: Throwable => err.set(t) }
    })
    reader.start()
    try {
      // each full-table compact rewrites variants and FLIPS its pointer
      // to a fresh version (a force-reload on an append-ready store is
      // a surgical in-place drop+append — no flip; the plain-layout
      // reader exposure for that path is soaked in LoadSoakSpec)
      (0 until 4).foreach { _ =>
        Graft.run(spark, Array("compact", "--db", db, "--tables", "variants"))
      }
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    if (err.get() != null) throw err.get()
    assert(reads.get() > 0, "reader never completed a read")
    // post-quiesce: one fresh resolve recovers unconditionally — a
    // reader that still cannot read after the writer stopped would mean
    // a dead pointer, not the transient GC race (the fails counter is
    // informational: how often the swap storm hit the documented race)
    info(s"reads=${reads.get()} transient failures=${fails.get()}")
    val v = spark.read.parquet(graft.sinks.DbFs.resolveTable(db, "variants"))
    assert(v.count() == expected)
    // grace-GC bound: current + one previous, never an unbounded pileup;
    // the .prev sidecar names the grace copy so validate can tell it
    // from crash residue
    def vdirs() = graft.sinks.DbFs.children(db).map(_.getPath.getName)
      .filter(_.matches("""variants\.v-.*"""))
    assert(vdirs().size == 2, s"expected current+grace versions: ${vdirs()}")
    val graceTok = graft.sinks.DbFs.readString(s"$db/variants.prev")
      .map(_.trim).getOrElse(fail("no variants.prev sidecar"))
    assert(vdirs().contains(s"variants.v-$graceTok"), vdirs().toString)
    // a clean validate reports NO stale residue (the grace copy is
    // deliberate, not crash residue)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(!vOut.toString.contains("stale version"), vOut.toString)
    // a DANGLING pointer refuses reclaim — the survivors may be the only
    // intact copies of the table
    val curTok = graft.sinks.DbFs.readString(s"$db/variants.current").get.trim
    graft.sinks.DbFs.deleteRecursive(s"$db/variants.v-$curTok")
    // the version diagnostics print BEFORE reconciliation, so the
    // refusal is visible even though validate then (rightly) fails
    // loudly on the broken store
    val rOut = new java.io.ByteArrayOutputStream()
    intercept[Throwable] {
      Console.withOut(new java.io.PrintStream(rOut)) {
        Graft.run(spark, Array("validate", "--db", db, "--reclaim-versions"))
      }
    }
    assert(rOut.toString.contains("NOT reclaiming"), rOut.toString)
    assert(rOut.toString.contains("DANGLING"), rOut.toString)
    assert(vdirs().size == 1, s"survivor deleted under dangling: ${vdirs()}")
    // repair the pointer at the survivor, then reclaim works (and the
    // repaired table serves the full row count)
    graft.sinks.DbFs.writeStringAtomic(s"$db/variants.current", graceTok)
    Graft.run(spark, Array("validate", "--db", db, "--reclaim-versions"))
    assert(vdirs().size == 1, vdirs().toString)
    assert(!graft.sinks.DbFs.exists(s"$db/variants.prev"),
      "reclaim must also drop the .prev sidecar")
    assert(spark.read.parquet(
      graft.sinks.DbFs.resolveTable(db, "variants")).count() == expected)
  }
}
