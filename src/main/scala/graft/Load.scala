package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Graft.{arg, customPhiPatterns, has, tbl}
import graft.sinks.{DbFs, WritePlan}
import graft.transform.PhiSanitizer

/** The `load` verb (`cli.py:245-497`, `loader.py`): one VCF becomes one
  * batch of the variants table, its covering projections and, with
  * `--store-genotypes`, the genotypes table — audited by an
  * in_progress → completed/failed ledger row. */
object Load {

  /** The variants table and its covering projections. */
  private val VariantTables = Seq("variants", "rsid_idx", "gene_idx")

  def run(spark: SparkSession, args: Array[String], db: String): Unit = {
    import spark.implicits._
    val vcf = Graft.operand(args, "load")
    // `--report` (`cli.py:282-283,458-497`): a machine-readable JSON
    // load report for scripting — status/variants_loaded/
    // variants_skipped/load_batch_id/file_hash plus elapsed_seconds,
    // vcf_file, an UTC timestamp, sample_id and the target namespace.
    // `--sample-id` feeds ONLY this report (`cli.py:491` — the
    // reference CLI uses it nowhere else; default = the file stem,
    // Python Path.stem = last suffix stripped). "schema" maps to the
    // db directory — the closest analogue of the reference's Postgres
    // schema namespace.
    val reportPath = arg(args, "--report")
    val loadT0 = System.nanoTime()
    def writeReport(head: Seq[(String, String)]): Unit =
      reportPath.foreach { rp =>
        val base = new org.apache.hadoop.fs.Path(vcf).getName
        val stem =
          if (base.contains('.')) base.substring(0, base.lastIndexOf('.'))
          else base
        val ts = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now())
        val entries = head ++ Seq(
          // Locale.ROOT: the f-interpolator renders a comma decimal
          // separator on de/fr-locale JVMs, which is invalid JSON
          "elapsed_seconds" -> String.format(java.util.Locale.ROOT,
            "%.3f", Double.box((System.nanoTime() - loadT0) / 1e9)),
          "vcf_file" -> Json.str(vcf),
          "timestamp" -> Json.str(ts),
          "sample_id" -> Json.str(arg(args, "--sample-id").getOrElse(stem)),
          "schema" -> Json.str(db))
        DbFs.writeStringAtomic(rp, entries
          .map { case (k, v) => s"${Json.str(k)}: $v" }
          .mkString("{\n  ", ",\n  ", "\n}\n"))
        println(s"  Report: $rp")
      }
    // flag-vocabulary validation up front, BEFORE any ledger write —
    // a typo'd flag must not leave in_progress/failed ledger residue
    arg(args, "--imputation-source").foreach { s =>
      if (!Set("minimac4", "beagle", "impute2", "auto")(s))
        sys.error(s"--imputation-source must be one of minimac4, " +
          s"beagle, impute2, auto: $s")
    }
    val ledger = new graft.audit.Audit.Ledger(spark, s"$db/ledger")
    val progress = new graft.audit.LoadProgress(spark)
    // the listener's lifetime spans EVERY exit from here on — the
    // skip return, a PHI-scan abort, a ledger_begin failure — not
    // just the load body's try below; a leaked listener would keep
    // processing task events for the session's lifetime
    try {
    val hash = progress.stage("file_hash")(graft.audit.Audit.fileSha256(vcf))
    val existing = progress.stage("ledger_check")(ledger.checkExisting(hash))
    if (existing.isDefined && !has(args, "--force-reload")) {
      println(s"skip: file already loaded (batch ${existing.get})")
      // skipped-report shape (`cli.py:458-463`): load_batch_id carries
      // the PREVIOUS load's batch so scripts can still key on it
      writeReport(Seq(
        "status" -> Json.str("skipped"),
        "variants_loaded" -> "0",
        "load_batch_id" -> Json.str(existing.get),
        "file_hash" -> Json.str(hash)))
      return
    }
    val batchId = java.util.UUID.randomUUID().toString
    def now() = new java.sql.Timestamp(System.currentTimeMillis())
    // PHI scan before any load work (`loader.py:275-298`). The scan
    // surface matches the reference's detector (`phi/detector.py:
    // 160-214`): ## meta lines, sample names on the #CHROM line, and
    // a bounded sample of data rows (ID/INFO/FORMAT/sample columns —
    // the reference scans with sample_rate/max_records; 1000 rows is
    // a fixed-size driver sample, not a data-sized collect).
    // --fail-on-phi implies the scan: passing it alone must never be
    // a silent no-op.
    var ledgerNote = ""
    if (has(args, "--phi-scan") || has(args, "--fail-on-phi")) {
      // custom patterns from the per-db registry (phi-patterns-add) or
      // an explicit patterns-config flag merge into the builtin scan,
      // the reference's config-fed PHIScanner (`loader.py:275-277`)
      val custom = customPhiPatterns(args, db, consultDbRegistry = true)
      // name-keyed merge, custom wins (the reference's dict registry):
      // an overridden builtin must not ALSO run, or counts double and
      // the severity resolves to the shadowed builtin's
      val customNames = custom.map(_.name).toSet
      val customPats = custom.map(p => (p.regex, p.name))
      val allPats = PhiSanitizer.mergedRegistry(custom).map(p => (p.regex, p.name))
      val headerLines = graft.vcf.VcfHeader.readHeaderLines(spark, vcf)
      // ## lines: the builtins through the sanitizer's redaction scan
      // (the header this load stores), plus the custom patterns; the
      // #CHROM sample names and the data rows: every pattern
      val meta = PhiSanitizer.sanitizeHeader(headerLines).redactions
        .filterNot(r => customNames(r.category))
        .map(r => (r.category, "HEADER")) ++
        headerLines.zipWithIndex.flatMap { case (l, i) =>
          PhiSanitizer.scanHeaderLineAt(l, i + 1L,
            if (l.startsWith("##")) customPats else allPats)
        }.map(d => (d.category, d.location))
      val dataRows = spark.read.textFile(vcf)
        .filter(!$"value".startsWith("#")).limit(1000).collect().toSeq
        .flatMap(l => PhiSanitizer.scanDataLineAt(l, 0L, allPats))
        .map(d => (d.category, d.location))
      val findings = meta ++ dataRows
      if (findings.nonEmpty) {
        val cats = findings.map(_._1).distinct.sorted
        val where = findings.map(_._2.takeWhile(_ != '[')).distinct.sorted
        ledgerNote = s"phi_scan: ${findings.length} findings " +
          cats.mkString("(", ",", ")") + " in " + where.mkString(",")
        println(s"WARNING: PHI detected in VCF: ${findings.length} items " +
          s"${cats.mkString(",")} in ${where.mkString(",")}")
        if (has(args, "--fail-on-phi"))
          sys.error(s"PHI detected in VCF file " +
            s"(${findings.length} findings). " +
            "Drop --fail-on-phi to load anyway.")
      } else ledgerNote = "phi_scan: clean"
    }
    // The reference writes the audit row BEFORE loading and flips it on
    // completion/rollback (`loader.py:547-623`, `schema.py:207-241`):
    // a crash mid-load must leave a visible in_progress/failed row, not
    // silence. checkExisting only honors status='completed', so these
    // rows never satisfy the skip check.
    progress.stage("ledger_begin") {
      ledger.append(graft.audit.Audit.LedgerEntry(batchId, vcf, hash,
        "in_progress", 0L, now(), ledgerNote))
    }
    val prevBatch = if (has(args, "--force-reload")) existing else None
    // commit point = the 'completed' ledger row; post-commit failures
    // (vault, progress printing) must never roll the batch back
    var committed = false
    // a failed load drops this batch's own rows from every table it
    // wrote, whatever the write shape: each written table, flagged
    // BEFORE its write (a failure mid-write may have committed some
    // files), with whether this load created it
    val own = Seq("load_batch_id" -> batchId)
    var written = Map.empty[String, Boolean]
    var appendedV = false
    def rmTable(t: String): Unit = {
      DbFs.deleteRecursive(tbl(db, t))
      DbFs.deleteRecursive(DbFs.pointerPath(s"$db/$t"))
    }
    // a table dir holding no parquet at all (only _SUCCESS, or the
    // empty chrom dirs a rollback leaves) poisons every later read of
    // that table — no footer to infer a schema from — so a REAL load
    // into this db would then fail. The reference has no such failure
    // mode: its tables exist in the schema regardless of row count
    // (`schema.py`).
    def rmIfNoParquet(t: String): Unit = {
      val d = tbl(db, t)
      if (DbFs.isDirectory(d) && !DbFs.hasParquetRecursive(d)) rmTable(t)
    }
    // the genotype append runs on its own driver thread (see below);
    // any failure path must drain it before touching the store
    var genoPending: Option[scala.concurrent.Future[Unit]] = None
    def drainGeno(): Unit = genoPending.foreach { f =>
      scala.util.Try(scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf))
      genoPending = None
    }
    try {
      // `--imputation-source` (`cli.py:317-323`, `loader.py:292-296`):
      // pin the imputation-metric extraction to one tool's INFO
      // vocabulary instead of the header auto-detection; the
      // reference's Enum vocabulary (`parsers/imputation.py:22-28`),
      // validated before the ledger_begin row above
      // normalize DEFAULTS ON like the reference's load
      // (`cli.py:269`, --normalize/--no-normalize with default True);
      // --normalize stays accepted as the explicit spelling. vt
      // normalization is a codegen'd native expression (T5), so the
      // default costs no UDF barrier on the parse.
      val opts = graft.vcf.VcfReader.Options(
        normalize = !has(args, "--no-normalize"),
        humanGenome = !has(args, "--no-human-genome"),
        imputationSource =
          arg(args, "--imputation-source").getOrElse("auto"),
        minInfoScore = arg(args, "--min-info-score").map(_.toDouble))
      val header = progress.stage("read_header")(
        graft.vcf.VcfHeader.read(spark, vcf))
      // HIPAA master toggle (`cli.py:303-310,352-359`): compliance
      // features default ON; --no-hipaa-mode turns anonymization AND
      // header sanitization off in one flag (the reference also drops
      // its TLS requirement — transport infra with no analogue here);
      // the individual --no-anonymize / --no-sanitize-headers still
      // apply on top. --anonymize stays accepted (it IS the default).
      val hipaaOff = has(args, "--no-hipaa-mode")
      val anonymize = !hipaaOff && !has(args, "--no-anonymize")
      // `--sanitize-headers` default-ON (`cli.py:295-298`,
      // `loader.py:308-326`): every load scans the header for PHI and
      // records the outcome — the reference's header_sanitization
      // audit event; here a printed summary + a ledger-note clause the
      // phi-report/phi-stats verbs serve. Builtin patterns only, like
      // the reference's default sanitizer config; the data-row scan
      // stays the explicit --phi-scan face.
      if (!hipaaOff && !has(args, "--no-scan-headers") &&
          !has(args, "--no-sanitize-headers")) {
        val rep = PhiSanitizer.sanitizeHeader(header.lines)
        if (rep.redactions.nonEmpty) {
          val sev = rep.redactions.map(r =>
            PhiSanitizer.severityOf(r.category, PhiSanitizer.BuiltinRegistry))
          val risk = Seq("critical", "high", "medium", "low")
            .find(sev.contains).getOrElse("low")
          println(s"header sanitization: detected " +
            s"${rep.redactions.length} PHI items (risk: $risk)")
          val clause =
            s"header_sanitization: ${rep.redactions.length} items " +
              s"(risk: $risk)"
          ledgerNote =
            if (ledgerNote.isEmpty) clause else s"$ledgerNote; $clause"
        }
      }
      // Sample anonymization (`loader.py:326+`, phi/anonymizer):
      // deterministic ANON_<sha256(salt||id)[:12]> ids. The mapping is
      // ONE-WAY by design (deviation from the reference's encrypted
      // phi_vault, documented): no recoverable original id is stored
      // anywhere. --anonymize-salt keys the hash so low-entropy sample
      // ids can't be brute-forced from the anon id.
      val anonSalt = arg(args, "--anonymize-salt").getOrElse("")
      def anonId(c: org.apache.spark.sql.Column) =
        concat(lit("ANON_"), substring(sha2(concat(lit(anonSalt), c), 256), 1, 12))
      // the anonymization MAPPING derives from the header's sample
      // list and lands in the vault whether or not genotypes are
      // stored — the reference anonymizes parser.samples up front
      // (`loader.py:328-345`), independent of store_genotypes. The
      // vault rows this load would add are read while the batch loads
      // (the vault changes only under the writer lock this load holds),
      // so the post-commit vault write runs only when a sample is new.
      // Header-sized: the sample list is already driver-side.
      val vaultDir = s"$db/phi_vault/sample_id_mapping"
      val vaultNew =
        if (!anonymize || header.samples.isEmpty) None
        else Some(scala.concurrent.Future {
          val ids = header.samples.toDF("sample_id")
            .select(anonId($"sample_id").as("anon_id"))
          (if (DbFs.exists(vaultDir))
            ids.join(spark.read.parquet(vaultDir).select("anon_id"),
              Seq("anon_id"), "left_anti")
          else ids).as[String].collect().toSeq
        }(scala.concurrent.ExecutionContext.global))
      // per-sample genotype storage is OPT-IN like the reference
      // (`cli.py:324-326` --store-genotypes default False,
      // `loader.py:398-402`): a plain load of a cohort VCF must not
      // silently commit to per-sample×variant storage — at scale that
      // multiplies the store by sample count. Without the flag the
      // variants' QC columns stay typed-null (the reference loader
      // never fills them either — `models.py:54-61` default None).
      val storeGenotypes =
        has(args, "--store-genotypes") && header.samples.nonEmpty
      val dosageOnly = has(args, "--dosage-only")
      val adjFilter = has(args, "--adj-filter")
      // an explicitly-passed genotype-storage flag that cannot take
      // effect must not vanish silently (the reference's CLI is
      // silent here; a printed warning keeps its exit contract while
      // telling the user storage is opt-in now)
      if (!storeGenotypes && (dosageOnly || adjFilter))
        println("WARNING: --adj-filter/--dosage-only apply to genotype " +
          "storage, which needs --store-genotypes" +
          (if (header.samples.isEmpty) " and a sample-bearing VCF"
           else "") + " — no genotype rows will be stored")
      if (storeGenotypes) {
        written += "genotypes" -> !DbFs.exists(tbl(db, "genotypes"))
        // The genotype side (plan -> text parse -> hive append) runs on
        // ITS OWN DRIVER THREAD, overlapped with the variants parse_count
        // and, where the write shape allows, the variants-family write
        // below: the scans are independent, and together they keep the
        // executor pool full where running them back-to-back left cores
        // idle in each phase. Building the genotype plan is itself
        // driver work worth overlapping (~0.5 s: a header read and a
        // long chain of analyzed projections). Nothing on the variants
        // side reads the genotype rows: variant QC folds from the same
        // sample columns inside the variants parse.
        genoPending = Some(scala.concurrent.Future {
            var g = graft.vcf.VcfReader.genotypes(spark, vcf,
                opts.humanGenome, opts.skipMalformed)
              .withColumn("load_batch_id", lit(batchId))
            if (anonymize)
              g = g.withColumn("sample_id", anonId($"sample_id"))
            // `--adj-filter` (`cli.py:327-331`): store only genotype rows
            // passing gnomAD ADJ — the load-time row DROP the reference
            // applies per call (`genotype_loader.py:279-282`), reusing the
            // passes_adj column (F3; same missing-passes semantics, with
            // the documented multi-allelic-het deviation). Runs BEFORE
            // --dosage-only, like the reference (the filter reads the
            // real GQ/DP/AB the nulling would erase).
            if (adjFilter)
              g = g.filter($"passes_adj")
            // `--dosage-only` (`cli.py:332-334`): space-saving storage —
            // hard-call fields null out (gt '.', phased false, allele
            // ints, GQ/DP/AD, allele balance), dosage + its GP/DS sources
            // survive (`genotype_loader.py:288-293`). passes_adj keeps the
            // ORIGINAL call's ADJ verdict (our column, no reference
            // analogue — nulling it would claim the verdict was never
            // computed).
            if (dosageOnly)
              g = g
                .withColumn("gt", lit("."))
                .withColumn("phased", lit(false))
                .withColumn("a1", lit(null).cast("int"))
                .withColumn("a2", lit(null).cast("int"))
                .withColumn("gq", lit(null).cast("int"))
                .withColumn("dp", lit(null).cast("int"))
                .withColumn("ad", lit(null).cast("array<int>"))
                .withColumn("allele_balance", lit(null).cast("double"))
            // hive-partitioned by chrom from the FIRST append (the
            // variants layout): the genotype point probe then lists
            // one chrom directory instead of footer-testing every
            // file in the table. Still a narrow write — no shuffle:
            // the partitioned writer sorts each task's rows on chrom
            // anyway, and sorting on (chrom, pos) satisfies it, so
            // every appended file is pos-sorted in pages of 512 rows
            // and a genotype probe prunes pages on the fragmented
            // store as it does after `compact`. A coordinate-sorted
            // VCF's input splits each span ~1 chromosome, so the
            // per-load file count stays ~tasks. A pre-hive db has
            // FLAT files at the table root: a hive append there would
            // mix layouts into an unreadable table, so such stores
            // keep appending flat until a `compact` migrates them.
            val gDir = tbl(db, "genotypes")
            val legacyFlat = DbFs.hasFlatParquet(gDir)
            progress.stage("write_genotypes") {
              val w = g.sortWithinPartitions($"chrom", $"pos")
                .write.mode("append")
                .option("parquet.page.row.count.limit", "512")
              (if (legacyFlat) w else w.partitionBy("chrom"))
                .parquet(gDir)
            }
            // an append can land within the directory-mtime tick of
            // a cached probe listing; drop same-JVM cached listings
            // so a lookup right after this load sees the new files
            graft.query.PointLookup.invalidateListings(s"$db/genotypes")
        }(scala.concurrent.ExecutionContext.global))
      }
      // variant QC (A1) folds into the parse, from each line's own
      // sample columns: over the calls the genotypes table stores — all
      // of them, or the ADJ-passing ones under --adj-filter. A
      // dosage-only store holds NO hard calls by design, so QC from it
      // would PERSIST a claim (call_rate 0, every call missing) the
      // source data contradicts; it and a load without genotype storage
      // keep the QC columns typed-null, exactly the reference's
      // unfilled defaults (`models.py:54-61`).
      val qcCalls =
        if (!storeGenotypes || dosageOnly) None
        else Some(if (adjFilter) graft.vcf.VcfReader.QcCalls.Adj
                  else graft.vcf.VcfReader.QcCalls.All)
      val vWithId = graft.ingest.VariantMatching.withVariantId(
        graft.vcf.VcfReader.variantsWithHeader(spark, vcf, header, opts, qcCalls)
          .withColumn("load_batch_id", lit(batchId)))
      // One schema for every store, reference-style: the variants
      // table carries the QC columns (last) even when the file had no
      // FORMAT/sample section, null until filled (`schema.py:110-187`).
      // Without this, a cohort mixing sample-less and genotyped files
      // trips the schema-evolution full rewrite on the second load (an
      // O(store) cost for an O(batch) file); with it, both load shapes
      // produce identical columns and stay on the append path.
      val qcNames = graft.qc.VariantQc.joinedColumns.map(_._1).toSet
      val vc = vWithId.select(
        vWithId.columns.toSeq.filterNot(qcNames).map(col) ++
          graft.qc.VariantQc.joinedColumns.map { case (c, t) =>
            (if (vWithId.columns.contains(c)) col(c) else lit(null).cast(t)).as(c)
          }: _*)
      // §2.13 append-only cohort: a db accumulates ONE batch per VCF.
      // The reference deletes only the SAME file's previous batch and
      // otherwise appends (`loader.py:244-252`; the acceptance
      // cross-sample queries depend on multi-file accumulation). The
      // common cohort load — an existing store, a NEW file — is an
      // O(batch) append (see WritePlan): appended files overlap prior
      // batches' pos ranges within a chrom directory, the serving faces
      // read every overlapping file and sort driver-side (`PointLookup`),
      // and `compact` folds the fragmentation back into disjoint files.
      //
      // EVERY load path caches the parsed batch and counts it first:
      // the count fills the cache (so later writes read materialized
      // rows instead of re-running the parse — repartitionByRange
      // alone executes its input twice, once sampling range bounds
      // and once shuffling), it runs CONCURRENTLY with the genotype
      // append above (the two text parses together fill the executor
      // pool), and the count IS the per-batch ledger number. A batch
      // is one VCF — MEMORY_AND_DISK spills rather than OOMs at
      // cohort scale.
      val vCache = vc.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var batchN = -1L
      try {
      // the variants table and both covering projections land in the
      // shape WritePlan picks from the store, the batch schema and the
      // batch this load replaces. The store's state (driver-side schema
      // reads) is taken while the batch parses.
      val fam = WritePlan.variants(db)
      val stateF = scala.concurrent.Future(progress.stage("schema_check")(
        WritePlan.state(spark, fam)))(scala.concurrent.ExecutionContext.global)
      batchN = progress.stage("parse_count")(vCache.count())
      val state = scala.concurrent.Await.result(
        stateF, scala.concurrent.duration.Duration.Inf)
      val shape = WritePlan.plan(state, vCache.schema,
        prevBatch.toSeq.map("load_batch_id" -> _), emptyBatch = batchN == 0)
      // the genotype append lands; then force-reload drops the previous
      // batch's genotype rows (an append alone would double them on
      // every reload), genotyped or not — a reload without genotype
      // storage must still drop the rows its previous batch stored. The
      // drop is SURGICAL (DELETE WHERE load_batch_id,
      // `loader.py:244-252`): the old batch's files are identified by
      // footer stats and renamed away at O(batch) cost. It runs only
      // now that the replacement file has parsed — a corrupt reload
      // file never destroys the batch it replaces.
      def landGenotypes(): Unit = {
        genoPending.foreach(f => scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf))
        genoPending = None
        prevBatch.foreach { b =>
          if (DbFs.exists(tbl(db, "genotypes")))
            progress.stage("drop_prev_genotypes") {
              WritePlan.dropKeys(spark, Seq(s"$db/genotypes"),
                Seq("load_batch_id" -> b))
            }
        }
      }
      // A shape that removes no existing row writes while the genotype
      // append is still running: if either side fails, dropping this
      // batch's own rows restores the store exactly. A shape that drops
      // or rewrites rows waits for the genotype append, so a corrupt
      // reload never destroys the batch it replaces. The old batch's
      // variant rows go only now, after the new file parsed and cached
      // cleanly: a failure from here on leaves the old batch gone and
      // the new one rolled back ('failed' ledger row) — the file reads
      // as not loaded, and re-running the load recovers.
      val overlap = !WritePlan.removesRows(state, shape)
      if (!overlap) landGenotypes()
      if (shape != WritePlan.NoOp)
        written ++= VariantTables.map(_ -> state.table.isEmpty)
      WritePlan.execute(spark, fam, state, shape, vCache, own, counted = true,
        stage = (n, body) => progress.stage(n)(body()),
        rewriteRows = graft.ingest.VariantMatching.withVariantId)
      appendedV = shape.appends
      if (overlap) landGenotypes()
      } finally {
        // a failed load must not leak the cache, and any in-flight
        // genotype append must land (or fail) BEFORE the catch
        // handler below rolls the batch back
        drainGeno()
        vCache.unpersist()
      }
      // the APPEND paths accumulate files across loads; --compact
      // folds the fold-back into this load (pre-commit, so a failure
      // here ledgers as failed and rolls the appends back)
      if (has(args, "--compact")) {
        val targetMb = arg(args, "--target-file-mb").getOrElse("128").toLong
        def compact(t: String, maxFilesPerChrom: Option[Int] = None) =
          graft.sinks.WritePlan.compact(spark, db, t, targetMb, maxFilesPerChrom)
        if (written.contains("genotypes"))
          progress.stage("compact_genotypes")(compact("genotypes"))
        // variants per chrom dir: content unchanged, so the projections
        // stay FRESH and only need their own file-count fold-back
        if (appendedV)
          progress.stage("compact_variants") {
            compact("variants", maxFilesPerChrom = Some(1))
            compact("rsid_idx")
            compact("gene_idx")
          }
      }
      // per-BATCH count, not the whole store's: the ledger row records
      // what THIS file contributed (reference `variants_loaded`,
      // `loader.py:547-560`). Every path counted its cached batch
      // above — O(batch), never a store scan. The footer fallback is
      // defensive only (batchN is always set on the paths above).
      val n =
        if (batchN >= 0) batchN
        else graft.sinks.Writers.parquetRowCount(tbl(db, "variants"))
      if (n == 0) {
        // a zero-variant batch (e.g. a VCF with headers but no
        // records) must not leave schema-less marker directories.
        // Unconditional: also covers a force-reload to an empty file
        // whose surgical drop removed the store's only batch (a no-op
        // when any other batch's parquet remains)
        VariantTables.foreach(rmIfNoParquet)
        if (written.contains("genotypes")) rmIfNoParquet("genotypes")
      }
      progress.stage("ledger_commit") {
        ledger.append(graft.audit.Audit.LedgerEntry(batchId, vcf, hash,
          "completed", n, now(), ledgerNote))
      }
      committed = true
      // vault write only after the load committed (no orphan vault rows
      // from failed loads), deduped against prior loads of the same
      // samples (the reference upserts ON CONFLICT,
      // `phi/anonymizer.py get_or_create_anonymous_id`); advisory, so
      // a vault IO failure must not roll back the committed batch
      vaultNew.foreach { f =>
        try progress.stage("phi_vault") {
          val fresh = scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf)
          if (fresh.nonEmpty)
            fresh.toDF("anon_id").withColumn("load_batch_id", lit(batchId))
              .write.mode("append").parquet(vaultDir)
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(s"WARNING: phi_vault write failed: ${e.getMessage}")
        }
      }
      progress.print()
      println(s"loaded $n variants (batch $batchId)")
      // success-report shape (`cli.py:476-482`). variants_skipped is
      // the reference's info-score drop count (`loader.py:292-296`);
      // counting it needs the unfiltered parse cardinality, an extra
      // O(batch) pass paid only when BOTH --report and
      // --min-info-score were given (the count is 0 without a filter)
      // best-effort: the load is COMMITTED at this point, so a
      // recount failure (file moved since, transient FS error) must
      // not turn a successful load into a nonzero exit with no
      // report — fall back to the reference's own absent-key default
      // of 0 (`cli.py:479` result.get("variants_skipped", 0))
      val skippedN =
        if (reportPath.isDefined && opts.minInfoScore.isDefined)
          scala.util.Try(math.max(0L, graft.vcf.VcfReader.variants(
            spark, vcf, opts.copy(minInfoScore = None)).count() - n))
            .recover { case e =>
              println("WARNING: variants_skipped recount failed " +
                s"(${e.getMessage}); reporting 0")
              0L
            }.get
        else 0L
      writeReport(Seq(
        "status" -> Json.str("success"),
        "variants_loaded" -> n.toString,
        "variants_skipped" -> skippedN.toString,
        "load_batch_id" -> Json.str(batchId),
        "file_hash" -> Json.str(hash)))
    } catch {
      case e: Throwable if !committed =>
        // any in-flight genotype append must finish landing (or
        // failing) before the rollback below touches its files —
        // a no-op when the happy path's finally already drained it
        drainGeno()
        // drop this batch's rows from every table it wrote (best-effort),
        // then ledger the failure — orphan data with no audit trace is
        // the reference's explicit no-no (`loader.py:547-623`). Files a
        // load wrote hold only its batch, so the drop is a rename per
        // file; a rewritten table's mixed files are rewritten. Then, as
        // the zero-variant path does, no table is left that a re-run
        // cannot read or would append to: one left without parquet, or
        // one this load created that now holds no row.
        WritePlan.rollback(spark, written.keys.toSeq.map(t => s"$db/$t"), own)
        written.foreach { case (t, created) =>
          scala.util.Try(
            if (created && DbFs.isDirectory(tbl(db, t)) &&
                graft.sinks.Writers.parquetRowCount(tbl(db, t)) == 0) rmTable(t)
            else rmIfNoParquet(t))
        }
        ledger.append(graft.audit.Audit.LedgerEntry(batchId, vcf, hash,
          "failed", 0L, now(), s"error: ${e.getMessage}"))
        throw e
    }
    } finally progress.close()
  }
}
