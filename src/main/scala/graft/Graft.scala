package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.DbFs

/** Thin CLI mapping the reference's verbs (`cli.py:245-2490`) onto the
  * library. The "database" is a parquet directory layout:
  *
  *   <db>/variants/         chrom-partitioned variants (K1)
  *   <db>/genotypes/        genotype long table
  *   <db>/gwas_stats/       matched summary stats
  *   <db>/prs_weights/      matched PGS weights
  *   <db>/ledger/           load-audit ledger (idempotent reload)
  *   <db>/views/<name>/     materialized views
  *
  * Usage: graft.Graft <verb> [args] — run with `sbt "runMain graft.Graft
  * load sample.vcf --db /tmp/db"`.
  */
object Graft {

  private[graft] def arg(args: Array[String], flag: String): Option[String] = {
    val i = args.indexOf(flag)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }
  private[graft] def has(args: Array[String], flag: String): Boolean = args.contains(flag)

  /** First positional operand (`args(1)`) for verbs whose input is a
    * parquet path. A missing operand or a flag in its place is a USAGE
    * error, not a literal path to read — `graft dedup --db X` must not
    * silently read parquet at "--db", and a bare `graft dedup` must not
    * throw ArrayIndexOutOfBounds (mirrors ann-topk's sys.error guards). */
  private def positionalPath(args: Array[String], verb: String,
                             what: String): String = {
    if (args.length < 2 || args(1).startsWith("--"))
      sys.error(s"$verb needs a $what parquet path as its first argument")
    args(1)
  }

  /** Closed-label-set histogram observed during a verb's write pass
    * (the single-pass report discipline): per-label conditional counts
    * plus an "other" count that trips loudly when a classifier gains a
    * label nobody registered here. */
  private def labelHistAggs(labels: Seq[String],
      c: org.apache.spark.sql.Column,
      prefix: String): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{count, when, lit, not}
    // NULL-safe: not(isin) is NULL (not true) for a NULL label, which
    // would count the row in NEITHER bucket and desync the histogram
    // sum from the row count — a NULL classifier output must land in
    // "other" like any other unregistered label.
    count(when(c.isNull || not(c.isin(labels: _*)), lit(1)))
      .as(s"${prefix}_other") +:
      labels.map(l => count(when(c === l, lit(1))).as(s"${prefix}_$l"))
  }

  /** Render the observed label counts as the report's JSON object —
    * only labels that occurred, ordered by count desc then label (or
    * label alone). */
  private def labelHistRender(labels: Seq[String], prefix: String,
      m: Map[String, _], byCountDesc: Boolean): String = {
    val other = m(s"${prefix}_other").asInstanceOf[Long]
    // Single-pass reporting can't name an unregistered label (the
    // groupBy that would is exactly the rescan we removed) — but a
    // nonzero "other" should be loud enough to chase, not just a
    // quiet bucket in the JSON.
    if (other > 0)
      System.err.println(s"[graft] WARNING: $other rows with an " +
        s"unregistered '$prefix' label landed in \"other\" — a " +
        s"classifier emitted a label not in {${labels.mkString(",")}}")
    (labels.map(l => (l, m(s"${prefix}_$l").asInstanceOf[Long])) ++
      Seq(("other", other)))
      .filter(_._2 > 0)
      .sortBy { case (l, c) => (if (byCountDesc) -c else 0L, l) }
      .map { case (l, c) => s"${Json.str(l)}:$c" }
      .mkString("{", ",", "}")
  }

  /** Both accepted spellings of the pattern-config flag:
    * `--patterns-config` (the phi verbs) and `--phi-patterns-config`
    * (matching load's phi-prefixed flags) — read AND write sides accept
    * either, so neither spelling can silently no-op. */
  private def patternsConfigArg(args: Array[String]): Option[String] =
    Seq("--patterns-config", "--phi-patterns-config")
      .flatMap(f => arg(args, f)).headOption

  /** Does `child` resolve to `dir` or inside it? Local paths compare
    * absolute-normalized (so `db` and `./db/f.toml` agree); remote
    * schemes compare normalized URIs. Used to decide whether an explicit
    * --patterns-config still targets the per-db registry. */
  private def pathResolvesUnder(child: String, dir: String): Boolean = {
    def norm(s: String): String =
      if (DbFs.isLocal(s))
        java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(s).toUri.getPath)
          .toAbsolutePath.normalize.toString
      else new org.apache.hadoop.fs.Path(s).toUri.normalize.toString
    // a local path and a remote one can never nest
    if (DbFs.isLocal(child) != DbFs.isLocal(dir)) return false
    val c = norm(child)
    val d = norm(dir).stripSuffix("/")
    c == d || c.startsWith(d + "/")
  }

  /** Custom PHI patterns for a scan: an explicit config flag, else the
    * per-db registry written by phi-patterns-add. `consultDbRegistry`
    * decides whether the registry of an IMPLICIT (default) db counts:
    * the load verb always consults it — the implicit db is the db being
    * WRITTEN, so its own detection configuration governs — while the
    * standalone scan/list faces require an explicit `--db`, so a
    * leftover registry in the world-shared default db cannot alter an
    * unrelated file's scan invisibly. */
  private[graft] def customPhiPatterns(args: Array[String], db: String,
      consultDbRegistry: Boolean)
      : Seq[graft.transform.PhiSanitizer.PhiPattern] =
    patternsConfigArg(args)
      .map(graft.transform.PhiPatternRegistry.load)
      .getOrElse {
        val dbReg = s"$db/phi_patterns.toml"
        if (consultDbRegistry && DbFs.exists(dbReg))
          graft.transform.PhiPatternRegistry.load(dbReg)
        else Nil
      }

  /** `studies` registry row (`gwas` schema — study_id/accession/trait/
    * sizes/build; `cli.py:997-1058` list-studies surface). */
  final case class StudyEntry(
      study_accession: String, trait_name: Option[String],
      trait_ontology_id: Option[String], publication_pmid: Option[String],
      sample_size: Option[Long], n_cases: Option[Long], n_controls: Option[Long],
      genome_build: String, n_imported: Long, n_matched: Long,
      created_at: java.sql.Timestamp)

  /** `pgs_scores` registry row (`prs/schema.py` scores table;
    * `cli.py:1139-1192` list-pgs surface). */
  final case class PgsEntry(
      pgs_id: String, trait_name: Option[String],
      trait_ontology_id: Option[String], publication_pmid: Option[String],
      weight_type: Option[String], genome_build: String,
      n_variants_declared: Option[Int], weight_count: Long, matched_count: Long,
      created_at: java.sql.Timestamp)

  /** `annotation_sources` registry row (`annotation_schema.py:233-253`
    * list_sources surface). */
  final case class AnnotationEntry(
      name: String, source_type: String, version: Option[String],
      vcf_path: String, fields: String, variant_count: Long,
      loaded_at: java.sql.Timestamp)

  /** Upsert one registry row — the analogue of the reference's ON
    * CONFLICT registry upserts (K3 semantics, via Writers.upsert).
    * Registries are small metadata tables. */
  /** Current physical dir of a logical db table: versioned dbs resolve
    * the `<table>.current` pointer, the plain layout is identity (see
    * `DbFs.resolvePath`). READS and APPENDS go through here; swap
    * DESTINATIONS stay logical so `Writers` can commit by pointer flip. */
  private[graft] def tbl(db: String, name: String): String =
    DbFs.resolveTable(db, name)

  private def upsertRegistry(spark: SparkSession, dir: String,
                             row: DataFrame, key: String): Unit = {
    // read the current physical dir (versioned dbs resolve the pointer);
    // the swap destination stays LOGICAL so the commit is a pointer flip
    val phys = DbFs.resolvePath(dir)
    if (DbFs.exists(phys))
      graft.sinks.Writers.replaceInPlace(
        graft.sinks.Writers.upsert(spark.read.parquet(phys), row, Seq(key),
          allowMissingColumns = true),
        dir)((d, p) => d.write.parquet(p))
    else row.write.parquet(phys)
  }

  /** Rewrite `$db/variants` together with BOTH covering projections in
    * one all-or-nothing swap. Every verb that rewrites variants after
    * load (popmax update, hapmap3 flagging, LD-block assignment) must go
    * through here: the rsID projection is a COVERING full-row copy, so a
    * variants rewrite that skips the index rebuild leaves `lookup rsX`
    * serving stale flag/popmax/LD columns — and silently, because the
    * swap preserves row counts (`references/hapmap3.py:53-107`,
    * `schema.py:271-275`). */
  private def replaceVariantsStaged(spark: SparkSession, db: String,
                                    updated: DataFrame): Unit =
    graft.sinks.WritePlan.rewrite(spark, graft.sinks.WritePlan.variants(db), updated)

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(1) }
    val spark = Tables.session()
    graft.qc.Hwe.register(spark)
    graft.functions.GenomicsFunctions.register(spark)
    graft.functions.VectorExpressions.register(spark)
    graft.functions.SimHashExpression.register(spark)
    graft.functions.MinHashExpression.register(spark)
    graft.transform.Normalizer.register(spark)
    graft.transform.Annotations.register(spark)
    try run(spark, args) finally spark.stop()
  }

  private val MutatingVerbs = Set("load", "compact", "init-db", "import-gwas",
    "import-pgs", "import-frequencies", "load-reference", "annotate-ld-blocks",
    "compute-sample-qc", "refresh-views", "load-annotation",
    // mutates the per-db PHI registry: the detection configuration is
    // db state — serialized under the writer lock and audit-logged like
    // every other state change
    "phi-patterns-add",
    // pipeline verbs: each writes output tables under --db, so they get
    // the same single-writer + audit-row discipline as the genomics verbs
    "dedup", "ann-topk", "text-quality", "media-features")

  /** Dispatch with operation auditing: every state-changing verb appends
    * one chained row to `$db/audit_log` (the reference's audit_log,
    * `audit/integrity.py:92-239` — the ledger records WHAT data landed,
    * this records WHO ran WHICH operation, tamper-evidently; see
    * `audit-verify`). The append is advisory: its failure must not fail
    * an otherwise-committed operation, so it reports and swallows. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    // partition-type inference would read an all-numeric chrom layout
    // ("chrom=1".."chrom=22", the --no-human-genome naming) back as an
    // INTEGER column — and a later chrX/Y/MT batch aligned to that
    // schema would null-cast its chrom, landing rows in the null
    // partition unreachable by any chrom-scoped probe. Partition values
    // are directory-name strings; read them as strings for every verb
    // (restored after, the session is not ours).
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferPrev = spark.conf.getOption(inferKey)
    spark.conf.set(inferKey, "false")
    try runInner(spark, args)
    finally inferPrev match {
      case Some(v) => spark.conf.set(inferKey, v)
      case None    => spark.conf.unset(inferKey)
    }
  }

  private def runInner(spark: SparkSession, args: Array[String]): Unit = {
    val verb = args.head
    val mutates = (MutatingVerbs.contains(verb) &&
      // phi-patterns-add mutates DB state only when the per-db registry
      // is its destination; with an explicit patterns-config file
      // OUTSIDE the db it is a standalone file utility — locking the db
      // or appending a db audit row would claim a configuration change
      // that never touched the db. But an explicit --patterns-config
      // that RESOLVES under --db (e.g. $DB/phi_patterns.toml spelled by
      // hand) targets the same per-db registry file the implicit path
      // does, so it takes the writer lock and audit row too — otherwise
      // a concurrent locked add could lose a pattern to this one's
      // unserialized read-modify-write
      !(verb == "phi-patterns-add" &&
        (arg(args, "--db").isEmpty || patternsConfigArg(args).exists(cfg =>
          !pathResolvesUnder(cfg, arg(args, "--db").get))))) ||
      (verb == "validate" &&
        (has(args, "--rebuild") || has(args, "--drop-orphans") ||
          has(args, "--reclaim-versions")))
    if (!mutates) runVerb(spark, args)
    else {
      val db = arg(args, "--db").getOrElse("/tmp/graft_db")
      var ok = false
      // single-writer discipline: the reference serializes mutations at
      // Postgres; a parquet store serializes them here (per-db JVM
      // monitor + OS file lock — see withDbWriterLock)
      try {
        graft.audit.Audit.withDbWriterLock(db) { runVerb(spark, args) }
        ok = true
      }
      finally {
        try new graft.audit.Audit.AuditLog(spark, s"$db/audit_log")
          .append(verb, args.mkString(" "), ok)
        catch {
          case scala.util.control.NonFatal(e) =>
            println(s"WARNING: audit_log append failed: ${e.getMessage}")
        }
      }
    }
  }

  private def runVerb(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    val verb = args.head
    val db = arg(args, "--db").getOrElse("/tmp/graft_db")
    def variants = spark.read.parquet(tbl(db, "variants"))

    verb match {
      case "load" => Load.run(spark, args, db)

      case "compact" =>
        // K1 discipline: repeated loads append genotype files and every
        // swap rewrites tables into shuffle-partition-many files; serving
        // latency (PointLookup) is O(files-per-directory). Compaction
        // rewrites a table to target file sizes, preserving the sorted
        // chrom layout and page caps for variants, and rebuilds both
        // secondary projections in the same all-or-nothing swap. The
        // reference's analogue: VACUUM + recreate-indexes.
        val targetMb = arg(args, "--target-file-mb").getOrElse("128").toLong
        val tables = arg(args, "--tables").map(_.split(",").toSeq)
          .getOrElse(Seq("variants", "genotypes"))
        tables.foreach {
          case "variants" if has(args, "--per-chrom") &&
              DbFs.exists(tbl(db, "variants")) =>
            // incremental form: rewrite ONLY partition directories whose
            // file count exceeds --max-files — cost O(fragmented data),
            // the compaction shape a 100 TB store needs (the full-table
            // form below is one job over everything). Content is
            // unchanged, so the covering projections stay fresh without
            // a rebuild (validate's fingerprint check proves it).
            val (doneN, dirsN) = graft.sinks.Writers.compactChromDirs(spark,
              tbl(db, "variants"), targetMb,
              arg(args, "--max-files").getOrElse("8").toInt)
            println(s"compacted $doneN/$dirsN chrom partition(s) " +
              "(content unchanged; projections stay fresh)")
          case "variants" if DbFs.exists(tbl(db, "variants")) =>
            replaceVariantsStaged(spark, db, variants)
            println("compacted variants (rsid_idx and gene_idx rebuilt)")
          case t if DbFs.exists(tbl(db, t)) =>
            // genotypes compact CLUSTERED on the variant site key AND
            // hive-partitioned by chrom (migrating any pre-hive flat
            // store), so the genotype probe lists one directory and
            // region-scoped scans prune row groups afterwards; the
            // covering projections (which fragment under batch-append
            // loads) re-cluster on their own probe keys
            // the import fact tables cluster on their REPLACE key first:
            // range-partitioning by key yields (mostly) key-pure files,
            // so the O(import) surgical drop keeps working after a
            // compact instead of degrading every file to the
            // filtered-rewrite path
            val sortCols = t match {
              case "genotypes"   => Seq("chrom", "pos")
              case "rsid_idx"    => Seq("rs_id")
              case "gene_idx"    => Seq("gene", "chrom", "pos")
              case "gwas_stats"  =>
                Seq("study_accession", "chromosome", "base_pair_location")
              case "prs_weights" => Seq("pgs_id")
              case "population_frequencies" =>
                Seq("source", "subset", "variant_id")
              case _             => Seq.empty[String]
            }
            // a legacy table predating one of the cluster columns still
            // compacts — on whatever key prefix it carries
            val present = spark.read.parquet(tbl(db, t)).columns.toSet
            val usable = sortCols.filter(present.contains)
            val n = graft.sinks.Writers.compactPlain(
              spark, s"$db/$t", targetMb, usable,
              partitionCol = if (t == "genotypes") Some("chrom") else None)
            println(s"compacted $t to $n file(s)" +
              (if (usable.nonEmpty) s" clustered on ${usable.mkString(",")}"
               else ""))
          case t => println(s"skip $t: not present in $db")
        }

      case "validate" =>
        // single-batch face (`cli.py:511-575`: `validate <load_batch_id>`
        // — status + expected-vs-actual + in-batch duplicates, nonzero
        // exit on failure). The argument is optional here: bare
        // `validate` keeps the whole-db reconciliation below, which the
        // reference has no single verb for.
        args.lift(1).filterNot(_.startsWith("--")).foreach { batchId =>
          // the repair flags act on the WHOLE store; silently ignoring
          // them under a batch-scoped run would leave the user believing
          // a repair happened
          if (has(args, "--rebuild") || has(args, "--drop-orphans") ||
              has(args, "--reclaim-versions"))
            sys.error("validate <batch-id> does not take --rebuild, " +
              "--drop-orphans or --reclaim-versions; run them on a bare " +
              "`validate --db ...`")
          // a fresh or pre-ledger store must answer "batch not found",
          // not an opaque path-not-found AnalysisException
          if (!DbFs.exists(s"$db/ledger"))
            sys.error(s"Load batch not found: $batchId")
          val ledgerRow = spark.read.parquet(s"$db/ledger")
            .filter($"load_batch_id" === batchId)
            .orderBy($"completed_at".desc).limit(1).collect().headOption
            .getOrElse(sys.error(s"Load batch not found: $batchId"))
          val batch = variants.filter($"load_batch_id" === batchId)
          val actualN = batch.count()
          val dupN = batch.groupBy($"chrom", $"pos", $"ref", $"alt")
            .count().filter($"count" > 1).count()
          // nullable read: an in-flight row's null count must not
          // silently unbox to 0 (the status gate below is the real
          // guard, but 0==0 passing on a null is a trap worth closing)
          val expected = Option(
            ledgerRow.getAs[java.lang.Long]("n_variants"))
            .map(_.toLong).getOrElse(-1L)
          val status = ledgerRow.getAs[String]("status")
          println(s"Load Batch: $batchId")
          println(s"Status: $status")
          println(s"Expected variants: $expected")
          println(s"Actual variants: $actualN")
          println(s"Duplicates: $dupN")
          // a failed or rolled-back batch must not validate clean even
          // when its counts trivially agree (0 == 0)
          if (status == "completed" && actualN == expected && dupN == 0)
            println("Validation passed")
          else sys.error("Validation failed")
          return
        }
        // versioned-layout invariants (init-db --versioned-tables): each
        // pointer must name a live dir. The non-current version the GC
        // deliberately keeps (the read-grace copy, named by the
        // `<table>.prev` sidecar — Writers.PointerEntry cleanupOld) is
        // legitimate; anything else version-shaped is crash residue.
        // `--reclaim-versions` (a SEPARATE flag from --drop-orphans,
        // which repairs orphan BATCHES — piggybacking would make the
        // printed orphan-repair guidance silently yank grace copies from
        // under in-flight readers) deletes every non-current version of
        // every pointered table — run it only when no readers are
        // mid-scan. Tables are DISCOVERED from their pointer sidecars,
        // not a hard-coded list, so dynamically-named tables (anno_<src>)
        // and later additions are covered.
        if (DbFs.exists(DbFs.versionMarker(db))) {
          val childNames = DbFs.children(db).map(_.getPath.getName)
          childNames.filter(_.endsWith(".current"))
            .map(_.stripSuffix(".current")).sorted.foreach { t =>
            DbFs.readString(s"$db/$t.current").map(_.trim)
              .filter(_.nonEmpty).foreach { tok =>
              val dangling = !DbFs.exists(s"$db/$t.v-$tok")
              if (dangling)
                println(s"$t: DANGLING pointer ($t.current -> $t.v-$tok " +
                  "missing; reads fall back to the plain path)")
              val graceName = DbFs.readString(s"$db/$t.prev").map(_.trim)
                .filter(_.nonEmpty).map(p => s"$t.v-$p")
              val orphans = childNames.filter(n =>
                n.startsWith(s"$t.v-") && n != s"$t.v-$tok")
              // a SINGLE non-current version with no (or a dangling)
              // .prev record is PRESUMED the read-grace copy — a swap
              // predating the sidecar, or a swallowed/crashed sidecar
              // write — not crash residue: calling it residue would
              // invite an operator to reclaim the grace window believing
              // it junk. Two or more untracked versions stay residue
              // (the GC never deliberately keeps more than one).
              val graceKnown = graceName.filter(orphans.contains)
              val residue = graceKnown match {
                case Some(g) => orphans.filterNot(_ == g)
                case None if orphans.length == 1 => Nil
                case None => orphans
              }
              if (has(args, "--reclaim-versions")) {
                if (dangling)
                  // deleting survivors under a dangling pointer would
                  // destroy the only intact copies of the table — refuse
                  println(s"$t: NOT reclaiming ${orphans.length} version " +
                    "dir(s) under a dangling pointer — repair the pointer " +
                    "first (point it at a surviving version)")
                else {
                  if (orphans.nonEmpty) {
                    orphans.foreach(n => DbFs.deleteRecursive(s"$db/$n"))
                    println(s"$t: reclaimed ${orphans.length} non-current " +
                      s"version dir(s) (${orphans.mkString(",")})")
                  }
                  // unconditionally: a .prev left naming the CURRENT
                  // version (pointer repaired onto the grace copy) is
                  // stale bookkeeping either way
                  DbFs.deleteRecursive(s"$db/$t.prev")
                }
              } else if (residue.nonEmpty)
                println(s"$t: ${residue.length} stale version dir(s) " +
                  s"(${residue.mkString(",")}) — crash residue beyond the " +
                  "read-grace copy; swept by the next swap, or " +
                  "validate --reclaim-versions")
            }
          }
        }

        // duplicate detection is scoped WITHIN each load batch
        // (`cli.py:552-560` groups under WHERE load_batch_id = $1): a
        // multi-file cohort legitimately carries the same site in two
        // files' batches — only same-batch repeats indicate a load defect
        val hasBatch = variants.columns.contains("load_batch_id")
        val dupKeys =
          (if (hasBatch) Seq($"load_batch_id") else Nil) ++
            Seq($"chrom", $"pos", $"ref", $"alt")
        val dups = variants.groupBy(dupKeys: _*)
          .count().filter($"count" > 1).count()
        println(s"variants=${variants.count()} duplicate_sites=$dups")
        // per-batch expected-vs-actual against the ledger
        // (`cli.py:548-570`): every batch present in the store must hold
        // exactly the row count its completed ledger row recorded
        if (hasBatch && DbFs.exists(s"$db/ledger")) {
          val actual = variants.groupBy($"load_batch_id")
            .agg(count(lit(1)).as("actual"))
          val rows = actual.join(
            spark.read.parquet(s"$db/ledger")
              .filter($"status" === "completed")
              .select($"load_batch_id", $"file_path", $"n_variants"),
            Seq("load_batch_id"), "left").orderBy($"load_batch_id").collect()
          rows.foreach { r =>
            val expected = Option(r.getAs[java.lang.Long]("n_variants"))
            val actualN = r.getAs[Long]("actual")
            val ok = expected.contains(actualN)
            println(s"batch ${r.getAs[String]("load_batch_id")} " +
              s"(${Option(r.getAs[String]("file_path")).getOrElse("?")}): " +
              s"expected=${expected.map(_.toString).getOrElse("?")} " +
              s"actual=$actualN " + (if (ok) "ok" else "MISMATCH"))
          }
          // Orphan batches: store rows whose batch has NO completed ledger
          // row — the residue of a load killed between its append and its
          // ledger commit (the in-process failure rollback can't run on a
          // hard kill; the reference can't orphan because its load is one
          // Postgres transaction). Detected in BOTH tables — the genotype
          // append commits before the variants write, so a crash can
          // orphan genotypes alone. `--drop-orphans` repairs with the
          // surgical drop below. Don't run it while a load is in
          // flight — an active batch is completed-less by definition.
          val completedIds = spark.read.parquet(s"$db/ledger")
            .filter($"status" === "completed")
            .select($"load_batch_id").distinct()
          // NULL batch ids are NOT orphans: they are legacy rows from a
          // pre-ledger store (null-filled by a widening rewrite's
          // unionByName) and must never reach the drop: they are no
          // batch, and the "repair" must keep them
          def orphansOf(df: DataFrame): Seq[String] =
            df.select($"load_batch_id").filter($"load_batch_id".isNotNull)
              .distinct()
              .join(completedIds, Seq("load_batch_id"), "left_anti")
              .collect().map(_.getString(0)).toSeq // batch-count-sized
          val orphanV = orphansOf(variants)
          val gDir = tbl(db, "genotypes")
          val orphanG =
            if (DbFs.exists(gDir) &&
                spark.read.parquet(gDir).columns.contains("load_batch_id"))
              orphansOf(spark.read.parquet(gDir))
            else Seq.empty
          if (orphanV.nonEmpty || orphanG.nonEmpty) {
            println(s"orphan batch(es) with no completed ledger row: " +
              (orphanV ++ orphanG).distinct.mkString(",") +
              (if (has(args, "--drop-orphans")) ""
               else " — run `validate --drop-orphans` to repair"))
            if (has(args, "--drop-orphans")) {
              // surgical repair, the same O(orphan) machinery as
              // force-reload: an orphan is crash residue of a partial
              // APPEND, so its rows live in their own footer-identified
              // files across all four tables (appends stamp every table;
              // only post-compact mixed files pay a filtered rewrite) —
              // no store-sized rebuild to drop batch-sized residue
              val allOrphans = (orphanV ++ orphanG).distinct
              val dirs = (graft.sinks.WritePlan.variants(db).dirs :+
                s"$db/genotypes").filter(d => DbFs.exists(DbFs.resolvePath(d)))
              allOrphans.foreach(b => graft.sinks.WritePlan.dropKeys(
                spark, dirs, Seq("load_batch_id" -> b)))
              println(s"dropped orphan batch(es): " +
                allOrphans.mkString(","))
            }
          }
        }
        // covering-projection freshness: the indexes commit in the same
        // swap as the store, so a mismatch means someone rewrote the
        // store out-of-band. Counts alone can't see a rewrite that
        // preserves cardinality but changes served columns (a popmax/flag
        // update is exactly that), so the check is CONTENT-level: an
        // order-independent fingerprint — sum of per-row xxhash64 over the
        // projection's columns — compared between the index and the
        // eligible variants. Column-pruned scans; no join, no sort.
        val staleIdx = scala.collection.mutable.ArrayBuffer[String]()
        Seq(("rsid_idx", variants.filter($"rs_id".isNotNull)),
            ("gene_idx", variants.filter($"gene".isNotNull)))
          .foreach { case (idx, expectDf) =>
            if (DbFs.exists(tbl(db, idx))) {
              val idxDf = spark.read.parquet(tbl(db, idx))
              // shared columns in a fixed order — the projection may be a
              // column subset (gene_idx) or predate a since-added column
              val cols = idxDf.columns.toSeq.filter(expectDf.columns.contains).sorted
              def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
                // xxhash64 SKIPS null inputs (the hash is unchanged), so
                // rows differing only in WHICH column is null would
                // collide; interleaving a never-null isnull flag per
                // column makes null placement part of the fingerprint
                val hashCols = cols.flatMap { c =>
                  val v = df.schema(c).dataType match {
                    // xxhash64 rejects MapType (undefined key order); the
                    // JSON form is stable for a parquet round trip
                    case _: org.apache.spark.sql.types.MapType => to_json(col(c))
                    case _ => col(c)
                  }
                  Seq(v, isnull(col(c)))
                }
                // decimal(38,0) sum: overflow-proof to ~1e19 rows, exact
                val r = df
                  .select(xxhash64(hashCols: _*).cast("decimal(38,0)").as("h"))
                  .agg(count(lit(1)).as("n"), sum($"h").as("s")).head()
                (r.getLong(0),
                  Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
              }
              val (wantN, wantS) = fingerprint(expectDf.select(cols.map(col): _*))
              val (gotN, gotS) = fingerprint(idxDf.select(cols.map(col): _*))
              if (gotN == wantN && gotS == wantS)
                println(s"$idx: ok ($gotN rows, content fingerprint match)")
              else {
                staleIdx += idx
                println(
                  if (gotN != wantN)
                    s"$idx: STALE ($gotN rows vs $wantN eligible variants " +
                      "— run `validate --rebuild` or `compact`)"
                  else
                    s"$idx: STALE (row counts match but served content " +
                      "differs from the store — run `validate --rebuild` " +
                      "or `compact`)")
              }
            }
          }
        // --rebuild: repair in place — regenerate ONLY the stale
        // projections from the live store, in one all-or-nothing swap
        // (the cheap targeted form of compact's full rebuild)
        if (staleIdx.nonEmpty && has(args, "--rebuild")) {
          graft.sinks.Writers.replaceInPlaceAllStaged(staleIdx.toSeq.map {
            case "rsid_idx" => (s"$db/rsid_idx",
              (tmps: Map[String, String]) => graft.sinks.Writers
                .writeRsidIndex(variants, tmps(s"$db/rsid_idx")))
            case idx => (s"$db/$idx",
              (tmps: Map[String, String]) => graft.sinks.Writers
                .writeGeneIndex(variants, tmps(s"$db/$idx")))
          })
          println(s"rebuilt ${staleIdx.mkString(", ")} from the live store")
        }

      case "lookup" =>
        // the reference's indexed point SELECT face
        // (`test_query_latency.py:50-153`), served driver-side with no
        // Spark job (PointLookup): `lookup chr1:12345`, `lookup rs123`,
        // or `lookup gene:BRCA2` (the covering gene-index probe)
        if (args.length < 2 || args(1).startsWith("--"))
          sys.error("lookup expects a key: chrom:pos, rsID, or gene:NAME")
        val key = args(1)
        def parsePos(s: String): Long =
          try s.toLong catch {
            case _: NumberFormatException =>
              sys.error(s"lookup expects a numeric position, got '$s' " +
                s"(key $key; expected chrom:pos, rsID, or gene:NAME)")
          }
        // --genotypes on the keyed forms: one genotype probe per distinct
        // matched site (a whole gene's sites probe sequentially — the
        // per-probe cost is the serving-face ~5 ms, so even a large gene
        // answers in fractions of a second driver-side)
        def genotypesFor(hits: Seq[Map[String, String]]): Seq[Map[String, String]] =
          if (has(args, "--genotypes") &&
              DbFs.exists(tbl(db, "genotypes")))
            hits.map(h => (h("chrom"), h("pos").toLong)).distinct
              .flatMap { case (c, p) =>
                graft.query.PointLookup.genotypesAt(
                  spark, s"$db/genotypes", c, p, p)
              }
          else Nil
        val rows =
          if (key.startsWith("gene:")) {
            val hits = graft.query.PointLookup.byGene(
              spark, s"$db/gene_idx", key.stripPrefix("gene:"))
            hits ++ genotypesFor(hits)
          }
          else if (key.startsWith("rs")) {
            val hits = graft.query.PointLookup.byRsid(
              spark, s"$db/rsid_idx", s"$db/variants", key)
            hits ++ genotypesFor(hits)
          }
          else key.split(":") match {
            case Array(chrom, pos) =>
              // chr1:12345 is a point probe, chr1:1000-2000 a region probe;
              // try the name as given (non-human stores keep raw contig
              // names), then the chr-normalized form (T8 human stores)
              val (lo, hi) = pos.split("-") match {
                case Array(a, b) => (parsePos(a), parsePos(b))
                case _           => val p = parsePos(pos); (p, p)
              }
              val raw = graft.query.PointLookup.byRegion(
                spark, s"$db/variants", chrom, lo, hi)
              val vRows =
                if (raw.nonEmpty || chrom.startsWith("chr")) raw
                else graft.query.PointLookup.byRegion(
                  spark, s"$db/variants", s"chr$chrom", lo, hi)
              // --genotypes: the per-sample serving face (the reference's
              // genotype PK probe, `genotypes/schema.py:19-48`) — appends
              // the site's sample rows, served driver-side from the
              // (chrom,pos)-clustered genotypes table
              val gRows =
                if (has(args, "--genotypes") &&
                    DbFs.exists(tbl(db, "genotypes"))) {
                  val g = graft.query.PointLookup.genotypesAt(
                    spark, s"$db/genotypes", chrom, lo, hi)
                  if (g.nonEmpty || chrom.startsWith("chr")) g
                  else graft.query.PointLookup.genotypesAt(
                    spark, s"$db/genotypes", s"chr$chrom", lo, hi)
                } else Nil
              vRows ++ gRows
            case _ =>
              sys.error(s"lookup expects chrom:pos, rsID, or gene:NAME, got $key")
          }
        if (rows.isEmpty) println("no rows")
        else rows.foreach { r =>
          println(r.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("\t"))
        }

      case "init-db" =>
        // `cli.py:587-665`: the schema-creation face. The parquet-layout
        // analogue: create the db directory + an empty schema-correct
        // ledger (so audit reads work before the first load); the SQL
        // validation functions (hwe_exact_test, alleles_match,
        // af_from_dosages, n_eff, ...) are session-registered in main.
        DbFs.mkdirs(db)
        DbFs.mkdirs(s"$db/views")
        // opt-in versioned-table layout: table swaps stage the next
        // version directory and commit by flipping a `<table>.current`
        // pointer sidecar — one atomic small-file write on every store,
        // where S3A's directory rename is a non-atomic O(bytes)
        // copy+delete (see DbFs.resolvePath / DEPLOY.md). Readers of a
        // versioned db resolve pointers; the default layout stays plain
        // parquet readable by anything.
        if (has(args, "--versioned-tables")) {
          DbFs.writeStringAtomic(DbFs.versionMarker(db), "1\n")
          println("ok: versioned-table layout enabled (pointer-swap commits)")
        }
        println(s"ok: database layout initialized at $db")
        if (!has(args, "--skip-audit")) {
          if (!DbFs.exists(s"$db/ledger"))
            Seq.empty[graft.audit.Audit.LedgerEntry].toDF()
              .write.parquet(s"$db/ledger")
          println("ok: load-audit ledger created")
        }
        println("ok: validation functions registered for the session")

      case "import-gwas" =>
        val stats = graft.ingest.GwasReader.read(spark, args(1))
        val matched = graft.ingest.VariantMatching.matchToVariants(stats, variants)
        // J3: harmonize orientation against the matched variant's alleles,
        // with AF-proximity rescue for strand-ambiguous SNPs
        // (`gwas/loader.py:115-190`)
        val vAlleles = variants.select($"variant_id", $"ref".as("_v_ref"),
          $"alt".as("_v_alt"), $"info"("AF").cast("double").as("_v_af"))
        val harmonized = matched.filter($"variant_id".isNotNull)
          .join(vAlleles, Seq("variant_id"), "left")
          .withColumn("_h", graft.ingest.VariantMatching.harmonizeAlleles(
            $"effect_allele", $"other_allele", $"_v_ref", $"_v_alt",
            $"effect_allele_frequency", $"_v_af"))
          .withColumn("is_effect_allele_alt", $"_h.is_effect_allele_alt")
          .withColumn("is_strand_flipped", $"_h.is_flipped")
          .drop("_h", "_v_ref", "_v_alt", "_v_af")
        // study identity + metadata (`cli.py:902-1000` options); stats
        // rows are stamped so several studies coexist, as in the
        // reference's study_id-keyed gwas_stats table
        val accession = arg(args, "--study-accession").getOrElse(
          DbFs.baseName(args(1))
            .replaceAll("\\.(tsv|txt|csv)(\\.gz)?$", ""))
        // one join execution: write (replacing this study's prior rows),
        // then count from the written parquet (matched) and the raw stats
        // scan (total) — no re-run of the matching join for bookkeeping
        graft.sinks.WritePlan.land(spark,
          graft.sinks.WritePlan.plain(s"$db/gwas_stats"),
          harmonized.withColumn("study_accession", lit(accession)),
          Seq("study_accession" -> accession))
        val n = stats.count()
        val m = spark.read.parquet(tbl(db, "gwas_stats"))
          .filter($"study_accession" === accession).count()
        upsertRegistry(spark, s"$db/studies", Seq(StudyEntry(
          accession, arg(args, "--trait"), arg(args, "--efo"),
          arg(args, "--pmid"), arg(args, "--sample-size").map(_.toLong),
          arg(args, "--n-cases").map(_.toLong),
          arg(args, "--n-controls").map(_.toLong),
          arg(args, "--genome-build").getOrElse("GRCh38"), n, m,
          new java.sql.Timestamp(System.currentTimeMillis()))).toDF(),
          "study_accession")
        println(s"study=$accession imported=$n matched=$m unmatched=${n - m}")

      case "import-pgs" =>
        val (meta, weights) = graft.ingest.PgsReader.read(spark, args(1))
        val matched = graft.ingest.VariantMatching.matchToVariants(
          weights, variants, chromCol = "chr_name", posCol = "chr_position")
        // per-score replace (weights are pgs_id-stamped by the reader) so
        // several scores coexist, as in the reference's scores table
        graft.sinks.WritePlan.land(spark,
          graft.sinks.WritePlan.plain(s"$db/prs_weights"),
          matched.filter($"variant_id".isNotNull), Seq("pgs_id" -> meta.pgsId))
        // counts from the raw body scan and the written parquet — don't
        // re-run the matching join
        val wc = weights.count()
        val mc = spark.read.parquet(tbl(db, "prs_weights"))
          .filter($"pgs_id" === meta.pgsId).count()
        upsertRegistry(spark, s"$db/pgs_scores", Seq(PgsEntry(
          meta.pgsId, meta.traitName, meta.traitOntologyId,
          meta.publicationPmid, meta.weightType, meta.genomeBuild,
          meta.nVariants, wc, mc,
          new java.sql.Timestamp(System.currentTimeMillis()))).toDF(),
          "pgs_id")
        println(s"pgs=${meta.pgsId} weights=$wc matched=$mc")

      case "import-frequencies" =>
        // `cli.py:1193-1291`: parse gnomAD-style INFO population fields
        // into the long population_frequencies table; compute popmax
        // (bottlenecked ASJ/FIN excluded) and attach it to variants.
        val source = arg(args, "--source").getOrElse("gnomAD_v3")
        val subset = arg(args, "--subset").getOrElse("all")
        val prefix = arg(args, "--prefix").getOrElse("")
        val freqVcf = graft.vcf.VcfReader.variants(spark, args(1))
        val long = graft.transform.PopulationFreq.toLong(
          freqVcf, source = source, prefix = prefix, subset = subset)
        // per-(source,subset) replace — the reference upserts ON CONFLICT
        // (variant_id, source, population, subset), so several sources/
        // subsets coexist and a re-import replaces only its own rows.
        // O(import) via the composite-key surgical drop + append (see
        // WritePlan): other sources' files survive untouched.
        val freqDir = s"$db/population_frequencies"
        graft.sinks.WritePlan.land(spark, graft.sinks.WritePlan.plain(freqDir),
          long, Seq("source" -> source, "subset" -> subset))
        val nFreq = spark.read.parquet(DbFs.resolvePath(freqDir))
          .filter($"source" === source && $"subset" === subset).count()
        if (!has(args, "--no-update-popmax") &&
            DbFs.exists(tbl(db, "variants"))) {
          // popmax from the just-imported source's rows, as the reference
          // computes it from the imported record's own frequencies — and,
          // like its per-record UPDATE, only the variants this import
          // covers change; a variant annotated only by a previously loaded
          // source keeps its popmax
          val pm = graft.transform.PopulationFreq.popmax(
              spark.read.parquet(DbFs.resolvePath(freqDir))
                .filter($"source" === source))
            .withColumnRenamed("popmax_af", "_new_af")
            .withColumnRenamed("popmax_population", "_new_pop")
          val withCols =
            if (variants.columns.contains("popmax_af")) variants
            else variants
              .withColumn("popmax_af", lit(null).cast("double"))
              .withColumn("popmax_population", lit(null).cast("string"))
          val updated = withCols
            .join(pm, Seq("variant_id"), "left")
            .withColumn("popmax_af", coalesce($"_new_af", $"popmax_af"))
            .withColumn("popmax_population",
              coalesce($"_new_pop", $"popmax_population"))
            .drop("_new_af", "_new_pop")
          replaceVariantsStaged(spark, db, updated)
        }
        println(s"imported $nFreq population-frequency rows (source=$source)")

      case "load-reference" =>
        val panel = graft.ingest.RefPanels.hapmap3(spark, args(1))
        val flagged = graft.ingest.VariantMatching.flagHapmap3(variants, panel)
        replaceVariantsStaged(spark, db, flagged)
        // count from the WRITTEN parquet (the flag join ran once, in the
        // write; this scans one boolean column of the new store). NOT an
        // observe() on the write plan: the range-partitioned write runs a
        // boundary-sampling pass over the child, so a CollectMetrics
        // accumulator below the exchange fires twice and doubles the count
        // (verified empirically).
        println("flagged in_hapmap3=" +
          spark.read.parquet(tbl(db, "variants"))
          .filter($"in_hapmap3").count())

      case "annotate-ld-blocks" =>
        val blocks = graft.ingest.RefPanels.ldBlocks(spark, args(1),
          arg(args, "--population").getOrElse("EUR"),
          arg(args, "--build").getOrElse("grch37"))
        val assigned = graft.ingest.LdBlocks.assignBlocks(variants, blocks,
          arg(args, "--population").getOrElse("EUR"),
          arg(args, "--build").map(b => graft.ingest.PgsReader.normalizeBuild(b))
            .getOrElse("GRCh37"))
        replaceVariantsStaged(spark, db, assigned)
        println("ld blocks assigned")

      case "compute-sample-qc" =>
        // a sample-less db has no genotypes table at all — answer with
        // the verb's contract, not a path-not-found AnalysisException
        if (!DbFs.exists(tbl(db, "genotypes")))
          sys.error("no genotypes table: load a VCF with sample columns " +
            "and --store-genotypes first")
        // `--batch-id` / `--sample-id` scoping + `--json`
        // (`cli.py:2234-2263`; batch ids are our load batch UUIDs where
        // the reference uses Postgres audit ints). The reference REQUIRES
        // one of the two; unscoped here computes ALL samples — a
        // documented superset, and what refresh-views' sample_qc_summary
        // wants. A batch scope computes from that batch's rows alone (a
        // batch is one cohort file, its own population context — the
        // reference's compute-for-batch); a sample scope keeps the
        // full-store context and filters the RESULT.
        val batchScope = arg(args, "--batch-id")
        val sampleScope = arg(args, "--sample-id")
        val g0 = spark.read.parquet(tbl(db, "genotypes"))
        val g = batchScope
          .map(b => g0.filter($"load_batch_id" === b)).getOrElse(g0)
        var sqc = graft.qc.SampleQc.compute(
          g, graft.qc.VariantQc.fromGenotypes(g))
        sampleScope.foreach(sid => sqc = sqc.filter($"sample_id" === sid))
        // materialize the (sample-sized) QC output ONCE: uncached, the
        // genotype-sized aggregation would re-run for the upsert's
        // anti-join side, its union side, and the --json scope join
        sqc = sqc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        sqc.count()
        // scoped runs UPSERT their samples' rows into sample_qc (other
        // samples' rows survive — the reference persists per-sample rows
        // independently); unscoped keeps the whole-table rewrite.
        // replaceInPlace, not a bare overwrite: the merge reads the
        // destination it replaces.
        val sqcDest = tbl(db, "sample_qc")
        val sqcOut =
          if ((batchScope.isDefined || sampleScope.isDefined) &&
              DbFs.exists(sqcDest)) {
            spark.read.parquet(sqcDest)
              .join(sqc.select($"sample_id"), Seq("sample_id"), "left_anti")
              .unionByName(sqc)
          } else sqc
        graft.sinks.Writers.replaceInPlace(sqcOut, sqcDest)(
          (d, p) => d.write.parquet(p))
        val written = spark.read.parquet(sqcDest)
        if (has(args, "--json")) {
          // per-sample metric rows for the SCOPE as a JSON array
          // (sample-count bounded), the reference's --json face
          val scoped = (batchScope, sampleScope) match {
            case (_, Some(sid)) => written.filter($"sample_id" === sid)
            case (Some(_), _)   => written.join(
              sqc.select($"sample_id"), Seq("sample_id"), "left_semi")
            case _              => written
          }
          println(scoped.orderBy($"sample_id").toJSON.collect()
            .mkString("[", ",", "]"))
        } else
          // summarize from the written parquet — don't re-run the QC aggs
          graft.qc.SampleQc.batchSummary(written).show()
        } finally sqc.unpersist()

      case "list-failing-samples" =>
        // qc/schema.py:142-163 — the qc-failed sample listing, worst
        // call_rate first; a read-only serving face over the persisted
        // sample_qc table (our schema's failure drivers stand in for the
        // reference's contamination/sex-concordance columns)
        if (!DbFs.exists(tbl(db, "sample_qc")))
          println("no sample_qc table: run compute-sample-qc first")
        else {
          val failing = spark.read.parquet(tbl(db, "sample_qc"))
            .filter(!$"qc_pass")
            .select($"sample_id", $"call_rate", $"sex_inferred",
              $"het_hom_ratio")
            .orderBy($"call_rate".asc)
            .collect() // sample-sized: one row per failing sample
          failing.foreach { r =>
            println(f"sample_id=${r.getString(0)} call_rate=${r.getDouble(1)}%.4f " +
              s"sex_inferred=${r.getString(2)} het_hom_ratio=" +
              (if (r.isNullAt(3)) "null" else f"${r.getDouble(3)}%.3f"))
          }
          println(s"${failing.length} failing sample(s)")
        }

      case "refresh-views" =>
        // the reference refreshes the FULL matview set in one pass
        // (`views/prs_views.py:133-159`): the two variants-only roll-ups
        // always, plus prs_candidate_variants (the flagship join-graph
        // view) and sample_qc_summary when their input tables are loaded
        // — the annotation-query presence-gate pattern, with a printed
        // note so a skipped view is visible, never silent.
        // the reference's variants table always HAS the QC/flag columns
        // (null until their workflow step runs); a parquet store only
        // grows them at that step — null-fill the missing ones so a view
        // over a younger store behaves like the reference's (filters
        // exclude nulls, summaries count 0) instead of failing analysis
        val qcCols = Seq("in_hapmap3" -> "boolean", "info_score" -> "double",
          "call_rate" -> "double", "hwe_p" -> "double",
          "maf" -> "double", "aaf" -> "double")
        val vFull = qcCols.foldLeft(variants) { case (df, (c, t)) =>
          if (df.columns.contains(c)) df
          else df.withColumn(c, lit(null).cast(t))
        }
        val views = scala.collection.mutable.LinkedHashMap[String, DataFrame](
          "variant_qc_summary" ->
            graft.views.PrsViews.variantQcSummary(vFull),
          "chromosome_variant_counts" ->
            graft.views.PrsViews.chromosomeVariantCounts(vFull))
        val freqDir = tbl(db, "population_frequencies")
        val gwasDir = tbl(db, "gwas_stats")
        if (DbFs.exists(freqDir) &&
            DbFs.exists(gwasDir))
          views += ("prs_candidate_variants" ->
            graft.views.PrsViews.prsCandidateVariants(
              vFull, spark.read.parquet(freqDir),
              spark.read.parquet(gwasDir),
              source = arg(args, "--source").getOrElse("gnomAD_v3")))
        else
          println("skip prs_candidate_variants: needs population_frequencies" +
            " (import-frequencies) and gwas_stats (import-gwas)")
        if (DbFs.exists(tbl(db, "sample_qc")))
          views += ("sample_qc_summary" -> graft.qc.SampleQc.batchSummary(
            spark.read.parquet(tbl(db, "sample_qc"))))
        else
          println("skip sample_qc_summary: run compute-sample-qc first")
        val timings = graft.views.PrsViews.refresh(s"$db/views", views.toMap)
        timings.foreach { case (n, t) => println(f"$n refreshed in $t%.2fs") }

      case "load-annotation" =>
        // S8: annotation VCF → <db>/anno_<name>/ with the echtvar field
        // config applied (cli.py annotation-load face)
        val name = arg(args, "--name").getOrElse(
          sys.error("load-annotation needs --name"))
        val config = arg(args, "--config") match {
          case Some(p) => graft.ingest.AnnotationLoader.loadFieldConfig(p)
          case None    => sys.error("load-annotation needs --config <json>")
        }
        val src = graft.ingest.AnnotationLoader.load(spark, args(1), config)
        src.write.mode("overwrite").parquet(tbl(db, s"anno_$name"))
        val nSites = spark.read.parquet(tbl(db, s"anno_$name")).count()
        // registry row for list-annotations (`annotation_schema.py:
        // 130-253` register_source/update_variant_count/list_sources)
        upsertRegistry(spark, s"$db/annotation_sources", Seq(AnnotationEntry(
          name, arg(args, "--source-type").getOrElse("vcf"),
          arg(args, "--version"), args(1),
          config.map(_.alias).mkString(","), nSites,
          new java.sql.Timestamp(System.currentTimeMillis()))).toDF(), "name")
        println(s"loaded annotation source $name ($nSites sites, " +
          s"fields ${config.map(_.alias).mkString(",")})")

      case "list-annotations" | "list-studies" | "list-pgs" =>
        // `cli.py:851-900,997-1058,1139-1192`: registry listings with a
        // --json face. Registries are small metadata tables; collect OK.
        val (dir, key) = verb match {
          case "list-annotations" => (tbl(db, "annotation_sources"), "name")
          case "list-studies"     => (tbl(db, "studies"), "study_accession")
          case _                  => (tbl(db, "pgs_scores"), "pgs_id")
        }
        if (!DbFs.exists(dir)) {
          if (has(args, "--json")) println("[]")
          else println(s"no ${dir.split('/').last} registered")
        } else {
          val listing = spark.read.parquet(dir).orderBy(col(key))
          if (has(args, "--json"))
            println(listing.toJSON.collect().mkString("[", ",", "]"))
          else listing.show(100, truncate = false)
        }

      case "annotate" =>
        // J1 query face (annotator.py:28-60, cli.py:1363-1452): variants
        // LEFT JOIN each named source from the db layout. The first source
        // to claim a field name keeps it bare (so unqualified filter
        // expressions resolve first-claim, mirroring the reference's
        // _qualify_filter_fields); a LATER source's same-named column is
        // prefixed `<source>_<field>` instead of dropped — every source's
        // value stays in the output, as in the reference's SELECT of every
        // source column (annotator.py:143-146).
        val sources = arg(args, "--anno").map(_.split(",").toSeq)
          .getOrElse(Seq.empty)
        // seed with the variants schema: a source field named like a
        // variant column (qual, filter, info, ...) must be prefixed too,
        // or the join output carries ambiguous duplicate columns
        val claimed = scala.collection.mutable.Set[String]() ++ variants.columns
        val srcDfs = sources.map { name =>
          // name the miss: an unregistered source is a user typo, not a
          // path-not-found AnalysisException
          if (!DbFs.exists(tbl(db, s"anno_$name")))
            sys.error(s"unknown annotation source '$name': " +
              "load it with load-annotation, or see list-annotations")
          val df0 = spark.read.parquet(tbl(db, s"anno_$name"))
          val payload = df0.columns.toSeq
            .filterNot(graft.query.Annotator.JoinKey.contains)
          val renames = payload.map { c =>
            c -> (if (claimed.contains(c)) s"${name}_$c" else c)
          }
          val df = renames.foldLeft(df0) { case (d, (from, to)) =>
            if (from == to) d else d.withColumnRenamed(from, to)
          }
          claimed ++= renames.map(_._2)
          graft.query.Annotator.Source(name, df, renames.map(_._2))
        }
        val filterExpr = arg(args, "--filter")
        // the reference annotates one load batch (`cli.py:1363-1365`);
        // --batch scopes the same way, default = whole store
        val scoped = arg(args, "--batch") match {
          case Some(b) => variants.filter($"load_batch_id" === b)
          case None    => variants
        }
        val out = graft.query.Annotator.annotate(scoped, srcDfs,
          filterExpr, limit = arg(args, "--limit").map(_.toInt))
        arg(args, "--output") match {
          case Some(p) if arg(args, "--format").contains("json") =>
            graft.sinks.Writers.writeJson(out, p)
          case Some(p) => graft.sinks.Writers.writeTsv(out, p)
          case None    => out.show(20, truncate = false)
        }

      case "annotation-query" =>
        // The raw-SQL escape hatch (`cli.py:1454-1501`) queries the WHOLE
        // db, not just variants: every anno_<src> table (via
        // Annotator.registerViews), the core long tables, and any
        // materialized views — first ad-hoc SQL against an annotation
        // source must not fail on an unknown table.
        val annoSources = DbFs.subdirNames(db)
          .filter(_.startsWith("anno_"))
          // a versioned db's root also holds <table>.v-<token> dirs —
          // those are physical versions, not logical tables
          .filterNot(DbFs.isVersionArtifact)
          .map(n => graft.query.Annotator.Source(
            n.stripPrefix("anno_"),
            spark.read.parquet(tbl(db, n)), Nil))
        // registration is presence-gated: an ad-hoc query right after
        // init-db (no variants loaded yet) must still see the registries
        if (DbFs.exists(tbl(db, "variants")))
          graft.query.Annotator.registerViews(variants, annoSources)
        else annoSources.foreach(s =>
          s.df.createOrReplaceTempView(s"anno_${s.name}"))
        Seq("genotypes", "gwas_stats", "prs_weights", "sample_qc",
            "population_frequencies", "ledger", "studies", "pgs_scores",
            "annotation_sources").foreach { t =>
          if (DbFs.exists(tbl(db, t)))
            spark.read.parquet(tbl(db, t)).createOrReplaceTempView(t)
        }
        DbFs.subdirNames(s"$db/views").foreach { n =>
          spark.read.parquet(s"$db/views/$n").createOrReplaceTempView(n)
        }
        val result = spark.sql(args(1))
        arg(args, "--output") match {
          case Some(p) if arg(args, "--format").contains("json") =>
            graft.sinks.Writers.writeJson(result, p)
          case Some(p) => graft.sinks.Writers.writeTsv(result, p)
          case None    => result.show(50, truncate = false)
        }

      case "export-plink" | "export-prscs" | "export-ldpred2" | "export-prsice" =>
        // --study scopes the export to one study's stats (the reference's
        // exports are study-id-scoped, `cli.py:7249-7270`)
        if (!DbFs.exists(tbl(db, "gwas_stats")))
          sys.error("no gwas_stats table: run import-gwas first")
        val statsAll = spark.read.parquet(tbl(db, "gwas_stats"))
        val statsScoped = arg(args, "--study") match {
          case Some(s) if statsAll.columns.contains("study_accession") =>
            statsAll.filter($"study_accession" === s)
          case _ => statsAll
        }
        // beta is exported AS IMPORTED: every reference export selects
        // g.beta with `beta IS NOT NULL` (`export/prs_formats.py:115-124`
        // etc.) and never derives it from odds_ratio — an invented
        // ln(OR) fallback would silently export transformed values under
        // the BETA header for OR-only studies; those rows are excluded,
        // as the reference excludes them
        val stats = statsScoped
        val vf = graft.export.PrsFormats.VariantFilter(
          hapmap3Only = has(args, "--hapmap3-only"),
          minInfo = arg(args, "--min-info").map(_.toDouble),
          minMaf = arg(args, "--min-maf").map(_.toDouble))
        val vSel = variants.select("variant_id", "chrom", "pos", "rs_id")
        val out = verb match {
          case "export-plink"   => graft.export.PrsFormats.plinkScore(stats, vSel, vf)
          case "export-prscs"   => graft.export.PrsFormats.prsCs(stats, vSel, vf = vf)
          case "export-ldpred2" => graft.export.PrsFormats.ldpred2(stats, vSel,
            arg(args, "--n-cases").map(_.toLong), arg(args, "--n-controls").map(_.toLong),
            arg(args, "--sample-size").map(_.toLong), vf)
          case _                => graft.export.PrsFormats.prsice2(stats, vSel, vf)
        }
        graft.sinks.Writers.writeTsv(out, args(1))
        // count from the written TSV — don't re-run the export joins
        val nOut = spark.read.option("sep", "\t").option("header", "true")
          .csv(args(1)).count()
        println(s"exported $nOut rows to ${args(1)}")

      case "audit-verify" =>
        // the reference's `audit verify` face (`cli.py:2422-2500`):
        // recompute every entry's hash against its predecessor's; any
        // mismatch means the log was edited after the fact. Nonzero exit
        // on tampering, as the reference documents.
        // AuditLog.read, not a bare parquet read: a crash between the
        // lock-file creation and the first parquet append leaves a
        // directory holding only the .append.lock dotfile, which a bare
        // read fails to infer a schema from
        // `--start-date`/`--end-date` window the REPORT on event dates
        // (`cli.py:2424-2426`; optional here where the reference requires
        // them — unwindowed = whole log, a documented superset). The
        // chain is verified WHOLE and the verdicts then windowed: each
        // in-window entry's verdict matches the reference's
        // seeded-subchain walk (`integrity.py:157-244` seeds from the
        // entry before the window), and whole-log verification is
        // strictly stronger. `--json` emits the IntegrityReport dict
        // shape (`integrity.py:52-73`).
        val vStart = arg(args, "--start-date")
        val vEnd = arg(args, "--end-date")
        (vStart.toSeq ++ vEnd).foreach { d =>
          if (!d.matches("""\d{4}-\d{2}-\d{2}"""))
            sys.error(s"--start-date/--end-date must be YYYY-MM-DD: $d")
        }
        val vJson = has(args, "--json")
        val auditDf = new graft.audit.Audit.AuditLog(spark, s"$db/audit_log").read()
        if (auditDf.isEmpty) {
          if (vJson)
            println(s"""{"start_date":${vStart.map(Json.str(_)).getOrElse("null")},""" +
              s""""end_date":${vEnd.map(Json.str(_)).getOrElse("null")},""" +
              """"total_entries":0,"verified_entries":0,"is_valid":true,""" +
              """"coverage_percent":100.0,"violation_count":0,""" +
              """"violations":[],"first_entry_hash":null,""" +
              s""""last_entry_hash":null,"verification_time":${Json.str(
                java.time.Instant.now().toString)}}""")
          else println("no audit log")
        }
        else {
          val all = graft.audit.Audit.verifyChain(auditDf)
            .select($"audit_id", $"event_type", $"event_time", $"chain_valid",
              $"duplicate_id", $"entry_hash", $"content_ok")
            .orderBy($"audit_id")
            .collect()
          // event_time is an ISO-8601 instant: first 10 chars = UTC date
          def inWindow(t: String): Boolean = {
            val d = t.take(10)
            vStart.forall(d >= _) && vEnd.forall(d <= _)
          }
          val checked = all.filter(r => inWindow(r.getString(2)))
          val bad = checked.filterNot(_.getAs[Boolean]("chain_valid"))
          if (vJson) {
            // violation vocabulary per `integrity.py:14-18`: an EDITED
            // entry (its recomputed hash disagrees with the stored one)
            // is a hash_mismatch; a fork or a missing predecessor — the
            // row's own content verifies but its link does not — is a
            // chain_broken; capped at 100 like to_dict
            val viol = bad.take(100).map { r =>
              val dup = r.getAs[Boolean]("duplicate_id")
              val edited = !r.getAs[Boolean]("content_ok")
              val (status, msg) =
                if (edited) ("hash_mismatch",
                  "entry hash does not verify against content and predecessor")
                else if (dup) ("chain_broken",
                  "duplicate audit_id (concurrent append fork)")
                else ("chain_broken",
                  "no predecessor entry carries the claimed previous_hash " +
                    "(deleted or spliced-out entry)")
              s"""{"audit_id":${r.getLong(0)},"event_time":${Json.str(r.getString(2))},""" +
                s""""status":${Json.str(status)},"message":${Json.str(msg)}}"""
            }.mkString("[", ",", "]")
            println(s"""{"start_date":${vStart.orElse(checked.headOption.map(
                _.getString(2).take(10))).map(Json.str(_)).getOrElse("null")},""" +
              s""""end_date":${vEnd.orElse(checked.lastOption.map(
                _.getString(2).take(10))).map(Json.str(_)).getOrElse("null")},""" +
              s""""total_entries":${checked.length},""" +
              s""""verified_entries":${checked.length - bad.length},""" +
              s""""is_valid":${bad.isEmpty},""" +
              s""""coverage_percent":${if (checked.isEmpty) 100.0
                else math.round((checked.length - bad.length) * 10000.0 /
                  checked.length) / 100.0},""" +
              s""""violation_count":${bad.length},"violations":$viol,""" +
              s""""first_entry_hash":${checked.headOption.map(r =>
                Json.str(r.getString(5))).getOrElse("null")},""" +
              s""""last_entry_hash":${checked.lastOption.map(r =>
                Json.str(r.getString(5))).getOrElse("null")},""" +
              s""""verification_time":${Json.str(java.time.Instant.now().toString)}}""")
            if (bad.nonEmpty)
              sys.error(s"audit chain verification FAILED: " +
                s"${bad.length} bad entries")
          }
          else if (bad.isEmpty) {
            val windowNote =
              if (vStart.isEmpty && vEnd.isEmpty) ""
              else s" in window ${vStart.getOrElse("…")}..${vEnd.getOrElse("…")}"
            println(s"audit chain ok (${checked.length} entries$windowNote)")
          } else {
            // failure stories named distinctly: an edited row (TAMPERED),
            // a concurrent-append fork (operational race, not an edit),
            // and a deleted/spliced-out predecessor (CHAIN BREAK)
            bad.foreach { r =>
              val label =
                if (!r.getAs[Boolean]("content_ok")) "TAMPERED"
                else if (r.getAs[Boolean]("duplicate_id")) "CONCURRENT APPEND"
                else "CHAIN BREAK"
              println(s"$label: audit_id=${r.getLong(0)} " +
                s"${r.getString(1)} at ${r.getString(2)}")
            }
            sys.error(s"audit chain verification FAILED: " +
              s"${bad.length} bad entries")
          }
        }

      case "audit-export" =>
        // `audit export` face (`cli.py:2503+` / `integrity.py:254-308`):
        // the chained log as ONE JSON document with integrity metadata
        // (entry_count, first/last hash, content checksum), so
        // `audit-verify-backup` can prove the file untampered offline.
        // --start/--end window the export on the entries' event dates —
        // the reference's created_date range (`integrity.py:270-279`);
        // metadata carries the window and the checksum covers the
        // exported entries, so a windowed backup verifies the same way.
        val startDate = arg(args, "--start")
        val endDate = arg(args, "--end")
        (startDate.toSeq ++ endDate).foreach { d =>
          if (!d.matches("""\d{4}-\d{2}-\d{2}"""))
            sys.error(s"--start/--end must be YYYY-MM-DD: $d")
        }
        val exportDf = new graft.audit.Audit.AuditLog(spark, s"$db/audit_log").read()
        if (exportDf.isEmpty) println("no audit log")
        else {
          // event_time is an ISO-8601 instant, so its first 10 chars are
          // the UTC date and string order IS date order
          val eventDate = substring($"event_time", 1, 10)
          val windowed = (startDate, endDate) match {
            case (Some(s), Some(e)) => exportDf.filter(eventDate.between(s, e))
            case (Some(s), None)    => exportDf.filter(eventDate >= s)
            case (None, Some(e))    => exportDf.filter(eventDate <= e)
            case (None, None)       => exportDf
          }
          val entries = windowed.orderBy($"audit_id")
            .select($"audit_id", $"event_time", $"event_type", $"user_name",
              $"action", $"success", $"previous_hash", $"entry_hash")
            .collect() // audit-sized
            .map(r => graft.audit.Audit.BackupEntry(r.getLong(0),
              r.getString(1), r.getString(2), r.getString(3), r.getString(4),
              r.getBoolean(5), r.getString(6), r.getString(7)))
            .toSeq
          graft.audit.Audit.writeBackup(entries, args(1), startDate, endDate)
          val windowNote = (startDate.toSeq ++ endDate) match {
            case Nil => ""
            case _   => s" (window ${startDate.getOrElse("…")}" +
              s"..${endDate.getOrElse("…")})"
          }
          println(s"exported ${entries.length} audit entries to ${args(1)}$windowNote")
        }

      case "phi-scan" =>
        // standalone scan face (`cli.py:5465-5507` phi_scan + `:5651-5746`
        // phi_detect): report PHI in headers, sample names and data rows
        // WITHOUT loading. A report, not a gate — exit stays zero (the
        // load verb's --fail-on-phi is the enforcing face). Sampling knobs
        // match phi_detect's defaults: --sample-rate 1.0, --max-records
        // unset = every record (`detector.py:159-195` — max_records caps
        // the SCANNED count and the rate draw filters per record, so the
        // scan covers the first N records that pass the draw). Unlike the
        // reference's driver-side line loop, the data-row sweep is a
        // distributed flatMap + groupBy — an unbounded full-file scan must
        // not collect the file to the driver.
        val vcf = args(1)
        // DbFs, not java.io: the load verb accepts scheme-addressed VCFs
        // through Hadoop IO, so the scan face must accept the same inputs
        // (a user who loaded hdfs://x.vcf can phi-scan it)
        if (!DbFs.exists(vcf))
          sys.error(s"VCF file not found: $vcf")
        val sampleRate = arg(args, "--sample-rate").map(_.toDouble).getOrElse(1.0)
        if (sampleRate <= 0.0 || sampleRate > 1.0)
          sys.error(s"--sample-rate must be in (0.0, 1.0]: $sampleRate")
        val maxRecords = arg(args, "--max-records").map(_.toInt)
        // output + coverage knobs matching phi detect (`cli.py:5659-5663`):
        // --json emits the reference's report shape; --scan-headers is the
        // default, --no-scan-headers restricts the scan to data records
        val jsonOut = has(args, "--json")
        val scanHeaders = !has(args, "--no-scan-headers")
        // custom registry: explicit --patterns-config, else the per-db
        // registry phi-patterns-add writes (when a --db was given and the
        // file exists) — the reference persists to a config file the later
        // scan loads (`cli.py:5857+`, `patterns.py:224-240`)
        val custom = customPhiPatterns(args, db,
          consultDbRegistry = arg(args, "--db").isDefined)
        // name-keyed merge, custom wins — see the load verb's scan
        val registry = graft.transform.PhiSanitizer.mergedRegistry(custom)
        val allPats = registry.map(p => (p.regex, p.name))
        // detector-parity envelope (`detector.py:99-125,160-214`): every
        // detection carries its 1-based file line, ±20-char context and a
        // masked value — both the text face and --json render from it
        val headerLines = graft.vcf.VcfHeader.readHeaderLines(spark, vcf)
        val headerFindings: Seq[graft.transform.PhiSanitizer.DetectionAt] =
          if (!scanHeaders) Nil
          else headerLines.zipWithIndex.flatMap { case (l, i) =>
            graft.transform.PhiSanitizer.scanHeaderLineAt(l, i + 1L, allPats)
          }
        val nHeader = headerLines.length
        val data = spark.read.textFile(vcf).filter(!$"value".startsWith("#"))
        val recordsTotal = data.count()
        // data rows carry their file line number (headers all precede
        // data in a VCF, so header count + 0-based data index + 1 is the
        // 1-based file line) — zipWithIndex is one extra cheap pass over
        // the text, still fully distributed
        val dataAt = spark.createDataset(data.rdd.zipWithIndex.map {
          case (v, i) => (v, nHeader + i + 1) })
        // rate draw first, then the scanned-count cap — mirrors the
        // reference's per-record order; seed fixed so reruns see the same
        // sample (documented deviation from random.random())
        val drawn =
          if (sampleRate < 1.0) dataAt.sample(withReplacement = false, sampleRate, 42L)
          else dataAt
        // DETECTIONS are cached, not the sampled text: the regex sweep is
        // the dominant cost on a full-file scan and three consumers
        // follow (count, category summary, first-findings) — without the
        // cache each would re-read the file and re-run every pattern
        val sampled = maxRecords.map(drawn.limit).getOrElse(drawn)
        val detections = sampled.flatMap { case (l, ln) =>
          graft.transform.PhiSanitizer.scanDataLineAt(l, ln, allPats) }
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        val recordsScanned = sampled.count()
        val dataSummary = detections.groupBy($"category").count()
          .as[(String, Long)].collect().toMap
        // the per-detection list is driver-bounded: the text face prints
        // 10, the JSON face carries up to 1000 (a detections array beyond
        // that adds no triage value; summary/severity stay exact). The
        // reference collects everything — it is single-node anyway.
        val dataFirst = detections.take(if (jsonOut) 1000 else 10).toSeq
        val summary = (headerFindings.groupBy(_.category)
          .map { case (c, fs) => c -> fs.length.toLong } ++
          dataSummary.map { case (c, n) =>
            c -> (headerFindings.count(_.category == c).toLong + n) }).toMap
        val nFindings = summary.values.sum
        val sevCounts = summary.toSeq
          .groupBy { case (c, _) =>
            graft.transform.PhiSanitizer.severityOf(c, registry) }
          .map { case (s, xs) => s -> xs.map(_._2).sum }
        // the reference's risk_level (`detector.py:67-77`): worst
        // severity present, 'none' on a clean scan
        val risk =
          if (nFindings == 0) "none"
          else Seq("critical", "high", "medium", "low")
            .find(sevCounts.contains).getOrElse("low")
        if (jsonOut) {
          // phi detect --json report shape (`cli.py:5685-5712`); our
          // registry carries no false-positive hints, so the key is an
          // empty list for shape compatibility
          val detJson = (headerFindings ++ dataFirst).take(1000).map { d =>
            s"""{"pattern":${Json.str(d.category)},""" +
              s""""severity":${Json.str(graft.transform.PhiSanitizer
                .severityOf(d.category, registry))},""" +
              s""""location":${Json.str(d.location)},"line":${d.line},""" +
              s""""masked_value":${Json.str(graft.transform.PhiSanitizer
                .maskValue(d.value))},""" +
              s""""context":${Json.str(d.context.take(100))},""" +
              s""""false_positive_hints":[]}"""
          }.mkString("[", ",", "]")
          val sumJson = summary.toSeq.sortBy(_._1)
            .map { case (c, n) => s"${Json.str(c)}:$n" }.mkString("{", ",", "}")
          val sevJson = sevCounts.toSeq.sortBy(_._1)
            .map { case (s, n) => s"${Json.str(s)}:$n" }.mkString("{", ",", "}")
          println(s"""{"has_phi":${nFindings > 0},"risk_level":${Json.str(risk)},""" +
            s""""records_scanned":$recordsScanned,""" +
            s""""records_total":$recordsTotal,"sample_rate":$sampleRate,""" +
            s""""summary":$sumJson,"severity_summary":$sevJson,""" +
            s""""detections":$detJson}""")
        } else if (nFindings == 0) {
          println("No PHI detected")
          println(s"Records scanned: $recordsScanned / $recordsTotal")
        } else {
          println(s"PHI detected: $nFindings finding(s) (risk level: $risk)")
          println(s"Records scanned: $recordsScanned / $recordsTotal")
          println("Summary:")
          summary.toSeq.sortBy(_._1).foreach {
            case (cat, n) => println(s"  $cat: $n")
          }
          println("Summary by severity:")
          sevCounts.toSeq.sortBy(_._1).foreach {
            case (sev, n) => println(s"  $sev: $n")
          }
          println("Findings:")
          (headerFindings ++ dataFirst).take(10).foreach(f =>
            println(s"  [${f.category}] ${f.location} (line ${f.line}): " +
              graft.transform.PhiSanitizer.maskValue(f.value)))
          if (nFindings > 10)
            println(s"  ... and ${nFindings - 10} more")
        }
        } finally detections.unpersist()

      case "phi-sanitize" =>
        // `phi sanitize` (`cli.py:5510-5573`): write a copy of the VCF
        // with PHI-bearing header lines redacted; data lines stream
        // through unchanged. --preview lists the planned redactions
        // without writing. Driver-side streaming IO over one file — the
        // same single-node shape as the reference (this is a file
        // utility, not a table operator).
        val vcf = args(1)
        // DbFs, not java.io: same scheme-addressed input contract as load
        if (!DbFs.exists(vcf))
          sys.error(s"VCF file not found: $vcf")
        val conf = spark.sparkContext.hadoopConfiguration
        val inPath = new org.apache.hadoop.fs.Path(vcf)
        val fs = inPath.getFileSystem(conf)
        val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
        def reader() = {
          val raw = fs.open(inPath)
          val in = Option(codecs.getCodec(inPath))
            .map(_.createInputStream(raw): java.io.InputStream).getOrElse(raw)
          new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
        }
        if (has(args, "--preview")) {
          val r = reader()
          try {
            var n = 0
            var line = r.readLine()
            while (line != null && line.startsWith("#")) {
              val (_, reds) = graft.transform.PhiSanitizer.sanitizeLine(line)
              reds.foreach { red => n += 1
                if (n <= 20) println(s"  [${red.category}] ${red.pattern}") }
              line = r.readLine()
            }
            if (n > 20) println(s"  ... and ${n - 20} more")
            println(s"Items to sanitize: $n")
          } finally r.close()
        } else {
          // no --output = sanitized content to STDOUT, the reference's
          // default face (`cli.py:5570-5572`)
          val outPath = arg(args, "--output")
          val w = outPath match {
            case Some(p) =>
              val oPath = new org.apache.hadoop.fs.Path(p)
              val rawOut = oPath.getFileSystem(conf).create(oPath, true)
              val out = Option(codecs.getCodec(oPath))
                .map(_.createOutputStream(rawOut): java.io.OutputStream)
                .getOrElse(rawOut)
              new java.io.BufferedWriter(
                new java.io.OutputStreamWriter(out, "UTF-8"))
            case None =>
              // Console.out, not System.out: test capture and the
              // reference's stdout semantics both want the VERB's stdout
              new java.io.BufferedWriter(
                new java.io.OutputStreamWriter(Console.out, "UTF-8"))
          }
          val r = reader()
          var removed = 0
          try {
            var inHeader = true
            var line = r.readLine()
            while (line != null) {
              val toWrite =
                if (inHeader && line.startsWith("#")) {
                  val (s, reds) = graft.transform.PhiSanitizer.sanitizeLine(line)
                  removed += reds.length
                  s
                } else { inHeader = false; line }
              w.write(toWrite); w.newLine()
              line = r.readLine()
            }
          } finally {
            r.close()
            // stdout stays open for the session — flush, never close it
            if (outPath.isDefined) w.close() else w.flush()
          }
          outPath.foreach { p =>
            println(s"Sanitized VCF written to $p")
            println(s"Removed $removed PHI item(s)")
          }
        }

      case "phi-report" =>
        // `phi report <batch-id>` (`cli.py:5575+`): what the PHI scan
        // found during that load — served from the ledger row's note
        // (where the load records scan outcome per batch)
        val batchId = args(1)
        if (!DbFs.exists(s"$db/ledger"))
          sys.error(s"Load batch not found: $batchId")
        val row = spark.read.parquet(s"$db/ledger")
          .filter($"load_batch_id" === batchId)
          .orderBy($"completed_at".desc).limit(1).collect().headOption
          .getOrElse(sys.error(s"Load batch not found: $batchId"))
        val note = Option(row.getAs[String]("note")).getOrElse("")
        // a note carries the --phi-scan outcome and/or the default
        // header-sanitization clause; either is PHI-relevant here
        println(s"batch $batchId (${row.getAs[String]("file_path")}): " +
          (if (note.startsWith("phi_scan") ||
               note.contains("header_sanitization")) note
           else "no PHI scan recorded (load ran without --phi-scan)"))

      case "phi-stats" =>
        // `phi stats` (`cli.py:5377+`): anonymization + scan statistics —
        // vault size (distinct anonymized ids) and per-batch scan notes
        val vaultDir = s"$db/phi_vault/sample_id_mapping"
        val nAnon =
          if (DbFs.exists(vaultDir))
            spark.read.parquet(vaultDir).select($"anon_id").distinct().count()
          else 0L
        println(s"anonymized_sample_ids=$nAnon")
        if (DbFs.exists(s"$db/ledger")) {
          val notes = spark.read.parquet(s"$db/ledger")
            .filter($"status" === "completed" && $"note".startsWith("phi_scan"))
            .select($"note").collect().map(_.getString(0))
          val clean = notes.count(_ == "phi_scan: clean")
          println(s"loads_scanned=${notes.length} clean=$clean " +
            s"with_findings=${notes.length - clean}")
        } else println("loads_scanned=0 clean=0 with_findings=0")

      case "phi-patterns-list" =>
        // `phi patterns list` (`cli.py:5749-5793`): the detection pattern
        // registry — builtins plus any custom registry file
        // (--patterns-config, or the per-db phi_patterns.toml written by
        // phi-patterns-add). --severity filters like the reference's
        // get_patterns_by_severity.
        val custom = customPhiPatterns(args, db,
          consultDbRegistry = arg(args, "--db").isDefined)
        // name-keyed, custom wins: a listing must show the ACTIVE registry
        val all = graft.transform.PhiSanitizer.mergedRegistry(custom)
        val wanted = arg(args, "--severity") match {
          case Some(s) =>
            if (!graft.transform.PhiSanitizer.Severities.contains(s))
              sys.error(s"Invalid severity: $s. Must be one of: " +
                graft.transform.PhiSanitizer.Severities.mkString(", "))
            all.filter(_.severity == s)
          case None    => all
        }
        println(s"PHI detection patterns (${wanted.length} total)")
        wanted.sortBy(p => (p.severity, p.name)).foreach { p =>
          println(s"${p.severity}\t${p.name}\t${p.regex.pattern}\t${p.description}")
        }

      case "phi-patterns-add" =>
        // `phi patterns add` (`cli.py:5823-5880`): persist a user-defined
        // pattern into a TOML registry consumed by later scans. Severity
        // vocabulary and regex compile are validated before anything is
        // written; the registry file defaults to the per-db
        // phi_patterns.toml so `phi-scan --db` and `load --phi-scan` pick
        // the pattern up without an extra flag (the reference's default is
        // ./phi_patterns.toml + explicit --config on the scan).
        val name = arg(args, "--name").getOrElse(
          sys.error("phi-patterns-add needs --name <name>"))
        val pattern = arg(args, "--pattern").getOrElse(
          sys.error("phi-patterns-add needs --pattern <regex>"))
        val severity = arg(args, "--severity").getOrElse(
          sys.error("phi-patterns-add needs --severity " +
            "<critical|high|medium|low>"))
        val description = arg(args, "--description").getOrElse("")
        val cfg = patternsConfigArg(args).getOrElse {
          if (arg(args, "--db").isEmpty)
            sys.error("phi-patterns-add needs --db DIR (per-db registry) " +
              "or --patterns-config FILE — refusing to write into the " +
              "shared default db implicitly")
          s"$db/phi_patterns.toml"
        }
        graft.transform.PhiPatternRegistry.append(
          cfg, name, pattern, severity, description,
          caseInsensitive = has(args, "--ignore-case"))
        println(s"Pattern '$name' added to $cfg")

      case "phi-patterns-test" =>
        // `phi patterns test` (`cli.py:5796-5830`): compile a user regex
        // and report its matches in the input; invalid patterns fail
        // with the compile error
        val pat = arg(args, "--pattern").getOrElse(
          sys.error("phi-patterns-test needs --pattern <regex>"))
        val input = arg(args, "--input").getOrElse(
          sys.error("phi-patterns-test needs --input <text>"))
        val flags = if (has(args, "--ignore-case"))
          java.util.regex.Pattern.CASE_INSENSITIVE else 0
        val compiled =
          try java.util.regex.Pattern.compile(pat, flags)
          catch { case e: java.util.regex.PatternSyntaxException =>
            sys.error(s"Invalid regex pattern: ${e.getMessage}") }
        val m = compiled.matcher(input)
        val hits = scala.collection.mutable.ArrayBuffer[String]()
        while (m.find()) hits += m.group()
        if (hits.isEmpty) println("no match")
        else hits.foreach(h => println(s"match: $h"))

      case "audit-verify-backup" =>
        // `audit verify-backup` (`cli.py:2577-2633`): check an exported
        // backup file against its embedded checksums; nonzero exit on
        // mismatch, as the reference documents
        if (!new java.io.File(args(1)).exists())
          sys.error(s"File not found: ${args(1)}")
        val (ok, message) = graft.audit.Audit.verifyBackupFile(args(1))
        if (ok) println(message)
        else sys.error(s"Backup verification failed: $message")

      case "audit-stats" =>
        // `audit stats` face (`cli.py:2636+`): per-verb counts + range
        val statsDf = new graft.audit.Audit.AuditLog(spark, s"$db/audit_log").read()
        if (statsDf.isEmpty) println("no audit log")
        else statsDf
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum(when($"success", 1L).otherwise(0L)).as("n_success"),
            min($"event_time").as("first_event"),
            max($"event_time").as("last_event"))
          .orderBy($"event_type")
          .show(100, truncate = false)

      // ---- pipeline verbs (r13 verdict next-round #2): the LLM-data
      // operators get the same verb discipline as the genomics side —
      // writer lock + audit row (they are in MutatingVerbs: each writes
      // tables under --db) and a one-line `--json` report. Each verb is
      // a thin face over the SAME oracle-keyed library calls the p01/
      // p07/p14-p16 query-catalog entries run, so the verb path produces
      // byte-identical outputs to the library path (GraftCliSpec pins
      // this). Not reference surface — the reference has no document
      // pipeline — so no cli.py citations here.

      case "dedup" =>
        // dedup CORPUS --db DIR [--method exact|minhash|simhash|embedding]
        //   [--id-col doc_id] [--text-col text] [--threshold 0.5]
        //   [--max-hamming 3] [--max-bucket N] [--shingle-k 3]
        //   [--sig-len 64] [--bands 16] [--planes 12] [--dim 64]
        //   [--vec-col embedding] [--staged | --use-staged] [--json]
        // Writes: $db/dedup_corpus (kept docs — the output a training
        // pipeline feeds downstream), $db/dedup_clusters (membership),
        // and with --staged the method's derivation store: minhash →
        // $db/dedup_signatures (the 0.5 KB/doc signature relation the
        // scale path re-reads instead of re-hashing the corpus),
        // embedding → $db/dedup_vec_buckets (id, vec, nrm, one bucket
        // column per band — threshold/bands sweeps re-read it, fewer
        // bands column-prune). --method embedding dedups a VECTOR
        // corpus (default --id-col vec_id) by cosine >= --threshold
        // (default 0.95) over sign-LSH buckets — p12/p18's operator;
        // size --planes ~ log2(n / targetBucket) and --dim to the TRUE
        // vector length (an overstated dim degrades bucketing, see
        // Dedup.embeddingNearDup). --bands (1..dim/planes) is the
        // embedding recall dial (disjoint-component bands, recall
        // 1-(1-r)^bands at ~bands x candidate volume); for minhash it
        // keeps its signature-banding meaning (default 16).
        val corpusPath = positionalPath(args, "dedup", "CORPUS")
        val method = arg(args, "--method").getOrElse("exact")
        val idCol = arg(args, "--id-col").getOrElse(
          if (method == "embedding") "vec_id" else "doc_id")
        val textCol = arg(args, "--text-col").getOrElse("text")
        val maxBucket = arg(args, "--max-bucket").map(_.toInt)
        // --staged persists the method's re-readable derivation store
        // (minhash: signatures; embedding: per-band buckets + norms);
        // --use-staged derives pairs from the EXISTING store without
        // re-staging — the sweep workflow (stage once at max dials,
        // then threshold/bands sweeps re-read the store; a re-run with
        // --staged would instead overwrite it at the new dials).
        // exact/simhash have no such store — rejecting beats a silent
        // no-op the caller believes landed
        val stagedStoreMethods = Set("minhash", "embedding")
        if (has(args, "--staged") && !stagedStoreMethods(method))
          sys.error(s"dedup: --staged applies to --method minhash or " +
            s"embedding only (got --method $method)")
        if (has(args, "--use-staged") && !stagedStoreMethods(method))
          sys.error(s"dedup: --use-staged applies to --method minhash " +
            s"or embedding only (got --method $method)")
        if (has(args, "--use-staged") && has(args, "--staged"))
          sys.error("dedup: pick one of --staged (re-stage the store, " +
            "then derive) or --use-staged (derive from the existing " +
            "store without touching it)")
        // --use-staged derives at the dials the store was STAGED with:
        // embedding buckets fix --planes/--dim, minhash signatures fix
        // --sig-len/--shingle-k. An explicit flag for a store-fixed
        // dial would be silently overridden by the store — reject it
        // (same class as the storeless-method guard above; r16
        // advisory). The sweep dials — --threshold, --bands,
        // --max-bucket — stay live.
        if (has(args, "--use-staged")) {
          val storeFixed =
            if (method == "embedding") Seq("--planes", "--dim")
            else Seq("--sig-len", "--shingle-k")
          for (f <- storeFixed if arg(args, f).isDefined)
            sys.error(s"dedup: $f is fixed by the staged store and " +
              "would be ignored with --use-staged — re-stage with " +
              s"--staged $f ... to change it (sweep dials: " +
              "--threshold, --bands, --max-bucket)")
        }
        def stagedStore(table: String, stageHint: String): String = {
          val src = tbl(db, table)
          if (!graft.sinks.DbFs.exists(src))
            sys.error(s"dedup: --use-staged found no $table under $db " +
              s"— run `dedup ... $stageHint --staged` once to stage it")
          src
        }
        val corpus = spark.read.parquet(corpusPath)
        // Single-pass report (r14 verdict #3): the input size is
        // observed on the corpus scan that feeds the kept write
        // (CollectMetrics is row-transparent, so the kept plan is
        // byte-identical), and output sizes are observed on the written
        // relations — no count() pre-pass over the input and no re-read
        // of the outputs after the swap.
        val obsIn = org.apache.spark.sql.Observation("dedup_in")
        val obsKept = org.apache.spark.sql.Observation("dedup_kept")
        val obsCl = org.apache.spark.sql.Observation("dedup_clusters")
        val counted = corpus.observe(obsIn, count(lit(1)).as("n"))
        import graft.pipeline.Dedup
        // Note on the two writes below (r14 advisory): clusterPairs
        // returns a localCheckpoint-BACKED relation (labels materialize
        // eagerly each round), so writing `clusters` and deriving `kept`
        // from it share ONE execution of the candidate-pair shuffle and
        // the iterative clustering — neither write re-runs the pair DAG.
        val (kept, clusters) = method match {
          case "exact" =>
            // clusters re-expressed in the near-dup (doc_id, cluster_id)
            // membership shape — same contract as clusterPairs: only
            // docs in a >1-member group appear, cluster_id = min id
            (Dedup.exactDedup(counted, textCol, idCol),
             Dedup.exactDupClusters(corpus, textCol, idCol)
               .select(explode($"doc_ids").as("doc_id"),
                 array_min($"doc_ids").as("cluster_id")))
          case "minhash" =>
            val shingleK = arg(args, "--shingle-k").map(_.toInt).getOrElse(3)
            val sigLen = arg(args, "--sig-len").map(_.toInt).getOrElse(64)
            val bands = arg(args, "--bands").map(_.toInt).getOrElse(16)
            val threshold =
              arg(args, "--threshold").map(_.toDouble).getOrElse(0.5)
            // live / --staged: the width is sigLen, known up front —
            // reject a too-wide --bands before the signature job runs
            // (--use-staged checks against the store-probed width below)
            if (!has(args, "--use-staged") && (bands < 1 || bands > sigLen))
              sys.error(s"dedup: --bands $bands out of range for " +
                s"--sig-len $sigLen — need 1 <= bands <= sig-len " +
                "(an over-wide banding slices empty bands where every " +
                "document collides)")
            val pairs = if (has(args, "--use-staged")) {
              val sigs = spark.read.parquet(
                stagedStore("dedup_signatures", "--method minhash"))
              // the stored signature width IS the dial (explicit
              // --sig-len is rejected above): the store decides
              // rowsPerBand, so a store staged at 128 hashes sweeps
              // correctly with no flag. O(1) probe (one row); the
              // default only survives on an empty store, where there
              // are no pairs either way.
              val stored = sigs.select(size(col("_sig")).as("n"))
                .limit(1).collect()
              val storedLen =
                if (stored.nonEmpty) stored(0).getInt(0) else sigLen
              // --bands stays a live sweep dial, but it sweeps WITHIN
              // the stored width: more bands than stored hashes would
              // slice empty bands where every doc collides (the Dedup
              // require catches it too; fail here with the store's
              // width in the message, before any job runs)
              if (bands > storedLen)
                sys.error(s"dedup: --bands $bands exceeds the staged " +
                  s"signature width $storedLen — sweep with --bands <= " +
                  s"$storedLen, or re-stage wider with " +
                  s"--staged --sig-len N")
              Dedup.minhashCandidatePairsFromSignatures(
                sigs, idCol, "_sig", storedLen, bands, maxBucket)
            } else if (has(args, "--staged")) {
              val sigDest = tbl(db, "dedup_signatures")
              graft.sinks.Writers.replaceInPlace(
                Dedup.minhashSignatures(corpus, textCol, idCol,
                  shingleK, sigLen), sigDest)((d, p) =>
                Dedup.writeSignatures(d, p))
              Dedup.minhashCandidatePairsFromSignatures(
                spark.read.parquet(sigDest), idCol, "_sig", sigLen, bands,
                maxBucket)
            } else Dedup.minhashCandidatePairs(corpus, textCol, idCol,
              shingleK, sigLen, bands, maxBucket)
            val cl = Dedup.clusterPairs(
              pairs.filter($"est_jaccard" >= threshold))
            (Dedup.dropNearDuplicates(counted, cl, idCol), cl)
          case "simhash" =>
            val maxHamming =
              arg(args, "--max-hamming").map(_.toInt).getOrElse(3)
            val cl = Dedup.clusterPairs(
              Dedup.simhashPairs(corpus, textCol, idCol, maxHamming,
                maxBucket))
            (Dedup.dropNearDuplicates(counted, cl, idCol), cl)
          case "embedding" =>
            val planes = arg(args, "--planes").map(_.toInt).getOrElse(12)
            val dim = arg(args, "--dim").map(_.toInt).getOrElse(64)
            val vecCol = arg(args, "--vec-col").getOrElse("embedding")
            val threshold =
              arg(args, "--threshold").map(_.toDouble).getOrElse(0.95)
            // --bands: the measured recall dial (1−(1−r)^bands over
            // disjoint component sets) at ~bands× candidate volume
            val bands = arg(args, "--bands").map(_.toInt).getOrElse(1)
            val pairs = if (has(args, "--use-staged")) {
              // the sweep path: derive pairs from the store staged by a
              // previous --staged run. An explicit --bands selects the
              // first N staged bands (column-pruning the rest at the
              // scan); without it, every staged band is used.
              Dedup.embeddingNearDupFromBuckets(
                spark.read.parquet(
                  stagedStore("dedup_vec_buckets", "--method embedding")),
                threshold, idCol, vecCol, maxBucket,
                bands = arg(args, "--bands").map(_.toInt))
            } else if (has(args, "--staged")) {
              // stage the (id, vec, nrm, bucket_0..bands-1) relation —
              // minhash's signature-store discipline for vectors: a
              // later threshold/bands sweep (--use-staged) re-reads
              // this pruned columnar relation (fewer --bands
              // column-prune the unused buckets) instead of
              // re-scanning the corpus
              val dest = tbl(db, "dedup_vec_buckets")
              graft.sinks.Writers.replaceInPlace(
                Dedup.embeddingBuckets(corpus, idCol, vecCol, planes,
                  dim, bands), dest)((d, p) => Dedup.writeSignatures(d, p))
              Dedup.embeddingNearDupFromBuckets(spark.read.parquet(dest),
                threshold, idCol, vecCol, maxBucket)
            } else Dedup.embeddingNearDup(corpus, threshold, idCol,
              vecCol, planes, dim, maxBucket, bands)
            val cl = Dedup.clusterPairs(pairs)
            (Dedup.dropNearDuplicates(counted, cl, idCol), cl)
          case other => sys.error(s"dedup: unknown --method $other " +
            "(expected exact|minhash|simhash|embedding)")
        }
        graft.sinks.Writers.replaceInPlaceAll(Seq(
          (kept.observe(obsKept, count(lit(1)).as("n")),
            tbl(db, "dedup_corpus"),
            (d: org.apache.spark.sql.DataFrame, p: String) => d.write.parquet(p)),
          (clusters.observe(obsCl, count(lit(1)).as("n")),
            tbl(db, "dedup_clusters"),
            (d: org.apache.spark.sql.DataFrame, p: String) => d.write.parquet(p))))
        val nDocs = obsIn.get("n").asInstanceOf[Long]
        val nKept = obsKept.get("n").asInstanceOf[Long]
        val nClustered = obsCl.get("n").asInstanceOf[Long]
        if (has(args, "--json"))
          println(s"""{"method":${Json.str(method)},"docs":$nDocs,""" +
            s""""kept":$nKept,"dropped":${nDocs - nKept},""" +
            s""""clustered_docs":$nClustered}""")
        else println(s"dedup($method): $nDocs docs -> $nKept kept " +
          s"(${nDocs - nKept} dropped, $nClustered in clusters)")

      case "ann-topk" =>
        // ann-topk --corpus P --queries P --db DIR [--mode brute|lsh|ivf]
        //   [--k 10] [--planes 12] [--ncentroids 64] [--nprobe 4]
        //   [--trained] [--id-col vec_id] [--vec-col embedding] [--json]
        // Writes $db/ann_topk (query_id, neighbor_id, cosine, rank).
        // --trained runs the k-means quantizer (DEPLOY: the sampled
        // fallback loses on cluster-ordered ids).
        val corpusPath = arg(args, "--corpus").getOrElse(
          sys.error("ann-topk needs --corpus PARQUET"))
        val queriesPath = arg(args, "--queries").getOrElse(
          sys.error("ann-topk needs --queries PARQUET"))
        val mode = arg(args, "--mode").getOrElse("brute")
        val k = arg(args, "--k").map(_.toInt).getOrElse(10)
        val idCol = arg(args, "--id-col").getOrElse("vec_id")
        val vecCol = arg(args, "--vec-col").getOrElse("embedding")
        def shaped(p: String) = spark.read.parquet(p)
          .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
        val corpus = shaped(corpusPath)
        val queries = shaped(queriesPath)
        import graft.pipeline.Similarity
        val topk = mode match {
          case "brute" => Similarity.bruteForceTopK(corpus, queries, k)
          case "lsh" => Similarity.lshTopK(corpus, queries, k,
            planes = arg(args, "--planes").map(_.toInt).getOrElse(12))
          case "ivf" =>
            val nCentroids =
              arg(args, "--ncentroids").map(_.toInt).getOrElse(64)
            val cents = if (has(args, "--trained"))
              Some(Similarity.kmeansCentroids(corpus, nCentroids))
            else None
            Similarity.ivfTopK(corpus, queries, k, nCentroids = nCentroids,
              nProbe = arg(args, "--nprobe").map(_.toInt).getOrElse(4),
              centroids = cents)
          case other => sys.error(s"ann-topk: unknown --mode $other " +
            "(expected brute|lsh|ivf)")
        }
        // Single-pass report (r14 verdict #3): rows observed during the
        // write; "queries" = rank-1 rows (every query with >=1 neighbor
        // ranks from 1, so rank=1 rows == distinct query_ids in the
        // output) — an exact count with no distinct and no output
        // re-read. sum(when) is null on an empty output, hence the
        // Option guard.
        val obs = org.apache.spark.sql.Observation("ann_topk")
        graft.sinks.Writers.replaceInPlace(
          topk.observe(obs, count(lit(1)).as("rows"),
            sum(when($"rank" === 1, 1L).otherwise(0L)).as("queries")),
          tbl(db, "ann_topk"))((d, p) => d.write.parquet(p))
        val m = obs.get
        val nRows = m("rows").asInstanceOf[Long]
        val nQ = Option(m("queries")).map(_.asInstanceOf[Long]).getOrElse(0L)
        if (has(args, "--json"))
          println(s"""{"mode":${Json.str(mode)},"k":$k,"queries":$nQ,""" +
            s""""rows":$nRows}""")
        else println(s"ann-topk($mode): $nQ queries, k=$k, $nRows rows")

      case "text-quality" =>
        // text-quality CORPUS --db DIR [--id-col doc_id] [--text-col text]
        //   [--min-quality Q] [--min-lang-margin M] [--json]
        // Writes $db/text_quality: the C4/Gopher-style quality ratios +
        // language id with margin + fingerprint + token counts — the
        // per-doc relation a corpus-filtering pipeline joins on.
        // --min-quality additionally stamps a `pass` flag (the corpus
        // itself is never filtered here: quality scoring is evidence,
        // dropping is the caller's policy).
        // --min-lang-margin M surfaces the measured precision dial
        // (LangIdProbe: latin-vote margin >= 0.10 -> ~0.98 precision;
        // out-of-set neighbors da->sv at 0.11, cs->pl at 0.035): a
        // latin-script vote below M is counted as "unknown" in the
        // REPORT histogram. Report-side only — the written per-doc
        // relation keeps the raw (lang, lang_margin) pair so callers
        // apply their own policy, and script-detected labels
        // (ja/zh/ko/ru/ar, margin = character ratio on a different
        // scale) are never reclassified.
        val corpusPath = positionalPath(args, "text-quality", "CORPUS")
        val idCol = arg(args, "--id-col").getOrElse("doc_id")
        val textCol = arg(args, "--text-col").getOrElse("text")
        val minQ = arg(args, "--min-quality").map(_.toDouble).getOrElse(0.5)
        val minLangMargin = arg(args, "--min-lang-margin").map(_.toDouble)
        val corpus = spark.read.parquet(corpusPath)
        import graft.pipeline.TextAnalysis
        val tq = TextAnalysis.withQuality(corpus, textCol)
          .withColumn("_lm", TextAnalysis.langIdWithMargin(col(textCol)))
          .select(col(idCol).as("doc_id"), $"n_chars", $"n_tokens",
            TextAnalysis.bpeishTokenCount(col(textCol)).as("n_bpeish"),
            $"mean_token_len", $"punct_ratio", $"upper_ratio",
            $"stopword_ratio", $"quality_score",
            $"_lm.lang".as("lang"), $"_lm.lang_margin".as("lang_margin"),
            TextAnalysis.fingerprint(col(textCol)).as("fingerprint"),
            ($"quality_score" >= minQ).as("pass"))
        // Single-pass report (r14 verdict #3): every summary value —
        // counts, pass count, mean quality, and the language histogram —
        // is observed DURING the write. langIdWithMargin's label set is
        // closed (11 latin families + 5 scripts + "unknown"), so the
        // histogram is a fixed row of conditional counts; the "other"
        // guard trips loudly if a new label is ever added to the
        // classifier without registering it here. avg() is null on an
        // empty corpus — report mean_quality as null instead of the NPE
        // the old getDouble took (r14 advisory).
        val latinLangs = Seq("en", "de", "fr", "es", "pt", "it", "nl",
          "sv", "pl", "tr", "ro")
        val langs = latinLangs ++
          Seq("ja", "zh", "ko", "ru", "ar", "unknown")
        // the histogram's lang under --min-lang-margin: one extra
        // conditional inside the same observe (still single-pass)
        val histLang = minLangMargin match {
          case Some(m) => when($"lang".isin(latinLangs: _*) &&
            $"lang_margin" < m, "unknown").otherwise($"lang")
          case None => $"lang"
        }
        val obs = org.apache.spark.sql.Observation("text_quality")
        val aggs = Seq(count(lit(1)).as("n"),
          sum(when($"pass", 1L).otherwise(0L)).as("n_pass"),
          avg($"quality_score").as("mean_q")) ++
          labelHistAggs(langs, histLang, "lang")
        graft.sinks.Writers.replaceInPlace(
          tq.observe(obs, aggs.head, aggs.tail: _*), tbl(db, "text_quality"))(
          (d, p) => d.write.parquet(p))
        val m = obs.get
        val n = m("n").asInstanceOf[Long]
        val nPass = Option(m("n_pass")).map(_.asInstanceOf[Long]).getOrElse(0L)
        val meanQ = Option(m("mean_q")).map(_.asInstanceOf[Double])
        val langHist = labelHistRender(langs, "lang", m, byCountDesc = true)
        if (has(args, "--json"))
          println(s"""{"docs":$n,"pass":$nPass,""" +
            meanQ.map(q => "\"mean_quality\":%.4f,".formatLocal(
              java.util.Locale.ROOT, q))
              .getOrElse(""""mean_quality":null,""") +
            s""""min_quality":$minQ,""" +
            minLangMargin.map(m => s""""min_lang_margin":$m,""")
              .getOrElse("") +
            s""""langs":$langHist}""")
        else println(s"text-quality: $n docs, $nPass pass >= $minQ, " +
          meanQ.map(q => f"mean quality $q%.3f").getOrElse("mean quality n/a") +
          minLangMargin.map(m => s", lang margin >= $m").getOrElse("") +
          s", langs $langHist")

      case "media-features" =>
        // media-features CORPUS --db DIR [--from-documents] [--json]
        // Writes $db/media_features (per-payload decode features: JDK
        // imageio/wav codecs where they exist, the stub seam otherwise —
        // the `decoder` column records which path each row took).
        // --from-documents synthesizes the media relation from a
        // documents table (the p11 demo shape); without it the corpus
        // must already be MediaRow-shaped parquet.
        val corpusPath = positionalPath(args, "media-features", "CORPUS")
        import graft.pipeline.Multimodal
        val media =
          if (has(args, "--from-documents"))
            Multimodal.mediaFromDocuments(spark.read.parquet(corpusPath))
          else {
            import spark.implicits._
            spark.read.parquet(corpusPath).as[Multimodal.MediaRow]
          }
        val feats = Multimodal.extractFeatures(media).toDF()
        // Single-pass report (r14 verdict #3): the decoder label set is
        // closed by construction (Multimodal assigns only imageio |
        // wav_pcm | ffmpeg | stub), so the histogram observes fixed
        // conditional counts during the write; "other" trips loudly if a
        // decoder is ever added without registering it here.
        val decoders = Seq("imageio", "wav_pcm", "ffmpeg", "stub")
        val obs = org.apache.spark.sql.Observation("media_features")
        val aggs = count(lit(1)).as("n") +:
          labelHistAggs(decoders, $"decoder", "dec")
        graft.sinks.Writers.replaceInPlace(
          feats.observe(obs, aggs.head, aggs.tail: _*),
          tbl(db, "media_features"))((d, p) => d.write.parquet(p))
        val m = obs.get
        val nMedia = m("n").asInstanceOf[Long]
        val byDecoder = // decoder asc, as before
          labelHistRender(decoders, "dec", m, byCountDesc = false)
        if (has(args, "--json"))
          println(s"""{"media":$nMedia,"decoders":$byDecoder}""")
        else println(s"media-features: $nMedia payloads, decoders $byDecoder")

      case "benchmark" =>
        // the reference's quick benchmark face (`cli.py:666-762`):
        // --vcf F or --synthetic N generate/parse and report parse (and
        // with --db, end-to-end load) throughput; --json emits the
        // to_dict shape (`benchmark.py:75-94`). With NEITHER input flag
        // this delegates to the full bench harness (graft.Bench) — a
        // documented superset the driver runs per round.
        val synth = arg(args, "--synthetic").map(_.toInt)
        val vcfIn = arg(args, "--vcf")
        if (synth.isEmpty && vcfIn.isEmpty) Bench.main(Array.empty)
        else {
          vcfIn.foreach(p =>
            if (!DbFs.exists(p)) sys.error(s"VCF file not found: $p"))
          // --realistic adds annotation/complex-variant load;
          // --giab maps to the same data shape (the reference's GIAB
          // platform/callset header metadata carries no parse cost)
          val annFrac =
            if (has(args, "--realistic") || has(args, "--giab")) 0.4 else 0.0
          val path = vcfIn.getOrElse {
            val p = java.nio.file.Files.createTempDirectory("graft_benchmark")
              .resolve("synthetic.vcf").toString
            graft.vcf.SyntheticVcf.write(p, synth.get, annFrac = annFrac)
            p
          }
          val normalize = !has(args, "--no-normalize")
          val opts = graft.vcf.VcfReader.Options(
            normalize = normalize,
            humanGenome = !has(args, "--no-human-genome"))
          val t0 = System.nanoTime()
          val n = graft.vcf.VcfReader.variants(spark, path, opts).count()
          val parseSec = (System.nanoTime() - t0) / 1e9
          // --db: the end-to-end load benchmark (the reference loads into
          // the given database; --force-reload so re-runs measure a load,
          // not the skip check)
          val loadSec = arg(args, "--db").map { d =>
            val t1 = System.nanoTime()
            def runLoad(): Unit = Graft.run(spark, Array("load", path,
              "--db", d, "--force-reload") ++
              (if (normalize) Array.empty[String]
               else Array("--no-normalize")) ++
              (if (has(args, "--no-human-genome"))
                 Array("--no-human-genome") else Array.empty[String]))
            // --json promises ONE machine-readable line on stdout; the
            // inner load's progress/summary prints would interleave and
            // break any piped consumer, so they are suppressed
            if (has(args, "--json"))
              Console.withOut(new java.io.PrintStream(
                java.io.OutputStream.nullOutputStream())) { runLoad() }
            else runLoad()
            (System.nanoTime() - t1) / 1e9
          }
          // the reference's batch_size is a COPY framing knob with no
          // Spark analogue (input splits replace it); echoed for shape
          val batchSize = arg(args, "--batch").getOrElse("50000").toLong
          if (has(args, "--json")) {
            val loading = loadSec.map(ls =>
              s""","loading":{"time_seconds":${math.round(ls * 1000) / 1000.0},""" +
                s""""rate_per_second":${math.round(n / ls)}.0}""").getOrElse("")
            println(s"""{"vcf_path":${Json.str(path)},"variant_count":$n,""" +
              s""""parsing":{"time_seconds":${math.round(parseSec * 1000) / 1000.0},""" +
              s""""rate_per_second":${math.round(n / parseSec)}.0},""" +
              s""""settings":{"batch_size":$batchSize,""" +
              s""""normalized":$normalize,"synthetic":${vcfIn.isEmpty}}""" +
              loading + "}")
          } else {
            println(f"Parsing: $n%,d variants in $parseSec%.2fs " +
              f"(${n / parseSec}%,.0f/sec)")
            loadSec.foreach(ls =>
              println(f"Loading: $n%,d variants in $ls%.2fs " +
                f"(${n / ls}%,.0f/sec)"))
          }
        }

      case other =>
        // error, not sys.exit: run() is also the library-embedding entry
        // (tests, notebooks) — an exit(1) here silently kills the HOST
        // JVM; main's caller still gets a nonzero exit from the throw
        println(s"unknown verb: $other"); usage()
        sys.error(s"unknown verb: $other")
    }
  }

  private def usage(): Unit = println(
    """graft <verb> [options]
      |  load <vcf> --db DIR [--no-normalize] [--force-reload] [--min-info-score X]
      |       [--imputation-source minimac4|beagle|impute2|auto]
      |       [--store-genotypes] [--adj-filter] [--dosage-only]
      |       [--phi-scan] [--fail-on-phi] [--patterns-config F]
      |       [--no-anonymize] [--anonymize-salt S] [--no-sanitize-headers]
      |       [--no-hipaa-mode] [--compact] [--target-file-mb N]
      |       [--report out.json] [--sample-id ID]
      |  init-db --db DIR [--skip-audit] [--versioned-tables]
      |  validate [BATCH_ID] --db DIR [--rebuild] [--drop-orphans]
      |       [--reclaim-versions]
      |  compact --db DIR [--tables t1,t2] [--target-file-mb N]
      |       [--per-chrom] [--max-files N]
      |  lookup <chrom:pos | chrom:lo-hi | rsID | gene:NAME> --db DIR [--genotypes]
      |  import-gwas <tsv> --db DIR [--study-accession A] [--trait T] [--efo ID]
      |       [--pmid P] [--sample-size N] [--n-cases N] [--n-controls N]
      |       [--genome-build GRCh38]
      |  import-pgs <scoring-file> --db DIR
      |  import-frequencies <gnomad-vcf> --db DIR [--source gnomAD_v3]
      |       [--subset non_cancer] [--prefix P]
      |  list-annotations|list-studies|list-pgs --db DIR [--json]
      |  load-reference <hapmap3-tsv> --db DIR
      |  annotate-ld-blocks <bed> --db DIR [--population EUR] [--build grch37]
      |  compute-sample-qc --db DIR [--batch-id B | --sample-id S] [--json]
      |  list-failing-samples --db DIR
      |  refresh-views --db DIR [--source gnomAD_v3]
      |  load-annotation <vcf> --name NAME --config cfg.json --db DIR
      |       [--version V] [--source-type vcf]
      |  annotate --db DIR [--anno a,b] [--batch ID] [--filter EXPR] [--limit N]
      |       [--output PATH] [--format tsv|json]
      |  annotation-query "<sql>" --db DIR [--output PATH] [--format tsv|json]
      |  audit-verify --db DIR [--start-date D] [--end-date D] [--json]
      |  audit-stats --db DIR
      |  audit-export <out.json> --db DIR [--start YYYY-MM-DD] [--end YYYY-MM-DD]
      |  audit-verify-backup <backup.json>
      |  phi-scan <vcf> [--sample-rate R] [--max-records N] [--patterns-config F]
      |           [--json] [--no-scan-headers]
      |  phi-sanitize <vcf> [--output out.vcf[.gz]] [--preview]  (default: stdout)
      |  phi-report <batch-id> --db DIR
      |  phi-stats --db DIR
      |  phi-patterns-list [--severity S] [--patterns-config F]
      |  phi-patterns-add --name N --pattern RE --severity S [--description D]
      |       [--ignore-case] [--patterns-config F]
      |  phi-patterns-test --pattern RE --input TEXT [--ignore-case]
      |  export-plink|export-prscs|export-ldpred2|export-prsice <out> --db DIR
      |       [--study ACCESSION] [--hapmap3-only] [--min-info X] [--min-maf X]
      |  benchmark [--synthetic N | --vcf F] [--db DIR] [--json]
      |       [--no-normalize] [--no-human-genome] [--realistic] [--giab]
      |       (no flags: full harness)
      |  dedup CORPUS --db DIR [--method exact|minhash|simhash|embedding]
      |       [--staged | --use-staged] [--id-col C] [--text-col C] [--threshold X]
      |       [--max-hamming N] [--max-bucket N] [--shingle-k N] [--sig-len N]
      |       [--bands N] [--planes N] [--dim N] [--vec-col C] [--json]
      |  ann-topk --corpus P --queries P --db DIR [--mode brute|lsh|ivf]
      |       [--k N] [--planes N] [--ncentroids N] [--nprobe N] [--trained]
      |       [--id-col C] [--vec-col C] [--json]
      |  text-quality CORPUS --db DIR [--id-col C] [--text-col C]
      |       [--min-quality Q] [--min-lang-margin M] [--json]
      |  media-features CORPUS --db DIR [--from-documents] [--json]""".stripMargin)
}
