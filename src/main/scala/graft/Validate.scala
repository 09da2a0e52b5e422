package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.{has, tbl}
import graft.sinks.{DbFs, WritePlan}

/** The `validate` verb: one load batch against its ledger row
  * (`cli.py:511-575`), or, bare, the whole store — versioned-layout
  * residue, per-batch counts against the ledger, orphan batches and the
  * covering projections' freshness — with `--reclaim-versions`,
  * `--drop-orphans` and `--rebuild` as its repairs. */
object Validate {

  /** The whole-store repairs; each makes `validate` a mutating verb. */
  val RepairFlags: Seq[String] =
    Seq("--rebuild", "--drop-orphans", "--reclaim-versions")

  def run(spark: SparkSession, args: Array[String], db: String): Unit = {
    val ledger = new graft.audit.Audit.Ledger(spark, s"$db/ledger")
    // the argument is optional here: bare `validate` keeps the whole-db
    // reconciliation, which the reference has no single verb for
    args.lift(1).filterNot(_.startsWith("--")) match {
      case Some(batchId) => batch(spark, args, db, ledger, batchId)
      case None          => store(spark, args, db, ledger)
    }
  }

  /** Single-batch face: status + expected-vs-actual + in-batch
    * duplicates, nonzero exit on failure. */
  private def batch(spark: SparkSession, args: Array[String], db: String,
      ledger: graft.audit.Audit.Ledger, batchId: String): Unit = {
    import spark.implicits._
    // the repair flags act on the WHOLE store; silently ignoring them
    // under a batch-scoped run would leave the user believing a repair
    // happened
    if (RepairFlags.exists(has(args, _)))
      sys.error("validate <batch-id> does not take --rebuild, " +
        "--drop-orphans or --reclaim-versions; run them on a bare " +
        "`validate --db ...`")
    // a fresh or pre-ledger store answers "batch not found"
    val row = ledger.latestFor(batchId)
      .getOrElse(sys.error(s"Load batch not found: $batchId"))
    val b = spark.read.parquet(tbl(db, "variants"))
      .filter($"load_batch_id" === batchId)
    val actualN = b.count()
    val dupN = b.groupBy($"chrom", $"pos", $"ref", $"alt")
      .count().filter($"count" > 1).count()
    println(s"Load Batch: $batchId")
    println(s"Status: ${row.status}")
    println(s"Expected variants: ${row.n_variants}")
    println(s"Actual variants: $actualN")
    println(s"Duplicates: $dupN")
    // a failed or rolled-back batch must not validate clean even when
    // its counts trivially agree (0 == 0); an unknown count never agrees
    if (row.status == "completed" && actualN == row.n_variants && dupN == 0)
      println("Validation passed")
    else sys.error("Validation failed")
  }

  private def store(spark: SparkSession, args: Array[String], db: String,
      ledger: graft.audit.Audit.Ledger): Unit = {
    import spark.implicits._
    def variants = spark.read.parquet(tbl(db, "variants"))
    if (DbFs.exists(DbFs.versionMarker(db)))
      versions(db, reclaim = has(args, "--reclaim-versions"))

    // duplicate detection is scoped WITHIN each load batch
    // (`cli.py:552-560` groups under WHERE load_batch_id = $1): a
    // multi-file cohort legitimately carries the same site in two files'
    // batches — only same-batch repeats indicate a load defect
    val hasBatch = variants.columns.contains("load_batch_id")
    val dupKeys =
      (if (hasBatch) Seq($"load_batch_id") else Nil) ++
        Seq($"chrom", $"pos", $"ref", $"alt")
    val dups = variants.groupBy(dupKeys: _*)
      .count().filter($"count" > 1).count()
    println(s"variants=${variants.count()} duplicate_sites=$dups")
    if (hasBatch && DbFs.exists(s"$db/ledger"))
      batches(spark, args, db, variants, ledger.completed())
    projections(spark, args, db, variants)
  }

  /** Versioned-layout invariants (init-db --versioned-tables): each
    * pointer must name a live dir, and only the grace copy may survive
    * beside it (see [[DbFs.Versions]]). `--reclaim-versions` (a SEPARATE
    * flag from --drop-orphans, which repairs orphan BATCHES —
    * piggybacking would make the printed orphan-repair guidance silently
    * yank grace copies from under in-flight readers) deletes every
    * non-current version of every pointered table — run it only when no
    * readers are mid-scan. Tables are DISCOVERED from their pointer
    * sidecars, so dynamically-named tables (anno_<src>) are covered. */
  private def versions(db: String, reclaim: Boolean): Unit =
    DbFs.children(db).map(_.getPath.getName).filter(_.endsWith(".current"))
      .map(_.stripSuffix(".current")).sorted.foreach { t =>
        val v = DbFs.versions(s"$db/$t")
        v.current.foreach { tok =>
          val dangling = !v.dirs.contains(tok)
          val stale = v.nonCurrent.map(x => s"$t.v-$x")
          if (dangling)
            println(s"$t: DANGLING pointer ($t.current -> $t.v-$tok " +
              "missing; reads fall back to the plain path)")
          if (reclaim) {
            if (dangling)
              // deleting survivors under a dangling pointer would destroy
              // the only intact copies of the table — refuse
              println(s"$t: NOT reclaiming ${stale.length} version " +
                "dir(s) under a dangling pointer — repair the pointer " +
                "first (point it at a surviving version)")
            else {
              if (stale.nonEmpty) {
                stale.foreach(n => DbFs.deleteRecursive(s"$db/$n"))
                println(s"$t: reclaimed ${stale.length} non-current " +
                  s"version dir(s) (${stale.mkString(",")})")
              }
              // unconditionally: a .prev left naming the CURRENT version
              // (pointer repaired onto the grace copy) is stale
              // bookkeeping either way
              DbFs.deleteRecursive(s"$db/$t.prev")
            }
          } else if (v.residue.nonEmpty)
            println(s"$t: ${v.residue.length} stale version dir(s) " +
              s"(${v.residue.map(x => s"$t.v-$x").mkString(",")}) — crash " +
              "residue beyond the read-grace copy; swept by the next " +
              "swap, or validate --reclaim-versions")
        }
      }

  /** Per-batch expected-vs-actual against the completed ledger rows
    * (`cli.py:548-570`), then orphan batches — store rows whose batch
    * has NO completed ledger row, the residue of a load killed between
    * its append and its ledger commit (the reference can't orphan: its
    * load is one Postgres transaction). Orphans are detected in BOTH
    * tables — the genotype append commits before the variants write, so
    * a crash can orphan genotypes alone. `--drop-orphans` repairs them;
    * don't run it while a load is in flight — an active batch is
    * completed-less by definition. */
  private def batches(spark: SparkSession, args: Array[String], db: String,
      variants: DataFrame,
      completed: Seq[graft.audit.Audit.LedgerEntry]): Unit = {
    import spark.implicits._
    val byBatch = completed.groupBy(_.load_batch_id)
    val actual = variants.groupBy($"load_batch_id")
      .agg(count(lit(1)).as("actual"))
      .as[(String, Long)].collect() // batch-count-sized
      .sortBy(r => Option(r._1)) // a NULL batch sorts first, as in SQL
    // one line per (batch, completed ledger row) pair — a batch with no
    // completed row prints its unknowns as '?'
    actual.foreach { case (b, actualN) =>
      Option(b).flatMap(byBatch.get).getOrElse(Seq(null)).foreach { e =>
        val expected = Option(e).map(_.n_variants)
          .filter(_ != graft.audit.Audit.UnknownCount)
        println(s"batch $b " +
          s"(${Option(e).flatMap(x => Option(x.file_path)).getOrElse("?")}): " +
          s"expected=${expected.map(_.toString).getOrElse("?")} " +
          s"actual=$actualN " +
          (if (expected.contains(actualN)) "ok" else "MISMATCH"))
      }
    }
    // NULL batch ids are NOT orphans: they are legacy rows from a
    // pre-ledger store (null-filled by a widening rewrite's
    // unionByName) — no batch, and the "repair" must keep them
    val gDir = tbl(db, "genotypes")
    val genoBatches =
      if (DbFs.exists(gDir) &&
          spark.read.parquet(gDir).columns.contains("load_batch_id"))
        spark.read.parquet(gDir).select($"load_batch_id").distinct()
          .as[String].collect().toSeq
      else Nil
    val orphans = (actual.map(_._1) ++ genoBatches)
      .filter(b => b != null && !byBatch.contains(b)).distinct.sorted
    if (orphans.nonEmpty) {
      println(s"orphan batch(es) with no completed ledger row: " +
        orphans.mkString(",") +
        (if (has(args, "--drop-orphans")) ""
         else " — run `validate --drop-orphans` to repair"))
      if (has(args, "--drop-orphans")) {
        // surgical repair, the same O(orphan) machinery as force-reload:
        // an orphan is crash residue of a partial APPEND, so its rows
        // live in their own footer-identified files across all four
        // tables — no store-sized rebuild to drop batch-sized residue
        val dirs = (WritePlan.variants(db).dirs :+ s"$db/genotypes")
          .filter(d => DbFs.exists(DbFs.resolvePath(d)))
        orphans.foreach(b => WritePlan.dropKeys(
          spark, dirs, Seq("load_batch_id" -> b)))
        println(s"dropped orphan batch(es): " + orphans.mkString(","))
      }
    }
  }

  /** Covering-projection freshness: the indexes commit in the same swap
    * as the store, so a mismatch means someone rewrote the store
    * out-of-band. Counts alone can't see a rewrite that preserves
    * cardinality but changes served columns (a popmax/flag update is
    * exactly that), so the check is CONTENT-level: an order-independent
    * fingerprint — sum of per-row xxhash64 over the projection's columns
    * — compared between the index and the eligible variants.
    * `--rebuild` regenerates ONLY the stale projections from the live
    * store, in one all-or-nothing swap. */
  private def projections(spark: SparkSession, args: Array[String],
      db: String, variants: DataFrame): Unit = {
    import spark.implicits._
    val staleIdx = Seq(("rsid_idx", variants.filter($"rs_id".isNotNull)),
        ("gene_idx", variants.filter($"gene".isNotNull)))
      .filter { case (idx, _) => DbFs.exists(tbl(db, idx)) }
      .flatMap { case (idx, expectDf) =>
        val idxDf = spark.read.parquet(tbl(db, idx))
        // shared columns in a fixed order — the projection may be a
        // column subset (gene_idx) or predate a since-added column
        val cols = idxDf.columns.toSeq.filter(expectDf.columns.contains).sorted
        def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
          // decimal(38,0) sum: overflow-proof to ~1e19 rows, exact
          val p = df.select(cols.map(col): _*)
          val r = p
            .select(graft.sinks.Writers.rowHash(p.schema, cols)
              .cast("decimal(38,0)").as("h"))
            .agg(count(lit(1)).as("n"), sum($"h").as("s")).head()
          (r.getLong(0),
            Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
        }
        val (wantN, wantS) = fingerprint(expectDf)
        val (gotN, gotS) = fingerprint(idxDf)
        if (gotN == wantN && gotS == wantS) {
          println(s"$idx: ok ($gotN rows, content fingerprint match)")
          None
        } else {
          println(
            if (gotN != wantN)
              s"$idx: STALE ($gotN rows vs $wantN eligible variants " +
                "— run `validate --rebuild` or `compact`)"
            else
              s"$idx: STALE (row counts match but served content " +
                "differs from the store — run `validate --rebuild` " +
                "or `compact`)")
          Some(idx)
        }
      }
    if (staleIdx.nonEmpty && has(args, "--rebuild")) {
      // each through its own sink in the variants family: the one place
      // a projection is paired with its writer
      WritePlan.rewrite(spark,
        WritePlan.variants(db).projections
          .filter(p => staleIdx.contains(DbFs.baseName(p.dir)))
          .map(p => WritePlan.Family(p) -> variants))
      println(s"rebuilt ${staleIdx.mkString(", ")} from the live store")
    }
  }
}
