package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Sink surface (SURVEY §2.2).
  *
  * K1: the variants table persists as parquet partitioned by chromosome —
  * the direct analogue of the reference's LIST-partitioned table
  * (`schema.py:186-203`); chrom filters prune whole directories.
  * Rows are sorted by pos within partitions so parquet min/max stats
  * prune row groups for region queries (the analogue of the reference's
  * recreate-indexes-after-load step, `schema.py:347-359`).
  */
object Writers {

  /** K1 — write the variants table.
    *
    * Range-partitioned on (chrom, pos), NOT hash-on-chrom: hashing by
    * chromosome caps write parallelism at ~24 tasks and makes one
    * unbounded file per chrom directory — a multi-GB single-task write
    * at cohort scale. Range partitioning samples the keys, so tasks
    * stay balanced under chromosome skew, and AQE sizes the shuffle by
    * its advisory partition size — files grow to ~advisory size then
    * split, so a small store stays one file per chrom dir while a
    * cohort-scale store fans out across the cluster. Each chrom
    * directory then holds pos-sorted files with DISJOINT pos ranges, so
    * a point/region probe still touches exactly one or two files
    * (footer min/max selects them — `PointLookup`) and analytical
    * region scans still prune row groups.
    *
    * Page rows are capped well below the parquet default (20k):
    * pos-sorted pages + column indexes let a point probe decode ~512
    * rows per column instead of ~20k, at <1% file-size cost; scans read
    * pages sequentially either way. */
  def writeVariants(variants: DataFrame, path: String,
                    mode: String = "overwrite"): Unit =
    variants
      .repartitionByRange(col("chrom"), col("pos"))
      .sortWithinPartitions(col("chrom"), col("pos"))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("chrom")
      .parquet(path)

  /** rsID secondary projection — the scale-safe analogue of the
    * reference's partial HASH index on rs_id (`schema.py:271-275`).
    * rs_id carries no locality in the chrom/pos-partitioned main store,
    * so an rsID probe there is a full scan at scale. This is a COVERING
    * sorted projection (C-Store style): every variant column, filtered to
    * rs_id IS NOT NULL (the reference's partial-index predicate),
    * range-partitioned AND sorted by rs_id — a lookup prunes to one range
    * partition, then min/max stats prune row groups, then column indexes
    * prune pages, and the full row is served from the projection alone.
    * Trade, explicit: storage is a second copy of the rs_id-bearing rows,
    * bought to remove the second probe into the main store per lookup
    * (the heap-fetch the reference's HASH probe pays inside Postgres). */
  def writeRsidIndex(variants: DataFrame, path: String,
                     mode: String = "overwrite"): Unit =
    variants
      .filter(col("rs_id").isNotNull)
      .repartitionByRange(col("rs_id"))
      .sortWithinPartitions(col("rs_id"))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", "512")
      .parquet(path)

  /** Gene covering projection (K1d) — the analogue of the reference's
    * covering index `(gene) INCLUDE (pos, ref, alt, impact)`
    * (`schema.py:264-269`): gene carries no locality in the chrom/pos
    * layout, so a gene query on the main store is a full scan at scale.
    * This projection is range-partitioned AND sorted by gene, and carries
    * the columns a gene query serves (the reference's INCLUDE list plus
    * consequence and the join-back keys) so `PointLookup.byGene` answers
    * from the index alone — no second probe into the main store. */
  val GeneIndexColumns = Seq("gene", "chrom", "pos", "ref", "alt",
    "impact", "consequence", "variant_id")

  def writeGeneIndex(variants: DataFrame, path: String,
                     mode: String = "overwrite"): Unit =
    variants
      .filter(col("gene").isNotNull)
      .select(GeneIndexColumns.map(col) ++
        // batch provenance when the source carries it (every load does):
        // the O(batch) force-reload drops a batch's index rows by footer
        // stats on this column, file-surgically, instead of rewriting
        // the projection (see dropKeyFiles)
        (if (variants.columns.contains("load_batch_id"))
           Seq(col("load_batch_id")) else Nil): _*)
      .repartitionByRange(col("gene"))
      .sortWithinPartitions(col("gene"), col("chrom"), col("pos"))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", "512")
      .parquet(path)

  /** Run independent write jobs concurrently from separate driver
    * threads (Spark's scheduler interleaves their stages across the
    * executor pool). Every task is awaited to COMPLETION even when one
    * fails — a caller's cleanup must never race a write that is still
    * landing files — then the first failure is rethrown. */
  def runConcurrently(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val running = tasks.map(t => Future(t()))
      val results = running.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      results.collectFirst { case scala.util.Failure(e) => throw e }
      ()
    }

  /** Sum of parquet footer row counts under a directory (recursive) — a
    * table's exact row count from O(files) metadata reads, no Spark job
    * and no data scan. Used where a just-written table's count is needed
    * and the alternative is re-scanning it (e.g. the fresh-db load's
    * per-batch ledger count). */
  def parquetRowCount(dir: String): Long = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f.getPath, conf))
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }

  /** Per-destination commit strategy for the staged swap. RENAME is the
    * plain-parquet default: stage the old dir aside, rename the temp in
    * (O(1) metadata on local/HDFS/GCS). POINTER is the versioned-table
    * layout (`DbFs.resolvePath`): the new data is staged directly as the
    * next version directory and commit = one atomic writeStringAtomic of
    * the `<table>.current` sidecar — O(1) AND atomic on every store
    * including S3A, where a directory rename is a non-atomic O(bytes)
    * copy+delete. Entries of both kinds may share one swap. */
  private sealed trait SwapEntry {
    def dst: String
    /** Commit; on failure (error/throw) THIS entry's previous data must
      * still be live under its logical path. */
    def commit(): Unit
    /** Best-effort undo of a committed or in-flight entry; true when the
      * previous data is verifiably back under the logical path. */
    def rollback(): Boolean
    /** Drop staged new data (failed run; only called once rollback
      * reported true, or for never-committed entries). */
    def dropStaged(): Unit
    /** Drop previous data after EVERY entry committed. */
    def cleanupOld(): Unit
    /** Residue sweep after a VERIFIED rollback (previous data live under
      * the logical path again) — must never touch that live data. */
    def cleanupAfterRollback(): Unit
    /** Where a failed rollback parked things, for the manual-restore
      * message. */
    def parkedNote: String
  }

  /** The store's one whole-table replace: stage every destination's new
    * data beside it, then commit all of them in one all-or-nothing swap.
    * Each entry is (LOGICAL destination, writer); the writer receives
    * the full destination→staged-path map.
    *
    * Staging, not overwrite: a destination may be read by its own
    * writer's plan (an upsert merges the table it replaces), and it
    * stays intact until the new data is fully written — no
    * localCheckpoint of the whole table, no truncation before the
    * rewrite is known good.
    *
    * Groups run in declaration order, so a later group may read an
    * earlier group's staged data (the rsID/gene projections are column
    * scans of the staged variants, yet commit in the same swap — no
    * window where a new store is live with a stale index); writers
    * WITHIN a group are independent and run concurrently.
    *
    * A failed write leaves every destination untouched and drops every
    * staged dir. A failed commit rolls the already-committed entries
    * back to their previous data; only a crash between commits can
    * split them, and that window is O(1) metadata ops. */
  def stagedSwap(
      groups: Seq[Seq[(String, Map[String, String] => Unit)]]): Unit = {
    val writes = groups.flatten
    if (writes.isEmpty) return
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(writes.head._1).getFileSystem(conf)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    // versioned destination = an existing pointer sidecar, or a
    // .versioned_tables marker in the destination's parent directory
    // (the db root, for every table of a versioned db)
    def versioned(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      // a destination that IS a version dir (a resolved physical path
      // leaking into a swap) must never nest another version inside
      // itself — fall back to the rename swap, which is correct there
      if (p.getName.contains(".v-")) return false
      // append-only audit tables (ledger, audit_log) are deliberately
      // read and appended via their PLAIN paths everywhere (Audit.Ledger,
      // appendRowDriverSide, the tip sidecar) — pointer-committing one
      // (e.g. `compact --tables ledger` on a versioned db) would hide
      // the history behind a pointer those paths never resolve, then
      // split appends from reads. They keep the rename swap on every
      // layout; they are driver-appended small tables, so the S3A copy
      // cost the pointer commit exists to avoid is immaterial here.
      if (DbFs.AppendOnlyTables.contains(p.getName)) return false
      fs.exists(new org.apache.hadoop.fs.Path(DbFs.pointerPath(path))) || {
        val parent = p.getParent
        parent != null &&
          fs.exists(new org.apache.hadoop.fs.Path(parent, ".versioned_tables"))
      }
    }
    final class RenameEntry(val dst: String) extends SwapEntry {
      private val dstP = new org.apache.hadoop.fs.Path(dst)
      val tmp = s"$dst.tmp-$suffix"
      private val tmpP = new org.apache.hadoop.fs.Path(tmp)
      private val oldP = new org.apache.hadoop.fs.Path(s"$dst.old-$suffix")
      private var hadPrevious = false
      private var committed = false
      def commit(): Unit = {
        hadPrevious = fs.exists(dstP)
        if (hadPrevious && !fs.rename(dstP, oldP))
          sys.error(s"stagedSwap: could not stage $dst aside")
        if (!fs.rename(tmpP, dstP)) {
          // restore this table before failing — never leave the path empty
          if (fs.exists(oldP)) fs.rename(oldP, dstP)
          sys.error(s"stagedSwap: could not move new data into $dst")
        }
        committed = true
      }
      def rollback(): Boolean =
        if (committed) {
          // put the new data aside and the previous data back
          if (hadPrevious) fs.rename(dstP, tmpP) && fs.rename(oldP, dstP)
          else fs.rename(dstP, tmpP) // revert a creation
        } else {
          // in-flight: commit() can THROW after dst was staged aside —
          // put its previous data back (the guard compactPartitionDir
          // uses)
          !(fs.exists(oldP) && !fs.exists(dstP) && !fs.rename(oldP, dstP))
        }
      def dropStaged(): Unit = if (fs.exists(tmpP)) fs.delete(tmpP, true)
      def cleanupOld(): Unit = if (fs.exists(oldP)) fs.delete(oldP, true)
      def cleanupAfterRollback(): Unit = cleanupOld()
      def parkedNote: String =
        s"previous data parked at $dst.old-$suffix, staged at $dst.tmp-$suffix"
    }
    final class PointerEntry(val dst: String) extends SwapEntry {
      val tmp = s"$dst.v-$suffix" // staged AS the next version directory
      private val pointer = DbFs.pointerPath(dst)
      // captured before commit: what to restore on rollback and what to
      // GC on success (the previous physical dir — the plain path when
      // this is the table's first versioned swap)
      private val prevPointer: Option[String] =
        DbFs.readString(pointer).map(_.trim).filter(_.nonEmpty)
      private val prevPhysical: String = DbFs.resolvePath(dst)
      def commit(): Unit = DbFs.writeStringAtomic(pointer, suffix)
      def rollback(): Boolean =
        try {
          prevPointer match {
            case Some(tok) => DbFs.writeStringAtomic(pointer, tok); true
            case None      =>
              fs.delete(new org.apache.hadoop.fs.Path(pointer), false); true
          }
        } catch { case _: Throwable => false }
      def dropStaged(): Unit = {
        val p = new org.apache.hadoop.fs.Path(tmp)
        if (fs.exists(p)) fs.delete(p, true)
      }
      def cleanupOld(): Unit = {
        // READ-GRACE GC: the version this swap replaced SURVIVES until
        // the table's NEXT swap — an in-flight reader that resolved the
        // pointer just before the flip keeps a live directory for the
        // rest of its scan (measured without the grace window: ~44% of
        // concurrent reads lost their version dir mid-scan under
        // back-to-back swaps; the rename swap's old-dir delete has the
        // same exposure). Everything ELSE version-shaped — versions from
        // two or more swaps ago, crash residue from aborted swaps — is
        // deleted here, so a table carries at most current + one
        // previous; `validate --reclaim-versions` reclaims the grace
        // copy when storage matters more than in-flight readers. The FIRST
        // flip of a plain-layout table deletes the plain dir eagerly
        // instead (a plain dir coexisting with a pointer would read as
        // an unversioned table; that one migration swap keeps the
        // pre-pointer reader exposure).
        val keepPrev: Option[String] =
          if (prevPhysical == tmp) None
          else Some(prevPhysical).filter(_.startsWith(s"$dst.v-"))
            .map(_.stripPrefix(s"$dst.v-"))
        if (prevPhysical != tmp && keepPrev.isEmpty)
          fs.delete(new org.apache.hadoop.fs.Path(prevPhysical), true)
        DbFs.versions(dst).dirs
          .filterNot(t => t == suffix || keepPrev.contains(t))
          .foreach(t => fs.delete(new org.apache.hadoop.fs.Path(s"$dst.v-$t"), true))
        // record WHICH survivor is the grace copy in a `<table>.prev`
        // sidecar: version tokens are random, so without this a later
        // validate could not tell the deliberate grace copy from crash
        // residue (and could only report counts, not names)
        try keepPrev match {
          case Some(t) => DbFs.writeStringAtomic(s"$dst.prev", t)
          case None =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$dst.prev"), false)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      // nothing to sweep: prevPhysical is the LIVE table again (and the
      // staged version dir was dropStaged'd); deleting it here would
      // destroy the data the rollback just restored
      def cleanupAfterRollback(): Unit = ()
      def parkedNote: String =
        s"pointer at ${DbFs.pointerPath(dst)} may name the aborted " +
          s"version $suffix; previous data intact at $prevPhysical"
    }
    val entries: Map[String, SwapEntry] = writes.map { case (path, _) =>
      path -> (if (versioned(path)) new PointerEntry(path)
               else new RenameEntry(path))
    }.toMap
    val tmps = entries.map { case (path, e) =>
      path -> (e match {
        case r: RenameEntry  => r.tmp
        case p: PointerEntry => p.tmp
      })
    }
    val staged = scala.collection.mutable.ArrayBuffer[SwapEntry]()
    try {
      groups.foreach { group =>
        // plans may scan the live destination paths; untouched until swap
        runConcurrently(group.map { case (_, write) => () => { write(tmps); () } })
        group.foreach { case (path, _) => staged += entries(path) }
      }
    } catch {
      case e: Throwable =>
        // failed mid-stage: destinations are untouched; drop EVERY temp
        // (a failing concurrent group can leave part-written siblings) —
        // best-effort, never masking the original failure
        try entries.values.foreach(_.dropStaged())
        catch { case _: Throwable => () }
        throw e
    }
    // swap phase: on a commit failure, reverse the tables already swapped
    var swapped = 0
    try {
      staged.foreach { e => e.commit(); swapped += 1 }
    } catch {
      case e: Throwable =>
        try {
          // track per-entry rollback success: staged data may only be
          // deleted once its table is verifiably back in place — an
          // unconditional sweep would destroy the ONLY copy of a table
          // whose restore silently failed (split commit with the backup
          // gone)
          val rolledBack = Array.fill(staged.length)(true)
          // the IN-FLIGHT entry (index `swapped`) first, then committed
          // entries in reverse
          if (swapped < staged.length)
            rolledBack(swapped) = staged(swapped).rollback()
          (0 until swapped).reverse.foreach { j =>
            rolledBack(j) = staged(j).rollback()
          }
          staged.zipWithIndex.foreach { case (en, j) =>
            if (rolledBack(j)) en.dropStaged() }
          staged.zipWithIndex.foreach { case (en, j) =>
            if (rolledBack(j)) en.cleanupAfterRollback() }
          val stuck = staged.zipWithIndex.collect {
            case (en, j) if !rolledBack(j) => en }
          if (stuck.nonEmpty)
            System.err.println("stagedSwap rollback incomplete for " +
              stuck.map(_.dst).mkString(", ") + " — " +
              stuck.map(_.parkedNote).mkString("; ") + "; restore manually")
        } catch { case _: Throwable => () }
        throw e
    }
    staged.foreach(_.cleanupOld())
  }

  /** Files to write for a dir rewritten into ~targetMb parquet files:
    * sized from the dir's CURRENT bytes, so a compaction is proportional
    * to the data, not a fixed fan-in. */
  private[sinks] def targetFiles(spark: SparkSession, dir: String,
                                 targetMb: Long): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val targetBytes = targetMb * 1024L * 1024L
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** Genotypes table rewrite — hive-partitioned by chrom (the variants
    * layout, K1) and clustered on (chrom, pos): a driver-side genotype
    * probe then lists ONE chrom directory and prunes the rest on pos
    * footer stats alone, the same 1-directory listing the variants probe
    * pays (`PointLookup.genotypesAt`). Range partitioning keeps write
    * tasks balanced under chromosome skew exactly as `writeVariants`
    * does. Neither the load path (it appends each task's rows
    * pos-sorted into the chrom directories — a narrow write, no shuffle
    * of the biggest table per load) nor compaction (`WritePlan.compact`,
    * which sizes its file count from the table's bytes) uses this; it is
    * the shape for writing a whole genotype relation at once (`Bench`'s
    * store setup). */
  def writeGenotypes(genotypes: DataFrame, path: String): Unit =
    genotypes
      .repartitionByRange(col("chrom"), col("pos"))
      .sortWithinPartitions(col("chrom"), col("pos"))
      .write
      .option("parquet.page.row.count.limit", "512")
      .partitionBy("chrom")
      .parquet(path)

  /** Incremental compaction of ONE partition directory of a hive-layout
    * table (the 100 TB form of the compact discipline: a full-table
    * recompact rewrites everything in one job, while fragmentation is
    * usually concentrated in a few partitions — compacting per partition
    * makes the cost O(fragmented data) and lets a store be folded
    * progressively). Content is unchanged, only the file layout — so
    * covering projections derived from the table stay fresh (validate's
    * content fingerprint proves it).
    *
    * The temp directory is staged as a sibling of the TABLE ROOT, not
    * inside it: a temp named `<root>/chrom=chr1.tmp-x` would surface as a
    * bogus partition value to any concurrent partition discovery; outside
    * the root, readers never see intermediate state beyond the same O(1)
    * rename window every swap here has. Returns the target file count. */
  def compactPartitionDir(spark: SparkSession, tableRoot0: String,
                          dirName: String, targetMb: Long,
                          sortCols: Seq[String]): Int = {
    // partition surgery happens INSIDE the current version dir
    val tableRoot = DbFs.resolvePath(tableRoot0)
    val dst = new org.apache.hadoop.fs.Path(s"$tableRoot/$dirName")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = targetFiles(spark, dst.toString, targetMb)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(s"$tableRoot.$dirName.tmp-$suffix")
    val old = new org.apache.hadoop.fs.Path(s"$tableRoot.$dirName.old-$suffix")
    try
      spark.read.parquet(dst.toString)
        .repartitionByRange(n, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.option("parquet.page.row.count.limit", "512")
        .parquet(tmp.toString)
    catch {
      case e: Throwable =>
        // failed mid-write: destination untouched; drop the partial temp
        try if (fs.exists(tmp)) fs.delete(tmp, true)
        catch { case _: Throwable => () }
        throw e
    }
    try {
      if (!fs.rename(dst, old))
        sys.error(s"compactPartitionDir: could not stage $dst aside")
      if (!fs.rename(tmp, dst)) {
        fs.rename(old, dst) // restore before failing
        sys.error(s"compactPartitionDir: could not move new data into $dst")
      }
    } catch {
      case e: Throwable =>
        // mirror stagedSwap's recovery: if the partition was
        // staged aside but the new data never landed, put the old data
        // back FIRST — deleting only tmp here would leave the partition
        // missing from the table (stranded at <root>.<dir>.old-*,
        // invisible to partition discovery)
        try {
          if (fs.exists(old) && !fs.exists(dst)) fs.rename(old, dst)
          if (fs.exists(tmp)) fs.delete(tmp, true)
        } catch { case _: Throwable => () }
        throw e
    }
    fs.delete(old, true)
    n
  }

  /** Compact every `chrom=` directory of the variants table holding more
    * than `maxFiles` files (pos-sorted, content unchanged — the covering
    * projections stay fresh). Returns (directories compacted, total). */
  def compactChromDirs(spark: SparkSession, variantsDir: String,
                       targetMb: Long, maxFiles: Int): (Int, Int) = {
    val dirs = DbFs.subdirNames(variantsDir).filter(_.startsWith("chrom="))
    val due = dirs.filter(d => DbFs.parquetFileCount(s"$variantsDir/$d") > maxFiles)
    due.foreach(d => compactPartitionDir(spark, variantsDir, d, targetMb,
      sortCols = Seq("pos")))
    (due.length, dirs.length)
  }

  /** One row group's usable footer statistics for `column`: (min, max,
    * the statistics' own comparator, null count). None when the chunk is
    * absent or its statistics are missing or empty — nothing then
    * excludes a value. The comparator is the parquet-defined order for
    * the physical type (signed for INT64, unsigned lexicographic for
    * BINARY — the order the stats were written under, and the order
    * Spark sorts by at write time); a signed-byte compare would order
    * multi-byte UTF-8 values before ASCII and exclude them wrongly. */
  private[graft] def rowGroupStats(
      block: org.apache.parquet.hadoop.metadata.BlockMetaData, column: String)
      : Option[(AnyRef, AnyRef, java.util.Comparator[AnyRef], Long)] =
    block.getColumns.asScala.find(_.getPath.toDotString == column)
      .map(_.getStatistics)
      .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
      .map(s => (s.genericGetMin.asInstanceOf[AnyRef],
        s.genericGetMax.asInstanceOf[AnyRef],
        s.comparator().asInstanceOf[java.util.Comparator[AnyRef]],
        s.getNumNulls))

  /** Can this row group hold a `column` value in [lo, hi], per its footer
    * min/max? Absent or empty statistics answer true (must read). The
    * one statistics test of the store: the probes' file pruning
    * (`PointLookup`) and `dropKeyFiles`' classification both use it. */
  private[graft] def rowGroupMayHold(
      block: org.apache.parquet.hadoop.metadata.BlockMetaData, column: String,
      lo: AnyRef, hi: AnyRef): Boolean =
    rowGroupStats(block, column).forall { case (mn, mx, cmp, _) =>
      cmp.compare(mn, hi) <= 0 && cmp.compare(mx, lo) >= 0 }

  /** Single-key form of `dropKeyFiles`. */
  def dropKeyFiles(spark: SparkSession, dir: String, keyCol: String,
                   value: String): (Int, Int) =
    dropKeyFiles(spark, dir, Seq(keyCol -> value))

  /** O(batch) physical delete of every row where ALL `keys` columns
    * equal their values (conjunction) — the analogue of the reference's
    * `DELETE WHERE load_batch_id = $1` (`loader.py:244-252`), which is
    * O(batch) in Postgres. The only drop path of the store: with
    * load_batch_id for force-reload, load rollback and
    * `validate --drop-orphans`; with study_accession / pgs_id and
    * (source, subset) for the import verbs' per-key replace. Rows live in
    * files whose footer row-group stats pin the keys: those files are
    * REMOVED by rename (an O(1) metadata op each), files whose stats
    * exclude the value are never opened, and only post-`compact` files
    * that mix keys pay a filtered single-file rewrite. Cost is O(files
    * holding the key), not O(store).
    *
    * Two-phase for crash safety, mirroring the staged-swap discipline:
    * mixed-file rewrites stage to temp siblings first (destinations
    * untouched); then the metadata phase renames doomed files into a
    * trash sibling of the table root and swaps the staged rewrites in.
    * A failure mid-metadata restores from trash; success deletes the
    * trash. Returns (filesRemoved, filesRewritten). Requires the
    * table's writes to stamp every key column constant per import and
    * land each import as NEW files — exactly what the import verbs'
    * append path does. A file is PURE (droppable whole) when every row
    * group pins EVERY key to its value; it MAY hold matching rows when
    * every key's [min,max] covers its value in some row group (any key
    * excluding its value excludes the conjunction). */
  def dropKeyFiles(spark: SparkSession, dir: String,
                   keys: Seq[(String, String)]): (Int, Int) = {
    require(keys.nonEmpty, "dropKeyFiles: at least one key required")
    val conf = spark.sparkContext.hadoopConfiguration
    // file surgery within the current version dir (identity on plain)
    val root = new org.apache.hadoop.fs.Path(DbFs.resolvePath(dir))
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return (0, 0)
    val pure = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    val mixed = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    val bins = keys.map { case (c, v) =>
      c -> org.apache.parquet.io.api.Binary.fromString(v) }
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f.getPath, conf))
        try {
          val fields = r.getFileMetaData.getSchema.getFields.asScala
            .map(_.getName).toSet
          if (bins.forall(b => fields.contains(b._1))) {
            // classify per row group, conjunctively over all keys: a
            // group covers when every key's stats may hold its value, and
            // is pure when every key's stats are also pinned (min == max,
            // no nulls) — stats that cannot exclude a value never pin it
            val groups = r.getRowGroups.asScala.map { rg =>
              val covers = bins.forall { case (c, v) => rowGroupMayHold(rg, c, v, v) }
              covers -> (covers && bins.forall { case (c, _) =>
                rowGroupStats(rg, c).exists { case (mn, mx, cmp, nulls) =>
                  nulls == 0 && cmp.compare(mn, mx) == 0 }
              })
            }
            if (groups.nonEmpty && groups.forall(_._2)) pure += f.getPath
            else if (groups.exists(_._1)) mixed += f.getPath
          }
          // a key column missing entirely: rows predate key stamping and
          // cannot match a just-stamped import — untouched
        } finally r.close()
      }
    }
    if (pure.isEmpty && mixed.isEmpty) return (0, 0)
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val trash = new org.apache.hadoop.fs.Path(s"$dir.trash-$suffix")
    fs.mkdirs(trash)
    // stage phase: filtered single-file rewrites of mixed files (rare —
    // only post-compact files straddle batches). Destinations untouched.
    val dropPred = keys.map { case (c, v) => col(c) <=> lit(v) }
      .reduce(_ && _)
    val rewrites = mixed.zipWithIndex.map { case (p, i) =>
      val tmp = new org.apache.hadoop.fs.Path(s"$dir.tmp-$suffix-$i")
      spark.read.parquet(p.toString)
        .filter(!dropPred)
        .coalesce(1)
        .write.option("parquet.page.row.count.limit", "512")
        .parquet(tmp.toString)
      (p, tmp)
    }
    // metadata phase: trash pure files and swap rewrites in; rollback
    // restores everything from trash on failure
    val trashed = scala.collection.mutable.ArrayBuffer[
      (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)]()
    def toTrash(p: org.apache.hadoop.fs.Path): Unit = {
      val t = new org.apache.hadoop.fs.Path(trash, s"${trashed.length}-${p.getName}")
      if (!fs.rename(p, t)) sys.error(s"dropKeyFiles: cannot stage $p aside")
      trashed += ((p, t))
    }
    try {
      pure.foreach(toTrash)
      rewrites.foreach { case (p, tmp) =>
        toTrash(p)
        // the staged rewrite holds ONE data file; move it under the
        // original name so hive partition discovery sees a plain file
        val dataFile = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
        dataFile.foreach { d =>
          if (!fs.rename(d, p))
            sys.error(s"dropKeyFiles: cannot land rewrite for $p")
        }
        fs.delete(tmp, true)
      }
    } catch {
      case e: Throwable =>
        try {
          trashed.reverse.foreach { case (orig, t) =>
            if (!fs.exists(orig)) fs.rename(t, orig); ()
          }
          rewrites.foreach { case (_, tmp) =>
            if (fs.exists(tmp)) fs.delete(tmp, true); ()
          }
          fs.delete(trash, true)
        } catch { case _: Throwable => () }
        throw e
    }
    fs.delete(trash, true)
    (pure.length, mixed.length)
  }

  /** A stable 64-bit hash of a row's content over `cols`: per column its
    * value (a map via its JSON form — xxhash64 rejects MapType, whose key
    * order is undefined; the JSON form is stable across a parquet round
    * trip) and a never-null isnull flag. xxhash64 SKIPS null inputs, so
    * without the flag rows differing only in WHICH column is null would
    * collide. Shared by the upsert's deterministic survivor and
    * validate's projection fingerprint. */
  def rowHash(schema: org.apache.spark.sql.types.StructType,
              cols: Seq[String]): org.apache.spark.sql.Column =
    xxhash64(cols.flatMap { c =>
      val v = schema(c).dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(c))
        case _ => col(c)
      }
      Seq(v, isnull(col(c)))
    }: _*)

  /** One row per key with a DETERMINISTIC survivor: the row whose
    * non-key content maximizes [[rowHash]]. `dropDuplicates` keeps a
    * partition-order-dependent arbitrary row, so duplicate-keyed
    * NON-identical rows would make store contents nondeterministic
    * across runs — where the reference's ON CONFLICT DO UPDATE raises
    * "row affected a second time". The content-hash pick is this path's
    * documented relaxation of that error: stable across runs and cluster
    * layouts, one aggregation, no window/sort. */
  private def dedupDeterministic(df: DataFrame, keys: Seq[String]): DataFrame = {
    val nonKey = df.columns.filterNot(keys.contains).toSeq
    if (nonKey.isEmpty) df.dropDuplicates(keys)
    else
      df.groupBy(keys.map(col): _*)
        .agg(max_by(struct(nonKey.map(col): _*),
          rowHash(df.schema, nonKey)).as("_row"))
        .select(df.columns.toSeq.map(c =>
          if (keys.contains(c)) col(c)
          else col(s"_row.`$c`").as(c)): _*)
  }

  /** K3 — upsert semantics (ON CONFLICT DO UPDATE): incoming rows win,
    * existing rows without a match survive (left_anti + union).
    * `allowMissingColumns` tolerates on-disk schema drift (an older table
    * missing a since-added column is null-filled). */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             allowMissingColumns: Boolean = false): DataFrame =
    // dedupe incoming on the keys first: a batch carrying the same key
    // twice must leave ONE row per key, as insertIgnore already does —
    // with a deterministic survivor (see dedupDeterministic)
    dedupDeterministic(incoming, keys).unionByName(
      existing.join(incoming.select(keys.map(col): _*).distinct(), keys, "left_anti"),
      allowMissingColumns = allowMissingColumns)

  /** K2 — dedupe-on-insert (ON CONFLICT DO NOTHING): existing rows win. */
  def insertIgnore(existing: DataFrame, incoming: DataFrame,
                   keys: Seq[String]): DataFrame =
    existing.unionByName(
      dedupDeterministic(incoming, keys)
        .join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti"))

  /** K5 — TSV / JSON result output. The CSV writer rejects complex types,
    * so map/array/struct columns (e.g. variants' info map and filter
    * array) are JSON-stringified in place — the reference's TSV face
    * serializes them as strings too. */
  def writeTsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val flat = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType | _: ArrayType | _: StructType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)
    val out = if (singleFile) flat.coalesce(1) else flat
    // escape=" gives RFC-4180 doubled-quote escaping (Spark defaults to
    // backslash), so any standard TSV/CSV reader can parse the output
    out.write.mode("overwrite").option("sep", "\t").option("header", "true")
      .option("escape", "\"").csv(path)
  }

  def writeJson(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }
}
