package graft.query

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.{ColumnIndex, OffsetIndex}
import org.apache.parquet.internal.filter2.columnindex.{ColumnIndexFilter, ColumnIndexStore, RowRanges}
import org.apache.parquet.io.{ColumnIOFactory, MessageColumnIO}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession

import graft.sinks.Writers

/** Driver-side point lookups on the parquet store — the serving-layer
  * analogue of the reference's indexed point SELECTs
  * (`tests/performance/test_query_latency.py:50-83`, B-tree/HASH probes).
  *
  * A Spark job pays scheduler+task+collect latency (~50-100 ms on a warm
  * local session) regardless of how little data it touches; a Postgres
  * index probe is <5 ms. This path closes that gap without a database:
  * the store layout already IS the index — chrom partition directories
  * (K1) bound the files to open, pos-sorted row groups mean row-group
  * statistics prune to the group containing the probed key, and column
  * indexes narrow the read to the pages overlapping it (pages are kept
  * small at write time — `Writers.writeVariants`). No Spark job is
  * launched. The rsID face probes the slim rs_id-sorted secondary
  * projection (K1b) first, then the main store by (chrom,pos); the gene
  * face serves straight from the covering gene projection (K1d) — the
  * analogue of the reference's `(gene) INCLUDE (pos,ref,alt,impact)`
  * covering index (`schema.py:264-269`).
  *
  * Per-probe costs are amortized the way Postgres amortizes them in
  * shared buffers:
  *   - probes read through the SparkContext's Hadoop configuration, the
  *     one every other driver-side reader and writer of the store uses;
  *   - directory listings are cached keyed by the directory's mtime
  *     (store swaps replace the directory, appends touch it — both bump
  *     mtime, so staleness is visible from one getFileStatus call);
  *   - one file cache holds each file's metadata (footer, page indexes,
  *     record-assembly tree) keyed by (mtime, length) — parquet files
  *     are write-once, a rewritten file gets a new identity;
  *   - before any stream is opened, the cached footer's row-group
  *     min/max statistics are tested against the probed key, so only
  *     the 1–2 candidate files that can contain it are ever opened.
  * Both caches are LRUs of fixed capacity (a long-lived serving session
  * over a store that is swapped repeatedly must not accumulate entries
  * for dead files).
  *
  * Scale note: latency is O(files-in-one-partition-directory) for the
  * listing + footer-prune step and O(row-group) for the read, flat in
  * total store size as long as per-chrom file counts are kept sane by
  * compaction (the `compact` verb) — the discipline any parquet serving
  * layer requires. This is a point-serving face; analytical scans still
  * go through Spark.
  */
object PointLookup {

  /** All rows with the given (chrom, pos); values rendered as strings
    * (nested map/list columns in a compact k=v / comma form). */
  def byPosition(spark: SparkSession, store: String, chrom: String,
                 pos: Long): Seq[Map[String, String]] =
    byRegion(spark, store, chrom, pos, pos)

  /** All rows with chrom and lo <= pos <= hi — the region-query face
    * (`test_query_latency.py:85-117`'s 100 kb region row), served the
    * same driver-side way: partition directory bounds the files, footer
    * min/max prunes to the overlapping 1–2 files, row-group stats and
    * column indexes narrow the read to overlapping pages. A 100 kb
    * region on a pos-sorted store touches a handful of pages, so this
    * face skips the ~50 ms Spark job floor a scan pays regardless of
    * data volume. Results are pos-ordered: batch-append files overlap in
    * pos within a chrom directory (`Graft` load's O(batch) cohort path),
    * so cross-file order is restored by a driver-side sort of the
    * region-sized result, not assumed from file layout. */
  def byRegion(spark: SparkSession, store0: String, chrom: String,
               lo: Long, hi: Long): Seq[Map[String, String]] = {
    // versioned dbs serve from the pointer's current dir (identity on
    // the plain layout); a swap lands a NEW physical path, so the
    // listing caches never serve a swapped-away version. The retry
    // closes the residual exposure: a probe that spans TWO swaps of the
    // same table can lose its version dir mid-read (read-grace keeps
    // exactly one previous) — re-resolving picks up the new current
    // version and the probe re-runs against it.
    graft.sinks.DbFs.withReadRetry(store0) { store =>
    read(spark, new Path(s"$store/chrom=$chrom"),
      FilterApi.and(
        FilterApi.gtEq(FilterApi.longColumn("pos"), java.lang.Long.valueOf(lo)),
        FilterApi.ltEq(FilterApi.longColumn("pos"), java.lang.Long.valueOf(hi))),
      Seq(("pos", java.lang.Long.valueOf(lo), java.lang.Long.valueOf(hi))))
      .map(_ + ("chrom" -> chrom)) // the partition column isn't in the files
      .sortBy(r => (r("pos").toLong, r.getOrElse("ref", ""),
        r.getOrElse("alt", ""), r.getOrElse("load_batch_id", "")))
    }
  }

  /** rsID probe. The index is a covering sorted projection
    * (`Writers.writeRsidIndex`), so the full row is served from ONE probe
    * — no second round trip into the main store (the heap-fetch the
    * reference's HASH probe pays inside Postgres). A pre-covering slim
    * index (older stores carry only the 6 join-back columns) is detected
    * from the hit shape and served the two-probe way. */
  def byRsid(spark: SparkSession, rsidIndex0: String, store: String,
             rsId: String): Seq[Map[String, String]] = {
    val rsBin = Binary.fromString(rsId)
    val hits = graft.sinks.DbFs.withReadRetry(rsidIndex0) { rsidIndex =>
      read(spark, new Path(rsidIndex),
        FilterApi.eq(FilterApi.binaryColumn("rs_id"), rsBin),
        Seq(("rs_id", rsBin, rsBin)))
    }
      // deterministic across batch-append files (which overlap in rs_id)
      .sortBy(r => (r.getOrElse("chrom", ""),
        r.get("pos").map(_.toLong).getOrElse(0L), r.getOrElse("ref", ""),
        r.getOrElse("alt", ""), r.getOrElse("load_batch_id", "")))
    // variant_type is never null in the full schema, so its absence marks
    // a slim legacy index row
    if (hits.isEmpty || hits.head.contains("variant_type")) hits
    else
      // the slim index has one row per decomposed (site, ALT); probe each
      // SITE of the main store once
      hits.map(h => (h("chrom"), h("pos").toLong)).distinct.flatMap {
        case (chrom, pos) =>
          byPosition(spark, store, chrom, pos)
            .filter(_.get("rs_id").contains(rsId))
      }
  }

  /** Gene probe, served entirely from the covering gene projection
    * (`Writers.writeGeneIndex`) — no second probe into the main store,
    * exactly like the reference's covering-index gene query
    * (`schema.py:264-269`, `test_query_latency.py:142-153`). */
  def byGene(spark: SparkSession, geneIndex0: String,
             gene: String): Seq[Map[String, String]] = {
    val gBin = Binary.fromString(gene)
    graft.sinks.DbFs.withReadRetry(geneIndex0) { geneIndex =>
      read(spark, new Path(geneIndex),
        FilterApi.eq(FilterApi.binaryColumn("gene"), gBin),
        Seq(("gene", gBin, gBin)))
    }
      // deterministic across batch-append files (which overlap in gene)
      .sortBy(r => (r.getOrElse("chrom", ""),
        r.get("pos").map(_.toLong).getOrElse(0L), r.getOrElse("ref", ""),
        r.getOrElse("alt", ""), r.getOrElse("load_batch_id", "")))
  }

  /** Per-sample genotype rows at one site or region — the analogue of the
    * reference's genotype PK probes (`genotypes/schema.py:19-48`), served
    * driver-side. The genotypes table is hive-partitioned by chrom (the
    * variants layout — load appends into the chrom directories, `compact`
    * additionally clusters on pos), so the probe lists ONE directory and
    * prunes the rest on pos footer stats, the same shape the variants
    * probe pays. A pre-hive FLAT table (no chrom= directories) is still
    * served by footer-testing every file on (chrom, pos) — the O(files)
    * latency the `compact` verb's layout migration exists to bound.
    * Results are sorted (pos, sample_id) driver-side: cross-file order is
    * not meaningful here because a site's sample rows may straddle a file
    * boundary (appends are unsorted until compaction). */
  def genotypesAt(spark: SparkSession, genotypes0: String, chrom: String,
                  lo: Long, hi: Long): Seq[Map[String, String]] =
    graft.sinks.DbFs.withReadRetry(genotypes0) { genotypes =>
    val root = new Path(genotypes)
    val hiveDir = new Path(root, s"chrom=$chrom")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one metadata call decides the layout; a missing chrom dir on a
    // hive-layout table is a genuine empty answer, not a flat table
    val isHive = fs.exists(hiveDir) || {
      try fs.listStatus(root).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("chrom="))
      catch { case _: java.io.FileNotFoundException => false }
    }
    val loL = java.lang.Long.valueOf(lo)
    val hiL = java.lang.Long.valueOf(hi)
    val posPred = FilterApi.and(
      FilterApi.gtEq(FilterApi.longColumn("pos"), loL),
      FilterApi.ltEq(FilterApi.longColumn("pos"), hiL))
    val rows =
      if (isHive)
        read(spark, hiveDir, posPred, Seq(("pos", loL, hiL)))
          .map(_ + ("chrom" -> chrom)) // partition column isn't in the files
      else {
        val cBin = Binary.fromString(chrom)
        read(spark, root,
          FilterApi.and(
            FilterApi.eq(FilterApi.binaryColumn("chrom"), cBin), posPred),
          Seq(("chrom", cBin, cBin), ("pos", loL, hiL)))
      }
    rows.sortBy(r => (r("pos").toLong, r.getOrElse("sample_id", "")))
  }

  /** Bounded LRU map (access-order), synchronized — probe volume is
    * driver-side and modest, contention is not the concern; unbounded
    * growth across store swaps is. */
  private def lru[K, V](maxEntries: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > maxEntries
      })

  /** Directory listing cache: dir path -> (dir mtime, parquet files).
    * Swaps replace the directory and appends add files — both change the
    * directory mtime, so one getFileStatus validates the entry. Residual
    * risk is mtime GRANULARITY: an append landing in the same timestamp
    * tick as a cached listing (coarse filesystems, synthetic object-store
    * mtimes) would serve a non-empty but incomplete result — the empty-
    * result staleness guard in readListed can't see it. Two defenses:
    * same-JVM writers call `invalidateListings` after an append, and a
    * listing is cached only once it has SETTLED — two consecutive
    * listings observed the same (mtime, file names, file lengths). An
    * append racing the first listing within one tick shows up as a
    * changed file set on the second, so the pair stays uncached and
    * relists. Settling is judged purely from storage-side observations —
    * no comparison of the reader's clock against the storage-assigned
    * mtime, so clock skew between reader and storage (which broke the
    * previous wall-clock-distance guard when storage lagged) cannot
    * produce premature caching. The residual window is an append that
    * lands in the same tick strictly AFTER two identical listings —
    * closed for same-JVM writers by invalidateListings, and vanishingly
    * narrow cross-JVM (two listings + an unchanged-mtime append inside
    * one granularity tick). A few KB per directory. */
  private val listingCache = lru[String, (Long, Seq[FileStatus])](256)

  /** Listings seen exactly once (mtime + file identity): promoted to
    * listingCache when a second listing observes the same state. */
  private val pendingListing = lru[String, (Long, Seq[(String, Long)])](256)

  /** Drop cached listings for `dir` and its partition subdirectories —
    * called by same-session APPEND writers (the load's genotype append),
    * whose new files may land within the directory-mtime tick of a cached
    * listing. Swap writers don't need this: a swap replaces the directory
    * (new mtime, and dead files escalate into the relist-once retry). */
  def invalidateListings(dir: String): Unit = {
    val prefix = new Path(graft.sinks.DbFs.resolvePath(dir)).toString
    Seq(listingCache, pendingListing).foreach { cache =>
      cache.synchronized {
        val it = cache.keySet().iterator()
        while (it.hasNext) {
          val k = it.next()
          if (k == prefix || k.startsWith(prefix + "/")) it.remove()
        }
      }
    }
  }

  /** Returns (files, servedFromCache) — the flag lets empty-result probes
    * distinguish "genuinely no hit" from "stale cached listing whose dead
    * files were all footer-pruned" (see readListed). */
  private def parquetFiles(fs: FileSystem, dir: Path): (Seq[FileStatus], Boolean) = {
    val dirStatus =
      try fs.getFileStatus(dir)
      catch { case _: java.io.FileNotFoundException => return (Nil, false) }
    val key = dir.toString
    val cached = listingCache.get(key)
    if (cached != null && cached._1 == dirStatus.getModificationTime)
      (cached._2, true)
    else {
      val files = fs.listStatus(dir).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      // cache only once the listing has SETTLED: this listing agrees
      // with the previous one on mtime AND file identity (see the cache
      // doc above — storage-side observations only, no reader-clock
      // comparison)
      val identity = files.map(f => (f.getPath.getName, f.getLen))
        .sortBy(_._1)
      val state = (dirStatus.getModificationTime, identity)
      if (pendingListing.get(key) == state)
        listingCache.put(key, (dirStatus.getModificationTime, files))
      else {
        listingCache.remove(key)
        pendingListing.put(key, state)
      }
      (files, false)
    }
  }

  /** One store file's metadata, current while the file's (mtime, length)
    * match those it was read under: parquet files are write-once, so a
    * file rewritten at the same path shows a new identity. The footer is
    * read when the entry is made. The page indexes (per row group, per
    * column, the (column index, offset index) pair parquet stores after
    * the data) and the record-assembly tree are built from it the first
    * time a probe reads pages of the file, so a file the footer stats
    * prune never pays for them. Both are pure functions of write-once
    * metadata that would otherwise cost every probe of the file 1-2 ms
    * (reading and thrift-parsing ~2×n_columns index structures) and
    * ~1 ms (the assembly tree of a 30-column schema) — the move Postgres
    * makes when a B-tree's upper levels stay pinned in shared buffers.
    * `lazy val` initialization is synchronized, so concurrent probes
    * build each once; a build that throws (the file vanished) is retried
    * by the next probe. */
  private final class FileMeta(conf: Configuration, val status: FileStatus) {
    val footer: ParquetMetadata = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
      try r.getFooter finally r.close()
    }

    lazy val pageIndexes: IndexedSeq[Map[ColumnPath, (ColumnIndex, OffsetIndex)]] = {
      val r = open()
      try footer.getBlocks.asScala.toIndexedSeq.map { block =>
        block.getColumns.asScala.map { c =>
          c.getPath -> ((r.readColumnIndex(c), r.readOffsetIndex(c)))
        }.toMap
      } finally r.close()
    }

    lazy val columnIO: MessageColumnIO =
      new ColumnIOFactory(footer.getFileMetaData.getCreatedBy)
        .getColumnIO(footer.getFileMetaData.getSchema)

    def isCurrent(s: FileStatus): Boolean =
      s.getModificationTime == status.getModificationTime && s.getLen == status.getLen

    /** A reader over the cached footer — ParquetFileReader.open would
      * re-read and re-parse the footer this entry exists to amortize. No
      * filter in the options: readFile selects row groups and pages
      * itself, and the record filter applies at assembly. */
    def open(): ParquetFileReader = {
      val inputFile = HadoopInputFile.fromStatus(status, conf)
      new ParquetFileReader(inputFile, footer,
        HadoopReadOptions.builder(conf, status.getPath).build(),
        inputFile.newStream())
    }
  }

  /** The file cache: path -> FileMeta, at most 1,024 files. Worst-case
    * heap is ~200 MB: a footer is ~10-100 KB and a read file's page
    * indexes ~100 KB. The stores served today sit far below the bound:
    * the cohort bench store holds 33 files (24 after `compact`), and
    * `graft.Bench`'s fragmented store 24 per chrom directory. */
  private val fileCache = lru[String, FileMeta](1024)

  private def fileMeta(conf: Configuration, status: FileStatus): FileMeta = {
    val key = status.getPath.toString
    val cached = fileCache.get(key)
    if (cached != null && cached.isCurrent(status)) cached
    else {
      val meta = new FileMeta(conf, status)
      fileCache.put(key, meta)
      meta
    }
  }

  /** `readFilteredRowGroup(blockIndex, rowRanges)` is public but returns
    * the package-private ColumnChunkPageReadStore, which scalac refuses
    * to reference at a call site; invoke through a Method handle (javac
    * would compile the direct call). */
  private val readFilteredRowGroup = classOf[ParquetFileReader].getMethod(
    "readFilteredRowGroup", classOf[Int], classOf[RowRanges])

  /** Smallest row-group min of `column` across the file, with its stats
    * comparator — the file-ordering key for deterministic cross-file
    * results. None when the column has no usable statistics. */
  private def fileMin(footer: ParquetMetadata, column: String)
      : Option[(AnyRef, java.util.Comparator[AnyRef])] =
    footer.getBlocks.asScala.flatMap(Writers.rowGroupStats(_, column))
      .map { case (mn, _, cmp, _) => (mn, cmp) }
      .reduceOption((best, m) => if (m._2.compare(m._1, best._1) < 0) m else best)

  /** `prunes`: per-column [lo, hi] bounds, ALL applied at the footer
    * min/max pruning step (conjunction); the FIRST entry's column also
    * orders the surviving files (see readListed). */
  private def read(spark: SparkSession, dir: Path, pred: FilterPredicate,
                   prunes: Seq[(String, AnyRef, AnyRef)]): Seq[Map[String, String]] =
    try readListed(spark, dir, pred, prunes)
    catch {
      // a cached listing can outlive a swap on filesystems with coarse
      // directory-mtime granularity (two swaps in one tick) or synthetic
      // directory mtimes (object stores): dead paths surface here as
      // FileNotFoundException. Invalidate and relist ONCE; a second miss
      // is a real missing file and propagates.
      case _: java.io.FileNotFoundException =>
        listingCache.remove(dir.toString)
        readListed(spark, dir, pred, prunes)
    }

  private def readListed(spark: SparkSession, dir: Path, pred: FilterPredicate,
                         prunes: Seq[(String, AnyRef, AnyRef)])
      : Seq[Map[String, String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val (files, fromCache) = parquetFiles(fs, dir)
    if (files.isEmpty) return Nil
    val filter = FilterCompat.get(pred)
    val orderColumn = prunes.head._1
    // Footer-prune FIRST (cached footers, no stream opens), then order the
    // surviving files by their min(orderColumn): listStatus order is not
    // contractual on any filesystem, and byRegion's pos-ordered contract
    // spans files on the range-partitioned multi-file layout (files are
    // pos-disjoint, so min-ordering the files totally orders the rows).
    val candidates = files.map(fileMeta(conf, _)).filter { meta =>
      prunes.forall { case (c, lo, hi) =>
        meta.footer.getBlocks.asScala.exists(Writers.rowGroupMayHold(_, c, lo, hi))
      }
    }.map(meta => (meta, fileMin(meta.footer, orderColumn)))
    val ordered = candidates.sortWith {
      case ((f1, m1), (f2, m2)) =>
        val (n1, n2) = (f1.status.getPath.getName, f2.status.getPath.getName)
        (m1, m2) match {
          case (Some((a, cmp)), Some((b, _))) =>
            val c = cmp.compare(a, b)
            if (c != 0) c < 0 else n1 < n2
          case (None, Some(_)) => true // statless files first, deterministically
          case (Some(_), None) => false
          case (None, None)    => n1 < n2
        }
    }
    val result = ordered.flatMap { case (meta, _) => readFile(meta, filter) }
    // A stale cached listing whose dead files were ALL footer-pruned
    // yields an empty result without touching any file, so the
    // FileNotFoundException recovery above never fires — the probe would
    // silently answer from the dead store's statistics. Store files are
    // immutable (a swap DELETES them, never rewrites them in place), so
    // one existence probe on a listed file distinguishes a genuine miss
    // from that staleness; a dead path escalates into the relist-once
    // retry. Cost: one file-status call, only on cached empty results.
    if (result.isEmpty && fromCache && !fs.exists(files.head.getPath))
      throw new java.io.FileNotFoundException(
        s"stale listing: ${files.head.getPath}")
    result
  }

  /** One file's matching rows. The page row-ranges come from the cached
    * page indexes, and the reader is asked for exactly those pages. The
    * record-level filter applies at assembly time, so page granularity
    * never leaks extra rows into the result. A file without page indexes
    * reads whole row groups: a null column index selects all rows, and a
    * missing offset index is handled below. */
  private def readFile(meta: FileMeta, filter: FilterCompat.Filter)
      : Seq[Map[String, String]] = {
    // Page row-ranges come ENTIRELY from cached metadata (footer + page
    // indexes), so compute them for every row group BEFORE opening any
    // stream: a file whose footer stats overlap the probe but whose
    // pages all exclude it (common on fragmented cohort stores, where
    // appended files' min/max spans overlap) is skipped without an
    // open — on an object store that is one saved RTT per pruned file,
    // locally ~0.2 ms each.
    val blockRanges = meta.footer.getBlocks.asScala.toSeq.zipWithIndex.map {
      case (block, bi) =>
        val rgIdx = meta.pageIndexes(bi)
        // `paths` = the columns PRESENT in this row group (parquet-mr's
        // own contract for calculateRowRanges): a filter column absent
        // from the set is evaluated as missing-from-file (all nulls),
        // which is correct only for genuinely absent columns — deriving
        // the set from the predicate's columns instead would silently
        // drop rows for any probe whose predicate outgrew its prune
        // column list.
        val paths = new java.util.HashSet[ColumnPath]()
        block.getColumns.asScala.foreach(c => paths.add(c.getPath))
        val cis = new ColumnIndexStore {
          def getColumnIndex(p: ColumnPath): ColumnIndex =
            rgIdx.get(p).map(_._1).orNull
          // a predicate column without an offset index makes page
          // pruning unsound — calculateRowRanges catches the thrown
          // Missing and selects ALL rows of the group (verified against
          // parquet 1.16 bytecode), so the record filter still decides
          def getOffsetIndex(p: ColumnPath): OffsetIndex =
            rgIdx.get(p).map(_._2).filter(_ != null).getOrElse(
              throw new ColumnIndexStore.MissingOffsetIndexException(p))
        }
        (bi, ColumnIndexFilter.calculateRowRanges(
          filter, cis, paths, block.getRowCount))
    }.filter(_._2.rowCount() > 0)
    if (blockRanges.isEmpty) Seq.empty
    else {
      val reader = meta.open()
      try {
        val out = ArrayBuffer[Map[String, String]]()
        blockRanges.foreach { case (bi, ranges) =>
          // unwrapped, so a file that vanishes mid-read reaches read's
          // relist-once as the FileNotFoundException it is
          val pages =
            try readFilteredRowGroup.invoke(reader, Int.box(bi), ranges)
              .asInstanceOf[PageReadStore]
            catch { case e: java.lang.reflect.InvocationTargetException =>
              throw e.getCause }
          if (pages != null) assemble(pages, meta, filter, out)
        }
        out.toSeq
      } finally reader.close()
    }
  }

  private def assemble(pages: PageReadStore, meta: FileMeta,
                       filter: FilterCompat.Filter,
                       out: ArrayBuffer[Map[String, String]]): Unit = {
    val rr = meta.columnIO.getRecordReader(pages,
      new GroupRecordConverter(meta.footer.getFileMetaData.getSchema), filter)
    var i = 0L
    val n = pages.getRowCount
    while (i < n) {
      val g = rr.read()
      if (g != null && !rr.shouldSkipCurrentRecord) out += groupToMap(g)
      i += 1
    }
  }

  /** Render one parquet Group generically: primitives via their string
    * form, nested groups (Spark's map key_value / list element shapes)
    * flattened to k=v or value lists joined with ','. Null fields are
    * absent from the map. */
  private def groupToMap(g: Group): Map[String, String] = {
    val t = g.getType
    (0 until t.getFieldCount).flatMap { i =>
      val n = g.getFieldRepetitionCount(i)
      if (n == 0) None
      else {
        val rendered = (0 until n).map(render(g, i, _)).mkString(",")
        Some(t.getFieldName(i) -> rendered)
      }
    }.toMap
  }

  private def render(g: Group, field: Int, idx: Int): String = {
    if (g.getType.getType(field).isPrimitive) g.getValueToString(field, idx)
    else {
      val sub = g.getGroup(field, idx)
      val st = sub.getType
      val parts = (0 until st.getFieldCount).flatMap { i =>
        val n = sub.getFieldRepetitionCount(i)
        (0 until n).map(render(sub, i, _))
      }
      // a map's key_value renders as key=value; list wrappers collapse
      if (st.getFieldCount == 2 && parts.length == 2) s"${parts(0)}=${parts(1)}"
      else parts.mkString(",")
    }
  }
}
