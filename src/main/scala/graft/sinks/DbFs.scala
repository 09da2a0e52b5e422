package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem face for DB-directory metadata operations (existence,
  * child listing, mkdirs, recursive delete) through the Hadoop
  * `FileSystem` API, so a `--db` can live on any Hadoop-supported store
  * (HDFS, S3A, GCS, local) — the deployment shape DEPLOY.md describes.
  * `java.io.File` on a db path silently answers "absent" for any
  * non-local scheme, which would route existing-store loads down the
  * fresh-db path; every verb-side db check goes through here instead.
  * INPUT files (the VCF being loaded, TSV/TOML configs, backup exports)
  * stay driver-local `java.io` by design, matching the reference CLI's
  * local-file arguments.
  *
  * All helpers resolve the FileSystem from the active session's Hadoop
  * conf per call — cheap (Hadoop caches one FS instance per scheme) and
  * correct across sessions with different conf.
  */
object DbFs {

  /** The session's Hadoop conf when one exists; a vanilla conf
    * otherwise — driver-side utilities (PHI registry IO, file hashing,
    * lock-path probes) must work without a session too. Vanilla serves
    * every built-in scheme; session-registered schemes need the session. */
  def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def conf = hadoopConf

  private def fsFor(p: Path) = p.getFileSystem(conf)

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsFor(p).exists(p)
  }

  def isDirectory(path: String): Boolean = {
    val p = new Path(path)
    try fsFor(p).getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    fsFor(p).mkdirs(p); ()
  }

  def deleteRecursive(path: String): Unit = {
    val p = new Path(path)
    // no exists pre-check: delete on an absent path answers false on
    // every Hadoop FS — one RPC instead of two on object stores
    fsFor(p).delete(p, true); ()
  }

  /** Immediate children, empty when the directory is absent. One RPC:
    * the absent case is the catch arm, not an exists pre-check (which
    * would double the metadata round-trips on the object stores this
    * face exists to support, and open a TOCTOU throw between calls). */
  def children(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    try fsFor(p).listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Names of immediate child DIRECTORIES (hive partition dirs). */
  def subdirNames(dir: String): Seq[String] =
    children(dir).filter(_.isDirectory).map(_.getPath.getName)

  /** Count of immediate child `.parquet` files (fragmentation probes). */
  def parquetFileCount(dir: String): Int =
    children(dir).count(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Any immediate child plain `.parquet` file? (legacy FLAT layout
    * detection at a table root that is hive-partitioned when healthy.) */
  def hasFlatParquet(dir: String): Boolean = parquetFileCount(dir) > 0

  /** Does any `.parquet` file exist anywhere under `dir`? */
  def hasParquetRecursive(dir: String): Boolean = {
    val p = new Path(dir)
    try {
      val it = fsFor(p).listFiles(p, true)
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) return true
      false
    } catch { case _: java.io.FileNotFoundException => false }
  }

  /** Basename of a path in any scheme. */
  def baseName(path: String): String = new Path(path).getName

  /** Read a small text file (sidecars, TOML registries); None if absent. */
  def readString(path: String): Option[String] = {
    val p = new Path(path)
    val in =
      try fsFor(p).open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
    } finally in.close()
  }

  /** Write a small text file atomically: temp sibling + rename, so a
    * crash mid-write can never leave a truncated file under the final
    * name (the same committer-style discipline the parquet appends use). */
  def writeStringAtomic(path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = fsFor(p)
    // UNIQUE temp name per write: a deterministic (per-thread) name
    // would let the next write clobber a previous failure's surviving
    // temp copy — the one copy the error message promised was preserved
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${Thread.currentThread().getId}-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // rename first (atomic when dst is absent, and POSIX rename also
    // overwrites). On a store that refuses to clobber (HDFS), prefer
    // FileContext's rename with Options.Rename.OVERWRITE — atomic, so
    // there is never a window with NO file at the final name (a crash in
    // a delete-then-rename window would leave e.g. a missing PHI
    // registry that later scans silently treat as "builtins only").
    // Only when the scheme has no AbstractFileSystem binding (test
    // schemes, exotic stores) fall back to delete+retry; if the retry
    // ALSO fails, the temp file is the only surviving copy — keep it and
    // say where it is; deleting it here would destroy both the old
    // content (already removed) and the new.
    if (!fs.rename(tmp, p)) {
      val overwrote =
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            p.toUri, fs.getConf)
          fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          true
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException => false
        }
      if (!overwrote) {
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p))
          sys.error(s"writeStringAtomic: cannot land $path — " +
            s"new content preserved at $tmp")
      }
    }
  }

  // ---- versioned-table layout (init-db --versioned-tables) ----
  // A table's data lives under `<table>.v-<token>/`, named by a small
  // `<table>.current` pointer file; swapping the table = rewriting the
  // pointer via writeStringAtomic — ONE small-file rename on every
  // store. Motivation: S3A's directory rename is a client-side
  // copy+delete, non-atomic and O(bytes), so the default rename-based
  // staged swap both costs a full table copy and exposes a torn window
  // on S3 proper. The pointer flip is O(1) and atomic everywhere.
  // Non-versioned dbs (the default, plain-parquet layout) have no
  // pointer files: resolution is one cheap negative lookup and the
  // plain path serves as its own physical dir.

  /** db-root marker that switches new swaps to the versioned layout. */
  def versionMarker(db: String): String = s"$db/.versioned_tables"

  /** Append-only audit tables, read/appended via plain paths by design —
    * never pointer-committed, even on a versioned db (see
    * Writers.stagedSwap). */
  val AppendOnlyTables: Set[String] = Set("ledger", "audit_log")

  def pointerPath(table: String): String = s"$table.current"

  /** Logical table path → current physical directory: the pointer's
    * target when a `<table>.current` sidecar exists, the plain path
    * otherwise. Readers and appenders go through here; SWAP destinations
    * stay logical (Writers resolves versioning itself at commit). */
  def resolvePath(table: String): String = resolveWithDangle(table)._1

  /** [[resolvePath]] plus whether the resolution fell back to the plain
    * path through a DANGLING pointer (pointer present, version dir
    * absent) — [[withReadRetry]] needs the distinction: a dangle at
    * resolve time is either permanent crash residue (the plain dir IS
    * the healed data) or the transient window between a flip and our
    * exists() check, and only a later re-resolve can tell them apart. */
  private def resolveWithDangle(table: String): (String, Boolean) =
    readString(pointerPath(table)) match {
      case Some(tok) if tok.trim.nonEmpty =>
        val v = s"$table.v-${tok.trim}"
        // dangling pointer (crash residue, or a table deleted out from
        // under its sidecar): fall back to the plain path so the store
        // self-heals instead of serving a missing directory
        if (exists(v)) (v, false) else (table, true)
      case _ => (table, false)
    }

  def resolveTable(db: String, name: String): String =
    resolvePath(s"$db/$name")

  /** A versioned table's inventory, as tokens: what its
    * `<table>.current` pointer and `<table>.prev` sidecar name, and every
    * `<table>.v-<token>` dir beside it. The retention rule is current +
    * one read-grace copy: the swap GC (Writers) keeps exactly that and
    * writes `.prev`; `validate` reports and reclaims against it;
    * [[withReadRetry]] trusts a read of either. */
  final case class Versions(current: Option[String], prev: Option[String],
                            dirs: Seq[String]) {
    def nonCurrent: Seq[String] = dirs.filterNot(current.contains)
    /** The `.prev` version when it survives; else a SINGLE non-current
      * version is presumed the grace copy (a swap predating the sidecar,
      * or a crashed sidecar write). Anything more is crash residue. */
    def grace: Option[String] = prev.filter(nonCurrent.contains)
      .orElse(Some(nonCurrent).collect { case Seq(only) => only })
    def residue: Seq[String] = nonCurrent.filterNot(grace.contains)
  }

  def versions(table: String): Versions = {
    def token(path: String) = readString(path).map(_.trim).filter(_.nonEmpty)
    val p = new Path(table)
    val prefix = s"${p.getName}.v-"
    Versions(token(pointerPath(table)), token(s"$table.prev"),
      children(p.getParent.toString).map(_.getPath.getName)
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).sorted)
  }

  /** A read failure caused by files or directories vanishing mid-scan —
    * the versioned-swap residual exposure DEPLOY.md documents: read-grace
    * GC keeps exactly ONE previous version, so a reader whose scan spans
    * TWO swaps of the same table can lose its resolved version dir.
    * Matches a FileNotFoundException anywhere in the cause chain (Spark
    * wraps task-side ones in SparkException) and the analyzer's
    * path-not-found, which fires when the dir vanished before the scan
    * even started. */
  def isVanishedRead(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 16) {
      c match {
        case _: java.io.FileNotFoundException => return true
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null &&
              (e.getMessage.contains("PATH_NOT_FOUND") ||
                e.getMessage.contains("Path does not exist")) => return true
        // cluster mode: an executor-side FNF can surface as a
        // SparkException whose cause CHAIN was not preserved across the
        // wire — the original class then appears only in the message
        // text, and a class-only walk would misclassify the vanish as
        // fatal exactly in the deployed-at-scale scenario the retry
        // seam targets (local mode, which the specs exercise, always
        // preserves the chain)
        case e: org.apache.spark.SparkException
            if e.getMessage != null &&
              e.getMessage.contains("FileNotFoundException") => return true
        case _ =>
      }
      c = c.getCause
      depth += 1
    }
    false
  }

  /** Run `body` against the CURRENT physical dir of a (possibly
    * versioned) logical table path, re-resolving the pointer and
    * retrying when the resolved directory vanishes mid-read
    * ([[isVanishedRead]]). This turns the residual two-swaps-spanning-
    * scan window into a retried read: the re-resolve picks up the new
    * current version, which read-grace then protects for the duration
    * of the retry. `body` must build its read from the path it is GIVEN
    * (a fresh `spark.read.parquet(phys)` / fresh footer open), so every
    * attempt lists fresh files. Non-vanish failures propagate
    * immediately; after `attempts` consecutive vanishes the last error
    * propagates — that many back-to-back swaps mid-read means a swap
    * storm the caller should see. */
  def withReadRetry[T](table: String, attempts: Int = 4)(body: String => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      val (phys, dangled) = resolveWithDangle(table)
      try {
        val r = body(phys)
        if (phys != table) {
          // a VERSIONED read is trustworthy only if the dir we read is
          // STILL the current version or the named grace copy. A version
          // that has left both is being (or has been) grace-GC'd — and
          // the GC deletes file-by-file, so a listing taken mid-delete
          // reads a silently PARTIAL subset with no exception and with
          // the directory itself still present; an exists() check cannot
          // catch that, membership can. (The driver-side probe faces
          // also answer "empty" for a fully-deleted dir — a missing
          // chrom= partition is a genuine empty — so the vanish would
          // otherwise surface as a silent empty result.)
          val physTok = phys.substring(phys.lastIndexOf(".v-") + 3)
          if (phys != resolvePath(table) && !versions(table).prev.contains(physTok))
            throw new java.io.FileNotFoundException(
              s"version dir $phys left current+grace during read of $table")
        } else if (dangled && resolvePath(table) != table) {
          // we read the PLAIN path through the dangling-pointer
          // self-heal, and the pointer now resolves to a live version:
          // the dangle was the transient window between a flip and our
          // exists() probe, and the plain path holds no data on a
          // versioned db — the empty answer is an artifact, retry. A
          // PERSISTENT dangle (crash residue where the plain dir is the
          // healed data) keeps resolving plain and is accepted as-is.
          throw new java.io.FileNotFoundException(
            s"transient dangling pointer during read of $table")
        }
        return r
      } catch {
        case t: Throwable if isVanishedRead(t) =>
          last = t
          // a PLAIN path with no pointer in sight cannot heal by
          // re-resolving — a genuinely missing store propagates
          // immediately instead of burning retries and backoff on an
          // error that cannot succeed
          if (phys == table && !dangled && !exists(pointerPath(table)))
            throw t
          // brief, growing backoff (skipped after the final attempt):
          // the writer's pointer flip + grace handoff is milliseconds;
          // the retry only needs to land after the NEXT resolve
          // observes the new pointer
          if (i < attempts - 1) Thread.sleep(25L * (i + 1))
      }
      i += 1
    }
    throw last
  }

  /** True for a db-child name that is swap plumbing, not a logical table:
    * a version directory or pointer sidecar, or a staged (`.tmp-`),
    * staged-aside (`.old-`) or file-surgery trash (`.trash-`) sibling of
    * a table mid-swap — listings that enumerate tables by name must skip
    * these. */
  def isSwapArtifact(name: String): Boolean =
    Seq(".v-", ".tmp-", ".old-", ".trash-").exists(name.contains) ||
      name.endsWith(".current") || name.endsWith(".prev")

  /** True for paths the local-filesystem driver-side faces can serve
    * directly (no scheme, or file:). */
  def isLocal(path: String): Boolean = {
    val u = new Path(path).toUri
    u.getScheme == null || u.getScheme == "file"
  }
}
