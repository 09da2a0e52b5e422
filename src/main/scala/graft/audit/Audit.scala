package graft.audit

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Load-audit ledger + idempotent reload (SURVEY T15/K4,
  * `loader.py:73-83,182-252`) and the HIPAA audit hash chain (§2.10,
  * `audit/integrity.py:92-239`).
  */
object Audit {

  /** T15 — chunked SHA-256 of a file (reload identity key). Streams
    * through the Hadoop FileSystem API so the input VCF may live on any
    * scheme (the parse side reads it via Spark already; the hash was
    * the one load-path input read that required a local file). Local
    * paths resolve to RawLocal streaming — same cost as FileInputStream. */
  def fileSha256(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(graft.sinks.DbFs.hadoopConf).open(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  final case class LedgerEntry(
      load_batch_id: String,
      file_path: String,
      file_hash: String,
      status: String,        // completed | failed | in_progress
      n_variants: Long,
      completed_at: java.sql.Timestamp,
      note: String = "")     // e.g. PHI-scan outcome (loader.py:275-298)

  /** Driver-side single-row parquet append. A 1-row `toDF().write`
    * schedules a full Spark job (~100-250 ms of scheduler + committer
    * overhead) for a metadata-table row; the ledger and audit log append
    * one row per mutating verb, so every verb paid that floor twice or
    * three times. This writes the row with parquet-hadoop's example
    * writer on the driver: one file open, one page, no job. Types match
    * what Spark writes for the same case classes (BINARY/UTF8 strings,
    * INT64 longs, INT64 TIMESTAMP(MICROS) — readable back alongside any
    * Spark-written files already in the directory, by Spark and DuckDB
    * alike). Columns are passed as (name, value) with scala types
    * String / Long / Boolean / java.sql.Timestamp; null values are
    * simply omitted (all schema fields are optional). */
  private[graft] def appendRowDriverSide(
      dir: String, cols: Seq[(String, Any)],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val b = Types.buildMessage()
    cols.foreach { case (name, v) =>
      v match {
        case _: String =>
          b.addField(Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(name))
        case _: Long | _: Int =>
          b.addField(Types.optional(PrimitiveTypeName.INT64).named(name))
        case _: Boolean =>
          b.addField(Types.optional(PrimitiveTypeName.BOOLEAN).named(name))
        case _: java.sql.Timestamp =>
          b.addField(Types.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(true,
              LogicalTypeAnnotation.TimeUnit.MICROS)).named(name))
        case null =>
          b.addField(Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(name))
        case other => sys.error(
          s"appendRowDriverSide: unsupported type ${other.getClass} for $name")
      }
    }
    val schema = b.named("spark_schema")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(conf).mkdirs(dirPath)
    // crash atomicity, committer-style: write to a DOT-prefixed temp
    // (ignored by Spark/DuckDB directory reads), then rename into the
    // final name — a kill mid-write must never leave a footer-less
    // .parquet that bricks every later read of the metadata table
    val id = java.util.UUID.randomUUID()
    val tmp = new org.apache.hadoop.fs.Path(dir, s".part-driver-$id.tmp")
    val path = new org.apache.hadoop.fs.Path(dir,
      s"part-driver-$id.snappy.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(tmp, conf))
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      cols.foreach { case (name, v) =>
        v match {
          case s: String             => g.append(name, s)
          case l: Long               => g.append(name, l)
          case i: Int                => g.append(name, i.toLong)
          case bo: Boolean           => g.append(name, bo)
          case t: java.sql.Timestamp =>
            g.append(name,
              t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
          case _                     => () // null: leave unset
        }
      }
      w.write(g)
    } finally w.close()
    val fs = tmp.getFileSystem(conf)
    if (!fs.rename(tmp, path)) {
      fs.delete(tmp, false)
      sys.error(s"appendRowDriverSide: cannot land $path")
    }
  }

  /** Parquet-backed batch ledger (replaces `variant_load_audit`). */
  final class Ledger(spark: SparkSession, dir: String) {
    import spark.implicits._

    def read(): DataFrame =
      if (graft.sinks.DbFs.exists(dir)) spark.read.parquet(dir)
      else Seq.empty[LedgerEntry].toDF()

    /** K4 semantics (`loader.py:182-252`): an existing completed batch
      * with the same file hash means "skip" unless force-reload; on
      * force, the caller filters the previous batch's rows out of the
      * variants table (delete-then-insert ≡ filter + union). Returns the
      * batch id to delete, if any. */
    def checkExisting(fileHash: String): Option[String] = {
      val df = read()
      if (!df.columns.contains("file_hash")) None
      else df.filter($"file_hash" === fileHash && $"status" === "completed")
        .orderBy($"completed_at".desc)
        .limit(1).collect().headOption.map(_.getAs[String]("load_batch_id"))
    }

    def append(entry: LedgerEntry): Unit =
      appendRowDriverSide(dir, Seq(
        "load_batch_id" -> entry.load_batch_id,
        "file_path" -> entry.file_path,
        "file_hash" -> entry.file_hash,
        "status" -> entry.status,
        "n_variants" -> entry.n_variants,
        "completed_at" -> entry.completed_at,
        "note" -> entry.note),
        spark.sparkContext.hadoopConfiguration)
  }

  /** Drop a reloaded batch's rows (the DELETE side of delete-then-insert;
    * `loader.py:244-252`). */
  def dropBatch(variants: DataFrame, batchId: String): DataFrame = {
    import variants.sparkSession.implicits._
    variants.filter($"load_batch_id" =!= batchId || $"load_batch_id".isNull)
  }

  // Same-JVM writers serialize on a per-db monitor: OS file locks are
  // held per-process, so a second thread's lock attempt would throw
  // OverlappingFileLockException instead of waiting.
  private val jvmDbLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** java.nio file locks are LOCAL-only: for a db on the local
    * filesystem the lock file lives inside the db directory (visible,
    * matching the reference's in-db arbitration shape); for any other
    * scheme it falls back to a tmpdir file keyed by the db URI — the
    * same-host cross-process serialization is preserved, and cross-host
    * arbitration stays external as DEPLOY.md documents. */
  private def lockFilePath(dir: String, name: String): java.nio.file.Path =
    if (graft.sinks.DbFs.isLocal(dir))
      java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(dir).toUri.getPath, name)
    else {
      // key on the Path-NORMALIZED form (trailing slashes, '//', '/./'
      // collapse), so two spellings of one remote db share a lock file
      // — the same property getCanonicalPath gives the local arm
      val normalized = new org.apache.hadoop.fs.Path(dir).toString
      val key = java.security.MessageDigest.getInstance("SHA-256")
        .digest(normalized.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), s".graft-$key$name")
    }

  /** Canonical same-JVM monitor key for a db path: resolved local path
    * when local (two spellings of one directory must share a monitor),
    * the Path-normalized URI string otherwise. */
  private def monitorKey(dir: String): String =
    if (graft.sinks.DbFs.isLocal(dir))
      try new java.io.File(
        new org.apache.hadoop.fs.Path(dir).toUri.getPath).getCanonicalPath
      catch { case scala.util.control.NonFatal(_) => dir }
    else new org.apache.hadoop.fs.Path(dir).toString

  // ---- cross-host writer lease (remote dbs) ----
  // The JVM monitor + OS file lock above serialize same-host writers
  // only: java.nio file locks don't travel to a second driver HOST
  // mutating the same HDFS/S3A db. The reference had Postgres to
  // serialize cross-host writers; a shared filesystem has no server, so
  // this is an advisory TTL lease — a `.writer.lease` file holding
  // holder-id + expiry, written atomically, RE-READ after writing to
  // detect last-writer-wins races, stolen only past expiry. A second
  // host's mutating verb fails fast with the holder's name instead of
  // silently interleaving swaps. Advisory: a store without atomic
  // small-file semantics can in principle admit both racers through the
  // confirm window — the staged-swap/rollback discipline still bounds
  // the damage to cross-table skew, exactly the pre-lease exposure.

  private[graft] def leasePath(db: String): String = s"$db/.writer.lease"

  private[graft] def leaseTtlMs: Long =
    sys.props.get("graft.writer.lease.ttl.ms").map(_.toLong)
      .getOrElse(30L * 60 * 1000)

  private def parseLease(s: String): Option[(String, Long)] = {
    val ls = s.split("\n", -1)
    if (ls.length >= 2)
      scala.util.Try((ls(0).trim, ls(1).trim.toLong)).toOption
    else None
  }

  /** A held lease; renewal keeps a long verb's expiry ahead of the TTL. */
  final class WriterLease private[Audit] (db: String, holderId: String) {
    @volatile private var released = false
    private def mine(): Boolean =
      graft.sinks.DbFs.readString(leasePath(db))
        .flatMap(parseLease).exists(_._1 == holderId)
    private[Audit] def write(): Unit =
      graft.sinks.DbFs.writeStringAtomic(leasePath(db),
        s"$holderId\n${System.currentTimeMillis() + leaseTtlMs}\n")
    private val renewer = new Thread(() => {
      try while (!released) {
        Thread.sleep(math.max(1000L, leaseTtlMs / 3))
        if (!released && mine()) write()
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-renewer")
    renewer.setDaemon(true)
    renewer.start()
    def release(): Unit = {
      released = true
      renewer.interrupt()
      // delete only OUR lease — a stolen/raced-away lease belongs to the
      // winner now
      try if (mine()) graft.sinks.DbFs.deleteRecursive(leasePath(db))
      catch { case _: Throwable => () }
    }
  }

  /** Acquire the cross-host lease or fail fast naming the holder. */
  private def acquireLease(db: String): WriterLease = {
    val me = java.net.InetAddress.getLocalHost.getHostName +
      s"#pid${ProcessHandle.current().pid()}" +
      s"#${java.util.UUID.randomUUID().toString.take(8)}"
    val now = System.currentTimeMillis()
    graft.sinks.DbFs.readString(leasePath(db)).flatMap(parseLease).foreach {
      case (holder, expiry) =>
        if (expiry > now)
          sys.error(s"db writer lease held by $holder until " +
            s"${java.time.Instant.ofEpochMilli(expiry)} — a mutating verb " +
            "is running from another host. Stale leases expire after " +
            s"${leaseTtlMs / 1000}s; delete ${leasePath(db)} to force-release.")
      // expired: crash residue — steal by writing over it
    }
    val lease = new WriterLease(db, me)
    lease.write()
    def stillMine(): Boolean =
      graft.sinks.DbFs.readString(leasePath(db))
        .flatMap(parseLease).exists(_._1 == me)
    def lost(): Nothing = {
      lease.release()
      sys.error(s"db writer lease lost to a concurrent acquirer on $db — " +
        "another host grabbed the lease in the same instant; retry")
    }
    // re-read after write (a concurrent acquirer's overwrite shows up
    // here), then a jittered confirm read so two racers that both passed
    // the first check interleave on the window instead of both entering
    if (!stillMine()) lost()
    Thread.sleep(50L + scala.util.Random.nextInt(100))
    if (!stillMine()) lost()
    lease
  }

  /** Whole-db single-writer lock for mutating CLI verbs. The reference's
    * loads serialize at Postgres — every mutation runs inside a
    * transaction and row/table locks queue concurrent writers
    * (`loader.py` BEGIN/COMMIT discipline) — so two simultaneous `load`s
    * of different files both land. A parquet store has no server to
    * arbitrate: two concurrent loads could both evaluate the
    * append-vs-rewrite decision against the same store state, both read
    * the same ledger, and interleave their table swaps — a cross-table
    * inconsistency the per-table staged swap cannot prevent. Mutating
    * verbs therefore take this lock for their duration: a per-db JVM
    * monitor (threads of one process — the library-embedding case), then
    * an OS file lock on `$db/.writer.lock` (separate CLI processes — the
    * operational case). Best-effort like the audit append lock: a
    * filesystem without locking proceeds unlocked, where the staged-swap
    * discipline still keeps each single table internally consistent. */
  def withDbWriterLock[T](db: String)(body: => T): T = {
    val monitor = jvmDbLocks.computeIfAbsent(monitorKey(db), _ => new Object)
    monitor.synchronized {
      graft.sinks.DbFs.mkdirs(db)
      val lockPath = lockFilePath(db, ".writer.lock")
      val ch =
        try java.nio.channels.FileChannel.open(lockPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case scala.util.control.NonFatal(_) => null }
      var lock: java.nio.channels.FileLock = null
      if (ch != null) {
        lock = try ch.tryLock()
          catch { case scala.util.control.NonFatal(_) => null }
        if (lock == null) {
          // another process holds the db: queue behind it, like a
          // blocked Postgres writer, and say so (a silent multi-minute
          // wait would read as a hang)
          println(s"waiting for writer lock on $db " +
            "(another graft process is mutating this db)")
          lock = try ch.lock()
            catch { case scala.util.control.NonFatal(_) => null }
        }
      }
      // cross-host lease, remote dbs only: same-host writers are already
      // serialized above, so lease contention means a second DRIVER HOST
      // — fail fast with the holder's name (local dbs have no cross-host
      // question: the disk is the host's). Acquired INSIDE the
      // try/finally: a lease fail-fast that escaped before the finally
      // would leak the held OS file lock + channel, and in a long-lived
      // embedding JVM every later attempt would hit
      // OverlappingFileLockException (swallowed → UNLOCKED verb) while
      // other processes block on the dead lock forever
      var lease: Option[WriterLease] = None
      try {
        if (!graft.sinks.DbFs.isLocal(db)) lease = Some(acquireLease(db))
        body
      } finally {
        lease.foreach(_.release())
        if (lock != null)
          try lock.release() catch { case _: Throwable => () }
        if (ch != null)
          try ch.close() catch { case _: Throwable => () }
      }
    }
  }

  /** One row of the persisted operation audit log (`audit_log` analogue,
    * `audit/integrity.py` + `audit/schema`): every mutating CLI verb
    * appends one chained entry, so tampering with the operational history
    * is detectable (`audit-verify`). */
  final case class AuditEvent(
      audit_id: Long,
      event_time: String,    // ISO-8601 instant
      event_type: String,    // the verb
      user_name: String,
      action: String,        // the full argv line
      success: Boolean,
      previous_hash: String,
      entry_hash: String)

  /** Parquet-backed chained audit log. Appends are single-writer (the
    * CLI's assumption throughout — the reference serializes through its
    * database): each append reads the current tip (max audit_id row, a
    * column-pruned driver read of an audit-sized table) and links the new
    * entry's hash to it. */
  final class AuditLog(spark: SparkSession, dir: String) {
    import spark.implicits._

    def read(): DataFrame = {
      // "has data" = at least one non-hidden file: the lock file below
      // lives in the directory as a dotfile (which parquet listing
      // ignores), so bare existence no longer implies readable parquet
      val names = graft.sinks.DbFs.children(dir).map(_.getPath.getName)
      if (names.exists(n => !n.startsWith(".") && !n.startsWith("_")))
        spark.read.parquet(dir)
      else Seq.empty[AuditEvent].toDF()
    }

    def append(eventType: String, action: String, success: Boolean,
               userName: String = sys.props.getOrElse("user.name", "unknown")): Unit = {
      // The read-tip/append pair is NOT atomic: two concurrent CLI
      // invocations could both read the same tip and fork the chain
      // (duplicate audit_id, same previous_hash) — which verifyChain
      // would then flag as tampering though no one tampered. A per-dir
      // JVM monitor serializes same-process threads (an OS file lock
      // cannot: a second thread's lock() throws
      // OverlappingFileLockException rather than waiting), then a
      // best-effort OS file lock serializes other same-host processes;
      // filesystems without locking fall through, where verifyChain's
      // duplicate-id detection still names the condition distinctly.
      val monitor = jvmDbLocks.computeIfAbsent(
        s"audit:${monitorKey(dir)}", _ => new Object)
      monitor.synchronized { appendLocked(eventType, action, success, userName) }
    }

    private def appendLocked(eventType: String, action: String,
                             success: Boolean, userName: String): Unit = {
      graft.sinks.DbFs.mkdirs(dir)
      val lockPath = lockFilePath(dir, ".append.lock")
      val ch =
        try java.nio.channels.FileChannel.open(lockPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case scala.util.control.NonFatal(_) => null }
      val lock =
        if (ch == null) null
        else try ch.lock() catch { case scala.util.control.NonFatal(_) => null }
      try {
        val (prevId, prevHash) = readTip()
        val eventTime = java.time.Instant.now().toString
        val h = entryHash(eventTime, eventType, userName, action, success, prevHash)
        appendRowDriverSide(dir, Seq(
          "audit_id" -> (prevId + 1),
          "event_time" -> eventTime,
          "event_type" -> eventType,
          "user_name" -> userName,
          "action" -> action,
          "success" -> success,
          "previous_hash" -> prevHash,
          "entry_hash" -> h),
          spark.sparkContext.hadoopConfiguration)
        writeTipSidecar(prevId + 1, h)
      } finally {
        if (lock != null) try lock.release() catch { case _: Throwable => () }
        if (ch != null) try ch.close() catch { case _: Throwable => () }
      }
    }

    /** Chain tip without a log-sized scan: each append records
      * (audit_id, entry_hash, resulting data-file count) in a dotfile
      * sidecar, so the next append's tip read is O(1) instead of a Spark
      * job over every audit file — the difference between a constant and
      * an O(operations) cost per mutating verb on a long-lived db. The
      * sidecar is advisory, never trusted blindly: it is honored only
      * when the directory's current data-file count matches the count it
      * recorded, so a crash between the parquet append and the sidecar
      * write (or an out-of-band append) falls back to the full ordered
      * scan — the chain can never silently fork on a stale tip. */
    private def dataFileCount(): Int = {
      graft.sinks.DbFs.children(dir).map(_.getPath.getName).count(n =>
        !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet"))
    }

    private def tipPath = s"$dir/.tip"

    private def writeTipSidecar(id: Long, hash: String): Unit =
      try graft.sinks.DbFs.writeStringAtomic(
        tipPath, s"$id $hash ${dataFileCount()}")
      catch { case scala.util.control.NonFatal(_) => () } // advisory

    private def readTip(): (Long, String) = {
      val fromSidecar =
        try {
          graft.sinks.DbFs.readString(tipPath).flatMap(_.trim.split(" ") match {
            case Array(id, hash, n)
              if n.toInt == dataFileCount() && hash.length == 64 =>
              Some((id.toLong, hash))
            case _ => None
          })
        } catch { case scala.util.control.NonFatal(_) => None }
      fromSidecar.getOrElse {
        read().orderBy($"audit_id".desc)
          .select($"audit_id", $"entry_hash").limit(1).collect().headOption
          .map(r => (r.getLong(0), r.getString(1)))
          .getOrElse((0L, GenesisHash))
      }
    }
  }

  // ---- §2.10: audit hash chain ----

  val GenesisHash: String = "0" * 64

  /** Canonical JSON + SHA-256, byte-compatible with the reference's
    * `json.dumps(..., separators=(", ", ": "))` format
    * (`audit/integrity.py:92-125`): Python defaults to ensure_ascii=True,
    * so every char > 0x7F is \uXXXX-escaped (astral chars as two
    * surrogate escapes — which is exactly what escaping each UTF-16 char
    * produces); `details` is a string map serialized in insertion order,
    * like a Python dict. */
  def entryHash(eventTime: String, eventType: String, userName: String,
                action: String, success: Boolean, previousHash: String,
                details: Seq[(String, String)]): String = {
    def js(s: String): String = graft.Json.str(s, asciiOnly = true)
    val detailsJson =
      details.map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString("{", ", ", "}")
    val canonical =
      s"""{"event_time": ${js(eventTime)}, "event_type": ${js(eventType)}, """ +
      s""""user_name": ${js(userName)}, "action": ${js(action)}, """ +
      s""""success": ${if (success) "true" else "false"}, "details": $detailsJson, """ +
      s""""previous_hash": ${js(previousHash)}}"""
    MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def entryHash(eventTime: String, eventType: String, userName: String,
                action: String, success: Boolean, previousHash: String): String =
    entryHash(eventTime, eventType, userName, action, success, previousHash, Nil)

  // ---- §2.10: audit backup export with integrity metadata ----

  private def jsStr(s: String): String = graft.Json.str(s, asciiOnly = true)

  /** One exported audit row, already ordered by audit_id. */
  final case class BackupEntry(auditId: Long, eventTime: String,
                               eventType: String, userName: String,
                               action: String, success: Boolean,
                               previousHash: String, entryHash: String) {
    /** Canonical form: the reference checksums
      * `json.dumps(entries, sort_keys=True, separators=(",", ":"))`
      * (`audit/integrity.py:294-296`) — keys sorted, no spaces,
      * non-ASCII \uXXXX-escaped. */
    def canonicalJson: String =
      s"""{"action":${jsStr(action)},"audit_id":$auditId,""" +
        s""""entry_hash":${jsStr(entryHash)},"event_time":${jsStr(eventTime)},""" +
        s""""event_type":${jsStr(eventType)},"previous_hash":${jsStr(previousHash)},""" +
        s""""success":${if (success) "true" else "false"},""" +
        s""""user_name":${jsStr(userName)}}"""
  }

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def entriesChecksum(entries: Seq[BackupEntry]): String =
    sha256Hex(entries.map(_.canonicalJson).mkString("[", ",", "]"))

  /** `audit export` with integrity metadata
    * (`audit/integrity.py:254-308` export_with_integrity → the
    * `audit verify-backup` contract): one JSON document holding the
    * id-ordered entries plus entry_count / first_hash / last_hash and a
    * checksum over the canonical entries serialization. start/end carry
    * the export's date window into the metadata (the reference's
    * BackupMetadata.start_date/end_date — `integrity.py:76-82`); null
    * means a whole-log export. The checksum covers ONLY the entries
    * array, so windowed and whole-log backups verify through the same
    * `audit-verify-backup` contract. */
  def writeBackup(entries: Seq[BackupEntry], outPath: String,
                  startDate: Option[String] = None,
                  endDate: Option[String] = None): Unit = {
    val meta =
      s"""{"export_time":${jsStr(java.time.Instant.now().toString)},""" +
        s""""start_date":${startDate.map(jsStr).getOrElse("null")},""" +
        s""""end_date":${endDate.map(jsStr).getOrElse("null")},""" +
        s""""entry_count":${entries.length},""" +
        s""""first_hash":${entries.headOption.map(e => jsStr(e.entryHash)).getOrElse("null")},""" +
        s""""last_hash":${entries.lastOption.map(e => jsStr(e.entryHash)).getOrElse("null")},""" +
        s""""checksum":${jsStr(entriesChecksum(entries))}}"""
    val doc = s"""{"metadata":$meta,""" +
      s""""entries":${entries.map(_.canonicalJson).mkString("[", ",", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), doc)
    ()
  }

  /** `audit verify-backup` (`cli.py:2577-2633` / `integrity.py:310-341`):
    * entry count, first/last entry hash, and the content checksum must
    * all match the embedded metadata. Returns (ok, message) with the
    * reference's failure wording. */
  def verifyBackupFile(path: String): (Boolean, String) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    val meta = root.get("metadata")
    val entriesNode = root.get("entries")
    if (meta == null || entriesNode == null || !entriesNode.isArray)
      return (false, "Missing required field in backup")
    import scala.jdk.CollectionConverters._
    def str(n: com.fasterxml.jackson.databind.JsonNode, f: String): String = {
      val v = n.get(f); if (v == null || v.isNull) null else v.asText()
    }
    val entries = entriesNode.elements().asScala.map { e =>
      BackupEntry(e.get("audit_id").asLong(), str(e, "event_time"),
        str(e, "event_type"), str(e, "user_name"), str(e, "action"),
        e.get("success").asBoolean(), str(e, "previous_hash"),
        str(e, "entry_hash"))
    }.toSeq
    val expectedN = meta.get("entry_count").asLong()
    if (entries.length.toLong != expectedN)
      return (false, s"Entry count mismatch: expected $expectedN, got ${entries.length}")
    if (entries.nonEmpty) {
      if (entries.head.entryHash != str(meta, "first_hash"))
        return (false, "First entry hash does not match metadata")
      if (entries.last.entryHash != str(meta, "last_hash"))
        return (false, "Last entry hash does not match metadata")
    }
    if (entriesChecksum(entries) != str(meta, "checksum"))
      return (false, "Content checksum mismatch (data may have been modified)")
    (true, "Backup verification passed")
  }

  private val entryHashUdf = udf(
    (eventTime: String, eventType: String, userName: String, action: String,
     success: Boolean, previousHash: String) =>
      entryHash(eventTime, eventType, userName, action, success, previousHash))

  /** Compute the chain over an ordered audit DataFrame: each row's hash
    * covers its fields plus the previous row's hash — `lag` over the
    * id-ordered window (`audit/integrity.py:157-239`).
    *
    * Scale note: a hash chain is inherently sequential, so the window is
    * a single global ordering — correct but single-reducer; the reference
    * has the same property (row-by-row walk). Chains are audit-sized, not
    * data-sized.
    */
  def withChainHashes(audit: DataFrame): DataFrame = {
    import audit.sparkSession.implicits._
    val w = Window.orderBy($"audit_id")
    // the chain is recursive, so it folds on the driver over the (small,
    // ordered) audit rows; the window form below verifies link-locally
    val rows = audit.orderBy($"audit_id").collect()
    var prev = GenesisHash
    val hashed = rows.map { r =>
      val h = entryHash(
        r.getAs[String]("event_time"), r.getAs[String]("event_type"),
        r.getAs[String]("user_name"), r.getAs[String]("action"),
        r.getAs[Boolean]("success"), prev)
      val out = (r.getAs[Long]("audit_id"), prev, h)
      prev = h
      out
    }
    val hdf = audit.sparkSession.createDataFrame(hashed.toSeq)
      .toDF("audit_id", "previous_hash", "entry_hash")
    audit.join(hdf, "audit_id")
  }

  /** Verify chain integrity: recompute each row's hash from its fields +
    * the lag of entry_hash; report mismatches (`audit/integrity.py:157-239`).
    * A repeated audit_id is reported as `duplicate_id` — a forked chain
    * from concurrent appenders that evaded the append lock, which is a
    * DIFFERENT failure than after-the-fact edits (the lag over the
    * id-ordered window is nondeterministic among ties, so without the
    * distinction a fork would read as tampering). */
  def verifyChain(audit: DataFrame): DataFrame = {
    import audit.sparkSession.implicits._
    // Deterministic, fork-tolerant linkage: a row is chain-linked iff its
    // previous_hash equals the entry_hash of SOME row carrying the
    // preceding audit_id (the first row links to the genesis hash). The
    // former lag over an id-ordered window was nondeterministic when a
    // concurrent-append fork duplicated an id: the forked pair's
    // SUCCESSOR chained from one specific arm, and whenever the lag
    // happened to surface the other arm it was reported TAMPERED though
    // nothing was edited. Tamper detection is separate: the entry hash
    // must be consistent with the row's own content and its claimed
    // predecessor hash — editing content, deleting a row (the successor
    // loses its link target), or splicing in a forged row all still fail.
    val links = audit.select(($"audit_id" + 1L).as("link_id"),
      $"entry_hash".as("link_hash")).distinct()
    audit
      .withColumn("duplicate_id",
        count(lit(1)).over(Window.partitionBy($"audit_id")) > 1)
      .join(links, $"audit_id" === $"link_id" &&
        $"previous_hash" === $"link_hash", "left")
      .withColumn("link_ok", $"link_hash".isNotNull ||
        ($"audit_id" === 1L && $"previous_hash" === lit(GenesisHash)))
      .withColumn("recomputed", entryHashUdf(
        $"event_time", $"event_type", $"user_name", $"action", $"success",
        $"previous_hash"))
      // content_ok separates the two failure stories a consumer needs
      // to tell apart (`integrity.py:14-18` vocabulary): an edited row
      // (hash_mismatch — the recomputed hash disagrees) vs a broken
      // LINK (chain_broken — the claimed predecessor is gone or forked,
      // the row's own content verifies)
      .withColumn("content_ok", $"recomputed" === $"entry_hash")
      .withColumn("chain_valid",
        !$"duplicate_id" && $"link_ok" && $"content_ok")
      .drop("link_id", "link_hash", "link_ok", "recomputed")
  }
}
