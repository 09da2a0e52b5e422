package graft.audit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Graft.{arg, has, operand}
import graft.Json

/** The `audit-*` verbs over the chained operation log (`cli.py:2422-2636`,
  * `audit/integrity.py`): verify the chain, export it as a checksummed
  * backup, verify such a backup offline, and per-verb statistics. The
  * log is read through [[Audit.AuditLog.read]], not a bare parquet read:
  * a crash between the lock-file creation and the first append leaves a
  * directory holding only the `.append.lock` dotfile. */
object AuditVerbs {

  /** An inclusive date window on entries' event dates. `event_time` is
    * an ISO-8601 instant, so its first 10 chars are the UTC date and
    * string order IS date order. */
  private final case class DateWindow(start: Option[String], end: Option[String]) {
    def isEmpty: Boolean = start.isEmpty && end.isEmpty
    def contains(eventTime: String): Boolean = isEmpty || eventTime != null && {
      val d = eventTime.take(10)
      start.forall(d >= _) && end.forall(d <= _)
    }
    /** ISO 8601-2's interval form, an open bound left empty
      * (`2026-08-11..`) — ASCII, so any stdout encoding prints it. */
    def span: String = s"${start.getOrElse("")}..${end.getOrElse("")}"
  }

  /** The window two flags name, both YYYY-MM-DD, rejected before any
    * work when malformed. */
  private def dateWindow(args: Array[String], startFlag: String,
                         endFlag: String): DateWindow = {
    val w = DateWindow(arg(args, startFlag), arg(args, endFlag))
    (w.start.toSeq ++ w.end).foreach { d =>
      if (!d.matches("""\d{4}-\d{2}-\d{2}"""))
        sys.error(s"$startFlag/$endFlag must be YYYY-MM-DD: $d")
    }
    w
  }

  private def log(spark: SparkSession, db: String) =
    new Audit.AuditLog(spark, s"$db/audit_log").read()

  /** `audit verify`: recompute every entry's hash against its
    * predecessor's; any mismatch means the log was edited after the
    * fact, and exits nonzero. `--start-date`/`--end-date` window the
    * REPORT on event dates (optional here where the reference requires
    * them — unwindowed = whole log). The chain is verified WHOLE and the
    * verdicts then windowed: each in-window entry's verdict matches the
    * reference's seeded-subchain walk (`integrity.py:157-244`), and
    * whole-log verification is strictly stronger. `--json` emits the
    * IntegrityReport dict shape (`integrity.py:52-73`). */
  def verify(spark: SparkSession, args: Array[String], db: String): Unit = {
    import spark.implicits._
    val w = dateWindow(args, "--start-date", "--end-date")
    val json = has(args, "--json")
    val auditDf = log(spark, db)
    val empty = auditDf.isEmpty
    // an empty log reports zero entries, valid, on the JSON face
    if (empty && !json) { println("no audit log"); return }
    val checked =
      if (empty) Array.empty[org.apache.spark.sql.Row]
      else Audit.verifyChain(auditDf)
        .select($"audit_id", $"event_type", $"event_time", $"chain_valid",
          $"duplicate_id", $"entry_hash", $"content_ok")
        .orderBy($"audit_id")
        .collect()
        .filter(r => w.contains(r.getString(2)))
    val bad = checked.filterNot(_.getAs[Boolean]("chain_valid"))
    if (json) {
      // violation vocabulary per `integrity.py:14-18`: an EDITED entry
      // (its recomputed hash disagrees with the stored one) is a
      // hash_mismatch; a fork or a missing predecessor — the row's own
      // content verifies but its link does not — is a chain_broken;
      // capped at 100 like to_dict
      val viol = bad.take(100).map { r =>
        val (status, msg) =
          if (!r.getAs[Boolean]("content_ok")) ("hash_mismatch",
            "entry hash does not verify against content and predecessor")
          else if (r.getAs[Boolean]("duplicate_id")) ("chain_broken",
            "duplicate audit_id (concurrent append fork)")
          else ("chain_broken",
            "no predecessor entry carries the claimed previous_hash " +
              "(deleted or spliced-out entry)")
        s"""{"audit_id":${r.getLong(0)},"event_time":${Json.str(r.getString(2))},""" +
          s""""status":${Json.str(status)},"message":${Json.str(msg)}}"""
      }.mkString("[", ",", "]")
      println(s"""{"start_date":${w.start.orElse(checked.headOption.map(
          _.getString(2).take(10))).map(Json.str(_)).getOrElse("null")},""" +
        s""""end_date":${w.end.orElse(checked.lastOption.map(
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
    } else if (bad.isEmpty) {
      val windowNote = if (w.isEmpty) "" else s" in window ${w.span}"
      println(s"audit chain ok (${checked.length} entries$windowNote)")
    } else
      // failure stories named distinctly: an edited row (TAMPERED), a
      // concurrent-append fork (operational race, not an edit), and a
      // deleted/spliced-out predecessor (CHAIN BREAK)
      bad.foreach { r =>
        val label =
          if (!r.getAs[Boolean]("content_ok")) "TAMPERED"
          else if (r.getAs[Boolean]("duplicate_id")) "CONCURRENT APPEND"
          else "CHAIN BREAK"
        println(s"$label: audit_id=${r.getLong(0)} " +
          s"${r.getString(1)} at ${r.getString(2)}")
      }
    if (bad.nonEmpty)
      sys.error(s"audit chain verification FAILED: ${bad.length} bad entries")
  }

  /** `audit export` (`integrity.py:254-308`): the chained log as ONE
    * JSON document with integrity metadata (entry_count, first/last
    * hash, content checksum), so `audit-verify-backup` can prove the
    * file untampered offline. `--start`/`--end` window the export on
    * the entries' event dates — the reference's created_date range
    * (`integrity.py:270-279`); metadata carries the window and the
    * checksum covers the exported entries, so a windowed backup
    * verifies the same way. */
  def exportLog(spark: SparkSession, args: Array[String], db: String): Unit = {
    import spark.implicits._
    val out = operand(args, "audit-export")
    val w = dateWindow(args, "--start", "--end")
    val exportDf = log(spark, db)
    if (exportDf.isEmpty) { println("no audit log"); return }
    val entries = exportDf.orderBy($"audit_id")
      .select($"audit_id", $"event_time", $"event_type", $"user_name",
        $"action", $"success", $"previous_hash", $"entry_hash")
      .collect() // audit-sized
      .filter(r => w.contains(r.getString(1)))
      .map(r => Audit.BackupEntry(r.getLong(0),
        r.getString(1), r.getString(2), r.getString(3), r.getString(4),
        r.getBoolean(5), r.getString(6), r.getString(7)))
      .toSeq
    Audit.writeBackup(entries, out, w.start, w.end)
    val windowNote = if (w.isEmpty) "" else s" (window ${w.span})"
    println(s"exported ${entries.length} audit entries to $out$windowNote")
  }

  /** `audit verify-backup` (`cli.py:2577-2633`): check an exported
    * backup file against its embedded checksums; nonzero exit on
    * mismatch. */
  def verifyBackup(args: Array[String]): Unit = {
    val path = operand(args, "audit-verify-backup")
    if (!new java.io.File(path).exists()) sys.error(s"File not found: $path")
    val (ok, message) = Audit.verifyBackupFile(path)
    if (ok) println(message)
    else sys.error(s"Backup verification failed: $message")
  }

  /** `audit stats` (`cli.py:2636+`): per-verb counts + time range. */
  def stats(spark: SparkSession, db: String): Unit = {
    import spark.implicits._
    val statsDf = log(spark, db)
    if (statsDf.isEmpty) println("no audit log")
    else statsDf
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when($"success", 1L).otherwise(0L)).as("n_success"),
        min($"event_time").as("first_event"),
        max($"event_time").as("last_event"))
      .orderBy($"event_type")
      .show(100, truncate = false)
  }
}
