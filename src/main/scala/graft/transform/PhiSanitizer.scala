package graft.transform

import scala.util.matching.Regex

/** PHI header sanitization (SURVEY §2.9 — `phi/header_sanitizer.py` +
  * `phi/patterns.py`): regex redaction of identifying strings from VCF
  * header lines. Driver-side string work (headers are small); the same
  * patterns are usable as `regexp_replace` columns if PHI could appear in
  * data rows. Pattern set mirrors the reference's built-ins
  * (`phi/patterns.py:48-200`, all 18): SSN, MRN, patient ids, emails,
  * phone/fax numbers, DOB markers, date literals, card numbers, IPs,
  * unix/windows home paths, hospital names, name/address fields, device
  * serials, accession ids.
  */
object PhiSanitizer {

  final case class Redaction(pattern: String, category: String)

  /** One detection pattern with the reference registry's metadata
    * (`phi/patterns.py:16-42` PHIPattern: name, compiled regex, severity
    * in {critical,high,medium,low}, free-text description). Regex is
    * java-serializable so pattern seqs ride into executor closures for
    * distributed data-row scans. */
  final case class PhiPattern(
      name: String, regex: Regex, severity: String, description: String)

  /** The reference's closed severity vocabulary
    * (`phi/patterns.py:26-28` __post_init__ validation). */
  val Severities: Seq[String] = Seq("critical", "high", "medium", "low")

  /** Builtin registry mirroring `phi/patterns.py:48-200` BUILTIN_PATTERNS
    * (severity + description carried verbatim; names keep this repo's
    * established categories, e.g. patient_id for the reference's
    * mrn_prefixed). */
  val BuiltinRegistry: Seq[PhiPattern] = Seq(
    PhiPattern("ssn", """\b\d{3}-\d{2}-\d{4}\b""".r, "critical",
      "Social Security Number pattern (XXX-XX-XXXX)"),
    PhiPattern("mrn", """\b(?:MRN|mrn)[:\s]?\d+\b""".r, "critical",
      "Medical Record Number"),
    PhiPattern("patient_id",
      """(?i)\b(?:patient|subject|case)[_-]?(?:id|num(?:ber)?)[:\s=]?\S+""".r,
      "critical", "Patient/subject identifier pattern"),
    PhiPattern("email",
      """\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b""".r,
      "high", "Email address"),
    PhiPattern("phone",
      """\b(?:\+1[-.\s]?)?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}\b""".r,
      "high", "Phone number (US format)"),
    PhiPattern("dob",
      """(?i)\b(?:dob|date[_\s]?of[_\s]?birth|birth[_\s]?date)[:\s=]?\S+""".r,
      "critical", "Date of birth field"),
    PhiPattern("date_us",
      """\b(?:0?[1-9]|1[0-2])/(?:0?[1-9]|[12]\d|3[01])/(?:19|20)\d{2}\b""".r,
      "medium", "Date in MM/DD/YYYY format"),
    PhiPattern("date_iso",
      """\b(?:19|20)\d{2}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01])\b""".r,
      "low", "Date in YYYY-MM-DD format"),
    PhiPattern("ip",
      """\b(?:(?:25[0-5]|2[0-4]\d|[01]?\d\d?)\.){3}(?:25[0-5]|2[0-4]\d|[01]?\d\d?)\b""".r,
      "medium", "IPv4 address"),
    PhiPattern("home_path", """/(?:home|Users)/[a-zA-Z][a-zA-Z0-9._-]*/""".r,
      "medium", "Unix/macOS home directory path"),
    PhiPattern("accession", """(?i)\b(?:accession|acc)[:\s=]?\S+""".r,
      "high", "Accession number (may link to patient)"),
    PhiPattern("credit_card",
      """\b(?:4\d{3}|5[1-5]\d{2}|6011|3[47]\d{2})[-\s]?\d{4}[-\s]?\d{4}[-\s]?\d{4}\b""".r,
      "critical", "Credit card number pattern"),
    PhiPattern("home_path_windows",
      """[A-Z]:\\Users\\[a-zA-Z][a-zA-Z0-9._-]*\\""".r,
      "medium", "Windows home directory path"),
    PhiPattern("institution_hospital",
      ("""(?i)\b(?:Mayo\s+Clinic|Johns\s+Hopkins|MGH|Massachusetts\s+General|""" +
        """Cleveland\s+Clinic|MD\s+Anderson|Memorial\s+Sloan|Stanford\s+(?:Health|Hospital|Medicine)|""" +
        """UCSF|UCLA\s+Health|Mount\s+Sinai|NYU\s+Langone|Cedars[-\s]Sinai)\b""").r,
      "medium", "Major hospital/institution name"),
    PhiPattern("name_field",
      ("""(?i)\b(?:patient[_\s]?name|full[_\s]?name|first[_\s]?name|last[_\s]?name|""" +
        """given[_\s]?name|family[_\s]?name|surname)[:\s=]?\S+""").r,
      "critical", "Name field identifier"),
    PhiPattern("address_field",
      """(?i)\b(?:street|address|city|state|zip[_\s]?code|postal)[:\s=]?\S+""".r,
      "high", "Address component field"),
    PhiPattern("fax", """(?i)\b(?:fax|facsimile)[:\s=]?\S+""".r,
      "high", "Fax number field"),
    PhiPattern("device_id",
      """(?i)\b(?:device[_\s]?(?:id|serial)|serial[_\s]?(?:number|num|no))[:\s=]?\S+""".r,
      "medium", "Device identifier or serial number"))

  val BuiltinPatterns: Seq[(Regex, String)] =
    BuiltinRegistry.map(p => (p.regex, p.name))

  /** severity for a detection category; custom patterns resolve through
    * the seq passed at scan time, so lookup takes the active registry */
  def severityOf(category: String, registry: Seq[PhiPattern]): String =
    registry.find(_.name == category).map(_.severity).getOrElse("high")

  /** Merge custom patterns over the builtins NAME-KEYED, custom wins —
    * the reference's registry is a name-keyed dict where add_pattern
    * last-wins (`phi/patterns.py` PHIPatternRegistry), so a custom
    * pattern reusing a builtin name REPLACES the builtin: exactly one
    * regex runs per category and `severityOf` resolves to the custom
    * severity instead of the shadowed builtin's. */
  def mergedRegistry(custom: Seq[PhiPattern]): Seq[PhiPattern] = {
    val names = custom.map(_.name).toSet
    BuiltinRegistry.filterNot(p => names(p.name)) ++ custom
  }

  /** ID= values whose lines are never redacted (genome provenance, not
    * PHI) — the reference's `preserve_fields`
    * (`phi/header_sanitizer.py:26,166-169`). Every other `##` meta line is
    * scanned, including INFO/FORMAT/FILTER Descriptions: PHI embedded in a
    * Description (home paths, emails, patient ids) must not pass through.
    */
  val PreserveIdFields: Seq[String] = Seq("reference", "assembly")

  final case class SanitizedHeader(lines: Seq[String], redactions: Seq[Redaction])

  private val CommandLineQuoted = """CommandLine="[^"]*"""".r
  private val CommandLineAngled = """CommandLine=<[^>]*>""".r

  // preserve only when the EXACT field id is reference/assembly — a
  // word-boundary match, not a substring test: the reference's
  // `f"id={key}" in line.lower()` (`header_sanitizer.py:166-168`) lets
  // '##INFO=<ID=ReferenceBias,Description="...jsmith@hospital.org...">'
  // skip sanitization entirely because 'id=referencebias' CONTAINS
  // 'id=reference'. Deliberate tightening: substring-preserve is a PHI
  // leak, not a semantics choice.
  private val PreserveIdRe =
    ("(?i)id=(" + PreserveIdFields.mkString("|") + ")\\b").r
  private val PreservedTokenRe =
    ("(?i)\\b(" + PreserveIdFields.mkString("|") + ")\\b").r

  def sanitizeLine(line: String): (String, Seq[Redaction]) = {
    // only ## meta lines are sanitized (`header_sanitizer.py:129-137`)
    if (!line.startsWith("##")) (line, Nil)
    else {
      // CommandLine is wholesale-redacted first (`:149-163`) — but the
      // REST of the line (and a bare unquoted CommandLine value the two
      // shapes miss) still goes through the builtin patterns below: the
      // reference returns early here, leaving e.g.
      // '##source_CommandLine=bwa /home/jsmith MRN:12345' fully intact.
      // Deliberate tightening: an early return on a partial redaction is
      // a PHI leak.
      var out = line
      val hits = scala.collection.mutable.ArrayBuffer[Redaction]()
      if (line.contains("CommandLine")) {
        out = CommandLineQuoted.replaceAllIn(out, "CommandLine=\"[REDACTED]\"")
        out = CommandLineAngled.replaceAllIn(out, "CommandLine=<[REDACTED]>")
        if (out != line) hits += Redaction("CommandLine", "commandline")
      }
      // preserve skips only the pattern scan (never the CommandLine
      // redaction above)
      if (PreserveIdRe.findFirstIn(out).isDefined) (out, hits.toSeq)
      else {
        BuiltinPatterns.foreach { case (re, cat) =>
          val matches = re.findAllIn(out).toSeq
            .filterNot(m => PreservedTokenRe.findFirstIn(m).isDefined)
          if (matches.nonEmpty) {
            matches.foreach { m =>
              hits += Redaction(m, cat)
              out = out.replace(m, "[REDACTED]")
            }
          }
        }
        (out, hits.toSeq)
      }
    }
  }

  def sanitizeHeader(lines: Seq[String]): SanitizedHeader = {
    val results = lines.map(sanitizeLine)
    SanitizedHeader(results.map(_._1), results.flatMap(_._2))
  }

  // ---- scan-only surface (no rewriting) ----
  // The reference's PHI *scanner* (`phi/detector.py:160-214`) covers more
  // than the header sanitizer: ## meta lines, the #CHROM line's sample
  // names (each scanned as SAMPLE_ID[i]) and sampled data rows (ID, INFO,
  // FORMAT and per-sample columns). MRN-style sample ids or embedded
  // emails/dates in INFO must be detectable, not just header text.

  /** Detection with the reference detector's full envelope
    * (`phi/detector.py:99-125` scan_value): the 1-based source line
    * number and a ±20-char context window with ellipses. The scan faces
    * that report per-detection locations (phi-scan text + --json) run on
    * this, and so does the load gate. */
  final case class DetectionAt(value: String, category: String,
      location: String, line: Long, context: String)

  /** The reference's masked_value (`detector.py:31-37`): values of <=4
    * chars mask wholesale; longer keep first/last 2 chars. */
  def maskValue(v: String): String =
    if (v.length <= 4) "***"
    else v.take(2) + "*" * (v.length - 4) + v.takeRight(2)

  def scanValueAt(value: String, location: String, lineNo: Long,
      patterns: Seq[(Regex, String)]): Seq[DetectionAt] =
    patterns.flatMap { case (re, cat) =>
      re.findAllMatchIn(value).toSeq
        .filterNot(m => PreservedTokenRe.findFirstIn(m.matched).isDefined)
        .map { m =>
          val s = math.max(0, m.start - 20)
          val e = math.min(value.length, m.end + 20)
          DetectionAt(m.matched, cat, location, lineNo,
            (if (s > 0) "..." else "") + value.substring(s, e) +
              (if (e < value.length) "..." else ""))
        }
    }

  /** Line-numbered detector-parity header scan (`detector.py:168-186`):
    * ## meta lines run the full merged pattern set (preserve-field lines
    * skipped, as in sanitizeLine); the #CHROM line's sample names scan
    * individually as SAMPLE_ID[i]. Unlike the SANITIZER's header pass
    * there is no wholesale-CommandLine category — the reference's
    * detector scans header lines with patterns only, and the sanitize
    * verb still redacts CommandLine wholesale. */
  def scanHeaderLineAt(line: String, lineNo: Long,
      patterns: Seq[(Regex, String)]): Seq[DetectionAt] =
    if (line.startsWith("##")) {
      if (PreserveIdRe.findFirstIn(line).isDefined) Nil
      else scanValueAt(line, "HEADER", lineNo, patterns)
    } else if (line.startsWith("#CHROM")) {
      val parts = line.split("\t", -1)
      if (parts.length <= 9) Nil
      else parts.drop(9).toSeq.zipWithIndex.flatMap { case (s, i) =>
        scanValueAt(s, s"SAMPLE_ID[$i]", lineNo, patterns)
      }
    } else Nil

  /** One data row's PHI-bearing fields: ID, INFO, FORMAT and sample
    * columns (`detector.py:196-214`). */
  def scanDataLineAt(line: String, lineNo: Long,
      patterns: Seq[(Regex, String)]): Seq[DetectionAt] = {
    val p = line.split("\t", -1)
    if (line.startsWith("#") || p.length < 8) Nil
    else {
      val id =
        if (p(2) != ".") scanValueAt(p(2), "ID", lineNo, patterns) else Nil
      val info =
        if (p(7) != ".") scanValueAt(p(7), "INFO", lineNo, patterns) else Nil
      val fmt =
        if (p.length > 8) scanValueAt(p(8), "FORMAT", lineNo, patterns)
        else Nil
      val samples =
        if (p.length > 9) p.drop(9).toSeq.zipWithIndex.flatMap { case (s, i) =>
          scanValueAt(s, s"SAMPLE[$i]", lineNo, patterns)
        } else Nil
      id ++ info ++ fmt ++ samples
    }
  }
}
