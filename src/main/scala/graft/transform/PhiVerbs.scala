package graft.transform

import org.apache.spark.sql.SparkSession

import graft.Graft.{arg, customPhiPatterns, has, operand, patternsConfigArg}
import graft.Json
import graft.sinks.DbFs

/** The `phi-*` verbs (`cli.py:5377-5880`): scan or sanitize a VCF
  * without loading it, report what a load's scan found, and manage the
  * custom pattern registry. Detection is [[PhiSanitizer]]'s
  * line-numbered face, the one `load --phi-scan` also runs. */
object PhiVerbs {

  /** Standalone scan (`cli.py:5465-5507` phi_scan + `:5651-5746`
    * phi_detect): PHI in headers, sample names and data rows, WITHOUT
    * loading. A report, not a gate — exit stays zero (load's
    * --fail-on-phi is the enforcing face). Sampling knobs match
    * phi_detect's defaults: --sample-rate 1.0, --max-records unset =
    * every record (`detector.py:159-195` — max_records caps the SCANNED
    * count and the rate draw filters per record). Unlike the reference's
    * driver-side line loop, the data-row sweep is a distributed flatMap
    * + groupBy — a full-file scan must not collect the file to the
    * driver. */
  def scan(spark: SparkSession, args: Array[String], db: String): Unit = {
    import spark.implicits._
    val vcf = operand(args, "phi-scan")
    // DbFs, not java.io: load accepts scheme-addressed VCFs through
    // Hadoop IO, so the scan face accepts the same inputs
    if (!DbFs.exists(vcf))
      sys.error(s"VCF file not found: $vcf")
    val sampleRate = arg(args, "--sample-rate").map(_.toDouble).getOrElse(1.0)
    if (sampleRate <= 0.0 || sampleRate > 1.0)
      sys.error(s"--sample-rate must be in (0.0, 1.0]: $sampleRate")
    val maxRecords = arg(args, "--max-records").map(_.toInt)
    // output + coverage knobs matching phi detect (`cli.py:5659-5663`)
    val jsonOut = has(args, "--json")
    val scanHeaders = !has(args, "--no-scan-headers")
    // custom registry: explicit --patterns-config, else the per-db
    // registry phi-patterns-add writes (when a --db was given) — the
    // reference persists to a config file the later scan loads
    // (`cli.py:5857+`, `patterns.py:224-240`); name-keyed merge, custom
    // wins
    val registry = PhiSanitizer.mergedRegistry(customPhiPatterns(args, db,
      consultDbRegistry = arg(args, "--db").isDefined))
    val allPats = registry.map(p => (p.regex, p.name))
    // detector-parity envelope (`detector.py:99-125,160-214`): every
    // detection carries its 1-based file line, ±20-char context and a
    // masked value — both the text face and --json render from it
    val headerLines = graft.vcf.VcfHeader.readHeaderLines(spark, vcf)
    val headerFindings: Seq[PhiSanitizer.DetectionAt] =
      if (!scanHeaders) Nil
      else headerLines.zipWithIndex.flatMap { case (l, i) =>
        PhiSanitizer.scanHeaderLineAt(l, i + 1L, allPats)
      }
    val nHeader = headerLines.length
    val data = spark.read.textFile(vcf).filter(!$"value".startsWith("#"))
    val recordsTotal = data.count()
    // data rows carry their file line number (headers all precede data
    // in a VCF, so header count + 0-based data index + 1 is the 1-based
    // file line) — zipWithIndex is one extra cheap distributed pass
    val dataAt = spark.createDataset(data.rdd.zipWithIndex().map {
      case (v, i) => (v, nHeader + i + 1) })
    // rate draw first, then the scanned-count cap — the reference's
    // per-record order; seed fixed so reruns see the same sample
    // (documented deviation from random.random())
    val drawn =
      if (sampleRate < 1.0) dataAt.sample(withReplacement = false, sampleRate, 42L)
      else dataAt
    // DETECTIONS are cached, not the sampled text: the regex sweep is the
    // dominant cost and three consumers follow (count, category summary,
    // first-findings) — without the cache each would re-run every pattern
    val sampled = maxRecords.map(drawn.limit).getOrElse(drawn)
    val detections = sampled.flatMap { case (l, ln) =>
      PhiSanitizer.scanDataLineAt(l, ln, allPats) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val recordsScanned = sampled.count()
      val dataSummary = detections.groupBy($"category").count()
        .as[(String, Long)].collect().toMap
      // the per-detection list is driver-bounded: the text face prints
      // 10, the JSON face carries up to 1000 (summary/severity stay
      // exact); the reference collects everything, single-node anyway
      val dataFirst = detections.take(if (jsonOut) 1000 else 10).toSeq
      val summary = (headerFindings.map(_.category -> 1L) ++ dataSummary)
        .groupMapReduce(_._1)(_._2)(_ + _)
      val nFindings = summary.values.sum
      val sevCounts = summary.toSeq
        .groupBy { case (c, _) => PhiSanitizer.severityOf(c, registry) }
        .map { case (s, xs) => s -> xs.map(_._2).sum }
      // the reference's risk_level (`detector.py:67-77`): worst severity
      // present, 'none' on a clean scan
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
            s""""severity":${Json.str(PhiSanitizer.severityOf(d.category, registry))},""" +
            s""""location":${Json.str(d.location)},"line":${d.line},""" +
            s""""masked_value":${Json.str(PhiSanitizer.maskValue(d.value))},""" +
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
            PhiSanitizer.maskValue(f.value)))
        if (nFindings > 10)
          println(s"  ... and ${nFindings - 10} more")
      }
    } finally detections.unpersist()
  }

  /** `phi sanitize` (`cli.py:5510-5573`): a copy of the VCF with
    * PHI-bearing header lines redacted; data lines stream through
    * unchanged. --preview lists the planned redactions without writing.
    * Driver-side streaming IO over one file — the same single-node shape
    * as the reference (a file utility, not a table operator). */
  def sanitize(spark: SparkSession, args: Array[String]): Unit = {
    val vcf = operand(args, "phi-sanitize")
    // DbFs, not java.io: same scheme-addressed input contract as load
    if (!DbFs.exists(vcf))
      sys.error(s"VCF file not found: $vcf")
    val conf = spark.sparkContext.hadoopConfiguration
    val inPath = new org.apache.hadoop.fs.Path(vcf)
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    val raw = inPath.getFileSystem(conf).open(inPath)
    val r = new java.io.BufferedReader(new java.io.InputStreamReader(
      Option(codecs.getCodec(inPath))
        .map(_.createInputStream(raw): java.io.InputStream).getOrElse(raw),
      "UTF-8"))
    val lines = Iterator.continually(r.readLine()).takeWhile(_ != null)
    try {
      if (has(args, "--preview")) {
        val reds = lines.takeWhile(_.startsWith("#"))
          .flatMap(l => PhiSanitizer.sanitizeLine(l)._2).toSeq
        reds.take(20).foreach(red => println(s"  [${red.category}] ${red.pattern}"))
        if (reds.length > 20) println(s"  ... and ${reds.length - 20} more")
        println(s"Items to sanitize: ${reds.length}")
        return
      }
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
          new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, "UTF-8"))
        case None =>
          // Console.out, not System.out: test capture and the reference's
          // stdout semantics both want the VERB's stdout
          new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(Console.out, "UTF-8"))
      }
      var removed = 0
      var inHeader = true
      try lines.foreach { line =>
        inHeader &&= line.startsWith("#")
        val (s, reds) =
          if (inHeader) PhiSanitizer.sanitizeLine(line) else (line, Nil)
        removed += reds.length
        w.write(s); w.newLine()
      } finally {
        // stdout stays open for the session — flush, never close it
        if (outPath.isDefined) w.close() else w.flush()
      }
      outPath.foreach { p =>
        println(s"Sanitized VCF written to $p")
        println(s"Removed $removed PHI item(s)")
      }
    } finally r.close()
  }

  /** `phi report <batch-id>` (`cli.py:5575+`): what the PHI scan found
    * during that load — the ledger row's note, where the load records
    * the scan outcome and/or the header-sanitization clause. */
  def report(spark: SparkSession, args: Array[String], db: String): Unit = {
    val batchId = operand(args, "phi-report")
    val row = new graft.audit.Audit.Ledger(spark, s"$db/ledger")
      .latestFor(batchId)
      .getOrElse(sys.error(s"Load batch not found: $batchId"))
    println(s"batch $batchId (${row.file_path}): " +
      (if (row.note.startsWith("phi_scan") ||
           row.note.contains("header_sanitization")) row.note
       else "no PHI scan recorded (load ran without --phi-scan)"))
  }

  /** `phi stats` (`cli.py:5377+`): vault size (distinct anonymized ids)
    * and the completed loads' scan notes. */
  def stats(spark: SparkSession, db: String): Unit = {
    import spark.implicits._
    val vaultDir = s"$db/phi_vault/sample_id_mapping"
    val nAnon =
      if (DbFs.exists(vaultDir))
        spark.read.parquet(vaultDir).select($"anon_id").distinct().count()
      else 0L
    println(s"anonymized_sample_ids=$nAnon")
    val notes = new graft.audit.Audit.Ledger(spark, s"$db/ledger").completed()
      .map(_.note).filter(_.startsWith("phi_scan"))
    val clean = notes.count(_ == "phi_scan: clean")
    println(s"loads_scanned=${notes.length} clean=$clean " +
      s"with_findings=${notes.length - clean}")
  }

  /** `phi patterns list` (`cli.py:5749-5793`): the ACTIVE registry —
    * builtins merged with any custom registry file, custom winning by
    * name; --severity filters like get_patterns_by_severity. */
  def patternsList(args: Array[String], db: String): Unit = {
    val all = PhiSanitizer.mergedRegistry(customPhiPatterns(args, db,
      consultDbRegistry = arg(args, "--db").isDefined))
    val wanted = arg(args, "--severity") match {
      case Some(s) =>
        if (!PhiSanitizer.Severities.contains(s))
          sys.error(s"Invalid severity: $s. Must be one of: " +
            PhiSanitizer.Severities.mkString(", "))
        all.filter(_.severity == s)
      case None    => all
    }
    println(s"PHI detection patterns (${wanted.length} total)")
    wanted.sortBy(p => (p.severity, p.name)).foreach { p =>
      println(s"${p.severity}\t${p.name}\t${p.regex.pattern}\t${p.description}")
    }
  }

  /** `phi patterns add` (`cli.py:5823-5880`): persist a user-defined
    * pattern into a TOML registry consumed by later scans, validated
    * (severity vocabulary, regex compile) before anything is written.
    * The registry defaults to the per-db phi_patterns.toml, so
    * `phi-scan --db` and `load --phi-scan` pick it up without an extra
    * flag (the reference's default is ./phi_patterns.toml + an explicit
    * --config on the scan). */
  def patternsAdd(args: Array[String], db: String): Unit = {
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
    PhiPatternRegistry.append(cfg, name, pattern, severity, description,
      caseInsensitive = has(args, "--ignore-case"))
    println(s"Pattern '$name' added to $cfg")
  }

  /** `phi patterns test` (`cli.py:5796-5830`): compile a user regex and
    * report its matches in the input; invalid patterns fail with the
    * compile error. */
  def patternsTest(args: Array[String]): Unit = {
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
  }
}
