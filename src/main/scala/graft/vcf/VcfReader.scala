package graft.vcf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.CompiledTransform
import graft.qc.VariantQc
import graft.transform.{Annotations, Normalizer}

/** Distributed VCF scan (reference operator S1/S8 — `vcf_parser.py:520-657`).
  *
  * Spark-first shape: `spark.read.text` (works for plain and bgzip/gzip via
  * the Hadoop codec stack) → filter header lines → split the TSV columns →
  * `posexplode` the ALT list (multi-allelic decomposition, T1) → per-ALT
  * Number=A/R/G INFO slicing (T2–T4) driven by driver-parsed header
  * metadata → optional vt-normalization (T5) → CSQ/ANN worst-consequence
  * annotation extraction (T6) → imputation metrics (T11).
  *
  * Everything after the text scan is a single narrow projection: no
  * shuffle, fully whole-stage-codegen'd end to end (normalization is a
  * native expression — see functions/NormalizeExpression). On a
  * cluster the text scan parallelizes per input split; for .gz files each
  * file is one split, so many-file cohorts parallelize per file (the usual
  * layout at scale).
  */
object VcfReader {

  final case class Options(
      normalize: Boolean = false,
      humanGenome: Boolean = true,
      /** minimac4 | beagle | impute2 | auto | unknown (auto = header sniff). */
      imputationSource: String = "auto",
      minInfoScore: Option[Double] = None,
      /** Drop body lines that don't parse as variants (missing columns,
        * non-numeric POS, empty REF) instead of surfacing null-field rows
        * — mirrors the reference's malformed-input tolerance
        * (`tests/unit/test_malformed_vcf.py`). */
      skipMalformed: Boolean = true)

  /** The fixed body columns of any VCF line. */
  /** T8 chromosome normalization (`vcf_parser.py:303-307`), shared by the
    * variants and genotypes scans so the two tables always join. The chr
    * prefix strip is case-INSENSITIVE ('Chr17'/'CHR17' → 'chr17' — mixed
    * case occurs in the wild; a case-sensitive strip would mint a
    * 'chrChr17' partition disjoint from 'chr17'). */
  private def normalizedChrom(humanGenome: Boolean): Column =
    if (humanGenome)
      concat(lit("chr"), regexp_replace(col("chrom_raw"), "(?i)^chr", ""))
    else col("chrom_raw")

  private def baseColumns(line: Column): Seq[Column] = {
    val f = split(line, "\t")
    Seq(
      f.getItem(0).as("chrom_raw"),
      f.getItem(1).cast(LongType).as("pos"),
      f.getItem(2).as("id_raw"),
      f.getItem(3).as("ref"),
      f.getItem(4).as("alt_raw"),
      f.getItem(5).as("qual_raw"),
      f.getItem(6).as("filter_raw"),
      f.getItem(7).as("info_raw"),
      f.as("fields"))
  }

  /** Read + decompose a VCF into the variants DataFrame (one row per
    * (site, ALT)), with the reference's fixed column surface (§1.1).
    */
  def variants(spark: SparkSession, path: String,
               opts: Options = Options()): DataFrame = {
    val header = VcfHeader.read(spark, path)
    variantsWithHeader(spark, path, header, opts)
  }

  /** Which of a record's calls the variant-QC fold counts: every call,
    * or only the calls passing ADJ (those an `--adj-filter` load stores). */
  sealed trait QcCalls
  object QcCalls {
    case object All extends QcCalls
    case object Adj extends QcCalls
  }

  /** `variants` over an already-read header. With `qc`, each decomposed
    * record also carries `VariantQc.joinedColumns`, folded from that
    * line's own sample columns — SURVEY A1's per-record form over the
    * record's per-sample GT array, no shuffle: the calls parse with the
    * genotypes scan's per-call expression ([[Call]]) and classify after
    * the same per-ALT remap, so the columns equal
    * `VariantQc.fromGenotypes` over the genotype rows the load stores for
    * the record. Computed before normalization, so a normalized record
    * keeps its QC. */
  def variantsWithHeader(spark: SparkSession, path: String, header: VcfHeaderInfo,
                         opts: Options, qc: Option[QcCalls] = None): DataFrame = {
    import spark.implicits._

    val body = spark.read.text(path)
      .filter(!$"value".startsWith("#") && length($"value") > 0)

    val parsedRaw = body.select(baseColumns($"value"): _*)
    val parsedValid =
      if (opts.skipMalformed)
        parsedRaw.filter($"pos".isNotNull && $"ref".isNotNull && $"ref" =!= "" &&
          $"alt_raw".isNotNull && $"alt_raw" =!= "")
      else parsedRaw

    // the line's calls, parsed once per line (before the ALT explode),
    // one per header sample (an absent trailing column is a null call)
    val n = header.samples.length
    val withCalls = qc.fold(parsedValid) { which =>
      val keys = split($"fields".getItem(8), ":")
      val present = slice($"fields", 10, n)
      val svals = concat(present,
        array_repeat(lit(null).cast(StringType), lit(n) - size(present)))
      parsedValid.withColumn("_calls", CompiledTransform(svals, s => {
        val c = Call(keys, split(s, ":"))
        struct(Seq(c.gt.as("gt"), c.a1.as("a1"), c.a2.as("a2")) ++
          (if (which == QcCalls.Adj) Seq(c.passesAdj.as("adj")) else Nil): _*)
      }))
    }

    val parsed = withCalls
      .withColumn("alts", split($"alt_raw", ","))
      .withColumn("n_alts", size($"alts"))
      // T1 multi-allelic decomposition (`vcf_parser.py:290-388`)
      .select($"*", posexplode($"alts").as(Seq("alt_idx", "alt")))
      .filter($"alt" =!= "" && $"alt" =!= ".")
      .withColumn("info_map",
        when($"info_raw" === "." || $"info_raw" === "",
          map().cast(MapType(StringType, StringType)))
          .otherwise(expr("str_to_map(info_raw, ';', '=')")))
      .withColumn("info", slicedInfoMap(header, $"info_map", $"alt_idx", $"n_alts"))

    val withIdentity = parsed
      // T8 (`vcf_parser.py:303-307`)
      .withColumn("chrom", normalizedChrom(opts.humanGenome))
      .withColumn("rs_id", when($"id_raw" === "." || $"id_raw" === "", null: String)
        .otherwise($"id_raw"))
      .withColumn("qual", when($"qual_raw" === "." || $"qual_raw" === "", lit(null))
        .otherwise($"qual_raw").cast(DoubleType))
      // T9 FILTER split; PASS and '.' both mean "no failed filters"
      // (cyvcf2 surfaces both as None → [] at `vcf_parser.py:334-336`)
      .withColumn("filter",
        when($"filter_raw" === "." || $"filter_raw" === "" || $"filter_raw" === "PASS",
          array().cast(ArrayType(StringType)))
          .otherwise(split($"filter_raw", ";")))

    // T5 vt-normalization, post-decomposition (`vcf_parser.py:311-325`)
    val withNorm =
      if (!opts.normalize)
        withIdentity
          .withColumn("normalized", lit(false))
          .withColumn("original_pos", lit(null).cast(LongType))
          .withColumn("original_ref", lit(null).cast(StringType))
          .withColumn("original_alt", lit(null).cast(StringType))
      else withIdentity
        .withColumn("_norm", Normalizer.normalizeCol($"pos", $"ref", $"alt"))
        .withColumn("normalized", $"_norm.wasNormalized")
        .withColumn("original_pos", when($"normalized", $"pos"))
        .withColumn("original_ref", when($"normalized", $"ref"))
        .withColumn("original_alt", when($"normalized", $"alt"))
        .withColumn("pos", $"_norm.pos")
        .withColumn("ref", $"_norm.ref")
        .withColumn("alt", $"_norm.alt")
        .drop("_norm")

    // T6 CSQ / ANN worst-consequence (`vcf_parser.py:345-376,460-508`)
    val csq = Annotations.csqBest(header.csqFields, $"info_map"("CSQ"), $"alt")
    val ann = Annotations.annBest(header.annFields, $"info_map"("ANN"), $"alt")
    def csqF(name: String): Column = csq.map(Annotations.subField(_, header.csqFields, name))
      .getOrElse(lit(null).cast(StringType))
    def annF(name: String): Column = ann.map(Annotations.subField(_, header.annFields, name))
      .getOrElse(lit(null).cast(StringType))

    val annotated = withNorm
      .withColumn("gene",
        coalesce(csqF("SYMBOL"), annF("Gene_Name"), $"info"("SYMBOL")))
      .withColumn("consequence",
        coalesce(csqF("Consequence"), annF("Annotation"), $"info"("Consequence")))
      .withColumn("impact",
        coalesce(csqF("IMPACT"), annF("Annotation_Impact"), $"info"("IMPACT")))
      .withColumn("hgvs_c", coalesce(csqF("HGVSc"), annF("HGVS.c")))
      .withColumn("hgvs_p", coalesce(csqF("HGVSp"), annF("HGVS.p")))
      .withColumn("transcript", annF("Feature_ID"))
      .withColumn("af_gnomad", $"info"("gnomAD_AF").cast(DoubleType))
      .withColumn("cadd_phred", $"info"("CADD_PHRED").cast(DoubleType))
      .withColumn("clinvar_sig", $"info"("CLNSIG"))
      .withColumn("end_pos", $"info"("END").cast(LongType))
      // T7 classification as a native expression (`normalizer.py:160-180`)
      .withColumn("variant_type",
        when($"alt".startsWith("<") && $"alt".endsWith(">"), "sv")
          .when(length($"ref") === 1 && length($"alt") === 1, "snp")
          .when(length($"ref") =!= length($"alt"), "indel")
          .otherwise("mnp"))

    // T11 imputation metrics (`parsers/imputation.py:172-225`)
    val source =
      if (opts.imputationSource == "auto") header.imputationSource
      else opts.imputationSource
    val withImp = Annotations.withImputationMetrics(annotated, source)

    // F1 info-score pushdown filter (`vcf_parser.py:634-650`): null scores pass
    val filtered = opts.minInfoScore match {
      case Some(min) => withImp.filter($"info_score".isNull || $"info_score" >= min)
      case None      => withImp
    }

    val k = $"alt_idx" + 1
    // per ALT: each call's class after the per-ALT remap; a call an
    // --adj-filter load does not store is not counted (null)
    val withQc = qc.fold(filtered)(which => VariantQc.withCallCounts(filtered,
      CompiledTransform($"_calls", c => {
        val cls = VariantQc.genotypeClass(c.getField("gt"),
          alleleFor(c.getField("a1"), k), alleleFor(c.getField("a2"), k))
        if (which == QcCalls.Adj) when(c.getField("adj"), cls) else cls
      })))

    withQc.select((Seq(
      $"chrom", $"pos", $"end_pos", $"ref", $"alt", $"alt_idx", $"n_alts",
      $"qual", $"filter", $"rs_id", $"info",
      $"gene", $"transcript", $"consequence", $"impact", $"hgvs_c", $"hgvs_p",
      $"af_gnomad", $"cadd_phred", $"clinvar_sig",
      $"variant_type", $"normalized", $"original_pos", $"original_ref", $"original_alt",
      $"info_score", $"imputation_r2", $"is_imputed", $"is_typed", $"imputation_source") ++
      qc.toSeq.flatMap(_ => VariantQc.joinedColumns.map(c => col(c._1)))): _*)
  }

  /** Build the per-ALT-sliced INFO map (T2–T4, `vcf_parser.py:390-458`):
    * Number=A → value[alt_idx]; Number=R → [value[0], value[alt_idx+1]];
    * Number=G → the biallelic likelihood triple
    * [idx 0, alt_idx+1, ((alt_idx+1)(alt_idx+2))/2+(alt_idx+1)].
    * Values stay comma-joined strings inside a MapType(String,String) —
    * the JSONB-parity representation (§1.2); typed access is
    * `element_at(info,'DP').cast(...)`. Single-ALT sites pass through
    * unchanged, as in the reference. Pure map transform — no shuffle, no
    * UDF.
    */
  private[graft] def slicedInfoMap(header: VcfHeaderInfo, infoMap: Column,
                                   altIdx: Column, nAlts: Column): Column = {
    val aKeys = header.infoKeysWithNumber("A")
    val rKeys = header.infoKeysWithNumber("R")
    val gKeys = header.infoKeysWithNumber("G")
    if (aKeys.isEmpty && rKeys.isEmpty && gKeys.isEmpty) infoMap
    else
      // single-ALT sites (the dominant case in real cohorts) pass the
      // map through UNTOUCHED: CaseWhen is lazy, so hoisting the
      // passthrough skips the per-row map_entries → transform →
      // map_from_entries rebuild that the per-entry nAlts guard alone
      // still paid (identical values either way — the inner guard made
      // every entry a passthrough, but rebuilt the map doing it)
      when(nAlts === 1, infoMap).otherwise(
      map_from_entries(transform(map_entries(infoMap), e => {
        val k = e.getField("key")
        val v = e.getField("value")
        val arr = split(v, ",")
        val aVal = element_at(arr, altIdx + 1)
        val rVal = concat_ws(",", element_at(arr, lit(1)), element_at(arr, altIdx + 2))
        // Number=G diploid ordering (VCF spec): genotype (j,k) sits at
        // index k(k+1)/2 + j, so for alt a = altIdx+1 the biallelic
        // triple is {0, a(a+1)/2, a(a+1)/2 + a}. The reference's het
        // term deviates (`vcf_parser.py:449` uses alt_idx+1, i.e. the
        // 1/1 slot for the 2nd+ ALT, while its own hom term applies the
        // triangular formula) — we follow the spec; its tests never
        // exercise a multi-allelic Number=G field.
        val gHetIdx = (((altIdx + 1) * (altIdx + 2)).cast(DoubleType) / 2)
          .cast(IntegerType) + 1 // +1: element_at is 1-based
        val gAltAltIdx = gHetIdx + (altIdx + 1)
        val gVal = concat_ws(",", element_at(arr, lit(1)), element_at(arr, gHetIdx),
          element_at(arr, gAltAltIdx))
        val sliced =
          when(nAlts === 1, v)
            .when(aKeys.headOption.map(_ => k.isin(aKeys: _*)).getOrElse(lit(false)), aVal)
            .when(rKeys.headOption.map(_ => k.isin(rKeys: _*)).getOrElse(lit(false)), rVal)
            .when(gKeys.headOption.map(_ => k.isin(gKeys: _*)).getOrElse(lit(false)), gVal)
            .otherwise(v)
        struct(k.as("key"), sliced.as("value"))
      })))
  }

  /** Per-(variant, sample) genotype long table (reference genotypes table,
    * `genotypes/genotype_loader.py:224-423`): FORMAT parse (T12), dosage
    * from GP (T13), allele balance (T14), ADJ filter (F3).
    *
    * One row per (site, ALT, sample): like the variants side, genotype
    * rows are decomposed per-ALT (the reference advances its genotype
    * `variant_id` per decomposed record, `genotype_loader.py:254-315`), so
    * genotypes join the decomposed variants table — and PRS weights keyed
    * by the decomposed alt — directly on (chrom,pos,ref,alt). Per-ALT
    * remapping follows the bcftools-norm biallelic convention:
    *   - a1/a2: allele index k → 1, any other non-missing allele → 0
    *   - DS (Number=A): the k-th value
    *   - GP (Number=G): the biallelic likelihood triple
    *     [0, k, k(k+1)/2+k], same slicing as INFO Number=G
    * gt keeps the original canonical call string; ad/gp keep the full
    * per-line arrays (allele balance and the ADJ filter are defined over
    * the whole record, `loader:99-172`). Each call parses through
    * [[Call]], the expression the variants scan's QC fold shares; a line
    * with fewer sample columns than the header stores its absent calls
    * as missing ('./.'). Sample names are driver-side header metadata
    * turned into an exploded literal array — still a single narrow
    * projection over the text scan, no shuffle.
    */
  def genotypes(spark: SparkSession, path: String,
                humanGenome: Boolean = true,
                skipMalformed: Boolean = true): DataFrame = {
    import spark.implicits._
    val header = VcfHeader.read(spark, path)
    require(header.samples.nonEmpty, s"VCF has no sample columns: $path")

    val body = spark.read.text(path)
      .filter(!$"value".startsWith("#") && length($"value") > 0)

    val sampleStructs = header.samples.zipWithIndex.map { case (name, i) =>
      struct(lit(name).as("sample_id"), col("fields").getItem(9 + i).as("sval"))
    }

    val parsed = body.select(baseColumns($"value"): _*)
    // same malformed-line tolerance as the variants scan, under the SAME
    // option: a row the variants side drops must not survive here as an
    // orphan genotype, and a row the variants side KEEPS (skipMalformed
    // = false) must keep its genotype rows too — filtering here
    // unconditionally would invert the orphan asymmetry this guard
    // exists to prevent (both tables parse the same file in one load)
    val long = (if (skipMalformed)
      parsed.filter($"pos".isNotNull && $"ref".isNotNull && $"ref" =!= "" &&
        $"alt_raw".isNotNull && $"alt_raw" =!= "")
    else parsed)
      .withColumn("chrom", normalizedChrom(humanGenome))
      .withColumn("alts", split($"alt_raw", ","))
      .withColumn("n_alts", size($"alts"))
      .withColumn("format_keys", split(col("fields").getItem(8), ":"))
      .select($"chrom", $"pos", $"ref", $"alt_raw", $"alts", $"n_alts",
        $"format_keys", explode(array(sampleStructs: _*)).as("s"))
      .select($"chrom", $"pos", $"ref", $"alt_raw", $"alts", $"n_alts",
        $"s.sample_id".as("sample_id"),
        $"format_keys", split($"s.sval", ":").as("vals"))

    val c = Call($"format_keys", $"vals")
    val perRecord = long
      .withColumn("gt", c.gt)
      .withColumn("phased", c.phased)
      .withColumn("a1_line", c.a1)
      .withColumn("a2_line", c.a2)
      .withColumn("gq", c.gq)
      .withColumn("dp", c.dp)
      .withColumn("ad", c.ad)
      .withColumn("ds_raw", c.field("DS"))
      .withColumn("gp", transform(split(c.field("GP"), ","),
        v => nullIfDot(v).cast(DoubleType)))
      .withColumn("allele_balance", c.alleleBalance)
      .withColumn("passes_adj", c.passesAdj)

    // Per-ALT decomposition (T1 on the genotype side). k = alt_idx + 1 is
    // this ALT's allele index in the original line.
    val decomposed = perRecord
      .select($"*", posexplode($"alts").as(Seq("alt_idx", "alt")))
      .filter($"alt" =!= "" && $"alt" =!= ".")
    val k = $"alt_idx" + 1

    // Number=G slice of GP for this ALT (1-based element_at): the VCF
    // spec puts genotype (j,k) at index k(k+1)/2 + j, so the biallelic
    // triple for alt k is {0, k(k+1)/2, k(k+1)/2 + k}. (The reference
    // never slices GP per-ALT — `dosage_from_gp` returns None for any
    // non-triple, `genotype_loader.py:121-137` — so this decomposed
    // semantics is ours and follows the spec.)
    val gpHetIdx = ((k * (k + 1)).cast(DoubleType) / 2).cast(IntegerType) + 1
    val gpHomAltIdx = gpHetIdx + k
    val gpK = when($"n_alts" === 1, $"gp")
      .otherwise(array(element_at($"gp", 1), element_at($"gp", gpHetIdx),
        element_at($"gp", gpHomAltIdx)))

    decomposed
      .withColumn("a1", alleleFor($"a1_line", k))
      .withColumn("a2", alleleFor($"a2_line", k))
      // Number=A slice of DS for this ALT
      .withColumn("ds", nullIfDot(element_at(split($"ds_raw", ","), k)).cast(DoubleType))
      // T13 dosage: DS passthrough else GP[1] + 2·GP[2] on this ALT's
      // biallelic triple (loader:121-137)
      .withColumn("_gp_k", gpK)
      .withColumn("dosage", coalesce($"ds",
        when(size($"_gp_k") === 3 &&
          element_at($"_gp_k", 2).isNotNull && element_at($"_gp_k", 3).isNotNull,
          element_at($"_gp_k", 2) + lit(2) * element_at($"_gp_k", 3))))
      .select($"chrom", $"pos", $"ref", $"alt_raw", $"alt", $"alt_idx", $"n_alts",
        $"sample_id", $"gt", $"phased",
        $"a1", $"a2", $"gq", $"dp", $"ad", $"ds", $"gp", $"dosage",
        $"allele_balance", $"passes_adj")
  }

  /** One sample's call, parsed from the line's FORMAT keys and the
    * sample column's `:`-split values: the single per-call parse behind
    * both the genotypes table and the variant-QC fold, so the two cannot
    * disagree on GT, haploidy or ADJ. A field dropped from the tail (VCF
    * spec), or the whole column of a line shorter than the header, reads
    * as absent. Allele indices are the line's, before the per-ALT remap
    * ([[alleleFor]]). */
  private final case class Call(keys: Column, vals: Column) {
    def field(key: String): Column = {
      val i = array_position(keys, key).cast(IntegerType)
      when(i > 0 && i <= size(vals), element_at(vals, i))
    }
    private val gtRaw = field("GT")
    val phased: Column = gtRaw.contains("|")
    private val alleles = split(gtRaw, "[/|]")
    val a1: Column = nullIfDot(element_at(alleles, 1)).cast(IntegerType)
    val a2: Column = nullIfDot(element_at(alleles, 2)).cast(IntegerType)
    // canonical GT string from parsed alleles (`_format_gt`,
    // loader:377-395) — EXCEPT haploid calls, which keep their
    // single-allele form: the reference's _format_gt pads "1" to
    // "1/." (cyvcf2 yields a2 = -1), which then makes its own
    // haploid counting branch (`variant_qc.py:36-44`) unreachable and
    // misclassifies every male chrX/Y and MT call as half-missing.
    // Preserving "1" keeps the documented haploid semantics live:
    // VariantQc.genotypeClass counts it hom_ref/hom_alt.
    val gt: Column =
      when(a1.isNotNull && !gtRaw.contains("/") && !gtRaw.contains("|"),
        a1.cast(StringType))
      .otherwise(concat_ws("",
        coalesce(a1.cast(StringType), lit(".")),
        when(phased, "|").otherwise("/"),
        coalesce(a2.cast(StringType), lit("."))))
    val gq: Column = nullIfDot(field("GQ")).cast(IntegerType)
    val dp: Column = nullIfDot(field("DP")).cast(IntegerType)
    val ad: Column = transform(split(field("AD"), ","),
      v => nullIfDot(v).cast(IntegerType))
    private val adTotal =
      aggregate(ad, lit(0), (acc, x) => acc + coalesce(x, lit(0)))
    private val adAlt = aggregate(slice(ad, lit(2), greatest(size(ad) - 1, lit(0))),
      lit(0), (acc, x) => acc + coalesce(x, lit(0)))
    // T14 allele balance = Σ ad[1:] / Σ ad, null on 0 (loader:99-118)
    val alleleBalance: Column =
      when(ad.isNull || size(ad) < 2 || adTotal === 0, lit(null))
        .otherwise(adAlt.cast(DoubleType) / adTotal)
    // F3 ADJ: GQ≥20 ∧ DP≥10 ∧ (het ⇒ AB≥0.2), missing passes
    // (loader:140-172). Het-ness is allele INEQUALITY, not membership
    // in the reference's biallelic whitelist (HET_GENOTYPES =
    // {0/1,1/0,0|1,1|0}, `genotype_loader.py:22`) — a 0/2 or 1/2 call
    // is heterozygous and must face the AB criterion too; the
    // whitelist silently waves multi-allelic hets through.
    val passesAdj: Column =
      !((gq.isNotNull && gq < 20) ||
        (dp.isNotNull && dp < 10) ||
        (a1.isNotNull && a2.isNotNull && a1 =!= a2 &&
          alleleBalance.isNotNull && alleleBalance < 0.2))
  }

  /** Per-ALT remap of a line allele index for the record of ALT `k`
    * (bcftools-norm biallelic convention): k → 1, any other non-missing
    * allele → 0. */
  private def alleleFor(aLine: Column, k: Column): Column =
    when(aLine.isNull, lit(null).cast(IntegerType))
      .when(aLine === k, 1).otherwise(0)

  private def nullIfDot(c: Column): Column =
    when(c === "." || c === "", lit(null)).otherwise(c)
}
