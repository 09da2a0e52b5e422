package graft.qc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-variant QC aggregation (SURVEY §2.6 A1–A3): genotype counts,
  * allele frequencies, HWE exact p — computed from the genotypes long
  * table with a single map-side-combinable groupBy (each metric is a
  * `sum(when(...))`), then scalar post-maps. Mirrors
  * `qc/variant_qc.py:15-107` + the HWE scalar (`Hwe`).
  */
object VariantQc {

  /** Genotype-class column from the parsed genotype row: 'het',
    * 'hom_ref', 'hom_alt', or 'missing'. Mirrors
    * `compute_genotype_counts` (`qc/variant_qc.py:15-75`): missing or
    * half-missing diploid calls are skipped; haploid calls count as
    * hom_ref/hom_alt by their single allele.
    */
  def genotypeClass(gtRaw: Column, a1: Column, a2: Column): Column = {
    val isHaploid = !(gtRaw.contains("/") || gtRaw.contains("|"))
    when(gtRaw.isNull || gtRaw.isin(".", "./.", ".|."), "missing")
      .when(isHaploid,
        when(a1.isNull, "missing").when(a1 === 0, "hom_ref").otherwise("hom_alt"))
      .when(a1.isNull || a2.isNull, "missing")
      .when(a1 === a2, when(a1 === 0, "hom_ref").otherwise("hom_alt"))
      .otherwise("het")
  }

  /** Aggregate a genotypes long DataFrame (VcfReader.genotypes schema) to
    * per-site QC metrics keyed (chrom, pos, ref, alt) — the decomposed
    * per-ALT key, so QC rows join the decomposed variants table 1:1:
    * n_called/n_het/n_hom_ref/n_hom_alt, aaf, maf, mac, hwe_p.
    *
    * Scale note: one hash aggregation, partial aggregation map-side; the
    * HWE UDF runs on the aggregated row (one call per variant, not per
    * genotype).
    */
  /** The QC columns of a variants row: `fromGenotypes` without
    * `n_samples`, as `withCallCounts` folds them. The reference's variants
    * table carries every QC column regardless of whether the file had a
    * FORMAT/sample section, null until filled (`schema.py:110-187`) — a
    * sample-less load adds these as typed nulls so every store shares
    * one schema and mixed cohorts stay on the O(batch) append path. */
  val joinedColumns: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq(
    "n_het" -> IntegerType, "n_hom_ref" -> IntegerType,
    "n_hom_alt" -> IntegerType, "n_called" -> IntegerType,
    "call_rate" -> DoubleType, "aaf" -> DoubleType,
    "maf" -> DoubleType, "mac" -> IntegerType, "hwe_p" -> DoubleType)

  def fromGenotypes(genotypes: DataFrame): DataFrame = {
    import genotypes.sparkSession.implicits._
    val cls = genotypeClass($"gt", $"a1", $"a2")
    val agg = genotypes
      .withColumn("_cls", cls)
      .groupBy($"chrom", $"pos", $"ref", $"alt")
      .agg(
        sum(when($"_cls" === "het", 1).otherwise(0)).cast(IntegerType).as("n_het"),
        sum(when($"_cls" === "hom_ref", 1).otherwise(0)).cast(IntegerType).as("n_hom_ref"),
        sum(when($"_cls" === "hom_alt", 1).otherwise(0)).cast(IntegerType).as("n_hom_alt"),
        count(lit(1)).cast(IntegerType).as("n_samples"))
      .withColumn("n_called", $"n_het" + $"n_hom_ref" + $"n_hom_alt")
    withFrequencies(agg)
  }

  /** A1 in the record's own row — SURVEY A1's per-record form over the
    * record's per-sample calls: `joinedColumns` for each row of `rows`
    * from `classes`, the array of the row's call classes (`genotypeClass`;
    * null for a call not counted), counted with native array functions.
    * Equals `fromGenotypes` over the row's genotype rows; a row with no
    * counted call gets NULL QC, as a variant without a genotype row has
    * no `fromGenotypes` row to join. */
  def withCallCounts(rows: DataFrame, classes: Column): DataFrame = {
    import rows.sparkSession.implicits._
    def n(cls: String) = size($"_cls") - size(array_remove($"_cls", cls))
    val counted = withFrequencies(rows
      .withColumn("_cls", classes)
      .withColumns(Map("n_het" -> n("het"), "n_hom_ref" -> n("hom_ref"),
        "n_hom_alt" -> n("hom_alt"),
        "n_samples" -> size(array_compact($"_cls"))))
      .withColumn("n_called", $"n_het" + $"n_hom_ref" + $"n_hom_alt"))
    counted
      .withColumns(joinedColumns.map { case (c, _) =>
        c -> when($"n_samples" > 0, col(c)) }.toMap)
      .drop("_cls", "n_samples")
  }

  /** A2 allele frequencies + A3 HWE from the count columns
    * (`qc/variant_qc.py:78-107`): aaf = (2·homAlt + het) / 2n;
    * maf = min(aaf, 1−aaf); mac = min(AC, AN−AC); NaN when n = 0.
    */
  def withFrequencies(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    val an = ($"n_called" * 2).cast(DoubleType)
    val acAlt = $"n_hom_alt" * 2 + $"n_het"
    val acRef = $"n_hom_ref" * 2 + $"n_het"
    counts
      .withColumn("call_rate",
        when($"n_samples" > 0, $"n_called".cast(DoubleType) / $"n_samples"))
      .withColumn("aaf",
        when($"n_called" === 0, lit(Double.NaN)).otherwise(acAlt / an))
      .withColumn("maf",
        when($"n_called" === 0, lit(Double.NaN))
          .otherwise(least($"aaf", lit(1.0) - $"aaf")))
      .withColumn("mac",
        when($"n_called" === 0, 0).otherwise(least(acAlt, acRef)).cast(IntegerType))
      .withColumn("hwe_p", Hwe.hweCol($"n_het", $"n_hom_ref", $"n_hom_alt"))
  }
}
