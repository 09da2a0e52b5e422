package graft.vcf

import java.io.{BufferedWriter, FileWriter}
import scala.util.Random

/** Deterministic synthetic VCF generator (SURVEY S10 —
  * `benchmark.py:97-447` re-expressed): used by unit tests and the parse
  * benchmark. One seeded stream, realistic GATK-style header, a
  * configurable multi-allelic fraction, INFO with Number=1/A fields and
  * per-sample GT:AD:DP:GQ columns.
  */
object SyntheticVcf {

  private val Bases = Array("A", "C", "G", "T")

  // Locale.ROOT: under a comma-decimal default locale `AF=0,1234` would
  // parse as two Number=A allele frequencies
  private def num(pattern: String, v: Double): String =
    pattern.formatLocal(java.util.Locale.ROOT, v)

  def header(samples: Seq[String], withAnn: Boolean = false): String = {
    val meta = Seq(
      "##fileformat=VCFv4.2",
      "##source=graft-synthetic",
      "##contig=<ID=chr1,length=248956422>",
      "##contig=<ID=chr2,length=242193529>",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total depth\">",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele frequency per ALT\">",
      "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"Allele count per ALT\">",
      "##INFO=<ID=MQ,Number=1,Type=Float,Description=\"Mapping quality\">") ++
      (if (withAnn) Seq(
        "##INFO=<ID=ANN,Number=.,Type=String,Description=\"Functional annotations: " +
          "'Allele | Annotation | Annotation_Impact | Gene_Name | Gene_ID | " +
          "Feature_Type | Feature_ID | Transcript_BioType | Rank | HGVS.c | HGVS.p'\">")
       else Nil) ++ Seq(
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Genotype quality\">")
    val cols = Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO") ++
      (if (samples.nonEmpty) Seq("FORMAT") ++ samples else Nil)
    (meta :+ cols.mkString("\t")).mkString("\n")
  }

  private val AnnTerms =
    Array("missense_variant", "synonymous_variant", "stop_gained",
      "intron_variant", "upstream_gene_variant", "splice_donor_variant")
  private val AnnImpacts = Array("HIGH", "MODERATE", "LOW", "MODIFIER")

  /** Write `n` variant lines; ~multiAllelicFrac of sites get 2-3 ALTs,
    * ~indelFrac get indels; annFrac > 0 adds SnpEff-style ANN entries
    * (1-3 per ALT, occasional cross-allele entries — the T6 extraction
    * has to filter and rank, as on a real VEP/SnpEff cohort). Fully
    * deterministic for a given seed. */
  def write(path: String, n: Int, samples: Seq[String] = Seq("S1", "S2"),
            seed: Long = 42L, multiAllelicFrac: Double = 0.1,
            indelFrac: Double = 0.15, annFrac: Double = 0.0): Unit = {
    val rng = new Random(seed)
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    try {
      w.write(header(samples, withAnn = annFrac > 0)); w.newLine()
      var pos = 10000L
      var i = 0
      while (i < n) {
        pos += 1 + rng.nextInt(2000)
        val chrom = if (rng.nextDouble() < 0.6) "chr1" else "chr2"
        val refLen = if (rng.nextDouble() < indelFrac) 1 + rng.nextInt(6) else 1
        val ref = Seq.fill(refLen)(Bases(rng.nextInt(4))).mkString
        val nAlts = if (rng.nextDouble() < multiAllelicFrac) 2 + rng.nextInt(2) else 1
        val alts = (0 until nAlts).map { _ =>
          if (rng.nextDouble() < indelFrac) Seq.fill(1 + rng.nextInt(6))(Bases(rng.nextInt(4))).mkString
          else {
            var b = Bases(rng.nextInt(4))
            while (refLen == 1 && b == ref) b = Bases(rng.nextInt(4))
            b
          }
        }.distinct
        val afs = alts.map(_ => num("%.4f", 0.001 + rng.nextDouble() * 0.5)).mkString(",")
        val acs = alts.map(_ => (1 + rng.nextInt(100)).toString).mkString(",")
        val dp = 20 + rng.nextInt(400)
        val qual = num("%.2f", 30.0 + rng.nextDouble() * 3000)
        val rsId = if (rng.nextDouble() < 0.3) s"rs${1000000 + rng.nextInt(9000000)}" else "."
        val ann =
          if (annFrac > 0 && rng.nextDouble() < annFrac) {
            val entries = alts.flatMap { alt =>
              val own = (0 until 1 + rng.nextInt(3)).map { e =>
                val gene = s"GENE${rng.nextInt(5000)}"
                s"$alt|${AnnTerms(rng.nextInt(AnnTerms.length))}|" +
                  s"${AnnImpacts(rng.nextInt(AnnImpacts.length))}|$gene|" +
                  s"ENSG$gene|transcript|ENST$gene.$e|protein_coding|" +
                  s"${1 + rng.nextInt(20)}/20|c.${pos % 1000}A>G|p.Xyz${e + 1}"
              }
              // cross-allele noise the extraction must filter out
              val noise = if (rng.nextDouble() < 0.3)
                Seq(s"Z|intergenic_region|MODIFIER|NONE${rng.nextInt(100)}")
              else Nil
              own ++ noise
            }
            s";ANN=${entries.mkString(",")}"
          } else ""
        val info = s"DP=$dp;AF=$afs;AC=$acs;MQ=${num("%.2f", 40 + rng.nextDouble() * 20)}$ann"
        val sampleCols =
          if (samples.isEmpty) ""
          else "\tGT:AD:DP:GQ" + samples.map { _ =>
            val a1 = rng.nextInt(alts.length + 1)
            val a2 = rng.nextInt(alts.length + 1)
            val adRef = 5 + rng.nextInt(100)
            val adAlts = alts.map(_ => rng.nextInt(80)).mkString(",")
            s"\t$a1/$a2:$adRef,$adAlts:${10 + rng.nextInt(200)}:${rng.nextInt(100)}"
          }.mkString
        w.write(s"$chrom\t$pos\t$rsId\t$ref\t${alts.mkString(",")}\t$qual\tPASS\t$info$sampleCols")
        w.newLine()
        i += 1
      }
    } finally w.close()
  }
}
