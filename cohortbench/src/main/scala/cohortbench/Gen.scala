package cohortbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.Locale

import scala.util.Random

/** Seeded input generators. Every file the benchmark feeds the program is
  * written here, and every answer the checks compare against is derived
  * here from the same generated values — never from the program's output.
  * Numbers are formatted with `Locale.ROOT`.
  */
object Gen {

  private def fmt(f: String, xs: Any*): String =
    String.format(Locale.ROOT, f, xs.map(_.asInstanceOf[AnyRef]): _*)

  private def writeFile(path: String)(body: BufferedWriter => Unit): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  private val Bases = Array("A", "C", "G", "T")
  def complement(a: String): String = a.map {
    case 'A' => 'T'; case 'T' => 'A'; case 'C' => 'G'; case 'G' => 'C'; case c => c
  }

  // ---------------------------------------------------------------- VCF

  /** One decomposed record (one ALT of a site) in its normalised form,
    * plus the raw ALT as written (the genotypes table keeps raw alleles).
    * `altIndex` is the 1-based allele index within the site. */
  final case class Rec(chrom: String, pos: Long, ref: String, alt: String,
                       rawRef: String, rawAlt: String, altIndex: Int,
                       rs: Option[String], gene: String, dp: Int,
                       normalized: Boolean) {
    def key: String = s"$chrom:$pos:$ref:$alt"
  }

  /** One site: its decomposed records and one call per sample, as allele
    * index pairs (-1 = missing). */
  final case class Site(chrom: String, pos: Long, recs: Seq[Rec],
                        calls: Array[(Int, Int)]) {
    def gtString(s: Int): String = calls(s) match {
      case (-1, _) | (_, -1) => "./."
      case (a, b)            => s"$a/$b"
    }
    /** ALT dosage of one decomposed record (allele index k) for sample s. */
    def dosage(s: Int, k: Int): Option[Double] = calls(s) match {
      case (-1, _) | (_, -1) => None
      case (a, b) => Some(((if (a == k) 1 else 0) + (if (b == k) 1 else 0)).toDouble)
    }
  }

  final case class Batch(index: Int, path: String, samples: Seq[String],
                         sites: Seq[Site]) {
    def recs: Seq[Rec] = sites.flatMap(_.recs)
    def genotypeRows: Long = sites.map(_.recs.size.toLong * samples.size).sum
  }

  final case class VcfShape(chroms: Int, sitesPerChrom: Int, samples: Int)

  /** Sites of batch `b` live in their own position window on every chrom,
    * so batches never share a site and every probe has one answer. */
  def batchStart(b: Int): Long = 1000000L + b * 20000000L

  /** A multi-sample VCF with SnpEff ANN genes, multi-allelic sites, rsIDs
    * and anchored indels. A fifth of the indels carry a redundant trailing
    * base that normalisation trims; the recorded `Rec` holds the trimmed
    * form. Alleles of one site never share a trailing base otherwise. */
  def vcf(seed: Long, b: Int, shape: VcfShape, path: String): Batch = {
    val rnd = new Random(seed * 1000003L + b * 7919L + 17)
    val samples = (0 until shape.samples).map(i => f"S$i%03d")
    val sites = Vector.newBuilder[Site]
    var rsNext = 100000L + b * 1000000L
    for (c <- 1 to shape.chroms) {
      val chrom = s"chr$c"
      var pos = batchStart(b)
      for (i <- 0 until shape.sitesPerChrom) {
        pos += 200 + rnd.nextInt(1800)
        val gene = s"G${b}_${c}_${i / 12}"
        val rs = if (rnd.nextDouble() < 0.6) { rsNext += 1 + rnd.nextInt(5); Some(s"rs$rsNext") } else None
        val dp = 10 + rnd.nextInt(90)
        val anchor = Bases(rnd.nextInt(4))
        val kind = rnd.nextDouble()
        // (raw REF, raw ALTs, normalised (ref, alt) per ALT)
        val (rawRef, rawAlts, norm): (String, Seq[String], Seq[(String, String)]) =
          if (kind < 0.70) {
            val alt = Bases.filter(_ != anchor)(rnd.nextInt(3))
            (anchor, Seq(alt), Seq((anchor, alt)))
          } else if (kind < 0.80) {
            val alts = rnd.shuffle(Bases.filter(_ != anchor).toSeq).take(2)
            (anchor, alts, alts.map(a => (anchor, a)))
          } else {
            // anchored indel whose last bases differ, so it is already in
            // normal form; `pad` appends a shared trailing base
            val insert = kind < 0.90
            val others = Bases.filter(_ != anchor)
            val body = (0 until 1 + rnd.nextInt(3)).map(_ => Bases(rnd.nextInt(4))).mkString
            val tail = others(rnd.nextInt(3))
            val seq = body.dropRight(1) + tail
            val (r, a) = if (insert) (anchor, anchor + seq) else (anchor + seq, anchor)
            if (rnd.nextDouble() < 0.2) {
              val pad = Bases.filter(x => x != tail && x != anchor)(rnd.nextInt(2))
              (r + pad, Seq(a + pad), Seq((r, a)))
            } else (r, Seq(a), Seq((r, a)))
          }
        val recs = rawAlts.indices.map { k =>
          Rec(chrom, pos, norm(k)._1, norm(k)._2, rawRef, rawAlts(k), k + 1,
            rs, gene, dp, normalized = norm(k) != ((rawRef, rawAlts(k))))
        }
        val nAlleles = rawAlts.size + 1
        val af = 0.05 + 0.5 * rnd.nextDouble()
        def allele(): Int =
          if (rnd.nextDouble() < af) 1 + rnd.nextInt(nAlleles - 1) else 0
        val calls = Array.fill(shape.samples) {
          if (rnd.nextDouble() < 0.03) (-1, -1) else (allele(), allele())
        }
        sites += Site(chrom, pos, recs, calls)
      }
    }
    val all = sites.result()
    writeFile(path) { w =>
      w.write("##fileformat=VCFv4.2\n")
      for (c <- 1 to shape.chroms) w.write(s"##contig=<ID=chr$c>\n")
      w.write("##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total depth\">\n")
      w.write("##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele frequency\">\n")
      w.write("##INFO=<ID=ANN,Number=.,Type=String,Description=\"Functional " +
        "annotations: 'Allele | Annotation | Annotation_Impact | Gene_Name | " +
        "Gene_ID | Feature_Type | Feature_ID | Transcript_BioType | Rank | " +
        "HGVS.c | HGVS.p | cDNA.pos / cDNA.length | CDS.pos / CDS.length | " +
        "AA.pos / AA.length | Distance | ERRORS / WARNINGS / INFO'\">\n")
      w.write("##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">\n")
      w.write("##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n")
      w.write("##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Quality\">\n")
      w.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
        samples.mkString("\t") + "\n")
      val sb = new java.lang.StringBuilder(256 + 12 * shape.samples)
      all.foreach { s =>
        sb.setLength(0)
        val r0 = s.recs.head
        sb.append(s.chrom).append('\t').append(s.pos).append('\t')
          .append(r0.rs.getOrElse(".")).append('\t').append(r0.rawRef).append('\t')
          .append(s.recs.map(_.rawAlt).mkString(",")).append("\t50\tPASS\t")
          .append("DP=").append(r0.dp)
          .append(";AF=").append(s.recs.map(_ => fmt("%.3f", 0.01 + 0.9 * rnd.nextDouble())).mkString(","))
          // the ANN allele is left empty: it matches every ALT of the site
          .append(";ANN=").append(s.recs.map(r =>
            s"|missense_variant|MODERATE|${r.gene}|${r.gene}|transcript|TX_${r.gene}|" +
              "protein_coding|1/1|c.1A>G|p.M1V||||").mkString(","))
          .append("\tGT:DP:GQ")
        var i = 0
        while (i < shape.samples) {
          val gt = s.gtString(i)
          sb.append('\t').append(gt)
          if (gt == "./.") sb.append(":.:.")
          else sb.append(':').append(5 + rnd.nextInt(60)).append(':').append(10 + rnd.nextInt(89))
          i += 1
        }
        sb.append('\n')
        w.write(sb.toString)
      }
    }
    Batch(b, path, samples, all)
  }

  // ------------------------------------------------------- GWAS and PGS

  /** Planted summary-statistic rows against a loaded cohort: exact
    * (effect = ALT), swapped (effect = REF), strand-flipped (complemented
    * alleles, found only through the rsID) and misses (absent position,
    * no rsID). `expectedMatches` = every planted row but the misses. */
  final case class Plant(rec: Rec, kind: String, weight: Double)
  final case class Planted(path: String, plants: Seq[Plant], misses: Int) {
    def expectedMatches: Int = plants.size
  }

  private def plantable(batches: Seq[Batch]): Seq[Rec] =
    batches.flatMap(_.sites).filter(s => s.recs.size == 1 &&
      s.recs.head.ref.length == 1 && s.recs.head.alt.length == 1).map(_.recs.head)

  private def choosePlants(rnd: Random, batches: Seq[Batch], nEach: Int,
                           kinds: Seq[String]): Seq[Plant] = {
    val pool = rnd.shuffle(plantable(batches))
    val flips =
      if (kinds.contains("flipped"))
        pool.filter(r => r.rs.isDefined && complement(r.ref) != r.alt).take(nEach)
      else Nil
    val plain = kinds.filter(_ != "flipped")
    val rest = pool.filterNot(flips.toSet).take(plain.size * nEach)
    def w() = fmt("%.6f", rnd.nextGaussian() * 0.2).toDouble
    plain.zipWithIndex.flatMap { case (k, i) =>
      rest.slice(i * nEach, (i + 1) * nEach).map(Plant(_, k, w()))
    } ++ flips.map(Plant(_, "flipped", w()))
  }

  private def alleles(p: Plant): (String, String) = p.kind match {
    case "direct"  => (p.rec.alt, p.rec.ref)
    case "swapped" => (p.rec.ref, p.rec.alt)
    case _         => (complement(p.rec.alt), complement(p.rec.ref))
  }

  def gwas(seed: Long, batches: Seq[Batch], nEach: Int, nMiss: Int,
           path: String): Planted = {
    val rnd = new Random(seed * 31 + 5)
    val plants = choosePlants(rnd, batches, nEach, Seq("direct", "swapped", "flipped"))
    writeFile(path) { w =>
      w.write("chromosome\tbase_pair_location\teffect_allele\tother_allele\t" +
        "beta\tstandard_error\teffect_allele_frequency\tp_value\trsid\n")
      rnd.shuffle(plants).foreach { p =>
        val (ea, oa) = alleles(p)
        w.write(s"${p.rec.chrom.stripPrefix("chr")}\t${p.rec.pos}\t$ea\t$oa\t" +
          fmt("%.5f\t%.5f\t%.4f\t%.3e", p.weight, 0.01 + rnd.nextDouble() * 0.05,
            0.05 + rnd.nextDouble() * 0.4, rnd.nextDouble() * 1e-3) +
          s"\t${if (p.kind == "flipped") p.rec.rs.get else ""}\n")
      }
      (0 until nMiss).foreach { i =>
        w.write(s"1\t${500000 + 7 * i}\tA\tG\t" +
          fmt("%.5f\t0.02000\t0.3000\t%.3e", rnd.nextGaussian() * 0.1, 0.01) + "\t\n")
      }
    }
    Planted(path, plants, nMiss)
  }

  /** A PGS scoring file with exact and strand-flipped rows and misses, but
    * no swapped rows: `import-pgs` stores a swapped row's weight without
    * moving it to the ALT allele, and `PrsScoring.score` counts ALT
    * dosage, so every seed would score it wrong. The benchmark keeps one
    * failure that recurs identically in every run (the dedup recall, on a
    * fixed corpus); this one depends on the seed's genotypes. */
  def pgs(seed: Long, batches: Seq[Batch], nEach: Int, nMiss: Int,
          path: String): Planted = {
    val rnd = new Random(seed * 37 + 11)
    val plants = choosePlants(rnd, batches, nEach, Seq("direct", "flipped"))
    writeFile(path) { w =>
      w.write("###PGS CATALOG SCORING FILE\n#format_version=2.0\n" +
        "#pgs_id=PGS900001\n#trait_reported=benchmark trait\n" +
        "#genome_build=GRCh38\n")
      w.write("rsID\tchr_name\tchr_position\teffect_allele\tother_allele\teffect_weight\n")
      rnd.shuffle(plants).foreach { p =>
        val (ea, oa) = alleles(p)
        w.write(s"${if (p.kind == "flipped") p.rec.rs.get else ""}\t" +
          s"${p.rec.chrom.stripPrefix("chr")}\t${p.rec.pos}\t$ea\t$oa\t" +
          fmt("%.6f", p.weight) + "\n")
      }
      (0 until nMiss).foreach { i =>
        w.write(s"\t2\t${600000 + 11 * i}\tC\tT\t" + fmt("%.6f", 0.05) + "\n")
      }
    }
    Planted(path, plants, nMiss)
  }

  // -------------------------------------------------- document corpus

  /** Documents with planted near-duplicate groups: each group is a base
    * document plus 1–3 copies with a few words replaced. Other documents
    * are drawn independently from a large vocabulary. */
  final case class Corpus(docs: Seq[(Long, String)], groups: Seq[Seq[Long]]) {
    lazy val groupOf: Map[Long, Int] =
      groups.zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
  }

  def corpus(seed: Long, nGroups: Int, nSingles: Int, words: Int): Corpus = {
    val rnd = new Random(seed * 41 + 3)
    val vocab = Array.tabulate(5000)(i =>
      (0 until 3 + (i % 6)).map(j => ('a' + ((i * 7 + j * 13 + i / 26) % 26)).toChar).mkString + i.toString.map(d => ('a' + d - '0').toChar))
    def doc(): Array[String] = Array.fill(words)(vocab(rnd.nextInt(vocab.length)))
    val docs = Vector.newBuilder[(Long, String)]
    val groups = Vector.newBuilder[Seq[Long]]
    var id = 1L
    (0 until nGroups).foreach { _ =>
      val base = doc()
      val members = (0 to 1 + rnd.nextInt(3)).map { m =>
        val d = base.clone()
        if (m > 0) (0 until math.max(1, words / 40)).foreach(_ =>
          d(rnd.nextInt(words)) = vocab(rnd.nextInt(vocab.length)))
        docs += ((id, d.mkString(" ")))
        id += 1
        id - 1
      }
      groups += members
    }
    (0 until nSingles).foreach { _ => docs += ((id, doc().mkString(" "))); id += 1 }
    Corpus(rnd.shuffle(docs.result()), groups.result())
  }

  /** Word 3-shingle Jaccard similarity, computed from the texts. */
  def shingleJaccard(a: String, b: String, k: Int = 3): Double = {
    def sh(s: String) = s.split("\\s+").filter(_.nonEmpty).sliding(k).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }

  // ---------------------------------------------------- vector corpus

  /** Vectors drawn around `nClusters` random centres, plus held-out
    * queries drawn the same way with ids outside the corpus id range. */
  final case class Vectors(corpus: Seq[(Long, Array[Float])],
                           queries: Seq[(Long, Array[Float])])

  def vectors(seed: Long, n: Int, nQueries: Int, dim: Int,
              nClusters: Int): Vectors = {
    val rnd = new Random(seed * 43 + 7)
    val centres = Array.fill(nClusters, dim)(rnd.nextGaussian())
    def draw(): Array[Float] = {
      val c = centres(rnd.nextInt(nClusters))
      Array.tabulate(dim)(j => (c(j) + 0.35 * rnd.nextGaussian()).toFloat)
    }
    Vectors((1 to n).map(i => (i.toLong, draw())),
      (1 to nQueries).map(i => (1000000L + i, draw())))
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
}
