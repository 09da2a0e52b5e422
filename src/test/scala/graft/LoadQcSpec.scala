package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Variant QC folded into the `load` parse, the load's failure rollback
  * and the genotype append's file layout, over inline VCF text. Every
  * expected QC value is counted by hand from the calls below:
  * aaf = (2·n_hom_alt + n_het) / (2·n_called), call_rate = n_called /
  * calls counted, mac = min(ALT count, REF count). */
class LoadQcSpec extends SparkSpec {
  import spark.implicits._

  private val Header = Seq(
    "##fileformat=VCFv4.2",
    "##contig=<ID=chr1,length=248956422>",
    "##contig=<ID=chrX,length=156040895>",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
    "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Quality\">")

  private def writeVcf(samples: Seq[String], records: Seq[String]): String = {
    val cols = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
      samples.mkString("\t")
    val p = Files.createTempDirectory("loadqc").resolve("in.vcf")
    Files.write(p, (Header ++ Seq(cols) ++ records).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    p.toString
  }

  private def load(vcf: String, flags: String*): String = {
    val db = Files.createTempDirectory("graftdb").toString
    Graft.run(spark, Array("load", vcf, "--db", db) ++ flags)
    db
  }

  /** (n_het, n_hom_ref, n_hom_alt, n_called) and the QC row by key. */
  private def qcAt(db: String, pos: Long, ref: String, alt: String): Row = {
    val rows = spark.read.parquet(s"$db/variants")
      .filter($"pos" === pos && $"ref" === ref && $"alt" === alt).collect()
    assert(rows.length == 1, s"$pos $ref>$alt: ${rows.mkString(",")}")
    rows.head
  }

  private def counts(r: Row): (Int, Int, Int, Int) =
    (r.getAs[Int]("n_het"), r.getAs[Int]("n_hom_ref"),
      r.getAs[Int]("n_hom_alt"), r.getAs[Int]("n_called"))

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-12

  private val qcCols = graft.qc.VariantQc.joinedColumns.map(_._1)

  test("normalized records keep their QC; a 1/2 call is het for both ALTs") {
    val db = load(writeVcf(Seq("S1", "S2"), Seq(
      "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\t1/1",
      // CAT>CGT normalizes to 201 A>G; GAC>GC to 300 GA>G
      "chr1\t200\t.\tCAT\tCGT\t50\tPASS\t.\tGT\t0/1\t0/0",
      "chr1\t300\t.\tGAC\tGC\t50\tPASS\t.\tGT\t0/1\t0/1",
      // 1/2: het for G (1→1, 2→0) and for T (1→0, 2→1);
      // 2/2: hom_ref for G, hom_alt for T
      "chr1\t400\t.\tA\tG,T\t50\tPASS\t.\tGT\t1/2\t2/2")),
      "--store-genotypes")
    val snp = qcAt(db, 100, "A", "G")
    assert(counts(snp) == ((1, 0, 1, 2)))
    assert(near(snp.getAs[Double]("aaf"), 0.75))
    assert(near(snp.getAs[Double]("maf"), 0.25))
    assert(snp.getAs[Int]("mac") == 1)
    assert(near(snp.getAs[Double]("call_rate"), 1.0))
    val mnp = qcAt(db, 201, "A", "G")
    assert(mnp.getAs[Boolean]("normalized"))
    assert(counts(mnp) == ((1, 1, 0, 2)))
    assert(near(mnp.getAs[Double]("aaf"), 0.25))
    val del = qcAt(db, 300, "GA", "G")
    assert(del.getAs[Boolean]("normalized"))
    assert(counts(del) == ((2, 0, 0, 2)))
    assert(near(del.getAs[Double]("aaf"), 0.5))
    assert(del.getAs[Int]("mac") == 2)
    Seq(snp, mnp, del).foreach(r => assert(!r.isNullAt(r.fieldIndex("hwe_p"))))
    val g = qcAt(db, 400, "A", "G")
    assert(counts(g) == ((1, 1, 0, 2)))
    val t = qcAt(db, 400, "A", "T")
    assert(counts(t) == ((1, 0, 1, 2)))
    assert(near(t.getAs[Double]("aaf"), 0.75))
  }

  test("haploid, missing, half-missing and absent calls count as genotypeClass does") {
    val samples = Seq("S1", "S2", "S3", "S4", "S5")
    val db = load(writeVcf(samples, Seq(
      // haploid 1 → hom_alt, haploid 0 → hom_ref, '.' and './.' →
      // missing, '0/.' (half-missing) → missing
      "chrX\t500\t.\tC\tT\t50\tPASS\t.\tGT\t1\t0\t.\t./.\t0/.",
      // three of five sample columns absent: missing
      "chr1\t600\t.\tG\tA\t50\tPASS\t.\tGT\t0/1\t1|1")),
      "--store-genotypes", "--no-anonymize")
    val hap = qcAt(db, 500, "C", "T")
    assert(counts(hap) == ((0, 1, 1, 2)))
    assert(near(hap.getAs[Double]("call_rate"), 0.4))
    assert(near(hap.getAs[Double]("aaf"), 0.5))
    val short = qcAt(db, 600, "G", "A")
    assert(counts(short) == ((1, 0, 1, 2)))
    assert(near(short.getAs[Double]("call_rate"), 0.4))
    assert(near(short.getAs[Double]("aaf"), 0.75))
    // the genotypes table stores the absent calls as missing rows
    val g = spark.read.parquet(s"$db/genotypes").filter($"pos" === 600)
    assert(g.count() == 5)
    assert(g.filter($"gt" === "./.").count() == 3)
  }

  test("--adj-filter counts only the stored calls; a variant with none keeps NULL QC") {
    val vcf = writeVcf(Seq("S1", "S2"), Seq(
      // S1 fails ADJ (DP 5 < 10), S2 passes: one stored call, hom_alt
      "chr1\t700\t.\tA\tG\t50\tPASS\t.\tGT:DP:GQ\t0/1:5:40\t1/1:30:60",
      // both fail (GQ 10 < 20, DP 3 < 10): no stored call
      "chr1\t800\t.\tC\tT\t50\tPASS\t.\tGT:DP:GQ\t0/1:15:10\t0/0:3:50"))
    val db = load(vcf, "--store-genotypes", "--adj-filter")
    assert(spark.read.parquet(s"$db/genotypes").count() == 1)
    val one = qcAt(db, 700, "A", "G")
    assert(counts(one) == ((0, 0, 1, 1)))
    assert(near(one.getAs[Double]("call_rate"), 1.0))
    assert(near(one.getAs[Double]("aaf"), 1.0))
    val none = qcAt(db, 800, "C", "T")
    qcCols.foreach(c => assert(none.isNullAt(none.fieldIndex(c)), c))
  }

  test("--dosage-only and a load without --store-genotypes keep typed-NULL QC") {
    val vcf = writeVcf(Seq("S1", "S2"), Seq(
      "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\t1/1"))
    Seq(Seq("--store-genotypes", "--dosage-only"), Nil).foreach { flags =>
      val v = spark.read.parquet(s"${load(vcf, flags: _*)}/variants")
      val types = v.schema.fields.map(f => f.name -> f.dataType).toMap
      graft.qc.VariantQc.joinedColumns.foreach { case (c, t) =>
        assert(types.get(c).contains(t), s"$flags: $c")
      }
      assert(v.filter(qcCols.map(c => $"$c".isNotNull).reduce(_ || _)).isEmpty,
        flags.mkString(" "))
    }
  }

  test("a fresh genotyped load that fails after its table writes leaves no rows, and a re-run stores each record once") {
    val vcf = writeVcf(Seq("S1", "S2"), Seq(
      "chr1\t100\trs1\tA\tG\t50\tPASS\t.\tGT\t0/1\t1/1",
      "chr1\t200\t.\tC\tT,A\t50\tPASS\t.\tGT\t1/2\t0/0",
      "chrX\t300\trs3\tG\tA\t50\tPASS\t.\tGT\t1\t0/1"))
    val db = Files.createTempDirectory("graftdb").toString
    // the bad --target-file-mb fails --compact, after every table landed
    intercept[NumberFormatException] {
      Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes",
        "--compact", "--target-file-mb", "abc"))
    }
    Seq("variants", "rsid_idx", "gene_idx", "genotypes").foreach { t =>
      val d = new java.io.File(s"$db/$t")
      if (d.exists()) {
        assert(sinks.DbFs.hasParquetRecursive(d.toString),
          s"$t left as a table dir holding no parquet")
        assert(spark.read.parquet(d.toString).count() == 0, t)
      }
    }
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "failed").count() == 1)
    Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes"))
    // 1 + 2 + 1 ALTs = 4 variants, each with 2 genotype rows
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == 4)
    assert(v.select($"chrom", $"pos", $"ref", $"alt").distinct().count() == 4)
    assert(spark.read.parquet(s"$db/rsid_idx").count() == 2)
    assert(spark.read.parquet(s"$db/genotypes").count() == 8)
  }

  test("the genotype append lands pos-sorted per file, in pages of at most 512 rows") {
    // an unsorted input: the body lines of a synthetic VCF, shuffled
    val dir = Files.createTempDirectory("layout")
    val src = dir.resolve("sorted.vcf")
    graft.vcf.SyntheticVcf.write(src.toString, 1500,
      samples = Seq("S1", "S2", "S3"), seed = 4242L)
    val (head, body) = Files.readAllLines(src).asScala.partition(_.startsWith("#"))
    val vcf = dir.resolve("shuffled.vcf")
    Files.write(vcf, (head ++ new scala.util.Random(7L).shuffle(body))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val db = load(vcf.toString, "--store-genotypes")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Files.walk(java.nio.file.Paths.get(s"$db/genotypes")).iterator
      .asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val pos = spark.read.parquet(f).select($"pos").as[Long].collect()
      assert(pos.toSeq == pos.sorted.toSeq, s"$f is not pos-sorted")
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try r.getRowGroups.asScala.foreach { rg =>
        val chunk = rg.getColumns.asScala.find(_.getPath.toDotString == "pos").get
        val idx = r.readOffsetIndex(chunk)
        val firsts = (0 until idx.getPageCount).map(idx.getFirstRowIndex) :+
          rg.getRowCount
        val pageRows = firsts.sliding(2).map(p => p(1) - p(0)).toSeq
        assert(pageRows.max <= 512, s"$f: a page holds ${pageRows.max} rows")
      } finally r.close()
    }
    // the layout holds at scale: more rows than one page
    assert(spark.read.parquet(s"$db/genotypes").count() > 512)
  }
}
