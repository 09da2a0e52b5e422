package graft

import java.nio.file.Files

/** In-repo twins of the `GraftCliSpec` write-path tests that read
  * reference fixtures: the same load / force-reload / failure / cohort
  * scenarios over inline VCF text, so they run on every host. Expected
  * counts are derived from the text below: a record with k ALT alleles
  * decomposes into k variants, and each variant carries one genotype row
  * per sample. */
class HermeticLoadSpec extends SparkSpec {
  import spark.implicits._

  private val Header = Seq(
    "##fileformat=VCFv4.2",
    "##contig=<ID=chr1,length=248956422>",
    "##contig=<ID=chr2,length=242193529>",
    "##contig=<ID=chr3,length=198295559>",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
    "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Quality\">")

  private def writeVcf(name: String, samples: Seq[String],
                       records: Seq[String]): String = {
    val cols = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO" +
      (if (samples.isEmpty) "" else "\tFORMAT\t" + samples.mkString("\t"))
    val p = Files.createTempDirectory("hermeticvcf").resolve(name)
    Files.write(p, (Header ++ Seq(cols) ++ records).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    p.toString
  }

  /** 10 biallelic SNPs, no samples: 10 variants. */
  private def tenSnps(): String = writeVcf("ten.vcf", Nil,
    (1 to 10).map { i =>
      val rs = if (i % 2 == 0) s"rs${1000 + i}" else "."
      s"chr1\t${752000 + 100 * i}\t$rs\tA\tG\t50\tPASS\tDP=${10 + i}"
    })

  /** Two samples; 1 + 2 + 1 ALT alleles = 4 variants, 4 × 2 = 8
    * genotype rows. */
  private def genotyped(): String = writeVcf("geno.vcf", Seq("S1", "S2"), Seq(
    "chr1\t100\trs11\tA\tG\t50\tPASS\tDP=20\tGT:DP:GQ\t0/1:20:40\t0/0:22:50",
    "chr1\t200\t.\tC\tT,A\t60\tPASS\tDP=30\tGT:DP:GQ\t1/2:15:30\t0/1:18:45",
    "chr2\t300\trs33\tG\tA\t70\tPASS\tDP=25\tGT:DP:GQ\t1/1:25:60\t./.:.:."))

  private def ledger(db: String) = spark.read.parquet(s"$db/ledger")

  test("force-reload replaces the batch instead of duplicating it (hermetic twin)") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = tenSnps()
    Graft.run(spark, Array("load", vcf, "--db", db))
    assert(spark.read.parquet(s"$db/variants").count() == 10)
    Graft.run(spark, Array("load", vcf, "--db", db, "--force-reload"))
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == 10)
    assert(v.select($"load_batch_id").distinct().count() == 1)
    assert(ledger(db).filter($"status" === "completed").count() == 2)
    // both covering projections follow the store: 5 rsID rows, one batch
    val rs = spark.read.parquet(s"$db/rsid_idx")
    assert(rs.count() == 5)
    assert(rs.select($"load_batch_id").distinct().collect().toSeq ==
      v.select($"load_batch_id").distinct().collect().toSeq)
  }

  test("force-reload keeps genotype counts stable and drops the old batch's rows (hermetic twin)") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = genotyped()
    Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes"))
    assert(spark.read.parquet(s"$db/variants").count() == 4)
    val n0 = spark.read.parquet(s"$db/genotypes").count()
    assert(n0 == 8)
    Graft.run(spark, Array("load", vcf, "--db", db, "--force-reload",
      "--store-genotypes"))
    val g = spark.read.parquet(s"$db/genotypes")
    assert(g.count() == 8)
    assert(g.select($"load_batch_id").distinct().count() == 1)
    assert(spark.read.parquet(s"$db/variants").count() == 4)
  }

  test("failed load writes a 'failed' ledger row, and skip never honors it (hermetic twin)") {
    val db = Files.createTempDirectory("graftdb").toString
    val vcf = tenSnps()
    intercept[NumberFormatException] {
      Graft.run(spark, Array("load", vcf, "--db", db,
        "--min-info-score", "not-a-number"))
    }
    assert(ledger(db).filter($"status" === "failed").count() == 1)
    assert(ledger(db).filter($"status" === "in_progress").count() == 1)
    assert(ledger(db).filter($"status" === "completed").count() == 0)
    Graft.run(spark, Array("load", vcf, "--db", db))
    assert(spark.read.parquet(s"$db/variants").count() == 10)
    assert(ledger(db).filter($"status" === "completed").count() == 1)
  }

  test("multi-file cohort load accumulates batches; per-batch ledger counts (hermetic twin)") {
    val db = Files.createTempDirectory("graftdb").toString
    // A: 1 + 2 + 3 + 1 + 1 = 8 variants, 16 genotype rows
    val vcfA = writeVcf("a.vcf", Seq("S1", "S2"), Seq(
      "chr1\t54712\trs54712\tT\tC\t50\tPASS\tDP=20\tGT\t0/1\t0/0",
      "chr1\t1000\t.\tA\tG,T\t50\tPASS\tDP=20\tGT\t1/2\t0/1",
      "chr1\t2000\t.\tC\tA,G,T\t50\tPASS\tDP=20\tGT\t0/3\t2/2",
      "chr2\t500\trs500\tG\tA\t50\tPASS\tDP=20\tGT\t1/1\t0/1",
      "chr2\t600\t.\tT\tC\t50\tPASS\tDP=20\tGT\t0/0\t0/1"))
    // B: 4 variants, 8 genotype rows
    val vcfB = writeVcf("b.vcf", Seq("S3", "S4"), Seq(
      "chr1\t3000\trs3000\tG\tC\t50\tPASS\tDP=20\tGT\t0/1\t1/1",
      "chr1\t4000\t.\tA\tT\t50\tPASS\tDP=20\tGT\t0/0\t0/1",
      "chr3\t100\t.\tC\tG\t50\tPASS\tDP=20\tGT\t0/1\t0/0",
      "chr3\t200\trs200\tT\tA\t50\tPASS\tDP=20\tGT\t1/1\t1/1"))
    Graft.run(spark, Array("load", vcfA, "--db", db, "--store-genotypes"))
    assert(spark.read.parquet(s"$db/variants").count() == 8)
    Graft.run(spark, Array("load", vcfB, "--db", db, "--store-genotypes"))
    val v = spark.read.parquet(s"$db/variants")
    assert(v.count() == 12)
    assert(v.select($"load_batch_id").distinct().count() == 2)
    assert(spark.read.parquet(s"$db/genotypes").count() == 24)
    val perLedger = ledger(db).filter($"status" === "completed")
      .select($"load_batch_id", $"n_variants").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perBatch = v.groupBy($"load_batch_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLedger == perBatch)
    assert(perBatch.values.toSeq.sorted == Seq(4L, 8L))
    val aOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(aOut)) {
      Graft.run(spark, Array("lookup", "chr1:54712", "--db", db))
    }
    assert(aOut.toString.contains("pos=54712"), aOut.toString)
    // re-load of A skips
    val sOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(sOut)) {
      Graft.run(spark, Array("load", vcfA, "--db", db, "--store-genotypes"))
    }
    assert(sOut.toString.contains("skip: file already loaded"), sOut.toString)
    assert(spark.read.parquet(s"$db/variants").count() == 12)
    val orphans = spark.read.parquet(s"$db/genotypes")
      .select($"chrom", $"pos", $"ref", $"alt").distinct()
      .join(v.select($"chrom", $"pos", $"ref", $"alt").distinct(),
        Seq("chrom", "pos", "ref", "alt"), "left_anti").count()
    assert(orphans == 0)
    val vOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(vOut)) {
      Graft.run(spark, Array("validate", "--db", db))
    }
    assert(vOut.toString.contains("duplicate_sites=0"), vOut.toString)
    assert(vOut.toString.linesIterator
      .count(l => l.startsWith("batch ") && l.endsWith(" ok")) == 2, vOut.toString)
    assert(!vOut.toString.contains("MISMATCH"), vOut.toString)
    // force-reload of A replaces only A's batch
    val before = v.select($"load_batch_id").distinct()
      .collect().map(_.getString(0)).toSet
    Graft.run(spark, Array("load", vcfA, "--db", db, "--force-reload",
      "--store-genotypes"))
    val v2 = spark.read.parquet(s"$db/variants")
    assert(v2.count() == 12)
    val after = v2.select($"load_batch_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(after.size == 2)
    assert((after -- before).size == 1)
    assert(v2.filter($"pos" === 54712L).count() == 1)
    assert(spark.read.parquet(s"$db/genotypes").count() == 24)
  }
}
