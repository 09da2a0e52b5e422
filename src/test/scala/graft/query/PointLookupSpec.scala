package graft.query

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PointLookupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val (store, rsidIdx) = {
    val base = Files.createTempDirectory("ptlookup").toString
    val vcf = s"$base/v.vcf"
    graft.vcf.SyntheticVcf.write(vcf, 5000, seed = 7L)
    val v = graft.ingest.VariantMatching.withVariantId(
      graft.vcf.VcfReader.variants(spark, vcf))
    graft.sinks.Writers.writeVariants(v, s"$base/variants")
    graft.sinks.Writers.writeRsidIndex(
      spark.read.parquet(s"$base/variants"), s"$base/rsid_idx")
    (s"$base/variants", s"$base/rsid_idx")
  }

  test("byPosition returns exactly the Spark filter's rows, no Spark job") {
    val df = spark.read.parquet(store)
    val probes = df.select($"chrom", $"pos").distinct()
      .orderBy($"chrom", $"pos").limit(50).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(probes.nonEmpty)
    probes.foreach { case (chrom, pos) =>
      val direct = PointLookup.byPosition(spark, store, chrom, pos)
      val viaSpark = df.filter($"chrom" === chrom && $"pos" === pos).collect()
      assert(direct.length == viaSpark.length,
        s"count mismatch at $chrom:$pos — direct=${direct.length} spark=${viaSpark.length}")
      // field-level parity on the scalar identity columns
      val dKeys = direct.map(m => (m("ref"), m("alt"))).sorted
      val sKeys = viaSpark.map(r =>
        (r.getAs[String]("ref"), r.getAs[String]("alt"))).toSeq.sorted
      assert(dKeys == sKeys, s"rows differ at $chrom:$pos")
    }
  }

  test("byPosition on absent keys and absent partitions returns empty") {
    assert(PointLookup.byPosition(spark, store, "chr1", 1L).isEmpty)
    assert(PointLookup.byPosition(spark, store, "chrNO", 1L).isEmpty)
  }

  test("byRsid goes through the secondary projection and matches Spark") {
    val df = spark.read.parquet(store)
    val someRs = df.filter($"rs_id".isNotNull).select($"rs_id")
      .orderBy($"rs_id").limit(20).collect().map(_.getString(0))
    assert(someRs.nonEmpty)
    someRs.foreach { rs =>
      val direct = PointLookup.byRsid(spark, rsidIdx, store, rs)
      val n = df.filter($"rs_id" === rs).count()
      assert(direct.length == n, s"rsid $rs: direct=${direct.length} spark=$n")
      assert(direct.forall(_("rs_id") == rs))
    }
    assert(PointLookup.byRsid(spark, rsidIdx, store, "rs0").isEmpty)
  }

  test("byRegion returns exactly the Spark range filter's rows, pos-ordered") {
    val df = spark.read.parquet(store)
    val bounds = df.filter($"chrom" === "chr1")
      .agg(min($"pos"), max($"pos")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    // a window covering ~a third of chr1, plus edge and empty windows
    val mid = lo + (hi - lo) / 3
    Seq((lo, mid), (lo, lo), (hi + 1, hi + 100), (lo, hi)).foreach {
      case (a, b) =>
        val direct = PointLookup.byRegion(spark, store, "chr1", a, b)
        val viaSpark = df.filter($"chrom" === "chr1" && $"pos".between(a, b))
        assert(direct.length == viaSpark.count(), s"range [$a,$b]")
        // pos-sorted store ⇒ results come back in position order
        val ps = direct.map(_("pos").toLong)
        assert(ps == ps.sorted, s"range [$a,$b] not pos-ordered")
    }
  }

  test("byRegion keeps pos order across a multi-file chrom directory") {
    // the range-partitioned layout's whole point is several pos-disjoint
    // files per chrom dir; cross-file result order must not depend on
    // listStatus order (not contractual on any filesystem). Shrink the
    // AQE size floors so test-scale data fans out to multiple files.
    val base = Files.createTempDirectory("multifile").toString
    val vcf = s"$base/v.vcf"
    graft.vcf.SyntheticVcf.write(vcf, 20000, seed = 41L)
    val sized = Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16384",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    val prev = sized.keys.map(k => k -> spark.conf.getOption(k)).toMap
    sized.foreach { case (k, v) => spark.conf.set(k, v) }
    try graft.sinks.Writers.writeVariants(
      graft.vcf.VcfReader.variants(spark, vcf), s"$base/variants")
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val nFiles = new java.io.File(s"$base/variants/chrom=chr1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles > 1, s"need a multi-file chrom dir, got $nFiles file(s)")
    val df = spark.read.parquet(s"$base/variants")
    val bounds = df.filter($"chrom" === "chr1").agg(min($"pos"), max($"pos")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    // the full-span window necessarily crosses every file in the dir
    val rows = PointLookup.byRegion(spark, s"$base/variants", "chr1", lo, hi)
    assert(rows.length == df.filter($"chrom" === "chr1").count())
    val ps = rows.map(_("pos").toLong)
    assert(ps == ps.sorted, "cross-file results not pos-ordered")
  }

  test("randomized probe parity over an append-fragmented cohort db") {
    // the O(batch) cohort load appends files that OVERLAP prior batches'
    // key ranges — the layout every serving face must stay correct on.
    // Build a 3-batch db through the CLI verb, then drive each face with
    // seeded random probes (hits and misses alike) against the Spark
    // filter answer. This pins the page-range arithmetic of the cached
    // page-index fast path on multi-file, range-overlapping directories.
    val db = Files.createTempDirectory("bulkparity").toString + "/db"
    (0 until 3).foreach { i =>
      val vcf = s"${Files.createTempDirectory("bulkvcf")}/c$i.vcf"
      graft.vcf.SyntheticVcf.write(vcf, 3000, seed = 100L + i,
        samples = Seq("S1", "S2", "S3"))
      graft.Graft.run(spark, Array("load", vcf, "--db", db, "--store-genotypes"))
    }
    val v = spark.read.parquet(s"$db/variants").cache()
    assert(v.select($"load_batch_id").distinct().count() == 3)
    val rng = new scala.util.Random(7)
    val keys = v.select($"chrom", $"pos").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // point probes: 60 real sites + 20 misses (pos+1 is a miss unless it
    // collides with a real site — filter those out)
    val keySet = keys.toSet
    val hits = rng.shuffle(keys.toSeq).take(60)
    val misses = rng.shuffle(keys.toSeq).take(40)
      .map { case (c, p) => (c, p + 1) }.filterNot(keySet.contains).take(20)
    (hits ++ misses).foreach { case (chrom, pos) =>
      val direct = PointLookup.byPosition(spark, s"$db/variants", chrom, pos)
      val viaSpark = v.filter($"chrom" === chrom && $"pos" === pos).collect()
      assert(direct.length == viaSpark.length,
        s"$chrom:$pos direct=${direct.length} spark=${viaSpark.length}")
      val dk = direct.map(m => (m("ref"), m("alt"), m("load_batch_id"))).sorted
      val sk = viaSpark.map(r => (r.getAs[String]("ref"),
        r.getAs[String]("alt"), r.getAs[String]("load_batch_id"))).toSeq.sorted
      assert(dk == sk, s"rows differ at $chrom:$pos")
    }
    // region probes: 15 random windows per random chrom, parity + order
    val chroms = keys.map(_._1).distinct
    (0 until 15).foreach { _ =>
      val c = chroms(rng.nextInt(chroms.length))
      val ps = keys.filter(_._1 == c).map(_._2)
      val a = ps(rng.nextInt(ps.length)) - rng.nextInt(5000)
      val b = a + rng.nextInt(2000000)
      val direct = PointLookup.byRegion(spark, s"$db/variants", c, a, b)
      assert(direct.length ==
        v.filter($"chrom" === c && $"pos".between(a, b)).count(),
        s"region $c:$a-$b")
      val posSeq = direct.map(_("pos").toLong)
      assert(posSeq == posSeq.sorted, s"region $c:$a-$b not ordered")
    }
    // rsid probes through the appended covering projection
    val rs = v.filter($"rs_id".isNotNull).select($"rs_id").distinct()
      .collect().map(_.getString(0))
    rng.shuffle(rs.toSeq).take(25).foreach { id =>
      val direct = PointLookup.byRsid(spark, s"$db/rsid_idx",
        s"$db/variants", id)
      assert(direct.length == v.filter($"rs_id" === id).count(), s"rsid $id")
    }
    // genotype probes on the hive-partitioned append layout: each load's
    // files pos-sorted per task, overlapping the other loads' files
    val g = spark.read.parquet(s"$db/genotypes")
      .withColumn("chrom", $"chrom".cast("string")).cache()
    hits.take(25).foreach { case (chrom, pos) =>
      val direct = PointLookup.genotypesAt(spark, s"$db/genotypes",
        chrom, pos, pos)
      val n = g.filter($"chrom" === chrom && $"pos" === pos).count()
      assert(direct.length == n, s"genotypes $chrom:$pos " +
        s"direct=${direct.length} spark=$n")
    }
    v.unpersist(); g.unpersist()
  }

  test("a stale cached listing with dead file paths relists instead of failing") {
    // coarse directory-mtime granularity (or synthetic object-store
    // mtimes) can leave the listing cache holding paths a swap deleted;
    // the reader must invalidate + relist once, not throw. Simulate by
    // pinning the directory mtime across a rewrite.
    val base = Files.createTempDirectory("stalelist").toString
    val v1 = Seq(("chr1", 100L, "A", "G"), ("chr1", 200L, "C", "T"))
      .toDF("chrom", "pos", "ref", "alt")
    graft.sinks.Writers.writeVariants(v1, s"$base/variants")
    val dir = new java.io.File(s"$base/variants/chrom=chr1")
    // settle the cache: a listing is cached only once TWO consecutive
    // listings agree (no reader-clock comparison), so probe twice — the
    // stale-recovery paths below need the cache populated to be
    // exercised at all
    val mtime = System.currentTimeMillis() - 60000L
    assert(dir.setLastModified(mtime))
    assert(PointLookup.byPosition(spark, s"$base/variants", "chr1", 100L).nonEmpty)
    assert(PointLookup.byPosition(spark, s"$base/variants", "chr1", 100L).nonEmpty)
    // rewrite: new part files (new names), old paths now dead
    val v2 = Seq(("chr1", 100L, "A", "G"), ("chr1", 300L, "G", "A"))
      .toDF("chrom", "pos", "ref", "alt")
    graft.sinks.Writers.writeVariants(v2, s"$base/variants")
    assert(dir.setLastModified(mtime)) // cached listing now LOOKS fresh
    // path 1 — all-pruned staleness: pos=300 is OUTSIDE the dead files'
    // cached footer range [100,200], so every dead file prunes and no
    // open ever throws; the empty-result existence check must detect the
    // dead path and relist rather than silently answering "no rows"
    val rows = PointLookup.byPosition(spark, s"$base/variants", "chr1", 300L)
    assert(rows.nonEmpty, "all-pruned stale listing served a silent empty")
    assert(rows.head("pos") == "300")
    // path 2 — open-throws staleness: make the listing stale again, then
    // probe a key the dead footers ADMIT, so the open hits the missing
    // path and the FileNotFoundException retry recovers
    val mtime2 = System.currentTimeMillis() - 60000L
    assert(dir.setLastModified(mtime2))
    assert(PointLookup.byPosition(spark, s"$base/variants", "chr1", 300L).nonEmpty)
    assert(PointLookup.byPosition(spark, s"$base/variants", "chr1", 300L).nonEmpty)
    val v3 = Seq(("chr1", 100L, "A", "G"), ("chr1", 400L, "T", "A"))
      .toDF("chrom", "pos", "ref", "alt")
    graft.sinks.Writers.writeVariants(v3, s"$base/variants")
    assert(dir.setLastModified(mtime2))
    val rows2 = PointLookup.byPosition(spark, s"$base/variants", "chr1", 100L)
    assert(rows2.nonEmpty, "stale listing was not recovered by a relist")
    assert(rows2.head("pos") == "100")
  }

  test("an unsettled listing is not cached, so a same-tick cross-process " +
       "append stays visible") {
    // a listing is cached only once two consecutive listings observe
    // the same (mtime, file set) — judged purely from storage-side
    // observations, so reader/storage clock skew cannot cache
    // prematurely. A cross-process append between the first listing and
    // the next probe changes the file set, so the pair never settles
    // and the relist sees the appended file. Simulate a coarse mtime
    // tick by pinning the dir mtime across the append.
    val base = Files.createTempDirectory("settling").toString
    graft.sinks.Writers.writeVariants(
      Seq(("chr1", 100L, "A", "G")).toDF("chrom", "pos", "ref", "alt"),
      s"$base/variants")
    val dir = new java.io.File(s"$base/variants/chrom=chr1")
    val tick = System.currentTimeMillis() + 10000L
    assert(dir.setLastModified(tick))
    assert(PointLookup.byPosition(spark, s"$base/variants", "chr1", 100L).nonEmpty)
    // out-of-band append (another process's file), mtime tick unchanged
    graft.sinks.Writers.writeVariants(
      Seq(("chr1", 500L, "T", "C")).toDF("chrom", "pos", "ref", "alt"),
      s"$base/other")
    val src = new java.io.File(s"$base/other/chrom=chr1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, s"appended-${src.getName}").toPath)
    assert(dir.setLastModified(tick))
    val rows = PointLookup.byPosition(spark, s"$base/variants", "chr1", 500L)
    assert(rows.nonEmpty, "same-tick cross-process append was invisible")
    // lagging-storage-clock variant: the storage-assigned mtime is far in
    // the reader's PAST (the case a wall-clock-distance settle guard
    // cached prematurely on) — the first listing after a same-tick
    // append must still see the new file, because settling needs two
    // AGREEING listings, not an old-looking mtime
    val lag = System.currentTimeMillis() - 60000L
    assert(dir.setLastModified(lag))
    PointLookup.invalidateListings(s"$base/variants")
    assert(PointLookup.byPosition(spark, s"$base/variants", "chr1", 100L).nonEmpty)
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, s"appended2-${src.getName}").toPath)
    assert(dir.setLastModified(lag))
    val rows2 = PointLookup.byPosition(spark, s"$base/variants", "chr1", 500L)
    // two files now carry pos=500; both must serve
    assert(rows2.length == 2,
      s"lagging-clock same-tick append was invisible (${rows2.length} rows)")
  }

  test("byRsid falls back to two probes over a legacy slim index") {
    val base = Files.createTempDirectory("slimidx").toString
    val df = spark.read.parquet(store)
    // the pre-covering layout: 6 join-back columns only
    df.filter($"rs_id".isNotNull)
      .select($"rs_id", $"chrom", $"pos", $"ref", $"alt", $"variant_id")
      .repartitionByRange($"rs_id")
      .sortWithinPartitions($"rs_id")
      .write.parquet(s"$base/rsid_idx")
    val someRs = df.filter($"rs_id".isNotNull).select($"rs_id")
      .orderBy($"rs_id").limit(5).collect().map(_.getString(0))
    someRs.foreach { rs =>
      val direct = PointLookup.byRsid(spark, s"$base/rsid_idx", store, rs)
      assert(direct.length == df.filter($"rs_id" === rs).count())
      // the fallback serves FULL rows from the main store, not index rows
      assert(direct.forall(_.contains("variant_type")))
    }
  }

  test("byGene serves from the covering gene projection alone") {
    val base = Files.createTempDirectory("geneidx").toString
    val vcf = s"$base/ann.vcf"
    graft.vcf.SyntheticVcf.write(vcf, 5000, seed = 13L, annFrac = 0.5)
    val v = graft.ingest.VariantMatching.withVariantId(
      graft.vcf.VcfReader.variants(spark, vcf))
    graft.sinks.Writers.writeVariants(v, s"$base/variants")
    graft.sinks.Writers.writeGeneIndex(
      spark.read.parquet(s"$base/variants"), s"$base/gene_idx")
    val df = spark.read.parquet(s"$base/variants")
    val genes = df.filter($"gene".isNotNull).select($"gene")
      .distinct().orderBy($"gene").limit(20).collect().map(_.getString(0))
    assert(genes.nonEmpty)
    genes.foreach { g =>
      val direct = PointLookup.byGene(spark, s"$base/gene_idx", g)
      val viaSpark = df.filter($"gene" === g)
        .select($"chrom", $"pos", $"ref", $"alt", $"impact").collect()
      assert(direct.length == viaSpark.length,
        s"gene $g: direct=${direct.length} spark=${viaSpark.length}")
      val dKeys = direct.map(m =>
        (m("chrom"), m("pos").toLong, m("ref"), m("alt"), m.getOrElse("impact", ""))).sorted
      val sKeys = viaSpark.map(r => (r.getString(0), r.getLong(1),
        r.getString(2), r.getString(3),
        Option(r.getString(4)).getOrElse(""))).toSeq.sorted
      assert(dKeys == sKeys, s"rows differ for gene $g")
    }
    assert(PointLookup.byGene(spark, s"$base/gene_idx", "NO_SUCH_GENE").isEmpty)
  }

  test("a file replaced at the same path serves its new footer and page index") {
    // the file cache keys each file's footer and page indexes on its
    // (mtime, length): a same-path rewrite with other rows and another
    // length must be read through its NEW page index, not the cached
    // one whose page offsets point into the old bytes
    val base = Files.createTempDirectory("replaced").toString
    val store = s"$base/variants"
    val dir = new java.io.File(s"$store/chrom=chr1")
    assert(dir.mkdirs())
    val target = new java.io.File(dir, "part-00000.parquet").toPath
    def place(rows: Seq[(Long, String, String)], name: String): Unit = {
      rows.toDF("pos", "ref", "alt").coalesce(1).sortWithinPartitions($"pos")
        .write.option("parquet.page.row.count.limit", "512")
        .parquet(s"$base/$name")
      val part = new java.io.File(s"$base/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val v1 = (1L to 3000L).map(p => (p, "A", "G"))
    place(v1, "w1")
    val len1 = target.toFile.length
    // read pages of the first file, so its page indexes are cached
    assert(PointLookup.byPosition(spark, store, "chr1", 1500L)
      .map(_("alt")) == Seq("G"))
    val v2 = (2L to 6000L by 2L).map(p => (p, "C", s"T$p"))
    place(v2, "w2")
    assert(target.toFile.length != len1)
    PointLookup.invalidateListings(store)
    Seq(2L, 1500L, 2999L, 3000L, 4500L, 6000L).foreach { p =>
      val got = PointLookup.byPosition(spark, store, "chr1", p)
        .map(r => (r("pos").toLong, r("ref"), r("alt")))
      assert(got == v2.filter(_._1 == p), s"pos $p")
    }
    val region = PointLookup.byRegion(spark, store, "chr1", 1000L, 2000L)
      .map(r => (r("pos").toLong, r("ref"), r("alt")))
    assert(region == v2.filter { case (p, _, _) => p >= 1000L && p <= 2000L })
  }

  test("byGene prunes multi-byte UTF-8 gene names by unsigned order") {
    // parquet BINARY stats order unsigned: a file holding "ABC1" and
    // "ΩMEGA" has min "ABC1", max "ΩMEGA". A signed-byte compare reads
    // the 0xC3/0xCE-leading names as LESS than ASCII, so it would prune
    // that file for an "ÄRG1" probe and answer empty
    val base = Files.createTempDirectory("utf8gene").toString
    val genes = Seq("ABC1", "BRCA2", "TP53", "ÄRG1", "ΩMEGA", "ZNF9")
    val variants = genes.zipWithIndex.flatMap { case (g, i) =>
      (0 until 3).map(j => (g, "chr1", 100L * i + j, "A", "G", "HIGH",
        "missense_variant", s"v$i-$j"))
    }.toDF(graft.sinks.Writers.GeneIndexColumns: _*)
    graft.sinks.Writers.writeGeneIndex(variants, s"$base/gene_idx")
    val df = spark.read.parquet(s"$base/gene_idx")
    val fileOf = df.withColumn("f", input_file_name())
      .select($"gene", $"f").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(genes.filterNot(_.head < 128).exists(g =>
      genes.exists(a => a.head < 128 && fileOf(a) == fileOf(g))),
      "no file mixes ASCII and multi-byte gene names")
    genes.foreach { g =>
      val direct = PointLookup.byGene(spark, s"$base/gene_idx", g)
        .map(m => (m("gene"), m("chrom"), m("pos").toLong, m("variant_id")))
      val viaSpark = df.filter($"gene" === g)
        .select($"gene", $"chrom", $"pos", $"variant_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSeq.sortBy(_._3)
      assert(direct == viaSpark, s"gene $g")
      assert(direct.length == 3, s"gene $g")
    }
  }

  test("nested columns render: info map entries and filter arrays surface") {
    val df = spark.read.parquet(store)
    val probe = df.filter(element_at($"info", "DP").isNotNull)
      .select($"chrom", $"pos").head()
    val rows = PointLookup.byPosition(spark, store,
      probe.getString(0), probe.getLong(1))
    assert(rows.nonEmpty)
    assert(rows.head.get("info").exists(_.contains("DP=")))
  }
}
