package cohortbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The traced run's replay phase: each layer's public function, called on
  * the traced workload's own inputs and store in the order the verbs call
  * them, each in its own span. Every traced run reports every layer: a
  * workload replays the layers it does not time on inputs generated for
  * it the way the other workload generates them (`Analysis.side`). */
object Replay {

  /** The traced workload's batches, a store holding them, its study
    * files, corpus and vectors. `serve` asks the replay to serve the probe
    * mix and `compact` on that store, for a workload whose rounds do not. */
  final case class Inputs(batches: Seq[Gen.Batch], db: String, side: Analysis.Side,
                          serve: Boolean)

  private val ProbesPerKind = 15

  def run(ctx: Ctx, t: Tracer, in: Inputs): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.timing = false
    val out = Seq.newBuilder[(String, Double, String)]
    def sec(name: String, v: Double) = out += ((name, v, "s"))
    def cnt(name: String, v: Double) = out += ((name, v, "count"))
    /** Run twice, report the second (warm) run; `output` is cleared first. */
    def layer[T](name: String, output: String = "")(body: => T): T = {
      if (output.nonEmpty) ctx.rm(output)
      body
      if (output.nonEmpty) ctx.rm(output)
      val (v, s, _) = t.span(s"replay.$name")(body)
      sec(name, s); v
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val scratch = ctx.dir("replay")
    val vcf = in.batches.head.path
    layer("audit.file_sha256_s")(graft.audit.Audit.fileSha256(vcf))
    val raw = graft.vcf.VcfReader.variants(spark, vcf)
    layer("vcf.parse_s")(noop(raw))
    cnt("vcf.records", raw.count())
    val norm = graft.vcf.VcfReader.variants(spark, vcf,
      graft.vcf.VcfReader.Options(normalize = true))
    layer("transform.normalized_parse_s")(noop(norm))
    val geno = graft.vcf.VcfReader.genotypes(spark, vcf)
    layer("vcf.genotypes_s")(noop(geno))
    cnt("vcf.genotype_rows", geno.count())
    layer("qc.variant_qc_s")(noop(graft.qc.VariantQc.withFrequencies(
      graft.qc.VariantQc.fromGenotypes(geno))))

    val sinks = s"$scratch/sinks"
    val v = graft.ingest.VariantMatching.withVariantId(norm).cache()
    v.count()
    for ((name, write) <- Seq[(String, String => Unit)](
        ("variants", graft.sinks.Writers.writeVariants(v, _)),
        ("rsid_idx", graft.sinks.Writers.writeRsidIndex(v, _)),
        ("gene_idx", graft.sinks.Writers.writeGeneIndex(v, _)),
        ("genotypes", graft.sinks.Writers.writeGenotypes(geno, _))))
      layer(s"sinks.write_${name}_s", s"$sinks/$name")(write(s"$sinks/$name"))
    v.unpersist()
    val (files, bytes) = usage(sinks)
    cnt("sinks.files_written", files)
    out += (("sinks.bytes_written", bytes, "B"))

    // the probe mix and `compact`, unless the workload's rounds timed them
    if (in.serve) {
      val ps = Probes.mix(ctx, in.batches, in.db, 0, ProbesPerKind)
      ps.foreach(_.run()) // warm the footer and listing caches
      ctx.timing = true
      Probes.serve(ctx, ps, "frag", None)
      Probes.compact(ctx, in.db)
      Probes.serve(ctx, ps, "compacted", None)
      ctx.timing = false
    }
    out ++= Probes.layerFigures(ctx)

    val g = spark.read.parquet(s"${in.db}/genotypes").withColumn("chrom", $"chrom".cast("string"))
    layer("qc.sample_qc_s")(noop(graft.qc.SampleQc.compute(g, graft.qc.VariantQc.fromGenotypes(g))))

    // `import-gwas`'s matching and harmonisation, on the verb's inputs
    val variants = spark.read.parquet(s"${in.db}/variants")
    val stats = layer("ingest.gwas_read_s") {
      val s = graft.ingest.GwasReader.read(spark, in.side.gwas.path); noop(s); s }
    val gMatched = layer("ingest.gwas_match_s") {
      graft.ingest.VariantMatching.matchToVariants(stats, variants)
        .filter($"variant_id".isNotNull)
        .join(variants.select($"variant_id", $"ref".as("_v_ref"), $"alt".as("_v_alt"),
          $"info"("AF").cast("double").as("_v_af")), Seq("variant_id"), "left")
        .withColumn("_h", graft.ingest.VariantMatching.harmonizeAlleles(
          $"effect_allele", $"other_allele", $"_v_ref", $"_v_alt",
          $"effect_allele_frequency", $"_v_af"))
        .count()
    }
    cnt("ingest.gwas_matched_rows", gMatched)
    val weights = layer("ingest.pgs_read_s") {
      val w = graft.ingest.PgsReader.read(spark, in.side.pgs.path)._2; noop(w); w }
    val matchedW = graft.ingest.VariantMatching.matchToVariants(weights, variants,
      chromCol = "chr_name", posCol = "chr_position").filter($"variant_id".isNotNull).cache()
    cnt("ingest.pgs_matched_rows", layer("ingest.pgs_match_s")(matchedW.count()))
    layer("prs.score_s")(graft.prs.PrsScoring.score(
      graft.ingest.VariantMatching.withVariantId(g), matchedW).collect())
    matchedW.unpersist()

    // `dedup --method minhash --staged` and `ann-topk --mode ivf --trained`
    // in their stages, at the verbs' settings, on the verbs' input files
    val docs = spark.read.parquet(in.side.docsPath)
    val sigPath = s"$scratch/signatures"
    layer("pipeline.signatures_s", sigPath) {
      graft.pipeline.Dedup.writeSignatures(
        graft.pipeline.Dedup.minhashSignatures(docs, "text", "doc_id", 3, 64), sigPath)
    }
    val pairs = graft.pipeline.Dedup.minhashCandidatePairsFromSignatures(
      spark.read.parquet(sigPath), "doc_id", "_sig", 64, 16).cache()
    val nPairs = layer("pipeline.candidate_pairs_s")(pairs.count())
    cnt("pipeline.candidate_pairs", nPairs)
    val good = pairs.filter($"est_jaccard" >= Analysis.Threshold)
    out += (("pipeline.pair_yield", good.count().toDouble / math.max(1L, nPairs), "ratio"))
    layer("pipeline.cluster_s")(graft.pipeline.Dedup.clusterPairs(good).count())
    pairs.unpersist()

    val vc = spark.read.parquet(in.side.vecPath).cache()
    val vq = spark.read.parquet(in.side.queryPath)
    vc.count()
    val cents = layer("pipeline.kmeans_s") {
      val c = graft.pipeline.Similarity.kmeansCentroids(vc, Analysis.Centroids).cache()
      c.count(); c
    }
    layer("pipeline.ivf_search_s")(noop(graft.pipeline.Similarity.ivfTopK(vc, vq, Analysis.K,
      nCentroids = Analysis.Centroids, nProbe = Analysis.NProbe, centroids = Some(cents))))
    vc.unpersist()
    out.result()
  }

  /** Parquet files and their bytes under a directory tree. */
  def usage(dir: String): (Double, Double) = {
    val files = org.apache.commons.io.FileUtils.listFiles(new File(dir), Array("parquet"), true)
    val it = files.iterator()
    var n = 0L; var b = 0L
    while (it.hasNext) { val f = it.next(); n += 1; b += f.length() }
    (n.toDouble, b.toDouble)
  }
}
