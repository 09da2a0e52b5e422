package cohortbench

import org.apache.spark.sql.functions._

/** A genotyped cohort arriving one VCF at a time, then served. A round
  * builds a store from nothing: a fresh-db load, cohort appends of the
  * other batches, a force-reload of one batch; then point, 100 kb region,
  * rsID, gene and genotype probes through `PointLookup` on the appended
  * store, `compact`, and the same probes on the compacted store. */
final class Cohort(ctx: Ctx) extends Workload(ctx) {
  import Cohort._
  private var batches: Seq[Gen.Batch] = Nil
  private var kit: Seq[Gen.Batch] = Nil
  /** The last round's store, kept for the traced run's replay. */
  private var lastDb: Option[String] = None

  def generate(): Unit = {
    batches = (0 until Batches).map(b =>
      Gen.vcf(ctx.seed, b, Shape, ctx.dir(s"in/batch$b.vcf")))
    kit = Seq(Gen.vcf(ctx.seed + 7, 0, WarmShape, ctx.dir("warm/batch0.vcf")))
  }

  def perRound: Seq[(String, Int)] =
    Seq("load_fresh" -> 1, "load_append" -> (Batches - 1), "reload" -> 1, "compact" -> 1) ++
      (for (ph <- Probes.Phases; k <- Probes.Kinds) yield s"lookup.$ph.$k" -> PerKind)

  private def load(b: Gen.Batch, db: String, extra: String*): Unit =
    ctx.verb(Seq("load", b.path, "--db", db, "--store-genotypes") ++ extra: _*)

  /** A fresh load and the probes, untimed, on a small store of their own.
    * The append, the force-reload and `compact` run the same parse and
    * write paths, so they are not warmed separately: each costs about as
    * much run time as a load, which the run does not have to spare. */
  def prepare(): Unit = {
    val db = ctx.dir("warm/db")
    load(kit.head, db)
    Probes.mix(ctx, kit, db, 0, PerKind).foreach(_.run())
    ctx.rm(db)
  }

  def round(r: Int, check: Option[Checker]): Unit = {
    lastDb.foreach(ctx.rm)
    val db = ctx.dir(s"db-$r")
    ctx.op("load_fresh")(load(batches.head, db))
    batches.tail.foreach(b => ctx.op("load_append")(load(b, db)))
    check.foreach(c => checkCounts(c, db, "before_reload", loads = Batches))
    ctx.op("reload")(load(batches(1), db, "--force-reload"))
    check.foreach { c =>
      checkCounts(c, db, "after_reload", loads = Batches + 1)
      checkRecords(c, db)
      checkAudit(c, db)
      System.err.println(s"[cohortbench] appended store holds ${Replay.usage(db)._1.toLong} parquet files")
    }
    val ps = Probes.mix(ctx, batches, db, r, PerKind)
    Probes.serve(ctx, ps, "frag", check)
    Probes.compact(ctx, db)
    Probes.serve(ctx, ps, "compacted", check)
    lastDb = Some(db)
  }

  /** The run's own batches and last store; the analysis layers replay on
    * study files, a corpus and vectors generated against them. */
  def replayInputs(): Replay.Inputs =
    Replay.Inputs(batches, lastDb.get,
      Analysis.side(ctx, batches, "in", Analysis.PlantsEach), serve = false)

  // -------------------------------------------------------------- checks

  /** Ledger rows, records per (batch, chrom) and genotype rows; run
    * before and after the force-reload, which must change none of them
    * but the ledger's. */
  private def checkCounts(c: Checker, db: String, stage: String, loads: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val ledger = spark.read.parquet(s"$db/ledger").filter($"status" === "completed")
      .select($"load_batch_id", $"file_path").as[(String, String)].collect()
    c.eqLong(s"cohort.$stage.ledger_completed_rows", loads, ledger.length)
    // each completed ledger row names the file, and so the batch, it loaded
    val batchOf = ledger.map { case (id, path) => id -> batches.indexWhere(_.path == path) }.toMap
    c.eqCounts(s"cohort.$stage.records_per_batch_chrom",
      batches.flatMap(b => b.recs.groupBy(_.chrom).map { case (ch, rs) =>
        (b.index, ch) -> rs.size.toLong }).toMap,
      spark.read.parquet(s"$db/variants").groupBy($"load_batch_id", $"chrom").count().collect()
        .map(r => (batchOf.getOrElse(r.getString(0), -1), r.getString(1)) -> r.getLong(2)).toMap)
    c.eqLong(s"cohort.$stage.genotype_rows", batches.map(_.genotypeRows).sum,
      spark.read.parquet(s"$db/genotypes").count())
  }

  /** Every stored record in its normalised form, the records normalisation
    * changed, and Σ INFO DP. */
  private def checkRecords(c: Checker, db: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val v = spark.read.parquet(s"$db/variants")
    c.eqBag("cohort.normalised_records", batches.flatMap(_.recs.map(_.key)),
      v.select(concat_ws(":", $"chrom", $"pos", $"ref", $"alt")).as[String].collect().toSeq)
    c.eqLong("cohort.info_dp_sum", batches.flatMap(_.recs).map(_.dp.toLong).sum,
      v.agg(sum($"info"("DP").cast("long"))).head.getLong(0))
    c.eqLong("cohort.normalised_flag", batches.flatMap(_.recs).count(_.normalized),
      v.filter($"normalized").count())
  }

  private def checkAudit(c: Checker, db: String): Unit = {
    val ok = scala.util.Try(ctx.verb("audit-verify", "--db", db)).isSuccess
    val log = new graft.audit.Audit.AuditLog(ctx.spark, s"$db/audit_log").read()
    // the perturbed input: a copy of the log with one entry's action rewritten
    val tampered = log.withColumn("action",
      when(col("audit_id") === 2L, lit("load forged.vcf")).otherwise(col("action")))
    def valid(df: org.apache.spark.sql.DataFrame) =
      graft.audit.Audit.verifyChain(df).filter(!col("chain_valid")).count() == 0
    c.holds("cohort.audit_verify", ok && valid(log), valid(tampered),
      "audit-verify rejected the chain the run wrote")
  }
}

object Cohort {
  val Batches = 2
  val PerKind = 30
  /** ≈ 10,000 decomposed records a batch: the reference loader's parser
    * batch size (BASELINE.md, "Batch size guidance"); three batches make a
    * store of ≈ 30,000 records, the scale of the GIAB chr21 anchor. */
  val Shape = Gen.VcfShape(chroms = 4, sitesPerChrom = 2275, samples = 8)
  val WarmShape = Gen.VcfShape(chroms = 2, sitesPerChrom = 30, samples = 4)
}
