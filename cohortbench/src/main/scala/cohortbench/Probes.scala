package cohortbench

import scala.collection.mutable
import scala.util.Random

import graft.query.PointLookup

/** The probe mix served through `PointLookup` — point, 100 kb region,
  * rsID, gene and genotype probes at keys the generator placed — and the
  * `compact` between its two phases. The `cohort` workload times it in
  * every round; a traced `analysis` run replays it on its own store. */
object Probes {

  val Phases = Seq("frag", "compacted")
  val Kinds = Seq("position", "region", "rsid", "gene", "genotypes")

  /** A probe: its kind and key, the call that serves it, the generator's
    * answer, and a renderer of the program's rows into that answer's form. */
  final case class Probe(kind: String, key: String, run: () => Seq[Map[String, String]],
                         expected: Seq[String], render: Map[String, String] => String)

  private def variantRow(r: Map[String, String]) =
    s"${r("chrom")}:${r("pos")}:${r("ref")}:${r("alt")}"

  /** `perKind` probes of each kind, drawn from generator-placed keys and
    * interleaved so each kind meets both warm and cold caches. */
  def mix(ctx: Ctx, bs: Seq[Gen.Batch], db: String, r: Int, perKind: Int): Seq[Probe] = {
    val rnd = new Random(ctx.seed * 97 + r)
    val spark = ctx.spark
    val sites = bs.flatMap(_.sites).toIndexedSeq
    val byChrom = sites.flatMap(_.recs).groupBy(_.chrom).map { case (c, rs) => c -> rs.sortBy(_.pos) }
    val byRs = sites.flatMap(_.recs).filter(_.rs.isDefined).groupBy(_.rs.get)
    val byGene = sites.flatMap(_.recs).groupBy(_.gene)
    val rsKeys = byRs.keys.toIndexedSeq.sorted
    def site() = sites(rnd.nextInt(sites.size))
    Seq.fill(perKind) {
      val (s, t, u, v) = (site(), site(), site(), site())
      val rs = rsKeys(rnd.nextInt(rsKeys.size))
      val gene = u.recs.head.gene
      val hi = t.pos + 100000
      Seq(
        Probe("position", s"${s.chrom}:${s.pos}",
          () => PointLookup.byPosition(spark, s"$db/variants", s.chrom, s.pos),
          s.recs.map(_.key), variantRow),
        Probe("region", s"${t.chrom}:${t.pos}-$hi",
          () => PointLookup.byRegion(spark, s"$db/variants", t.chrom, t.pos, hi),
          byChrom(t.chrom).filter(x => x.pos >= t.pos && x.pos <= hi).map(_.key),
          variantRow),
        Probe("rsid", rs,
          () => PointLookup.byRsid(spark, s"$db/rsid_idx", s"$db/variants", rs),
          byRs(rs).map(_.key), variantRow),
        Probe("gene", gene,
          () => PointLookup.byGene(spark, s"$db/gene_idx", gene),
          byGene(gene).map(_.key), variantRow),
        Probe("genotypes", s"${v.chrom}:${v.pos}",
          () => PointLookup.genotypesAt(spark, s"$db/genotypes", v.chrom, v.pos, v.pos),
          v.recs.flatMap(x => v.calls.indices.map(i => s"${x.pos}:${x.rawAlt}:${v.gtString(i)}")),
          row => s"${row("pos")}:${row("alt")}:${row("gt")}"))
    }.flatten
  }

  /** Serve every probe as a `lookup.<phase>.<kind>` operation. With a
    * checker, every probe must return exactly the generator's records; the
    * same keys are probed in both phases, so both answers must agree. */
  def serve(ctx: Ctx, ps: Seq[Probe], phase: String, check: Option[Checker]): Unit = {
    val answers = ps.map { p =>
      val rows = ctx.op(s"lookup.$phase.${p.kind}")(p.run())
      if (ctx.timing && ctx.tracer.isDefined) ctx.note(s"rows.$phase.${p.kind}", rows.size)
      p -> rows
    }
    check.foreach { c =>
      Kinds.foreach { k =>
        val mine = answers.filter(_._1.kind == k)
        c.eqBag(s"probes.$phase.$k",
          mine.flatMap { case (p, _) => p.expected.map(e => s"${p.key}|$e") },
          mine.flatMap { case (p, rows) => rows.map(row => s"${p.key}|${p.render(row)}") })
      }
    }
  }

  /** The `compact` verb as a timed operation; a traced run notes the
    * store's parquet files before and after. */
  def compact(ctx: Ctx, db: String): Unit = {
    val noting = ctx.timing && ctx.tracer.isDefined
    if (noting) ctx.note("compact.files_before", Replay.usage(db)._1)
    ctx.op("compact")(ctx.verb("compact", "--db", db))
    if (noting) ctx.note("compact.files_after", Replay.usage(db)._1)
  }

  /** Per-layer figures of the traced probes and `compact` of this run. */
  def layerFigures(ctx: Ctx): Seq[(String, Double, String)] = {
    def notes(k: String) = ctx.notes.getOrElse(k, mutable.ArrayBuffer.empty[Double])
    Phases.flatMap { ph =>
      val kinds = Kinds.map(k => s"lookup.$ph.$k")
      val n = kinds.map(k => ctx.samples.get(k).fold(0)(_.size)).sum.toDouble
      val read = kinds.map(k => ctx.counters.getOrElse(k, Counters.zero).bytesRead).sum
      Kinds.map(k => (s"query.$ph.${k}_p50_ms",
        Main.median(ctx.samples.getOrElse(s"lookup.$ph.$k", Nil).toSeq), "ms")) ++ Seq(
        (s"query.$ph.bytes_read_per_lookup", read / n, "B"),
        (s"query.$ph.rows_per_lookup", Kinds.map(k => notes(s"rows.$ph.$k").sum).sum / n, "count"))
    } ++ Seq(
      ("sinks.compact_s", Main.median(ctx.samples.getOrElse("compact", Nil).toSeq) / 1e3, "s"),
      ("sinks.compact_files_before", Main.median(notes("compact.files_before").toSeq), "count"),
      ("sinks.compact_files_after", Main.median(notes("compact.files_after").toSeq), "count"),
      ("sinks.compact_bytes_rewritten",
        ctx.counters.getOrElse("compact", Counters.zero).bytesWritten.toDouble /
          math.max(1, ctx.samples.get("compact").fold(0)(_.size)), "B"))
  }
}
