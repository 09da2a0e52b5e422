package graft.sinks

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import WritePlan._

/** The write-shape decision table: one case per shape, plus the routing
  * cases the load and import paths depend on. Asserts on the plan value,
  * never on file listings. */
class WritePlanSpec extends AnyFunSuite {

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val table = schema(
    "chrom" -> StringType, "pos" -> LongType, "ref" -> StringType,
    "alt" -> StringType, "rs_id" -> StringType, "gene" -> StringType,
    "impact" -> StringType, "consequence" -> StringType,
    "variant_id" -> StringType, "load_batch_id" -> StringType,
    "qual" -> DoubleType)
  private val geneCols = (Writers.GeneIndexColumns :+ "load_batch_id").toSet
  // the projection shapes `variants(db)` declares, as written by a load
  private val rsid = Projection("rsid_idx", Some(StructType(table.fields.reverse)))
  private val gene = Projection("gene_idx",
    Some(StructType(table.fields.filter(f => geneCols(f.name)))), Some(geneCols))
  private val store = State(Some(table), Seq(rsid, gene))
  private val batch = table
  private val reload = Seq("load_batch_id" -> "b-old")

  test("no table: a fresh swap") {
    assert(plan(State(None, Seq(rsid.copy(schema = None), gene.copy(schema = None))),
      batch, Nil) == FreshSwap)
  }

  test("a zero-variant batch on a fresh db creates no store") {
    assert(plan(State(None), batch, Nil, emptyBatch = true) == NoOp)
    // on an existing store an empty batch appends nothing, like any other
    assert(plan(store, batch, Nil, emptyBatch = true) == Append)
  }

  test("a new file on an append-ready store appends") {
    assert(misfit(store, batch).isEmpty)
    assert(plan(store, batch, Nil) == Append)
    // a batch missing table columns still appends (null-padded)
    assert(plan(store, StructType(batch.fields.filterNot(_.name == "qual")),
      Nil) == Append)
  }

  test("force-reload: append-ready store drops then appends; a drifted store rewrites") {
    assert(plan(store, batch, reload) == DropThenAppend(reload))
    val wider = batch.add("in_hapmap3", BooleanType)
    assert(plan(store, wider, reload) == Rewrite(reload))
    assert(misfit(store, wider) == Seq("new column(s) in_hapmap3"))
  }

  test("schema evolution without a reload rewrites and keeps every row") {
    assert(plan(store, batch.add("popmax_af", DoubleType), Nil) == Rewrite(Nil))
  }

  test("a slim legacy rsid_idx routes to the rewrite") {
    val slim = rsid.copy(schema = Some(schema("rs_id" -> StringType,
      "chrom" -> StringType, "pos" -> LongType, "variant_id" -> StringType)))
    val st = store.copy(projections = Seq(slim, gene))
    assert(plan(st, batch, Nil) == Rewrite(Nil))
    assert(misfit(st, batch) == Seq("rsid_idx not in its covering shape"))
  }

  test("an 8-column legacy gene_idx without load_batch_id routes to the rewrite") {
    val legacy = gene.copy(schema = Some(StructType(
      table.fields.filter(f => Writers.GeneIndexColumns.contains(f.name)))))
    assert(legacy.schema.get.length == 8)
    val st = store.copy(projections = Seq(rsid, legacy))
    assert(plan(st, batch, reload) == Rewrite(reload))
  }

  test("an absent or unreadable projection routes to the rewrite") {
    assert(plan(store.copy(projections = Seq(rsid, gene.copy(schema = None))),
      batch, Nil) == Rewrite(Nil))
  }

  test("common-column type drift rewrites: numeric chrom from partition inference") {
    val intChrom = StructType(table.fields.map(f =>
      if (f.name == "chrom") f.copy(dataType = IntegerType) else f))
    val st = State(Some(intChrom), Seq(
      rsid.copy(schema = Some(intChrom)),
      gene.copy(schema = Some(StructType(intChrom.fields.filter(f => geneCols(f.name)))))))
    assert(plan(st, batch, Nil) == Rewrite(Nil))
    assert(misfit(st, batch) ==
      Seq("type drift (chrom: StringType vs table IntegerType)"))
    // a projection alone carrying the drifted type is not covering either
    val drifted = store.copy(projections = Seq(rsid.copy(schema = Some(intChrom)), gene))
    assert(plan(drifted, batch, Nil) == Rewrite(Nil))
  }

  test("imports: a fitting batch drops its key then appends; drift rewrites") {
    val facts = schema("study_accession" -> StringType,
      "variant_id" -> StringType, "beta" -> DoubleType)
    val key = Seq("study_accession" -> "GCST1")
    assert(plan(State(Some(facts)), facts, key) == DropThenAppend(key))
    assert(plan(State(Some(facts)),
      schema("study_accession" -> StringType, "beta" -> FloatType), key) ==
      Rewrite(key))
    assert(plan(State(None), facts, key) == FreshSwap)
  }

  test("a table lacking the import key column takes the staged fresh swap") {
    val legacy = schema("variant_id" -> StringType, "beta" -> DoubleType)
    val keys = Seq("source" -> "gnomAD", "subset" -> "all")
    assert(plan(State(Some(legacy)), legacy, keys) == FreshSwap)
    assert(plan(State(Some(legacy.add("source", StringType))), legacy, keys) ==
      FreshSwap)
  }
}

/** The executor's per-key arms end to end on a plain fact table (the
  * import verbs' shape), independent of the verbs' input files. */
class WritePlanLandSpec extends graft.SparkSpec {
  import spark.implicits._

  test("per-key land: fresh swap, drop-then-append, coexisting keys, drift rewrite, legacy swap") {
    val root = java.nio.file.Files.createTempDirectory("land")
    val dir = root.resolve("facts").toString
    val fam = WritePlan.plain(dir)
    def values(k: String): Seq[Long] = spark.read.parquet(dir)
      .filter($"k" === k).select($"v").as[Long].collect().toSeq.sorted
    def files: Set[(String, Long)] = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir)).toArray.toSeq.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .map(p => p -> new java.io.File(p).lastModified()).toSet
    WritePlan.land(spark, fam, Seq(("A", 1L), ("A", 2L)).toDF("k", "v"), Seq("k" -> "A"))
    WritePlan.land(spark, fam, Seq(("B", 5L)).toDF("k", "v"), Seq("k" -> "B"))
    val bFiles = files.filter { case (p, _) =>
      spark.read.parquet(p).filter($"k" === "B").count() > 0 }
    WritePlan.land(spark, fam, Seq(("A", 3L)).toDF("k", "v"), Seq("k" -> "A"))
    assert(values("A") == Seq(3L))
    assert(values("B") == Seq(5L))
    // B's files survive untouched: the re-import touched A's files only
    assert(bFiles.nonEmpty && bFiles.subsetOf(files))
    // a batch with a new column rewrites the table, keeping B
    WritePlan.land(spark, fam, Seq(("A", 4L, 0.5)).toDF("k", "v", "w"), Seq("k" -> "A"))
    val t = spark.read.parquet(dir)
    assert(t.columns.contains("w"))
    assert(values("A") == Seq(4L) && values("B") == Seq(5L))
    assert(t.filter($"k" === "B" && $"w".isNull).count() == 1)
    // a table predating the key column is replaced whole, by a staged swap
    val legacy = root.resolve("legacy").toString
    Seq(1L, 2L).toDF("v").write.parquet(legacy)
    WritePlan.land(spark, WritePlan.plain(legacy), Seq(("A", 9L)).toDF("k", "v"),
      Seq("k" -> "A"))
    assert(spark.read.parquet(legacy).as[(String, Long)].collect().toSeq ==
      Seq(("A", 9L)))
    val residue = root.toFile.list().filter(n => n.contains(".tmp-") || n.contains(".old-"))
    assert(residue.isEmpty, residue.mkString(","))
  }
}
