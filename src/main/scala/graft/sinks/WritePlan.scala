package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** How a batch lands in a keyed table — `load`'s variants table with its
  * two covering projections, and the import verbs' fact tables. The shape
  * is decided once ([[plan]], a pure function of the store's state, the
  * batch schema and the drop key) and run by one executor ([[execute]]).
  *
  * The reference lands every batch one way: DELETE the same key's prior
  * rows and INSERT the new ones, in one transaction (`loader.py:244-252`).
  * A parquet store reaches the same result through four shapes:
  *   - FreshSwap: no usable table — the batch is staged as the whole
  *     table (every table of the family in one all-or-nothing swap);
  *   - Append: the batch lands as new files; no existing file is read or
  *     rewritten, so a load costs O(one VCF), not O(store);
  *   - DropThenAppend: the key's prior rows are dropped file-surgically
  *     (`Writers.dropKeyFiles`), then the batch appends;
  *   - Rewrite: the batch does not fit the table (new or retyped columns,
  *     legacy projections) — survivors plus batch are staged as a new
  *     table, unionByName reconciling the schemas.
  * NoOp is a zero-row batch on a db with no table: an empty partitioned
  * write leaves a marker-only directory no later read can infer a schema
  * from, so no table is created at all.
  *
  * Crash window: where the reference has one transaction, a failure
  * between a drop and its append leaves the key's rows absent (the
  * failed append's own files are dropped again) — re-running the verb
  * recovers. */
object WritePlan {

  sealed trait Shape { def appends: Boolean = false }
  case object NoOp extends Shape
  case object FreshSwap extends Shape
  case object Append extends Shape { override def appends = true }
  final case class DropThenAppend(keys: Seq[(String, String)]) extends Shape {
    override def appends = true
  }
  final case class Rewrite(keys: Seq[(String, String)]) extends Shape

  /** A table the executor writes: its logical dir, its writer
    * `(rows, path, mode)` and, for a projection, the columns it must
    * carry (None: every column of the primary table). */
  final case class Sink(dir: String, write: (DataFrame, String, String) => Unit,
                        columns: Option[Set[String]] = None)

  /** A primary table and the projections derived from its rows. */
  final case class Family(primary: Sink, projections: Seq[Sink] = Nil) {
    def sinks: Seq[Sink] = primary +: projections
    def dirs: Seq[String] = sinks.map(_.dir)
  }

  /** A projection's schema on disk (None: absent or unreadable). */
  final case class Projection(name: String, schema: Option[StructType],
                              columns: Option[Set[String]] = None)

  /** What the planner sees of a family before the write. */
  final case class State(table: Option[StructType],
                         projections: Seq[Projection] = Nil)

  /** The variants table and its covering rsID and gene projections. */
  def variants(db: String): Family = Family(
    Sink(s"$db/variants", (d, p, m) => Writers.writeVariants(d, p, m)),
    Seq(Sink(s"$db/rsid_idx", (d, p, m) => Writers.writeRsidIndex(d, p, m)),
      // load_batch_id is required: a force-reload drops a batch's index
      // rows by footer stats on it
      Sink(s"$db/gene_idx", (d, p, m) => Writers.writeGeneIndex(d, p, m),
        Some((Writers.GeneIndexColumns :+ "load_batch_id").toSet))))

  /** A plain parquet fact table (the import verbs). */
  def plain(dir: String): Family =
    Family(Sink(dir, (d, p, m) => d.write.mode(m).parquet(p)))

  def state(spark: SparkSession, fam: Family): State = {
    def schemaAt(dir: String) = {
      val phys = DbFs.resolvePath(dir)
      if (DbFs.exists(phys)) Some(spark.read.parquet(phys).schema) else None
    }
    State(schemaAt(fam.primary.dir), fam.projections.map { p =>
      // an unreadable projection (empty, no footer to infer from) routes
      // to the full rewrite, never fails the write
      Projection(p.dir, try schemaAt(p.dir) catch {
        case scala.util.control.NonFatal(_) => None }, p.columns)
    })
  }

  /** Why the batch cannot append to the table as it stands (empty: it
    * can). Name overlap is not enough: an append casts the batch to the
    * table's types, and a lossy cast nulls data silently — the concrete
    * trap is partition-type inference reading an all-numeric chrom layout
    * back as an integer, which would land a chrX batch in the null
    * partition. A projection must carry exactly its columns at the
    * table's types: a slim legacy rsid_idx, a gene_idx predating
    * load_batch_id, or a drifted projection would miss columns silently. */
  def misfit(state: State, batch: StructType): Seq[String] =
    state.table.toSeq.flatMap { t =>
      val types = t.fields.map(f => f.name -> f.dataType).toMap
      val extra = batch.fieldNames.filterNot(types.contains)
      val drift = batch.fields.toSeq.collect {
        case f if types.get(f.name).exists(_ != f.dataType) =>
          s"${f.name}: ${f.dataType} vs table ${types(f.name)}"
      }
      val stale = state.projections.filterNot { p =>
        val want = p.columns.getOrElse(types.keySet)
        p.schema.exists(s => s.fieldNames.toSet == want &&
          s.fields.forall(f => types.get(f.name).contains(f.dataType)))
      }
      (if (extra.isEmpty) Nil else Seq(s"new column(s) ${extra.mkString(",")}")) ++
        (if (drift.isEmpty) Nil else Seq(s"type drift (${drift.mkString("; ")})")) ++
        stale.map(p => s"${p.name} not in its covering shape")
    }

  /** The write shape. `drop` names the rows the batch replaces (Nil: none);
    * `emptyBatch` is a counted zero-row batch. */
  def plan(state: State, batch: StructType, drop: Seq[(String, String)],
           emptyBatch: Boolean = false): Shape = state.table match {
    case None => if (emptyBatch) NoOp else FreshSwap
    // a table predating the key column(s) holds no per-key rows to keep
    case Some(t) if !drop.forall(k => t.fieldNames.contains(k._1)) => FreshSwap
    case Some(_) =>
      if (misfit(state, batch).nonEmpty) Rewrite(drop)
      else if (drop.isEmpty) Append
      else DropThenAppend(drop)
  }

  /** `(name, phase) => Unit`: how the executor times its phases. */
  type Stage = (String, () => Unit) => Unit
  val untimed: Stage = (_, body) => body()

  /** Run `shape` for `batch`. `own` names the batch's own rows (the
    * failure rollback of an append drops exactly those). `counted`: the
    * caller has already cached and counted the batch; otherwise an
    * append-shaped write caches and counts it here, so a malformed input
    * (whose plan first executes here) fails BEFORE its key's prior rows
    * are dropped. `rewriteRows` finishes the survivors ∪ batch frame of
    * a Rewrite. */
  def execute(spark: SparkSession, fam: Family, state: State, shape: Shape,
              batch: DataFrame, own: Seq[(String, String)],
              counted: Boolean = false, stage: Stage = untimed,
              rewriteRows: DataFrame => DataFrame = identity): Unit = shape match {
    case NoOp => ()
    case FreshSwap =>
      if (state.table.isDefined)
        println(s"WARNING: existing ${fam.primary.dir} predates the batch's " +
          "key column(s); replacing the WHOLE table (prior rows are dropped)")
      // every table derives from the batch alone: one concurrent group
      stage("write_tables", () => Writers.replaceInPlaceAllStagedGrouped(Seq(
        fam.sinks.map(s => (s.dir,
          (tmps: Map[String, String]) => s.write(batch, tmps(s.dir), "overwrite"))))))
    case Rewrite(keys) =>
      val existing = spark.read.parquet(DbFs.resolvePath(fam.primary.dir))
      val survivors =
        if (keys.isEmpty) existing else existing.filter(!matching(keys))
      println(s"${fam.primary.dir}: ${misfit(state, batch.schema).mkString("; ")}" +
        " — full rewrite instead of batch append")
      stage("write_tables", () => rewrite(spark, fam,
        rewriteRows(survivors.unionByName(batch, allowMissingColumns = true))))
    case Append | DropThenAppend(_) =>
      val table = state.table.get
      val rows = alignTo(batch, table)
      if (!counted) rows.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        if (!counted) rows.count()
        shape match {
          case DropThenAppend(keys) =>
            stage("drop_prev_batch", () => dropKeys(spark, fam.dirs, keys))
          case _ => ()
        }
        // projection inputs: a covering projection takes its own column
        // order, a column-subset projection selects from the table rows
        val inputs = rows +: fam.projections.zip(state.projections).map {
          case (s, p) => if (s.columns.isEmpty) alignTo(rows, p.schema.get) else rows
        }
        try stage("write_tables", () => Writers.runConcurrently(
          fam.sinks.zip(inputs).map { case (s, in) =>
            () => s.write(in, DbFs.resolvePath(s.dir), "append") }))
        catch { case e: Throwable => rollback(spark, fam.dirs, own); throw e }
        // appends can land within the directory-mtime tick of a cached
        // probe listing (same JVM); swaps don't need this
        fam.dirs.foreach(graft.query.PointLookup.invalidateListings)
      } finally if (!counted) rows.unpersist()
  }

  /** Plan and execute a per-key replace (the import verbs). */
  def land(spark: SparkSession, fam: Family, batch: DataFrame,
           keys: Seq[(String, String)]): Unit = {
    val st = state(spark, fam)
    execute(spark, fam, st, plan(st, batch.schema, keys), batch, own = keys)
  }

  /** Stage `rows` as the family's whole primary table, with every
    * projection a column scan of the staged primary temp (not a re-run of
    * the incoming plan), all committed in one all-or-nothing swap: no
    * window where a new table is live with a stale projection (the
    * reference maintains its indexes inside the transaction,
    * `schema.py:347-359`). */
  def rewrite(spark: SparkSession, fam: Family, rows: DataFrame): Unit = {
    val p = fam.primary.dir
    Writers.replaceInPlaceAllStagedGrouped(
      Seq(Seq((p, (tmps: Map[String, String]) =>
        fam.primary.write(rows, tmps(p), "overwrite")))) ++
      Seq(fam.projections.map(s => (s.dir, (tmps: Map[String, String]) =>
        s.write(spark.read.parquet(tmps(p)), tmps(s.dir), "overwrite"))))
        .filter(_.nonEmpty))
  }

  /** Drop every row matching `keys` from each dir, file-surgically, and
    * forget cached probe listings of them. */
  def dropKeys(spark: SparkSession, dirs: Seq[String],
               keys: Seq[(String, String)]): Unit = {
    dirs.foreach(d => Writers.dropKeyFiles(spark, d, keys))
    dirs.foreach(graft.query.PointLookup.invalidateListings)
  }

  /** Best-effort removal of a failed append's own rows, each table on its
    * own (one unreadable table must not keep the others' rows). Files an
    * append wrote hold only its batch, so this is a rename per file. */
  def rollback(spark: SparkSession, dirs: Seq[String],
               own: Seq[(String, String)]): Unit =
    dirs.foreach { d =>
      try if (DbFs.exists(DbFs.resolvePath(d))) dropKeys(spark, Seq(d), own)
      catch { case _: Throwable => () }
    }

  private def matching(keys: Seq[(String, String)]): Column =
    keys.map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _)

  private def alignTo(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.toSeq.map(f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)): _*)
}
