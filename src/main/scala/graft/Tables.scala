package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lazy accessors for the driver-generated parquet tables under one
  * scale-factor directory (see TESTDATA.md). All reads go through
  * `spark.read.parquet` so Catalyst gets full pushdown/pruning.
  */
final class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  lazy val region: DataFrame = t("region")
  lazy val nation: DataFrame = t("nation")
  lazy val customer: DataFrame = t("customer")
  lazy val supplier: DataFrame = t("supplier")
  lazy val part: DataFrame = t("part")
  lazy val orders: DataFrame = t("orders")
  lazy val lineitem: DataFrame = t("lineitem")
  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as a
    * long (spark.sql.legacy.parquet.nanosAsLong); convert to a proper
    * microsecond TimestampType here so downstream operators see a
    * timestamp (same truncation DuckDB applies to nanos).
    */
  lazy val events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t("events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: ns-since-epoch > 2^53 would lose precision
        // through double arithmetic
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }
  lazy val documents: DataFrame = t("documents")
  lazy val embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Scale-adaptive scan spreading (r18 optimization; guide §2.5 "input
    * skew" / §6 input-split sizing), keyed on the downstream
    * join/aggregation key: when a relation's PLANNED scan parallelism is
    * below the session's task slots, insert one hash exchange so the
    * per-row work downstream (expression evaluation, partial
    * aggregation, broadcast-join probing) uses every slot instead of the
    * one task a single-file, single-row-group input yields — parquet
    * cannot split below a row group, so a small driver-generated table
    * is otherwise a one-core scan stage no matter the cluster size. The
    * decision derives from the input layout (file bytes vs
    * `spark.sql.files.maxPartitionBytes`) against the runtime slot
    * count: at scale, where the scan already carries at least as many
    * splits as slots, this is the identity and no exchange is added.
    * Disable with spark.graft.spread=false (the A/B dial the
    * SpreadProbe uses).
    *
    * Keyed, not round-robin (measured, r18 batch 3): a hash exchange is
    * one the downstream operators REUSE — a groupBy/join clustered by a
    * subset of `keys` then needs no exchange of its own — and hash
    * placement is retry-deterministic for free, where a keyless
    * `repartition(n)` pays a local sort-before-repartition
    * (SPARK-23207). The partition count is EXPLICIT: a bare
    * repartition(cols) is AQE-coalescible, and on a kilobyte-scale local
    * table AQE folds it back to one post-shuffle partition — measured:
    * the un-pinned form lost every win on the documents table
    * (19 KB/partition, coalesced to 1) while keeping the exchange cost.
    * (The round-robin `spread(df)` variant was removed in r19: dead in
    * production since batch 3, and its retry-determinism rested on
    * sort-before-repartition, which Spark skips for unorderable column
    * types.)
    *
    * Semantics-neutral by construction: a repartition only changes row
    * placement, and every aggregate downstream is either exact (decimal
    * sums, counts, min/max) or order-canonicalized (sort_array, sorted
    * outputs). */
  def spreadBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    if (underParallel(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
    else df

  private def underParallel(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    if (!spark.conf.get("spark.graft.spread", "true").toBoolean) return false
    val slots = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    // each file is at least one split, so a relation with >= slots files
    // can never be under-parallel — skip the per-file stats entirely
    // (also bounds the stat work below to < slots calls at any scale)
    if (files.length >= slots) return false
    val maxPB = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val hconf = spark.sparkContext.hadoopConfiguration
    val plannedSplits =
      files.map(p => plannedSplitsOf(p, maxPB, hconf, files.length)).sum
    plannedSplits < slots
  }

  /** Planned splits of one input file under `maxPB`-byte splits —
    * [[spreadBy]]'s per-file estimate, and its test seam.
    *
    * Lengths come from the Hadoop FileSystem of the file's OWN scheme,
    * not java.io.File (r19 fix, r18 verdict "what's wrong" #2 / ADVICE):
    * java.io.File.length reads 0 for any non-local URI (hdfs://,
    * s3a://), which made every cluster-storage file count as ONE split,
    * so a many-file 100 TB table read as "under-parallel" and got a
    * spurious full-table exchange — at exactly the scale the
    * identity-at-scale invariant promises none. An UNREADABLE length now
    * errs the other way (Long.MaxValue/`nFiles`, i.e. assume split-rich,
    * add no exchange): a missed spread costs one under-parallel stage on
    * a kilobyte table; a spurious exchange at 100 TB is a catastrophe.
    *
    * The ceiling division is overflow-safe for any length `>= 0` and any
    * split size `>= 1`, up to `Long.MaxValue` for either: the classic
    * `(len + maxPB - 1) / maxPB` wrapped negative on the unreadable-length
    * fallback (and on a `maxPartitionBytes` near `Long.MaxValue`), which
    * planned ONE split — the very exchange the fallback exists to avoid. */
  private[graft] def plannedSplitsOf(p: String, maxPB: Long,
      hconf: org.apache.hadoop.conf.Configuration, nFiles: Int = 1): Long = {
    val len = try {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).getFileStatus(hp).getLen
    } catch { case _: Throwable => Long.MaxValue / math.max(1, nFiles) }
    math.max(1L, len / maxPB + (if (len % maxPB == 0) 0L else 1L))
  }

  /** Builds a session configured the way this engine expects: AQE on,
    * shuffle partitions sized for the local core count (never the 200
    * default), UTC for oracle parity. On a real cluster the same builder
    * is used with a cluster master; nothing here is local-mode-specific.
    */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
              shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
