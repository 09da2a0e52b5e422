package graft

import org.apache.spark.sql.functions._

/** r19 scale-safety pin for the spread helper (r18 verdict "what's
  * wrong" #2): the planned-split estimate must read file lengths through
  * the Hadoop FileSystem of the file's own scheme — java.io.File.length
  * returned 0 for any non-local URI, collapsing every cluster-storage
  * file to one planned split and inserting a spurious full-table
  * exchange at scale. Unknown lengths must err toward NOT spreading. */
class TablesSpreadSpec extends SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("plannedSplitsOf reads real local file lengths (ceil div)") {
    val f = java.nio.file.Files.createTempFile("graft_split_", ".bin")
    try {
      java.nio.file.Files.write(f, new Array[Byte](10 * 1024 * 1024))
      assert(Tables.plannedSplitsOf(f.toString, 4 * 1024 * 1024, hconf) === 3L)
      assert(Tables.plannedSplitsOf(s"file:$f", 4 * 1024 * 1024, hconf) === 3L)
      assert(Tables.plannedSplitsOf(f.toString, 128 * 1024 * 1024, hconf) === 1L)
      // a split size near Long.MaxValue must not wrap the ceiling negative
      assert(Tables.plannedSplitsOf(f.toString, Long.MaxValue, hconf) === 1L)
      // exact multiple: no extra split for a zero remainder
      java.nio.file.Files.write(f, new Array[Byte](8 * 1024 * 1024))
      assert(Tables.plannedSplitsOf(f.toString, 4 * 1024 * 1024, hconf) === 2L)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("unreadable lengths assume split-rich (no spread), never 0-splits") {
    // unregistered scheme — the exact failure mode java.io.File hid
    // (stat impossible), minus the network a hdfs:// probe would need
    val splits =
      Tables.plannedSplitsOf("nosuchfs://bucket/part-0.parquet",
        128 * 1024 * 1024, hconf, nFiles = 500)
    assert(splits > 1000000L,
      s"unknown length must read as split-rich, got $splits")
    // 500 such files must not overflow when summed
    assert((0 until 500).map(_ => splits).sum > 0)
    // missing LOCAL file: same direction
    assert(Tables.plannedSplitsOf("/no/such/dir/x.parquet",
      128 * 1024 * 1024, hconf) > 1000000L)
  }

  test("spreadBy is the identity when planned splits >= slots") {
    // createTempDirectory already makes the root, so the table goes to a
    // subpath (write.parquet refuses an existing dir). coalesce(1) keeps
    // it ONE file: under local[4] a plain write makes 4 part files, and
    // spreadBy's `files.length >= slots` early exit would then return
    // before any split is estimated, leaving the spread arm unreachable.
    val root = java.nio.file.Files.createTempDirectory("graft_spread_")
    val dir = root.resolve("t").toString
    try {
      spark.range(1000).toDF("id").coalesce(1).write.parquet(dir)
      val df = spark.read.parquet(dir)
      // force tiny splits so the (small) file plans >= 4 splits (slots=4)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
      try {
        val plan = Tables.spreadBy(df, col("id"))
          .queryExecution.optimizedPlan.toString
        assert(!plan.contains("Repartition"),
          s"expected identity at split-rich layout, got:\n$plan")
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
      // default 128 MB splits: one tiny file -> 1 split < 4 slots -> spread
      val plan2 = Tables.spreadBy(df, col("id"))
        .queryExecution.optimizedPlan.toString
      assert(plan2.contains("RepartitionByExpression"),
        s"expected a keyed spread on the under-parallel layout, got:\n$plan2")
    } finally graft.sinks.DbFs.deleteRecursive(root.toString)
  }
}
