package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: one session per suite (lazy),
  * small shuffle partition count, ANSI off (classic permissive casts).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Path of a read-only reference fixture. The expected values of the
    * specs that read these are tied to the exact files, so where a file
    * is absent the calling test cancels with the missing path named
    * rather than failing; call it on the test thread, before any
    * `intercept`, thread or `Future`. */
  def fixture(name: String): String = {
    val path = s"/root/reference/tests/fixtures/$name"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
      s"reference fixture $path not available")
    path
  }
  val sfDir = "/root/testdata/sf0.001"
}
