package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** Every machine-read output is locale-safe: under a comma-decimal
  * default locale each JSON emitter still parses strictly, and the
  * synthetic VCF is byte-identical to its Locale.ROOT form (a comma in
  * `AF=0,1234` would read as two Number=A allele frequencies). */
class LocaleSafetySpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private def parse(s: String): JsonNode = mapper.readTree(s)

  private def underGermany[T](body: => T): T = {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try body finally Locale.setDefault(prev)
  }

  private def captured(args: Array[String]): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { Graft.run(spark, args) }
    out.toString
  }

  test("the locale under test really formats a comma decimal") {
    underGermany(assert(f"${1.5}%.2f" == "1,50"))
  }

  test("bench compact and final lines parse strictly under GERMANY") {
    underGermany {
      assert(Bench.sec(1.23456) == "1.235")
      assert(Bench.thr(12345.6) == "12346")
      val compact = parse(Bench.compactLineOf(
        Seq("q01" -> Bench.sec(0.1234), "parse1m_vs" -> Bench.thr(987654.3),
          "g_norm" -> Bench.num("%.4g", -0.0123), "lk_pos" -> "-1"),
        Seq("mh_10m"), 1.2345, "/data/sf0.1"))
      assert(compact.get("best").get("q01").asDouble() == 0.1234)
      assert(compact.get("best").get("g_norm").asDouble() == -0.01230)
      assert(compact.get("probe_best").asDouble() == 1.235)
      assert(compact.get("nc").get(0).asText() == "mh_10m")
      val fin = parse(Bench.finalLineOf(
        Seq("vcf_load_1m" -> 12.3456789, "q01_pricing_summary" -> 0.5,
          "g_ratio" -> Double.NaN), Set("q01_pricing_summary"), 166.25, "/d"))
      assert(fin.get("value").asDouble() == 166.25)
      assert(fin.get("queries").get("vcf_load_1m").asDouble() == 12.3457)
      assert(fin.get("queries").get("g_ratio").asInt() == -1)
      // headline medians print last
      assert(fin.get("queries").fieldNames().asScala.toSeq.last ==
        "q01_pricing_summary")
    }
  }

  test("load --report parses strictly under GERMANY") {
    val dir = Files.createTempDirectory("localereport")
    val vcf = dir.resolve("r.vcf")
    Files.write(vcf, java.util.Arrays.asList(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "chr1\t100\trs1\tA\tG\t50.5\tPASS\tDP=10"))
    val report = dir.resolve("report.json").toString
    underGermany(Graft.run(spark, Array("load", vcf.toString, "--db",
      dir.resolve("db").toString, "--report", report)))
    val js = parse(Files.readString(Paths.get(report)))
    assert(js.get("status").asText() == "success")
    assert(js.get("variants_loaded").asLong() == 1L)
    assert(js.get("elapsed_seconds").isNumber)
  }

  test("text-quality --json parses strictly under GERMANY") {
    val dir = Files.createTempDirectory("localetq")
    val corpus = dir.resolve("corpus").toString
    Seq((1L, "The quick brown fox jumps over the lazy dog near the river bank."),
      (2L, "A second document, written in plain English, with some words."))
      .toDF("doc_id", "text").write.parquet(corpus)
    val out = underGermany(captured(Array("text-quality", corpus, "--db",
      dir.resolve("db").toString, "--json")))
    val line = out.linesIterator.map(_.trim).filter(_.startsWith("{")).toSeq.last
    val js = parse(line)
    assert(js.get("docs").asLong() == 2L)
    assert(js.get("mean_quality").isNumber, line)
  }

  test("oracle_sql.json parses strictly under GERMANY") {
    val js = underGermany(parse(Verify.oracleSqlJson))
    assert(js.size() == SparkEntry.oracleSql.size)
  }

  test("SyntheticVcf output is byte-identical under GERMANY and ROOT") {
    val dir = Files.createTempDirectory("localevcf")
    def gen(name: String, locale: Locale): Array[Byte] = {
      val prev = Locale.getDefault
      Locale.setDefault(locale)
      try graft.vcf.SyntheticVcf.write(dir.resolve(name).toString, 300,
        seed = 7L, annFrac = 0.3)
      finally Locale.setDefault(prev)
      Files.readAllBytes(dir.resolve(name))
    }
    val root = gen("root.vcf", Locale.ROOT)
    val de = gen("de.vcf", Locale.GERMANY)
    assert(java.util.Arrays.equals(root, de))
    assert(new String(root, "UTF-8").contains(";AF=0."))
  }
}
