package graft.audit

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{Graft, SparkSpec}

/** `Ledger.checkExisting` reads the ledger on the driver. Its ledger
  * mixes two `completed_at` encodings: driver-side appends write INT64
  * micros, Spark-written files (init-db's empty ledger, a compacted
  * ledger) write INT96. Across a load → skip → force-reload → compact →
  * force-reload sequence the answer must always be the batch the store
  * holds: the one file's latest completed load. */
class LedgerSpec extends SparkSpec {
  import spark.implicits._

  /** 3 biallelic SNPs, no samples. */
  private def vcf(): String = {
    val p = Files.createTempDirectory("ledgervcf").resolve("a.vcf")
    Files.write(p, (Seq(
      "##fileformat=VCFv4.2",
      "##contig=<ID=chr1,length=248956422>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO") ++
      (1 to 3).map(i => s"chr1\t${100 * i}\t.\tA\tG\t50\tPASS\t."))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  /** The single batch the variants table holds. */
  private def storedBatch(db: String): String = {
    val ids = spark.read.parquet(s"$db/variants")
      .select($"load_batch_id").distinct().as[String].collect()
    assert(ids.length == 1, s"expected one stored batch: ${ids.toSeq}")
    ids.head
  }

  /** `completed_at`'s physical type in each ledger file. */
  private def encodings(db: String): Set[String] =
    new java.io.File(s"$db/ledger").listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .map { n =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$db/ledger/$n"),
            spark.sparkContext.hadoopConfiguration))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex("completed_at"))
            .asPrimitiveType.getPrimitiveTypeName.toString
        } finally r.close()
      }.toSet

  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("checkExisting picks the latest completed batch across both timestamp encodings, with no Spark job") {
    val db = Files.createTempDirectory("ledgerdb").toString
    val f = vcf()
    val hash = Audit.fileSha256(f)
    val ledger = new Audit.Ledger(spark, s"$db/ledger")
    Graft.run(spark, Array("init-db", "--db", db))
    assert(ledger.checkExisting(hash).isEmpty)

    def check(step: String): Unit = {
      val (got, jobs) = jobsDuring(ledger.checkExisting(hash))
      assert(got.contains(storedBatch(db)), s"$step: $got")
      assert(jobs == 0, s"$step: checkExisting started $jobs Spark job(s)")
    }
    Graft.run(spark, Array("load", f, "--db", db))
    assert(encodings(db) == Set("INT96", "INT64"), encodings(db))
    check("load")
    val first = storedBatch(db)
    Graft.run(spark, Array("load", f, "--db", db))
    check("skip")
    assert(storedBatch(db) == first, "a same-hash load must skip")
    Graft.run(spark, Array("load", f, "--db", db, "--force-reload"))
    check("force-reload")
    assert(storedBatch(db) != first)
    // every row of the compacted ledger is Spark-written (INT96)
    Graft.run(spark, Array("compact", "--db", db, "--tables", "ledger"))
    check("compact")
    assert(encodings(db) == Set("INT96"), encodings(db))
    // now INT96 history beside a fresh INT64 row
    Graft.run(spark, Array("load", f, "--db", db, "--force-reload"))
    check("force-reload after compact")
    assert(encodings(db) == Set("INT96", "INT64"), encodings(db))
    assert(spark.read.parquet(s"$db/ledger")
      .filter($"status" === "completed").count() == 3)
  }
}
