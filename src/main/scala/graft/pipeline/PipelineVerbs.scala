package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.{arg, has, operand, tbl}
import graft.Json
import graft.sinks.{DbFs, WritePlan}

/** The pipeline verbs: the LLM-data operators with the genomics verbs'
  * discipline — writer lock + audit row (each writes tables under --db,
  * so all four are mutating verbs) and a one-line `--json` report. Each
  * verb is a thin face over the SAME oracle-keyed library calls the
  * p01/p07/p14-p16 query-catalog entries run, so the verb path produces
  * byte-identical outputs to the library path (GraftCliSpec pins this).
  * Not reference surface — the reference has no document pipeline. */
object PipelineVerbs {

  /** Closed-label-set histogram observed during a verb's write pass
    * (the single-pass report discipline): per-label conditional counts
    * plus an "other" count that trips loudly when a classifier gains a
    * label nobody registered here. */
  private def labelHistAggs(labels: Seq[String], c: Column,
                            prefix: String): Seq[Column] = {
    // NULL-safe: not(isin) is NULL (not true) for a NULL label, which
    // would count the row in NEITHER bucket and desync the histogram
    // sum from the row count — a NULL classifier output must land in
    // "other" like any other unregistered label.
    count(when(c.isNull || not(c.isin(labels: _*)), lit(1)))
      .as(s"${prefix}_other") +:
      labels.map(l => count(when(c === l, lit(1))).as(s"${prefix}_$l"))
  }

  /** Render the observed label counts as the report's JSON object —
    * only labels that occurred, ordered by count desc then label (or
    * label alone). */
  private def labelHistRender(labels: Seq[String], prefix: String,
      m: Map[String, _], byCountDesc: Boolean): String = {
    val other = m(s"${prefix}_other").asInstanceOf[Long]
    // Single-pass reporting can't name an unregistered label (the
    // groupBy that would is exactly the rescan we removed) — but a
    // nonzero "other" should be loud enough to chase, not just a
    // quiet bucket in the JSON.
    if (other > 0)
      System.err.println(s"[graft] WARNING: $other rows with an " +
        s"unregistered '$prefix' label landed in \"other\" — a " +
        s"classifier emitted a label not in {${labels.mkString(",")}}")
    (labels.map(l => (l, m(s"${prefix}_$l").asInstanceOf[Long])) ++
      Seq(("other", other)))
      .filter(_._2 > 0)
      .sortBy { case (l, c) => (if (byCountDesc) -c else 0L, l) }
      .map { case (l, c) => s"${Json.str(l)}:$c" }
      .mkString("{", ",", "}")
  }

  /** Replace each `$db/<table>` with its rows in ONE swap, observing
    * the table's aggregates over the rows as they are written — the
    * single-pass report: no count pre-pass over the input and no re-read
    * of the outputs after the swap. Returns each table's observed
    * values, in order. */
  private def rewriteObserved(spark: SparkSession, db: String,
      outs: (String, DataFrame, Seq[Column])*): Seq[Map[String, Any]] = {
    val obs = outs.map { case (t, _, _) => Observation(t) }
    WritePlan.rewrite(spark, outs.zip(obs).map { case ((t, rows, aggs), o) =>
      WritePlan.plain(s"$db/$t") -> rows.observe(o, aggs.head, aggs.tail: _*)
    })
    obs.map(_.get)
  }

  /** An observed count; a sum over no rows is null, read as 0. */
  private def long(m: Map[String, Any], k: String): Long =
    Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** `dedup` writes $db/dedup_corpus (kept docs — the output a training
    * pipeline feeds downstream), $db/dedup_clusters (membership),
    * and with --staged the method's derivation store: minhash →
    * $db/dedup_signatures (the 0.5 KB/doc signature relation the
    * scale path re-reads instead of re-hashing the corpus),
    * embedding → $db/dedup_vec_buckets (id, vec, nrm, one bucket
    * column per band — threshold/bands sweeps re-read it, fewer
    * bands column-prune). --method embedding dedups a VECTOR
    * corpus (default --id-col vec_id) by cosine >= --threshold
    * (default 0.95) over sign-LSH buckets — p12/p18's operator;
    * size --planes ~ log2(n / targetBucket) and --dim to the TRUE
    * vector length (an overstated dim degrades bucketing, see
    * Dedup.embeddingNearDup). --bands (1..dim/planes) is the
    * embedding recall dial (disjoint-component bands, recall
    * 1-(1-r)^bands at ~bands x candidate volume); for minhash it
    * keeps its signature-banding meaning (default 16). */
  def dedup(spark: SparkSession, args: Array[String], db: String): Unit = {
    import spark.implicits._
    val corpusPath = operand(args, "dedup")
    val method = arg(args, "--method").getOrElse("exact")
    val idCol = arg(args, "--id-col").getOrElse(
      if (method == "embedding") "vec_id" else "doc_id")
    val textCol = arg(args, "--text-col").getOrElse("text")
    val maxBucket = arg(args, "--max-bucket").map(_.toInt)
    // --staged persists the method's re-readable derivation store
    // (minhash: signatures; embedding: per-band buckets + norms);
    // --use-staged derives pairs from the EXISTING store without
    // re-staging — the sweep workflow (stage once at max dials,
    // then threshold/bands sweeps re-read the store; a re-run with
    // --staged would instead overwrite it at the new dials).
    // exact/simhash have no such store — rejecting beats a silent
    // no-op the caller believes landed
    val stagedStoreMethods = Set("minhash", "embedding")
    for (f <- Seq("--staged", "--use-staged")
         if has(args, f) && !stagedStoreMethods(method))
      sys.error(s"dedup: $f applies to --method minhash or embedding " +
        s"only (got --method $method)")
    if (has(args, "--use-staged") && has(args, "--staged"))
      sys.error("dedup: pick one of --staged (re-stage the store, " +
        "then derive) or --use-staged (derive from the existing " +
        "store without touching it)")
    // --use-staged derives at the dials the store was STAGED with:
    // embedding buckets fix --planes/--dim, minhash signatures fix
    // --sig-len/--shingle-k. An explicit flag for a store-fixed
    // dial would be silently overridden by the store — reject it
    // (same class as the storeless-method guard above; r16
    // advisory). The sweep dials — --threshold, --bands,
    // --max-bucket — stay live.
    if (has(args, "--use-staged")) {
      val storeFixed =
        if (method == "embedding") Seq("--planes", "--dim")
        else Seq("--sig-len", "--shingle-k")
      for (f <- storeFixed if arg(args, f).isDefined)
        sys.error(s"dedup: $f is fixed by the staged store and " +
          "would be ignored with --use-staged — re-stage with " +
          s"--staged $f ... to change it (sweep dials: " +
          "--threshold, --bands, --max-bucket)")
    }
    def stagedStore(table: String, stageHint: String): String = {
      val src = tbl(db, table)
      if (!DbFs.exists(src))
        sys.error(s"dedup: --use-staged found no $table under $db " +
          s"— run `dedup ... $stageHint --staged` once to stage it")
      src
    }
    // --staged: replace the store with the relation a later
    // --use-staged sweep derives from, and derive from it now too
    def stage(table: String, rows: DataFrame): DataFrame = {
      WritePlan.rewrite(spark, WritePlan.Family(
        WritePlan.Sink(s"$db/$table",
          (d, p, _) => Dedup.writeSignatures(d, p))), rows)
      spark.read.parquet(tbl(db, table))
    }
    val corpus = spark.read.parquet(corpusPath)
    // Single-pass report (r14 verdict #3): the input size is
    // observed on the corpus scan that feeds the kept write
    // (CollectMetrics is row-transparent, so the kept plan is
    // byte-identical), and output sizes are observed on the written
    // relations — no count() pre-pass over the input and no re-read
    // of the outputs after the swap.
    val obsIn = org.apache.spark.sql.Observation("dedup_in")
    val counted = corpus.observe(obsIn, count(lit(1)).as("n"))
    // Note on the two writes below (r14 advisory): clusterPairs
    // returns a localCheckpoint-BACKED relation (labels materialize
    // eagerly each round), so writing `clusters` and deriving `kept`
    // from it share ONE execution of the candidate-pair shuffle and
    // the iterative clustering — neither write re-runs the pair DAG.
    val (kept, clusters) = method match {
      case "exact" =>
        // clusters re-expressed in the near-dup (doc_id, cluster_id)
        // membership shape — same contract as clusterPairs: only
        // docs in a >1-member group appear, cluster_id = min id
        (Dedup.exactDedup(counted, textCol, idCol),
         Dedup.exactDupClusters(corpus, textCol, idCol)
           .select(explode($"doc_ids").as("doc_id"),
             array_min($"doc_ids").as("cluster_id")))
      case "minhash" =>
        val shingleK = arg(args, "--shingle-k").map(_.toInt).getOrElse(3)
        val sigLen = arg(args, "--sig-len").map(_.toInt).getOrElse(64)
        val bands = arg(args, "--bands").map(_.toInt).getOrElse(16)
        val threshold =
          arg(args, "--threshold").map(_.toDouble).getOrElse(0.5)
        // live / --staged: the width is sigLen, known up front —
        // reject a too-wide --bands before the signature job runs
        // (--use-staged checks against the store-probed width below)
        if (!has(args, "--use-staged") && (bands < 1 || bands > sigLen))
          sys.error(s"dedup: --bands $bands out of range for " +
            s"--sig-len $sigLen — need 1 <= bands <= sig-len " +
            "(an over-wide banding slices empty bands where every " +
            "document collides)")
        val pairs = if (has(args, "--use-staged")) {
          val sigs = spark.read.parquet(
            stagedStore("dedup_signatures", "--method minhash"))
          // the stored signature width IS the dial (explicit
          // --sig-len is rejected above): the store decides
          // rowsPerBand, so a store staged at 128 hashes sweeps
          // correctly with no flag. O(1) probe (one row); the
          // default only survives on an empty store, where there
          // are no pairs either way.
          val stored = sigs.select(size(col("_sig")).as("n"))
            .limit(1).collect()
          val storedLen =
            if (stored.nonEmpty) stored(0).getInt(0) else sigLen
          // --bands stays a live sweep dial, but it sweeps WITHIN
          // the stored width: more bands than stored hashes would
          // slice empty bands where every doc collides (the Dedup
          // require catches it too; fail here with the store's
          // width in the message, before any job runs)
          if (bands > storedLen)
            sys.error(s"dedup: --bands $bands exceeds the staged " +
              s"signature width $storedLen — sweep with --bands <= " +
              s"$storedLen, or re-stage wider with " +
              s"--staged --sig-len N")
          Dedup.minhashCandidatePairsFromSignatures(
            sigs, idCol, "_sig", storedLen, bands, maxBucket)
        } else if (has(args, "--staged")) {
          Dedup.minhashCandidatePairsFromSignatures(
            stage("dedup_signatures", Dedup.minhashSignatures(corpus,
              textCol, idCol, shingleK, sigLen)),
            idCol, "_sig", sigLen, bands, maxBucket)
        } else Dedup.minhashCandidatePairs(corpus, textCol, idCol,
          shingleK, sigLen, bands, maxBucket)
        val cl = Dedup.clusterPairs(
          pairs.filter($"est_jaccard" >= threshold))
        (Dedup.dropNearDuplicates(counted, cl, idCol), cl)
      case "simhash" =>
        val maxHamming =
          arg(args, "--max-hamming").map(_.toInt).getOrElse(3)
        val cl = Dedup.clusterPairs(
          Dedup.simhashPairs(corpus, textCol, idCol, maxHamming,
            maxBucket))
        (Dedup.dropNearDuplicates(counted, cl, idCol), cl)
      case "embedding" =>
        val planes = arg(args, "--planes").map(_.toInt).getOrElse(12)
        val dim = arg(args, "--dim").map(_.toInt).getOrElse(64)
        val vecCol = arg(args, "--vec-col").getOrElse("embedding")
        val threshold =
          arg(args, "--threshold").map(_.toDouble).getOrElse(0.95)
        // --bands: the measured recall dial (1−(1−r)^bands over
        // disjoint component sets) at ~bands× candidate volume
        val bands = arg(args, "--bands").map(_.toInt).getOrElse(1)
        val pairs = if (has(args, "--use-staged")) {
          // the sweep path: derive pairs from the store staged by a
          // previous --staged run. An explicit --bands selects the
          // first N staged bands (column-pruning the rest at the
          // scan); without it, every staged band is used.
          Dedup.embeddingNearDupFromBuckets(
            spark.read.parquet(
              stagedStore("dedup_vec_buckets", "--method embedding")),
            threshold, idCol, vecCol, maxBucket,
            bands = arg(args, "--bands").map(_.toInt))
        } else if (has(args, "--staged")) {
          // stage the (id, vec, nrm, bucket_0..bands-1) relation —
          // minhash's signature-store discipline for vectors: a
          // later threshold/bands sweep (--use-staged) re-reads
          // this pruned columnar relation (fewer --bands
          // column-prune the unused buckets) instead of
          // re-scanning the corpus
          Dedup.embeddingNearDupFromBuckets(
            stage("dedup_vec_buckets", Dedup.embeddingBuckets(corpus,
              idCol, vecCol, planes, dim, bands)),
            threshold, idCol, vecCol, maxBucket)
        } else Dedup.embeddingNearDup(corpus, threshold, idCol,
          vecCol, planes, dim, maxBucket, bands)
        val cl = Dedup.clusterPairs(pairs)
        (Dedup.dropNearDuplicates(counted, cl, idCol), cl)
      case other => sys.error(s"dedup: unknown --method $other " +
        "(expected exact|minhash|simhash|embedding)")
    }
    val Seq(keptObs, clObs) = rewriteObserved(spark, db,
      ("dedup_corpus", kept, Seq(count(lit(1)).as("n"))),
      ("dedup_clusters", clusters, Seq(count(lit(1)).as("n"))))
    val nDocs = long(obsIn.get, "n")
    val nKept = long(keptObs, "n")
    val nClustered = long(clObs, "n")
    if (has(args, "--json"))
      println(s"""{"method":${Json.str(method)},"docs":$nDocs,""" +
        s""""kept":$nKept,"dropped":${nDocs - nKept},""" +
        s""""clustered_docs":$nClustered}""")
    else println(s"dedup($method): $nDocs docs -> $nKept kept " +
      s"(${nDocs - nKept} dropped, $nClustered in clusters)")
  }

  /** `ann-topk` writes $db/ann_topk (query_id, neighbor_id, cosine, rank).
    * --trained runs the k-means quantizer (DEPLOY: the sampled
    * fallback loses on cluster-ordered ids). */
  def annTopK(spark: SparkSession, args: Array[String], db: String): Unit = {
    import spark.implicits._
    val corpusPath = arg(args, "--corpus").getOrElse(
      sys.error("ann-topk needs --corpus PARQUET"))
    val queriesPath = arg(args, "--queries").getOrElse(
      sys.error("ann-topk needs --queries PARQUET"))
    val mode = arg(args, "--mode").getOrElse("brute")
    val k = arg(args, "--k").map(_.toInt).getOrElse(10)
    val idCol = arg(args, "--id-col").getOrElse("vec_id")
    val vecCol = arg(args, "--vec-col").getOrElse("embedding")
    def shaped(p: String) = spark.read.parquet(p)
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val corpus = shaped(corpusPath)
    val queries = shaped(queriesPath)
    val topk = mode match {
      case "brute" => Similarity.bruteForceTopK(corpus, queries, k)
      case "lsh" => Similarity.lshTopK(corpus, queries, k,
        planes = arg(args, "--planes").map(_.toInt).getOrElse(12))
      case "ivf" =>
        val nCentroids =
          arg(args, "--ncentroids").map(_.toInt).getOrElse(64)
        val cents = if (has(args, "--trained"))
          Some(Similarity.kmeansCentroids(corpus, nCentroids))
        else None
        Similarity.ivfTopK(corpus, queries, k, nCentroids = nCentroids,
          nProbe = arg(args, "--nprobe").map(_.toInt).getOrElse(4),
          centroids = cents)
      case other => sys.error(s"ann-topk: unknown --mode $other " +
        "(expected brute|lsh|ivf)")
    }
    // Single-pass report (r14 verdict #3): rows observed during the
    // write; "queries" = rank-1 rows (every query with >=1 neighbor
    // ranks from 1, so rank=1 rows == distinct query_ids in the
    // output) — an exact count with no distinct and no output
    // re-read. sum(when) is null on an empty output, hence the
    // Option guard.
    val m = rewriteObserved(spark, db, ("ann_topk", topk,
      Seq(count(lit(1)).as("rows"),
        sum(when($"rank" === 1, 1L).otherwise(0L)).as("queries")))).head
    val nRows = long(m, "rows")
    val nQ = long(m, "queries")
    if (has(args, "--json"))
      println(s"""{"mode":${Json.str(mode)},"k":$k,"queries":$nQ,""" +
        s""""rows":$nRows}""")
    else println(s"ann-topk($mode): $nQ queries, k=$k, $nRows rows")
  }

  /** `text-quality` writes $db/text_quality: the C4/Gopher-style quality ratios +
    * language id with margin + fingerprint + token counts — the
    * per-doc relation a corpus-filtering pipeline joins on.
    * --min-quality additionally stamps a `pass` flag (the corpus
    * itself is never filtered here: quality scoring is evidence,
    * dropping is the caller's policy).
    * --min-lang-margin M surfaces the measured precision dial
    * (LangIdProbe: latin-vote margin >= 0.10 -> ~0.98 precision;
    * out-of-set neighbors da->sv at 0.11, cs->pl at 0.035): a
    * latin-script vote below M is counted as "unknown" in the
    * REPORT histogram. Report-side only — the written per-doc
    * relation keeps the raw (lang, lang_margin) pair so callers
    * apply their own policy, and script-detected labels
    * (ja/zh/ko/ru/ar, margin = character ratio on a different
    * scale) are never reclassified. */
  def textQuality(spark: SparkSession, args: Array[String], db: String): Unit = {
    import spark.implicits._
    val corpusPath = operand(args, "text-quality")
    val idCol = arg(args, "--id-col").getOrElse("doc_id")
    val textCol = arg(args, "--text-col").getOrElse("text")
    val minQ = arg(args, "--min-quality").map(_.toDouble).getOrElse(0.5)
    val minLangMargin = arg(args, "--min-lang-margin").map(_.toDouble)
    val corpus = spark.read.parquet(corpusPath)
    val tq = TextAnalysis.withQuality(corpus, textCol)
      .withColumn("_lm", TextAnalysis.langIdWithMargin(col(textCol)))
      .select(col(idCol).as("doc_id"), $"n_chars", $"n_tokens",
        TextAnalysis.bpeishTokenCount(col(textCol)).as("n_bpeish"),
        $"mean_token_len", $"punct_ratio", $"upper_ratio",
        $"stopword_ratio", $"quality_score",
        $"_lm.lang".as("lang"), $"_lm.lang_margin".as("lang_margin"),
        TextAnalysis.fingerprint(col(textCol)).as("fingerprint"),
        ($"quality_score" >= minQ).as("pass"))
    // Single-pass report (r14 verdict #3): every summary value —
    // counts, pass count, mean quality, and the language histogram —
    // is observed DURING the write. langIdWithMargin's label set is
    // closed (11 latin families + 5 scripts + "unknown"), so the
    // histogram is a fixed row of conditional counts; the "other"
    // guard trips loudly if a new label is ever added to the
    // classifier without registering it here. avg() is null on an
    // empty corpus — report mean_quality as null instead of the NPE
    // the old getDouble took (r14 advisory).
    val latinLangs = Seq("en", "de", "fr", "es", "pt", "it", "nl",
      "sv", "pl", "tr", "ro")
    val langs = latinLangs ++
      Seq("ja", "zh", "ko", "ru", "ar", "unknown")
    // the histogram's lang under --min-lang-margin: one extra
    // conditional inside the same observe (still single-pass)
    val histLang = minLangMargin match {
      case Some(m) => when($"lang".isin(latinLangs: _*) &&
        $"lang_margin" < m, "unknown").otherwise($"lang")
      case None => $"lang"
    }
    val aggs = Seq(count(lit(1)).as("n"),
      sum(when($"pass", 1L).otherwise(0L)).as("n_pass"),
      avg($"quality_score").as("mean_q")) ++
      labelHistAggs(langs, histLang, "lang")
    val m = rewriteObserved(spark, db, ("text_quality", tq, aggs)).head
    val n = long(m, "n")
    val nPass = long(m, "n_pass")
    val meanQ = Option(m("mean_q")).map(_.asInstanceOf[Double])
    val langHist = labelHistRender(langs, "lang", m, byCountDesc = true)
    if (has(args, "--json"))
      println(s"""{"docs":$n,"pass":$nPass,""" +
        meanQ.map(q => "\"mean_quality\":%.4f,".formatLocal(
          java.util.Locale.ROOT, q))
          .getOrElse(""""mean_quality":null,""") +
        s""""min_quality":$minQ,""" +
        minLangMargin.map(m => s""""min_lang_margin":$m,""")
          .getOrElse("") +
        s""""langs":$langHist}""")
    else println(s"text-quality: $n docs, $nPass pass >= $minQ, " +
      meanQ.map(q => f"mean quality $q%.3f").getOrElse("mean quality n/a") +
      minLangMargin.map(m => s", lang margin >= $m").getOrElse("") +
      s", langs $langHist")
  }

  /** `media-features` writes $db/media_features (per-payload decode features: JDK
    * imageio/wav codecs where they exist, the stub seam otherwise —
    * the `decoder` column records which path each row took).
    * --from-documents synthesizes the media relation from a
    * documents table (the p11 demo shape); without it the corpus
    * must already be MediaRow-shaped parquet. */
  def mediaFeatures(spark: SparkSession, args: Array[String], db: String): Unit = {
    import spark.implicits._
    val corpusPath = operand(args, "media-features")
    val media =
      if (has(args, "--from-documents"))
        Multimodal.mediaFromDocuments(spark.read.parquet(corpusPath))
      else spark.read.parquet(corpusPath).as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media).toDF()
    // Single-pass report (r14 verdict #3): the decoder label set is
    // closed by construction (Multimodal assigns only imageio |
    // wav_pcm | ffmpeg | stub), so the histogram observes fixed
    // conditional counts during the write; "other" trips loudly if a
    // decoder is ever added without registering it here.
    val decoders = Seq("imageio", "wav_pcm", "ffmpeg", "stub")
    val aggs = count(lit(1)).as("n") +:
      labelHistAggs(decoders, $"decoder", "dec")
    val m = rewriteObserved(spark, db, ("media_features", feats, aggs)).head
    val nMedia = long(m, "n")
    val byDecoder = // decoder asc, as before
      labelHistRender(decoders, "dec", m, byCountDesc = false)
    if (has(args, "--json"))
      println(s"""{"media":$nMedia,"decoders":$byDecoder}""")
    else println(s"media-features: $nMedia payloads, decoders $byDecoder")
  }
}
