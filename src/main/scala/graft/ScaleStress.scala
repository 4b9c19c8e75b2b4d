package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis, Tokenizer, Unigram}

/** Scale-stress harness: derive a `factor`× corpus (default 100× → 500k
  * docs at sf0.1) from the shipped documents table and drive the heavy
  * pipeline paths through it — the empirical "would this hold at the
  * next order of magnitude" check that the per-entry bench (5k docs)
  * cannot give.
  *
  * The derived corpus has a KNOWN duplication structure, so the run
  * doubles as a correctness check at scale:
  *   - copy k of base doc d gets id d·factor+k, a decade tag token
  *     (`d<k/10>`) inserted every 8th token, and a copy tag every 25th
  *     token (`c<k>`, but the SAME `cx` for the first two copies of each
  *     decade);
  *   - ⇒ copies 0,1 of each decade are byte-identical (exact-dup rate =
  *     factor/10 per base, 10% of the corpus);
  *   - ⇒ copies within one decade differ only in sparse copy tags
  *     (Jaccard ≈ 0.8 — above the 0.7 verify gate: one near-dup clique
  *     per decade);
  *   - ⇒ copies across decades differ in every 8th token (Jaccard ≈ 0.5
  *     — band collisions happen, but the exact-Jaccard verify gate must
  *     reject them, keeping components decade-sized).
  * Expected: exactDups has an EXACT closed-form count derived from the
  * base table (see the k0-class computation below — short docs that never
  * reach a marker position collapse whole decades, which the naive
  * n_base·factor/10 estimate missed); components of size ≈ 10 and an e2e
  * survivor count near n_base·factor/10 (one keeper per clique) hold to
  * tolerance.
  *
  * Emits ONE JSON line (also written to `SCALESTRESS.json`, or
  * `SPARK_GRAFT_SCALESTRESS_OUT`): per-step wall seconds + observed vs
  * expected counts + a `violations` array. The known-answer structure is
  * ASSERTED in-run — any violated expectation lands in `violations` and
  * the process exits non-zero, so a dedup regression at scale fails
  * loudly instead of hiding in a commit-message claim. Run:
  * {{{
  * SPARK_GRAFT_CPUS=32 sbt -batch 'runMain graft.ScaleStress \
  *   /root/testdata/sf0.1 100 /tmp/graft_scale'
  * }}}
  */
object ScaleStress {

  private def f3(v: Double): String = StressJson.f3(v)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 100
    val workDir = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft_scale").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER: the multi-JVM invariance axis (see Sessions).
    val spark = Sessions.withMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val steps = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val facts = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      steps += name -> (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $name%-28s ${steps.last._2}%7.2f s")
      r
    }

    // ---- derive the corpus (deterministic; no RNG) ----------------------
    val corpusPath = s"$workDir/documents_x$factor.parquet"
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val nBase = base.count()
    timed("build_corpus") {
      base
        .withColumn("k", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("ctag",
          when(col("k") % 10 < 2, lit("x"))
            .otherwise(col("k").cast("string")))
        .withColumn("text", expr(
          "array_join(transform(split(text, '\\\\s+'), (t, i) -> " +
            "CASE WHEN i % 8 = 7 " +
            "  THEN concat(t, ' d', CAST(k DIV 10 AS STRING)) " +
            "WHEN i % 25 = 24 THEN concat(t, ' c', ctag) " +
            "ELSE t END), ' ')"))
        .select((col("doc_id") * factor + col("k")).as("doc_id"),
          col("text"), col("lang"), col("source"),
          length(col("text")).as("n_chars"))
        .repartition(64) // give downstream scans real splits
        .write.mode("overwrite").parquet(corpusPath)
    }
    val corpus = spark.read.parquet(corpusPath)
    facts += "n_docs" -> nBase * factor

    // Exact expected duplicate count, derived from the BASE table (not the
    // code under test). Exact-dedup groups by fingerprint = md5(normalize),
    // so two copies collide iff their edited texts normalize equally; the
    // edit differs across copies only in the marker VALUES (d<decade>,
    // c<tag>) at fixed raw-token positions, so copies of two base docs are
    // fingerprint-equal for every k iff they are equal at k = 0. Per
    // normalized k0-class of size m, the closed form by marker type:
    //   n < 8   (no markers):     all factor*m copies equal -> factor*m - 1
    //   n < 25  (d marker only):  per decade all 10m equal  -> 10m - 1
    //   n >= 25 (d + c markers):  per decade the two ctag=x copies of each
    //           doc collapse with every other doc's (2m -> 1) and the 8
    //           k-tagged copies collapse across docs (8*(m-1)) -> 10m - 9
    // This is what the naive nBase*factor/10 formula missed (822 base docs
    // in sf0.1 are 8-24 tokens long: 9 dups per decade, not 1).
    require(factor % 10 == 0, s"factor must be a multiple of 10, got $factor")
    val decades = factor / 10
    val k0edit = expr(
      "array_join(transform(split(text, '\\\\s+'), (t, i) -> " +
        "CASE WHEN i % 8 = 7 THEN concat(t, ' d0') " +
        "WHEN i % 25 = 24 THEN concat(t, ' cx') ELSE t END), ' ')")
    val expectExact = base
      .select(TextAnalysis.fingerprint(k0edit).as("key"),
        size(split(col("text"), "\\s+")).as("n"))
      .groupBy("key").agg(count(lit(1)).as("m"), max("n").as("n"))
      .select(sum(
        when(col("n") < 8, lit(factor.toLong) * col("m") - 1)
          .when(col("n") < 25,
            lit(decades.toLong) * (lit(10L) * col("m") - 1))
          .otherwise(lit(decades.toLong) * (lit(10L) * col("m") - 9)))
        .as("e"))
      .head().getLong(0)
    facts += "expect_exact_dups" -> expectExact

    // ---- exact dedup ----------------------------------------------------
    facts += "exact_dups" -> timed("exact_dedup") {
      Dedup.exactDuplicates(corpus).count()
    }

    // ---- LSH candidates → Jaccard verify → components -------------------
    val pairs = timed("lsh_candidate_pairs") {
      val p = Dedup.lshCandidatePairs(corpus, numHashes = 128, bands = 16)
        .transform(graft.operators.Materialize.cut)
      facts += "candidate_pairs" -> p.count()
      p
    }
    val verified = timed("pair_jaccard_verify") {
      val v = Dedup.pairJaccard(pairs, corpus)
        .filter(col("jaccard") >= 0.7)
        .select("id_a", "id_b")
        .transform(graft.operators.Materialize.cut)
      facts += "verified_pairs" -> v.count()
      v
    }
    timed("neardup_components") {
      val comp = Dedup.nearDupComponents(verified)
      val sizes = comp.groupBy("component").count()
      val agg = sizes.agg(count(lit(1)).as("n_components"),
        max("count").as("max_size"),
        sum(when(col("count") >= 8, 1).otherwise(0)).as("n_decade_sized"))
        .collect()(0)
      facts += "n_components" -> agg.getLong(0)
      facts += "max_component_size" -> agg.getLong(1)
      facts += "n_components_ge8" -> agg.getLong(2)
    }
    facts += "expect_components" -> nBase * (factor / 10)

    // ---- e2e corpus dedup (quality gate + exact + LSH + verify + CC) ----
    facts += "e2e_survivors" -> timed("dedup_corpus_e2e") {
      Dedup.dedupCorpus(corpus, minQuality = 0.0, numHashes = 128,
        bands = 16, jaccardThreshold = Some(0.7)).count()
    }
    facts += "expect_survivors_approx" -> nBase * (factor / 10)

    // ---- BPE training (one corpus pass + driver-local merges) -----------
    facts += "bpe_merges" -> timed("bpe_train_4k") {
      Tokenizer.bpeMergeTable(corpus, numMerges = 4000, wordsPerUnit = 3)
        .count()
    }

    // ---- unigram-LM training (one corpus pass + driver-local EM) --------
    facts += "unigram_pieces" -> timed("unigram_train_4k") {
      Unigram.unigramTrain(corpus, vocabSize = 4000,
        wordsPerUnit = 3, maxPieceLen = 8, seedSize = 16000).size.toLong
    }

    // ---- corpus-wide stats (sketched) -----------------------------------
    timed("corpus_stats_sketch") {
      TextAnalysis.corpusStats(corpus, approximate = true).collect()
    }

    // ---- best-fit-decreasing packing (training-sequence prep) -----------
    // Known answers: token totals are conserved EXACTLY through the
    // pack, no bin ever overfills, and the global bin count sits between
    // ceil(tokens/capacity) (the unreachable-perfect lower bound) and a
    // 10%+per-shard-slack ceiling — BFD on piece multisets bounded by
    // capacity packs near-perfect, so a blowup here means the fold broke.
    val corpusTokens = corpus
      .select(sum(TextAnalysis.tokenCount(col("text")).cast("long")))
      .head().getLong(0)
    facts += "corpus_tokens" -> corpusTokens
    val packCap = 2048
    val packShards = 256
    val packRow = timed("pack_bestfit_2048") {
      graft.operators.Packing
        .packBestFit(corpus, capacity = packCap, numShards = packShards)
        .groupBy("shard", "bin")
        .agg(sum(col("n_tokens").cast("long")).as("fill"))
        .agg(count(lit(1)).as("bins"), max("fill").as("maxfill"),
          sum("fill").as("toks"))
        .head()
    }
    facts += "pack_bins" -> packRow.getLong(0)
    facts += "pack_max_fill" -> packRow.getLong(1)
    facts += "pack_tokens" -> packRow.getLong(2)

    // ---- subword cap-bound regimes over a realistic word table ----------
    // (r14 verdict #1, vocabulary realism per r15 verdict #5 — see
    // ScaleStressSubword: ≥1e5 distinct words, three regimes,
    // trajectory-identity + binding + rounds-ceiling gates)
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    ScaleStressSubword.run(spark, corpus, factor, steps, facts, violations)

    // ---- ANN/embedding plane (certified plant + recall + linearity) -----
    ScaleStressAnn.run(spark, sfDir, factor, workDir, steps, facts,
      violations)

    // ---- streaming plane (planted sessions / dup survivors / IVF
    // assignment distribution through the real micro-batch engines) ------
    ScaleStressStreaming.run(spark, sfDir, factor, workDir, steps, facts,
      violations)

    // ---- graph + search plane (planted ring/clique/chord graphs and
    // needle vocabularies with EXACT known answers) -----------------------
    ScaleStressGraph.run(spark, corpus, steps, facts, violations)

    // ---- UMLS assembly plane (planted pathological-SAB skew: exact
    // class counts, salted-twin equality, byte-stable renders) ------------
    ScaleStressAssembly.run(spark, factor, workDir, steps, facts,
      violations)

    // ---- in-run structural asserts --------------------------------------
    // Tolerances calibrated on the r11 factor-100 run: components landed
    // 47.6k vs 50k structural (natural cross-base dups merge some decade
    // cliques; max merged component observed = 4 decades = 40).
    val fm = facts.toMap
    def within(name: String, obs: Long, exp: Long, tol: Double): Unit =
      if (math.abs(obs - exp) > tol * exp)
        violations += s"$name=$obs outside ${(tol * 100).toInt}% of $exp"
    // exact_dups has an EXACT closed-form expectation (derived above from
    // the base table's normalized k0-classes) — no tolerance.
    if (fm("exact_dups") != fm("expect_exact_dups"))
      violations += s"exact_dups=${fm("exact_dups")} != exact expectation" +
        s" ${fm("expect_exact_dups")}"
    within("n_components", fm("n_components"), fm("expect_components"), 0.15)
    within("e2e_survivors", fm("e2e_survivors"),
      fm("expect_survivors_approx"), 0.15)
    if (fm("max_component_size") > 100L)
      violations += s"max_component_size=${fm("max_component_size")} > 100" +
        " (decades are size 10; a merge past 10 decades means the" +
        " Jaccard gate stopped cutting cross-decade strays)"
    if (fm("n_components_ge8") < (0.8 * fm("expect_components")).toLong)
      violations += s"n_components_ge8=${fm("n_components_ge8")} < 80% of" +
        s" ${fm("expect_components")} (components no longer decade-sized)"
    if (fm("verified_pairs") <= 0L || fm("candidate_pairs") < fm("verified_pairs"))
      violations += "candidate/verified pair counts inconsistent"
    if (fm("bpe_merges") != 4000L)
      violations += s"bpe_merges=${fm("bpe_merges")} != 4000"
    within("unigram_pieces", fm("unigram_pieces"), 4000L, 0.05)
    if (fm("pack_tokens") != fm("corpus_tokens"))
      violations += s"pack_tokens=${fm("pack_tokens")} != corpus total" +
        s" ${fm("corpus_tokens")} (packing lost or duplicated tokens)"
    if (fm("pack_max_fill") > packCap.toLong)
      violations += s"pack_max_fill=${fm("pack_max_fill")} > $packCap"
    val packFloor = (fm("corpus_tokens") + packCap - 1) / packCap
    if (fm("pack_bins") < packFloor)
      violations += s"pack_bins=${fm("pack_bins")} < floor $packFloor"
    if (fm("pack_bins") > (packFloor * 1.10).toLong + packShards)
      violations += s"pack_bins=${fm("pack_bins")} > ceiling" +
        s" ${(packFloor * 1.10).toLong + packShards}" +
        " (BFD padding blew up)"
    val total = steps.map(_._2).sum
    val json = "{" +
      s""""metric":"scale_stress","factor":$factor,""" +
      s""""sf":"${StressJson.esc(sfDir)}","total_sec":${f3(total)},""" +
      StressJson.fragment(steps, facts, violations) + "}"
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALESTRESS_OUT",
      "SCALESTRESS.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    if (violations.nonEmpty) {
      violations.foreach(v => System.err.println(s"[scale] VIOLATION: $v"))
      sys.exit(1)
    }
  }
}
