package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{TextSearch, WebGraph}

/** The graph + search leg of [[ScaleStress]] (r15): planted
  * known-answer gates for the two operator families that had no
  * factor-100 evidence through r14 — the web-graph plane
  * ([[WebGraph.pageRank]], [[WebGraph.hits]],
  * [[WebGraph.labelPropagation]], [[WebGraph.triangleStats]],
  * [[WebGraph.khopDistances]]) and the search plane
  * ([[TextSearch.bm25TopK]], the [[TextSearch.writeIndex]]/
  * [[TextSearch.searchIndex]] at-rest roundtrip,
  * [[TextSearch.phraseSearch]]) — each driven at corpus scale against
  * structures whose answers are EXACT by construction:
  *
  *   - PageRank on a directed N-ring (one out-edge, one in-edge per
  *     node): the uniform vector 1/N is the exact fixpoint for every
  *     damping, and the iteration preserves it from the uniform start,
  *     so after any number of rounds every node's rank is identical —
  *     a single distinct rounded value, equal to round(1/N, 6). Any
  *     dangling-mass, outdeg, or join-key bug breaks uniformity.
  *   - HITS on the same ring: in/out degree 1 everywhere keeps both
  *     hub and authority uniform through every L1-normalized
  *     half-step — again exactly one distinct rounded value each.
  *   - Triangles on the ring plus T disjoint chords b -> b+2 (chord
  *     spacing >> 3): each chord closes EXACTLY the triangle
  *     {b, b+1, b+2} and nothing else, so the corpus-wide triangle
  *     count is exactly T and exactly 3T nodes carry one triangle.
  *   - Label propagation on K disjoint 5-cliques: the synchronous
  *     min-tie-break update provably converges to the clique-minimum
  *     label within 2 rounds (round 1: the min node adopts its
  *     smallest neighbor, everyone else adopts the min; round 2: the
  *     min node's neighbors are unanimous), so after the default 3
  *     rounds every node's label is exactly (node div 5) * 5: K
  *     distinct labels, every community exactly size 5.
  *   - k-hop on the ring from S seeds spaced N/S apart with
  *     maxHops = 3 << N/S: reach sets {s..s+3} are disjoint, so the
  *     result has exactly 4S rows and dist-sum exactly 6S.
  *   - BM25 with a planted needle vocabulary: P needle docs appended
  *     to the corpus, all EXACTLY the same token count, containing a
  *     term that appears nowhere else — 10 of them twice, the rest
  *     once. The top-P hit list is then fully determined: exactly the
  *     needles, double-occurrence docs strictly above single (same dl,
  *     same df, higher tf), id-ascending within each tier. The at-rest
  *     index roundtrip must reproduce the same ids AND scores from
  *     parquet postings read through partition pruning.
  *   - Phrase search with a planted 3-gram at fixed positions: 80
  *     matching docs (5 containing it twice -> n_matches 2), 25 decoys
  *     carrying only the 2-gram prefix that must NOT match. Row count,
  *     match-sum and decoy-exclusion are all exact.
  *
  * Scale shape: every gate is O(N) or O(E) per round — ring joins are
  * 1-to-1, clique edges are K-bounded, needle scoring reads only the
  * needle postings after the term filter. A quadratic regression in
  * any of these families shows up as wall-clock blowup against the
  * ~seconds-per-step profile, and a semantic regression lands in
  * `violations` with the exact observed-vs-expected counts.
  */
object ScaleStressGraph {

  /** Isolated run for calibration: `runMain graft.ScaleStressGraph
    * [sfDir] [factor] [workDir]` — derives a plain replicated corpus
    * (the search gates don't need ScaleStress's dup-structure markers)
    * and prints the same steps/facts/violations JSON fragment the full
    * [[ScaleStress]] embeds. */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 100
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER: the multi-JVM invariance axis (see Sessions).
    val spark = Sessions.withMaster(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = base
      .withColumn("k", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("doc_id") * factor + col("k")).as("doc_id"),
        col("text"))
      .repartition(64)
      .localCheckpoint()
    val steps = ArrayBuffer[(String, Double)]()
    val facts = ArrayBuffer[(String, Long)]()
    val violations = ArrayBuffer[String]()
    // Heap-plane provenance (r16 verdict #2): the factor-1000 run needed
    // a 56g JVM under local[n] with no record of WHICH plane (the one
    // JVM is driver + executors + block storage at once). The artifact
    // now states the driver heap and, under a multi-JVM master, the
    // per-executor memory — so an 8g-driver local-cluster pass is
    // machine-readable executor-plane attribution.
    facts += "heap_driver_max_mb" ->
      Runtime.getRuntime.maxMemory() / (1024L * 1024L)
    facts += "heap_executor_mb" ->
      (if (spark.sparkContext.isLocal) 0L
       else org.apache.spark.network.util.JavaUtils.byteStringAsMb(
         spark.conf.get("spark.executor.memory", "1g")))
    run(spark, corpus, steps, facts, violations)
    println("{" + StressJson.fragment(steps, facts, violations) + "}")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }

  def run(spark: SparkSession, corpus: DataFrame,
      steps: ArrayBuffer[(String, Double)],
      facts: ArrayBuffer[(String, Long)],
      violations: ArrayBuffer[String]): Unit = {
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      steps += name -> (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $name%-28s ${steps.last._2}%7.2f s")
      r
    }
    import spark.implicits._

    val nDocs = corpus.count()
    // Graph size tracks the corpus so the plane scales with `factor`.
    val n = nDocs
    require(n >= 5000, s"graph plant needs >= 5000 nodes, got $n")
    facts += "graph_nodes" -> n

    // ---- planted graphs -------------------------------------------------
    val ring = timed("graph_build") {
      spark.range(n)
        .select(col("id").as("src"),
          ((col("id") + 1) % n).as("dst"))
        .repartition(32)
        .localCheckpoint()
    }
    val nTri = n / 500           // disjoint chords, spacing 500 >> 3
    val chords = spark.range(nTri)
      .select((col("id") * 500).as("src"), (col("id") * 500 + 2).as("dst"))
    val nCliq = n / 50           // disjoint 5-cliques
    val cliqueEdges = spark.range(nCliq)
      .select(explode(expr(
        "transform(flatten(transform(sequence(0, 3), i -> " +
          "transform(sequence(i + 1, 4), j -> struct(i, j)))), " +
          "p -> struct(id * 5 + p.i AS src, id * 5 + p.j AS dst))"))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
      .repartition(32)
      .localCheckpoint()

    // ---- PageRank: ring fixpoint is exactly uniform ---------------------
    // Gated on the UNROUNDED ranks (roundTo = None; r15 ADVICE #2): the
    // operators' round(·, 6) output floors every node to 0 once
    // N > 2e6, which would make the distinct-count gate pass vacuously
    // and hide any non-uniformity below 5e-7. The raw gates are
    // scale-independent — relative spread (mx−mn)·N and relative level
    // |mx·N − 1| keep the same sensitivity at every factor.
    timed("graph_pagerank") {
      val pr = WebGraph.pageRank(ring, iters = 5, roundTo = None)
      val agg = pr.agg(countDistinct(col("rank")).as("d"),
        max(col("rank")).as("mx"), min(col("rank")).as("mn"),
        count(lit(1)).as("rows")).head()
      facts += "pr_distinct_ranks" -> agg.getLong(0)
      val relSpread = (agg.getDouble(1) - agg.getDouble(2)) * n
      facts += "pr_rel_spread_1e12" -> math.rint(relSpread * 1e12).toLong
      if (relSpread > 1e-9)
        violations += s"pageRank ring not uniform: relative spread" +
          s" $relSpread (raw max ${agg.getDouble(1)}," +
          s" min ${agg.getDouble(2)})"
      if (agg.getLong(3) != n)
        violations += s"pageRank rows ${agg.getLong(3)} != $n"
      if (math.abs(agg.getDouble(1) * n - 1.0) > 1e-9)
        violations += s"pageRank ring rank ${agg.getDouble(1)} * N" +
          s" drifts from 1 (expected exactly 1/N ${1.0 / n})"
    }

    // ---- HITS: ring keeps hub and authority uniform ---------------------
    timed("graph_hits") {
      val h = WebGraph.hits(ring, iters = 3, roundTo = None)
      val agg = h.agg(countDistinct(col("hub")).as("dh"),
        countDistinct(col("authority")).as("da"),
        (max(col("hub")) - min(col("hub"))).as("sh"),
        (max(col("authority")) - min(col("authority"))).as("sa"),
        max(col("hub")).as("mh"), max(col("authority")).as("ma")).head()
      facts += "hits_distinct_hub" -> agg.getLong(0)
      facts += "hits_distinct_auth" -> agg.getLong(1)
      val spreadH = agg.getDouble(2) * n
      val spreadA = agg.getDouble(3) * n
      facts += "hits_rel_spread_1e12" ->
        math.rint(math.max(spreadH, spreadA) * 1e12).toLong
      if (spreadH > 1e-9 || spreadA > 1e-9)
        violations += s"HITS ring not uniform: relative spread" +
          s" hub $spreadH / authority $spreadA"
      if (math.abs(agg.getDouble(4) * n - 1.0) > 1e-9 ||
          math.abs(agg.getDouble(5) * n - 1.0) > 1e-9)
        violations += s"HITS ring level drifts from 1/N: hub" +
          s" ${agg.getDouble(4)}, authority ${agg.getDouble(5)}"
    }

    // ---- triangles: exactly one per planted chord -----------------------
    timed("graph_triangles") {
      val t = WebGraph.triangleStats(ring.unionByName(chords))
      val agg = t.agg(sum(col("triangles")).as("s"),
        count(when(col("triangles") > 0, 1)).as("nodes")).head()
      facts += "tri_sum" -> agg.getLong(0)
      facts += "tri_nodes" -> agg.getLong(1)
      if (agg.getLong(0) != 3L * nTri)
        violations += s"triangle membership sum ${agg.getLong(0)} !=" +
          s" ${3L * nTri} (expected exactly $nTri planted triangles)"
      if (agg.getLong(1) != 3L * nTri)
        violations += s"nodes-with-triangles ${agg.getLong(1)} !=" +
          s" ${3L * nTri}"
    }

    // ---- LPA: K disjoint 5-cliques -> K min-labeled communities ---------
    timed("graph_lpa") {
      val l = WebGraph.labelPropagation(cliqueEdges, iters = 3)
      val agg = l.agg(countDistinct(col("label")).as("d"),
        count(when(col("label") =!= (col("node") - col("node") % 5), 1))
          .as("bad")).head()
      facts += "lpa_labels" -> agg.getLong(0)
      facts += "lpa_bad_labels" -> agg.getLong(1)
      if (agg.getLong(0) != nCliq)
        violations += s"LPA labels ${agg.getLong(0)} != $nCliq cliques"
      if (agg.getLong(1) != 0L)
        violations += s"LPA: ${agg.getLong(1)} nodes not labeled with" +
          " their clique minimum"
    }

    // ---- PPR: ring decay has a closed form, mass exactly 1 overall ------
    // The engine splits the unit restart mass across seeds (1/|S|
    // each). With outdeg 1 everywhere and seeds spaced far beyond the
    // iteration count, rank after I rounds is exactly
    //   r(seed) = (1-d)/|S|;  r(k hops) = (1-d)·d^k/|S| for k < I;
    //   r(I hops) = d^I/|S|
    // and the TOTAL mass telescopes to exactly 1 (no dangling leak on
    // a ring), up to round-6 dust on the nonzero nodes.
    timed("graph_ppr") {
      val iters = 5
      val damping = 0.85
      val nSeeds = n / 500
      val seeds = spark.range(nSeeds).select((col("id") * 500).as("node"))
      // raw ranks (r15 ADVICE #2): with round-6 output the mass gate
      // needed a rounding allowance of 6e-7 per nonzero node — at large
      // factors that allowance grows past the signal. The unrounded
      // telescoping sum is exact to IEEE dust, so the gate is 1e-9 flat
      // at every scale.
      val ppr = WebGraph.personalizedPageRank(ring, seeds, iters, damping,
          roundTo = None)
        .localCheckpoint()
      val agg = ppr.agg(
        count(when(col("rank") > 0, 1)).as("nz"),
        sum(col("rank")).as("mass")).head()
      facts += "ppr_nonzero" -> agg.getLong(0)
      facts += "ppr_mass_1e6" -> math.rint(agg.getDouble(1) * 1e6).toLong
      if (agg.getLong(0) != (iters + 1L) * nSeeds)
        violations += s"PPR nonzero ranks ${agg.getLong(0)} !=" +
          s" ${(iters + 1L) * nSeeds} (seed + $iters hops per seed)"
      if (math.abs(agg.getDouble(1) - 1.0) > 1e-9)
        violations += s"PPR total mass ${agg.getDouble(1)} != 1" +
          " (the unit restart mass telescopes with no ring leak)"
      val closed = (0 to iters).map { k =>
        (if (k < iters) (1.0 - damping) * math.pow(damping, k)
         else math.pow(damping, iters)) / nSeeds
      }
      val head = ppr.filter(col("node") <= iters).orderBy("node")
        .collect().map(_.getDouble(1))
      val drift = head.zip(closed)
        .map { case (o, e) => math.abs(o - e) }.foldLeft(0.0)(math.max)
      if (head.length != iters + 1 || drift > 1e-9)
        violations += s"PPR seed-0 trajectory drifts $drift from the" +
          " closed form (expected geometric decay)"
    }

    // ---- covisitation: planted user groups -> exact cosine-1 pairs ------
    // F users per group all interact with the SAME 5 items, items
    // disjoint across groups: every in-group pair has co = F and
    // cosine = F/sqrt(F·F) = 1 exactly; cross-group pairs are
    // impossible by construction.
    timed("graph_covisit") {
      val groups = n / 50
      val usersPerGroup = 4
      val inter = spark.range(groups * usersPerGroup)
        .select(col("id").as("user_id"),
          explode(sequence(lit(0), lit(4))).as("slot"))
        .select(col("user_id"),
          ((col("user_id") / usersPerGroup).cast("long") * 5 +
            col("slot")).as("item"))
        .repartition(32)
      val cov = WebGraph.covisitation(inter, maxItemsPerUser = 20,
        minCo = 2)
      val agg = cov.agg(count(lit(1)).as("rows"),
        min(col("co")).as("mn"), max(col("co")).as("mx"),
        count(when(col("cosine") =!= 1.0, 1)).as("badcos")).head()
      facts += "covisit_pairs" -> agg.getLong(0)
      facts += "covisit_bad_cosine" -> agg.getLong(3)
      if (agg.getLong(0) != 10L * groups)
        violations += s"covisitation pairs ${agg.getLong(0)} !=" +
          s" ${10L * groups} (10 per planted group)"
      if (agg.getLong(1) != usersPerGroup || agg.getLong(2) != usersPerGroup)
        violations += s"covisitation co range [${agg.getLong(1)}," +
          s" ${agg.getLong(2)}] != exactly $usersPerGroup"
      if (agg.getLong(3) != 0L)
        violations += s"${agg.getLong(3)} covisitation pairs with" +
          " cosine != 1.0 on identical-audience items"
    }

    // ---- k-hop: disjoint 4-node reach sets from spaced seeds ------------
    timed("graph_khop") {
      val nSeeds = n / 500
      val seeds = spark.range(nSeeds).select((col("id") * 500).as("node"))
      val d = WebGraph.khopDistances(ring, seeds, maxHops = 3)
      val agg = d.agg(count(lit(1)).as("rows"),
        sum(col("dist")).as("s")).head()
      facts += "khop_rows" -> agg.getLong(0)
      facts += "khop_dist_sum" -> agg.getLong(1)
      if (agg.getLong(0) != 4L * nSeeds)
        violations += s"khop rows ${agg.getLong(0)} != ${4L * nSeeds}"
      if (agg.getLong(1) != 6L * nSeeds)
        violations += s"khop dist sum ${agg.getLong(1)} != ${6L * nSeeds}"
    }

    // ---- planted search needles -----------------------------------------
    // All needle docs are EXACTLY 64 tokens, so BM25's length
    // normalization is identical across them and the ranking is decided
    // by tf alone: the 10 double-occurrence docs strictly above the 40
    // single-occurrence docs, ids ascending within each tier.
    val needleTerm = "zzzgraftneedle"
    val phrase = Seq("qqgraftalpha", "qqgraftbeta", "qqgraftgamma")
    def needleText(occurrences: Set[Int], tokens: Map[Int, String]) =
      (0 until 64).map { i =>
        if (occurrences.contains(i)) needleTerm
        else tokens.getOrElse(i, "fill")
      }.mkString(" ")
    // Anchor needle ids past the MAX existing id, not the row count —
    // a corpus whose doc_ids are not 0-based contiguous (1-based, or
    // gapped by the factor expansion) would otherwise collide with the
    // plant and merge postings under duplicate ids.
    val idBase = corpus.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val bm25Doubles = (0L until 10L).map(idBase + _)
    val bm25Singles = (10L until 50L).map(idBase + _)
    val phraseOnce = (0L until 75L).map(idBase + 100L + _)
    val phraseTwice = (75L until 80L).map(idBase + 100L + _)
    val decoys = (0L until 25L).map(idBase + 200L + _)
    val phraseAt = (p: Int) =>
      Map(p -> phrase(0), (p + 1) -> phrase(1), (p + 2) -> phrase(2))
    val needleRows =
      bm25Doubles.map(id => (id, needleText(Set(5, 37), Map.empty))) ++
      bm25Singles.map(id => (id, needleText(Set(5), Map.empty))) ++
      phraseOnce.map(id => (id, needleText(Set.empty, phraseAt(20)))) ++
      phraseTwice.map(id =>
        (id, needleText(Set.empty, phraseAt(20) ++ phraseAt(40)))) ++
      decoys.map(id => (id, needleText(Set.empty,
        Map(20 -> phrase(0), 21 -> phrase(1)))))
    val searchCorpus = corpus.select(col("doc_id"), col("text"))
      .unionByName(needleRows.toDF("doc_id", "text"))
      .localCheckpoint()

    // ---- BM25 top-k: fully determined hit list --------------------------
    val expectIds = (bm25Doubles ++ bm25Singles).toArray
    val liveHits = timed("search_bm25_topk") {
      TextSearch.bm25TopK(searchCorpus, needleTerm, k = 50).collect()
    }
    facts += "bm25_hits" -> liveHits.length.toLong
    if (!liveHits.map(_.getLong(0)).sameElements(expectIds))
      violations += s"bm25 top-50 id sequence != planted expectation" +
        s" (got ${liveHits.length} rows, first=" +
        s"${liveHits.headOption.map(_.getLong(0))})"

    // ---- at-rest index roundtrip: same ids, same scores ------------------
    timed("search_index_roundtrip") {
      val idxPath = java.nio.file.Files
        .createTempDirectory("graft_scale_idx").toString
      TextSearch.writeIndex(searchCorpus, idxPath, nBuckets = 64)
      val idxHits = TextSearch.searchIndex(spark, idxPath, needleTerm,
        k = 50, nBuckets = 64).collect()
      facts += "index_hits" -> idxHits.length.toLong
      if (!idxHits.map(_.getLong(0)).sameElements(expectIds))
        violations += "indexed bm25 top-50 id sequence !=" +
          " planted expectation"
      val scoreDrift = liveHits.zip(idxHits)
        .map { case (a, b) => math.abs(a.getDouble(1) - b.getDouble(1)) }
        .foldLeft(0.0)(math.max)
      if (scoreDrift > 1e-9)
        violations += s"indexed bm25 scores drift $scoreDrift from live" +
          " scan (same corpus, same formula)"
    }

    // ---- phrase search: exact match set, decoys excluded -----------------
    timed("search_phrase") {
      val m = TextSearch.phraseSearch(searchCorpus, phrase)
        .localCheckpoint()
      val agg = m.agg(count(lit(1)).as("rows"),
        sum(col("n_matches")).as("s")).head()
      facts += "phrase_rows" -> agg.getLong(0)
      facts += "phrase_match_sum" -> agg.getLong(1)
      if (agg.getLong(0) != 80L)
        violations += s"phrase rows ${agg.getLong(0)} != 80 planted docs"
      if (agg.getLong(1) != 85L)
        violations += s"phrase match sum ${agg.getLong(1)} != 85" +
          " (75 once + 5 twice)"
      val decoyHits = m.filter(col("doc_id").isin(decoys: _*)).count()
      facts += "phrase_decoy_hits" -> decoyHits
      if (decoyHits != 0L)
        violations += s"$decoyHits decoy docs (2-gram prefix only)" +
          " matched the 3-gram phrase"
    }
  }
}
