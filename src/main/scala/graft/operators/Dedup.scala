package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact hash dedup, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB corpus):
  *   - exact: one groupBy on a 128-bit digest — a single hash shuffle whose
  *     key is tiny regardless of document size.
  *   - MinHash/LSH: explode-to-tokens is a narrow map; the per-doc signature
  *     is `numHashes` partial-min aggregates (map-side combine shrinks the
  *     shuffle to one row per doc); band buckets then pair only within
  *     buckets, never all-pairs.
  *   - SimHash: same shape — one groupBy(doc) with 64 bit-vote sums folded
  *     into a single long.
  * No UDFs: everything is codegen'd Column algebra.
  */
object Dedup {

  /** Exact duplicate groups: fingerprint → (keeper = min id, group size).
    * Portable md5 digest so external oracles can reproduce it. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as("keeper"), count(lit(1)).as("group_size"))

  /** Rows to drop under exact dedup (non-keepers). */
  def exactDuplicates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val groups = exactGroups(docs, textCol, idCol)
    docs.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .join(groups, "fp")
      .filter(col(idCol) =!= col("keeper"))
      .select(col(idCol), col("keeper"))
  }

  // --- MinHash + LSH ------------------------------------------------------

  /** Distinct (id, token) pairs — the shingle relation. */
  def docTokens(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()

  /** Distinct (id, 64-bit shingle feature): shingles are hashed to longs
    * BEFORE the distinct/groupBy shuffle, so the exchange carries 8-byte
    * keys instead of full n-gram strings — the string form re-shuffles
    * ~3× the corpus bytes at 100 TB. Hash collisions merely merge two
    * shingles (harmless for MinHash/SimHash quality). */
  def docShingleFeatures(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame =
    docs.select(col(idCol),
        explode(TextAnalysis.shingles(col(textCol), n)).as("token"))
      .filter(length(col("token")) > 0)
      .select(col(idCol), xxhash64(col("token")).as("feature"))
      .distinct()

  /** MinHash signature per doc: h_i = min over shingles of H(i, shingle).
    *
    * `portable = true` uses md5 over an md5 token digest (hex-string min —
    * reproducible in any engine with md5, e.g. the DuckDB oracle; the
    * per-hash rehash runs over the fixed 32-char digest, not the raw
    * shingle). `false` is the scale path: 8-byte [[docShingleFeatures]]
    * keys, xxhash64 per hash index. Both are deterministic. One shuffle:
    * groupBy(id) with map-side partial mins.
    */
  def minhashSignature(docs: DataFrame, numHashes: Int,
      textCol: String = "text", idCol: String = "doc_id",
      portable: Boolean = false): DataFrame = {
    if (portable) {
      // r19: the n seeded rehashes ran as n separate md5(concat(...))
      // trees per (doc, shingle) row — a fresh MessageDigest, a hex
      // String round-trip and a seed concatenation EACH (the dominant
      // executor cost of every portable-LSH entry; see Md5Hex).
      // Md5SeededArray computes the identical n values in one pass;
      // min(element_at(..)) per hash index keeps the same map-side
      // partial aggregation.
      import graft.functions.DigestFunctions.{md5Hex, md5SeededArray}
      val toks = docs.select(col(idCol),
          explode(TextAnalysis.shingles(col(textCol), 3)).as("token"))
        .filter(length(col("token")) > 0)
        .select(col(idCol), md5Hex(col("token")).as("th"))
        .distinct()
      val withArr = toks.select(col(idCol),
        md5SeededArray(col("th"), numHashes).as("hs"))
      val aggs = (0 until numHashes).map { i =>
        min(element_at(col("hs"), i + 1)).as(s"h$i")
      }
      withArr.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    } else {
      val toks = docShingleFeatures(docs, textCol, idCol)
      val aggs = (0 until numHashes).map { i =>
        min(xxhash64(lit(i), col("feature"))).cast("string").as(s"h$i")
      }
      toks.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** The band-key structs as ONE array column over a signature row —
    * the pre-explode form, so a join keyed on the doc id can run
    * BEFORE the `bands`-way explosion (guide §3.3: explode before a
    * join multiplies the join/sort input). */
  private def lshBandArray(bands: Int, rowsPerBand: Int)
      : org.apache.spark.sql.Column = {
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"),
        graft.functions.DigestFunctions.md5ConcatWs("|", parts: _*)
          .as("key"))
    }
    array(bandCols: _*)
  }

  /** LSH band keys: signature split into `bands` bands of `rowsPerBand`
    * hashes; docs sharing any band key are candidate near-duplicates. */
  def lshBands(sig: DataFrame, bands: Int, rowsPerBand: Int,
      idCol: String = "doc_id"): DataFrame =
    sig.select(col(idCol),
        explode(lshBandArray(bands, rowsPerBand)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Candidate near-duplicate pairs from LSH buckets (id_a < id_b).
    * The pair join runs per-bucket, so cost is sum of bucket² — bounded by
    * band collision rate, not corpus². */
  def lshCandidatePairs(docs: DataFrame, numHashes: Int, bands: Int,
      textCol: String = "text", idCol: String = "doc_id",
      portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sig = minhashSignature(docs, numHashes, textCol, idCol, portable)
    val bk = lshBands(sig, bands, numHashes / bands, idCol)
    val a = bk.select(col("band"), col("key"), col(idCol).as("id_a"))
    val b = bk.select(col("band"), col("key"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  // --- SimHash ------------------------------------------------------------

  /** 64-bit SimHash per doc: per-bit majority vote over shingle xxhash64
    * values, folded into one long. Single groupBy(doc) shuffle; the 64
    * votes are partial-aggregated map-side. Shingle features (not raw
    * tokens) keep hashes discriminative over small vocabularies. */
  def simhash64(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // The 64-column aggregation buffer is 64 longs = 512 B/doc, map-side
    // combined — plan width, not a scale hazard.
    val toks = docShingleFeatures(docs, textCol, idCol)
      .withColumn("h", col("feature"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val voted = toks.groupBy(idCol).agg(votes.head, votes.tail: _*)
    val sim = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    voted.select(col(idCol), sim.as("simhash"))
  }

  /** Portable 16-bit SimHash: bit votes come from the first 4 hex nibbles
    * of md5(shingle), so any engine with md5 reproduces the exact values —
    * the cross-engine correctness anchor for the simhash family (the
    * 64-bit xxhash64 form is the scale path; same algorithm, wider hash).
    */
  def simhashPortable16(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(TextAnalysis.shingles(col(textCol), 3)).as("token"))
      .filter(length(col("token")) > 0)
      .select(col(idCol), graft.functions.DigestFunctions.md5Hex(col("token")).as("th"))
      .distinct()
    val votes = (0 until 16).map { j =>
      val nib = conv(substring(col("th"), j / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(nib, 3 - (j % 4)).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val voted = toks.groupBy(idCol).agg(votes.head, votes.tail: _*)
    val sim = (0 until 16).map { j =>
      when(col(s"v$j") > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    voted.select(col(idCol), sim.cast("int").as("simhash16"))
  }

  /** Portable SimHash at the FULL 64-bit production width: identical
    * algorithm to [[simhash64]], but bit votes come from md5 nibbles 0-15
    * (64 of md5's 128 bits) so DuckDB reproduces exact values — this
    * verifies the 64-wide vote-and-fold value-for-value, leaving only
    * [[simhash64]]'s xxhash64 *hash choice* without a cross-engine twin.
    * Emitted as a 16-char hex string (hex char p = votes 4p..4p+3, vote
    * 4p as the char's MSB): folding into a signed long is not portable —
    * bit 63 overflows a sum-of-powers in DuckDB's BIGINT — and hex
    * sidesteps signedness entirely. */
  def simhashPortable64(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(TextAnalysis.shingles(col(textCol), 3)).as("token"))
      .filter(length(col("token")) > 0)
      .select(col(idCol), graft.functions.DigestFunctions.md5Hex(col("token")).as("th"))
      .distinct()
    val votes = (0 until 64).map { j =>
      val nib = conv(substring(col("th"), j / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(nib, 3 - (j % 4)).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val voted = toks.groupBy(idCol).agg(votes.head, votes.tail: _*)
    val hex = (0 until 16).map { p =>
      val nibVal = (0 until 4).map { k =>
        when(col(s"v${4 * p + k}") > 0, lit(1 << (3 - k))).otherwise(lit(0))
      }.reduce(_ + _)
      lower(conv(nibVal.cast("string"), 10, 16))
    }
    voted.select(col(idCol), concat(hex: _*).as("simhash_hex"))
  }

  /** The 64-bit SimHash of ONE row, as pure array algebra — identical
    * values to [[simhash64]] (same distinct xxhash64 shingle features,
    * same vote-and-fold), but computed per row with no explode and no
    * groupBy shuffle. That statelessness is the point: it drops into a
    * Structured Streaming plan (see `EventStreams.streamingNearDupDedup`)
    * where a streaming aggregation would need its own watermark state.
    *
    * The vote-and-fold is one native codegen'd expression
    * ([[graft.functions.SimHash64]]: each feature read once, all 64
    * vote counters updated in one primitive loop). History: the first
    * form referenced the features expression inside 64 per-bit HOF
    * folds — no common-subexpression elimination, so the whole shingle
    * → xxhash64 → distinct pipeline re-ran 64× per row (the r14
    * factor-100 stream_neardup 71.5 s; r14 verdict #6); the second
    * form lambda-bound the array once but still paid 64 interpreted
    * folds per row (r18, BENCH_NOTES: 2.60 s per 250k docs vs
    * 0.62 s native, 4.2x — the folds, not the shingle feature build,
    * dominated).
    * The batch [[simhash64]] keeps the codegen'd map-side aggregate,
    * which wins when documents are long. */
  def rowSimhash64(text: Column): Column = {
    val features = array_distinct(
      transform(
        filter(TextAnalysis.shingles(text, 3), t => length(t) > 0),
        t => xxhash64(t)))
    // One native codegen'd expression ([[graft.functions.SimHash64]]):
    // the earlier form ran 64 interpreted `aggregate` folds per row —
    // one per bit, each re-iterating the feature array through the HOF
    // interpreter. Votes, tie handling (bit clear at 0), NULL-element
    // -1 votes, and the 0L result on NULL/empty features are
    // bit-identical (PqCodegenSpec replays the old algebra).
    graft.functions.VectorFunctions.vecSimHash64(features)
  }

  /** Hamming distance between two simhash longs. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs of ANY 64-bit signature column (SimHash, perceptual
    * hash, feature sketch) within Hamming distance `maxDist`, blocked on
    * 16-bit chunks — pigeonhole: a pair differing in ≤ 3 bits agrees on
    * at least one of the 4 chunks, so blocking recall is exactly 1 for
    * `maxDist` ≤ 3 while the pair join stays per-bucket (sum of bucket²),
    * never all-pairs. */
  def hammingNearDupPairs(sigs: DataFrame, maxDist: Int = 3,
      sigCol: String = "simhash", idCol: String = "doc_id"): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "4-chunk pigeonhole blocking guarantees recall only for maxDist <= 3")
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col(sigCol), c * 16).bitwiseAND(0xFFFF).as("key"))
    }
    val blocked = sigs.select(col(idCol), col(sigCol).as("sig"),
      explode(array(chunks: _*)).as("bk"))
      .select(col(idCol), col("sig"),
        col("bk.chunk").as("chunk"), col("bk.key").as("key"))
    val a = blocked.select(col("chunk"), col("key"),
      col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = blocked.select(col("chunk"), col("key"),
      col(idCol).as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b") &&
        hammingDist(col("sig_a"), col("sig_b")) <= maxDist)
      .select("id_a", "id_b")
      .distinct()
  }

  // --- dedup decision: connected components over candidate pairs ----------

  /** Turn candidate near-duplicate PAIRS into a dedup DECISION: connected
    * components by iterative min-label propagation, then keeper = the
    * component id (min doc id in the component).
    *
    * Each round joins every node's label to its neighbors and takes the
    * min — the classic Spark CC shape (what GraphFrames' algorithm reduces
    * to on undirected graphs). Rounds needed = graph diameter ≤ `maxIter`;
    * near-dup clusters are shallow (dup groups, not long chains), so the
    * loop converges in a few rounds; convergence is checked with a count
    * of changed labels per round (one action per round, no collect of
    * data). Input pair lists at 100 TB are LSH-bounded (sum of bucket²),
    * and each round is one shuffle keyed by id.
    *
    * @return (id, component) — component = min id reachable; rows only for
    *   ids that appear in `pairs`; singletons are their own keeper by
    *   definition and need no row.
    */
  def nearDupComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (not persist): an iterative algorithm must CUT its
    // lineage, not just cache it. A persisted edge set still carries the
    // whole candidate-generation plan inside its InMemoryRelation, and
    // every loop action re-analyzes it, re-runs cache-lookup canonical
    // comparisons over it, and stringifies it for the SQL-listener event —
    // measured at seconds per action on a 60-row edge set (and the
    // per-round plan DOUBLING — `next` references `labels` twice — made
    // plan trees exponential in the round count, to the point of OOMing
    // explainString). Checkpointed frames are LogicalRDDs: per-round cost
    // becomes the rows, not the plan. Edge rows are LSH-bounded, label
    // rows node-count-sized — both tiny next to the corpus.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .transform(Materialize.cut)
    // An empty graph (common for an already-clean batch) skips the
    // propagation loop entirely.
    if (edges.isEmpty) {
      // limit(0) collapses to an empty LocalRelation (OptimizeLimitZero),
      // so consumers never re-plan the candidate-generation chain.
      return pairs.limit(0)
        .select(col("id_a").as("id"), col("id_a").as("component"))
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .transform(Materialize.cut)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min("component").as("n_min"))
      // The change flag rides the materialized frame (a label changed
      // iff a neighbor proposed a strictly smaller one), so convergence
      // detection is a no-shuffle count over the just-checkpointed rows
      // instead of a join-against-previous-labels job per round.
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("n_min"), col("component")))
            .as("component"),
          coalesce(col("n_min") < col("component"), lit(false)).as("chg"))
        .transform(Materialize.cut)
      val changed = next.filter(col("chg")).count()
      labels = next.select(col("id"), col("component"))
      converged = changed == 0
      iter += 1
    }
    // A silent non-converged result would mislabel components; near-dup
    // graphs are shallow (dup clusters, not chains), so hitting the bound
    // means the input isn't the expected shape — fail loudly.
    if (!converged) throw new IllegalStateException(
      s"nearDupComponents did not converge in $maxIter rounds — " +
        "graph diameter exceeds maxIter; raise maxIter for chain-shaped inputs")
    labels
  }

  /** Rows to DROP under near-dup dedup: every id whose component keeper
    * (min id) is not itself. */
  def nearDupDuplicates(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    nearDupComponents(pairs, maxIter)
      .filter(col("id") =!= col("component"))
      .select(col("id"), col("component").as("keeper"))

  /** Quality-aware canonical representative per near-dup component:
    * instead of the min-id keeper, each cluster keeps its BEST member —
    * argmax by (quality desc, id asc), a total order, so the choice is
    * deterministic and portable. This is the curation form of near-dup
    * dedup: when a boilerplate page was crawled five times, keep the
    * longest/cleanest capture, not the lowest id.
    *
    * `quality` is any (id, q) relation with NUMERIC q — typically
    * `round(TextAnalysis.qualityScore(text), 3)`; the id may be any
    * orderable type (long, string, …).
    *
    * Scale: [[nearDupComponents]]' label propagation plus ONE extra
    * groupBy(component) — the argmax is a `min_by` over a (−q, id)
    * struct (lexicographic struct ordering = quality desc, id asc),
    * partial-aggregated map-side; no window, no join back to the corpus.
    * Negating q instead of the id keeps the tiebreak correct for
    * non-numeric ids (negating a string id would silently yield NULL and
    * an undefined keeper).
    *
    * @return (component, keeper, n_members, best_q) */
  def canonicalKeepers(pairs: DataFrame, quality: DataFrame,
      idCol: String = "id", qCol: String = "q",
      maxIter: Int = 20): DataFrame =
    nearDupComponents(pairs, maxIter)
      .join(quality.select(col(idCol).as("id"), col(qCol).as("__q")),
        Seq("id"))
      .groupBy("component")
      .agg(
        min_by(col("id"),
          struct((-col("__q")).as("nq"), col("id").as("i"))).as("keeper"),
        count(lit(1)).as("n_members"),
        max(col("__q")).as("best_q"))

  // --- end-to-end corpus dedup ---------------------------------------------

  /** The full training-corpus cleaning pipeline in one dataflow — the use
    * case the individual operators exist for: quality gate → exact dedup
    * (keep min id per fingerprint) → MinHash-LSH candidate pairs →
    * connected-components keeper selection → surviving doc ids.
    *
    * Every stage is one of the oracle-checked operators above, so the
    * composed pipeline is itself DuckDB-verifiable end-to-end (q38).
    * Shape at 100 TB: two fingerprint-keyed shuffles, one LSH candidate
    * generation (bounded by bucket sizes), one component propagation over
    * the (small) near-dup pair graph — never an all-pairs step.
    */
  def dedupCorpus(docs: DataFrame, minQuality: Double = 0.3,
      numHashes: Int = 16, bands: Int = 4, portable: Boolean = false,
      textCol: String = "text", idCol: String = "doc_id",
      jaccardThreshold: Option[Double] = None,
      maxIter: Int = 20): DataFrame = {
    // Quality gate; round(3) so the boundary compare is stable across
    // engines (the raw doubles are equal, but belt and suspenders).
    val pass = docs.filter(
      round(TextAnalysis.qualityScore(col(textCol)), 3) >= minQuality)
    // Exact dedup: keep the min id of each fingerprint group. The keeper
    // ids anchor the LSH chain, the component loop's edge materialization
    // AND the final anti-join — three separate actions that would each
    // replay the quality-regex + fingerprint shuffle uncached, and even
    // cached the plan would be re-analyzed/stringified per action (see
    // nearDupComponents). localCheckpoint: ids only, a few bytes per
    // surviving doc, lineage cut to a LogicalRDD.
    val survivorIds = pass
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min(idCol).as(idCol))
      .select(idCol)
      .transform(Materialize.cut)
    val survivors = docs.join(survivorIds, Seq(idCol), "left_semi")
    // Near-dup decision over the exact-dedup survivors; with a
    // `jaccardThreshold` the candidates pass the exact-Jaccard precision
    // gate ([[pairJaccard]]) before the merge decision, so band-collision
    // noise can't over-merge dissimilar docs into one component.
    val candidates = lshCandidatePairs(survivors, numHashes, bands,
      textCol, idCol, portable)
    val pairs = jaccardThreshold.fold(candidates)(t =>
      pairJaccard(candidates, survivors, textCol, idCol, portable)
        .filter(col("jaccard") >= t)
        .select("id_a", "id_b"))
    val drops = nearDupDuplicates(pairs, maxIter)
      .select(col("id").as(idCol))
    // The returned frame is materialized and lineage-cut: callers can
    // re-consume it freely without replaying the pipeline.
    survivorIds.join(drops, Seq(idCol), "left_anti").transform(Materialize.cut)
  }

  // --- incremental dedup against an at-rest index --------------------------

  /** The at-rest dedup index of a corpus: `(id, fp, band, key)` — the
    * exact content fingerprint plus one row per MinHash LSH band key.
    * Written once per corpus (or appended per ingested batch), it lets
    * every FUTURE batch dedup against the whole corpus without touching
    * corpus text again: the index row is ~50 bytes regardless of document
    * size. At rest, store it partitioned/bucketed by `fp` and `(band,
    * key)` (see `sources/Bucketing`) so the per-batch probe joins are
    * co-located instead of shuffling the index. */
  def dedupIndex(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      portable: Boolean = false, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val fps = docs.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    // Join PRE-explode (r20, guide §3.3): the signature is one row per
    // doc; exploding it into `bands` rows first put `bands`× the rows
    // (each carrying a 32-char key) through the join's shuffle+sort.
    // Joining on the 1-row/doc band-key ARRAY and exploding after the
    // join moves the same information through the exchange once per
    // doc. Values identical: explode-then-join ≡ join-then-explode on
    // an equi-key the explode does not touch.
    val sigBands = minhashSignature(docs, numHashes, textCol, idCol,
        portable)
      .select(col(idCol),
        lshBandArray(bands, numHashes / bands).as("bks"))
    fps.join(sigBands, Seq(idCol))
      .select(col(idCol), col("fp"), explode(col("bks")).as("bk"))
      .select(col(idCol), col("fp"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Dedup an INCOMING batch against an existing corpus [[dedupIndex]]
    * (built with the same `numHashes`/`bands`/`portable`) and against
    * itself, without re-reading corpus text — the ingestion-time shape of
    * [[dedupCorpus]]:
    *   1. in-batch exact dedup (keep min id per fingerprint);
    *   2. drop batch docs whose fingerprint exists in the index;
    *   3. drop batch docs sharing any LSH band key with the index
    *      (near-dup of some corpus doc);
    *   4. in-batch near-dup: candidate pairs among the remaining docs →
    *      connected components → min-id keeper.
    * Returns the surviving batch ids. Batch band keys are computed once
    * and reused by steps 3-4. Scale shape: steps 2-3 are key-equi joins a
    * bucketed at-rest index serves without shuffling itself; everything
    * batch-sided is proportional to the BATCH, not the corpus. */
  def dedupIncremental(batch: DataFrame, index: DataFrame,
      numHashes: Int = 16, bands: Int = 4, portable: Boolean = false,
      textCol: String = "text", idCol: String = "doc_id",
      maxIter: Int = 20): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val fps = batch.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val exactKeep = fps.groupBy("fp").agg(min(idCol).as(idCol))
      .select(idCol)
    val dupOfCorpus = fps
      .join(index.select("fp"), Seq("fp"), "left_semi")
      .select(idCol)
    // Checkpointed: survivors1 feeds the band-key chain (action below) AND
    // the s2ids checkpoint — without the cut, each of those actions
    // replays the batch construction + fingerprint + exact/corpus probes.
    // Batch-sized (id + text), not corpus-sized.
    val survivors1 = batch
      .join(exactKeep, Seq(idCol), "left_semi")
      .join(dupOfCorpus, Seq(idCol), "left_anti")
      .transform(Materialize.cut)
    // The batch band keys feed three separate consumers across separate
    // ACTIONS (corpus-key probe, survivor filter, in-batch pair join →
    // component rounds): localCheckpoint computes the batch
    // shingle/minhash chain ONCE and cuts the lineage, so downstream
    // actions neither recompute nor re-plan it (see nearDupComponents for
    // why caching alone is not enough). Batch-sized, not corpus-sized.
    val bk = lshBands(
      minhashSignature(survivors1, numHashes, textCol, idCol, portable),
      bands, numHashes / bands, idCol)
      .transform(Materialize.cut)
    val nearCorpus = bk
      .join(index.select("band", "key"), Seq("band", "key"), "left_semi")
      .select(idCol).distinct()
    // The surviving-id set anchors the pair join, the component loop's
    // edge materialization, AND the final anti-join — checkpoint it too
    // (ids only, a few bytes per surviving batch row).
    val s2ids = survivors1.select(idCol)
      .join(nearCorpus, Seq(idCol), "left_anti")
      .transform(Materialize.cut)
    val bk2 = bk.join(s2ids, Seq(idCol), "left_semi")
    val a = bk2.select(col("band"), col("key"), col(idCol).as("id_a"))
    val b = bk2.select(col("band"), col("key"), col(idCol).as("id_b"))
    val pairs = a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val drops = nearDupDuplicates(pairs, maxIter)
      .select(col("id").as(idCol))
    // The returned frame is materialized and lineage-cut: callers can
    // re-consume it freely without replaying the composition.
    s2ids.join(drops, Seq(idCol), "left_anti").transform(Materialize.cut)
  }

  // --- benchmark decontamination -----------------------------------------

  /** Benchmark decontamination: drop training documents that share ANY
    * word n-gram with a held-out/eval set — the standard guard against
    * eval answers leaking into a training corpus (the real-data analog
    * uses 8-13-grams; `n` is a knob because harness docs are short).
    *
    * Shape at 100 TB: the held-out side is an eval benchmark — tiny next
    * to the corpus — so its distinct n-gram set is BROADCAST and the whole
    * operator is one narrow shingle pass over the corpus plus a broadcast
    * semi-join: no corpus-keyed shuffle at all beyond the per-doc
    * distinct. Grams are hashed before the join (md5 when `portable` so
    * an external engine can reproduce the decision; xxhash64 8-byte keys
    * otherwise — a collision can only over-drop one training doc).
    */
  def decontaminate(train: DataFrame, heldOut: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      portable: Boolean = false): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val g = df.select(col(idCol),
          explode(TextAnalysis.shingles(col(textCol), n)).as("token"))
        .filter(length(col("token")) > 0)
      if (portable) g.select(col(idCol), graft.functions.DigestFunctions.md5Hex(col("token")).as("gh"))
      else g.select(col(idCol), xxhash64(col("token")).as("gh"))
    }
    val evalGrams = grams(heldOut).select("gh").distinct()
    val contaminated = grams(train)
      .join(broadcast(evalGrams), Seq("gh"), "left_semi")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Decontamination for held-out sets too large to broadcast exactly: a
    * Bloom filter of the held-out gram hashes is built distributed
    * (`BloomFilterAggregate`), shipped to every task as a literal (the
    * sketch is ~1 MB however large the gram set is), and probed MAP-SIDE —
    * the corpus-sized gram relation never joins or shuffles. Only the
    * bloom-positive grams (true hits + `fpp` noise) reach the exact
    * semi-join verification, so false positives cost work, never
    * correctness: the result is value-identical to [[decontaminate]].
    *
    * Cost shape at 100 TB: one pass over the held-out grams (build), one
    * narrow pass over the corpus grams (probe), one candidate-bounded
    * shuffle (verify). The broadcast-exact path ships every gram hash to
    * every executor; this ships a fixed-size sketch.
    *
    * @param fpp target false-positive rate used to size the filter
    *            (bits are capped at Spark's `maxNumBits`; an undersized
    *            filter degrades `fpp`, not correctness).
    */
  def decontaminateBloom(train: DataFrame, heldOut: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    def grams(df: DataFrame): DataFrame =
      df.select(col(idCol),
          explode(TextAnalysis.shingles(col(textCol), n)).as("token"))
        .filter(length(col("token")) > 0)
        .select(col(idCol), xxhash64(col("token")).as("gh"))

    // localCheckpoint, not persist: the relation feeds the size probe, the
    // bloom build, and the exact verification join in the returned plan.
    // The checkpoint materializes it once, truncates lineage, and its
    // blocks are released when the frame is garbage-collected — unlike the
    // r4 `persist()`, which was never released and accumulated across a
    // 106-query bench session (same convention as the other dedup paths).
    val heldGrams = grams(heldOut).select("gh").distinct().transform(Materialize.cut)
    val nItems = math.max(1L, heldGrams.count())
    // Optimal sizing m = -n·ln(p)/ln(2)², capped at Spark's default
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (67108864 = 8 MB).
    val numBits = math.min(67108864L, math.max(64L,
      math.ceil(-nItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
    val bloomAgg = GraftSqlShims.columnOf(
      new BloomFilterAggregate(GraftSqlShims.expressionOf(col("gh")),
        Literal(nItems), Literal(numBits)).toAggregateExpression())
    val bloomBytes =
      heldGrams.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]]("bf")
    val mightContain = GraftSqlShims.columnOf(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      GraftSqlShims.expressionOf(col("gh"))))
    val candGrams = grams(train).filter(mightContain)
    val contaminated = candGrams.join(heldGrams, Seq("gh"), "left_semi")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  // --- exact-Jaccard pair verification ------------------------------------

  /** Exact shingle-set Jaccard for an explicit PAIR list — the verification
    * stage a production MinHash pipeline runs between LSH candidate
    * generation and the merge decision, so band collisions (hash noise,
    * unlucky signatures) can't over-merge two genuinely dissimilar docs
    * into one component.
    *
    * Cost shape at 100 TB: the shingle relation is restricted to ids that
    * appear in some pair BEFORE the per-pair intersection join, so the work
    * is proportional to the CANDIDATE set (LSH-bounded), never the corpus;
    * the intersection itself is an equi-join on (pair, shingle-hash) with
    * 8-byte keys (md5 strings when `portable`).
    *
    * @return (id_a, id_b, jaccard) for every input pair.
    */
  def pairJaccard(pairs: DataFrame, docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      portable: Boolean = false): DataFrame = {
    // The pair relation is referenced FOUR times below (both candidate-id
    // projections, the intersection probe, the final join) and usually
    // arrives as the whole LSH candidate-generation plan — without a
    // lineage cut each reference replays minhash + banding + the bucket
    // join. Pairs are LSH-bounded (sum of bucket²), two longs per row.
    val p = pairs.transform(Materialize.cut)
    val candIds = p.select(col("id_a").as(idCol))
      .union(p.select(col("id_b").as(idCol))).distinct()
    val candDocs = docs.join(candIds, Seq(idCol), "left_semi")
    // The candidate shingle relation is re-derived by the size aggregate
    // and both intersection probes, but it is candidate-bounded (the
    // semi-join runs before the explode), so the recompute is cheap next
    // to the pair-plan replay the `p` checkpoint removes — and keeping it
    // lazy keeps the semi-join visible to plan audits. MEASURED r13:
    // cutting it instead (localCheckpoint) made every consumer SLOWER
    // at bench scale (q96 5.8→11.7 s, q204 15→19 s, q38 3.2→4.8 s) —
    // materializing tens of millions of (id, hash) rows costs more than
    // three pipelined whole-stage recomputes that never leave codegen.
    val toks =
      if (portable)
        candDocs.select(col(idCol),
            explode(TextAnalysis.shingles(col(textCol), 3)).as("token"))
          .filter(length(col("token")) > 0)
          .select(col(idCol), graft.functions.DigestFunctions.md5Hex(col("token")).as("sh"))
          .distinct()
      else docShingleFeatures(candDocs, textCol, idCol)
        .withColumnRenamed("feature", "sh")
    val sizes = toks.groupBy(idCol).agg(count(lit(1)).as("sz"))
    // Intersection size: pair → a's shingles, then match b on the same
    // shingle — one (pair, shingle) equi-join, never a per-pair scan.
    val inter = p
      .join(toks.select(col(idCol).as("id_a"), col("sh")), Seq("id_a"))
      .join(toks.select(col(idCol).as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    p
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (coalesce(col("inter"), lit(0L)) /
          (col("sz_a") + col("sz_b") - coalesce(col("inter"), lit(0L))))
          .as("jaccard"))
  }

  /** ASYMMETRIC near-duplicate (containment) pairs over the LSH
    * candidates: containment of A in B = |shingles(A) ∩ shingles(B)| /
    * |shingles(A)| — the measure Jaccard misses: a document QUOTED
    * WHOLESALE inside a larger one has Jaccard ≈ |A|/|B| (small) but
    * containment ≈ 1. Used to catch partial-inclusion dups (quoted
    * articles, concatenated pages) that symmetric dedup keeps.
    *
    * Candidates come from MinHash banding, so recall is bounded by band
    * collision at the pair's JACCARD — reliable for near-dups, partial
    * for low-Jaccard containment (document the limit; a dedicated
    * containment sketch would be the next step). Cost: candidate-bounded,
    * same shape as [[pairJaccard]].
    *
    * @return (id_a, id_b, containment_a, containment_b, jaccard) for
    *   candidates with max(containment) ≥ threshold (gated unrounded,
    *   emitted rounded 6) */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 16, bands: Int = 4, textCol: String = "text",
      idCol: String = "doc_id", portable: Boolean = false): DataFrame = {
    val cand = lshCandidatePairs(docs, numHashes, bands, textCol, idCol,
      portable)
    val p = cand.transform(Materialize.cut)
    val candIds = p.select(col("id_a").as(idCol))
      .union(p.select(col("id_b").as(idCol))).distinct()
    val candDocs = docs.join(candIds, Seq(idCol), "left_semi")
    val toks =
      if (portable)
        candDocs.select(col(idCol),
            explode(TextAnalysis.shingles(col(textCol), 3)).as("token"))
          .filter(length(col("token")) > 0)
          .select(col(idCol), graft.functions.DigestFunctions.md5Hex(col("token")).as("sh"))
          .distinct()
      else docShingleFeatures(candDocs, textCol, idCol)
        .withColumnRenamed("feature", "sh")
    val sizes = toks.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val inter = p
      .join(toks.select(col(idCol).as("id_a"), col("sh")), Seq("id_a"))
      .join(toks.select(col(idCol).as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val i = coalesce(col("inter"), lit(0L))
    p
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .withColumn("__ca", i / col("sz_a"))
      .withColumn("__cb", i / col("sz_b"))
      .filter(greatest(col("__ca"), col("__cb")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("__ca"), 6).as("containment_a"),
        round(col("__cb"), 6).as("containment_b"),
        round(i / (col("sz_a") + col("sz_b") - i), 6).as("jaccard"))
  }

  /** Measured MinHash ESTIMATOR quality over the LSH candidate pairs:
    * for each candidate, the sketch's Jaccard estimate (fraction of
    * agreeing signature components — the unbiased MinHash estimator)
    * next to the exact shingle Jaccard, with the absolute error. The
    * sketch-error analog of the ANN recall metrics (q44/q70b/q90c):
    * before trusting `numHashes` at corpus scale, measure what the
    * sketch actually resolves on real candidates.
    *
    * Scale: candidate-bounded — signatures join per pair (two hash
    * lookups), exact Jaccard comes from the candidate-restricted
    * [[pairJaccard]]; nothing corpus² anywhere.
    *
    * @return (id_a, id_b, est_jaccard, jaccard, abs_err), rounded 6 */
  def minhashEstimateVsExact(docs: DataFrame, numHashes: Int = 16,
      bands: Int = 4, textCol: String = "text", idCol: String = "doc_id",
      portable: Boolean = false): DataFrame = {
    val sig = minhashSignature(docs, numHashes, textCol, idCol, portable)
    val cand = lshCandidatePairs(docs, numHashes, bands, textCol, idCol,
      portable)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1).otherwise(0))
      .reduce(_ + _)
    val renameA = sig.columns.foldLeft(sig)((d, c) =>
      if (c == idCol) d.withColumnRenamed(c, "id_a")
      else d.withColumnRenamed(c, s"a_$c"))
    val renameB = sig.columns.foldLeft(sig)((d, c) =>
      if (c == idCol) d.withColumnRenamed(c, "id_b")
      else d.withColumnRenamed(c, s"b_$c"))
    val est = cand.join(renameA, "id_a").join(renameB, "id_b")
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / numHashes).as("est_raw"))
    pairJaccard(cand, docs, textCol, idCol, portable)
      .join(est, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("est_raw"), 6).as("est_jaccard"),
        round(col("jaccard"), 6).as("jaccard"),
        round(abs(col("est_raw") - col("jaccard")), 6).as("abs_err"))
  }

  /** CORPUS-LEVEL resemblance: the MinHash-estimated and exact Jaccard
    * between two corpora's UNION shingle sets — "how much does corpus B
    * overlap corpus A" answered without any per-document pairing: each
    * corpus folds to one `numHashes`-component union signature (min over
    * every gram, a 1-row global aggregate with map-side partial mins),
    * and the estimate is the agreement fraction between the two
    * signatures. The exact set Jaccard is computed alongside so the
    * sketch error is measurable (the q103 discipline at corpus
    * granularity). Planning tool for merges/dedup sizing: at 100 TB the
    * signature costs one narrow pass + a 16-value exchange, and
    * signatures of corpora at rest can be stored and compared for free.
    *
    * @return 1 row: (n_grams_a, n_grams_b, jaccard, est_jaccard,
    *   abs_err), rounded 6 */
  def corpusResemblance(a: DataFrame, b: DataFrame, numHashes: Int = 16,
      textCol: String = "text", idCol: String = "doc_id",
      portable: Boolean = false): DataFrame = {
    def gramSet(df: DataFrame): DataFrame =
      if (portable)
        df.select(explode(TextAnalysis.shingles(col(textCol), 3))
            .as("token"))
          .filter(length(col("token")) > 0)
          .select(graft.functions.DigestFunctions.md5Hex(col("token")).as("th")).distinct()
      else
        df.select(explode(TextAnalysis.shingles(col(textCol), 3))
            .as("token"))
          .filter(length(col("token")) > 0)
          .select(xxhash64(col("token")).as("th")).distinct()
    def sig(g: DataFrame, prefix: String): DataFrame = {
      val aggs = (0 until numHashes).map { i =>
        if (portable)
          min(graft.functions.DigestFunctions.md5Seeded(s"$i|", col("th")))
            .as(s"${prefix}h$i")
        else
          min(xxhash64(lit(i), col("th"))).as(s"${prefix}h$i")
      }
      g.agg(aggs.head, aggs.tail: _*)
    }
    val (ga, gb) = (gramSet(a).transform(Materialize.cut),
      gramSet(b).transform(Materialize.cut))
    val agree = (0 until numHashes)
      .map(i => when(col(s"ah$i") === col(s"bh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val sizes = ga.agg(count(lit(1)).as("n_grams_a"))
      .crossJoin(gb.agg(count(lit(1)).as("n_grams_b")))
      .crossJoin(ga.join(gb, Seq("th"), "left_semi")
        .agg(count(lit(1)).as("__inter")))
    sizes
      .crossJoin(sig(ga, "a").crossJoin(sig(gb, "b")))
      .select(col("n_grams_a"), col("n_grams_b"),
        round(col("__inter") / (col("n_grams_a") + col("n_grams_b")
          - col("__inter")), 6).as("jaccard"),
        round(agree.cast("double") / numHashes, 6).as("est_jaccard"),
        round(abs(agree.cast("double") / numHashes
          - col("__inter") / (col("n_grams_a") + col("n_grams_b")
            - col("__inter"))), 6).as("abs_err"))
  }

  /** Cross-SOURCE exact-duplicate overlap matrix: for every source pair,
    * how many distinct content fingerprints appear in both — the
    * dataset-card view of which feeds re-crawl each other (and the
    * pre-dedup estimate of what cross-source dedup will remove). The
    * diagonal (src_a = src_b) counts each source's distinct fingerprints.
    *
    * Scale: payload never shuffles — one distinct over (source, fp= md5),
    * one fp-keyed self-join bounded by per-fp source counts (a fp in k
    * sources contributes k² cells, and k ≤ #sources).
    *
    * @return (src_a, src_b, n_shared) with src_a ≤ src_b */
  def sourceOverlapMatrix(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val fps = docs.select(col(srcCol).as("src"),
      TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    fps.select(col("src").as("src_a"), col("fp"))
      .join(fps.select(col("src").as("src_b"), col("fp")), Seq("fp"))
      .filter(col("src_a") <= col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** LSH candidate pairs FILTERED by exact shingle Jaccard ≥ `threshold` —
    * the verified near-dup pair source. Candidates come from
    * [[lshCandidatePairs]] (recall); the [[pairJaccard]] gate supplies the
    * precision MinHash banding alone cannot. */
  def verifiedNearDupPairs(docs: DataFrame, threshold: Double,
      numHashes: Int = 16, bands: Int = 4, textCol: String = "text",
      idCol: String = "doc_id", portable: Boolean = false): DataFrame = {
    val cand = lshCandidatePairs(docs, numHashes, bands, textCol, idCol,
      portable)
    pairJaccard(cand, docs, textCol, idCol, portable)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b")
  }

  // --- exact duplicate-span removal ---------------------------------------

  /** Exact duplicate-SPAN removal ("Deduplicating Training Data Makes
    * Language Models Better" semantics, word-token granularity): every
    * occurrence of a duplicated `n`-token span EXCEPT the globally first
    * one is cut out of its document, and the remaining tokens are
    * reassembled in order. Unlike document-level dedup this keeps the
    * unique parts of partially-copied docs; unlike [[TextAnalysis
    * .dupSpanStats]] (measurement) this performs the edit.
    *
    * "First" is the minimum (doc, position) occurrence corpus-wide —
    * deterministic and engine-portable via the encoded key
    * `id * 2^20 + pos` (documents must stay under 2^20 tokens; ids under
    * 2^43 — both far beyond any real document/corpus id).
    *
    * Shape at 100 TB: grams with positions (one posexplode), a
    * groupBy(gram) for (count, first-occurrence), a join back on gram for
    * the duplicated occurrences, one explode of the n covered positions
    * per cut occurrence, an anti-join on (id, position), and one
    * groupBy(id) reassembly — every stage keyed, nothing all-pairs.
    * Docs with no duplicated span pass through byte-identical.
    */
  def removeDuplicateSpans(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, "span length must be at least 1 token")
    val toks = docs.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "token")))
    // Span occurrences: gram starting at pos (only full n-token windows).
    val occs = docs.select(col(idCol),
        posexplode(TextAnalysis.shingles(col(textCol), n))
          .as(Seq("pos", "gram")))
      .filter(length(col("gram")) > 0)
    val occKey = col(idCol) * lit(1048576L) + col("pos")
    val gramStats = occs
      .groupBy("gram")
      .agg(count(lit(1)).as("occ_cnt"), min(occKey).as("first_occ"))
    // Every non-first occurrence of a gram occurring 2+ times is cut.
    val cuts = occs
      .join(gramStats.filter(col("occ_cnt") >= 2), Seq("gram"))
      .filter(occKey =!= col("first_occ"))
      .select(col(idCol), col("pos"))
    // Token positions covered by any cut span.
    val covered = cuts
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          s => s.getField("token")), " ").as("clean_text"))
    // Fully-cut docs survive with empty text (dropping them is a separate
    // quality decision), mirroring removeBoilerplateLines.
    docs.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as(textCol))
  }

  // --- n-gram Jaccard -----------------------------------------------------

  /** Exact token-set Jaccard similarity of every document against one query
    * document — linear in corpus size (semi-join on the query's tokens),
    * the scalable form of "find near-duplicates of this document". */
  def jaccardToQuery(docs: DataFrame, queryId: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docTokens(docs, textCol, idCol)
    val sizes = toks.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val qToks = toks.filter(col(idCol) === queryId).select("token")
    val qSize = qToks.agg(count(lit(1)).as("q_sz")) // 1-row, stays lazy
    val inter = toks.join(broadcast(qToks), "token")
      .groupBy(idCol).agg(count(lit(1)).as("inter"))
    inter.join(sizes, idCol)
      .crossJoin(broadcast(qSize))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol),
        (col("inter") /
          (col("sz") + col("q_sz") - col("inter"))).as("jaccard"))
  }

  /** Two-TABLE fuzzy text join (the entity-resolution shape: match a new
    * feed against a reference corpus by content, not keys): candidate
    * (left, right) pairs come from shared MinHash band keys — each side
    * signed independently, joined per band bucket — and survive only if
    * exact shingle Jaccard ≥ `threshold` (the [[pairJaccard]] precision
    * gate, generalized to two sides whose id spaces may collide).
    *
    * Shape at 100 TB: both signature passes are per-doc groupBys; the
    * candidate join is band-bucket-local (cost Σ |bucketL|·|bucketR|,
    * never |L|×|R|); shingle relations are semi-joined down to candidate
    * ids BEFORE the explode; the verify is one (pair, shingle) equi-join.
    * Same machinery as [[verifiedNearDupPairs]], so the portable path is
    * DuckDB-replayable end to end (q92).
    *
    * @return (left_id, right_id, jaccard) for pairs ≥ threshold */
  def fuzzyJoin(left: DataFrame, right: DataFrame, threshold: Double,
      numHashes: Int = 16, bands: Int = 4, textCol: String = "text",
      idCol: String = "doc_id", portable: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    def bk(df: DataFrame, out: String) =
      lshBands(minhashSignature(df, numHashes, textCol, idCol, portable),
        bands, rows, idCol)
        .select(col("band"), col("key"), col(idCol).as(out))
    // Candidate pairs are referenced by both semi-joins, the intersection
    // probe, and the final join — checkpoint cuts the LSH plan replay.
    val p = bk(left, "left_id").join(bk(right, "right_id"),
        Seq("band", "key"))
      .select("left_id", "right_id").distinct()
      .transform(Materialize.cut)
    def toks(df: DataFrame, side: String, out: String) = {
      val cand = df.join(p.select(col(side).as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      val sh =
        if (portable)
          cand.select(col(idCol),
              explode(TextAnalysis.shingles(col(textCol), 3)).as("token"))
            .filter(length(col("token")) > 0)
            .select(col(idCol), graft.functions.DigestFunctions.md5Hex(col("token")).as("sh"))
            .distinct()
        else docShingleFeatures(cand, textCol, idCol)
          .withColumnRenamed("feature", "sh")
      sh.withColumnRenamed(idCol, out)
    }
    val tl = toks(left, "left_id", "left_id")
    val tr = toks(right, "right_id", "right_id")
    val szL = tl.groupBy("left_id").agg(count(lit(1)).as("sz_l"))
    val szR = tr.groupBy("right_id").agg(count(lit(1)).as("sz_r"))
    val inter = p.join(tl, Seq("left_id"))
      .join(tr, Seq("right_id", "sh"))
      .groupBy("left_id", "right_id").agg(count(lit(1)).as("inter"))
    p.join(inter, Seq("left_id", "right_id"), "left")
      .join(szL, Seq("left_id")).join(szR, Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        (coalesce(col("inter"), lit(0L)) /
          (col("sz_l") + col("sz_r") - coalesce(col("inter"), lit(0L))))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-stage audit of the [[dedupCorpus]] composition — the lineage
    * report operations wants next to every cleaning run: how many rows
    * each stage received, kept, and dropped. Re-derives the stage
    * populations with the same public building blocks (quality gate,
    * fingerprint keeper, [[dedupCorpus]] itself for the final set), so
    * the audit can run independently of — and cross-check — a production
    * run. Everything after the stage filters is 1-row aggregates; the
    * lag window runs on the 4-row stage table.
    *
    * @return 4 rows: (stage_id, stage, rows_in, rows_out, dropped) */
  def dedupCorpusAudit(docs: DataFrame, minQuality: Double = 0.3,
      numHashes: Int = 16, bands: Int = 4, portable: Boolean = false,
      textCol: String = "text", idCol: String = "doc_id",
      maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def stageCount(df: DataFrame, id: Int, name: String) =
      df.agg(count(lit(1)).as("rows_out"))
        .select(lit(id).as("stage_id"), lit(name).as("stage"),
          col("rows_out"))
    val pass = docs.filter(
      round(TextAnalysis.qualityScore(col(textCol)), 3) >= minQuality)
    val exactKept = pass
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min(idCol).as(idCol))
    val finalKept = dedupCorpus(docs, minQuality, numHashes, bands,
      portable, textCol, idCol, maxIter = maxIter)
    val stages = stageCount(docs, 0, "input")
      .unionByName(stageCount(pass, 1, "quality_gate"))
      .unionByName(stageCount(exactKept, 2, "exact_dedup"))
      .unionByName(stageCount(finalKept, 3, "near_dup"))
    val w = Window.orderBy("stage_id") // 4-row stage table, bounded
    stages
      .withColumn("rows_in",
        coalesce(lag("rows_out", 1).over(w), col("rows_out")))
      .withColumn("dropped", col("rows_in") - col("rows_out"))
      .select("stage_id", "stage", "rows_in", "rows_out", "dropped")
  }

  /** Empirical threshold sweep over verified pair similarities — the
    * DATA companion to [[lshTuningTable]]'s theory: how many pairs each
    * Jaccard threshold would keep, as per-band counts plus a descending
    * cumulative ("pairs surviving ≥ t"). Choosing the q38c/q61 gate
    * value is reading this table.
    *
    * One bucket groupBy over the (candidate-bounded) pair set; the
    * cumulative window runs on the ≤ `1/step`-row band table.
    *
    * @return (band_lo round 1-ish, n_pairs, n_at_or_above) */
  def thresholdSweep(pairsWithJaccard: DataFrame,
      step: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(step > 0 && step <= 1, "thresholdSweep: step in (0, 1]")
    val bands = pairsWithJaccard
      .select((floor(col("jaccard") / step) * step).as("band_lo"))
      .groupBy("band_lo").agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("band_lo").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bands.select(round(col("band_lo"), 4).as("band_lo"), col("n_pairs"),
      sum("n_pairs").over(w).as("n_at_or_above"))
  }

  /** LSH banding S-curve table — the TUNING companion to
    * [[lshCandidatePairs]]: for each (bands, rows-per-band) split of the
    * signature and a similarity grid, the candidate probability
    * 1 − (1 − s^r)^b plus the config's threshold estimate (1/b)^(1/r).
    * Choosing (b, r) from this table is how the dedup recall/cost
    * trade-off is actually set; emitting it as a relation keeps the
    * decision next to the data instead of in a notebook.
    *
    * Pure generated math (config × grid cross product of literals) —
    * no corpus touched.
    *
    * @return (bands, rows_per_band, s round 2, s_threshold round 4,
    *          p_candidate round 4) */
  def lshTuningTable(spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)] =
        Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)),
      gridSteps: Int = 20): DataFrame = {
    import spark.implicits._
    val cfg = configs.toDF("bands", "rows_per_band")
    val grid = (1 until gridSteps).map(_.toDouble / gridSteps).toDF("s")
    cfg.crossJoin(grid)
      .select(col("bands"), col("rows_per_band"),
        round(col("s"), 2).as("s"),
        round(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")), 4).as("s_threshold"),
        round(lit(1.0) - pow(lit(1.0) -
          pow(col("s"), col("rows_per_band")), col("bands")), 4)
          .as("p_candidate"))
  }

  /** [[groupAwareSplit]]'s k-fold form: cross-validation fold ids
    * assigned to the near-duplicate GROUP (md5 of the group id mod k),
    * so no fold ever holds a mirror of another fold's document — the
    * leakage guard, k ways.
    *
    * @return (idCol, group_id, fold ∈ [0, k)) */
  def groupAwareFolds(docs: DataFrame, components: DataFrame, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "groupAwareFolds: k must be positive")
    val comp = components.select(col("id").as(idCol), col("component"))
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("component"), col(idCol)))
      .select(col(idCol), col("group_id"),
        pmod(conv(substring(md5(col("group_id").cast("string")), 1, 4),
          16, 10).cast("int"), lit(k)).as("fold"))
  }

  /** Entity-resolution survivorship ("golden record"): collapse each
    * near-duplicate group to ONE merged record, taking the best of every
    * member — smallest id as the canonical key, union of langs/sources,
    * max length. The step AFTER dedup decides what to keep: dedup says
    * "these are the same thing", survivorship says "this is the record".
    *
    * One left join against the (pair-bounded) component table + one
    * groupBy over groups — the corpus aggregates once.
    *
    * @return (group_id, canonical_id, n_members, langs, sources,
    *          max_chars) — langs/sources sorted-distinct CSV */
  def goldenRecords(docs: DataFrame, components: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val comp = components.select(col("id").as(idCol), col("component"))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("component"), col(idCol)))
      .groupBy("group_id")
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_members"),
        concat_ws(",", array_sort(collect_set(col("lang")))).as("langs"),
        concat_ws(",", array_sort(collect_set(col("source"))))
          .as("sources"),
        max(col("n_chars")).as("max_chars"))
  }

  /** Leakage-free train/validation split: the split is assigned to the
    * near-duplicate GROUP, not the document, so two near-identical docs
    * can never land on opposite sides of the split (the classic eval
    * contamination [[TextAnalysis.hashSplit]] alone cannot prevent —
    * a doc and its mirror hash differently, a doc and its group don't).
    *
    * Group id = connected component where one exists, else the doc's own
    * id; assignment = the same deterministic md5 bucket split as
    * hashSplit, applied to the group id. One left equi-join against the
    * (tiny, pair-bounded) component table — the corpus never reshuffles.
    *
    * @param components (id, component) from [[nearDupComponents]]
    * @return (idCol, group_id, split) */
  def groupAwareSplit(docs: DataFrame, components: DataFrame,
      trainFrac: Double, idCol: String = "doc_id"): DataFrame = {
    val comp = components.select(col("id").as(idCol),
      col("component"))
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("component"), col(idCol)))
      .select(col(idCol), col("group_id"),
        TextAnalysis.hashSplit(col("group_id"), trainFrac).as("split"))
  }
}
