package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training and
  * application — tokenizer fitting is a first-class stage of an LLM data
  * pipeline (the vocabulary is learned FROM the training corpus), and
  * its classic algorithm (Sennrich et al. 2016, arXiv:1508.07909)
  * distributes cleanly if the corpus is touched exactly once:
  *
  *   1. ONE corpus pass builds the (word, freq) table — whitespace
  *      words (or n-word units), each split into single-character
  *      symbol arrays. The corpus never participates again.
  *   2. The merge loop runs over that vocabulary-bounded table. Since
  *      round 10 the front door collects it (millions of distinct words
  *      fit on any driver) and trains DRIVER-LOCAL with incremental
  *      pair-count maintenance + an ordered argmax index
  *      ([[bpeTrainLocal]]) — 30k merges in seconds with zero extra
  *      Spark jobs, the same loop shape HF/sentencepiece trainers use.
  *      Only a vocabulary too big to collect falls back to the
  *      one-job-per-merge distributed loop ([[bpeTrainDistributed]]),
  *      whose `localCheckpoint` per round keeps the plan
  *      round-count-independent.
  *
  * At 100 TB the word table is the tokenizer-training working set
  * (millions of distinct words, not billions of tokens) — the shape
  * every production BPE/WordPiece trainer exploits.
  *
  * Determinism: argmax tie-break is (count desc, pair asc); the merge
  * fold is greedy-left (an "aaa" word under merge (a,a) becomes
  * ["aa","a"]), matching the reference algorithm. `TokenizerSpec` pins
  * equality against an independent in-memory reference implementation
  * on randomized corpora.
  */
object Tokenizer {

  /** GPT-2-style category pretokenization pattern (Radford et al. 2019,
    * the `gpt2` regex): contractions split off whole, then letter /
    * digit / punctuation RUNS, each binding one leading space. This is
    * the lookahead-free portable variant: the published pattern's two
    * whitespace arms (`\s+(?!\S)`, `\s+`) only ever produce
    * all-whitespace tokens — which no downstream word table wants — and
    * RE2 (DuckDB's dialect) has no lookahead, so dropping them keeps the
    * pattern inside the Java∩RE2 common subset and lets the oracle run
    * the IDENTICAL pattern. `\p{L}`/`\p{N}` are Unicode categories in
    * both dialects, so "naïve café" pretokenizes identically too. */
  val pretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Pretokenize raw text (NOT lowercased — case folding is a modeling
    * choice made after pretokenization, if at all) into GPT-2-style
    * pretokens. Pure codegen'd expression: one `regexp_extract_all`,
    * no shuffle, no UDF — the 100 TB shape is a narrow projection. */
  def pretokenize(text: Column): Column =
    regexp_extract_all(text, lit(pretokenPattern), lit(0))

  /** Split a word into single-CODE-POINT symbols — the JVM-side twin
    * of Spark's `split(col, "")`, which splits UTF-8 by code point.
    * Java's `String.split("")` splits between UTF-16 code units and
    * tears supplementary-plane characters (an emoji became two lone
    * surrogates), so local trainers/appliers that used it diverged
    * from their expression/distributed twins on any non-BMP text. */
  private[graft] def codePointSymbols(w: String): Array[String] = {
    val out = new Array[String](w.codePointCount(0, w.length))
    var i = 0
    var k = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out(k) = new String(Character.toChars(cp))
      i += Character.charCount(cp)
      k += 1
    }
    out
  }

  /** The one corpus pass: (word, freq, sym) with single-char symbols.
    * `wordsPerUnit` is the pre-tokenization granularity — 1 trains over
    * whitespace words (the Sennrich setup); n>1 groups n consecutive
    * words into one space-joined unit (the GPT-2-style "merges may
    * capture space-adjacent context" setup, with ' ' as an ordinary
    * symbol). A coarser unit grows the trainable vocabulary without
    * changing the algorithm. */
  private[graft] def wordTable(docs: DataFrame, textCol: String,
      wordsPerUnit: Int): DataFrame = {
    val ws = filter(split(trim(lower(col(textCol))), "\\s+"),
      s => length(s) > 0)
    val units =
      if (wordsPerUnit <= 1) explode(ws)
      else explode(transform(
        sequence(lit(0),
          floor((size(ws) - 1) / wordsPerUnit).cast("int")),
        i => array_join(
          slice(ws, i * wordsPerUnit + 1, lit(wordsPerUnit)), " ")))
    docs
      .select(units.as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("sym",
        filter(split(col("w"), ""), s => length(s) > 0))
  }

  /** Learn `numMerges` merges over `docs`. Routes by vocabulary size:
    * the (word, freq) table is vocabulary-bounded (millions of distinct
    * words at 100 TB, not billions of tokens), so after the ONE
    * distributed corpus pass the merge loop runs DRIVER-LOCAL with
    * incrementally-maintained pair counts ([[bpeTrainLocal]]) — the
    * shape every production BPE/WordPiece trainer uses — falling back to
    * the one-job-per-merge distributed loop ([[bpeTrainDistributed]])
    * only when the vocabulary exceeds `maxLocalWords`.
    * @return the ordered merge list. */
  def bpeTrain(docs: DataFrame, numMerges: Int,
      textCol: String = "text", wordsPerUnit: Int = 1,
      maxLocalWords: Long = 2000000L): Seq[(String, String)] = {
    val words = wordTable(docs, textCol, wordsPerUnit).localCheckpoint()
    try {
      if (words.count() <= maxLocalWords) {
        val wf = words.select("w", "freq").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        bpeTrainLocal(wf, numMerges)
      } else bpeTrainDistributed(words, numMerges)
    } finally Materialize.release(words)
  }

  /** Driver-local merge loop over a collected (word, freq) table —
    * O(affected-words) incremental pair-count maintenance per merge and
    * an ordered index for the argmax, so 30k merges cost seconds, not
    * 30k Spark jobs. Trajectory-identical to [[bpeTrainDistributed]]
    * and to TokenizerSpec's independent reference implementation
    * (same greedy-left merge, same (count desc, pair asc) tie-break) —
    * property-pinned on randomized corpora. */
  def bpeTrainLocal(wordFreqs: Seq[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    // consolidate duplicates defensively (input is normally distinct)
    val wf = wordFreqs.groupMapReduce(_._1)(_._2)(_ + _).toArray
    // r20 (guide §1.2, the r19 "Not yet optimized" #1 arena/packed-int
    // item): symbols are INTERNED to dense ids and every per-word
    // accounting map is one reused open-addressing arena — the r19 loop
    // still allocated a HashMap + boxed (String, String) tuple + Acc
    // per touched pair per affected word. The argmax index keeps its
    // (count desc, a asc, b asc) STRING ordering (UTF-16 — the
    // reference tie-break), so the trajectory is bit-identical;
    // TokenizerSpec's independent-reference property pins it.
    val intern = new SubwordBatch.Interner
    val syms: Array[Array[Int]] =
      wf.map(w => codePointSymbols(w._1).map(intern.id))
    val freqs: Array[Long] = wf.map(_._2)

    val pairCounts = mutable.LongMap.empty[Long]
    val pairWords = mutable.LongMap.empty[mutable.BitSet]
    // ordered argmax index: (count desc, a asc, b asc) — the reference
    // tie-break, kept in lock-step with pairCounts
    val index = mutable.TreeSet.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering[Long].reverse, Ordering[String],
        Ordering[String]))

    def bump(p: Long, delta: Long): Unit = {
      val a = intern.str((p >>> 32).toInt)
      val b = intern.str(p.toInt)
      val old = pairCounts.getOrElse(p, 0L)
      if (old != 0L) index.remove((old, a, b))
      val nw = old + delta
      if (nw > 0L) { pairCounts(p) = nw; index.add((nw, a, b)) }
      else { pairCounts.remove(p); pairWords.remove(p) }
    }

    val arena = new SubwordBatch.AccArena()
    var i = 0
    while (i < syms.length) {
      val s = syms(i)
      var j = 0
      while (j < s.length - 1) {
        arena.add(SubwordBatch.packPair(s(j), s(j + 1)), 1, 0)
        j += 1
      }
      arena.foreachCell { (p, k, _) =>
        bump(p, k.toLong * freqs(i))
        pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += i
      }
      arena.clear()
      i += 1
    }

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < numMerges && index.nonEmpty) {
      val (_, a, b) = index.head
      merges += ((a, b))
      val aId = intern.id(a); val bId = intern.id(b)
      val mergedId = intern.id(a + b)
      val affected = pairWords.get(SubwordBatch.packPair(aId, bId))
        .map(_.toArray).getOrElse(Array.emptyIntArray)
      affected.foreach { w =>
        // one fused pass (mergeOnceDeltasInt) against the reused arena;
        // the (delta, after) cells drive the identical bump/membership
        // updates the r19 per-word HashMap drove.
        syms(w) = SubwordBatch.mergeOnceDeltasInt(syms(w), aId, bId,
          mergedId, arena, null)
        arena.foreachCell { (p, after, delta) =>
          if (delta != 0) bump(p, delta.toLong * freqs(w))
          if (after > 0)
            pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += w
          else pairWords.get(p).foreach(_ -= w)
        }
        arena.clear()
      }
    }
    merges.toSeq
  }

  /** The beyond-`maxLocalWords` distributed route, BATCHED since r14:
    * the r13 version ran one full-table aggregation + `localCheckpoint`
    * PER MERGE — a driver-sequential O(vocab)-job bottleneck in exactly
    * the 100 TB regime this route exists for. Now [[SubwordBatch]]
    * simulates long exact-greedy runs on the driver over a pulled
    * active set and applies each whole batch in ONE distributed pass,
    * so a q188-scale training (1,200+ merges) needs tens of Spark
    * actions, not thousands — trajectory-identical to
    * [[bpeTrainLocal]] (property-pinned in TokenizerSpec, including
    * with caps forced tiny so every batch-stop path runs). Takes the
    * (w, freq, sym) word table from the single corpus pass. */
  def bpeTrainDistributed(wordTbl: DataFrame, numMerges: Int,
      topPairs: Int = 200000, maxActivePairs: Int = 8192,
      activeWordCap: Int = 1000000): Seq[(String, String)] =
    bpeTrainDistributedDetail(wordTbl, numMerges, topPairs,
      maxActivePairs, activeWordCap).sels.map(s => (s.a, s.b))

  /** [[bpeTrainDistributed]] with the full selection/accounting detail
    * (exact per-merge counts, Spark rounds and actions) — the surface
    * the batching claim and the SQL replay adjudicate. */
  private[graft] def bpeTrainDistributedDetail(wordTbl: DataFrame,
      numMerges: Int, topPairs: Int = 200000, maxActivePairs: Int = 8192,
      activeWordCap: Int = 1000000): SubwordBatch.Result =
    SubwordBatch.train(wordTbl, useGain = false, (a, b) => a + b,
      (nSel, _) => nSel < numMerges, topPairs, maxActivePairs,
      activeWordCap)

  /** Tokenize with a learned merge list: one narrow projection over the
    * corpus — `split(trim(lower(text)))` generates Java, then the
    * native [[graft.functions.BpeTokenizeWords]] expression applies the
    * whole rule list per word and flattens (no shuffle, no UDF, and NO
    * higher-order function anywhere in the plan).
    *
    * Until r18 this folded one `aggregate` HOF per merge into the plan
    * — fine for a handful of rules, but plan depth grew with the merge
    * count and a q183b profile (BENCH_NOTES r18) measured 90-125 s of
    * cold per-JVM C2 compilation against exactly that interpreted
    * chain. The expression is rule-count-independent in plan shape and
    * carries the two production tricks (substring prefilter,
    * distinct-word memo) that
    * previously justified a separate mapPartitions twin; `BpeChainSpec`
    * pins the whole plan bit-equal to the replayed pre-r19 fold chain
    * under both codegen and interpreted eval. */
  def bpeApply(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val words = split(trim(lower(col(textCol))), "\\s+")
    docs.select(col(idCol),
      graft.functions.SubwordFunctions.bpeTokenizeWords(words, merges)
        .as("tokens"))
  }

  /** [[bpeApply]] for REAL vocabularies — since r19 the SAME plan (the
    * [[graft.functions.BpeTokenizeWords]] expression handles a 30k-rule
    * production table: rules ride the broadcast task binary, the fold
    * is one compiled loop with prefilter + per-thread distinct-word
    * memo), so the historical mapPartitions twin is DELETED rather than
    * re-justified (r18 verdict #2). Kept as a distinct entry point for
    * its contract differences: ids cast to long, and a NULL text row
    * yields an EMPTY token array (the old mapPartitions
    * `Option(text).getOrElse("")`), where [[bpeApply]] yields NULL
    * (the Column fold's null chain). */
  def bpeApplyLarge(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val words =
      split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    docs.select(col(idCol).cast("long").as(idCol),
      graft.functions.SubwordFunctions.bpeTokenizeWords(words, merges)
        .as("tokens"))
  }

  /** Training summary as a relation (for the catalog): one row per
    * learned merge, in training order. */
  def bpeMergeTable(docs: DataFrame, numMerges: Int,
      textCol: String = "text", wordsPerUnit: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, numMerges, textCol, wordsPerUnit).zipWithIndex
      .map { case ((a, b), i) => (i, a, b, a + b) }
      .toDF("step", "left", "right", "merged")
  }

  /** [[bpeMergeTable]]'s FORCED-DISTRIBUTED twin: the batched
    * distributed trainer's merge trajectory as a relation (step
    * 1-indexed, the q205 shape), oracle-replayable round-by-round with
    * the same SQL machinery as the pretoken family — the trajectory is
    * the same relation regardless of route, which is exactly the claim
    * the oracle checks. Caps are exposed so a catalog entry can force
    * MULTIPLE batch rounds (partial top-P knowledge, capped active
    * pulls) on small data. */
  def bpeMergeTableDistributed(docs: DataFrame, numMerges: Int,
      textCol: String = "text", wordsPerUnit: Int = 1,
      topPairs: Int = 200000, maxActivePairs: Int = 8192,
      activeWordCap: Int = 1000000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordTable(docs, textCol, wordsPerUnit)
    bpeTrainDistributedDetail(words, numMerges, topPairs,
      maxActivePairs, activeWordCap).sels.zipWithIndex
      .map { case (s, i) => (i + 1, s.a, s.b, s.merged) }
      .toDF("step", "left_sym", "right_sym", "merged")
  }

  // ------------------------------------------------------------------
  // GPT-2-style BPE over pretokens (the composed pipeline: pretokenize
  // → train/apply BPE with the leading space as an ordinary symbol)
  // ------------------------------------------------------------------

  /** One corpus pass into the PRETOKEN frequency table — the word
    * table a GPT-2-style trainer consumes: [[pretokenize]] units, case
    * preserved, the leading space bound to its run (the leading-space
    * convention plays the `Ġ` space-marker role; on an ASCII corpus
    * the character alphabet IS the byte alphabet, so this is
    * byte-level BPE without the byte↔unicode remap table). Same
    * 100 TB shape as [[wordTable]]: the corpus is touched once, the
    * merge loop sees only the vocabulary-bounded table. */
  def pretokenWordTable(docs: DataFrame,
      textCol: String = "text"): DataFrame =
    docs.select(explode(pretokenize(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("sym",
        filter(split(col("w"), ""), s => length(s) > 0))

  /** BPE training over the pretoken table — [[bpeTrain]] with
    * [[pretokenWordTable]] as the unit source: collect-and-train-local
    * under `maxLocalWords`, the one-job-per-merge distributed loop
    * past it. */
  def bpeTrainPretokens(docs: DataFrame, numMerges: Int,
      textCol: String = "text",
      maxLocalWords: Long = 2000000L): Seq[(String, String)] = {
    val words = pretokenWordTable(docs, textCol).localCheckpoint()
    try {
      if (words.count() <= maxLocalWords) {
        val wf = words.select("w", "freq").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        bpeTrainLocal(wf, numMerges)
      } else bpeTrainDistributed(words, numMerges)
    } finally Materialize.release(words)
  }

  /** Pretoken-BPE training trajectory as a relation (q205):
    * (step, left_sym, right_sym, merged), steps 1-based in selection
    * order — the SQL-adjudicable twin of [[bpeTrainPretokens]]. */
  def bpePretokenMergeTable(docs: DataFrame, numMerges: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainPretokens(docs, numMerges, textCol).zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b, a + b) }
      .toDF("step", "left_sym", "right_sym", "merged")
  }

  /** Apply a (possibly loaded) merge list to the PRETOKEN stream:
    * pretokenize in the expression plane (codegen'd projection), then
    * the same [[graft.functions.BpeTokenizeWords]] fold per pretoken — no
    * lowercasing, no whitespace split; the pretoken is the unit,
    * exactly as trained. Emits (idCol, tokens); a NULL text row yields
    * an empty token array (the pre-r19 mapPartitions contract). */
  def bpeApplyPretokens(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val pts = pretokenize(coalesce(col(textCol), lit("")))
    docs.select(col(idCol).cast("long").as(idCol),
      graft.functions.SubwordFunctions.bpeTokenizeWords(pts, merges)
        .as("tokens"))
  }

  /** Corpus fertility under a loaded pretoken-BPE merge list (the
    * [[graft.operators.WordPiece.wordPieceFertility]] discipline):
    * tokenize the distinct-pretoken VOCABULARY once, weight by
    * occurrence. BPE has no UNK — every pretoken segments (worst case
    * into characters) — so the single row is
    * (n_pretokens, n_occurrences, n_tokens, fertility) with fertility
    * an unrounded IEEE division of exact longs. */
  def bpePretokenFertility(docs: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame = {
    val words = pretokenWordTable(docs, textCol).select("w", "freq")
    val walked = words.select(col("w"), col("freq"),
      size(graft.functions.SubwordFunctions.bpeMergeChain(col("w"),
        merges)).as("n"))
    walked.agg(
        count(lit(1)).as("n_pretokens"),
        sum("freq").as("n_occurrences"),
        sum(col("freq") * col("n")).as("n_tokens"))
      .select(col("n_pretokens"), col("n_occurrences"), col("n_tokens"),
        (col("n_tokens").cast("double") /
          col("n_occurrences").cast("double")).as("fertility"))
  }
}
