package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer) —
  * the third production subword family next to BPE ([[Tokenizer]]) and
  * unigram-LM ([[Unigram]]).
  *
  * **Training** is BPE-shaped (iterative pair merging over a (word,
  * freq) table) with a different objective: the merged pair maximizes
  * the likelihood GAIN `count(ab) / (count(a) * count(b))` rather than
  * raw pair frequency, so rare-but-exclusive pairs win over frequent-
  * but-independent ones. Word-internal symbols carry the `##`
  * continuation prefix; a merge concatenates the left symbol with the
  * right symbol's unprefixed text (prefix status is positional and
  * inherited from the left).
  *
  * **Application** is greedy longest-match-first: at each position take
  * the longest vocabulary piece matching the remaining word (with `##`
  * lookup past position 0); if no piece matches, the WHOLE word becomes
  * the unknown token — no backtracking, per the BERT reference
  * implementation. This makes apply trivially SQL-replayable (the
  * greedy transition per (word, pos) is a deterministic function, so an
  * external engine replays the walk exactly — q197), unlike BPE's
  * merge-order fold or unigram's lattice DP.
  *
  * Scale shape: training is ONE distributed corpus pass into the
  * vocabulary-bounded (word, freq) table ([[Tokenizer.wordTable]] — the
  * same route as BPE/unigram), then a driver-local merge loop;
  * application is a broadcast vocabulary + `mapPartitions` with a
  * distinct-word memo (the [[Tokenizer.bpeApplyLarge]] shape). */
object WordPiece {

  val UnkToken = "[UNK]"

  // ------------------------------------------------------------------
  // Training
  // ------------------------------------------------------------------

  /** Driver-local WordPiece training over a (word, freq) table: start
    * from the character alphabet (word-initial chars bare, internal
    * chars `##`-prefixed, lexicographic rank), then repeatedly merge
    * the adjacent symbol pair with the highest likelihood gain
    * `c(ab) / (c(a)·c(b))` (tie → pair asc, deterministic) until
    * `vocabSize` pieces exist or no pair remains. Pair/symbol counts
    * are recomputed per merge — O(words · len) a round; WordPiece
    * vocabularies here are hundreds-to-thousands of merges over a
    * vocabulary-bounded word table, where the simple loop is seconds
    * (the incremental-maintenance upgrade exists in [[Tokenizer
    * .bpeTrainLocal]] if profiles ever demand it).
    *
    * @return pieces in rank order: alphabet first, merges in creation
    *         order. */
  /** One training-loop selection: the chosen pair, its merged piece,
    * and the EXACT integer counts behind the likelihood-gain argmax
    * (`cPair / (cLeft · cRight)`) — surfaced so an external engine can
    * adjudicate the selection without replaying IEEE division. */
  case class MergeStep(step: Int, left: String, right: String,
      piece: String, cPair: Long, cLeft: Long, cRight: Long)

  /** Initial per-word symbol sequences (first char bare, rest
    * `##`-prefixed) + freqs for the sorted, deduplicated word table. */
  private def initSyms(wordFreqs: Seq[(String, Long)])
      : (Array[Array[String]], Array[Long]) = {
    val wf = wordFreqs.groupMapReduce(_._1)(_._2)(_ + _).toArray
      .filter(_._1.nonEmpty).sortBy(_._1)
    val syms: Array[Array[String]] = wf.map { case (w, _) =>
      Tokenizer.codePointSymbols(w).zipWithIndex
        .map { case (c, i) => if (i == 0) c else "##" + c }
    }
    (syms, wf.map(_._2))
  }

  /** One likelihood-gain round: recount symbols and adjacent pairs
    * (frequency-weighted), pick the argmax of
    * `c(ab) / (c(a)·c(b))` (tie → lexicographically smallest pair),
    * apply the greedy-left merge pass in place. None ⇒ no pair left. */
  private def mergeRound(syms: Array[Array[String]], freqs: Array[Long])
      : Option[(String, String, String, Long, Long, Long)] = {
    import scala.collection.mutable
    val symCount = mutable.HashMap.empty[String, Long]
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    var k = 0
    while (k < syms.length) {
      val s = syms(k); val f = freqs(k)
      var i = 0
      while (i < s.length) {
        symCount.update(s(i), symCount.getOrElse(s(i), 0L) + f)
        if (i + 1 < s.length) {
          val p = (s(i), s(i + 1))
          pairCount.update(p, pairCount.getOrElse(p, 0L) + f)
        }
        i += 1
      }
      k += 1
    }
    if (pairCount.isEmpty) return None
    // argmax by score; ties go to the lexicographically smallest pair
    var bestPair: (String, String) = null
    var bestScore = -1.0
    val pairOrd = Ordering.Tuple2(Ordering.String, Ordering.String)
    pairCount.foreach { case (p, c) =>
      val score = c.toDouble / (symCount(p._1).toDouble * symCount(p._2))
      if (score > bestScore ||
          (score == bestScore && pairOrd.lt(p, bestPair))) {
        bestPair = p; bestScore = score
      }
    }
    val (a, b) = bestPair
    val merged = a + b.stripPrefix("##")
    // greedy-left merge pass over every word — the ONE shared fold
    // (SubwordBatch.mergeOnceArr), same as BPE and the batched
    // distributed route, so the trajectory-critical pass cannot drift
    k = 0
    while (k < syms.length) {
      syms(k) = SubwordBatch.mergeOnceArr(syms(k), a, b, merged)
      k += 1
    }
    Some((a, b, merged, pairCount(bestPair), symCount(a), symCount(b)))
  }

  def wordPieceTrainLocal(wordFreqs: Seq[(String, Long)],
      vocabSize: Int): Seq[String] = {
    import scala.collection.mutable
    val (syms, freqs) = initSyms(wordFreqs)
    if (syms.isEmpty) return Seq.empty
    val alphabet = syms.flatten.distinct.sorted
    val vocab = mutable.LinkedHashSet[String](alphabet: _*)
    while (vocab.size < vocabSize) {
      mergeRound(syms, freqs) match {
        case Some((_, _, merged, _, _, _)) => vocab += merged
        case None => return vocab.toSeq
      }
    }
    vocab.toSeq
  }

  /** The first `numMerges` SELECTIONS of the training loop, with the
    * exact integer counts behind each likelihood-gain argmax — the
    * SQL-adjudicable surface of training (the [[Tokenizer
    * .bpeMergeTable]] analog): an external engine replays each round's
    * pair/symbol counts and the argmax decision value-for-value
    * (q196b). Distinct from [[wordPieceTrainLocal]]'s vocabulary,
    * which dedups re-derived pieces: this is the raw decision
    * sequence. */
  def wordPieceMergeSteps(wordFreqs: Seq[(String, Long)],
      numMerges: Int): Seq[MergeStep] = {
    val (syms, freqs) = initSyms(wordFreqs)
    if (syms.isEmpty) return Seq.empty
    (1 to numMerges).iterator
      .map(i => mergeRound(syms, freqs).map {
        case (a, b, m, cp, ca, cb) => MergeStep(i, a, b, m, cp, ca, cb)
      })
      .takeWhile(_.isDefined).flatten.toSeq
  }

  /** Learn a WordPiece vocabulary over `docs`: one distributed corpus
    * pass builds the (word, freq) table ([[Tokenizer.wordTable]], same
    * normalization as BPE/unigram), then routes by vocabulary size the
    * way [[Tokenizer.bpeTrain]] does — driver-local merge loop under
    * `maxLocalWords`, the one-job-per-round distributed loop past it.
    * (Until r13 the over-cap case silently TRUNCATED the word table to
    * the most frequent `maxLocalWords` — the only tokenizer family
    * without a full-table route; at 100 TB that quietly trained on a
    * frequency prefix.) */
  def wordPieceTrain(docs: DataFrame, vocabSize: Int,
      textCol: String = "text", wordsPerUnit: Int = 1,
      maxLocalWords: Long = 2000000L): Seq[String] = {
    val words = Tokenizer.wordTable(docs, textCol, wordsPerUnit)
      .localCheckpoint()
    try {
      if (words.count() <= maxLocalWords) {
        val wf = words.select("w", "freq").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        wordPieceTrainLocal(wf, vocabSize)
      } else wordPieceTrainDistributed(words, vocabSize)
    } finally Materialize.release(words)
  }

  /** The WordPiece-prefixed (freq, sym) table the distributed routes
    * train over: first char bare, internal chars `##`-prefixed, empty
    * words dropped exactly as [[initSyms]] drops them locally. Spark's
    * `split(w, '')` splits by CODE POINT (the [[Tokenizer
    * .codePointSymbols]] parity contract). */
  private def distInit(wordTbl: DataFrame): DataFrame =
    wordTbl
      .filter(length(col("w")) > 0)
      .select(col("freq"), expr(
        "transform(filter(split(w, ''), c -> c != ''), " +
          "(c, i) -> CASE WHEN i = 0 THEN c ELSE concat('##', c) END)")
        .as("sym"))

  /** The beyond-`maxLocalWords` distributed route, BATCHED since r14
    * (the [[Tokenizer.bpeTrainDistributed]] story under the
    * likelihood-gain objective): r13 ran one aggregation + one
    * `localCheckpoint` per merge; [[SubwordBatch]] now simulates long
    * exact-greedy runs on the driver — gains recomputed from exact
    * global symbol counts, the SAME single IEEE `c/(c_a·c_b)` division
    * and (gain desc, pair asc UTF-16) tie-break as
    * [[wordPieceTrainLocal]] — and applies each batch in one
    * distributed pass. Trajectory-identical to the local trainer
    * (spec-pinned, including with tiny forced caps); the alphabet
    * seeds driver-sorted as before. */
  def wordPieceTrainDistributed(wordTbl: DataFrame, vocabSize: Int,
      topPairs: Int = 200000, maxActivePairs: Int = 8192,
      activeWordCap: Int = 1000000): Seq[String] = {
    val r = SubwordBatch.train(distInit(wordTbl), useGain = true,
      (a, b) => a + b.stripPrefix("##"),
      (_, nVocab) => nVocab < vocabSize, topPairs, maxActivePairs,
      activeWordCap)
    val vocab = scala.collection.mutable.LinkedHashSet[String](
      r.alphabet: _*)
    r.sels.foreach(s => vocab += s.merged)
    vocab.toSeq
  }

  /** The first `numMerges` SELECTIONS of the DISTRIBUTED training
    * loop with their exact integer argmax counts — the
    * [[wordPieceMergeSteps]] twin for the beyond-`maxLocalWords`
    * route, so the batched trainer's decision sequence is adjudicable
    * by the SAME q196b SQL replay (cross-multiplied integer gains, no
    * route-specific evidence). */
  private[operators] def wordPieceMergeStepsDistributed(
      wordTbl: DataFrame, numMerges: Int, topPairs: Int = 200000,
      maxActivePairs: Int = 8192,
      activeWordCap: Int = 1000000): Seq[MergeStep] =
    SubwordBatch.train(distInit(wordTbl), useGain = true,
      (a, b) => a + b.stripPrefix("##"),
      (nSel, _) => nSel < numMerges, topPairs, maxActivePairs,
      activeWordCap)
      .sels.zipWithIndex
      .map { case (s, i) =>
        MergeStep(i + 1, s.a, s.b, s.merged, s.cPair, s.cLeft, s.cRight)
      }

  /** [[wordPieceMergeTable]]'s forced-distributed twin: the batched
    * distributed trainer's selection trajectory as a relation, oracle-
    * replayable with the identical q196b SQL (the trajectory is the
    * same relation regardless of route — that is the claim the oracle
    * checks). Caps are exposed so a catalog entry can force MULTIPLE
    * batch rounds on small data. */
  def wordPieceMergeTableDistributed(docs: DataFrame, numMerges: Int,
      textCol: String = "text", wordsPerUnit: Int = 1,
      topPairs: Int = 200000, maxActivePairs: Int = 8192,
      activeWordCap: Int = 1000000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = Tokenizer.wordTable(docs, textCol, wordsPerUnit)
      .select(col("w"), col("freq"))
    wordPieceMergeStepsDistributed(words, numMerges, topPairs,
      maxActivePairs, activeWordCap)
      .map(s => (s.step, s.left, s.right, s.piece, s.cPair, s.cLeft,
        s.cRight))
      .toDF("step", "left_sym", "right_sym", "piece", "c_pair", "c_left",
        "c_right")
  }

  /** Trained vocabulary as a relation: (rank, piece). */
  def wordPieceVocabTable(docs: DataFrame, vocabSize: Int,
      textCol: String = "text", wordsPerUnit: Int = 1,
      maxLocalWords: Long = 2000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    wordPieceTrain(docs, vocabSize, textCol, wordsPerUnit, maxLocalWords)
      .zipWithIndex
      .map { case (p, i) => (i, p) }
      .toDF("rank", "piece")
  }

  /** Training SELECTION trajectory as a relation: (step, left, right,
    * piece, c_pair, c_left, c_right) for the first `numMerges` rounds
    * over the one-pass corpus word table — the adjudicable twin of
    * [[wordPieceVocabTable]] (see [[wordPieceMergeSteps]]). */
  def wordPieceMergeTable(docs: DataFrame, numMerges: Int,
      textCol: String = "text", wordsPerUnit: Int = 1,
      maxLocalWords: Int = 2000000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // This is the ADJUDICATION surface: its DuckDB replay (q196b)
    // rebuilds the counts over the FULL word table, so a bound limit
    // would silently diverge the two engines. Refuse instead of
    // truncating — the production (capped) route is wordPieceTrain.
    // The limit is cap+1 so the collect stays driver-bounded while a
    // table of EXACTLY maxLocalWords rows (nothing truncated) still
    // passes — r13's pre-limit at the cap made the at-cap case
    // indistinguishable from truncation and failed it spuriously.
    val words = Tokenizer.wordTable(docs, textCol, wordsPerUnit)
      .select(col("w"), col("freq"))
      .limit(maxLocalWords + 1)
    val wf = words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(wf.size <= maxLocalWords,
      s"wordPieceMergeTable hit maxLocalWords=$maxLocalWords distinct " +
        "words; the SQL replay assumes the untruncated table — raise " +
        "the cap or use wordPieceTrain for the capped production route")
    wordPieceMergeSteps(wf, numMerges)
      .map(s => (s.step, s.left, s.right, s.piece, s.cPair, s.cLeft,
        s.cRight))
      .toDF("step", "left_sym", "right_sym", "piece", "c_pair", "c_left",
        "c_right")
  }

  // ------------------------------------------------------------------
  // Application
  // ------------------------------------------------------------------

  /** Greedy longest-match-first tokenization of one word. None ⇒ no
    * piece matched at some position (the caller emits the unknown
    * token for the whole word). `maxLen` is the longest UNPREFIXED
    * piece text; `maxWordLen` is the BERT-style long-word bailout. */
  private[operators] def tokenizeGreedy(w: String, vocab: Set[String],
      maxLen: Int, maxWordLen: Int): Option[Array[String]] = {
    if (w.isEmpty) return Some(Array.empty)
    if (w.length > maxWordLen) return None
    val out = new scala.collection.mutable.ArrayBuffer[String](4)
    var pos = 0
    while (pos < w.length) {
      var len = math.min(maxLen, w.length - pos)
      var found: String = null
      while (len > 0 && found == null) {
        val cand = w.substring(pos, pos + len)
        val key = if (pos > 0) "##" + cand else cand
        if (vocab.contains(key)) found = key
        len -= 1
      }
      if (found == null) return None
      out += found
      pos += found.length - (if (pos > 0) 2 else 0)
    }
    Some(out.toArray)
  }

  /** Executor-memoized apply state keyed by broadcast id (the
    * [[Unigram]] applyState discipline): (piece set, max unprefixed
    * piece length) derived once per executor JVM per vocabulary. */
  private val applyStateCache =
    new java.util.concurrent.ConcurrentHashMap[Long, (Set[String], Int)]()
  private def applyState(
      bc: org.apache.spark.broadcast.Broadcast[Array[String]])
      : (Set[String], Int) = {
    if (applyStateCache.size > 16) applyStateCache.clear()
    applyStateCache.computeIfAbsent(bc.id, _ => {
      val set = bc.value.toSet
      val maxLen =
        if (set.isEmpty) 1
        else set.iterator.map(p => p.stripPrefix("##").length).max
      (set, maxLen)
    })
  }

  /** Tokenize a corpus under a (possibly loaded) vocabulary — broadcast
    * set + per-partition distinct-word memo. Emits (idCol, tokens);
    * unmatched words contribute the single [[UnkToken]]. */
  def wordPieceApply(docs: DataFrame, vocab: Seq[String],
      textCol: String = "text", idCol: String = "doc_id",
      maxWordLen: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.toArray)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (set, maxLen) = applyState(bc)
        val memo = new java.util.HashMap[String, Array[String]]()
        def tok(w: String): Array[String] = {
          val cached = memo.get(w)
          if (cached != null) return cached
          val t = tokenizeGreedy(w, set, maxLen, maxWordLen)
            .getOrElse(Array(UnkToken))
          memo.put(w, t)
          t
        }
        it.map { case (id, text) =>
          val toks = Option(text).getOrElse("").trim
            .toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
            .flatMap(tok)
          (id, toks.toSeq)
        }
      }
      .toDF(idCol, "tokens")
  }

  /** Per-word greedy tokenization as a relation — the SQL-adjudicable
    * surface: for each input word the token count and whether the
    * greedy walk failed (whole word → unknown). The greedy transition
    * at each (word, pos) is a deterministic function (longest matching
    * piece), so an external engine replays the walk exactly (q197).
    * Emits (wordCol, n_tokens, is_unk). */
  def wordPieceTable(words: DataFrame, vocab: Seq[String],
      wordCol: String = "w", maxWordLen: Int = 200): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.toArray)
    words.select(col(wordCol)).as[String]
      .mapPartitions { it =>
        val (set, maxLen) = applyState(bc)
        it.map { w =>
          tokenizeGreedy(w, set, maxLen, maxWordLen) match {
            case Some(toks) => (w, toks.length, false)
            case None => (w, 1, true)
          }
        }
      }
      .toDF(wordCol, "n_tokens", "is_unk")
  }

  /** Corpus-level tokenizer fertility — the standard tokenizer-quality
    * metric: occurrence-weighted average subword pieces per word under
    * `vocab`, plus the UNK share (words the greedy walk strands on).
    * Input is a (word, freq) table so the walk runs once per DISTINCT
    * word; at 100 TB that table is the tokenizer working set (millions
    * of rows, not billions of tokens) and the metric costs one
    * word-table pass + one aggregate. Output (single row):
    * (n_words, n_occurrences, fertility, unk_word_frac, unk_occ_frac) —
    * fertility averages over NON-unk occurrences (an UNK is a coverage
    * failure, not a 1-piece success); the fractions are unrounded IEEE
    * divisions of exact longs, bit-identical across engines. */
  def wordPieceFertility(words: DataFrame, vocab: Seq[String],
      wordCol: String = "w", freqCol: String = "freq",
      maxWordLen: Int = 200): DataFrame = {
    // Defensive pre-aggregation: the contract is one row per distinct
    // word, but a caller passing raw (word, freq) rows with duplicate
    // words would fan the join out and double-count every metric —
    // collapse to sum(freq) per word first (a no-op shuffle when the
    // input already is distinct-keyed).
    val perWord = words.groupBy(col(wordCol))
      .agg(sum(col(freqCol).cast("long")).as(freqCol))
    val walked = wordPieceTable(
        perWord.select(col(wordCol)), vocab, wordCol, maxWordLen)
      .join(perWord, Seq(wordCol))
    walked.agg(
        count(lit(1)).as("n_words"),
        sum(freqCol).as("n_occurrences"),
        sum(when(!col("is_unk"), col(freqCol) * col("n_tokens"))
          .otherwise(0L)).as("__pieces"),
        sum(when(!col("is_unk"), col(freqCol)).otherwise(0L)).as("__kept"),
        sum(when(col("is_unk"), 1L).otherwise(0L)).as("__unk_words"),
        sum(when(col("is_unk"), col(freqCol)).otherwise(0L)).as("__unk_occ"))
      .select(col("n_words"), col("n_occurrences"),
        (col("__pieces").cast("double") / col("__kept").cast("double"))
          .as("fertility"),
        (col("__unk_words").cast("double") / col("n_words").cast("double"))
          .as("unk_word_frac"),
        (col("__unk_occ").cast("double") / col("n_occurrences")
          .cast("double")).as("unk_occ_frac"))
  }
}
