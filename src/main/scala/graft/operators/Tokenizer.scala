package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training + encoding (training-data
  * extension — the "train the tokenizer on the corpus" step; Sennrich
  * et al. 2016, the SentencePiece/GPT-2 vocabulary regime).
  *
  * Everything after the first corpus pass runs on the WORD HISTOGRAM,
  * not the corpus: one `explode + groupBy` shuffle reduces 100 TB of
  * text to a vocab-sized (word, count) table, and each merge iteration
  * is one aggregation over that table (pair counts weighted by word
  * frequency) plus a single driver-side row (the argmax pair). That is
  * the classic distributed-BPE shape: N merges cost N small jobs whose
  * input never grows with corpus size. Symbol sequences start as the
  * word's characters plus a terminal `</w>` marker; a merge rewrites
  * every word in one narrow `aggregate()` fold (greedy left-to-right,
  * non-overlapping — the standard semantics).
  *
  * Encoding reuses the same trick in reverse: each DISTINCT word is
  * encoded once (vocab-sized work, a Scala function over the histogram
  * — the genuinely iterative, data-dependent merge loop that a codegen
  * expression can't express), then joined back to the corpus by word.
  * At 100 TB that join broadcasts the vocab side.
  */
object Tokenizer {

  /** One learned merge: rank-ordered, with its winning pair count. */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** (word, n) histogram — the single corpus-sized shuffle. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Initial symbol sequence: characters + terminal marker. */
  private def initSyms(word: Column): Column =
    concat(filter(split(word, ""), s => length(s) > 0),
      array(lit("</w>")))

  /** Greedy left-to-right, non-overlapping application of one merge
    * rule to a symbol array, as a single `aggregate()` fold. */
  def applyMerge(syms: Column, left: String, right: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === left && x === right,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
          .otherwise(concat(acc, array(x))))

  /** Adjacent symbol pairs of each word, weighted by word count. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("n"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("n")).as("cnt"))

  /** Train `numMerges` BPE merges over the corpus. Deterministic: ties
    * on pair count break to the lexicographically smallest (left,
    * right). Stops early when no pair reaches `minPairCount`.
    *
    * Hybrid execution (same pattern as `Dedup.connectedComponents`'
    * driver cutover): the word histogram is corpus-reduced and usually
    * tiny relative to the corpus — when it fits under
    * `driverMaxWords` it is collected ONCE and the merge loop runs
    * in-memory (zero per-iteration jobs; this is also what
    * single-node tokenizer trainers do after their own count pass).
    * Above the cutoff the loop stays distributed: one pair-count
    * aggregation per merge over the vocab-sized table, lineage
    * truncated by a localCheckpoint every few merges. Both paths are
    * bit-identical (TokenizerSpec forces each and compares). */
  def trainBpe(docs: DataFrame, textCol: String, numMerges: Int,
               minPairCount: Long = 2,
               driverMaxWords: Int = 200000): Seq[Merge] = {
    val hist = wordHistogram(docs, textCol)
    val probe = hist.limit(driverMaxWords + 1).collect()
    if (probe.length <= driverMaxWords)
      trainLocal(probe.map(r => (r.getString(0), r.getLong(1))),
        numMerges, minPairCount)
    else trainDistributed(hist, numMerges, minPairCount)
  }

  /** In-memory merge loop over a collected histogram (driver path). */
  private def trainLocal(hist: Array[(String, Long)], numMerges: Int,
                         minPairCount: Long): Seq[Merge] = {
    var words: Array[(Array[String], Long)] = hist.map { case (w, n) =>
      (w.map(_.toString).toArray :+ "</w>", n)
    }
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      val best = counts.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, e @ ((l, r), c)) =>
          acc match {
            case Some(((bl, br), bc))
              if bc > c || (bc == c && (bl < l || (bl == l && br <= r))) => acc
            case _ => Some(e)
          }
      }
      best match {
        case Some(((l, r), c)) if c >= minPairCount =>
          merges += Merge(rank, l, r, c)
          words = words.map { case (syms, n) =>
            if (!syms.contains(l)) (syms, n)
            else {
              val out = collection.mutable.ArrayBuffer.empty[String]
              syms.foreach { x =>
                if (out.nonEmpty && out.last == l && x == r) {
                  out.remove(out.length - 1); out += (l + r)
                } else out += x
              }
              (out.toArray, n)
            }
          }
          rank += 1
        case _ => done = true
      }
    }
    merges.result()
  }

  /** Distributed merge loop (giant-vocab path): one aggregation job per
    * merge, plan kept flat by periodic localCheckpoints. */
  private def trainDistributed(hist: DataFrame, numMerges: Int,
                               minPairCount: Long): Seq[Merge] = {
    // vocab-sized table: a handful of partitions beats wide-task
    // overhead in the per-merge jobs (at real vocab sizes, size to
    // rows/1M as with any small dimension)
    var words = hist.select(initSyms(col("word")).as("syms"), col("n"))
      .coalesce(4).localCheckpoint()
    var lastCheckpoint = words
    var sinceCheckpoint = 0
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val top = pairCounts(words)
        .orderBy(desc("cnt"), asc("left"), asc("right"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getAs[Long]("cnt") < minPairCount) {
        done = true
      } else {
        val l = top.head.getAs[String]("left")
        val r = top.head.getAs[String]("right")
        merges += Merge(rank, l, r, top.head.getAs[Long]("cnt"))
        words = words
          .select(applyMerge(col("syms"), l, r).as("syms"), col("n"))
        sinceCheckpoint += 1
        if (sinceCheckpoint >= 4) { // bounded recompute depth, fewer jobs
          val cp = words.localCheckpoint()
          Iterate.release(lastCheckpoint)
          lastCheckpoint = cp
          words = cp
          sinceCheckpoint = 0
        }
        rank += 1
      }
    }
    Iterate.release(lastCheckpoint)
    merges.result()
  }

  /** Encode one word with trained merges: repeatedly merge the
    * lowest-rank pair present (the standard BPE encode loop). */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = word.map(_.toString) :+ "</w>"
    var continue = syms.length > 1
    while (continue) {
      var bestIdx = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) continue = false
      else {
        syms = (syms.take(bestIdx) :+ (syms(bestIdx) + syms(bestIdx + 1))) ++
          syms.drop(bestIdx + 2)
        continue = syms.length > 1
      }
    }
    syms
  }

  /** Per-distinct-word token counts: the vocab-sized encode table to
    * join back against the corpus (broadcast it — it is the small side
    * at any corpus scale). */
  def encodeHistogram(hist: DataFrame, merges: Seq[Merge]): DataFrame = {
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = hist.sparkSession.sparkContext.broadcast(ranks)
    val nTokens = udf((w: String) => encodeWord(w, bc.value).length)
    hist.withColumn("n_bpe", nTokens(col("word")))
  }

  /** Per-doc BPE token counts under a trained tokenizer: corpus words
    * joined (broadcast) to the encoded vocab — the full train->apply
    * round trip. */
  def docTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[Merge]): DataFrame = {
    val hist = wordHistogram(docs, textCol).drop("n")
    val encoded = encodeHistogram(hist, merges)
      .select(col("word"), col("n_bpe"))
    docs.select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(encoded), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_bpe_tokens"))
  }

  // ---- unigram-LM (SentencePiece) encode ----------------------------------

  /** Viterbi segmentation of one word under a pinned unigram piece
    * vocab (Kudo 2018, the SentencePiece unigram regime): maximize the
    * sum of piece log probs; any single character not in the vocab is
    * available at the `fallback` score, so every word segments. Ties on
    * score break to FEWER pieces (both objectives are additive, so the
    * lexicographic (score, -pieces) DP has optimal substructure).
    * Returns (best score, piece count of the best segmentation) —
    * scalars on which exact-equality comparisons are engine-portable:
    * the DP accumulates each path's log probs strictly left-to-right,
    * so an oracle that enumerates paths with the same left-to-right
    * additions reproduces bit-identical doubles. */
  def viterbiScore(word: String, vocab: Map[String, Double],
                   fallback: Double, maxPieceLen: Int): (Double, Int) = {
    val n = word.length
    val score = Array.fill(n + 1)(Double.NegativeInfinity)
    val np = Array.fill(n + 1)(Int.MaxValue)
    score(0) = 0.0
    np(0) = 0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (score(j) != Double.NegativeInfinity) {
          val piece = word.substring(j, i)
          val lp = vocab.get(piece) match {
            case s @ Some(_) => s
            case None => if (i - j == 1) Some(fallback) else None
          }
          lp.foreach { p =>
            val s = score(j) + p
            val c = np(j) + 1
            if (s > score(i) || (s == score(i) && c < np(i))) {
              score(i) = s
              np(i) = c
            }
          }
        }
        j += 1
      }
      i += 1
    }
    (score(n), np(n))
  }

  /** Per-DISTINCT-WORD unigram encode table: (word, score, n_pieces).
    * Vocab-sized work exactly like the BPE encode path — the iterative
    * DP runs once per distinct word and the result broadcasts. */
  def unigramEncodeWords(docs: DataFrame, textCol: String,
                         vocab: Seq[(String, Double)],
                         fallback: Double): DataFrame = {
    val maxLen = vocab.map(_._1.length).max
    val bc = docs.sparkSession.sparkContext.broadcast(vocab.toMap)
    val enc = udf { (w: String) =>
      val (s, c) = viterbiScore(w, bc.value, fallback, maxLen)
      (s, c)
    }
    wordHistogram(docs, textCol).drop("n")
      .withColumn("_e", enc(col("word")))
      .select(col("word"), col("_e._1").as("score"),
        col("_e._2").as("n_pieces"))
  }

  // ---- WordPiece (BERT) greedy encode -------------------------------------

  /** Greedy longest-match-first WordPiece segmentation of one word
    * under a pinned piece vocab (Wu 2016 / BERT's tokenizer regime):
    * at each position take the LONGEST vocab piece that matches —
    * initial pieces at position 0, `##`-continuation pieces after.
    * Returns the piece count, or -1 if no piece matches at some
    * position (the word maps to a single [UNK] token). Deterministic
    * pure function of (word, vocab) — greedy, no DP, no floats — so an
    * oracle replaying the same longest-match chain is exact. */
  def wordpieceEncode(word: String, starts: Set[String],
                      conts: Set[String], maxPieceLen: Int): Int = {
    val n = word.length
    var pos = 0
    var pieces = 0
    while (pos < n) {
      val set = if (pos == 0) starts else conts
      var l = math.min(maxPieceLen, n - pos)
      var found = -1
      while (l >= 1 && found < 0) {
        if (set.contains(word.substring(pos, pos + l))) found = l
        l -= 1
      }
      if (found < 0) return -1
      pos += found
      pieces += 1
    }
    pieces
  }

  /** Per-DISTINCT-WORD WordPiece table: (word, n_pieces nullable —
    * null = [UNK]). Vocab-sized work exactly like the BPE/unigram
    * encode paths: the greedy loop runs once per distinct word and the
    * result broadcasts back onto the corpus. `vocab` entries use the
    * `##` prefix for continuation pieces. */
  def wordpieceEncodeWords(docs: DataFrame, textCol: String,
                           vocab: Seq[String]): DataFrame = {
    val starts = vocab.filterNot(_.startsWith("##")).toSet
    val conts = vocab.filter(_.startsWith("##")).map(_.drop(2)).toSet
    val maxLen = (starts.map(_.length) ++ conts.map(_.length)).max
    val bcS = docs.sparkSession.sparkContext.broadcast(starts)
    val bcC = docs.sparkSession.sparkContext.broadcast(conts)
    val enc = udf { (w: String) =>
      val r = wordpieceEncode(w, bcS.value, bcC.value, maxLen)
      if (r < 0) None else Some(r)
    }
    wordHistogram(docs, textCol).drop("n")
      .withColumn("n_pieces", enc(col("word")))
  }

  /** Per-doc WordPiece stats under the pinned vocab: corpus words join
    * the broadcast encode table; [UNK] words count 1 piece and bump
    * n_unk_words. Integer sums only — engine-exact. */
  def docWordpieceCounts(docs: DataFrame, idCol: String, textCol: String,
                         vocab: Seq[String]): DataFrame =
    docs.select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(wordpieceEncodeWords(docs, textCol, vocab)),
        Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_pieces"), lit(1))).as("n_pieces"),
        sum(when(col("n_pieces").isNull, 1L).otherwise(0L))
          .as("n_unk_words"))

  /** Per-doc unigram token counts under the pinned vocab: the corpus
    * joins the broadcast word table, integer sums only (engine-exact
    * at any grouping order). */
  def docUnigramCounts(docs: DataFrame, idCol: String, textCol: String,
                       vocab: Seq[(String, Double)],
                       fallback: Double): DataFrame =
    docs.select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(unigramEncodeWords(docs, textCol, vocab, fallback)
        .select(col("word"), col("n_pieces"))), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_unigram_tokens"))

  /** Long-context CHUNKING — the sliding-window split a sequence-packing
    * pipeline runs before [[Sampling]]'s packers: each document's token
    * stream becomes overlapping windows of `window` tokens advancing by
    * `stride` (stride < window ⇒ overlap, the standard LM shape so no
    * boundary context is lost). Coverage rule (deterministic): starts
    * 0, stride, 2·stride, …, keeping a start only while the PREVIOUS
    * window has not already reached the document's end — so the doc is
    * covered with the minimal start set and exactly one (possibly
    * short) tail chunk. Narrow map + explode: no shuffle, chunk rows
    * carry (doc, chunk ordinal, start, length, text) — at 100 TB this
    * is a single scan emitting the training-example table. */
  /** Vocabulary coverage / OOV audit — the companion metric to
    * fertility when choosing or validating a tokenizer vocab: per doc,
    * how many word occurrences fall outside the corpus's top-`vocabSize`
    * words. Emits (id, lang, n_words, n_oov, oov_bp) with the rate in
    * exact integer basis points (no FP in the gate).
    *
    * Scale shape: ONE corpus-sized shuffle ([[wordHistogram]]) +
    * TakeOrdered for the vocab (vocabSize rows to the driver — the
    * bounded-collect pattern, same as centroid seeds), then a narrow
    * projection over the docs with the vocab inlined as an array
    * literal (broadcast by the plan, membership via `array_contains`
    * inside a codegen'd HOF). No join, no explode on the scoring
    * side. Tokenization matches [[wordHistogram]]: lowercase,
    * whitespace split, empties dropped. */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    langCol: String, vocabSize: Int = 50): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val vocab = wordHistogram(docs, textCol)
      .orderBy(col("n").desc, col("word"))
      .limit(vocabSize)
      .collect().map(_.getString(0))
    // empty corpus ⇒ empty vocab: a bare array() is ArrayType(NullType)
    // and array_contains(_, string) then FAILS ANALYSIS — type the empty
    // literal so an empty input yields empty output, never an error
    val vlit =
      if (vocab.isEmpty) array().cast("array<string>")
      else array(vocab.toIndexedSeq.map(lit): _*)
    val toks = filter(split(lower(col(textCol)), "\\s+"),
      w => length(w) > 0)
    docs.select(col(idCol), col(langCol),
        size(toks).as("n_words"),
        size(filter(toks, w => !array_contains(vlit, w))).as("n_oov"))
      .withColumn("oov_bp",
        expr("(CAST(n_oov AS BIGINT) * 10000) div " +
          "greatest(CAST(n_words AS BIGINT), 1)"))
  }

  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    docs
      .select(col(idCol),
        graft.functions.TextFunctions.words(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .select(col(idCol), col("_toks"), col("_n"),
        explode(sequence(lit(0), col("_n") - 1, lit(stride))).as("start"))
      .filter(col("start") === 0 ||
        (col("start") - stride + window) < col("_n"))
      .select(col(idCol),
        (col("start") / stride).cast("int").as("chunk_id"),
        col("start"),
        least(lit(window), col("_n") - col("start")).as("chunk_len"),
        array_join(slice(col("_toks"), col("start") + 1, lit(window)), " ")
          .as("chunk_text"))
  }
}
