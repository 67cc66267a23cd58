package graft

import org.apache.spark.sql.functions._

import graft.operators.Tokenizer

class TokenizerSpec extends GraftSpec {
  import spark.implicits._

  /** Independent single-node BPE reference (Sennrich 2016): symbol
    * sequences per word occurrence, overlapping adjacent-pair counts,
    * lexicographic tiebreak, greedy left-to-right non-overlapping merge
    * application. Deliberately written over plain Scala collections —
    * shares no code with the DataFrame implementation. */
  private def refBpe(docs: Seq[String], numMerges: Int,
                     minPairCount: Long = 2): Seq[(String, String, Long)] = {
    var words: Seq[(Vector[String], Long)] = docs
      .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).toSeq
      .map { case (w, ws) =>
        (w.map(_.toString).toVector :+ "</w>", ws.size.toLong)
      }
    val out = Seq.newBuilder[(String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _         =>
        }
      }
      val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minPairCount =>
          out += ((l, r, c))
          words = words.map { case (syms, n) =>
            val merged = syms.foldLeft(Vector.empty[String]) { (acc, x) =>
              if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
              else acc :+ x
            }
            (merged, n)
          }
          rank += 1
        case _ => done = true
      }
    }
    out.result()
  }

  private val corpus = Seq(
    "low low low low low lower lower newest newest",
    "newest newest newest widest widest widest new new",
    "the lowest of the low the newest of the new")

  test("trainBpe matches the single-node reference merge-for-merge") {
    val df = corpus.zipWithIndex.map(_.swap).toDF("doc_id", "text")
      .repartition(5)
    val got = Tokenizer.trainBpe(df, "text", numMerges = 12)
      .map(m => (m.left, m.right, m.count))
    val want = refBpe(corpus, numMerges = 12)
    assert(want.nonEmpty && got == want)
  }

  test("applyMerge is greedy left-to-right, non-overlapping") {
    val out = spark.range(1)
      .select(Tokenizer.applyMerge(
        typedLit(Seq("a", "a", "a", "a", "b")), "a", "a").as("s"))
      .as[Seq[String]].head()
    assert(out == Seq("aa", "aa", "b")) // NOT aa,a,a / a,aa,a shapes
  }

  test("distributed path is bit-identical to the driver cutover path") {
    val df = corpus.zipWithIndex.map(_.swap).toDF("doc_id", "text")
      .repartition(3)
    val local = Tokenizer.trainBpe(df, "text", numMerges = 10)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val dist = Tokenizer.trainBpe(df, "text", numMerges = 10,
      driverMaxWords = 0) // force the distributed loop
    assert(local.nonEmpty && local == dist)
    // every checkpoint the loop took (the initial one and one per four
    // merges) is released before it returns
    val kept = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(kept.isEmpty, s"distributed BPE kept persistent RDDs $kept")
  }

  test("trainBpe stops when no pair reaches minPairCount") {
    val df = Seq((0, "ab cd ef")).toDF("doc_id", "text")
    val got = Tokenizer.trainBpe(df, "text", numMerges = 50, minPairCount = 2)
    // every word unique, every pair count 1 -> zero merges
    assert(got.isEmpty)
  }

  test("encodeWord replays merges: tokens reconcatenate; trained words collapse") {
    val df = corpus.zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val merges = Tokenizer.trainBpe(df, "text", numMerges = 30)
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    for (w <- Seq("low", "newest", "widest", "unseen")) {
      val toks = Tokenizer.encodeWord(w, ranks)
      assert(toks.mkString == w + "</w>", s"$w round-trip")
    }
    // 'low' appears 7x in a tiny corpus: it must be fully merged
    assert(Tokenizer.encodeWord("low", ranks).length == 1)
  }

  test("pinned merge table: hand-computed greedy encodes") {
    val ranks = QueriesTdShared.FixedBpeMerges
      .map(m => (m.left, m.right) -> m.rank).toMap
    // 'the': e|</w> (rank 0) fires before t|h (rank 1), then th+e</w>
    // (rank 2) collapses the word to a single token
    assert(Tokenizer.encodeWord("the", ranks) == Seq("the</w>"))
    // 'then': t|h, th|e? blocked ('e' merged? no — e|</w> needs </w>
    // adjacency): t h e n </w> -> th e n </w> -> no th|e (rank for
    // (th,e) absent; table has (th,e</w>)) -> i|n,a|n absent -> done
    assert(Tokenizer.encodeWord("then", ranks).length == 4)
    // 'and' chains three ranks: a|n -> an|d -> and|</w>
    assert(Tokenizer.encodeWord("and", ranks) == Seq("and</w>"))
    // 'ring': r|e absent, i|n -> in|g -> ing|</w>, r survives
    assert(Tokenizer.encodeWord("ring", ranks) == Seq("r", "ing</w>"))
  }

  test("docTokenCounts: counts bounded by chars+1 and at least 1 per word") {
    val df = corpus.zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val merges = Tokenizer.trainBpe(df, "text", numMerges = 12)
    val out = Tokenizer.docTokenCounts(df, "doc_id", "text", merges)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(out.length == corpus.length)
    corpus.zipWithIndex.foreach { case (doc, i) =>
      val words = doc.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val (_, nWords, nToks) = out(i)
      assert(nWords == words.length)
      assert(nToks >= nWords) // >= one token per word
      assert(nToks <= words.map(_.length + 1L).sum) // <= chars + marker
    }
  }

  // ---- unigram-LM encode ---------------------------------------------------

  private val uniVocab = Map(
    "ab" -> -1.1, "bc" -> -1.3, "abc" -> -2.0, "c" -> -1.7, "a" -> -2.5)
  private val uniFallback = -4.0

  test("viterbiScore: hand-computed DP, fallback for unknown chars") {
    // "abc": paths ab|c = -1.1-1.7 = -2.8 (2 pieces), abc = -2.0 (1),
    //        a|bc = -2.5-1.3 = -3.8 → best single piece -2.0
    assert(Tokenizer.viterbiScore("abc", uniVocab, uniFallback, 3) ==
      ((-2.0, 1)))
    // "abz": z only via fallback: ab|z = -1.1-4.0 = -5.1 beats
    //        a|b|z = -2.5-4.0-4.0
    assert(Tokenizer.viterbiScore("abz", uniVocab, uniFallback, 3) ==
      ((-5.1, 2)))
    // single unknown char
    assert(Tokenizer.viterbiScore("z", uniVocab, uniFallback, 3) ==
      ((-4.0, 1)))
  }

  test("viterbiScore ties break to fewer pieces") {
    // vocab engineered so "xy" (1 piece) ties x|y (2 pieces) exactly
    val v = Map("xy" -> -3.0, "x" -> -1.5, "y" -> -1.5)
    assert(Tokenizer.viterbiScore("xy", v, uniFallback, 2) == ((-3.0, 1)))
  }

  test("viterbiScore equals brute-force path enumeration") {
    def enumerate(word: String): Seq[(Double, Int)] = {
      def go(pos: Int, score: Double, np: Int): Seq[(Double, Int)] =
        if (pos == word.length) Seq((score, np))
        else (1 to math.min(3, word.length - pos)).flatMap { l =>
          val piece = word.substring(pos, pos + l)
          uniVocab.get(piece)
            .orElse(if (l == 1) Some(uniFallback) else None)
            .toSeq.flatMap(lp => go(pos + l, score + lp, np + 1))
        }
      go(0, 0.0, 0)
    }
    val rnd = new scala.util.Random(11)
    (1 to 40).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(8)))
        .map(_ => "abcz" (rnd.nextInt(4))).mkString
      val all = enumerate(w)
      val bestScore = all.map(_._1).max
      val bestNp = all.filter(_._1 == bestScore).map(_._2).min
      assert(Tokenizer.viterbiScore(w, uniVocab, uniFallback, 3) ==
        ((bestScore, bestNp)), s"word $w")
    }
  }

  test("docUnigramCounts: piece totals from the per-word DP") {
    val df = Seq((0, "ab abc zz")).toDF("doc_id", "text")
    val vocab = uniVocab.toSeq
    val out = Tokenizer.docUnigramCounts(df, "doc_id", "text",
      vocab, uniFallback).as[(Int, Long, Long)].head()
    // ab → 1 piece, abc → 1 piece, zz → 2 fallback pieces
    assert(out == ((0, 3L, 4L)))
  }

  // ---- WordPiece greedy encode --------------------------------------------

  private val wpStarts = Set("a", "b", "t", "ta", "tab", "un")
  private val wpConts = Set("a", "b", "t", "le", "l")

  private def wp(w: String): Int =
    Tokenizer.wordpieceEncode(w, wpStarts, wpConts, 3)

  test("wordpieceEncode: greedy longest-match-first") {
    assert(wp("table") == 2)  // tab + ##le
    assert(wp("tab") == 1)    // longest start piece wins over ta+b
    assert(wp("tat") == 2)    // ta + ##t
    assert(wp("abba") == 4)   // a + ##b + ##b + ##a (singles)
  }

  test("wordpieceEncode: greedy is NOT optimal — longest-first can " +
    "cost more pieces than the best segmentation") {
    // 'tale': greedy takes 'ta', leaving 'le' -> 2; but 't'+'##a'+... no,
    // greedy = ta + ##le = 2. Use 'tabl': greedy tab + ##l = 2; ta+##b+##l=3.
    assert(wp("tabl") == 2)
    // dead-end UNK: greedy 'tab' consumes, rest 'x' has no cont piece
    assert(wp("tabx") == -1)
  }

  test("wordpieceEncode: continuation vocab differs from start vocab") {
    // 'un' exists only as a start piece; 'le' only as a continuation
    assert(wp("un") == 1)
    assert(wp("le") == -1)    // no start piece covers 'l… ' fully? 'l' not a start
    assert(wp("tun") == -1)   // 'un' cannot continue (only ##t/##a/##b/##le/##l)
  }

  test("docWordpieceCounts: per-doc sums with [UNK] counted as one piece") {
    val df = Seq((0, "table tab zz"), (1, "abba")).toDF("doc_id", "text")
    val vocab = Seq("a", "b", "t", "ta", "tab", "un",
      "##a", "##b", "##t", "##le", "##l")
    val out = Tokenizer.docWordpieceCounts(df, "doc_id", "text", vocab)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 0: table=2 pieces, tab=1, zz=[UNK] (1 piece, 1 unk)
    assert(out(0) == ((3L, 4L, 1L)))
    // doc 1: abba = a + ##b + ##b + ##a
    assert(out(1) == ((1L, 4L, 0L)))
  }

  test("chunkDocs: minimal covering starts, overlap, single tail chunk, short-doc and empty-doc edges") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // n=10
      (2L, (1 to 8).map(i => s"x$i").mkString(" ")),  // n=8 == window
      (3L, "a b c"),                                   // n=3 < window
      (4L, "   "),                                     // empty after split
      (5L, (1 to 9).map(i => s"y$i").mkString(" "))   // n=9: tail needed
    ).toDF("doc_id", "text")
    val out = Tokenizer.chunkDocs(docs, "doc_id", "text",
        window = 8, stride = 4)
      .select(col("doc_id"), col("chunk_id"), col("start"),
        col("chunk_len"), col("chunk_text"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
      .sortBy(t => (t._1, t._2))
    // doc 1 (n=10): start 0 covers 1-8, start 4 covers 5-10 (len 6);
    // start 8 suppressed (previous window reached the end at 12 >= 10)
    assert(out.filter(_._1 == 1L).map(t => (t._3, t._4)).toSeq ==
      Seq((0, 8), (4, 6)))
    assert(out.find(t => t._1 == 1L && t._2 == 1).get._5 ==
      "w5 w6 w7 w8 w9 w10")
    // doc 2 (n=8): exactly one full window
    assert(out.filter(_._1 == 2L).map(t => (t._3, t._4)).toSeq ==
      Seq((0, 8)))
    // doc 3 (n=3): one short chunk
    assert(out.filter(_._1 == 3L).map(t => (t._3, t._4)).toSeq ==
      Seq((0, 3)))
    // doc 4: no tokens -> no chunks
    assert(!out.exists(_._1 == 4L))
    // doc 5 (n=9): start 0 reaches 8 < 9, so the tail chunk at 4 is
    // kept (len 5); start 8 suppressed
    assert(out.filter(_._1 == 5L).map(t => (t._3, t._4)).toSeq ==
      Seq((0, 8), (4, 5)))
    // every token of doc 1 appears in at least one chunk (coverage)
    val covered = out.filter(_._1 == 1L)
      .flatMap(t => t._5.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("vocabCoverage: top-V vocab by (count desc, word asc); exact OOV counts in basis points") {
    import spark.implicits._
    // counts: the=3, cat=2, dog=2, rare=1, unique=1 -> V=3 keeps
    // {the, cat, dog} (tie at 2 broken alphabetically is moot; tie at
    // 1 would cut rare/unique both out)
    val df = Seq(
      (1L, "en", "The cat the DOG the"),
      (2L, "en", "cat dog rare"),
      (3L, "de", "unique")).toDF("doc_id", "lang", "text")
    val out = Tokenizer.vocabCoverage(df, "doc_id", "text", "lang",
      vocabSize = 3)
      .as[(Long, String, Int, Int, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, "en", 5, 0, 0L)))
    assert(out(1) == ((2L, "en", 3, 1, 3333L)))
    assert(out(2) == ((3L, "de", 1, 1, 10000L)))
  }

  test("vocabCoverage: empty text yields zero words, zero OOV, zero bp") {
    import spark.implicits._
    val df = Seq((1L, "en", ""), (2L, "en", "a b"))
      .toDF("doc_id", "lang", "text")
    val out = Tokenizer.vocabCoverage(df, "doc_id", "text", "lang",
      vocabSize = 1)
      .as[(Long, String, Int, Int, Long)].collect().sortBy(_._1)
    assert(out(0)._3 == 0 && out(0)._4 == 0 && out(0)._5 == 0L)
    assert(out(1)._3 == 2 && out(1)._4 == 1 && out(1)._5 == 5000L)
  }

  test("vocabCoverage: empty CORPUS yields empty output, not an " +
    "analysis error (typed empty vocab literal)") {
    import spark.implicits._
    // an empty corpus builds an empty vocab; the untyped array() literal
    // was ArrayType(NullType) and array_contains(_, string) failed
    // analysis — the repo invariant is empty in ⇒ empty out, never error
    val df = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    val out = Tokenizer.vocabCoverage(df, "doc_id", "text", "lang",
      vocabSize = 3)
    assert(out.count() == 0L)
    // whitespace-only corpus: vocab is also empty, rows still flow
    val ws = Seq((1L, "en", "   ")).toDF("doc_id", "lang", "text")
    val out2 = Tokenizer.vocabCoverage(ws, "doc_id", "text", "lang",
      vocabSize = 3).as[(Long, String, Int, Int, Long)].collect()
    assert(out2.toSeq == Seq((1L, "en", 0, 0, 0L)))
  }
}
