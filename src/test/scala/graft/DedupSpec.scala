package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends GraftSpec {
  import spark.implicits._

  // 0/1 near-identical (one word changed), 2 permuted copy of 0,
  // 3 unrelated, 4 exact copy of 3
  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy cat again and again today"),
    (2L, "today again and again dog lazy the over jumps fox brown quick the"),
    (3L, "completely different content about spark catalyst optimizer rules"),
    (4L, "completely different content about spark catalyst optimizer rules")
  ).toDF("doc_id", "text")

  test("bloom incremental: permuted copy matches prior, new content does not") {
    val prior = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (12L, "spark catalyst rules rewrite logical plans")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "dog lazy the over jumps fox brown quick the"), // permutation of 10
      (3L, "entirely novel text never seen before anywhere")
    ).toDF("doc_id", "text")
    val out = Dedup.bloomIncremental(batch, prior, "doc_id", "text")
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(1L))
    // empty prior: no matches, no crash
    assert(Dedup.bloomIncremental(batch, prior.limit(0), "doc_id", "text")
      .count() == 0)
  }

  test("containmentPairs: embedded doc caught at C~1 where Jaccard fails") {
    // doc 1 is wholly contained in doc 0 (a long wrapper); the size gap
    // keeps Jaccard below 0.5 while containment is 1.0
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"),
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "totally unrelated words about nothing shared with others here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(d, "doc_id", "text",
        n = 3, threshold = 0.8)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    // doc1 has 5 3-shingles, all present in doc0
    assert(pairs == Seq((1L, 0L, 1.0)))
    val jac = Dedup.jaccardPairs(d, "doc_id", "text", n = 3,
      threshold = 0.5).count()
    assert(jac == 0L) // Jaccard misses the same pair
  }

  test("containmentPairs: direction is (smaller -> larger), ties by id; " +
    "freq cap drops stopword shingles") {
    val d = Seq(
      (0L, "one two three four five"),
      (1L, "one two three four five"), // identical: tie, id order
      (2L, "zz yy xx ww vv")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(d, "doc_id", "text", n = 3,
        threshold = 0.8)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((0L, 1L, 1.0)))
    // with the freq cap at 1, the shared shingles are "stopwords" and
    // no pair survives
    assert(Dedup.containmentPairs(d, "doc_id", "text", n = 3,
      threshold = 0.8, maxShingleFreq = 1).count() == 0L)
  }

  test("exact dedup keeps smallest id per digest") {
    val out = Dedup.exact(docs, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("jaccard pairs finds near-dup and exact pair, not unrelated") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L ^ p._2 == 4L))
  }

  test("substring dups: planted shared span flags both docs, unique text none") {
    import spark.implicits._
    val span = "one two three four five six seven eight" // exactly k=8 words
    val d = Seq(
      (1L, "alpha start " + span + " tail of doc one here"),
      (2L, "totally different head " + span + " and another ending"),
      (3L, "nothing here repeats anywhere in this corpus at all truly"),
      // within-doc repeat: the same 8-word window occurs twice in doc 4
      (4L, span + " filler middle words go here now " + span),
      (5L, "tiny")).toDF("doc_id", "text")
    val out = Dedup.substringDups(d, "doc_id", "text", k = 8)
      .select("id", "n_words", "n_dup_windows", "n_covered")
      .as[(Long, Int, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // docs 1 and 2 share exactly one 8-word window -> 8 covered words
    assert(out(1L)._2 == 1L && out(1L)._3 == 8L)
    assert(out(2L)._2 == 1L && out(2L)._3 == 8L)
    assert(out(3L)._2 == 0L && out(3L)._3 == 0L)
    // doc 4's two copies are BOTH duplicated windows (within-doc repeat)
    assert(out(4L)._2 == 2L && out(4L)._3 == 16L)
    // shorter than k words: zero windows, zero coverage, still present
    assert(out(5L) == ((1, 0L, 0L)))
  }

  test("span removal excises exactly the covered positions") {
    import spark.implicits._
    val span = "one two three four five six seven eight" // exactly k=8 words
    val d = Seq(
      (1L, "alpha start " + span + " tail of doc one here"),
      (2L, "totally different head " + span + " and another ending"),
      (3L, "nothing here repeats anywhere in this corpus at all truly"),
      (4L, "tiny")).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(d, "doc_id", "text", k = 8)
      .select("id", "n_words", "n_removed", "text_clean")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((15, 8, "alpha start tail of doc one here")))
    assert(out(2L) == ((14, 8, "totally different head and another ending")))
    assert(out(3L)._2 == 0 &&
      out(3L)._3 == "nothing here repeats anywhere in this corpus at all truly")
    assert(out(4L) == ((1, 0, "tiny")))
  }

  test("leakFreeSplit: cluster members share a split, zero crossing pairs") {
    import spark.implicits._
    // 60 docs; pairs chain 0-1-2, 10-11, 20-21-22-23; rest singletons
    val d = (0L until 60L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("id_a", "id_b")
    val out = Dedup.leakFreeSplit(d, "doc_id", pairs,
      testBp = 3000, valBp = 3000)
    assert(out.count() == 60)
    val split = out.select("doc_id", "split").as[(Long, String)]
      .collect().toMap
    // every pair co-located
    Seq((0L, 1L), (1L, 2L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 23L)).foreach { case (a, b) =>
      assert(split(a) == split(b), s"pair ($a,$b) crosses splits")
    }
    // with 30%/30% rates on 54 effective keys, all three splits appear
    assert(split.values.toSet == Set("train", "val", "test"))
    // deterministic across runs
    val again = Dedup.leakFreeSplit(d, "doc_id", pairs, 3000, 3000)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == split)
  }

  test("splitAudit: leakFreeSplit shows zero crossing rows; a planted bad split is caught") {
    import spark.implicits._
    val d = (0L until 60L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("id_a", "id_b")
    val leak = Dedup.leakFreeSplit(d, "doc_id", pairs,
      testBp = 3000, valBp = 3000)
    val clean = Dedup.splitAudit(leak, "doc_id", "split", pairs).collect()
    assert(clean.map(r => r.getAs[Long]("n_pairs")).sum == 6)
    assert(clean.forall(!_.getAs[Boolean]("crossing")),
      "leak-free split produced a crossing pair")

    // a split that deliberately separates pair (0, 1)
    val bad = d.withColumn("split",
      when(col("doc_id") === 0L, lit("test")).otherwise(lit("train")))
    val audit = Dedup.splitAudit(bad, "doc_id", "split", pairs)
      .collect().map(r => (r.getAs[String]("split_a"),
        r.getAs[String]("split_b")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Boolean]("crossing"))).toMap
    assert(audit(("test", "train")) == ((1L, true)))
    assert(audit(("train", "train")) == ((5L, false)))

    // broken coverage surfaces as an 'unlabeled' bucket, never a
    // silently dropped pair: doc 23 missing from the split table
    val partial = Dedup.splitAudit(
      bad.filter(col("doc_id") =!= 23L), "doc_id", "split", pairs)
      .collect().map(r => (r.getAs[String]("split_a"),
        r.getAs[String]("split_b")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Boolean]("crossing"))).toMap
    assert(partial(("train", "unlabeled")) == ((1L, true)),
      "missing split label must surface, not vanish")
    assert(partial.values.map(_._1).sum == 6, "every pair accounted for")
  }

  test("minhash LSH pairs == exact jaccard pairs") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.4)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 2,
      threshold = 0.4, numHashes = 128, rowsPerBand = 2)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact)
    assert(exact.nonEmpty)
  }

  test("simhash flags exact + near dups with small hamming distance") {
    // long docs: 1-word-in-100 diff keeps hamming small enough for the
    // 8-chunk pigeonhole guarantee (recall exact for hamming <= 7)
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val longDocs = Seq(
      (0L, base),
      (1L, base.replace("tok50", "changed")),   // near dup
      (2L, base.split(" ").reverse.mkString(" ")), // permutation
      (3L, (200 to 300).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(longDocs, "doc_id", "text",
      maxHamming = 7, numChunks = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((0L, 2L)) == 0)        // permutation -> same bag of words
    assert(pairs.contains((0L, 1L)))    // one-word diff -> small distance
    assert(!pairs.keys.exists(p => p._2 == 3L)) // unrelated not flagged
  }

  test("simhash is invariant to case and whitespace mangling (hamming 0)") {
    // the dedup_simhash gate's planted-twin contract: words() lowercases
    // and splits on \s+, so an uppercased, whitespace-doubled copy has
    // the identical word sequence and hence the identical fingerprint
    val base = (1 to 40).map(i => s"Tok$i word$i").mkString(" ")
    val docs = Seq(
      (0L, base),
      (1L, base.toUpperCase.replace(" ", "  "))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.toSeq == Seq((0L, 1L, 0)))
  }

  test("simhash on driver documents is stable") {
    val docs01 = spark.read.parquet(s"$sf/documents.parquet")
    val a = Dedup.simhashPairs(docs01, "doc_id", "text", maxHamming = 3).count()
    val b = Dedup.simhashPairs(docs01, "doc_id", "text", maxHamming = 3).count()
    assert(a == b)
  }

  test("embedding LSH finds planted near-duplicate vectors") {
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = Array.fill(20)(vec())
    // plant: vec 100+i = tiny perturbation of vec i (cosine ~0.9999)
    val rows =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      base.take(5).zipWithIndex.map { case (v, i) =>
        ((100 + i).toLong, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)) }
    val df = spark.createDataFrame(rows.toSeq).toDF("vec_id", "vec")
    val pairs = Dedup.embeddingPairs(df, "vec_id", "vec", dim = 64,
      threshold = 0.99).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((0 until 5).forall(i => pairs.contains((i.toLong, (100 + i).toLong))),
      s"missing planted pairs, got $pairs")
    assert(pairs.size == 5)
  }

  test("connected components converge on deep chains and star shapes") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 (depth 5), star 10-{11,12,13}, isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(comp(_) == 10L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    val cl = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cl == Map(1L -> 6L, 10L -> 4L, 20L -> 2L))
    // the driver union-find fast path and the distributed label
    // propagation must agree exactly
    val dist = Dedup.distributedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(dist == comp)
    // past driverMaxPairs the guard hands the same pairs to the
    // distributed fallback
    assert(Dedup.connectedComponents(pairs, driverMaxPairs = 1)
      .as[(Long, Long)].collect().toMap == comp)
  }

  test("clustersBestOf keeps the highest-quality member, min-id on ties") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    // component 1: id 3 has the best quality (beats the min-id rule);
    // component 10: quality TIE -> smaller id 10 wins;
    // component 20: id 21 has quality, id 20 has none (null ranks last)
    val quality = Seq((1L, 5L), (2L, 7L), (3L, 9L), (10L, 4L), (11L, 4L),
      (21L, 1L)).toDF("doc_id", "q")
    val got = Dedup.clustersBestOf(pairs, quality, "doc_id", "q")
      .select("component", "survivor_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 3L), (10L, 10L, 2L), (20L, 21L, 2L)))
  }

  test("incremental cross-pairs find new-vs-prior near-dups only") {
    // docs: 0/1 near-identical, 2 permuted copy of 0, 3/4 exact copies
    val newSide = docs.filter(col("doc_id") % 2 === 1)   // 1, 3
    val priorSide = docs.filter(col("doc_id") % 2 === 0) // 0, 2, 4
    val pairs = Dedup.minhashLshCrossPairs(newSide, priorSide,
      "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 1~0 (one word changed), 3==4 exact; 1~2 only if permutation keeps
    // enough shared 3-grams (it does not — permuted word ORDER breaks
    // shingles); and NO new-vs-new or prior-vs-prior pairs
    assert(pairs.contains((1L, 0L)) && pairs.contains((3L, 4L)))
    assert(pairs.forall { case (a, b) => a % 2 == 1 && b % 2 == 0 })
  }

  test("decontamination flags docs sharing an n-gram with the benchmark") {
    import graft.operators.Decontamination
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"), // contains bench 4-gram
      (1L, "alpha beta gamma delta epsilon zeta"), // dup of 0 -> also flagged
      (2L, "one two three four five six seven"),   // clean
      (3L, "xx alpha beta gamma delta yy")         // contains bench 4-gram
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon").toDF("btext")
    val flagged = Decontamination
      .flag(corpus, "doc_id", "text", bench, "btext", n = 4)
      .as[(Long, Long)].collect().toMap
    assert(flagged.keySet == Set(0L, 1L, 3L))
    assert(flagged(0L) == 2L && flagged(3L) == 1L) // 2 vs 1 colliding 4-grams
    val vocab = Decontamination.vocab(corpus, "text", minCount = 2)
      .as[(String, Long)].collect().toMap
    assert(vocab("alpha") == 3L && !vocab.contains("one"))
  }

  test("semantic dedup: planted near-copies drop, lowest id survives each group") {
    val rnd = new scala.util.Random(17)
    val base = Array.fill(6)(Array.fill(16)(rnd.nextGaussian().toFloat))
    // group g: ids g*10 (original), g*10+1 (exact copy), g*10+2 (tiny
    // perturbation, cosine > 0.999); groups mutually near-orthogonal
    val rows = base.zipWithIndex.flatMap { case (v, g) =>
      Seq((g * 10L, v, g),
        (g * 10L + 1, v.clone(), g),
        (g * 10L + 2, v.map(x => x + 0.005f * rnd.nextGaussian().toFloat), g))
    }
    val df = rows.toSeq.toDF("id", "vec", "label")
    val out = Dedup.semanticDedup(df, "id", "vec", threshold = 0.99,
      nlist = 4, nprobe = 2, keepCols = Seq("label"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == (0 until 6).map(_ * 10L))
    // survivor rule is clustering-independent: with threshold above any
    // cross-group cosine, distinct groups never collapse into each other
    val labels = Dedup.semanticDedup(df, "id", "vec", threshold = 0.99,
      nlist = 2, nprobe = 1, keepCols = Seq("label"))
      .select("label").as[Int].collect().toSet
    assert(labels == (0 until 6).toSet)
  }

  test("tuneLsh: divisor pairs, S-curve midpoint near threshold, monotone") {
    def midpoint(b: Int, r: Int): Double = math.pow(1.0 / b, 1.0 / r)
    for (t <- Seq(0.3, 0.5, 0.8, 0.9)) {
      val (b, r) = Dedup.tuneLsh(128, t)
      assert(b * r == 128)
      // the chosen curve's 50%-candidate point sits near the threshold
      assert(math.abs(midpoint(b, r) - t) < 0.2,
        s"t=$t chose (b=$b, r=$r), midpoint ${midpoint(b, r)}")
    }
    // higher threshold -> longer bands (steeper, further right)
    val r05 = Dedup.tuneLsh(128, 0.5)._2
    val r09 = Dedup.tuneLsh(128, 0.9)._2
    assert(r09 > r05)
  }
}
