package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling

class SamplingSpec extends GraftSpec {
  import spark.implicits._

  test("packSequences: two-phase prefix sum equals a sequential pack") {
    // deliberately more docs than shuffle partitions, shuffled input
    // order, and token counts that cross sequence boundaries mid-doc
    val rows = (0L until 200L).map(i => (i, 1L + (i * 37) % 97))
    val df = rows.reverse.toDF("doc_id", "n_toks").repartition(7)
    val out = Sampling.packSequences(df, "doc_id", "n_toks", seqLen = 64)
      .select("id", "cum_before", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    rows.foreach { case (id, n) =>
      val (oid, cb, sf, sl) = out(id.toInt)
      assert(oid == id && cb == cum, s"doc $id offset")
      assert(sf == cum / 64 && sl == (cum + n - 1) / 64, s"doc $id seqs")
      cum += n
    }
  }

  test("packBoundaries: offsets tile each sequence exactly; continues " +
    "flags spanning docs; mid-doc sequences open without a boundary") {
    val rows = (0L until 200L).map(i => (i, 1L + (i * 37) % 97))
    val df = rows.reverse.toDF("doc_id", "n_toks").repartition(7)
    val out = Sampling.packBoundaries(
      Sampling.packSequences(df, "doc_id", "n_toks", seqLen = 64), 64)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    var cum = 0L
    rows.foreach { case (id, n) =>
      val (oid, seq, s, e, cont) = out(id.toInt)
      assert(oid == id && seq == cum / 64, s"doc $id seq")
      assert(s == cum % 64, s"doc $id start_off")
      assert(e == math.min(64L, cum % 64 + n), s"doc $id end_off")
      assert(cont == ((cum + n - 1) / 64 > cum / 64), s"doc $id continues")
      cum += n
    }
    // within a sequence, segments tile without overlap: each boundary's
    // start is the previous doc's end (when the previous doc ends
    // inside this sequence)
    out.groupBy(_._2).foreach { case (_, g) =>
      val sorted = g.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // a ends at its clamped end_off; b starts there unless a
          // filled the sequence (then b is in a later group anyway)
          assert(b._3 == a._4, s"seq ${a._2}: gap between segments")
        case _ =>
      }
    }
  }

  test("packSequences: zero-token docs pin to their boundary position") {
    val df = Seq((1L, 64L), (2L, 0L), (3L, 5L)).toDF("doc_id", "n_toks")
    val out = Sampling.packSequences(df, "doc_id", "n_toks", seqLen = 64)
      .select("id", "seq_first", "seq_last")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 0L, 0L)))
    assert(out(1) == ((2L, 1L, 1L))) // empty doc sits at offset 64
    assert(out(2) == ((3L, 1L, 1L)))
  }

  test("packingStats: hand-computed audit; empty input reports zeros") {
    // tokens (3, 5, 0, 4) at seqLen 4: cum_before (0, 3, 8, 8);
    // doc 1 spans seqs 0→1 (one crossing); total 12 → 3 full seqs
    val df = Seq((0L, 3L), (1L, 5L), (2L, 0L), (3L, 4L))
      .toDF("doc_id", "n_toks")
    val packed = Sampling.packSequences(df, "doc_id", "n_toks", seqLen = 4)
    val r = Sampling.packingStats(packed, seqLen = 4).collect().head
    assert(r.getAs[Long]("n_docs") == 4)
    assert(r.getAs[Long]("total_tokens") == 12)
    assert(r.getAs[Long]("n_seqs") == 3)
    assert(r.getAs[Long]("utilization_bp") == 10000)
    assert(r.getAs[Long]("docs_split") == 1)
    assert(r.getAs[Long]("boundary_crossings") == 1)

    // a partially-filled tail: tokens (3,) at seqLen 4 → util 7500 bp
    val tail = Sampling.packingStats(
      Sampling.packSequences(Seq((0L, 3L)).toDF("doc_id", "n_toks"),
        "doc_id", "n_toks", seqLen = 4), seqLen = 4).collect().head
    assert(tail.getAs[Long]("utilization_bp") == 7500)

    val empty = Sampling.packingStats(
      Sampling.packSequences(
        Seq.empty[(Long, Long)].toDF("doc_id", "n_toks"),
        "doc_id", "n_toks", seqLen = 4), seqLen = 4).collect().head
    assert(empty.getAs[Long]("n_docs") == 0)
    assert(empty.getAs[Long]("total_tokens") == 0)
    assert(empty.getAs[Long]("n_seqs") == 0)
    assert(empty.getAs[Long]("utilization_bp") == 0)
  }

  test("packingStats: a zero-token doc on a seqLen boundary counts the sequence it actually occupies") {
    // tokens (4, 0) at seqLen 4: the empty doc lands at cum_before 4 —
    // packSequences places it in sequence 1 via greatest(n_tokens, 1),
    // so the audit must report n_seqs = 2, not ceil(total/seqLen) = 1:
    // the report has to agree with the frame's actual indices
    val packed = Sampling.packSequences(
      Seq((0L, 4L), (1L, 0L)).toDF("doc_id", "n_toks"),
      "doc_id", "n_toks", seqLen = 4)
    val r = Sampling.packingStats(packed, seqLen = 4).collect().head
    assert(r.getAs[Long]("n_seqs") == 2)
    assert(r.getAs[Long]("utilization_bp") == 5000)
    // invariant the old ceil form broke: every packed seq index lies
    // inside [0, n_seqs)
    val maxIdx = packed.agg(max(col("seq_last")))
      .collect().head.getLong(0)
    assert(maxIdx < r.getAs[Long]("n_seqs"))
  }

  test("epochSchedule: a domain missing from either side survives loudly as matched=false") {
    // A has a weight but no availability; C has availability but no
    // weight — both must surface as unmatched rows with null schedule
    // columns, never vanish (the silent inner-join drop would leave
    // part of tokensPerEpoch unallocated with no trace)
    val w = Seq(("A", 6000L), ("B", 4000L)).toDF("domain", "w_bp")
    val avail = Seq(("B", 1000L), ("C", 500L))
      .toDF("domain", "avail_tokens")
    val out = Sampling.epochSchedule(w, avail, "domain", "w_bp",
        "avail_tokens", tokensPerEpoch = 10000L)
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    assert(out.keySet == Set("A", "B", "C"))
    val a = out("A")
    assert(!a.getAs[Boolean]("matched"))
    assert(a.isNullAt(a.fieldIndex("avail_tokens")))
    // Spark's least/greatest skip nulls — the null guard must hold or
    // an unmatched domain fabricates rate_bp=10000/repeat_milli=1000
    Seq("alloc_tokens", "rate_bp", "repeat_milli", "upsampled")
      .foreach(c => assert(a.isNullAt(a.fieldIndex(c)), s"A.$c not null"))
    val c = out("C")
    assert(!c.getAs[Boolean]("matched") &&
      c.isNullAt(c.fieldIndex("w_bp")) &&
      c.isNullAt(c.fieldIndex("rate_bp")))
    val b = out("B")
    assert(b.getAs[Boolean]("matched") &&
      b.getAs[Long]("alloc_tokens") == 4000 &&
      b.getAs[Long]("rate_bp") == 10000 &&
      b.getAs[Long]("repeat_milli") == 4000 &&
      b.getAs[Boolean]("upsampled"))
  }

  test("domainReweight: hand-computed MW rounds; zero-excess stays put; empty input is empty") {
    // A mean 10, B mean 30 → gmean 20, excess (0, 10), e_bp (0, 10000),
    // w0 = 5000 each; three η=2000 rounds hand-derived:
    //   t1: raw (5e7, 6e7)           → w (4545, 5454)
    //   t2: raw (45450000, 65448000) → w (4098, 5901)
    //   t3: raw (40980000, 70812000) → w (3665, 6334)
    val df = Seq(("A", 10L), ("B", 30L)).toDF("dom", "loss")
    val out = Sampling.domainReweight(df, "dom", "loss",
        iters = 3, etaBp = 2000)
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("mean_loss") == 10)
    assert(a.getAs[Long]("excess_bp") == 0)
    assert(Seq("w0", "w1", "w2", "w3").map(a.getAs[Long](_)) ==
      Seq(5000L, 4545L, 4098L, 3665L))
    val b = out("B")
    assert(b.getAs[Long]("excess_bp") == 10000)
    assert(Seq("w0", "w1", "w2", "w3").map(b.getAs[Long](_)) ==
      Seq(5000L, 5454L, 5901L, 6334L))

    // all domains at the global mean: excess 0 everywhere, weights
    // never move off uniform
    val flat = Sampling.domainReweight(
      Seq(("A", 7L), ("B", 7L)).toDF("dom", "loss"), "dom", "loss")
      .collect()
    assert(flat.forall(r => r.getAs[Long]("w3") == 5000))

    assert(Sampling.domainReweight(
      Seq.empty[(String, Long)].toDF("dom", "loss"), "dom", "loss")
      .count() == 0)
  }

  test("epochSchedule: downsample and upsample branches, exact integer arithmetic") {
    // budget 10000; A: w 6000 → alloc 6000 vs avail 20000 → rate 3000 bp
    // B: w 4000 → alloc 4000 vs avail 1000 → repeat 4000 milli-epochs
    val w = Seq(("A", 6000L), ("B", 4000L)).toDF("domain", "w_bp")
    val avail = Seq(("A", 20000L), ("B", 1000L))
      .toDF("domain", "avail_tokens")
    val out = Sampling.epochSchedule(w, avail, "domain", "w_bp",
        "avail_tokens", tokensPerEpoch = 10000L)
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("alloc_tokens") == 6000)
    assert(a.getAs[Long]("rate_bp") == 3000)
    assert(a.getAs[Long]("repeat_milli") == 1000) // floor at one epoch
    assert(!a.getAs[Boolean]("upsampled"))
    val b = out("B")
    assert(b.getAs[Long]("alloc_tokens") == 4000)
    assert(b.getAs[Long]("rate_bp") == 10000)     // capped: keep all
    assert(b.getAs[Long]("repeat_milli") == 4000) // 4 epochs of B
    assert(b.getAs[Boolean]("upsampled"))
  }

  test("shardBalance: snake assignment balances token mass within one max-document") {
    // tokens 100..50 desc over 2 shards: snake positions 0,1,1,0,0,1 →
    // shard 0 = {100, 70, 60} = 230, shard 1 = {90, 80, 50} = 220
    val d = Seq((1L, 100L), (2L, 90L), (3L, 80L), (4L, 70L),
      (5L, 60L), (6L, 50L)).toDF("doc_id", "n_toks")
    val out = Sampling.shardBalance(d, "doc_id", "n_toks", numShards = 2)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Int]("shard") == 0 &&
      out(2L).getAs[Int]("shard") == 1 &&
      out(3L).getAs[Int]("shard") == 1 &&
      out(4L).getAs[Int]("shard") == 0 &&
      out(5L).getAs[Int]("shard") == 0 &&
      out(6L).getAs[Int]("shard") == 1)
    val sums = out.values.groupBy(_.getAs[Int]("shard"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("n_tokens")).sum }
    assert(sums(0) == 230 && sums(1) == 220)

    // larger randomized-ish check: imbalance never exceeds the largest
    // single document (the snake bound), across a shuffled input
    val big = (0L until 200L).map(i => (i, 1L + (i * 37) % 97))
    val bigDf = big.reverse.toDF("doc_id", "n_toks").repartition(7)
    val shards = Sampling.shardBalance(bigDf, "doc_id", "n_toks", 8)
      .groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect().map(_.getAs[Long]("t"))
    assert(shards.length == 8)
    assert(shards.max - shards.min <= big.map(_._2).max,
      s"imbalance ${shards.max - shards.min} exceeds max doc")
  }

  test("unimaxAllocation: caps bind ascending, freed budget redistributes, all integer") {
    // budget 100, 1-epoch caps = availability: A(10) capped at its 33
    // share, B(50) takes the grown 45 share, C(1000) takes the rest
    val av = Seq(("C", 1000L), ("A", 10L), ("B", 50L))
      .toDF("domain", "avail")
    val out = Sampling.unimaxAllocation(av, "domain", "avail",
        budgetTokens = 100L, maxEpochsMilli = 1000L)
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("cap_tokens") == 10 &&
      a.getAs[Long]("alloc_tokens") == 10 &&
      a.getAs[Long]("epochs_milli") == 1000 &&
      a.getAs[Boolean]("cap_bound"))
    val b = out("B")
    assert(b.getAs[Long]("alloc_tokens") == 45 &&
      b.getAs[Long]("epochs_milli") == 900 &&
      !b.getAs[Boolean]("cap_bound"))
    val c = out("C")
    assert(c.getAs[Long]("alloc_tokens") == 45 &&
      c.getAs[Long]("epochs_milli") == 45 &&
      !c.getAs[Boolean]("cap_bound"))
    // never over budget, never over any cap
    assert(out.values.map(_.getAs[Long]("alloc_tokens")).sum <= 100)

    // uncapped regime (huge epoch cap): plain integer fair share
    val even = Sampling.unimaxAllocation(av, "domain", "avail",
        budgetTokens = 10L, maxEpochsMilli = 100000L)
      .collect().map(r => r.getAs[Long]("alloc_tokens"))
    assert(even.sorted.toSeq == Seq(3L, 3L, 4L))

    // more domains than maxDomains is a per-row key: rejected loudly,
    // never truncated
    val tooMany = intercept[IllegalArgumentException](
      Sampling.unimaxAllocation(av, "domain", "avail",
        budgetTokens = 100L, maxEpochsMilli = 1000L, maxDomains = 2))
    assert(tooMany.getMessage.contains("domains"))

    assert(Sampling.unimaxAllocation(
      Seq.empty[(String, Long)].toDF("domain", "avail"),
      "domain", "avail", 100L, 1000L).count() == 0)
  }

  test("thresholdCurve: one-scan conditional sums match a per-threshold filter; empty corpus") {
    // docs with (score=tokens): 5, 15, 25, 40 → total 85
    val d = Seq(5L, 15L, 25L, 40L).map(v => (v, v)).toDF("score", "nw")
    val out = Sampling.thresholdCurve(d, "score", "nw",
        thresholds = Seq(10L, 20L, 30L))
      .collect().map(r => r.getAs[Long]("threshold") -> r).toMap
    assert(out(10L).getAs[Long]("n_kept") == 3 &&
      out(10L).getAs[Long]("tokens_kept") == 80 &&
      out(10L).getAs[Long]("token_share_bp") == 80L * 10000 / 85)
    assert(out(20L).getAs[Long]("n_kept") == 2 &&
      out(20L).getAs[Long]("tokens_kept") == 65)
    assert(out(30L).getAs[Long]("n_kept") == 1 &&
      out(30L).getAs[Long]("tokens_kept") == 40)

    val empty = Sampling.thresholdCurve(
      Seq.empty[(Long, Long)].toDF("score", "nw"), "score", "nw",
      thresholds = Seq(10L)).collect()
    assert(empty.length == 1 && empty.head.getAs[Long]("n_kept") == 0 &&
      empty.head.getAs[Long]("token_share_bp") == 0)
  }

  test("exactQuantiles: nearest-rank picks per stratum; extremes; singleton stratum; empty input") {
    // stratum X: values 1..10 → P50 rank (9·5000 div 10⁴)+1 = 5,
    // P90 rank 9, P0 rank 1, P100 rank 10; stratum Y: one row → always it
    val df = ((1L to 10L).map(i => (i, i, "X")) :+ ((99L, 42L, "Y")))
      .toDF("id", "v", "s")
    val out = Sampling.exactQuantiles(df, "id", "v", "s",
        quantilesBp = Seq(0, 5000, 9000, 10000))
      .collect()
      .map(r => (r.getAs[String]("stratum"), r.getAs[Int]("q_bp")) ->
        (r.getAs[Long]("value"), r.getAs[Long]("rank"),
          r.getAs[Long]("n"))).toMap
    assert(out.size == 8)
    assert(out(("X", 0)) == ((1L, 1L, 10L)))
    assert(out(("X", 5000)) == ((5L, 5L, 10L)))
    assert(out(("X", 9000)) == ((9L, 9L, 10L)))
    assert(out(("X", 10000)) == ((10L, 10L, 10L)))
    Seq(0, 5000, 9000, 10000).foreach(q =>
      assert(out(("Y", q)) == ((42L, 1L, 1L))))

    assert(Sampling.exactQuantiles(
      Seq.empty[(Long, Long, String)].toDF("id", "v", "s"),
      "id", "v", "s").count() == 0)
  }

  test("temperatureRates: T=1 proportional identity, T<1 flattens the head") {
    val df = (Seq.fill(800)("big") ++ Seq.fill(50)("small"))
      .zipWithIndex.map(_.swap).toDF("id", "src")
    val t1 = Sampling.temperatureRates(df, "src", temperature = 1.0)
    assert(t1 == Map("big" -> 10000, "small" -> 10000)) // T=1: keep all
    val t5 = Sampling.temperatureRates(df, "src", temperature = 0.5)
    assert(t5("small") == 10000) // smallest source keeps everything
    // big keeps (800/50)^(-0.5) = 1/4 of itself
    assert(t5("big") == 2500)
    // resulting mix shares ∝ n^T: 800*0.25 = 200 kept vs 50 — ratio 4 = sqrt(16)
  }

  test("epochRepeat: exact copy counts, fractional part by the shared bucket") {
    import graft.operators.Sampling
    val df = (0L until 400L).map(i => (i, if (i < 200) "a" else "b"))
      .toDF("doc_id", "lang")
    val out = Sampling.epochRepeat(df, "doc_id", "lang",
      Map("a" -> 2.5), defaultWeight = 1.0)
    val counts = out.groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    // every "b" row exactly once, epoch 0
    (200L until 400L).foreach(i => assert(counts(i) == 1L))
    // every "a" row 2 or 3 times, matching the md5 bucket rule exactly
    val buckets = df.filter(col("lang") === "a")
      .select(col("doc_id"), Sampling.bucket(col("doc_id")).as("b"))
      .as[(Long, Int)].collect().toMap
    (0L until 200L).foreach { i =>
      val want = if (buckets(i) < 5000) 3L else 2L
      assert(counts(i) == want, s"doc $i bucket ${buckets(i)}")
    }
    // epochs are dense 0..n-1 per row
    val eps = out.filter(col("doc_id") === 0L)
      .select("epoch").as[Int].collect().sorted.toSeq
    assert(eps == (0 until eps.size))
  }

  test("deterministicShuffle: dense positions, partitioning-invariant") {
    val df = (0L until 300L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val a = Sampling.deterministicShuffle(df, "doc_id", "epoch0", 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    // every row lands in exactly one shard, in range
    assert(a.length == 300 && a.forall(r => r._2 >= 0 && r._2 < 8))
    // positions are dense 1..n within each shard
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $shard positions not dense")
    }
    // identical output from a differently-partitioned, reordered input
    val b = Sampling.deterministicShuffle(
        df.orderBy(desc("doc_id")).repartition(13), "doc_id", "epoch0", 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // a different seed reorders (at least some rows move)
    val c = Sampling.deterministicShuffle(df, "doc_id", "epoch1", 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(a.toSeq != c.toSeq)
  }

  test("tokenBudget equals a sequential greedy fill per stratum") {
    import graft.operators.Sampling.shuffleKey
    // enough docs to cross shuffle partitions; two strata, skewed sizes
    val rows = (0L until 300L).map(i =>
      (i, if (i % 3 == 0) "big" else "small", 1L + (i * 13) % 29))
    val df = rows.reverse.toDF("doc_id", "source", "n_toks").repartition(7)
    val budgets = Map("big" -> 120L, "small" -> 40L)
    val got = Sampling.tokenBudget(df, "doc_id", "n_toks", "source",
      budgets, seed = "s1").select("id", "stratum", "n_tokens", "cum_before")
      .as[(Long, String, Long, Long)].collect().toSeq
    // sequential reference: sort each stratum by (md5 key, id), fill
    val keys = df.select(col("doc_id"),
        shuffleKey(col("doc_id"), "s1").as("k"))
      .as[(Long, String)].collect().toMap
    val expected = rows.groupBy(_._2).flatMap { case (st, docs) =>
      var cum = 0L
      docs.sortBy(d => (keys(d._1), d._1)).flatMap { case (id, _, t) =>
        val keep = cum < budgets(st)
        val r = if (keep) Some((id, st, t, cum)) else None
        cum += t
        r
      }
    }.toSet
    assert(got.toSet == expected)
    // kept set is a key-order PREFIX per stratum and overshoot <= 1 doc
    budgets.foreach { case (st, b) =>
      val kept = got.filter(_._2 == st).sortBy(_._4)
      assert(kept.init.forall(d => d._4 + d._3 < b + kept.last._3))
      assert(kept.last._4 < b, "last kept doc must start under budget")
    }
  }

  test("lengthBucketBatches equals sequential assignment; batches are full") {
    import graft.operators.Sampling.shuffleKey
    // lengths 1..60 across three caps; some rows over the largest cap
    val rows = (0L until 250L).map(i => (i, 1L + (i * 17) % 60))
    val df = rows.reverse.toDF("doc_id", "n_toks").repartition(7)
    val edges = Seq(16, 32, 48)
    val got = Sampling.lengthBucketBatches(df, "doc_id", "n_toks",
        edges, batchTokens = 96, seed = "s2")
      .select("id", "bucket_cap", "batch_id", "n_tokens", "padded_tokens")
      .as[(Long, Int, Long, Long, Long)].collect().toSeq
    // docs over the largest cap are dropped
    assert(got.forall(_._4 <= 48))
    assert(rows.count(_._2 <= 48) == got.length)
    // sequential reference
    val keys = df.select(col("doc_id"),
        shuffleKey(col("doc_id"), "s2").as("k"))
      .as[(Long, String)].collect().toMap
    val expected = rows.filter(_._2 <= 48).map { case (id, t) =>
      val cap = edges.find(t <= _).get
      (id, cap, t)
    }.groupBy(_._2).flatMap { case (cap, ds) =>
      val perBatch = math.max(1, 96 / cap)
      ds.sortBy(d => (keys(d._1), d._1)).zipWithIndex.map {
        case ((id, c, t), i) => (id, c, (i / perBatch).toLong, t, c - t)
      }
    }.toSet
    assert(got.toSet == expected)
    // every batch except possibly the bucket's last is exactly full
    got.groupBy(g => (g._2, g._3)).foreach { case ((cap, b), ds) =>
      val perBatch = math.max(1, 96 / cap)
      val lastBatch = got.filter(_._2 == cap).map(_._3).max
      if (b != lastBatch) assert(ds.size == perBatch)
      // and the padded cost meets the token budget
      assert(ds.size * cap <= 96 || perBatch == 1)
    }
  }

  test("importanceResample: high-weight docs dominate; deterministic; " +
    "n caps the sample") {
    import org.apache.spark.sql.functions._
    // weights split by a huge margin (±50): Gumbel noise spans ~[-2, 12]
    // at 48-bit uniforms, so every +50 doc must beat every -50 doc
    val w = (0 until 100)
      .map(i => (i.toLong, if (i < 30) 50.0 else -50.0))
      .toDF("id", "w")
    val kept = graft.operators.Sampling
      .importanceResample(w, "id", "w", n = 30)
      .select("id").as[Long].collect().toSet
    assert(kept == (0 until 30).map(_.toLong).toSet)
    val again = graft.operators.Sampling
      .importanceResample(w, "id", "w", n = 30)
      .select("id").as[Long].collect().toSet
    assert(again == kept)
    assert(graft.operators.Sampling
      .importanceResample(w, "id", "w", n = 7).count() == 7)
    // equal weights: the md5 Gumbel decides — a different seed reshuffles
    val flat = (0 until 100).map(i => (i.toLong, 0.0)).toDF("id", "w")
    val s0 = graft.operators.Sampling
      .importanceResample(flat, "id", "w", n = 50, seed = 0)
      .select("id").as[Long].collect().toSet
    val s1 = graft.operators.Sampling
      .importanceResample(flat, "id", "w", n = 50, seed = 1)
      .select("id").as[Long].collect().toSet
    assert(s0 != s1)
  }

  test("importanceResample: selection boundary has a safe margin over " +
    "cross-engine float noise (sf0.001 documents)") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val w = graft.operators.Sampling.dsirWeightsFull(
      d, d.filter(col("lang") === "en"), "doc_id", "text")
    val n = 20
    val u = (conv(substring(md5(concat(lit("0:"),
        col("id").cast("string"))), 1, 12), 16, 10).cast("double") +
      lit(0.5)) / lit(281474976710656.0)
    val scores = w.withColumn("_s", col("log_importance") - log(-log(u)))
      .orderBy(col("_s").desc).select("_s").as[Double].collect()
    assert(scores.length > n + 1)
    val gap = scores(n - 1) - scores(n)
    // oracle-side libm/aggregation noise is ~1e-12; demand 6 orders more
    assert(gap > 1e-6, s"rank-$n boundary gap $gap too tight to gate")
  }

  test("DSIR weights: hand-computed log ratios; target-like docs rank higher") {
    val raw = Seq((1L, "a b a b"), (2L, "x y x y")).toDF("doc_id", "text")
    val target = Seq((10L, "a b")).toDF("doc_id", "text")
    val got = Sampling.dsirWeights(raw, target, "doc_id", "text", alpha = 0.1)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // raw bigrams: d1 = [a b, b a, a b], d2 = [x y, y x, x y] -> nr=6
    // target bigrams: [a b] -> nt=1; V = |{a b, b a, x y, y x}| = 4
    def p(c: Long, n: Long) = (c + 0.1) / (n + 0.1 * 4)
    def lw(ct: Long, cr: Long) = math.log(p(ct, 1)) - math.log(p(cr, 6))
    val d1 = BigDecimal((2 * lw(1, 2) + lw(0, 1)) / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d2 = BigDecimal((2 * lw(0, 2) + lw(0, 1)) / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got.map(_._2).toSeq == Seq(3L, 3L))
    assert(got(0)._3 == d1 && got(1)._3 == d2)
    assert(d1 > d2, "target-like doc must outscore the unrelated doc")
  }

  test("curriculumOrder: stages follow the global score rank, floor-split") {
    // more rows than shuffle partitions, shuffled input, tied scores
    val rows = (0L until 97L).map(i => (i, (i * 13) % 10))
    val df = rows.reverse.toDF("doc_id", "score").repartition(5)
    val out = Sampling.curriculumOrder(df, "doc_id", "score", stages = 4)
      .select("doc_id", "stage").as[(Long, Int)].collect().toMap
    val ranked = rows.sortBy { case (id, s) => (s, id) }.zipWithIndex
    ranked.foreach { case ((id, _), rk) =>
      assert(out(id) == rk * 4 / 97, s"doc $id stage")
    }
  }

  test("curriculumOrder: within-stage order is the seeded shuffle; positions dense per (stage, shard)") {
    val df = (0L until 60L).map(i => (i, i % 3)).toDF("doc_id", "score")
    val out = Sampling.curriculumOrder(df, "doc_id", "score", stages = 3,
      seed = "s1", numShards = 4)
      .as[(Long, Long, Int, Int, Long)].collect()
    // dense 1..n positions within each (stage, shard)
    out.groupBy(t => (t._3, t._4)).foreach { case (_, g) =>
      assert(g.map(_._5).sorted.toSeq == (1L to g.length).toSeq)
    }
    // position order within a shard follows the md5 shuffle key
    def key(id: Long) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s1:$id".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    out.groupBy(t => (t._3, t._4)).foreach { case (_, g) =>
      val byPos = g.sortBy(_._5).map(_._1)
      assert(byPos.map(key).toSeq == byPos.map(key).sorted.toSeq)
    }
    // score-identical reruns reproduce the exact same frame
    val again = Sampling.curriculumOrder(df, "doc_id", "score", stages = 3,
      seed = "s1", numShards = 4)
      .as[(Long, Long, Int, Int, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("stratifiedRankBuckets: per-stratum ranks are dense and score-ordered; floor-split buckets") {
    // two uneven strata, shuffled input, more rows than partitions,
    // tied scores broken by id
    val rows = (0L until 70L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", (i * 7) % 11))
    val df = rows.reverse.toDF("doc_id", "lang", "s").repartition(5)
    val out = Sampling.stratifiedRankBuckets(df, "doc_id", "s", "lang",
      buckets = 3).as[(Long, String, Long, Long, Int)].collect()
    val byStratum = rows.groupBy(_._2)
    byStratum.foreach { case (st, g) =>
      val want = g.sortBy { case (id, _, s) => (s, id) }.map(_._1)
      val got = out.filter(_._2 == st).sortBy(_._4)
      assert(got.map(_._4).toSeq == (1L to want.size).toSeq,
        s"stratum $st ranks not dense")
      assert(got.map(_._1).toSeq == want.toSeq, s"stratum $st order")
      val total = want.size
      got.foreach { case (_, _, _, rank, bucket) =>
        assert(bucket == ((rank - 1) * 3 / total).toInt,
          s"stratum $st rank $rank bucket")
      }
    }
  }

  test("interleaved prefix-sum calls: lazy pack and budget frames held " +
    "across each other still yield exact offsets (layout pinned)") {
    // same hazard class as the rank interleave below, for the other two
    // pinned operators: build both lazily, materialize in reverse order
    val packRows = (0L until 150L).map(i => (i, 1L + (i * 31) % 83))
    val packDf = packRows.reverse.toDF("doc_id", "n_toks").repartition(5)
    val budRows = (0L until 120L).map(i =>
      (i, if (i % 2 == 0) "web" else "code", 1L + (i * 17) % 29))
    val budDf = budRows.reverse.toDF("doc_id", "src", "n_toks")
      .repartition(5)
    val packed = Sampling.packSequences(packDf, "doc_id", "n_toks", 64)
    val budgeted = Sampling.tokenBudget(budDf, "doc_id", "n_toks", "src",
      Map("web" -> 300L, "code" -> 200L), defaultBudget = 0L)
    // budget first, pack second — reverse of construction order
    val gotBud = budgeted.select("id", "cum_before")
      .as[(Long, Long)].collect().toMap
    val gotPack = packed.select("id", "cum_before")
      .as[(Long, Long)].collect().toMap
    var cum = 0L
    packRows.foreach { case (id, n) =>
      assert(gotPack(id) == cum, s"pack doc $id offset after interleave")
      cum += n
    }
    // sequential greedy fill per stratum in the seeded shuffle order
    val byKey = budRows.groupBy(_._2)
    byKey.foreach { case (src, g) =>
      def key(id: Long) = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"tb:$id".getBytes("UTF-8"))
        d.map("%02x".format(_)).mkString
      }
      var acc = 0L
      val budget = if (src == "web") 300L else 200L
      g.sortBy(r => (key(r._1), r._1)).foreach { case (id, _, n) =>
        if (acc < budget)
          assert(gotBud.get(id).contains(acc),
            s"budget doc $id offset after interleave")
        else assert(!gotBud.contains(id), s"budget doc $id over budget")
        acc += n
      }
    }
  }

  test("interleaved rank calls: a lazy frame held across another call " +
    "still yields correct ranks (layout pinned, no cache hazard)") {
    // round-12 ADVICE: the old single-slot persist cache unpersisted
    // call A's frame when call B arrived; materializing A afterwards
    // recomputed under a freshly-SAMPLED range layout and could pair
    // rows with offsets from the old layout. localCheckpoint pinning
    // makes A's layout immutable — this interleave must stay exact.
    val a = (0L until 97L).map(i => (i, (i * 13) % 10))
      .reverse.toDF("doc_id", "score").repartition(5)
    val b = (0L until 70L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", (i * 7) % 11))
      .reverse.toDF("doc_id", "lang", "s").repartition(5)
    // build BOTH lazily before materializing EITHER
    val outA = Sampling.curriculumOrder(a, "doc_id", "score", stages = 4)
    val outB = Sampling.stratifiedRankBuckets(b, "doc_id", "s", "lang",
      buckets = 3)
    val gotB = outB.select("doc_id", "rank").as[(Long, Long)]
      .collect().toMap
    val gotA = outA.select("doc_id", "stage").as[(Long, Int)]
      .collect().toMap // materialized AFTER the second call ran
    (0L until 97L).map(i => (i, (i * 13) % 10))
      .sortBy { case (id, s) => (s, id) }.zipWithIndex
      .foreach { case ((id, _), rk) =>
        assert(gotA(id) == rk * 4 / 97, s"doc $id stage after interleave")
      }
    (0L until 70L).map(i =>
        (i, if (i % 3 == 0) "a" else "b", (i * 7) % 11))
      .groupBy(_._2).foreach { case (_, g) =>
        g.sortBy { case (id, _, s) => (s, id) }.zipWithIndex.foreach {
          case ((id, _, _), rk) =>
            assert(gotB(id) == rk + 1, s"doc $id rank after interleave")
        }
      }
  }

  test("neymanAllocation: n*sigma weights, floor shares, largest-remainder top-up; all-constant is null") {
    val df = Seq(("s1", 0L), ("s1", 4L), ("s2", 5L), ("s2", 5L),
      ("s3", 0L), ("s3", 8L)).toDF("source", "x")
    val r = graft.operators.Sampling
      .neymanAllocation(df, "source", "x", budget = 10L)
      .collect().map(x => x.getAs[String]("stratum") ->
        (x.getAs[Long]("sigma"), x.getAs[Long]("weight"),
          x.getAs[Long]("alloc"))).toMap
    // sigmas 2, 0, 4 -> weights 4, 0, 8 (tw 12); floors 3, 0, 6;
    // one remainder seat goes to the largest fraction (s3)
    assert(r == Map("s1" -> ((2L, 4L, 3L)), "s2" -> ((0L, 0L, 0L)),
      "s3" -> ((4L, 8L, 7L))))
    val const = Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("source", "x")
    val rc = graft.operators.Sampling
      .neymanAllocation(const, "source", "x", budget = 10L).collect()
    assert(rc.forall(_.isNullAt(rc.head.fieldIndex("alloc"))))
  }
}
