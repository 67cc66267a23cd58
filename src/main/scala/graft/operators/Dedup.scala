package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.expressions.SimHash64
import graft.functions.expressions.VectorKernels

/** Deduplication operators for training-data pipelines.
  *
  * Scale design notes (the point of each variant):
  *  - exact: one hash-shuffle on the digest; no text comparison.
  *  - shingle-join Jaccard: exact pairwise similarity WITHOUT an O(n²)
  *    cross join — explode to (shingle, doc) pairs, self-join on shingle,
  *    count intersections. Cost ~ sum of shingle-frequency². Frequent
  *    shingles are capped ([[jaccardPairs]] `maxShingleFreq`) the way
  *    common words are dropped from inverted indexes.
  *  - MinHash+LSH: candidate generation with recall ~1 at the target
  *    threshold (banding), then exact verification of candidates only.
  *    This is the 100 TB path: constant-size signatures, band-bucket
  *    shuffle, no pairwise work outside buckets.
  *  - SimHash: constant 8-byte fingerprint, near-dup = small Hamming
  *    distance; bucketing on 16-bit chunks (Manku et al. WWW'07).
  *  - embedding cosine: hyperplane-LSH bucketing + exact verify.
  */
object Dedup {

  /** See simhashPairs: at most one fingerprint cache stays live. */
  private var lastSimhashCache: Option[DataFrame] = None

  /** The text-pairing operators' shared input caches (see
    * [[simhashPairs]] for the release contract): each pairing call
    * persists the frames its plan references MORE THAN ONCE — a
    * self-join's two sides and the verify joins are independent plan
    * subtrees, so without a cache the shingle explode (+ the 128-hash
    * MinHash signature in the LSH path) is re-evaluated per reference;
    * no ReusedExchange fires because the reference sites shuffle (or
    * broadcast) on different keys. Caching is also the production
    * shape: the signature/band-key table IS the stored dedup index.
    * At most one call's cache set stays live; the next pairing call
    * releases the previous set (bench/driver `clearCache` also
    * applies). Persist is lazy — the BlockManager's per-partition
    * locking still guarantees each cached partition is computed once
    * even when two branches of one query race to it. */
  private var lastPairCaches: Seq[DataFrame] = Nil
  private def cachePairInputs(dfs: DataFrame*): Unit = Dedup.synchronized {
    lastPairCaches.foreach(_.unpersist(false))
    dfs.foreach(_.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    lastPairCaches = dfs.toList
  }

  /** ONE-LIVE-PAIRING-CALL CONTRACT (public API note): the registry
    * above is a single slot — building pairing frames A then B and only
    * THEN evaluating A silently loses A's input caches (A recomputes;
    * results are unchanged, the double-evaluation optimization is not).
    * Evaluate each pairing result before constructing the next, which
    * is what every declared query and the bench's serial drive do. The
    * last call's caches otherwise stay pinned (MEMORY_AND_DISK) until
    * the next call; long-lived sessions should release them explicitly:
    */
  def releaseCaches(): Unit = Dedup.synchronized {
    lastPairCaches.foreach(_.unpersist(false))
    lastPairCaches = Nil
    lastSimhashCache.foreach(_.unpersist(false))
    lastSimhashCache = None
  }

  /** Exact dedup on a digest of `cols`: keeps the row with the smallest
    * `idCol` per digest. Returns the surviving rows. */
  def exact(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame = {
    val digest = md5(concat_ws("", cols.map(col): _*))
    val w = Window.partitionBy(digest).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact pairwise word-shingle Jaccard >= `threshold` via shingle
    * inverted-index join. Output: (id_a, id_b, jaccard) with id_a < id_b.
    * `maxShingleFreq` drops shingles appearing in more than that many
    * docs (stopword-like; they cannot define near-duplicates but explode
    * the join). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxShingleFreq: Int = 1000): DataFrame = {
    // the shingle string never reaches the output — key the index by its
    // xxhash64 so every shuffle row is (id, n_sh, 8-byte key) instead of
    // carrying n words of text; a collision (2^-64 per distinct-shingle
    // pair) could only merge two postings lists, and the sf-gated oracle
    // (literal string keys) would catch it
    val sh = docs.select(col(idCol).as("id"),
        TextFunctions.shingles(col(textCol), n).as("shingles"))
      .withColumn("n_sh", size(col("shingles")))
      .select(col("id"), col("n_sh"),
        explode(col("shingles")).as("sh_raw"))
      .select(col("id"), col("n_sh"), xxhash64(col("sh_raw")).as("sh"))
    val filtered = sh
      .withColumn("freq", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("freq") <= maxShingleFreq)
      .drop("freq")
    // both self-join sides reference this frame: cache it or pay the
    // explode + frequency window twice (see cachePairInputs)
    cachePairInputs(filtered)
    val a = filtered.as("a")
    val b = filtered.as("b")
    a.join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric shingle CONTAINMENT — the doc-subsumption detector
    * Jaccard structurally misses: when a short document is wholly
    * embedded in a much longer one (quote farms, page-with-boilerplate
    * wrappers, concatenated dumps), J = |A∩B| / |A∪B| is dragged down
    * by the size gap while C(A→B) = |A∩B| / |A| stays ≈ 1. Emits
    * directed pairs (id_a = the contained/smaller side) with
    * containment >= `threshold`; pairs Jaccard would also catch are
    * still here (C >= J always).
    *
    * Same inverted-index shape and cost as [[jaccardPairs]] — one
    * shingle-keyed self-join carrying (id, n_sh, 8-byte key), freq-cap
    * on stopword-like shingles — the only change is the normalizer
    * (min side instead of union), so the 100 TB argument transfers
    * unchanged. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxShingleFreq: Int = 1000): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        TextFunctions.shingles(col(textCol), n).as("shingles"))
      .withColumn("n_sh", size(col("shingles")))
      .filter(col("n_sh") > 0)
      .select(col("id"), col("n_sh"),
        explode(col("shingles")).as("sh_raw"))
      .select(col("id"), col("n_sh"), xxhash64(col("sh_raw")).as("sh"))
    val filtered = sh
      .withColumn("freq", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("freq") <= maxShingleFreq)
      .drop("freq")
    // both self-join sides reference this frame (see cachePairInputs)
    cachePairInputs(filtered)
    val a = filtered.as("a")
    val b = filtered.as("b")
    // direction by (n_sh, id) total order: the smaller shingle set is
    // always the contained side, ties broken by id so each unordered
    // pair appears exactly once
    a.join(b, col("a.sh") === col("b.sh") &&
        (col("a.n_sh") < col("b.n_sh") ||
          (col("a.n_sh") === col("b.n_sh") && col("a.id") < col("b.id"))))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        round(col("inter").cast("double") / col("n_a"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("containment"))
  }

  /** MinHash signature: `numHashes` minima over the shingle set — a
    * codegen'd Catalyst expression ([[MinHashSig]]); the equivalent
    * higher-order-function composition runs interpreted and re-hashes
    * every shingle per family member (~100x slower). */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    graft.functions.expressions.MinHashSig.minhash_sig(shinglesCol, numHashes)

  /** MinHash + LSH banding + exact-Jaccard verification.
    *
    * Bands of `rowsPerBand` rows: candidate iff some band collides.
    * With 64 bands x 2 rows, P(miss | jaccard >= 0.5) < 1e-8, so the
    * verified output equals the exact [[jaccardPairs]] result (which is
    * the oracle) while only hashing candidates.
    */
  /** (id, shingles) with empties dropped. */
  private[graft] def shingled(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        TextFunctions.shingles(col(textCol), n).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** LSH band keys: (id, band, bucket) — candidate generation carries
    * ONLY these (the band join multiplies rows up to numBands x per
    * colliding pair, so payloads are joined back after dedup, not
    * shuffled through it). */
  private[graft] def banded(withSh: DataFrame, numHashes: Int,
                     rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    withSh
      .withColumn("sig", minhashSignature(col("shingles"), numHashes))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * frames, with the size-ratio prefilter (jaccard >= t forces |A|/|B|
    * within [t, 1/t] — cuts exact work before touching the arrays). */
  private[graft] def verifyPairs(candidates: DataFrame, sizedA: DataFrame,
                          sizedB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(sizedA.select(col("id").as("id_a"), col("shingles").as("sh_a"),
        size(col("shingles")).as("n_a")), "id_a")
      .join(sizedB.select(col("id").as("id_b"), col("shingles").as("sh_b"),
        size(col("shingles")).as("n_b")), "id_b")
      .filter(col("n_a") >= col("n_b") * threshold &&
        col("n_b") >= col("n_a") * threshold)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") /
        (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Choose (bands, rowsPerBand) for [[minhashLshPairs]] at a target
    * Jaccard threshold — the MMDS S-curve recipe made executable:
    * a pair of similarity s becomes a candidate with
    * P(s) = 1 − (1 − s^r)^b, and the best (b, r) among the divisor
    * pairs of `numHashes` minimizes the false-positive mass below the
    * threshold plus the false-negative mass above it (uniform prior,
    * Riemann sum). Pure driver arithmetic: call once at job-config
    * time instead of hand-picking rowsPerBand; higher thresholds push
    * toward longer bands (steeper curves further right). */
  def tuneLsh(numHashes: Int, threshold: Double,
              steps: Int = 1000): (Int, Int) = {
    require(numHashes > 0 && threshold > 0 && threshold < 1)
    val candidates = (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
    def cost(b: Int, r: Int): Double = {
      var c = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        c += (if (s < threshold) p else 1.0 - p) / steps
        i += 1
      }
      c
    }
    candidates.minBy { case (b, r) => cost(b, r) }
  }

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, threshold: Double = 0.5,
                      numHashes: Int = 128, rowsPerBand: Int = 2): DataFrame = {
    val withSh = shingled(docs, idCol, textCol, n)
    val bandKeys = banded(withSh, numHashes, rowsPerBand)
    // withSh feeds bandKeys AND both verify joins; bandKeys feeds both
    // self-join sides — uncached, the 128-hash MinHash signature ran
    // twice and the shingle explode four times per call (these tables
    // are exactly what a production pipeline stores as its dedup index)
    cachePairInputs(withSh, bandKeys)
    val candidates = bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyPairs(candidates, withSh, withSh, threshold)
  }

  /** Incremental near-dup scan: pairs (id_a = NEW doc, id_b = PRIOR
    * doc) with jaccard >= threshold — the continuously-growing-corpus
    * shape: the prior side's band keys are exactly what a production
    * pipeline keeps as a STORED index table, so each arriving batch
    * computes signatures only for itself and bucket-joins the index
    * (cost ~ batch size, never O(corpus) work per batch). An anti-join
    * of the new batch against this output is the "keep" set; new-vs-new
    * duplicates are [[minhashLshPairs]]' job, composed separately. */
  def minhashLshCrossPairs(newDocs: DataFrame, priorDocs: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.5,
                           numHashes: Int = 128, rowsPerBand: Int = 2): DataFrame = {
    val newSh = shingled(newDocs, idCol, textCol, n)
    val priorSh = shingled(priorDocs, idCol, textCol, n)
    // each side feeds its banding AND its verify join (see
    // cachePairInputs); the banded frames are single-reference
    cachePairInputs(newSh, priorSh)
    val candidates = banded(newSh, numHashes, rowsPerBand).as("a")
      .join(banded(priorSh, numHashes, rowsPerBand).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyPairs(candidates, newSh, priorSh, threshold)
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, candidates via
    * `numChunks` bit-chunk buckets, verified with exact bit_count(xor).
    * Pigeonhole: any pair with Hamming distance <= numChunks-1 shares at
    * least one chunk, so recall is EXACT for maxHamming <= numChunks-1
    * (Manku et al. WWW'07 block-permute scheme, single permutation).
    * More chunks -> higher guaranteed distance but coarser buckets
    * (bucket join cost ~ n²/2^(64/numChunks) per chunk). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, numChunks: Int = 4): DataFrame = {
    // Materialize the fingerprints (16 bytes/doc): the chunk-bucket
    // self-join would otherwise evaluate the whole text-hashing subplan
    // once per join side — at 100 TB the signature table is exactly what
    // you'd persist (or store as a column) before any pairing pass. The
    // returned frame is lazy, so the cache can't be released here;
    // releasing the PREVIOUS call's cache bounds a repeated caller
    // (bench reps) to one live fingerprint cache.
    val fp = docs.select(col(idCol).as("id"),
        SimHash64.simhash64(TextFunctions.words(col(textCol))).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.synchronized {
      lastSimhashCache.foreach(_.unpersist(false))
      lastSimhashCache = Some(fp)
    }
    fingerprintPairs(fp, maxHamming, numChunks)
  }

  /** Chunk-bucketed Hamming pairs over ANY 64-bit fingerprint table
    * `(id, fp)` — the pigeonhole pattern shared by text SimHash and
    * image dHash: split fp into `numChunks` pieces, bucket-join on each
    * piece (two fps within `numChunks-1` Hamming must agree on at least
    * one piece), exact `bit_count` verify on candidates. Shuffles only
    * (id, fp, chunk, key) rows. */
  def fingerprintPairs(fp: DataFrame, maxHamming: Int,
                       numChunks: Int = 4): DataFrame = {
    require(64 % numChunks == 0, "numChunks must divide 64")
    require(maxHamming <= numChunks - 1,
      s"recall only guaranteed for maxHamming <= ${numChunks - 1}")
    val chunkBits = 64 / numChunks
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1L
    val chunked = fp.select(col("id"), col("fp"),
      explode(array((0 until numChunks).map(i =>
        struct(lit(i).as("chunk"),
          shiftright(col("fp"), i * chunkBits).bitwiseAND(lit(mask)).as("key"))): _*))
        .as("ck"))
      .select(col("id"), col("fp"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    val a = chunked.as("a"); val b = chunked.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Embedding near-dup pairs: deterministic hyperplane-LSH bucketing
    * (`numBits` sign bits per `numTables` tables), exact cosine verify.
    * At 100 TB the bucket join replaces the O(n²) cross join; recall is
    * tuned by numTables. */
  def embeddingPairs(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                     threshold: Double = 0.99, numBits: Int = 8,
                     numTables: Int = 8): DataFrame = {
    val planes = Similarity.hyperplanes(dim, numBits * numTables, seed = 42)
    val base = embs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val keyed = Similarity.withBuckets(base, "vec", planes, numBits, numTables)
      .select(col("id"), col("table"), col("bucket"))
    // NOT cached: measured at bench SF, materializing the bucketed
    // frame cost more than recomputing the hyperplane projections
    // (0.85 s -> 2.2 s); the self-join sides stay recomputed here,
    // unlike the MinHash path whose 128-hash signature dominates
    val candidates = keyed.as("a").join(keyed.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(base.select(col("id").as("id_a"), col("vec").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("vb")), "id_b")
      .withColumn("cosine", round(VectorKernels.cosine_sim(col("va"), col("vb")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Connected components over near-dup pairs `(id_a, id_b)`.
    * Output: (id, component=min id) for every id that appears in a pair.
    *
    * Hybrid execution, both shapes honest at 100 TB:
    *  - The pair list is duplicates-only — usually FAR smaller than the
    *    corpus (a 100 TB corpus with 1% near-dups has ~1e8 pairs of ids,
    *    a few GB). When it fits under `driverMaxPairs`, ONE job collects
    *    it and a driver-side union-find labels it — versus ~diameter
    *    shuffle rounds of pure scheduler overhead.
    *  - Past the threshold, iterative min-label propagation (the
    *    canonical distributed CC; O(diameter) shuffle rounds, one action
    *    per round with the convergence count fused in).
    * The cutover is detected with `limit(threshold+1)` — no extra
    * count job. The threshold bounds what the driver materializes
    * (~1M boxed rows ≈ low hundreds of MB worst case — safe on a
    * default driver heap); an oversized corpus pays one wasted bounded
    * collect before the distributed path runs. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverMaxPairs: Int = 1000000): DataFrame = {
    val idType = pairs.schema("id_a").dataType
    val sample = pairs.select(col("id_a"), col("id_b"))
      .limit(driverMaxPairs + 1).collect()
    if (sample.length <= driverMaxPairs) {
      // driver union-find, min id as the component label
      val parent = scala.collection.mutable.HashMap[Any, Any]()
      // iterative find + path compression (recursion would stack-overflow
      // on a multi-million-long chain)
      def find(x: Any): Any = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      def lt(a: Any, b: Any): Boolean =
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      sample.foreach { r =>
        val (ra, rb) = (find(r.get(0)), find(r.get(1)))
        if (ra != rb) {
          if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      val ids = sample.flatMap(r => Seq(r.get(0), r.get(1))).distinct
      val spark = pairs.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          ids.map(i => org.apache.spark.sql.Row(i, find(i))).toSeq,
          numSlices = math.max(1, ids.length / 500000 + 1)),
        schema)
    }
    distributedComponents(pairs, maxIter)
  }

  /** Iterative min-label propagation (see [[connectedComponents]]). */
  private[graft] def distributedComponents(
      pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // undirected edge list, both directions — explode instead of a
    // self-union so the (possibly expensive) pairs subplan is evaluated
    // ONCE, not once per direction
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist(lvl)
    // candidate label per node = min(own, neighbors' labels); the
    // did-anything-change flag rides along so the round's ONE action
    // both materializes the new labels and returns the convergence
    // count (a separate count() job per round is pure scheduler
    // overhead on shallow near-dup graphs)
    val (labels, changed) = Iterate.untilStable(
        edges.select(col("src").as("id")).distinct()
          .withColumn("component", col("id")),
        maxIter, Seq(edges), changed = sum(col("_chg"))) { prev =>
      val labels = prev.drop("_chg")
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("nbr"))
      labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr"), col("component")))
            .as("component"),
          (col("component") > col("nbr")).cast("long").as("_chg"))
    }
    // no silent caps: unconverged labels would mean phantom clusters
    if (changed > 0) {
      Iterate.release(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — component diameter exceeds " +
          "maxIter; raise it (or add the large-star contraction)")
    }
    labels.drop("_chg")
  }

  /** Near-dup cluster summary: one row per component with the surviving
    * (minimum) id and member count — what a curation pipeline keeps and
    * what it drops. */
  def clusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("component").as("survivor_id"))
      .agg(count(lit(1)).as("n_members"))

  /** Quality-aware survivor selection: per near-dup component keep the
    * member with the HIGHEST quality (ties → smallest id) instead of the
    * arbitrary min-id member — the policy real curation pipelines use
    * (keep the longest / best-scoring copy; FineWeb keeps the most
    * complete duplicate). `quality`: one row per doc (`idCol`, `qCol`);
    * members without a quality row rank last. Only docs that appear in
    * `pairs` are listed (singletons have no cluster to pick from).
    *
    * Scale shape: the component frame is duplicates-only (orders of
    * magnitude smaller than the corpus), so the quality join and the one
    * (component)-shuffle window ride frames of that size; the corpus
    * itself is touched only by whatever produced `pairs`/`quality`. */
  def clustersBestOf(pairs: DataFrame, quality: DataFrame,
                     idCol: String, qCol: String): DataFrame = {
    val members = connectedComponents(pairs)
    val q = quality.select(col(idCol).as("id"), col(qCol).as("_q"))
    val byComp = Window.partitionBy(col("component"))
    val pick = byComp.orderBy(col("_q").desc_nulls_last, col("id").asc)
    members.join(q, Seq("id"), "left")
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("_rn", row_number().over(pick))
      .filter(col("_rn") === 1)
      .select(col("component"), col("id").as("survivor_id"),
        col("_q").as("survivor_quality"), col("n_members"))
  }

  /** Corpus snapshot diff — the versioning primitive behind "what
    * changed between crawl N and crawl N+1": full-outer join of the two
    * snapshots' (id, content-fingerprint) tables, one status per id —
    * `added` / `removed` / `changed` / `unchanged`. The fingerprint is
    * [[TextFunctions.fingerprint]] (word-set md5), so formatting-only
    * edits that survive the words() normalization count as unchanged —
    * same normalization the dedup family keys on. One shuffle per side
    * on id; fingerprints are 32 bytes/doc, text never joins. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    def fps(df: DataFrame, as: String) = df.select(
      col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as(as))
    fps(oldDocs, "fp_old").join(fps(newDocs, "fp_new"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Leakage-free train/val/test split: a near-copy of a training doc
    * in the held-out set is contamination, so the SPLIT KEY is the
    * doc's near-dup component (all members land together); docs in no
    * pair split by their own id. Assignment is the deterministic md5
    * bucket of the key — reproducible, engine-independent, and at any
    * scale a join of the (small) component map onto the corpus plus a
    * map-side bucket filter. `testBp`/`valBp` are basis points of the
    * KEY space; realized doc shares deviate by cluster-mass granularity
    * (the price of leak-freedom). */
  def leakFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                    testBp: Int, valBp: Int): DataFrame = {
    require(testBp >= 0 && valBp >= 0 && testBp + valBp <= 10000,
      "testBp/valBp must be >= 0 and sum to <= 10000")
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val keyed = docs.join(comp, Seq(idCol), "left")
      .withColumn("_key", coalesce(col("component"), col(idCol)))
    val b = Sampling.bucket(col("_key"))
    keyed.withColumn("split",
        when(b < testBp, lit("test"))
          .when(b < testBp + valBp, lit("val"))
          .otherwise(lit("train")))
      .drop("_key", "component")
  }

  /** Split-leakage audit — the verification step a release runs AFTER
    * any train/val/test split (its own [[leakFreeSplit]] or an
    * inherited upstream one): for every near-dup pair, which splits do
    * its endpoints land in? A nonzero `crossing` row is test-set
    * leakage. Emits one row per unordered split combination
    * (`split_a <= split_b`) with its pair count and the crossing flag
    * — the ≤ 6-row table a release gate asserts on.
    *
    * Scale shape: two hashed key joins of the (id_a, id_b) pair frame
    * onto the (id, split) labels — ids only, never text — then one
    * aggregation to at most |splits|² rows. */
  def splitAudit(split: DataFrame, idCol: String, splitCol: String,
                 pairs: DataFrame): DataFrame = {
    val lab = split.select(col(idCol), col(splitCol).as("_split"))
    // LEFT joins + an explicit 'unlabeled' bucket: a pair endpoint
    // missing from the split table is the audit's loudest finding, not
    // a silently dropped row — an inner join would under-report
    // leakage exactly when split coverage is broken
    pairs.select(col("id_a"), col("id_b"))
      .join(lab.withColumnRenamed(idCol, "id_a")
        .withColumnRenamed("_split", "sa"), Seq("id_a"), "left")
      .join(lab.withColumnRenamed(idCol, "id_b")
        .withColumnRenamed("_split", "sb"), Seq("id_b"), "left")
      .withColumn("sa", coalesce(col("sa"), lit("unlabeled")))
      .withColumn("sb", coalesce(col("sb"), lit("unlabeled")))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("crossing", col("split_a") =!= col("split_b"))
  }

  /** Incremental MEMBERSHIP scan with a bloom prefilter: batch docs whose
    * word-set fingerprint ([[TextFunctions.fingerprint]] — exact-content
    * and permutation-robust) already exists in the prior corpus.
    *
    * 100 TB shape: the prior side collapses to a bloom filter built by a
    * DISTRIBUTED aggregate (Spark's own `BloomFilterAggregate`, the
    * runtime-filter primitive — partial filters merge tree-wise; only the
    * final ~`1.2 MB/1M keys` bitmap reaches the driver, exactly like
    * Spark's injected runtime filters). The batch scan is then a pure
    * map-side codegen'd `might_contain` — the non-matching majority never
    * shuffles. False positives are removed by an exact semi-join against
    * the prior fingerprints, so the RESULT is exact (oracle-checkable);
    * only the candidate set (true matches + ~fpp of the batch) pays the
    * join shuffle. */
  def bloomIncremental(batch: DataFrame, prior: DataFrame,
                       idCol: String, textCol: String,
                       expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim
    val fp = TextFunctions.fingerprint(col(textCol))
    val priorFp = prior.select(fp.as("fp"))
    val bloomBytes = priorFp
      .select(graftshim.column(new BloomFilterAggregate(
        graftshim.expression(xxhash64(col("fp"))), expectedItems)
        .toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0)
    if (bloomBytes == null) // empty prior corpus: nothing can match
      return batch.select(col(idCol).as("id"), fp.as("fp")).limit(0)
    val candidates = batch
      .select(col(idCol).as("id"), fp.as("fp"))
      .filter(graftshim.column(BloomFilterMightContain(
        graftshim.expression(lit(bloomBytes)),
        graftshim.expression(xxhash64(col("fp"))))))
    candidates.join(priorFp.distinct(), Seq("fp"), "left_semi")
      .select(col("id"), col("fp"))
  }

  /** Cross-document EXACT substring duplication (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" family):
    * flag every `k`-word window whose exact text occurs at two or more
    * positions anywhere in the corpus (other docs or elsewhere in the
    * same doc), and report per doc how much of it is duplicated text.
    *
    * The single-node reference method is a suffix array; the distributed
    * equivalent is a positional window inverted index — windows shuffle
    * on their gram key, duplicated keys (count >= 2) join back, covered
    * word positions are the union of the flagged windows' spans:
    *
    *   (doc, pos, gram) -> count per gram -> dup grams -> dup windows
    *   -> explode each window's k positions -> distinct (doc, pos)
    *
    * Output per doc: n_words, n_dup_windows, n_covered (distinct word
    * positions inside a duplicated window), dup_frac = n_covered /
    * n_words. Docs shorter than `k` words report zeros.
    *
    * Scale: every shuffle is keyed on the gram HASH or (doc, position) —
    * no doc-pair blowup, cost ~ one row per corpus token per stage. The
    * key is xxhash64 of the k-word window, computed INSIDE the window
    * transform: the per-doc array is array<long> (8 bytes/window) and the
    * window strings are codegen-transient — never materialized per doc,
    * never shuffled. (The literal-string-key variant held the whole doc
    * text x k in one array per row; those humongous allocations wrecked
    * the heap for every later query in a shared JVM.) A 2^-64 collision
    * rate is noise for span flagging; the DuckDB oracle keeps literal
    * string keys and must agree unless xxhash64 collides on this data.
    * The removal step (cutting flagged spans out of the text) is a
    * per-doc map over the covered-position list, same as the flag. */
  def substringDups(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
        TextFunctions.words(col(textCol)).as("w"))
      .withColumn("n_words", size(col("w")))
    // positional windows (NOT distinct — a within-doc repeat is a dup)
    val wins = base
      .withColumn("grams",
        when(col("n_words") < k, array().cast("array<bigint>"))
          .otherwise(expr(
            s"transform(sequence(1, size(w) - ${k - 1}), " +
              s"i -> xxhash64(concat_ws(' ', slice(w, i, $k))))")))
      .select(col("id"), posexplode(col("grams")).as(Seq("pos", "gram")))
    // NOT cached: the window-hash transform recompute is cheaper than
    // materializing the token-sized positional index (measured
    // 0.28 s -> 0.41 s cached at bench SF; at corpus scale the index is
    // 1 row/token — storing it costs the same class of I/O it saves)
    val dupGrams = wins.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val dupWins = wins.join(dupGrams, Seq("gram"))
    val perDoc = dupWins.groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_windows"))
    val covered = dupWins
      .select(col("id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("p"))
      .distinct()
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_covered"))
    base.select(col("id"), col("n_words"))
      .join(perDoc, Seq("id"), "left")
      .join(covered, Seq("id"), "left")
      .select(col("id"), col("n_words"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("dup_frac",
        round(col("n_covered") / greatest(col("n_words"), lit(1)), 4))
  }

  /** The REMOVAL half of [[substringDups]] (Lee et al. 2022 actually cut
    * the flagged spans, not just measured them): rebuild each document
    * with every word position covered by a duplicated k-window removed.
    * Output (id, n_words, n_removed, text_clean) where `text_clean` is
    * the surviving words joined by single spaces (the words-stream
    * normalization — lowercased, whitespace collapsed — which is the
    * form a tokenizer consumes anyway).
    *
    * Scale shape: identical to the flag pass (hashed gram keys, one row
    * per token per stage) plus ONE join of the covered-position sets
    * back to the word arrays keyed on doc id; the excision itself is a
    * per-row `filter` lambda over (word, index) — no extra shuffle. */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 8): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
        TextFunctions.words(col(textCol)).as("w"))
      .withColumn("n_words", size(col("w")))
    val wins = base
      .withColumn("grams",
        when(col("n_words") < k, array().cast("array<bigint>"))
          .otherwise(expr(
            s"transform(sequence(1, size(w) - ${k - 1}), " +
              s"i -> xxhash64(concat_ws(' ', slice(w, i, $k))))")))
      .select(col("id"), posexplode(col("grams")).as(Seq("pos", "gram")))
    // NOT cached — same measured trade as substringDups
    val dupGrams = wins.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val covered = wins.join(dupGrams, Seq("gram"))
      .select(col("id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("p"))
      .groupBy(col("id"))
      .agg(collect_set(col("p")).as("cov"))
    base.join(covered, Seq("id"), "left")
      .select(col("id"), col("n_words"),
        coalesce(size(col("cov")), lit(0)).as("n_removed"),
        concat_ws(" ",
          filter(col("w"), (x, i) =>
            not(array_contains(
              coalesce(col("cov"), array().cast("array<int>")), i))))
          .as("text_clean"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the IVF k-means
    * ([[Similarity.trainCentroids]]), generate candidate pairs only
    * within cells, verify candidates with the exact cosine kernel, and
    * drop every id that has a SMALLER near-dup neighbor.
    *
    * The survivor rule is clustering-independent — `id` is dropped iff
    * some `id' < id` has `round(cos, 4) >= threshold` — so the output is
    * oracle-checkable by an exact all-pairs scan even though the engine
    * never runs one. Each vector keys into its `nprobe` nearest cells
    * (not 1) so near-dup pairs straddling a Voronoi boundary still share
    * a cell; DedupSpec verifies recall on planted duplicates.
    *
    * 100 TB shape: the cell id is a stored bucket column (one narrow
    * kernel pass); candidate generation shuffles (cell, id) only — the
    * vectors are joined back to candidates, mirroring [[embeddingPairs]];
    * the exact verify touches candidates, never the n² cross join. */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.9, nlist: Int = 16,
                    nprobe: Int = 2,
                    keepCols: Seq[String] = Nil): DataFrame = {
    val base = embs.select(
      (Seq(col(idCol).as("id"), col(vecCol).as("vec")) ++ keepCols.map(col)): _*)
      .na.drop(Seq("vec"))
    val cents = Similarity.trainCentroids(
      base.select(col("id"), col("vec")), nlist)
    val keyed = base.select(col("id"),
      explode(Similarity.probeCells(col("vec"), cents, nprobe)).as("cell"))
    // both self-join sides reference the celled frame (see
    // cachePairInputs) — uncached, the nprobe-of-nlist cell routing
    // kernels run twice
    cachePairInputs(keyed)
    val candidates = keyed.as("a").join(keyed.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = base.select(col("id"), col("vec"))
    val dropped = candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vb")), "id_b")
      .filter(round(VectorKernels.cosine_sim(col("va"), col("vb")), 4)
        >= threshold)
      .select(col("id_b").as("id")).distinct()
    base.join(dropped, Seq("id"), "left_anti").drop("vec")
  }
}
