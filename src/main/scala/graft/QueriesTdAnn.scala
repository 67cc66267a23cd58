package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.expressions.SimHash64
import graft.operators.{Collocations, Dedup, EvalMetrics, FilterFunnel, Multimodal, QualityClassifier, Quantization, Sampling, Similarity, TextQuality, Tokenizer, UrlFilter}

/** ANN / embedding gates: brute/LSH/IVF/PQ top-k, recall floors,
  * margin mining, quantization, drift, word2vec, doc clusters.
  *
  * Split from [[QueriesTrainingData]] (round 12) along the COVERAGE.md
  * family boundaries; the folded `gated` registry shape is unchanged and
  * [[QueriesTrainingData.gated]] concatenates the families. Shared
  * helpers/oracle CTEs live in [[QueriesTdShared]].
  */
private[graft] object QueriesTdAnn {
  import Queries.Q
  import QueriesTdShared._

  val gated: Seq[(String, Q, String)] = Seq(
    // brute-force exact cosine top-10 for 10 query vectors
    ("ann_topk",
      ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(
        e.filter(col("id") < 10).select(col("id").as("qid"), col("vec")),
        e, k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
      """SELECT qid, rank, id, cosine FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]), 6) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
        |        c.embedding::DOUBLE[]), 6) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 10""".stripMargin),
    // Matryoshka truncation audit (Kusupati 2022): exact top-10 with
    // full vectors vs the first-8-dims prefix, per-query recall in
    // exact integer bp — both rankings and the intersection replay
    ("emb_matryoshka",
      ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.matryoshkaRecall(
        e.filter(col("id") < 10).select(col("id").as("qid"), col("vec")),
        e, k = 10, dims = 8)
    }),
      """WITH fullr AS (
        |  SELECT qid, id FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(
        |          q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
        |          DESC, c.vec_id) AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 10),
        |cheap AS (
        |  SELECT qid, id FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(
        |          (q.embedding::DOUBLE[])[1:8],
        |          (c.embedding::DOUBLE[])[1:8]), 6) DESC, c.vec_id)
        |        AS rank
        |    FROM embeddings q, embeddings c
        |    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 10),
        |h AS (SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
        |      FROM fullr f JOIN cheap ch
        |        ON f.qid = ch.qid AND f.id = ch.id
        |      GROUP BY 1),
        |n AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_full
        |      FROM fullr GROUP BY 1)
        |SELECT n.qid, n.n_full,
        |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) * 10000 // n.n_full AS BIGINT)
        |    AS recall_bp
        |FROM n LEFT JOIN h ON n.qid = h.qid""".stripMargin),
    // hard-negative mining for contrastive training: per anchor, the
    // top-5 highest-cosine candidates with a DIFFERENT label (positives
    // excluded) below the near-duplicate threshold — the FAISS/SBERT
    // mining recipe, engine-exact on 6-dp-rounded cosines
    ("emb_hard_negatives",
      ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id").as("id"),
        col("embedding").as("vec"), col("label"))
      Similarity.hardNegatives(
        e.filter(col("id") < 20)
          .select(col("id").as("qid"), col("vec"), col("label")),
        e, k = 5)
    }),
      """SELECT qid, rank, id, cosine FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]), 6) AS cosine,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
        |        c.embedding::DOUBLE[]), 6) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
        |    AND q.label <> c.label
        |    AND ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]), 6) < 0.99)
        |WHERE rank <= 5""".stripMargin),
    // hybrid retrieval: lexical (word-set Jaccard) top-20 + semantic
    // (exact cosine) top-20, fused by reciprocal rank fusion — RRF
    // consumes only ranks, so the fusion replays exactly in SQL even
    // though the two score spaces are incomparable. doc_id and vec_id
    // share an id space in the testdata (one embedding per document).
    ("td_hybrid_rrf",
      ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        graft.functions.TextFunctions.words(col("text")).as("ws"))
      val lex = operators.HybridRetrieval.jaccardTopK(
        d.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("ws")),
        d.select(col("doc_id").as("id"), col("ws")), k = 20)
      val e = embs(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val sem = Similarity.bruteForceTopK(
        e.filter(col("id") < 5).select(col("id").as("qid"), col("vec")),
        e, k = 20)
      operators.HybridRetrieval.rrf(lex, sem, topK = 10)
    }),
      """WITH dw AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    w -> len(w) > 0)) AS ws
        |  FROM documents),
        |lexall AS (
        |  SELECT q.doc_id AS qid, c.doc_id AS id,
        |    ROUND(CAST(len(list_intersect(q.ws, c.ws)) AS DOUBLE) /
        |      len(list_distinct(list_concat(q.ws, c.ws))), 6) AS jaccard
        |  FROM dw q, dw c WHERE q.doc_id < 5 AND q.doc_id <> c.doc_id),
        |lex AS (
        |  SELECT qid, id, lex_rank FROM (
        |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY jaccard DESC, id) AS lex_rank FROM lexall)
        |  WHERE lex_rank <= 20),
        |semall AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]), 6) AS cosine
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |sem AS (
        |  SELECT qid, id, sem_rank FROM (
        |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cosine DESC, id) AS sem_rank FROM semall)
        |  WHERE sem_rank <= 20),
        |fused AS (
        |  SELECT COALESCE(lex.qid, sem.qid) AS qid,
        |    COALESCE(lex.id, sem.id) AS id,
        |    ROUND(COALESCE(1.0 / (60 + lex_rank), 0) +
        |          COALESCE(1.0 / (60 + sem_rank), 0), 6) AS rrf,
        |    CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
        |    CAST(COALESCE(sem_rank, 0) AS BIGINT) AS sem_rank
        |  FROM lex FULL OUTER JOIN sem
        |    ON lex.qid = sem.qid AND lex.id = sem.id)
        |SELECT qid, rank, id, rrf, lex_rank, sem_rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, id) AS INT) AS rank FROM fused)
        |WHERE rank <= 10""".stripMargin),
    // LSH-bucketed ANN (scale path) — rows-only (approximate by design)
    ("ann_lsh_topk",
      ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = e.filter(col("id") < 10).select(col("id").as("qid"), col("vec"))
      // aggregate recall FLOOR vs brute force (hyperplane-LSH top-k
      // recall is genuinely low at these table/bit counts — measured
      // 8-12/100 across SFs; the gate documents that floor and catches
      // catastrophic regressions, it is not a quality claim)
      totalRecallGate(Similarity.lshTopK(q, e, dim = 64, k = 10),
        Similarity.bruteForceTopK(q, e, k = 10), q, minTotal = 4)
    }),
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  true AS recall_floor_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    // ANN: IVF cell-probed variant (kmeans centroids; the 100TB path is
    // the cell id as a bucket column of the stored table), emitted as
    // the per-query recall gate vs the exact brute-force top-10: every
    // query must recover at least 5 of the true top-10 (measured min is
    // 7 across SFs; both sides are deterministic so the gate is
    // hash-stable). The IVF probe AND the exact scan are the timed work.
    ("ann_ivf_topk",
      ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = e.filter(col("id") < 10).select(col("id").as("qid"), col("vec"))
      perQidRecallGate(
        Similarity.ivfTopK(q, e, k = 10, nlist = 16, nprobe = 4),
        Similarity.bruteForceTopK(q, e, k = 10), q, minHits = 5)
    }),
      // property gates: the expected rows are pure functions of the table
          // ids (the Spark side computes the real approximate operator and
          // asserts its quality bound; see each query's comment for the
          // measured margins)
      """SELECT vec_id AS qid, true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    // embedding-space drift between two corpus snapshots (even vec_ids
    // = crawl N, odd = crawl N+1): per label, both sides' mean vectors'
    // cosine + count shift. Label 3's N+1 vectors are NEGATED (float
    // negation is exact in both engines) so the gate shows a real drift
    // signal (mean_cos ≈ -1) against the stable labels (≈ +1)
    ("emb_drift",
      ((s, dir) => {
      val e = embs(s, dir).filter(col("embedding").isNotNull)
      val a = e.filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("label"), col("embedding").as("vec"))
      val b = e.filter(pmod(col("vec_id"), lit(2)) === 1)
        .select(col("label"),
          when(col("label") === 3,
            transform(col("embedding"), x => -x))
            .otherwise(col("embedding")).as("vec"))
      Similarity.embeddingDrift(a, b, "label", "vec")
    }),
      """WITH a AS (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS v,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings
        |  WHERE vec_id % 2 = 0 AND embedding IS NOT NULL),
        |b AS (
        |  SELECT label,
        |    unnest((CASE WHEN label = 3
        |      THEN list_transform(embedding, x -> -x)
        |      ELSE embedding END)::DOUBLE[]) AS v,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings
        |  WHERE vec_id % 2 = 1 AND embedding IS NOT NULL),
        |sa AS (SELECT label, i, SUM(v) AS s, COUNT(*) AS n
        |       FROM a GROUP BY 1, 2),
        |sb AS (SELECT label, i, SUM(v) AS s, COUNT(*) AS n
        |       FROM b GROUP BY 1, 2),
        |j AS (
        |  SELECT sa.label,
        |    SUM((sa.s / sa.n) * (sb.s / sb.n)) AS dot,
        |    SUM((sa.s / sa.n) * (sa.s / sa.n)) AS na,
        |    SUM((sb.s / sb.n) * (sb.s / sb.n)) AS nb
        |  FROM sa JOIN sb ON sa.label = sb.label AND sa.i = sb.i
        |  GROUP BY 1),
        |ca AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_a
        |       FROM embeddings
        |       WHERE vec_id % 2 = 0 AND embedding IS NOT NULL GROUP BY 1),
        |cb AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_b
        |       FROM embeddings
        |       WHERE vec_id % 2 = 1 AND embedding IS NOT NULL GROUP BY 1)
        |SELECT COALESCE(ca.label, cb.label) AS label,
        |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
        |  CASE WHEN na = 0 OR nb = 0 THEN NULL
        |    ELSE ROUND(dot / sqrt(na * nb), 4) END AS mean_cos
        |FROM ca FULL OUTER JOIN cb ON ca.label = cb.label
        |LEFT JOIN j ON j.label = COALESCE(ca.label, cb.label)""".stripMargin),
    // int8 scalar quantization of the embedding column (4x smaller ANN
    // storage): floor-based rounding is engine-exact, so the full code
    // array is md5-gated against the oracle
    ("emb_quantize",
      ((s, dir) => {
      val e = embs(s, dir)
      val q = Quantization.quantizeInt8(col("embedding"))
      e.select(col("vec_id"),
        round(Quantization.int8Scale(col("embedding")), 6).as("scale"),
        md5(concat_ws(",", transform(q, _.cast("string")))).as("q_md5"),
        aggregate(q, lit(0L), (a, x) => a + x.cast("long")).as("q_sum"))
    }),
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
        |      AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale,
        |    list_transform(v, x -> CAST(floor(
        |      CASE WHEN scale = 0 THEN 0.0 ELSE x / scale * 127 END + 0.5)
        |      AS INT)) AS qv
        |  FROM v)
        |SELECT vec_id, ROUND(scale, 6) AS scale,
        |  md5(array_to_string(qv, ',')) AS q_md5,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum
        |FROM q""".stripMargin),
    // product-quantization ANN (FAISS PQ shape): m=8 subspace codebooks
    // trained driver-side on a bounded sample, corpus stored as 8-byte
    // codes, ADC scoring via per-query literal LUTs — rows-only
    // (approximate by design; SimilaritySpec asserts recall vs brute
    // force and exact-reconstruction parity when codebooks are lossless)
    ("ann_pq_topk",
      ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val model = Quantization.trainPq(e, dim = 64, m = 8, k = 16,
        iters = 5, sampleSize = 1024)
      val q = e.filter(col("id") < 10).select(col("id").as("qid"), col("vec"))
      // aggregate recall floor vs brute force (8x16 codebooks on 64-dim
      // vectors are coarse by design; measured 24-42/100 across SFs)
      totalRecallGate(Quantization.pqTopK(q, e, model, k = 10),
        Similarity.bruteForceTopK(q, e, k = 10), q, minTotal = 10)
    }),
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  true AS recall_floor_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    // IVF-PQ composite ANN (FAISS IVFPQ shape): cell-pruned scan over
    // 8-byte PQ codes, ADC scoring — rows-only (approximate by design;
    // SimilaritySpec asserts nprobe=nlist bit-equality with pqTopK and
    // recall vs brute force)
    ("ann_ivfpq_topk",
      ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val model = Quantization.trainPq(e, dim = 64, m = 8, k = 16,
        iters = 5, sampleSize = 1024)
      val q = e.filter(col("id") < 10).select(col("id").as("qid"), col("vec"))
      // aggregate recall floor vs brute force (IVF pruning on top of the
      // coarse PQ codes; measured 31-42/100 across SFs)
      totalRecallGate(Quantization.ivfPqTopK(q, e, model, k = 10,
          nlist = 16, nprobe = 4),
        Similarity.bruteForceTopK(q, e, k = 10), q, minTotal = 10)
    }),
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  true AS recall_floor_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin),
    // Offline IVF RECENTROID — the index rebuild AnnIngest defers to:
    // two Lloyd iterations where assignment is the rounded-cosine/
    // lower-cell contract and the centroid update is an element-wise
    // mean over INTEGER-QUANTIZED coordinates (exact long sums — no
    // float summation-order nondeterminism), so the ENTIRE rebuild is
    // value-replayed by the oracle: per final cell, member count,
    // member-id sum, and two integer checksums of the final quantized
    // centroid.
    ("s3b_ann_recentroid",
      ((s, dir) => {
      import s.implicits._
      val e = embs(s, dir).na.drop(Seq("embedding"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val (assigned, q) = Similarity.recentroidQuantized(
        e, "id", "vec", nlist = 8, iters = 2)
      val checks = q.zipWithIndex.map { case (qs, cell) =>
        (cell, qs.sum,
          qs.zipWithIndex.map { case (v, p) => v * (p + 1) }.sum)
      }.toSeq.toDF("cell", "cq_sum", "cq_wsum")
      assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("id")).as("sum_ids"))
        .join(checks, Seq("cell"), "right")
        .na.fill(0L, Seq("n_vecs", "sum_ids"))
        .select(col("cell"), col("n_vecs"), col("sum_ids"),
          col("cq_sum"), col("cq_wsum"))
    }),
      // full value replay of both Lloyd iterations: assignment =
          // rounded-cosine argmax (ties to lower cell), update = floor(mean)
          // of round(x*1e4) integer coords, float-cast back — every step
          // order-free, so the engines agree exactly
      """WITH v AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |c0 AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT)
        |    AS cell, vec
        |  FROM (SELECT id, vec FROM v ORDER BY id LIMIT 8)),
        |a1 AS (
        |  SELECT id, vec, cell FROM (
        |    SELECT v.id, v.vec, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY v.id
        |        ORDER BY ROUND(list_cosine_similarity(v.vec, c.vec), 6)
        |          DESC, c.cell) AS rk
        |    FROM v CROSS JOIN c0 c) WHERE rk = 1),
        |q1 AS (
        |  SELECT cell, gs.i AS pos,
        |    CAST(FLOOR(CAST(SUM(CAST(ROUND(vec[gs.i] * 10000) AS BIGINT))
        |      AS DOUBLE) / COUNT(*)) AS BIGINT) AS mq
        |  FROM a1 CROSS JOIN generate_series(1, 64) gs(i)
        |  GROUP BY 1, 2),
        |c1u AS (
        |  SELECT cell,
        |    list(CAST(mq / 10000.0 AS FLOAT)::DOUBLE ORDER BY pos) AS vec
        |  FROM q1 GROUP BY cell),
        |c1 AS (
        |  SELECT c0.cell, COALESCE(c1u.vec, c0.vec) AS vec
        |  FROM c0 LEFT JOIN c1u USING (cell)),
        |a2 AS (
        |  SELECT id, vec, cell FROM (
        |    SELECT v.id, v.vec, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY v.id
        |        ORDER BY ROUND(list_cosine_similarity(v.vec, c.vec), 6)
        |          DESC, c.cell) AS rk
        |    FROM v CROSS JOIN c1 c) WHERE rk = 1),
        |q2 AS (
        |  SELECT cell, gs.i AS pos,
        |    CAST(FLOOR(CAST(SUM(CAST(ROUND(vec[gs.i] * 10000) AS BIGINT))
        |      AS DOUBLE) / COUNT(*)) AS BIGINT) AS mq
        |  FROM a2 CROSS JOIN generate_series(1, 64) gs(i)
        |  GROUP BY 1, 2),
        |c2u AS (
        |  SELECT cell,
        |    list(CAST(mq / 10000.0 AS FLOAT)::DOUBLE ORDER BY pos) AS vec
        |  FROM q2 GROUP BY cell),
        |c2 AS (
        |  SELECT c1.cell, COALESCE(c2u.vec, c1.vec) AS vec
        |  FROM c1 LEFT JOIN c2u USING (cell)),
        |alast AS (
        |  SELECT id, cell FROM (
        |    SELECT v.id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY v.id
        |        ORDER BY ROUND(list_cosine_similarity(v.vec, c.vec), 6)
        |          DESC, c.cell) AS rk
        |    FROM v CROSS JOIN c2 c) WHERE rk = 1),
        |agg AS (
        |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    CAST(SUM(id) AS BIGINT) AS sum_ids
        |  FROM alast GROUP BY cell),
        |chk AS (
        |  SELECT cell,
        |    CAST(SUM(CAST(ROUND(vec[gs.i] * 10000) AS BIGINT)) AS BIGINT)
        |      AS cq_sum,
        |    CAST(SUM(CAST(ROUND(vec[gs.i] * 10000) AS BIGINT) * gs.i)
        |      AS BIGINT) AS cq_wsum
        |  FROM c2 CROSS JOIN generate_series(1, 64) gs(i) GROUP BY cell)
        |SELECT c.cell, COALESCE(a.n_vecs, 0) AS n_vecs,
        |  COALESCE(a.sum_ids, 0) AS sum_ids, c.cq_sum, c.cq_wsum
        |FROM chk c LEFT JOIN agg a USING (cell)""".stripMargin),
    // prototypicality pruning (SSL-prototypes, Sorscher 2022): one
    // exact-integer Lloyd iteration fixes the prototypes, every vector
    // scores its rounded cosine to its OWN centroid, ranks within its
    // cell (two-phase range pass, never a per-cell hot window), and the
    // most-prototypical 2500 bp per cell are pruned — the oracle
    // replays the Lloyd iteration, the scoring, the rank, and the
    // floor-split verdict for every vector
    ("emb_prototypicality",
      ((s, dir) =>
      Similarity.prototypicality(
        embs(s, dir).na.drop(Seq("embedding"))
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nlist = 8, pruneBp = 2500)),
      """WITH v AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |c0 AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT)
        |    AS cell, vec
        |  FROM (SELECT id, vec FROM v ORDER BY id LIMIT 8)),
        |a1 AS (
        |  SELECT id, vec, cell FROM (
        |    SELECT v.id, v.vec, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY v.id
        |        ORDER BY ROUND(list_cosine_similarity(v.vec, c.vec), 6)
        |          DESC, c.cell) AS rk
        |    FROM v CROSS JOIN c0 c) WHERE rk = 1),
        |q1 AS (
        |  SELECT cell, gs.i AS pos,
        |    CAST(FLOOR(CAST(SUM(CAST(ROUND(vec[gs.i] * 10000) AS BIGINT))
        |      AS DOUBLE) / COUNT(*)) AS BIGINT) AS mq
        |  FROM a1 CROSS JOIN generate_series(1, 64) gs(i)
        |  GROUP BY 1, 2),
        |c1u AS (
        |  SELECT cell,
        |    list(CAST(mq / 10000.0 AS FLOAT)::DOUBLE ORDER BY pos) AS vec
        |  FROM q1 GROUP BY cell),
        |c1 AS (
        |  SELECT c0.cell, COALESCE(c1u.vec, c0.vec) AS vec
        |  FROM c0 LEFT JOIN c1u USING (cell)),
        |af AS (
        |  SELECT id, vec, cell FROM (
        |    SELECT v.id, v.vec, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY v.id
        |        ORDER BY ROUND(list_cosine_similarity(v.vec, c.vec), 6)
        |          DESC, c.cell) AS rk
        |    FROM v CROSS JOIN c1 c) WHERE rk = 1),
        |sc AS (
        |  SELECT af.id, af.cell,
        |    CAST(ROUND(ROUND(list_cosine_similarity(af.vec, c.vec), 6)
        |      * 1000000) AS BIGINT) AS micro
        |  FROM af JOIN c1 c ON af.cell = c.cell),
        |r AS (
        |  SELECT id, cell, micro,
        |    ROW_NUMBER() OVER (PARTITION BY cell
        |      ORDER BY micro DESC, id) AS rank,
        |    COUNT(*) OVER (PARTITION BY cell) AS total
        |  FROM sc)
        |SELECT id, cell, micro AS proto_cos_micro, rank,
        |  (rank - 1) * 10000 // total >= 2500 AS kept
        |FROM r""".stripMargin),
    // k-NN label-noise audit (Confident-Learning-lite): rows whose
    // nearest neighbors mostly carry a different label are suspected
    // mislabels; ranking-agnostic operator fed by the exact top-k here
    // (the celled ivfTopK is the 100 TB path) — the oracle replays the
    // ranking, both label joins, the plurality pick, and the verdict
    ("emb_label_noise",
      ((s, dir) => {
      val e = embs(s, dir).na.drop(Seq("embedding"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").cast("long").as("label"))
      val ranking = Similarity.bruteForceTopK(
        e.filter(col("id") < 10).select(col("id").as("qid"), col("vec")),
        e.select(col("id"), col("vec")), k = 10)
      Similarity.labelNoise(ranking, e.select(col("id"), col("label")),
        "id", "label", suspectBp = 5000)
    }),
      """WITH v AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
        |    CAST(label AS BIGINT) AS label
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |rk AS (
        |  SELECT qid, id FROM (
        |    SELECT q.id AS qid, c.id AS id,
        |      ROW_NUMBER() OVER (PARTITION BY q.id
        |        ORDER BY ROUND(list_cosine_similarity(q.vec, c.vec), 6)
        |          DESC, c.id) AS rank
        |    FROM v q, v c
        |    WHERE q.id < 10 AND q.id <> c.id)
        |  WHERE rank <= 10),
        |j AS (
        |  SELECT rk.qid, ql.label AS own_label, cl.label AS nb_label
        |  FROM rk JOIN v ql ON rk.qid = ql.id JOIN v cl ON rk.id = cl.id),
        |pl AS (
        |  SELECT qid, own_label, nb_label, COUNT(*) AS n_lab
        |  FROM j GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY n_lab DESC, nb_label) AS rk2
        |  FROM pl),
        |g AS (
        |  SELECT qid, own_label,
        |    CAST(SUM(n_lab) AS BIGINT) AS n_neighbors,
        |    CAST(SUM(CASE WHEN nb_label <> own_label THEN n_lab
        |      ELSE 0 END) AS BIGINT) AS n_disagree,
        |    MAX(CASE WHEN rk2 = 1 THEN nb_label END) AS plurality_label
        |  FROM r GROUP BY 1, 2)
        |SELECT qid, own_label, n_neighbors, n_disagree,
        |  CAST(n_disagree * 10000 // GREATEST(n_neighbors, 1) AS BIGINT)
        |    AS disagree_bp,
        |  plurality_label,
        |  (n_disagree * 10000 // GREATEST(n_neighbors, 1)) >= 5000
        |    AND plurality_label <> own_label AS suspect
        |FROM g""".stripMargin),
    // margin-based pair mining (the LASER/CCMatrix bitext recipe): the
    // label-parity halves of the embeddings table play the two
    // "languages"; a pair's score is its cosine over the mean of both
    // endpoints' top-4 neighborhoods, which discounts hubs. Integer-sum
    // neighborhood averages + rounded margins make the mining replay
    // exactly in SQL.
    ("emb_margin_mining",
      ((s, dir) => {
        val e = embs(s, dir)
        Similarity.marginMining(
          e.filter(col("label") % 2 === 0)
            .select(col("vec_id").as("xid"), col("embedding").as("vec")),
          e.filter(col("label") % 2 === 1)
            .select(col("vec_id").as("yid"), col("embedding").as("vec")),
          k = 4, minMargin = 1.02)
      }),
      marginMiningOracle),
    // the IVF-celled margin-mining scale path, driven at nprobe=nlist
    // where the cell routing is PROVABLY lossless (every pair is a
    // candidate) — so the oracle is the very same all-pairs SQL, and
    // the gate proves the cell-assign/probe/join machinery changes
    // nothing. The pruned form's recall is spec-gated on planted
    // clusters (ConversationsSpec).
    ("emb_margin_mining_ivf",
      ((s, dir) => {
        val e = embs(s, dir)
        Similarity.marginMiningIvf(
          e.filter(col("label") % 2 === 0)
            .select(col("vec_id").as("xid"), col("embedding").as("vec")),
          e.filter(col("label") % 2 === 1)
            .select(col("vec_id").as("yid"), col("embedding").as("vec")),
          k = 4, minMargin = 1.02, nlist = 8, nprobe = 8)
      }),
      marginMiningOracle),
    // the BOTH-SIDES-HUGE margin-mining form: same cell routing, but
    // the candidate join shuffles on the cell key instead of
    // broadcasting the probed side — no vector set need fit anywhere.
    // Driven at nprobe=nlist (lossless), so the same all-pairs SQL is
    // again the exact oracle; PlanShapeSpec pins the no-broadcast
    // plan shape.
    ("emb_margin_mining_cells",
      ((s, dir) => {
        val e = embs(s, dir)
        Similarity.marginMiningCells(
          e.filter(col("label") % 2 === 0)
            .select(col("vec_id").as("xid"), col("embedding").as("vec")),
          e.filter(col("label") % 2 === 1)
            .select(col("vec_id").as("yid"), col("embedding").as("vec")),
          k = 4, minMargin = 1.02, nlist = 8, nprobe = 8)
      }),
      marginMiningOracle),
    // redundant (multi-cell) assignment — the recall remedy for weak
    // clusters: each y indexed in its 2 nearest cells, so a pair can
    // meet in SEVERAL cells and the exact pair collapse must hold for
    // the mining to stay correct. Driven at nprobe=nlist where the
    // result must STILL equal all-pairs — the same oracle therefore
    // gates precisely the dedup-exactness of the redundant path.
    ("emb_margin_mining_redundant",
      ((s, dir) => {
        val e = embs(s, dir)
        Similarity.marginMiningIvf(
          e.filter(col("label") % 2 === 0)
            .select(col("vec_id").as("xid"), col("embedding").as("vec")),
          e.filter(col("label") % 2 === 1)
            .select(col("vec_id").as("yid"), col("embedding").as("vec")),
          k = 4, minMargin = 1.02, nlist = 8, nprobe = 8,
          redundancy = 2)
      }),
      marginMiningOracle),
    // word-embedding training (skip-gram Word2Vec) with planted
    // co-occurrence structure: each doc gets a marker-token pair
    // qqa<k>/qqb<k> (k = doc_id % 8) appended twice — tokens that only
    // ever co-occur with their partner. After training, each qqa<k>'s
    // nearest qqb* must be its own partner; the per-anchor decisions
    // plus the SQL-replayable vocab counts are the gate, with a floor
    // wide enough that seed-stable training jitter cannot flip it.
    ("td_word2vec",
      ((s, dir) => w2vPairGate(s, dir, numPartitions = 1)),
      """SELECT CAST(COUNT(DISTINCT doc_id % 8) AS BIGINT) AS n_anchors,
        |  TRUE AS pairs_recovered_ok
        |FROM documents""".stripMargin),
    // the SCALE form of the same gate: numPartitions=4 concurrent
    // gradient partitions merged per iteration (Spark's Hogwild-style
    // parallelism) — exact vectors are scheduling-dependent, so the
    // output is the same PROPERTY decision, whose >=6-of-8 floor
    // carries a 2-pair margin that training jitter has never
    // approached (15/15 runs at sf0.001/0.01/0.1 recovered 8/8, a
    // dated measurement; RandomizedInvariantsSpec pins the floor)
    ("td_word2vec_dist",
      ((s, dir) => w2vPairGate(s, dir, numPartitions = 4)),
      """SELECT CAST(COUNT(DISTINCT doc_id % 8) AS BIGINT) AS n_anchors,
        |  TRUE AS pairs_recovered_ok
        |FROM documents""".stripMargin),
    // document clustering (hashed bag-of-words + the DataFrame-native
    // k-means already backing IVF): planted topic markers (doc_id % 4,
    // repeated so they dominate the TF vector) must be recovered as
    // cluster structure — per-topic majority-cell purity over a floor
    // with margin. Counts are SQL-replayable; the purity decision is
    // the measured property (no SQL engine replays k-means).
    ("td_doc_clusters",
      ((s, dir) => {
      val d = docs(s, dir)
      val t = pmod(col("doc_id"), lit(4))
      val marker = concat(lit(" tpx"), t, lit("a tpx"), t,
        lit("b tpx"), t, lit("c"))
      val rep = (1 to 8).map(_ => marker).reduce(concat(_, _))
      val spiked = d.select(col("doc_id"),
        concat(col("text"), rep).as("text"))
      val toks = spiked.select(col("doc_id"),
        TextFunctions.words(col("text")).as("toks"))
      val tf = new org.apache.spark.ml.feature.HashingTF()
        .setInputCol("toks").setOutputCol("f").setNumFeatures(128)
      import s.implicits._
      val feats = tf.transform(toks)
        .select(col("doc_id"), col("f"))
        .map(r => (r.getLong(0),
          r.getAs[org.apache.spark.ml.linalg.Vector](1)
            .toArray.map(_.toFloat).toSeq))
        .toDF("id", "vec")
      val cents = Similarity.trainCentroids(feats, nlist = 4, iters = 3)
      val assigned = feats.select(col("id"),
        Similarity.cellOf(col("vec"), cents).as("cell"))
        .withColumn("topic", pmod(col("id"), lit(4)))
      val perTopic = assigned.groupBy(col("topic"), col("cell"))
        .agg(count(lit(1)).as("n"))
      val majority = perTopic.groupBy(col("topic"))
        .agg(max(col("n")).as("m"), sum(col("n")).as("tot"))
      val agg = majority.agg(sum(col("m")).as("maj"),
        sum(col("tot")).as("tot")).head()
      val purity = agg.getLong(0).toDouble / agg.getLong(1)
      s.range(1).select(lit(agg.getLong(1)).as("n_docs"),
        lit(purity >= 0.9).as("purity_ok"))
    }),
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS purity_ok
        |FROM documents""".stripMargin))

  /** Shared body of the two word2vec gates: plant qqa<k>/qqb<k> marker
    * pairs (k = doc_id % 8) that only ever co-occur with each other,
    * train skip-gram at the given parallelism, and decide whether each
    * anchor's nearest partner is its own pair (>= 6 of 8 floor). */
  private def w2vPairGate(s: org.apache.spark.sql.SparkSession,
                          dir: String, numPartitions: Int)
      : org.apache.spark.sql.DataFrame = {
    import graft.operators.TextEmbeddings
    val d = docs(s, dir)
    val k = pmod(col("doc_id"), lit(8))
    val pair = concat(lit(" qqa"), k, lit(" qqb"), k)
    val spiked = d.select(col("doc_id"),
      concat(col("text"), pair, pair).as("text"))
    val toks = spiked.select(col("doc_id"),
      TextFunctions.words(col("text")).as("toks"))
    val model = TextEmbeddings.trainWord2Vec(toks, "toks",
      numPartitions = numPartitions)
    val vecs = TextEmbeddings.vectors(model)
      .filter(col("word").startsWith("qqa") ||
        col("word").startsWith("qqb"))
    val a = vecs.filter(col("word").startsWith("qqa"))
      .select(substring(col("word"), 4, 2).cast("int").as("ka"),
        col("vector").as("va"))
    val b = vecs.filter(col("word").startsWith("qqb"))
      .select(substring(col("word"), 4, 2).cast("int").as("kb"),
        col("vector").as("vb"))
    val cos = graft.functions.expressions.VectorKernels.cosine_sim(
      col("va").cast("array<float>"), col("vb").cast("array<float>"))
    val scored = a.crossJoin(b).select(col("ka"), col("kb"), cos.as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ka")).orderBy(col("c").desc, col("kb"))
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val nCorrect = best.filter(col("ka") === col("kb")).count()
    s.range(1).select(
      lit(a.count()).as("n_anchors"),
      lit(nCorrect >= 6L).as("pairs_recovered_ok"))
  }
}
