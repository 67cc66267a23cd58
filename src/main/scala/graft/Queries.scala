package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.DriverEventsAdapter

/** The operator-level query registry behind [[SparkEntry]].
  *
  * Every entry is (a) a Spark implementation exercising one operator from
  * SURVEY §2 on the driver's testdata, and (b) where SQL-expressible, a
  * DuckDB oracle in [[oracles]] computing the same result (column names
  * aligned — the driver hash-compares after sorting columns by name).
  *
  * Determinism rules used throughout:
  *  - double aggregates rounded (sums to 2 dp, avgs to 4 dp) on BOTH sides
  *    so engine-order FP drift can't flip the hash;
  *  - timestamps surfaced as DATE or epoch seconds, never raw ns;
  *  - every query output is content-deterministic (no limits w/o order).
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private def li(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def tbl(s: SparkSession, dir: String, name: String) =
    s.read.parquet(s"$dir/$name.parquet")
  private def env(s: SparkSession, dir: String) =
    DriverEventsAdapter.load(s, dir)

  // ---- relational / bench block (SURVEY §2.6/§2.7 "free via Spark SQL") --

  // (relational is derived from relationalGated, declared after the oracle helper CTEs below)

  /** One row per gate: (name, query, oracle SQL) — a gate reads as
    * ONE unit (the twin-map layout, query here / oracle hundreds of
    * lines below, was a recurring editing hazard). Helper CTE vals
    * stay declared above so object-init order is safe. */
  val relationalGated: Seq[(String, Q, String)] = Seq(
    ("q1_agg",
      ((s, dir) => li(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))),
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  ROUND(AVG(l_discount), 4) AS avg_disc,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    // G1: fixed-iteration PageRank over the customer–supplier purchase
    // graph (distinct (custkey, suppkey) pairs via orders ⋈ lineitem,
    // undirected) — 3 rounds of declarative Pregel; the oracle unrolls
    // the same 3 rounds as chained CTEs with identical IEEE arithmetic
    ("g1_pagerank",
      ((s, dir) => {
      val e = tbl(s, dir, "orders")
        .join(li(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      graft.operators.Graph.pageRank(e, iterations = 3)
        .select(col("v"), round(col("r"), 6).as("rank"))
    }),
      """WITH e AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src,
        |    's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |dir AS (
        |  SELECT src, dst FROM e
        |  UNION ALL SELECT dst AS src, src AS dst FROM e),
        |deg AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
        |p0 AS (SELECT src AS v, 1.0::DOUBLE AS r FROM deg),
        |p1 AS (
        |  SELECT dir.dst AS v, 0.15 + 0.85 * SUM(p0.r / deg.deg) AS r
        |  FROM dir JOIN p0 ON dir.src = p0.v JOIN deg ON dir.src = deg.src
        |  GROUP BY dir.dst),
        |p2 AS (
        |  SELECT dir.dst AS v, 0.15 + 0.85 * SUM(p1.r / deg.deg) AS r
        |  FROM dir JOIN p1 ON dir.src = p1.v JOIN deg ON dir.src = deg.src
        |  GROUP BY dir.dst),
        |p3 AS (
        |  SELECT dir.dst AS v, 0.15 + 0.85 * SUM(p2.r / deg.deg) AS r
        |  FROM dir JOIN p2 ON dir.src = p2.v JOIN deg ON dir.src = deg.src
        |  GROUP BY dir.dst)
        |SELECT v, ROUND(r, 6) AS rank FROM p3""".stripMargin),
    // G15: WEIGHTED PageRank over the same customer–supplier graph
    // with edge weight = number of distinct linking orders — the
    // multiplicity g1's distinct() deliberately drops; integer
    // out-mass keeps the denominators exact, the oracle unrolls the
    // same 3 damped rounds
    ("g15_wpagerank",
      ((s, dir) => {
      val e = tbl(s, dir, "orders")
        .join(li(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"),
          col("o_orderkey"))
        .groupBy(col("src"), col("dst"))
        .agg(countDistinct(col("o_orderkey")).as("w"))
      graft.operators.Graph.pageRankWeighted(e, iterations = 3)
        .select(col("v"), round(col("r"), 6).as("rank"))
    }),
      """WITH e AS (
        |  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |dir AS (
        |  SELECT src, dst, w FROM e
        |  UNION ALL SELECT dst AS src, src AS dst, w FROM e),
        |wo AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout
        |       FROM dir GROUP BY src),
        |p0 AS (SELECT src AS v, 1.0::DOUBLE AS r FROM wo),
        |p1 AS (
        |  SELECT dir.dst AS v,
        |    0.15 + 0.85 * SUM(p0.r * dir.w / wo.wout) AS r
        |  FROM dir JOIN p0 ON dir.src = p0.v JOIN wo ON dir.src = wo.src
        |  GROUP BY dir.dst),
        |p2 AS (
        |  SELECT dir.dst AS v,
        |    0.15 + 0.85 * SUM(p1.r * dir.w / wo.wout) AS r
        |  FROM dir JOIN p1 ON dir.src = p1.v JOIN wo ON dir.src = wo.src
        |  GROUP BY dir.dst),
        |p3 AS (
        |  SELECT dir.dst AS v,
        |    0.15 + 0.85 * SUM(p2.r * dir.w / wo.wout) AS r
        |  FROM dir JOIN p2 ON dir.src = p2.v JOIN wo ON dir.src = wo.src
        |  GROUP BY dir.dst)
        |SELECT v, ROUND(r, 6) AS rank FROM p3""".stripMargin),
    // G2: per-node triangle counts over the part co-purchase graph of a
    // 10% order sample (parts sharing an order = an edge; each order's
    // item set is a clique, so triangles exist at every SF). Spark side
    // orients edges by the (deg, id) total order — the skew-proof
    // m^{3/2} wedge bound; the oracle orients by plain id (a<b<c),
    // which finds the SAME triangle set, so per-node counts match
    // exactly while the implementations stay independent.
    // community detection: synchronous label propagation, 3 fixed
    // rounds, (count desc, label asc) tie-break — deterministic, so the
    // oracle replays all three rounds as unrolled SQL (the g1_pagerank
    // precedent). Communities = dense co-purchase regions, vs
    // connected components which would merge across bridge edges.
    ("g5_communities",
      ((s, dir) => {
      val items = li(s, dir).filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
        .distinct()
      graft.operators.Graph.labelPropagation(e, rounds = 3)
    }),
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |e AS (
        |  SELECT DISTINCT x.p AS src, y.p AS dst
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.p < y.p),
        |ed AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM ed),
        |c1 AS (SELECT ed.src, l.lbl, COUNT(*) AS n
        |       FROM ed JOIN l0 l ON l.v = ed.dst GROUP BY 1, 2),
        |l1 AS (SELECT src AS v, lbl FROM (
        |  SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
        |    ORDER BY n DESC, lbl) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT ed.src, l.lbl, COUNT(*) AS n
        |       FROM ed JOIN l1 l ON l.v = ed.dst GROUP BY 1, 2),
        |l2 AS (SELECT src AS v, lbl FROM (
        |  SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
        |    ORDER BY n DESC, lbl) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT ed.src, l.lbl, COUNT(*) AS n
        |       FROM ed JOIN l2 l ON l.v = ed.dst GROUP BY 1, 2),
        |l3 AS (SELECT src AS v, lbl FROM (
        |  SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src
        |    ORDER BY n DESC, lbl) AS rn FROM c3) WHERE rn = 1)
        |SELECT v, lbl AS community FROM l3""".stripMargin),
    ("g2_triangles",
      ((s, dir) => {
      val items = li(s, dir).filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
        .distinct()
      graft.operators.Graph.triangleCounts(e)
    }),
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |e AS (
        |  SELECT DISTINCT x.p AS src, y.p AS dst
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.p < y.p),
        |t AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.src = e1.dst
        |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
        |SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM (SELECT a AS v FROM t
        |      UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t)
        |GROUP BY v""".stripMargin),
    // G11: per-node local clustering coefficient over the same
    // co-purchase graph as g2 — triangles over wedge capacity in exact
    // micros; zero-triangle nodes emit 0, degree-1 nodes NULL
    ("g11_clustering",
      ((s, dir) => {
      val items = li(s, dir).filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
        .distinct()
      graft.operators.Graph.clusteringCoefficient(e)
    }),
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |e AS (
        |  SELECT DISTINCT x.p AS src, y.p AS dst
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.p < y.p),
        |dir AS (
        |  SELECT src, dst FROM e
        |  UNION ALL SELECT dst AS src, src AS dst FROM e),
        |deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM dir GROUP BY 1),
        |t AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.src = e1.dst
        |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |tc AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT a AS v FROM t
        |        UNION ALL SELECT b FROM t
        |        UNION ALL SELECT c FROM t)
        |  GROUP BY v)
        |SELECT deg.v, deg.deg,
        |  CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN deg.deg >= 2 THEN
        |    CAST(2 * COALESCE(tc.n_triangles, 0) * 1000000
        |      // (deg.deg * (deg.deg - 1)) AS BIGINT) END AS coeff_micro
        |FROM deg LEFT JOIN tc ON deg.v = tc.v""".stripMargin),
    // G14: two-hop reach / radius-2 harmonic centrality over the same
    // graph — direct neighbors at weight 1, exactly-distance-2 nodes
    // at weight 1/2, exact micros (no transcendental)
    ("g14_reach",
      ((s, dir) => {
      val items = li(s, dir).filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
        .distinct()
      graft.operators.Graph.twoHopReach(e)
    }),
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |e AS (
        |  SELECT DISTINCT x.p AS src, y.p AS dst
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.p < y.p),
        |dir AS (
        |  SELECT src, dst FROM e
        |  UNION ALL SELECT dst AS src, src AS dst FROM e),
        |n1 AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS n1
        |       FROM dir GROUP BY 1),
        |h2 AS (
        |  SELECT DISTINCT e1.src AS v, e2.dst AS u
        |  FROM dir e1 JOIN dir e2 ON e1.dst = e2.src
        |  WHERE e1.src <> e2.dst),
        |h2x AS (
        |  SELECT h2.v, h2.u FROM h2
        |  LEFT JOIN dir ON dir.src = h2.v AND dir.dst = h2.u
        |  WHERE dir.src IS NULL),
        |n2 AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n2
        |       FROM h2x GROUP BY 1)
        |SELECT n1.v, n1.n1, CAST(COALESCE(n2.n2, 0) AS BIGINT) AS n2,
        |  CAST(n1.n1 * 1000000 + COALESCE(n2.n2, 0) * 500000
        |    AS BIGINT) AS h2_micro
        |FROM n1 LEFT JOIN n2 ON n1.v = n2.v""".stripMargin),
    // G13: bounded 2-core peel over the same graph — three unrolled
    // peel rounds (fixed budget, oracle-replayable) with the fixpoint
    // reported; survivors are the dense backbone every member of
    // which keeps >= 2 in-core neighbors
    ("g13_kcore",
      ((s, dir) => {
      val items = li(s, dir).filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
        .distinct()
      graft.operators.Graph.kCorePeel(e, k = 2, rounds = 3)
    }),
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |e AS (
        |  SELECT DISTINCT x.p AS src, y.p AS dst
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.p < y.p),
        |d0 AS (
        |  SELECT src, dst FROM e
        |  UNION ALL SELECT dst AS src, src AS dst FROM e),
        |k1 AS (SELECT src FROM d0 GROUP BY src HAVING COUNT(*) >= 2),
        |d1 AS (
        |  SELECT d0.src, d0.dst FROM d0
        |  JOIN k1 a ON d0.src = a.src JOIN k1 b ON d0.dst = b.src),
        |k2 AS (SELECT src FROM d1 GROUP BY src HAVING COUNT(*) >= 2),
        |d2 AS (
        |  SELECT d1.src, d1.dst FROM d1
        |  JOIN k2 a ON d1.src = a.src JOIN k2 b ON d1.dst = b.src),
        |k3 AS (SELECT src FROM d2 GROUP BY src HAVING COUNT(*) >= 2),
        |d3 AS (
        |  SELECT d2.src, d2.dst FROM d2
        |  JOIN k3 a ON d2.src = a.src JOIN k3 b ON d2.dst = b.src),
        |conv AS (
        |  SELECT (SELECT COUNT(*) FROM d3)
        |    = (SELECT COUNT(*) FROM d2) AS converged)
        |SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS core_deg,
        |  conv.converged
        |FROM d3 CROSS JOIN conv
        |GROUP BY 1, conv.converged""".stripMargin),
    // G3: item-item co-purchase similarity — Jaccard over order sets
    // for part pairs with support ≥ 2, via the inverted-index self-join
    // (pair generation bounded by basket size, support filter before
    // the dimension joins)
    ("g3_copurchase_sim",
      ((s, dir) =>
      Cooccurrence.jaccardPairs(
        li(s, dir).select(col("l_orderkey").as("g"),
          col("l_partkey").as("i")),
        "g", "i", minCo = 2L)),
      """WITH po AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |cnt AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM po GROUP BY 1),
        |p AS (
        |  SELECT x.i AS item1, y.i AS item2,
        |    CAST(COUNT(*) AS BIGINT) AS co
        |  FROM po x JOIN po y ON x.g = y.g AND x.i < y.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT item1, item2, c1.n AS n1, c2.n AS n2, co,
        |  ROUND(CAST(co AS DOUBLE) / (c1.n + c2.n - co), 6) AS jaccard
        |FROM p JOIN cnt c1 ON c1.i = item1
        |JOIN cnt c2 ON c2.i = item2""".stripMargin),
    ("q3_join_topk",
      ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val customer = tbl(s, dir, "customer")
      li(s, dir)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    ("q5_multi_join",
      ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val customer = tbl(s, dir, "customer")
      val supplier = tbl(s, dir, "supplier")
      val nation = tbl(s, dir, "nation")
      val region = tbl(s, dir, "region")
      li(s, dir)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin),
    ("window_rank",
      ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey")).orderBy(
        col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      li(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), round(col("l_extendedprice"), 2).as("price"))
    }),
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, price FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    ROUND(l_extendedprice, 2) AS price,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t WHERE rn <= 3""".stripMargin),
    // navigation window battery — lead/lag/ntile/cume_dist over one
    // per-supplier sort (all four ride the same Window spec = one
    // shuffle + sort; the plan-shape floor for ordered-neighbor logic)
    ("window_nav",
      ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey")).orderBy(
        col("l_orderkey"), col("l_linenumber"))
      li(s, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          lag(col("l_orderkey"), 1).over(w).as("prev_order"),
          lead(col("l_orderkey"), 1).over(w).as("next_order"),
          ntile(4).over(w).as("quartile"),
          round(cume_dist().over(w), 6).as("cume"))
        .filter(col("l_suppkey") % 10 === 0)
    }),
      """SELECT * FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    LAG(l_orderkey, 1) OVER w AS prev_order,
        |    LEAD(l_orderkey, 1) OVER w AS next_order,
        |    CAST(NTILE(4) OVER w AS INT) AS quartile,
        |    ROUND(CUME_DIST() OVER w, 6) AS cume
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey
        |    ORDER BY l_orderkey, l_linenumber)) t
        |WHERE l_suppkey % 10 = 0""".stripMargin),
    // Z-order curve key (OPTIMIZE ZORDER family): all-engine-exact
    // floor-normalized bit interleave, so the layout decision itself
    // is oracle-checkable; clusterBy's physical rewrite rides this key
    ("zorder_key",
      ((s, dir) => {
      import graft.operators.ZOrder
      val l = li(s, dir)
      val r = l.agg(min(col("l_orderkey")), max(col("l_orderkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head()
      l.filter(pmod(col("l_orderkey"), lit(100)) === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          ZOrder.zValue16(col("l_orderkey"), r.getLong(0), r.getLong(1),
            col("l_suppkey"), r.getLong(2), r.getLong(3)).as("z"))
    }),
      {
      val terms = (0 until 16).map { i =>
        s"((((na >> $i) & 1) << ${2 * i}) | (((nb >> $i) & 1) << ${2 * i + 1}))"
      }.mkString(" | ")
      s"""WITH b AS (
         |  SELECT MIN(l_orderkey) AS mno, MAX(l_orderkey) AS mxo,
         |    MIN(l_suppkey) AS mns, MAX(l_suppkey) AS mxs
         |  FROM lineitem),
         |n AS (
         |  SELECT l_orderkey, l_linenumber, l_suppkey,
         |    CAST(FLOOR((l_orderkey - mno) * 65535.0 / (mxo - mno))
         |      AS BIGINT) AS na,
         |    CAST(FLOOR((l_suppkey - mns) * 65535.0 / (mxs - mns))
         |      AS BIGINT) AS nb
         |  FROM lineitem, b WHERE l_orderkey % 100 = 0)
         |SELECT l_orderkey, l_linenumber, l_suppkey,
         |  ($terms) AS z
         |FROM n""".stripMargin
    }),
    // stats-based data skipping over the z-order layout (the ANALYZE +
    // min/max file-pruning pair): per-bucket stats collected in one
    // pass, the candidate-bucket decision for a 2-column box predicate,
    // and the pruned scan — which the oracle proves row-identical to
    // the PLAIN filter (pruning exactness), alongside the bucket
    // counts (pruning effectiveness, engine-exact).
    ("l5_stats_skipping",
      ((s, dir) => {
      import graft.operators.{StatsSkipping, ZOrder}
      val l = li(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
      val r = l.agg(min(col("l_orderkey")), max(col("l_orderkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head()
      val (mno, mxo, mns, mxs) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val bucketed = l.withColumn("bucket",
        shiftright(ZOrder.zValue16(col("l_orderkey"), mno, mxo,
          col("l_suppkey"), mns, mxs), 26))
      // stats live driver-side (table-metadata analogue): one pass,
      // then a LocalRelation feeds both the decision and the semi join
      val statsDf = StatsSkipping.collect(bucketed, "bucket",
        Seq("l_orderkey", "l_suppkey"))
      val stats = s.createDataFrame(
        java.util.Arrays.asList(statsDf.collect(): _*), statsDf.schema)
      val ranges = Seq(
        ("l_orderkey", mno + (mxo - mno) / 4, mno + (mxo - mno) / 2),
        ("l_suppkey", mns + (mxs - mns) / 4, mns + (mxs - mns) / 2))
      val cand = StatsSkipping.candidateBuckets(stats, ranges)
        .agg(count(lit(1)).as("n_candidate_buckets"),
          sum(col("n_rows")).as("n_rows_scanned"))
      val tot = stats.agg(count(lit(1)).as("n_total_buckets"))
      val matched = StatsSkipping
        .prunedScan(bucketed, stats, "bucket", ranges)
        .agg(count(lit(1)).as("n_rows_matched"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
      tot.crossJoin(cand).crossJoin(matched)
    }),
      {
      val terms = (0 until 16).map { i =>
        s"((((na >> $i) & 1) << ${2 * i}) | (((nb >> $i) & 1) << ${2 * i + 1}))"
      }.mkString(" | ")
      s"""WITH b AS (
         |  SELECT MIN(l_orderkey) AS mno, MAX(l_orderkey) AS mxo,
         |    MIN(l_suppkey) AS mns, MAX(l_suppkey) AS mxs
         |  FROM lineitem),
         |n AS (
         |  SELECT l_orderkey, l_suppkey, l_extendedprice,
         |    CAST(FLOOR((l_orderkey - mno) * 65535.0 / (mxo - mno))
         |      AS BIGINT) AS na,
         |    CAST(FLOOR((l_suppkey - mns) * 65535.0 / (mxs - mns))
         |      AS BIGINT) AS nb
         |  FROM lineitem, b),
         |z AS (
         |  SELECT l_orderkey, l_suppkey, l_extendedprice,
         |    ($terms) >> 26 AS bucket
         |  FROM n),
         |st AS (
         |  SELECT bucket, COUNT(*) AS n_rows,
         |    MIN(l_orderkey) AS omin, MAX(l_orderkey) AS omax,
         |    MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
         |  FROM z GROUP BY 1),
         |r AS (
         |  SELECT mno + (mxo - mno) // 4 AS lo1, mno + (mxo - mno) // 2 AS hi1,
         |    mns + (mxs - mns) // 4 AS lo2, mns + (mxs - mns) // 2 AS hi2
         |  FROM b),
         |cand AS (
         |  SELECT st.* FROM st, r
         |  WHERE omax >= lo1 AND omin <= hi1
         |    AND smax >= lo2 AND smin <= hi2),
         |m AS (
         |  SELECT COUNT(*) AS nm, ROUND(SUM(l_extendedprice), 2) AS sp
         |  FROM z, r
         |  WHERE l_orderkey BETWEEN lo1 AND hi1
         |    AND l_suppkey BETWEEN lo2 AND hi2)
         |SELECT
         |  CAST((SELECT COUNT(*) FROM st) AS BIGINT) AS n_total_buckets,
         |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT)
         |    AS n_candidate_buckets,
         |  CAST((SELECT SUM(n_rows) FROM cand) AS BIGINT) AS n_rows_scanned,
         |  CAST(nm AS BIGINT) AS n_rows_matched,
         |  sp AS sum_price
         |FROM m""".stripMargin
    }),
    // explicit bloom runtime filter: non-matching lineitem rows die
    // map-side against a driver-built bloom before the exchange; the
    // follow-up exact semi join makes the result identical to a plain
    // semi join (the oracle), so the bloom is pure pruning.
    ("q6_bloom_semi",
      ((s, dir) => {
      val hot = tbl(s, dir, "orders").filter(col("o_totalprice") > 400000)
      graft.operators.BloomPrune.semiJoin(
          li(s, dir), "l_orderkey", hot, "o_orderkey",
          expectedItems = 100000L, numBits = 1L << 20)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    }),
      """SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY 1""".stripMargin),
    ("semi_anti_join",
      ((s, dir) => {
      val orders = tbl(s, dir, "orders").filter(col("o_totalprice") > 100000)
      tbl(s, dir, "customer")
        .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000)""".stripMargin))

  val relational: Map[String, Q] =
    relationalGated.map(g => (g._1, g._2)).toMap

  val relationalOracles: Map[String, String] =
    relationalGated.map(g => (g._1, g._3)).toMap

  // ---- event-pipeline block (SURVEY §2.3/§2.4/§2.5/§2.6) ----------------

  /** DuckDB fragment reproducing DriverEventsAdapter's derived columns. */
  private val adapterCte =
    """WITH env AS (
      |  SELECT
      |    'm' || event_id AS message_id,
      |    CASE WHEN event_type = 'signup' THEN 'identify'
      |         WHEN event_type = 'view' THEN 'page'
      |         ELSE 'track' END AS type,
      |    event_type AS event,
      |    CAST(ts AS TIMESTAMP) AS timestamp,
      |    'a' || user_id AS anonymous_id,
      |    CASE WHEN event_type IN ('signup','purchase')
      |         THEN 'u' || user_id END AS user_id,
      |    'wk' || (user_id % 3) AS write_key,
      |    'c' || (event_id % 4) AS connection_id,
      |    user_id AS raw_user_id,
      |    event_id AS raw_event_id,
      |    value, props
      |  FROM events)
      |""".stripMargin

  // (pipeline is derived from pipelineGated, declared after the oracle helper CTEs below)

  /** One row per gate: (name, query, oracle SQL) — a gate reads as
    * ONE unit (the twin-map layout, query here / oracle hundreds of
    * lines below, was a recurring editing hazard). Helper CTE vals
    * stay declared above so object-init order is safe. */
  /** J1d/J1e shared fixture: the reference's OWN user-recognition test
    * (user-recognition.test.ts) replayed end-to-end — three anonymous
    * page events arrive in batch 0 and must EMIT UNCHANGED immediately
    * (the reference's `return event` after addEvent); the identify in
    * batch 1 re-emits all three with BOTH identifier fields merged
    * (userId + the context.traits object — lodash merge via dotted
    * setPath); a second identify in batch 2 finds an empty buffer and
    * emits only itself. All nine expected emissions are value-pinned.
    * `rocksdb`: run the state on the RocksDB provider (the one
    * production streams use) instead of the default HDFS-backed one. */
  private def urGoldenRun(s: SparkSession, rocksdb: Boolean): DataFrame = {
    val in = Files.createTempDirectory("ur-gold-in").toString
    val traits = """{\"email\":\"test@example.com\",\"name\":\"Test User\"}"""
    def page(id: String, ts: String, ident: Boolean) =
      s"""{"message_id":"$id","type":"page","anonymous_id":"anon1",""" +
        (if (ident) s""""user_id":"user1","context":{"traits":"$traits"},"""
         else "") +
        s""""timestamp":"$ts"}"""
    def stage(name: String, mtime: Long, lines: Seq[String]): Unit = {
      val f = new java.io.File(in, name)
      Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
      f.setLastModified(mtime); ()
    }
    stage("b0.txt", 1700000000000L, Seq(
      page("1", "2024-01-01T10:00:00Z", ident = false),
      page("2", "2024-01-01T10:01:00Z", ident = false),
      page("3", "2024-01-01T10:02:00Z", ident = false)))
    stage("b1.txt", 1700000060000L,
      Seq(page("4", "2024-01-01T10:03:00Z", ident = true)))
    stage("b2.txt", 1700000120000L,
      Seq(page("5", "2024-01-01T10:04:00Z", ident = true)))
    // tiny fixture stream: shard state to the workload, not the
    // session width (the statePartitions rule)
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    if (rocksdb)
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    val raw = s2.readStream.format("text")
      .option("maxFilesPerTrigger", "1").load(in)
    val envStream = raw
      .select(from_json(col("value").cast("string"),
        graft.schema.EventSchema.envelope).as("e"))
      .select("e.*")
    val resolved = UserRecognition.streamingResolveConfigured(envStream,
      UserRecognition.URConfig(
        identifierFields = Seq("user_id", "context.traits"),
        jsonObjectFields = Set("context.traits")))
    val out = Files.createTempDirectory("ur-gold-out").toString
    val cp = Files.createTempDirectory("ur-gold-cp").toString
    val q = resolved.toDF("payload").writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    try q.awaitTermination() finally q.stop()
    s.read.parquet(out).select(
      get_json_object(col("payload"), "$.message_id").as("message_id"),
      get_json_object(col("payload"), "$.user_id").as("user_id"),
      get_json_object(get_json_object(col("payload"), "$.context.traits"),
        "$.email").as("email"),
      get_json_object(get_json_object(col("payload"), "$.context.traits"),
        "$.name").as("name"))
  }

  private val urGoldenOracle =
    """SELECT * FROM (VALUES
      |  ('1', NULL, NULL, NULL),
      |  ('2', NULL, NULL, NULL),
      |  ('3', NULL, NULL, NULL),
      |  ('1', 'user1', 'test@example.com', 'Test User'),
      |  ('2', 'user1', 'test@example.com', 'Test User'),
      |  ('3', 'user1', 'test@example.com', 'Test User'),
      |  ('4', 'user1', 'test@example.com', 'Test User'),
      |  ('5', 'user1', 'test@example.com', 'Test User')
      |) t(message_id, user_id, email, name)""".stripMargin

  /** The J1 user-recognition oracle — shared verbatim by the
    * single-window (`j1_user_recognition`) and bucketed
    * (`j1g_ur_bucketed`) batch forms, which must be row-identical. */
  private val j1ResolvedOracle = adapterCte +
    """, resolved AS (
      |  SELECT
      |    COALESCE(user_id,
      |      CASE WHEN next_id_ts IS NOT NULL
      |        AND next_id_ts <= timestamp + INTERVAL 30 DAY
      |        THEN next_id END) AS user_id,
      |    CASE WHEN user_id IS NULL AND next_id_ts IS NOT NULL
      |      AND next_id_ts <= timestamp + INTERVAL 30 DAY
      |      THEN 1 ELSE 0 END AS recognized
      |  FROM (
      |    SELECT *,
      |      MIN(CASE WHEN user_id IS NOT NULL THEN timestamp END)
      |        OVER w AS next_id_ts,
      |      FIRST_VALUE(user_id IGNORE NULLS) OVER w AS next_id
      |    FROM env
      |    WINDOW w AS (PARTITION BY anonymous_id
      |      ORDER BY timestamp, message_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)))
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(recognized) AS BIGINT) AS n_recognized
      |FROM resolved GROUP BY user_id""".stripMargin

  val pipelineGated: Seq[(String, Q, String)] = Seq(
    // A1/A5: billing active events, exact count-distinct, day grain
    ("a1_active_events",
      ((s, dir) =>
      MetricsAgg.activeEventsExact(
        env(s, dir).withColumnRenamed("write_key", "workspace_id"))
        .withColumn("period", date_format(col("period"), "yyyy-MM-dd"))
        .withColumnRenamed("workspace_id", "write_key")
        .withColumnRenamed("count", "n_active")),
      (adapterCte +
      """SELECT write_key,
        |  strftime(timestamp, '%Y-%m-%d') AS period,
        |  CAST(COUNT(DISTINCT message_id) AS BIGINT) AS n_active
        |FROM env GROUP BY write_key, 2""".stripMargin)),
    // A2-shaped rollup on the event stream (sum + exact uniq by day/type)
    ("a2_metrics_rollup",
      ((s, dir) =>
      env(s, dir)
        .groupBy(date_format(col("timestamp"), "yyyy-MM-dd").as("period"),
          col("connection_id"), col("type"))
        .agg(count(lit(1)).as("events"),
          countDistinct(col("message_id")).as("uniq_events"))),
      (adapterCte +
      """SELECT strftime(timestamp, '%Y-%m-%d') AS period,
        |  connection_id, type,
        |  CAST(COUNT(*) AS BIGINT) AS events,
        |  CAST(COUNT(DISTINCT message_id) AS BIGINT) AS uniq_events
        |FROM env GROUP BY 1, 2, 3""".stripMargin)),
    // A2-incremental: PARTITION-grain MV maintenance of the metrics
    // rollup — a changed event invalidates its period partition, and
    // only those partitions are recomputed (from ALL their events).
    // The j5c twin at partition grain instead of key grain: the gate
    // asserts the incremental path is byte-identical to a full rebuild
    // restricted to the touched periods. countDistinct makes the
    // rollup non-subtractable, so partition recompute (not delta
    // arithmetic) is the honest maintenance strategy.
    ("a2b_incremental_rollup",
      ((s, dir) => {
      val e = env(s, dir)
        .withColumn("period",
          date_format(col("timestamp"), "yyyy-MM-dd"))
      val changed = e.filter(
          col("timestamp") > lit("2024-01-05 00:00:00").cast("timestamp") &&
          col("timestamp") <= lit("2024-01-20 00:00:00").cast("timestamp"))
        .select(col("period")).distinct()
      e.join(broadcast(changed), Seq("period"), "left_semi")
        .groupBy(col("period"), col("connection_id"), col("type"))
        .agg(count(lit(1)).as("events"),
          countDistinct(col("message_id")).as("uniq_events"))
    }),
      (adapterCte +
      """SELECT strftime(timestamp, '%Y-%m-%d') AS period,
        |  connection_id, type,
        |  CAST(COUNT(*) AS BIGINT) AS events,
        |  CAST(COUNT(DISTINCT message_id) AS BIGINT) AS uniq_events
        |FROM env
        |WHERE strftime(timestamp, '%Y-%m-%d') IN (
        |  SELECT DISTINCT strftime(timestamp, '%Y-%m-%d') FROM env
        |  WHERE timestamp > TIMESTAMP '2024-01-05 00:00:00'
        |    AND timestamp <= TIMESTAMP '2024-01-20 00:00:00')
        |GROUP BY 1, 2, 3""".stripMargin)),
    // A2-beyond: z-score anomaly flags over the per-connection daily
    // event series (the alerting pass a metrics MV feeds). Both the
    // threshold comparison and the reported z use 4-dp-ROUNDED values
    // so the flag decision is engine-exact, not a float knife-edge;
    // the series stats are one window over the (tiny) rollup, not the
    // event stream.
    ("a15_anomaly",
      ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = env(s, dir)
        .groupBy(col("connection_id"),
          date_format(col("timestamp"), "yyyy-MM-dd").as("period"))
        .agg(count(lit(1)).as("events"))
      val w = Window.partitionBy(col("connection_id"))
      d.withColumn("mu", avg(col("events")).over(w))
        .withColumn("sd", stddev_samp(col("events")).over(w))
        .filter(col("sd") > 0 &&
          round(abs(col("events") - col("mu")), 4) >
            round(col("sd") * 2, 4))
        .select(col("connection_id"), col("period"), col("events"),
          round((col("events") - col("mu")) / col("sd"), 4).as("z"))
    }),
      (adapterCte +
      """, d AS (
        |  SELECT connection_id, strftime(timestamp, '%Y-%m-%d') AS period,
        |    CAST(COUNT(*) AS BIGINT) AS events
        |  FROM env GROUP BY 1, 2),
        |st AS (
        |  SELECT *, AVG(events) OVER (PARTITION BY connection_id) AS mu,
        |    STDDEV_SAMP(events) OVER (PARTITION BY connection_id) AS sd
        |  FROM d)
        |SELECT connection_id, period, events,
        |  ROUND((events - mu) / sd, 4) AS z
        |FROM st
        |WHERE sd > 0 AND ROUND(ABS(events - mu), 4) > ROUND(2 * sd, 4)"""
        .stripMargin)),
    // A2-beyond: gap-filled daily resample of per-user event counts
    // (the time_bucket_gapfill family) — zero-fill for the count,
    // LOCF for the gauge reading, is_gap marking manufactured rows.
    // Operates on the rollup; the dense grid is keys × days sized.
    ("a16_gapfill",
      ((s, dir) => {
      val pts = env(s, dir)
        .filter(col("user_id").isNotNull &&
          pmod(substring(col("user_id"), 2, 19).cast("long"),
            lit(10)) === 0)
        .groupBy(col("user_id").as("key"),
          to_date(col("timestamp")).as("d"))
        .agg(count(lit(1)).as("value"))
      graft.operators.TimeSeries.gapfillDaily(pts)
        .select(col("key"),
          date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("value").as("events"),
          col("value_zero").as("events_zero"),
          col("value_locf").as("events_locf"),
          col("is_gap"))
    }),
      (adapterCte +
      """, pts AS (
        |  SELECT user_id AS key, CAST(timestamp AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS v
        |  FROM env
        |  WHERE user_id IS NOT NULL AND raw_user_id % 10 = 0
        |  GROUP BY 1, 2),
        |spans AS (SELECT key, MIN(d) AS d0, MAX(d) AS d1
        |  FROM pts GROUP BY 1),
        |grid AS (SELECT key,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |      AS d
        |  FROM spans),
        |j AS (SELECT g.key, g.d, p.v
        |  FROM grid g LEFT JOIN pts p ON g.key = p.key AND g.d = p.d)
        |SELECT key, strftime(d, '%Y-%m-%d') AS day, v AS events,
        |  COALESCE(v, 0) AS events_zero,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY key ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS events_locf,
        |  v IS NULL AS is_gap
        |FROM j""".stripMargin)),
    // A2-smoothing: EWMA baseline + spike flag over the per-type daily
    // series — the recursion runs as an in-row array fold (one shuffle
    // to group each key's bounded series), and because the fold's IEEE
    // op order is replayed exactly by the oracle's recursive CTE, the
    // smoothed values hash-match
    ("a17_ewma",
      ((s, dir) => {
      val pts = graft.schema.EventSchema.readEvents(s, dir)
        .groupBy(col("event_type").as("key"),
          to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("long").as("value"))
      graft.operators.TimeSeries.ewmaDaily(pts)
        .select(col("key"),
          date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("value").as("events"), col("ewma"), col("spike"))
    }),
      // the recursive CTE replays the EWMA fold in the same per-key day
          // order with the same IEEE double ops, so the smoothed values are
          // bit-identical before the display round
      """WITH RECURSIVE pts AS (
        |  SELECT event_type AS key, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT key, d, x,
        |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY d) AS i
        |  FROM pts),
        |e AS (
        |  SELECT key, i, d, x, x AS s FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.key, idx.i, idx.d, idx.x,
        |    0.2 * idx.x + 0.8 * e.s
        |  FROM idx JOIN e ON idx.key = e.key AND idx.i = e.i + 1)
        |SELECT cur.key, strftime(cur.d, '%Y-%m-%d') AS day,
        |  CAST(cur.x AS BIGINT) AS events, ROUND(cur.s, 4) AS ewma,
        |  CASE WHEN prev.s IS NULL THEN FALSE
        |       ELSE cur.x > 2.0 * ROUND(prev.s, 4) END AS spike
        |FROM e cur LEFT JOIN e prev
        |  ON cur.key = prev.key AND cur.i = prev.i + 1""".stripMargin),
    // A21: Holt linear-trend smoothing + 7-day-ahead forecast over the
    // per-type daily series — level AND trend (a17's EWMA goes flat;
    // Holt extrapolates drift). Same in-row fold execution as a17, and
    // the smoothing constants are dyadic (0.25/0.125), so every
    // engine's IEEE arithmetic is bit-identical and the recursive-CTE
    // oracle hash-matches level, trend, and forecast.
    ("a21_holt",
      ((s, dir) => {
      val pts = graft.schema.EventSchema.readEvents(s, dir)
        .groupBy(col("event_type").as("key"),
          to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("long").as("value"))
      graft.operators.TimeSeries.holtDaily(pts,
          alpha = 0.25, beta = 0.125, horizonDays = 7)
        .select(col("key"),
          date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("value").as("events"), col("level"), col("trend"),
          col("forecast"))
    }),
      // the recursive CTE replays Holt's level/trend recursion with the
          // same dyadic smoothing constants (0.25/0.75/0.125/0.875 — exact
          // binary doubles) and the same op order as the Spark fold
      """WITH RECURSIVE pts AS (
        |  SELECT event_type AS key, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT key, d, x,
        |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY d) AS i
        |  FROM pts),
        |e AS (
        |  SELECT key, i, d, x, x AS s, CAST(0.0 AS DOUBLE) AS b
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.key, idx.i, idx.d, idx.x,
        |    0.25 * idx.x + 0.75 * (e.s + e.b),
        |    0.125 * ((0.25 * idx.x + 0.75 * (e.s + e.b)) - e.s)
        |      + 0.875 * e.b
        |  FROM idx JOIN e ON idx.key = e.key AND idx.i = e.i + 1)
        |SELECT key, strftime(d, '%Y-%m-%d') AS day,
        |  CAST(x AS BIGINT) AS events,
        |  ROUND(s, 4) AS level, ROUND(b, 4) AS trend,
        |  ROUND(s + 7.0 * b, 4) AS forecast
        |FROM e""".stripMargin),
    // AB: experiment read-out — deterministic md5-bucket variant
    // assignment (no rand(), no assignment table: pure map-side
    // projection), per-variant conversion + value, pooled
    // two-proportion z. All the z inputs are integer counts, so the
    // statistic is engine-exact before the display round.
    ("ab_experiment",
      ((s, dir) => {
      val ev = graft.schema.EventSchema.readEvents(s, dir)
      graft.operators.Experiment.conversionReport(ev,
        col("user_id"), "exp1",
        col("event_type") === "purchase" && col("value") > 90,
        col("value"))
    }),
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
        |      1, 8))::BIGINT % 2 AS INT) AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 90
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(SUM(conv) AS BIGINT) AS n_converted
        |  FROM pu GROUP BY 1),
        |w AS (SELECT
        |  MAX(CASE WHEN variant = 0 THEN n_units END) AS n_control,
        |  MAX(CASE WHEN variant = 0 THEN n_converted END) AS conv_control,
        |  MAX(CASE WHEN variant = 1 THEN n_units END) AS n_treatment,
        |  MAX(CASE WHEN variant = 1 THEN n_converted END) AS conv_treatment
        |  FROM v),
        |m AS (SELECT *,
        |  CAST(conv_control AS DOUBLE) / n_control AS p0,
        |  CAST(conv_treatment AS DOUBLE) / n_treatment AS p1,
        |  CAST(conv_control + conv_treatment AS DOUBLE)
        |    / (n_control + n_treatment) AS pooled
        |  FROM w),
        |m2 AS (SELECT *,
        |  SQRT(pooled * (1.0 - pooled)
        |    * (1.0 / n_control + 1.0 / n_treatment)) AS se
        |  FROM m)
        |SELECT n_control, conv_control, n_treatment, conv_treatment,
        |  ROUND(p0, 6) AS rate_control,
        |  ROUND(p1, 6) AS rate_treatment,
        |  ROUND(p1 - p0, 6) AS uplift,
        |  CASE WHEN se = 0 THEN NULL
        |    ELSE ROUND((p1 - p0) / se, 4) END AS z,
        |  CASE WHEN se = 0 THEN NULL
        |    ELSE ABS((p1 - p0) / se) > 1.96 END AS significant
        |FROM m2""".stripMargin),
    // J10: ordered sequence matching (ClickHouse sequenceMatch family):
    // "view, then purchase within 24 h, with NO error in between" —
    // the negative condition funnels can't express. One window shuffle
    // per user, running maxima, no self-join; timestamps compare as
    // epoch microseconds so the match decision is engine-exact.
    ("j10_sequence_match",
      ((s, dir) => {
      val ev = graft.schema.EventSchema.readEvents(s, dir)
      graft.operators.SequenceMatch.report(ev,
        col("user_id"), col("ts"), col("event_id"),
        col("event_type") === "view",
        col("event_type") === "purchase",
        col("event_type") === "error",
        windowSeconds = 86400L)
    }),
      """WITH t AS (
        |  SELECT user_id, ts, event_type,
        |    MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      OVER w AS last_a,
        |    MAX(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
        |      OVER w AS last_c
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |b AS (
        |  SELECT user_id,
        |    (last_a IS NOT NULL AND COALESCE(last_a > last_c, TRUE)
        |      AND epoch_us(ts) - last_a <= 86400000000) AS matched,
        |    CASE WHEN last_a IS NOT NULL
        |        AND COALESCE(last_a > last_c, TRUE)
        |        AND epoch_us(ts) - last_a <= 86400000000
        |      THEN epoch_us(ts) - last_a END AS us
        |  FROM t WHERE event_type = 'purchase')
        |SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys_with_b,
        |  CAST(COUNT(DISTINCT CASE WHEN matched THEN user_id END)
        |    AS BIGINT) AS n_keys_matched,
        |  CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_matches,
        |  ROUND(CAST(SUM(us) AS DOUBLE)
        |    / SUM(CASE WHEN matched THEN 1 ELSE 0 END) / 1e6, 4)
        |    AS avg_secs
        |FROM b""".stripMargin),
    // A2-beyond: 7-day sliding distinct actives per day — the windowed
    // COUNT(DISTINCT) a daily rollup cannot answer (distinct is not
    // summable). Spark side: constant 7× explode of the dedup'd
    // (user, day) table + one hash count-distinct per window day; the
    // oracle cross-checks with the independent range-join formulation.
    ("a19_sliding_active",
      ((s, dir) =>
      TimeSeries.slidingDistinct(
        env(s, dir).select(col("anonymous_id").as("key"),
          to_date(col("timestamp")).as("d")), windowDays = 7)
        .select(date_format(col("wd"), "yyyy-MM-dd").as("day"),
          col("active").as("active_7d"))),
      (adapterCte +
      """, kd AS (
        |  SELECT DISTINCT anonymous_id, CAST(timestamp AS DATE) AS d
        |  FROM env),
        |days AS (SELECT DISTINCT d AS wd FROM kd)
        |SELECT strftime(wd, '%Y-%m-%d') AS day,
        |  CAST(COUNT(DISTINCT anonymous_id) AS BIGINT) AS active_7d
        |FROM kd JOIN days ON kd.d BETWEEN wd - 6 AND wd
        |GROUP BY wd""".stripMargin)),
    // A20: RFM segmentation — the CDP audience-building classic: per
    // user recency/frequency/monetary, split at the EXACT interpolated
    // median of each dimension (the a5 percentile pattern — computed
    // once over the user-level table, so banding is a broadcastable
    // scalar compare, never a global-order window). Monetary is rounded
    // to 2 dp BEFORE the percentile and the compare (the determinism
    // rule), so the band decision is engine-exact.
    ("a20_rfm",
      ((s, dir) => {
      val u = graft.schema.EventSchema.readEvents(s, dir)
        .groupBy(concat(lit("a"), col("user_id")).as("anonymous_id"))
        .agg(max(unix_timestamp(col("ts"))).as("rec"),
          count(lit(1)).as("freq"),
          round(sum(col("value")), 2).as("mon"))
      val t = u.agg(
        expr("percentile(rec, 0.5)").as("rt"),
        expr("percentile(freq, 0.5)").as("ft"),
        expr("percentile(mon, 0.5)").as("mt"))
      u.crossJoin(broadcast(t))
        .select(
          when(col("rec") > col("rt"), "recent").otherwise("stale")
            .as("r_band"),
          when(col("freq") > col("ft"), "frequent").otherwise("rare")
            .as("f_band"),
          when(col("mon") > col("mt"), "big").otherwise("small")
            .as("m_band"))
        .groupBy(col("r_band"), col("f_band"), col("m_band"))
        .agg(count(lit(1)).as("n_users"))
    }),
      """WITH u AS (
        |  SELECT 'a' || user_id AS anonymous_id,
        |    MAX(CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
        |      AS BIGINT)) AS rec,
        |    CAST(COUNT(*) AS BIGINT) AS freq,
        |    ROUND(SUM(value), 2) AS mon
        |  FROM events GROUP BY 1),
        |t AS (SELECT quantile_cont(rec, 0.5) AS rt,
        |  quantile_cont(freq, 0.5) AS ft,
        |  quantile_cont(mon, 0.5) AS mt FROM u)
        |SELECT
        |  CASE WHEN rec > rt THEN 'recent' ELSE 'stale' END AS r_band,
        |  CASE WHEN freq > ft THEN 'frequent' ELSE 'rare' END AS f_band,
        |  CASE WHEN mon > mt THEN 'big' ELSE 'small' END AS m_band,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM u, t GROUP BY 1, 2, 3""".stripMargin),
    // J9: top session paths — the first three events of every session
    // (30-min gap), as an order-deterministic string: events collect
    // per (user, session_window) — interval-based, so assignment is
    // order-independent — and sort by (ts, message_id) INSIDE the row
    // (array_sort of structs), never a global sort. Output = path
    // histogram (bounded by |event types|³).
    ("j9_top_paths",
      ((s, dir) =>
      env(s, dir)
        .groupBy(col("anonymous_id"),
          session_window(col("timestamp"), "30 minutes"))
        .agg(concat_ws(">",
          slice(transform(
            sort_array(collect_list(struct(col("timestamp"),
              col("message_id"), col("event")))),
            e => e.getField("event")), 1, 3)).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))),
      (adapterCte +
      """, tagged AS (
        |  SELECT anonymous_id, timestamp, message_id, event,
        |    SUM(new_session) OVER (PARTITION BY anonymous_id
        |      ORDER BY timestamp, message_id
        |      ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM (
        |    SELECT *,
        |      CASE WHEN lag(timestamp) OVER (PARTITION BY anonymous_id
        |          ORDER BY timestamp, message_id) IS NULL
        |        OR date_diff('second', lag(timestamp) OVER (
        |          PARTITION BY anonymous_id
        |          ORDER BY timestamp, message_id), timestamp) > 1800
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM env)),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anonymous_id,
        |    session_idx ORDER BY timestamp, message_id) AS rn
        |  FROM tagged),
        |paths AS (
        |  SELECT anonymous_id, session_idx,
        |    string_agg(event, '>' ORDER BY timestamp, message_id) AS path
        |  FROM ranked WHERE rn <= 3
        |  GROUP BY 1, 2)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM paths GROUP BY 1""".stripMargin)),
    // J8: user-journey transition matrix — P(next event | event) over
    // per-user time-ordered streams (the Markov-chain view of journeys
    // a CDP reports as "what do users do after X"). One window shuffle
    // keyed by user (the same partitioning sessionization uses), then
    // transition counts + row totals as hash aggs over the tiny
    // (events × events) matrix. (message_id tie-break keeps the order,
    // and therefore the matrix, engine-deterministic.)
    ("j8_transitions",
      ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("anonymous_id"))
        .orderBy(col("timestamp"), col("message_id"))
      val pairs = env(s, dir)
        .select(col("anonymous_id"), col("timestamp"), col("message_id"),
          col("event"))
        .withColumn("to_event", lead(col("event"), 1).over(w))
        .filter(col("to_event").isNotNull)
      val counts = pairs
        .groupBy(col("event").as("from_event"), col("to_event"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy(col("from_event"))
        .agg(sum(col("n")).as("tot"))
      counts.join(totals, Seq("from_event"))
        .select(col("from_event"), col("to_event"), col("n"),
          round(col("n").cast("double") / col("tot").cast("double"), 6)
            .as("p"))
    }),
      (adapterCte +
      """, pairs AS (
        |  SELECT event AS from_event,
        |    LEAD(event) OVER (PARTITION BY anonymous_id
        |      ORDER BY timestamp, message_id) AS to_event
        |  FROM env),
        |c AS (
        |  SELECT from_event, to_event, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pairs WHERE to_event IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (SELECT from_event, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT from_event, to_event, n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p
        |FROM c JOIN t USING (from_event)""".stripMargin)),
    // A19 sketch form — the 100 TB shape: one HLL sketch per day, each
    // window merges its 7 day-sketches (windowing cost independent of
    // key cardinality). Property gate: estimate within 5% of the exact
    // sliding distinct per window day.
    ("a19b_sliding_hll",
      ((s, dir) => {
      val obs = env(s, dir).select(col("anonymous_id").as("key"),
        to_date(col("timestamp")).as("d"))
      TimeSeries.slidingDistinct(obs, windowDays = 7)
        .join(TimeSeries.slidingDistinctApprox(obs, windowDays = 7),
          Seq("wd"))
        .select(date_format(col("wd"), "yyyy-MM-dd").as("day"),
          col("active").as("exact_active"),
          (abs(col("active_approx").cast("double") -
            col("active").cast("double")) <=
            col("active").cast("double") * 0.05).as("hll_ok"))
    }),
      (adapterCte +
      """, kd AS (
        |  SELECT DISTINCT anonymous_id, CAST(timestamp AS DATE) AS d
        |  FROM env),
        |days AS (SELECT DISTINCT d AS wd FROM kd)
        |SELECT strftime(wd, '%Y-%m-%d') AS day,
        |  CAST(COUNT(DISTINCT anonymous_id) AS BIGINT) AS exact_active,
        |  true AS hll_ok
        |FROM kd JOIN days ON kd.d BETWEEN wd - 6 AND wd
        |GROUP BY wd""".stripMargin)),
    // A2-beyond: audience-overlap matrix — for every pair of event
    // types, the exact count of shared high-value users and the
    // Jaccard overlap (the audience/segment intersection question a
    // CDP warehouse answers constantly). Scale shape: the INVERTED
    // index — one self-join keyed on the user, so fan-out per key is
    // bounded by that user's audience membership (≤ #audiences, tiny),
    // never |audience|×|audience|; sizes ride a broadcast-joined dim.
    ("a18_overlap",
      ((s, dir) => {
      val a = env(s, dir).filter(col("value") > 15)
        .select(col("event"), col("anonymous_id")).distinct()
      val sizes = a.groupBy(col("event")).agg(count(lit(1)).as("n"))
      a.as("x").join(a.as("y"), Seq("anonymous_id"))
        .filter(col("x.event") < col("y.event"))
        .groupBy(col("x.event").as("e1"), col("y.event").as("e2"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("event").as("e1"),
          col("n").as("n1"))), Seq("e1"))
        .join(broadcast(sizes.select(col("event").as("e2"),
          col("n").as("n2"))), Seq("e2"))
        .select(col("e1"), col("e2"), col("n1"), col("n2"),
          col("n_shared"),
          round(col("n_shared").cast("double") /
            (col("n1") + col("n2") - col("n_shared")).cast("double"), 6)
            .as("jaccard"))
    }),
      (adapterCte +
      """, a AS (
        |  SELECT DISTINCT event, anonymous_id FROM env WHERE value > 15),
        |sz AS (SELECT event, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM a GROUP BY 1),
        |p AS (
        |  SELECT x.event AS e1, y.event AS e2,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM a x JOIN a y
        |    ON x.anonymous_id = y.anonymous_id AND x.event < y.event
        |  GROUP BY 1, 2)
        |SELECT e1, e2, s1.n AS n1, s2.n AS n2, n_shared,
        |  ROUND(CAST(n_shared AS DOUBLE) /
        |    (s1.n + s2.n - n_shared), 6) AS jaccard
        |FROM p JOIN sz s1 ON s1.event = p.e1
        |JOIN sz s2 ON s2.event = p.e2""".stripMargin)),
    // F3/F4/F6/F7/F8/F9/F12 scalar battery over the envelope
    ("f_scalars",
      ((s, dir) => {
      import graft.functions.Scalars._
      env(s, dir).select(
        col("message_id"),
        plural(col("type")).as("table_name"),
        anonymizeIp(col("context.ip")).as("anon_ip"),
        urlHost(col("context.page.url")).as("url_host"),
        urlPath(col("context.page.url")).as("url_path"),
        urlParam(col("context.page.url"), "utm_source").as("utm_source"),
        referringDomain(col("context.page.referrer")).as("ref_domain"),
        md5InsertId(col("message_id"), col("anonymous_id")).as("insert_id"),
        sha256Pii(get_json_object(col("traits"), "$.email")).as("email_hash"),
        partitionId(col("anonymous_id")).as("partition_id"),
        unix_timestamp(eventTimeSafe(col("timestamp"), col("received_at")))
          .as("event_time_s"))
    }),
      (adapterCte +
      """SELECT message_id,
        |  CASE type WHEN 'identify' THEN 'identifies'
        |            WHEN 'alias' THEN 'aliases'
        |            ELSE type || 's' END AS table_name,
        |  '10.' || (raw_user_id % 200) || '.' || (raw_event_id % 250) || '.0'
        |    AS anon_ip,
        |  'shop.example.com' AS url_host,
        |  '/p/' || event AS url_path,
        |  'src' || (raw_user_id % 5) AS utm_source,
        |  'ref' || (raw_event_id % 4) || '.example.org' AS ref_domain,
        |  md5(message_id || ':' || anonymous_id) AS insert_id,
        |  CASE WHEN type = 'identify' THEN sha256(lower(trim(
        |    'user' || raw_user_id || '@example.com'))) END AS email_hash,
        |  ('0x' || substr(sha256(anonymous_id), 1, 8))::BIGINT % 240
        |    AS partition_id,
        |  CAST(epoch(date_trunc('second', timestamp)) AS BIGINT) AS event_time_s
        |FROM env""".stripMargin)),
    // P2: segment single-table layout (stable column subset)
    ("p2_segment_single",
      ((s, dir) =>
      Layouts.segmentSingleTable(env(s, dir)).select(
        col("message_id"), col("type"), col("event"),
        col("anonymous_id"), col("user_id"),
        col("context_page_path"), col("context_campaign_source"),
        col("context_geo_country"), col("properties"), col("traits"),
        col("_table"))),
      (adapterCte +
      """SELECT message_id, type, event, anonymous_id, user_id,
        |  '/p/' || event AS context_page_path,
        |  'src' || (raw_user_id % 5) AS context_campaign_source,
        |  CASE (raw_user_id % 5) WHEN 0 THEN 'US' WHEN 1 THEN 'DE'
        |    WHEN 2 THEN 'FR' WHEN 3 THEN 'GB' ELSE 'CN' END
        |    AS context_geo_country,
        |  '{"k": ' || json_extract_string(props, '$.k') || ', "value": '
        |    || printf('%.2f', value) || '}' AS properties,
        |  CASE WHEN type = 'identify' THEN '{"email": "user' || raw_user_id
        |    || '@example.com", "name": "User ' || raw_user_id || '"}' END
        |    AS traits,
        |  'events' AS _table
        |FROM env""".stripMargin)),
    // P1: multi-table layout — row fan-out + table routing counts
    ("p1_segment_multi",
      ((s, dir) =>
      Layouts.segmentMultiTable(env(s, dir))
        .groupBy(col("_table"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("message_id")).as("uniq_messages"))),
      (adapterCte +
      """SELECT _table, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT message_id) AS BIGINT) AS uniq_messages
        |FROM (
        |  SELECT message_id,
        |    CASE type WHEN 'identify' THEN 'identifies'
        |              WHEN 'page' THEN 'pages' END AS _table
        |  FROM env WHERE type <> 'track'
        |  UNION ALL
        |  SELECT message_id, 'tracks' FROM env WHERE type = 'track'
        |  UNION ALL
        |  SELECT message_id, event FROM env WHERE type = 'track'
        |) GROUP BY _table""".stripMargin)),
    // P3: jitsu legacy layout (stable scalar subset)
    ("p3_jitsu_legacy",
      ((s, dir) =>
      Layouts.jitsuLegacy(env(s, dir)).select(
        col("eventn_ctx_event_id"), col("event_type"), col("api_key"),
        col("anon_ip"), col("doc_host"), col("doc_path"),
        col("location.country").as("geo_country"),
        col("user").getItem("email").as("user_email"),
        col("screen_resolution"))),
      (adapterCte +
      """SELECT message_id AS eventn_ctx_event_id, event AS event_type,
        |  write_key AS api_key,
        |  '10.' || (raw_user_id % 200) || '.' || (raw_event_id % 250) || '.0'
        |    AS anon_ip,
        |  'shop.example.com' AS doc_host,
        |  '/p/' || event AS doc_path,
        |  CASE (raw_user_id % 5) WHEN 0 THEN 'US' WHEN 1 THEN 'DE'
        |    WHEN 2 THEN 'FR' WHEN 3 THEN 'GB' ELSE 'CN' END AS geo_country,
        |  CASE WHEN type = 'identify'
        |    THEN 'user' || raw_user_id || '@example.com' END AS user_email,
        |  CASE (raw_user_id % 2) WHEN 0 THEN '1280x720'
        |    ELSE '1920x1080' END AS screen_resolution
        |FROM env""".stripMargin)),
    // P3b: the reference's OWN golden outputs
    // (datalayout-jitsu-legacy.test.ts legacyIdentifyExpected /
    // legacyPageExpected): its exact identify + page events, planted in
    // the envelope wire dialect, through fromJson → jitsuLegacy; every
    // field the reference pins is value-pinned in the oracle —
    // port-stripped doc_host, "" api_key when the write key is absent,
    // src="jitsu", raw source_ip beside the zeroed anon_ip, and the
    // user map merging snake_cased traits (case_last_name, user_name).
    ("p3b_jitsu_golden",
      ((s, dir) => {
      import s.implicits._
      val identify =
        """{"message_id":"a6c09b16-c2bc-4193-990f-5e2b694ae610",
          |"type":"identify","user_id":"userId2",
          |"anonymous_id":"6638caf0-d2c2-4bc0-aecf-8b290b559a37",
          |"write_key":"writeKey","timestamp":"2022-11-14T08:56:34.387Z",
          |"sent_at":"2022-11-14T08:56:34.387Z",
          |"traits":{"caseName":"basic-identify","CaseLastName":"Doe",
          |"User_Name":"jj","email":"john.doe2@gmail.com"},
          |"context":{"ip":"141.136.89.181","locale":"en-US",
          |"user_agent":"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36",
          |"campaign":{"medium":"medium","name":"campaign","source":"source"},
          |"page":{"host":"localhost:3088","path":"/basic.html",
          |"referrer":"https://referrer.com",
          |"search":"?utm_source=source&utm_medium=medium&utm_campaign=campaign",
          |"title":"Tracking page",
          |"url":"https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign"},
          |"screen":{"width":1280,"height":720,"density":1}}}"""
          .stripMargin.replace("\n", "")
      val page =
        """{"message_id":"d0c6abf6-97f7-487a-a197-8f236c728fa8",
          |"type":"page","user_id":"userId2",
          |"anonymous_id":"6638caf0-d2c2-4bc0-aecf-8b290b559a37",
          |"timestamp":"2022-11-14T08:56:34.395Z",
          |"sent_at":"2022-11-14T08:56:34.395Z",
          |"context":{"locale":"en-US",
          |"user_agent":"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36",
          |"campaign":{"medium":"medium","name":"campaign","source":"source"},
          |"traits":{"caseName":"identify-without-user-id",
          |"CaseLastName":"Doe","User_Name":"jj",
          |"email":"john.doe3@gmail.com"},
          |"page":{"host":"localhost:3088","path":"/basic.html",
          |"referrer":"https://referrer.com",
          |"search":"?utm_source=source&utm_medium=medium&utm_campaign=campaign",
          |"title":"Tracking page",
          |"url":"https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign"},
          |"screen":{"width":1280,"height":720,"density":1}}}"""
          .stripMargin.replace("\n", "")
      val envDf = graft.schema.EventSchema.fromJson(
        Seq(identify, page).toDS())
      Layouts.jitsuLegacy(envDf).select(
        col("event_type"),
        col("eventn_ctx_event_id"),
        col("anon_ip"), col("source_ip"), col("api_key"),
        col("doc_host"), col("doc_path"), col("doc_search"),
        col("page_title"), col("referer"), col("url"), col("src"),
        col("user_agent"), col("user_language"),
        col("screen_resolution"), col("vp_size"),
        col("utm.name").as("utm_name"),
        col("utm.source").as("utm_source"),
        col("utm.medium").as("utm_medium"),
        col("user").getItem("id").as("user_id"),
        col("user").getItem("anonymous_id").as("user_anonymous_id"),
        col("user").getItem("email").as("user_email"),
        col("user").getItem("case_name").as("user_case_name"),
        col("user").getItem("case_last_name").as("user_case_last_name"),
        col("user").getItem("user_name").as("user_user_name"),
        date_format(col("utc_time"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
          .as("utc_time"),
        size(col("click_id")).as("n_click_ids"))
    }),
      // the reference's legacyIdentifyExpected / legacyPageExpected
          // objects, hand-copied field by field
      """SELECT * FROM (VALUES
        |  ('identify', 'a6c09b16-c2bc-4193-990f-5e2b694ae610',
        |   '141.136.89.0', '141.136.89.181', 'writeKey', 'localhost',
        |   '/basic.html',
        |   '?utm_source=source&utm_medium=medium&utm_campaign=campaign',
        |   'Tracking page', 'https://referrer.com',
        |   'https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign',
        |   'jitsu',
        |   'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36',
        |   'en-US', '1280x720', '1280x720',
        |   'campaign', 'source', 'medium',
        |   'userId2', '6638caf0-d2c2-4bc0-aecf-8b290b559a37',
        |   'john.doe2@gmail.com', 'basic-identify', 'Doe', 'jj',
        |   '2022-11-14T08:56:34.387Z', 0),
        |  ('page', 'd0c6abf6-97f7-487a-a197-8f236c728fa8',
        |   NULL, NULL, '', 'localhost',
        |   '/basic.html',
        |   '?utm_source=source&utm_medium=medium&utm_campaign=campaign',
        |   'Tracking page', 'https://referrer.com',
        |   'https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign',
        |   'jitsu',
        |   'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36',
        |   'en-US', '1280x720', '1280x720',
        |   'campaign', 'source', 'medium',
        |   'userId2', '6638caf0-d2c2-4bc0-aecf-8b290b559a37',
        |   'john.doe3@gmail.com', 'identify-without-user-id', 'Doe', 'jj',
        |   '2022-11-14T08:56:34.395Z', 0)
        |) t(event_type, eventn_ctx_event_id, anon_ip, source_ip,
        |    api_key, doc_host, doc_path, doc_search, page_title,
        |    referer, url, src, user_agent, user_language,
        |    screen_resolution, vp_size, utm_name, utm_source,
        |    utm_medium, user_id, user_anonymous_id, user_email,
        |    user_case_name, user_case_last_name, user_user_name,
        |    utc_time, n_click_ids)""".stripMargin),
    // P7+P8: event filter + bot filter
    ("p7_event_filter",
      ((s, dir) =>
      Layouts.botFilter(Layouts.eventFilter(env(s, dir), "track,signup"))
        .groupBy(col("event")).agg(count(lit(1)).as("n"))),
      (adapterCte +
      """SELECT event, CAST(COUNT(*) AS BIGINT) AS n FROM env
        |WHERE (type IN ('track','signup') OR event IN ('track','signup'))
        |  AND (raw_event_id % 3) <> 2
        |GROUP BY event""".stripMargin)),
    // P1d: segment layout GOLDEN parity — the reference's own
    // datalayout-segment.test.ts fixtures (page/identify/track/group)
    // through the field-exact JVM twin [[Layouts.segmentGolden]], BOTH
    // modes, every output object flattened to (path, value) rows; the
    // oracle value-pins all 273 fields of the 9 expected objects
    // (pageExpected .. groupExpectedSingleTable) from
    // datalayout-test-data.ts. Pins the contracts the columnar layouts
    // re-express: recursive snake_casing at every depth, per-type
    // omit/hoist rules, the track two-row fan-out, identify traits
    // hoisted (multi) vs nested under context.traits (single), group
    // traits under context.group (single), and the type keep/drop rule.
    ("p1d_segment_golden",
      ((s, dir) => {
      import s.implicits._
      val pageJson =
        """{"messageId":"d0c6abf6-97f7-487a-a197-8f236c728fa8","anonymousId":"6638caf0-d2c2-4bc0-aecf-8b290b559a37","context":{"groupId":"cl9y5kgth0002ccfn3vtqz64g","campaign":{"medium":"medium","name":"campaign","source":"source"},"library":{"name":"jitsu-js","version":"1.0.0"},"locale":"en-US","page":{"host":"localhost:3088","path":"/basic.html","referrer":"https://referrer.com","referring_domain":"","search":"?utm_source=source&utm_medium=medium&utm_campaign=campaign","title":"Tracking page","url":"https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign"},"screen":{"density":1,"height":720,"innerHeight":720,"innerWidth":1280,"width":1280},"traits":{"caseName":"identify-without-user-id","CaseLastName":"Doe","User_Name":"jj","email":"john.doe3@gmail.com"},"userAgent":"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36"},"properties":{"caseName":"page-with-name","hash":"","height":720,"name":"test-page","path":"/basic.html","search":"?utm_source=source&utm_medium=medium&utm_campaign=campaign","title":"Tracking page","url":"https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign","width":1280},"sentAt":"2022-11-14T08:56:34.395Z","timestamp":"2022-11-14T08:56:34.395Z","type":"page","userId":"userId2"}"""
      val identifyJson =
        """{"writeKey":"writeKey","messageId":"a6c09b16-c2bc-4193-990f-5e2b694ae610","anonymousId":"6638caf0-d2c2-4bc0-aecf-8b290b559a37","context":{"groupId":"cl9y5kgth0002ccfn3vtqz64g","ip":"141.136.89.181","campaign":{"medium":"medium","name":"campaign","source":"source"},"library":{"name":"jitsu-js","version":"1.0.0"},"locale":"en-US","page":{"host":"localhost:3088","path":"/basic.html","referrer":"https://referrer.com","referring_domain":"referrer.com","search":"?utm_source=source&utm_medium=medium&utm_campaign=campaign","title":"Tracking page","url":"https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign"},"screen":{"density":1,"height":720,"innerHeight":720,"innerWidth":1280,"width":1280},"userAgent":"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36"},"sentAt":"2022-11-14T08:56:34.387Z","timestamp":"2022-11-14T08:56:34.387Z","traits":{"caseName":"basic-identify","CaseLastName":"Doe","User_Name":"jj","email":"john.doe2@gmail.com"},"type":"identify","userId":"userId2"}"""
      val trackJson =
        """{"type":"track","event":"testEvent","properties":{"testProp":"test event properties","nestedObj":{"nestedProp":"sad"}},"userId":"user@example.com","anonymousId":"6638caf0-d2c2-4bc0-aecf-8b290b559a37","timestamp":"2022-11-14T08:56:34.395Z","sentAt":"2022-11-14T08:56:34.395Z","messageId":"d0c6abf6-97f7-487a-a197-8f236c728fa8","context":{"groupId":"cl9y5kgth0002ccfn3vtqz64g","library":{"name":"jitsu-js","version":"1.0.0"},"ip":"127.0.0.1","userAgent":"Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:109.0) Gecko/20100101 Firefox/111.0","locale":"en-US","screen":{"width":2304,"height":1296,"innerWidth":1458,"innerHeight":1186,"density":2},"traits":{"email":"user@example.com"},"page":{"path":"/","referrer":"","referring_domain":"","host":"example.com","search":"","title":"Example page event","url":"https://example.com/","encoding":"UTF-8"},"campaign":{"name":"example","source":"g"}},"requestIp":"127.0.0.1","receivedAt":"2022-11-14T08:56:34.395Z"}"""
      val groupJson =
        """{"anonymousId":"fab18d01-fb6a-4845-b9ca-300b9db35527","context":{"campaign":{},"clientIds":{},"library":{"env":"node","name":"@jitsu/js","version":"2.0.0"},"page":{}},"groupId":"cl9y5kgth0002ccfn3vtqz64g","messageId":"17dnlr6evs61jakjuz1xt6","receivedAt":"2024-04-08T10:39:20.766Z","requestIp":"127.0.0.1","sentAt":"2024-04-08T10:39:20.764Z","timestamp":"2024-04-08T10:39:20.764Z","traits":{"name":"Ildar Nurislamov's workspace","workspaceId":"cl9y5kgth0002ccfn3vtqz64g","workspaceName":"Ildar Nurislamov's workspace","workspaceSlug":"ildar"},"type":"group","writeKey":"n6Cp3jwTGDFUZfD568wgve0mdCmPaT77:***"}"""
      def flatten(n: com.fasterxml.jackson.databind.JsonNode,
                  prefix: String): Seq[(String, String)] = n match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode
            if o.isEmpty =>
          Seq((if (prefix.isEmpty) "." else prefix, "{}"))
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          import scala.jdk.CollectionConverters._
          o.fields().asScala.toSeq.flatMap { e =>
            val path = if (prefix.isEmpty) e.getKey
                       else prefix + "." + e.getKey
            flatten(e.getValue, path)
          }
        case a: com.fasterxml.jackson.databind.node.ArrayNode =>
          import scala.jdk.CollectionConverters._
          a.elements().asScala.toSeq.zipWithIndex.flatMap { case (e, i) =>
            flatten(e, s"$prefix[$i]")
          }
        case leaf => Seq((prefix, leaf.asText()))
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val rows = for {
        (caseName, json) <- Seq("page" -> pageJson, "identify" -> identifyJson,
          "track" -> trackJson, "group" -> groupJson)
        (mode, single) <- Seq(("multi", false), ("single", true))
        ((table, out), idx) <-
          Layouts.segmentGolden(json, single).zipWithIndex
        (path, value) <- flatten(mapper.readTree(out), "")
      } yield (caseName, mode, table, idx, path, value)
      rows.toDF("case_name", "mode", "table_name", "row_idx",
        "path", "value")
    }),
      // every field of the reference's 9 expected segment-layout objects
      ("""SELECT * FROM (VALUES
        ('page', 'multi', 'pages', 0, 'message_id', 'd0c6abf6-97f7-487a-a197-8f236c728fa8'),
        ('page', 'multi', 'pages', 0, 'anonymous_id', '6638caf0-d2c2-4bc0-aecf-8b290b559a37'),
        ('page', 'multi', 'pages', 0, 'context.group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('page', 'multi', 'pages', 0, 'context.campaign.medium', 'medium'),
        ('page', 'multi', 'pages', 0, 'context.campaign.name', 'campaign'),
        ('page', 'multi', 'pages', 0, 'context.campaign.source', 'source'),
        ('page', 'multi', 'pages', 0, 'context.library.name', 'jitsu-js'),
        ('page', 'multi', 'pages', 0, 'context.library.version', '1.0.0'),
        ('page', 'multi', 'pages', 0, 'context.locale', 'en-US'),
        ('page', 'multi', 'pages', 0, 'context.page.host', 'localhost:3088'),
        ('page', 'multi', 'pages', 0, 'context.page.path', '/basic.html'),
        ('page', 'multi', 'pages', 0, 'context.page.referrer', 'https://referrer.com'),
        ('page', 'multi', 'pages', 0, 'context.page.referring_domain', ''),
        ('page', 'multi', 'pages', 0, 'context.page.search', '?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('page', 'multi', 'pages', 0, 'context.page.title', 'Tracking page'),
        ('page', 'multi', 'pages', 0, 'context.page.url', 'https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('page', 'multi', 'pages', 0, 'context.screen.density', '1'),
        ('page', 'multi', 'pages', 0, 'context.screen.height', '720'),
        ('page', 'multi', 'pages', 0, 'context.screen.inner_height', '720'),
        ('page', 'multi', 'pages', 0, 'context.screen.inner_width', '1280'),
        ('page', 'multi', 'pages', 0, 'context.screen.width', '1280'),
        ('page', 'multi', 'pages', 0, 'context.traits.case_name', 'identify-without-user-id'),
        ('page', 'multi', 'pages', 0, 'context.traits.email', 'john.doe3@gmail.com'),
        ('page', 'multi', 'pages', 0, 'context.traits.case_last_name', 'Doe'),
        ('page', 'multi', 'pages', 0, 'context.traits.user_name', 'jj'),
        ('page', 'multi', 'pages', 0, 'context.user_agent', 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36'),
        ('page', 'multi', 'pages', 0, 'sent_at', '2022-11-14T08:56:34.395Z'),
        ('page', 'multi', 'pages', 0, 'timestamp', '2022-11-14T08:56:34.395Z'),
        ('page', 'multi', 'pages', 0, 'type', 'page'),
        ('page', 'multi', 'pages', 0, 'user_id', 'userId2'),
        ('page', 'multi', 'pages', 0, 'case_name', 'page-with-name'),
        ('page', 'multi', 'pages', 0, 'hash', ''),
        ('page', 'multi', 'pages', 0, 'height', '720'),
        ('page', 'multi', 'pages', 0, 'name', 'test-page'),
        ('page', 'multi', 'pages', 0, 'path', '/basic.html'),
        ('page', 'multi', 'pages', 0, 'search', '?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('page', 'multi', 'pages', 0, 'title', 'Tracking page'),
        ('page', 'multi', 'pages', 0, 'url', 'https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('page', 'multi', 'pages', 0, 'width', '1280'),
        ('identify', 'multi', 'identifies', 0, 'write_key', 'writeKey'),
        ('identify', 'multi', 'identifies', 0, 'message_id', 'a6c09b16-c2bc-4193-990f-5e2b694ae610'),
        ('identify', 'multi', 'identifies', 0, 'anonymous_id', '6638caf0-d2c2-4bc0-aecf-8b290b559a37'),
        ('identify', 'multi', 'identifies', 0, 'context.ip', '141.136.89.181'),
        ('identify', 'multi', 'identifies', 0, 'context.group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('identify', 'multi', 'identifies', 0, 'context.campaign.medium', 'medium'),
        ('identify', 'multi', 'identifies', 0, 'context.campaign.name', 'campaign'),
        ('identify', 'multi', 'identifies', 0, 'context.campaign.source', 'source'),
        ('identify', 'multi', 'identifies', 0, 'context.library.name', 'jitsu-js'),
        ('identify', 'multi', 'identifies', 0, 'context.library.version', '1.0.0'),
        ('identify', 'multi', 'identifies', 0, 'context.locale', 'en-US'),
        ('identify', 'multi', 'identifies', 0, 'context.page.host', 'localhost:3088'),
        ('identify', 'multi', 'identifies', 0, 'context.page.path', '/basic.html'),
        ('identify', 'multi', 'identifies', 0, 'context.page.referrer', 'https://referrer.com'),
        ('identify', 'multi', 'identifies', 0, 'context.page.referring_domain', 'referrer.com'),
        ('identify', 'multi', 'identifies', 0, 'context.page.search', '?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('identify', 'multi', 'identifies', 0, 'context.page.title', 'Tracking page'),
        ('identify', 'multi', 'identifies', 0, 'context.page.url', 'https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('identify', 'multi', 'identifies', 0, 'context.screen.density', '1'),
        ('identify', 'multi', 'identifies', 0, 'context.screen.height', '720'),
        ('identify', 'multi', 'identifies', 0, 'context.screen.inner_height', '720'),
        ('identify', 'multi', 'identifies', 0, 'context.screen.inner_width', '1280'),
        ('identify', 'multi', 'identifies', 0, 'context.screen.width', '1280'),
        ('identify', 'multi', 'identifies', 0, 'context.user_agent', 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36'),
        ('identify', 'multi', 'identifies', 0, 'sent_at', '2022-11-14T08:56:34.387Z'),
        ('identify', 'multi', 'identifies', 0, 'timestamp', '2022-11-14T08:56:34.387Z'),
        ('identify', 'multi', 'identifies', 0, 'case_name', 'basic-identify'),
        ('identify', 'multi', 'identifies', 0, 'case_last_name', 'Doe'),
        ('identify', 'multi', 'identifies', 0, 'user_name', 'jj'),
        ('identify', 'multi', 'identifies', 0, 'email', 'john.doe2@gmail.com'),
        ('identify', 'multi', 'identifies', 0, 'user_id', 'userId2'),
        ('track', 'multi', 'tracks', 0, 'event', 'testEvent'),
        ('track', 'multi', 'tracks', 0, 'user_id', 'user@example.com'),
        ('track', 'multi', 'tracks', 0, 'anonymous_id', '6638caf0-d2c2-4bc0-aecf-8b290b559a37'),
        ('track', 'multi', 'tracks', 0, 'timestamp', '2022-11-14T08:56:34.395Z'),
        ('track', 'multi', 'tracks', 0, 'sent_at', '2022-11-14T08:56:34.395Z'),
        ('track', 'multi', 'tracks', 0, 'message_id', 'd0c6abf6-97f7-487a-a197-8f236c728fa8'),
        ('track', 'multi', 'tracks', 0, 'context.group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('track', 'multi', 'tracks', 0, 'context.library.name', 'jitsu-js'),
        ('track', 'multi', 'tracks', 0, 'context.library.version', '1.0.0'),
        ('track', 'multi', 'tracks', 0, 'context.ip', '127.0.0.1'),
        ('track', 'multi', 'tracks', 0, 'context.user_agent', 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:109.0) Gecko/20100101 Firefox/111.0'),
        ('track', 'multi', 'tracks', 0, 'context.locale', 'en-US'),
        ('track', 'multi', 'tracks', 0, 'context.screen.width', '2304'),
        ('track', 'multi', 'tracks', 0, 'context.screen.height', '1296'),
        ('track', 'multi', 'tracks', 0, 'context.screen.inner_width', '1458'),
        ('track', 'multi', 'tracks', 0, 'context.screen.inner_height', '1186'),
        ('track', 'multi', 'tracks', 0, 'context.screen.density', '2'),
        ('track', 'multi', 'tracks', 0, 'context.traits.email', 'user@example.com'),
        ('track', 'multi', 'tracks', 0, 'context.page.path', '/'),
        ('track', 'multi', 'tracks', 0, 'context.page.referrer', ''),
        ('track', 'multi', 'tracks', 0, 'context.page.referring_domain', ''),
        ('track', 'multi', 'tracks', 0, 'context.page.host', 'example.com'),
        ('track', 'multi', 'tracks', 0, 'context.page.search', ''),
        ('track', 'multi', 'tracks', 0, 'context.page.title', 'Example page event'),
        ('track', 'multi', 'tracks', 0, 'context.page.url', 'https://example.com/'),
        ('track', 'multi', 'tracks', 0, 'context.page.encoding', 'UTF-8'),
        ('track', 'multi', 'tracks', 0, 'context.campaign.name', 'example'),
        ('track', 'multi', 'tracks', 0, 'context.campaign.source', 'g'),
        ('track', 'multi', 'tracks', 0, 'request_ip', '127.0.0.1'),
        ('track', 'multi', 'tracks', 0, 'received_at', '2022-11-14T08:56:34.395Z'),
        ('track', 'multi', 'testEvent', 1, 'event', 'testEvent'),
        ('track', 'multi', 'testEvent', 1, 'test_prop', 'test event properties'),
        ('track', 'multi', 'testEvent', 1, 'nested_obj.nested_prop', 'sad'),
        ('track', 'multi', 'testEvent', 1, 'user_id', 'user@example.com'),
        ('track', 'multi', 'testEvent', 1, 'anonymous_id', '6638caf0-d2c2-4bc0-aecf-8b290b559a37'),
        ('track', 'multi', 'testEvent', 1, 'timestamp', '2022-11-14T08:56:34.395Z'),
        ('track', 'multi', 'testEvent', 1, 'sent_at', '2022-11-14T08:56:34.395Z'),
        ('track', 'multi', 'testEvent', 1, 'message_id', 'd0c6abf6-97f7-487a-a197-8f236c728fa8'),
        ('track', 'multi', 'testEvent', 1, 'context.group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('track', 'multi', 'testEvent', 1, 'context.library.name', 'jitsu-js'),
        ('track', 'multi', 'testEvent', 1, 'context.library.version', '1.0.0'),
        ('track', 'multi', 'testEvent', 1, 'context.ip', '127.0.0.1'),
        ('track', 'multi', 'testEvent', 1, 'context.user_agent', 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:109.0) Gecko/20100101 Firefox/111.0'),
        ('track', 'multi', 'testEvent', 1, 'context.locale', 'en-US'),
        ('track', 'multi', 'testEvent', 1, 'context.screen.width', '2304'),
        ('track', 'multi', 'testEvent', 1, 'context.screen.height', '1296'),
        ('track', 'multi', 'testEvent', 1, 'context.screen.inner_width', '1458'),
        ('track', 'multi', 'testEvent', 1, 'context.screen.inner_height', '1186'),
        ('track', 'multi', 'testEvent', 1, 'context.screen.density', '2'),
        ('track', 'multi', 'testEvent', 1, 'context.traits.email', 'user@example.com'),
        ('track', 'multi', 'testEvent', 1, 'context.page.path', '/'),
        ('track', 'multi', 'testEvent', 1, 'context.page.referrer', ''),
        ('track', 'multi', 'testEvent', 1, 'context.page.referring_domain', ''),
        ('track', 'multi', 'testEvent', 1, 'context.page.host', 'example.com'),
        ('track', 'multi', 'testEvent', 1, 'context.page.search', ''),
        ('track', 'multi', 'testEvent', 1, 'context.page.title', 'Example page event'),
        ('track', 'multi', 'testEvent', 1, 'context.page.url', 'https://example.com/'),
        ('track', 'multi', 'testEvent', 1, 'context.page.encoding', 'UTF-8'),
        ('track', 'multi', 'testEvent', 1, 'context.campaign.name', 'example'),
        ('track', 'multi', 'testEvent', 1, 'context.campaign.source', 'g'),
        ('track', 'multi', 'testEvent', 1, 'request_ip', '127.0.0.1'),
        ('track', 'multi', 'testEvent', 1, 'received_at', '2022-11-14T08:56:34.395Z'),
        ('group', 'multi', 'groups', 0, 'anonymous_id', 'fab18d01-fb6a-4845-b9ca-300b9db35527'),
        ('group', 'multi', 'groups', 0, 'context.campaign', '{}'),
        ('group', 'multi', 'groups', 0, 'context.client_ids', '{}'),
        ('group', 'multi', 'groups', 0, 'context.library.env', 'node'),
        ('group', 'multi', 'groups', 0, 'context.library.name', '@jitsu/js'),
        ('group', 'multi', 'groups', 0, 'context.library.version', '2.0.0'),
        ('group', 'multi', 'groups', 0, 'context.page', '{}'),
        ('group', 'multi', 'groups', 0, 'group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('group', 'multi', 'groups', 0, 'message_id', '17dnlr6evs61jakjuz1xt6'),
        ('group', 'multi', 'groups', 0, 'received_at', '2024-04-08T10:39:20.766Z'),
        ('group', 'multi', 'groups', 0, 'request_ip', '127.0.0.1'),
        ('group', 'multi', 'groups', 0, 'sent_at', '2024-04-08T10:39:20.764Z'),
        ('group', 'multi', 'groups', 0, 'timestamp', '2024-04-08T10:39:20.764Z'),
        ('group', 'multi', 'groups', 0, 'name', 'Ildar Nurislamov''s workspace'),
        ('group', 'multi', 'groups', 0, 'workspace_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('group', 'multi', 'groups', 0, 'workspace_name', 'Ildar Nurislamov''s workspace'),
        ('group', 'multi', 'groups', 0, 'workspace_slug', 'ildar'),
        ('group', 'multi', 'groups', 0, 'write_key', 'n6Cp3jwTGDFUZfD568wgve0mdCmPaT77:***'),
        ('page', 'single', 'events', 0, 'message_id', 'd0c6abf6-97f7-487a-a197-8f236c728fa8'),
        ('page', 'single', 'events', 0, 'anonymous_id', '6638caf0-d2c2-4bc0-aecf-8b290b559a37'),
        ('page', 'single', 'events', 0, 'context.group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('page', 'single', 'events', 0, 'context.campaign.medium', 'medium'),
        ('page', 'single', 'events', 0, 'context.campaign.name', 'campaign'),
        ('page', 'single', 'events', 0, 'context.campaign.source', 'source'),
        ('page', 'single', 'events', 0, 'context.library.name', 'jitsu-js'),
        ('page', 'single', 'events', 0, 'context.library.version', '1.0.0'),
        ('page', 'single', 'events', 0, 'context.locale', 'en-US'),
        ('page', 'single', 'events', 0, 'context.page.host', 'localhost:3088'),
        ('page', 'single', 'events', 0, 'context.page.path', '/basic.html'),
        ('page', 'single', 'events', 0, 'context.page.referrer', 'https://referrer.com'),
        ('page', 'single', 'events', 0, 'context.page.referring_domain', ''),
        ('page', 'single', 'events', 0, 'context.page.search', '?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('page', 'single', 'events', 0, 'context.page.title', 'Tracking page'),
        ('page', 'single', 'events', 0, 'context.page.url', 'https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('page', 'single', 'events', 0, 'context.screen.density', '1'),
        ('page', 'single', 'events', 0, 'context.screen.height', '720'),
        ('page', 'single', 'events', 0, 'context.screen.inner_height', '720'),
        ('page', 'single', 'events', 0, 'context.screen.inner_width', '1280'),
        ('page', 'single', 'events', 0, 'context.screen.width', '1280'),
        ('page', 'single', 'events', 0, 'context.traits.case_name', 'identify-without-user-id'),
        ('page', 'single', 'events', 0, 'context.traits.email', 'john.doe3@gmail.com'),
        ('page', 'single', 'events', 0, 'context.traits.case_last_name', 'Doe'),
        ('page', 'single', 'events', 0, 'context.traits.user_name', 'jj'),
        ('page', 'single', 'events', 0, 'context.user_agent', 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36'),
        ('page', 'single', 'events', 0, 'sent_at', '2022-11-14T08:56:34.395Z'),
        ('page', 'single', 'events', 0, 'timestamp', '2022-11-14T08:56:34.395Z'),
        ('page', 'single', 'events', 0, 'type', 'page'),
        ('page', 'single', 'events', 0, 'user_id', 'userId2'),
        ('page', 'single', 'events', 0, 'case_name', 'page-with-name'),
        ('page', 'single', 'events', 0, 'hash', ''),
        ('page', 'single', 'events', 0, 'height', '720'),
        ('page', 'single', 'events', 0, 'name', 'test-page'),
        ('page', 'single', 'events', 0, 'path', '/basic.html'),
        ('page', 'single', 'events', 0, 'search', '?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('page', 'single', 'events', 0, 'title', 'Tracking page'),
        ('page', 'single', 'events', 0, 'url', 'https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('page', 'single', 'events', 0, 'width', '1280'),
        ('identify', 'single', 'events', 0, 'write_key', 'writeKey'),
        ('identify', 'single', 'events', 0, 'message_id', 'a6c09b16-c2bc-4193-990f-5e2b694ae610'),
        ('identify', 'single', 'events', 0, 'anonymous_id', '6638caf0-d2c2-4bc0-aecf-8b290b559a37'),
        ('identify', 'single', 'events', 0, 'context.ip', '141.136.89.181'),
        ('identify', 'single', 'events', 0, 'context.group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('identify', 'single', 'events', 0, 'context.campaign.medium', 'medium'),
        ('identify', 'single', 'events', 0, 'context.campaign.name', 'campaign'),
        ('identify', 'single', 'events', 0, 'context.campaign.source', 'source'),
        ('identify', 'single', 'events', 0, 'context.library.name', 'jitsu-js'),
        ('identify', 'single', 'events', 0, 'context.library.version', '1.0.0'),
        ('identify', 'single', 'events', 0, 'context.locale', 'en-US'),
        ('identify', 'single', 'events', 0, 'context.page.host', 'localhost:3088'),
        ('identify', 'single', 'events', 0, 'context.page.path', '/basic.html'),
        ('identify', 'single', 'events', 0, 'context.page.referrer', 'https://referrer.com'),
        ('identify', 'single', 'events', 0, 'context.page.referring_domain', 'referrer.com'),
        ('identify', 'single', 'events', 0, 'context.page.search', '?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('identify', 'single', 'events', 0, 'context.page.title', 'Tracking page'),
        ('identify', 'single', 'events', 0, 'context.page.url', 'https://localhost:3088/basic.html?utm_source=source&utm_medium=medium&utm_campaign=campaign'),
        ('identify', 'single', 'events', 0, 'context.screen.density', '1'),
        ('identify', 'single', 'events', 0, 'context.screen.height', '720'),
        ('identify', 'single', 'events', 0, 'context.screen.inner_height', '720'),
        ('identify', 'single', 'events', 0, 'context.screen.inner_width', '1280'),
        ('identify', 'single', 'events', 0, 'context.screen.width', '1280'),
        ('identify', 'single', 'events', 0, 'context.traits.case_name', 'basic-identify'),
        ('identify', 'single', 'events', 0, 'context.traits.case_last_name', 'Doe'),
        ('identify', 'single', 'events', 0, 'context.traits.user_name', 'jj'),
        ('identify', 'single', 'events', 0, 'context.traits.email', 'john.doe2@gmail.com'),
        ('identify', 'single', 'events', 0, 'context.user_agent', 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/107.0.5304.18 Safari/537.36'),
        ('identify', 'single', 'events', 0, 'sent_at', '2022-11-14T08:56:34.387Z'),
        ('identify', 'single', 'events', 0, 'timestamp', '2022-11-14T08:56:34.387Z'),
        ('identify', 'single', 'events', 0, 'type', 'identify'),
        ('identify', 'single', 'events', 0, 'user_id', 'userId2'),
        ('track', 'single', 'events', 0, 'event', 'testEvent'),
        ('track', 'single', 'events', 0, 'test_prop', 'test event properties'),
        ('track', 'single', 'events', 0, 'nested_obj.nested_prop', 'sad'),
        ('track', 'single', 'events', 0, 'user_id', 'user@example.com'),
        ('track', 'single', 'events', 0, 'anonymous_id', '6638caf0-d2c2-4bc0-aecf-8b290b559a37'),
        ('track', 'single', 'events', 0, 'timestamp', '2022-11-14T08:56:34.395Z'),
        ('track', 'single', 'events', 0, 'sent_at', '2022-11-14T08:56:34.395Z'),
        ('track', 'single', 'events', 0, 'message_id', 'd0c6abf6-97f7-487a-a197-8f236c728fa8'),
        ('track', 'single', 'events', 0, 'context.group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('track', 'single', 'events', 0, 'context.library.name', 'jitsu-js'),
        ('track', 'single', 'events', 0, 'context.library.version', '1.0.0'),
        ('track', 'single', 'events', 0, 'context.ip', '127.0.0.1'),
        ('track', 'single', 'events', 0, 'context.user_agent', 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:109.0) Gecko/20100101 Firefox/111.0'),
        ('track', 'single', 'events', 0, 'context.locale', 'en-US'),
        ('track', 'single', 'events', 0, 'context.screen.width', '2304'),
        ('track', 'single', 'events', 0, 'context.screen.height', '1296'),
        ('track', 'single', 'events', 0, 'context.screen.inner_width', '1458'),
        ('track', 'single', 'events', 0, 'context.screen.inner_height', '1186'),
        ('track', 'single', 'events', 0, 'context.screen.density', '2'),
        ('track', 'single', 'events', 0, 'context.traits.email', 'user@example.com'),
        ('track', 'single', 'events', 0, 'context.page.path', '/'),
        ('track', 'single', 'events', 0, 'context.page.referrer', ''),
        ('track', 'single', 'events', 0, 'context.page.referring_domain', ''),
        ('track', 'single', 'events', 0, 'context.page.host', 'example.com'),
        ('track', 'single', 'events', 0, 'context.page.search', ''),
        ('track', 'single', 'events', 0, 'context.page.title', 'Example page event'),
        ('track', 'single', 'events', 0, 'context.page.url', 'https://example.com/'),
        ('track', 'single', 'events', 0, 'context.page.encoding', 'UTF-8'),
        ('track', 'single', 'events', 0, 'context.campaign.name', 'example'),
        ('track', 'single', 'events', 0, 'context.campaign.source', 'g'),
        ('track', 'single', 'events', 0, 'type', 'track'),
        ('track', 'single', 'events', 0, 'request_ip', '127.0.0.1'),
        ('track', 'single', 'events', 0, 'received_at', '2022-11-14T08:56:34.395Z'),
        ('group', 'single', 'events', 0, 'anonymous_id', 'fab18d01-fb6a-4845-b9ca-300b9db35527'),
        ('group', 'single', 'events', 0, 'context.campaign', '{}'),
        ('group', 'single', 'events', 0, 'context.client_ids', '{}'),
        ('group', 'single', 'events', 0, 'context.group.name', 'Ildar Nurislamov''s workspace'),
        ('group', 'single', 'events', 0, 'context.group.workspace_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('group', 'single', 'events', 0, 'context.group.workspace_name', 'Ildar Nurislamov''s workspace'),
        ('group', 'single', 'events', 0, 'context.group.workspace_slug', 'ildar'),
        ('group', 'single', 'events', 0, 'context.group_id', 'cl9y5kgth0002ccfn3vtqz64g'),
        ('group', 'single', 'events', 0, 'context.library.env', 'node'),
        ('group', 'single', 'events', 0, 'context.library.name', '@jitsu/js'),
        ('group', 'single', 'events', 0, 'context.library.version', '2.0.0'),
        ('group', 'single', 'events', 0, 'context.page', '{}'),
        ('group', 'single', 'events', 0, 'message_id', '17dnlr6evs61jakjuz1xt6'),
        ('group', 'single', 'events', 0, 'received_at', '2024-04-08T10:39:20.766Z'),
        ('group', 'single', 'events', 0, 'request_ip', '127.0.0.1'),
        ('group', 'single', 'events', 0, 'type', 'group'),
        ('group', 'single', 'events', 0, 'sent_at', '2024-04-08T10:39:20.764Z'),
        ('group', 'single', 'events', 0, 'timestamp', '2024-04-08T10:39:20.764Z'),
        ('group', 'single', 'events', 0, 'write_key', 'n6Cp3jwTGDFUZfD568wgve0mdCmPaT77:***')
        ) t(case_name, mode, table_name, row_idx, path, value)""")),
    // J2: sessionization (30-min gap) — session stats per user
    ("j2_sessions",
      ((s, dir) =>
      Sessionize.sessions(env(s, dir), col("anonymous_id"), col("timestamp"))
        .groupBy(col("key").as("anonymous_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"))),
      (adapterCte +
      """SELECT anonymous_id,
        |  CAST(COUNT(DISTINCT session_idx) AS BIGINT) AS n_sessions,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM (
        |  SELECT anonymous_id,
        |    SUM(new_session) OVER (PARTITION BY anonymous_id
        |      ORDER BY timestamp, message_id
        |      ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM (
        |    SELECT anonymous_id, timestamp, message_id,
        |      CASE WHEN lag(timestamp) OVER (PARTITION BY anonymous_id
        |          ORDER BY timestamp, message_id) IS NULL
        |        OR date_diff('second', lag(timestamp) OVER (
        |          PARTITION BY anonymous_id ORDER BY timestamp, message_id),
        |          timestamp) > 1800
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM env))
        |GROUP BY anonymous_id""".stripMargin)),
    // J1: user recognition, batch form — recovered identities
    // J1d: the reference's OWN user-recognition test replayed end-to-end
    // (user-recognition.test.ts): three anonymous page events arrive in
    // batch 0 and must EMIT UNCHANGED immediately (the reference's
    // `return event` after addEvent); the identify in batch 1 re-emits
    // all three with BOTH identifier fields merged (userId + the
    // context.traits object — lodash merge via dotted setPath); a
    // second identify in batch 2 finds an empty buffer and emits only
    // itself. All nine expected emissions are value-pinned, including
    // the traits deep-merged into events that had none.
    ("j1d_ur_golden",
      ((s, dir) => urGoldenRun(s, rocksdb = false)),
      urGoldenOracle),
    // J1e: the SAME golden replay with the state on the RocksDB
    // provider (the one production streams run; j1d runs on the default
    // HDFS-backed provider) — the state machine must emit the
    // reference's exact pinned sets whichever store backs it. The id
    // keeps its historical `_tws` suffix.
    ("j1e_ur_golden_tws",
      ((s, dir) => urGoldenRun(s, rocksdb = true)),
      urGoldenOracle),
    // J1f (beyond-ref operational guard): maxBufferPerKey — a hot
    // anonymous key's buffer stops growing at the cap; capped events
    // still DELIVER unchanged but can never be back-filled with an
    // identity (drop-newest — see URConfig.maxBufferPerKey). Cap 3
    // spans two batches (2 buffered, then 1 more, then two over the
    // cap), so the persisted counter — not an in-batch length — is what
    // the oracle pins.
    ("j1f_ur_buffer_cap",
      ((s, dir) => {
      val in = Files.createTempDirectory("ur-cap-in").toString
      def page(id: Int, ident: Boolean) =
        s"""{"message_id":"m$id","type":"${if (ident) "identify" else "page"}",""" +
          s""""anonymous_id":"capA",""" +
          (if (ident) s""""user_id":"u1",""" else "") +
          s""""timestamp":"2024-01-01T10:0$id:00Z"}"""
      def stage(name: String, mtime: Long, lines: Seq[String]): Unit = {
        val f = new java.io.File(in, name)
        Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
        f.setLastModified(mtime); ()
      }
      stage("b0.txt", 1700000000000L,
        Seq(page(1, ident = false), page(2, ident = false)))
      stage("b1.txt", 1700000060000L,
        Seq(page(3, ident = false), page(4, ident = false),
          page(5, ident = false)))
      stage("b2.txt", 1700000120000L, Seq(page(6, ident = true)))
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "2")
      val raw = s2.readStream.format("text")
        .option("maxFilesPerTrigger", "1").load(in)
      val envStream = raw
        .select(from_json(col("value").cast("string"),
          graft.schema.EventSchema.envelope).as("e"))
        .select("e.*")
      val resolved = UserRecognition.streamingResolveConfigured(envStream,
        UserRecognition.URConfig(maxBufferPerKey = 3))
      val out = Files.createTempDirectory("ur-cap-out").toString
      val cp = Files.createTempDirectory("ur-cap-cp").toString
      val q = resolved.toDF("payload").writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", out)
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(out).select(
        get_json_object(col("payload"), "$.message_id").as("message_id"),
        get_json_object(col("payload"), "$.user_id").as("user_id"))
    }),
      """SELECT * FROM (VALUES
        |  ('m1', NULL), ('m2', NULL), ('m3', NULL),
        |  ('m4', NULL), ('m5', NULL),
        |  ('m1', 'u1'), ('m2', 'u1'), ('m3', 'u1'),
        |  ('m6', 'u1')
        |) t(message_id, user_id)""".stripMargin),

    ("j1_user_recognition",
      ((s, dir) =>
      UserRecognition.resolveBatch(env(s, dir))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("recognized"), 1).otherwise(0)).as("n_recognized"))),
      j1ResolvedOracle),
    // J1g: the bucketed-by-day batch variant — row-for-row the same
    // resolution as j1 (same oracle verbatim), computed with per-task
    // state bounded by (key, 7-day bucket) instead of a key's full
    // history; bucketDays=7 < lookback=30 exercises the multi-bucket
    // cross-join path (5 candidate buckets per event)
    ("j1g_ur_bucketed",
      ((s, dir) =>
      UserRecognition.resolveBucketed(env(s, dir),
          UserRecognition.URConfig(), bucketDays = 7)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("recognized"), 1).otherwise(0)).as("n_recognized"))),
      j1ResolvedOracle),
    // J5/A6/A7: built-in profile build
    ("j5_profiles",
      ((s, dir) =>
      Profiles.buildProfiles(UserRecognition.resolveBatch(env(s, dir)))
        .select(col("user_id"), col("email"), col("name"),
          col("last_anonymous_id"), col("n_events"),
          unix_timestamp(col("first_seen")).as("first_seen_s"),
          unix_timestamp(col("last_seen")).as("last_seen_s"),
          col("n_tracks"), col("n_pages"))),
      (adapterCte +
      """, resolved AS (
        |  SELECT *,
        |    COALESCE(user_id, FIRST_VALUE(user_id IGNORE NULLS) OVER (
        |      PARTITION BY anonymous_id ORDER BY timestamp, message_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS r_user_id
        |  FROM env)
        |SELECT r_user_id AS user_id,
        |  MAX(CASE WHEN type = 'identify'
        |    THEN 'user' || raw_user_id || '@example.com' END) AS email,
        |  MAX(CASE WHEN type = 'identify'
        |    THEN 'User ' || raw_user_id END) AS name,
        |  arg_max(anonymous_id, timestamp) AS last_anonymous_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(epoch(date_trunc('second', MIN(timestamp))) AS BIGINT)
        |    AS first_seen_s,
        |  CAST(epoch(date_trunc('second', MAX(timestamp))) AS BIGINT)
        |    AS last_seen_s,
        |  CAST(SUM(CASE WHEN type = 'track' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tracks,
        |  CAST(SUM(CASE WHEN type = 'page' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pages
        |FROM resolved WHERE r_user_id IS NOT NULL
        |GROUP BY r_user_id""".stripMargin)),
    // J5c: INCREMENTAL profile maintenance — the reference's profile
    // builder loop (S6 changed-users scan feeding S5 per-user history
    // rebuilds, builder.ts:305-342): only users with events in the
    // changed window are rebuilt, each over their FULL history. The
    // oracle is the full j5 profile SQL restricted to the changed-user
    // set — i.e. the gate asserts the incremental path produces
    // byte-identical profiles to a full rebuild for every touched user
    // (the materialized-view maintenance contract).
    ("j5c_incremental_profiles",
      ((s, dir) => {
      val resolved = UserRecognition.resolveBatch(env(s, dir))
      val changed = Profiles.changedUsers(resolved,
        java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
      Profiles.buildProfiles(
          resolved.join(changed, Seq("user_id"), "left_semi"))
        .select(col("user_id"), col("email"), col("name"),
          col("last_anonymous_id"), col("n_events"),
          unix_timestamp(col("first_seen")).as("first_seen_s"),
          unix_timestamp(col("last_seen")).as("last_seen_s"),
          col("n_tracks"), col("n_pages"))
    }),
      (adapterCte +
      """, resolved AS (
        |  SELECT *,
        |    COALESCE(user_id, FIRST_VALUE(user_id IGNORE NULLS) OVER (
        |      PARTITION BY anonymous_id ORDER BY timestamp, message_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS r_user_id
        |  FROM env),
        |changed AS (
        |  SELECT DISTINCT r_user_id FROM resolved
        |  WHERE timestamp > TIMESTAMP '2024-01-05 00:00:00'
        |    AND timestamp <= TIMESTAMP '2024-01-20 00:00:00'
        |    AND r_user_id IS NOT NULL)
        |SELECT r_user_id AS user_id,
        |  MAX(CASE WHEN type = 'identify'
        |    THEN 'user' || raw_user_id || '@example.com' END) AS email,
        |  MAX(CASE WHEN type = 'identify'
        |    THEN 'User ' || raw_user_id END) AS name,
        |  arg_max(anonymous_id, timestamp) AS last_anonymous_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(epoch(date_trunc('second', MIN(timestamp))) AS BIGINT)
        |    AS first_seen_s,
        |  CAST(epoch(date_trunc('second', MAX(timestamp))) AS BIGINT)
        |    AS last_seen_s,
        |  CAST(SUM(CASE WHEN type = 'track' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tracks,
        |  CAST(SUM(CASE WHEN type = 'page' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pages
        |FROM resolved
        |WHERE r_user_id IN (SELECT r_user_id FROM changed)
        |GROUP BY r_user_id""".stripMargin)))

  val pipeline: Map[String, Q] =
    pipelineGated.map(g => (g._1, g._2)).toMap

  val pipelineOracles: Map[String, String] =
    pipelineGated.map(g => (g._1, g._3)).toMap

  def all: Map[String, Q] =
    relational ++ pipeline ++ QueriesTrainingData.queries ++
      QueriesSystem.queries ++ QueriesExtra.queries ++
      QueriesSaas.queries ++ QueriesEval.queries
  def allOracles: Map[String, String] =
    relationalOracles ++ pipelineOracles ++ QueriesTrainingData.oracles ++
      QueriesSystem.oracles ++ QueriesExtra.oracles ++
      QueriesSaas.oracles ++ QueriesEval.oracles
}
