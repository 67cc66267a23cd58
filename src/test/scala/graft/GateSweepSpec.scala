package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one registry sweep: every gate is built ONCE on the sf0.001
  * slice, and its frame goes through every per-gate check. Each gate is
  * its own test, named after the gate, so
  * `testOnly graft.GateSweepSpec -- -z <gate>` runs one gate's checks.
  * In order:
  *
  *  1. Plan shape (read from the frame's plans, nothing executes). A
  *     CartesianProduct is corpus² work at any scale, and a ScalaUDF
  *     punches a hole in whole-stage codegen. BroadcastNestedLoopJoin is
  *     legitimate ONLY when the broadcast side is bounded by
  *     construction (a handful of queries, thresholds, or centroids —
  *     never a corpus). Both are allowed only on the whitelisted gates
  *     below, so a NEW nested-loop join or UDF is a conscious decision,
  *     not an accident; and a whitelisted UDF gate must still carry its
  *     UDF, so the whitelist stays honest in both directions.
  *  2. Oracle types (the frame's schema against DuckDB's `DESCRIBE` of
  *     the gate's oracle SQL). DuckDB promotes `SUM` over integer
  *     columns to HUGEINT (int128), which the correctness check's row
  *     hash canonicalizes as `12.0` while Spark's int64 prints `12` —
  *     every row hash differs even when every value is equal. Exactly this (one bare
  *     `SUM(turn_tokens)`) kept `td_sft_assemble` red for two rounds
  *     while the Spark output was value-correct. A string lint over the
  *     SQL can't see column types, so DuckDB itself is asked (type
  *     inference only — no oracle query is executed), and the check
  *     fails on
  *       - any HUGEINT / UHUGEINT output column (canonicalizes with a
  *         fractional rendering that can never match Spark's integer
  *         types; DECIMAL(p,s>0) is float-class — `ROUND(x, 1)` gates
  *         are green against Spark doubles — and is checked as such),
  *       - any numeric column whose integer/float render class differs
  *         from the Spark gate's column of the same name (`12` vs
  *         `12.0`),
  *       - any column name present on one side only (the correctness
  *         check sorts columns by name before hashing, so a name drift
  *         is a guaranteed mismatch),
  *       - any oracle SQL DuckDB cannot analyze at all.
  *     The probe shells the host's `python3` + `duckdb` (the same
  *     engine the oracle comparison runs); if either is unavailable
  *     this check is skipped and its self-test cancels, so `sbt test`
  *     stays portable.
  *  3. Output hygiene (the one check that executes the frame). The
  *     correctness check canonicalizes rows line-by-line before
  *     hashing, so a raw `\n` (or `\r`, NUL, ...) inside a VALUE breaks
  *     its hash even when every value is correct — exactly what happened
  *     to `td_sft_assemble` in round 11 (its transcript joined turns
  *     with `\n`). Every output column (nested values included, via a
  *     string cast) is scanned for `[\x00-\x1F\x7F]` in one aggregation
  *     that rides the gate's own plan; nothing is collected but one row.
  */
class GateSweepSpec extends GraftSpec {
  import spark.implicits._
  import GateSweepSpec._

  // ---- plan-shape whitelists ----

  private val bnlBounded = Set(
    // ANN top-k: the query set is a fixed handful, broadcast against
    // the corpus scan (brute baseline + the pruned variants' rerank;
    // emb_matryoshka runs the same brute scorer at two widths)
    "ann_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
    "ann_ivfpq_topk", "emb_matryoshka",
    // retrieval eval / mining / audits: bounded query/label sides
    // (emb_label_noise drives the exact bruteForceTopK form on 10
    // query vectors; the celled ivfTopK form is the corpus path)
    "td_bm25", "td_tfidf_terms", "td_pmi", "td_llr_bigrams",
    "td_hybrid_rrf",
    "td_retrieval_eval", "emb_hard_negatives", "emb_label_noise",
    // threshold/range frames of a few rows against aggregates
    "a12_heavy_hitters", "a20_rfm", "a23_theta_overlap", "dq_checks",
    "l5_stats_skipping", "skew_hotcold_join",
    // bootstrap resampling: the broadcast side is the nBoot-row
    // replicate index (require-bounded at 10^4)
    "td_bootstrap_ci", "td_bootstrap_delta",
    // ALS factor scoring: rank-sized factor tables
    "g4_als_recs",
    // Benford audit: the broadcast sides are the fixed 9-digit
    // expectation frame and the 1-row skipped-count scalar
    "dq_benford",
    // chi-square cells: the cross product is the category-margin
    // frame against itself (|statuses| x |priorities| = 15 cells
    // here; category cardinality, never corpus rows)
    "st_chi2_cells",
    // Cramér's V composes the same chi-square cell frame (category
    // margins crossed) into its one-row summary
    "st_cramers_v",
    // table profiler: per requested column, the report row is
    // assembled by a 1-row x 1-row join (the scan-shaped stats
    // aggregate against the argmax row of the value-keyed
    // aggregation) — both sides are single-row scalars by
    // construction, columns bounded by the caller's list
    "dq_profile",
    // Gini audit: the report row joins the 1-row skipped-count
    // scalar (dq_benford's exact shape)
    "st_gini",
    // conformal audit: three 1-row scalar aggregates (counts,
    // threshold, coverage) assemble the one-row report
    "eval_conformal",
    // MAD: the 1-row median joins back for residuals, and the
    // 1-row x 1-row report assembly
    "st_mad",
    // Theil-Sen: the pairwise-slope inequality join runs over the
    // DAY-bounded rollup (require-checked before the join) and the
    // 1-row report assembly
    "st_theil_sen",
    // winsorization: the 1-row fence (median/MAD) broadcast back
    // over the scan, plus the MAD report assembly
    "dq_winsorize",
    // Zipf head: the 3-row k-frame broadcast against the
    // vocabulary-sized rank table
    "td_zipf_head",
    // vocab overlap: the pair grid is the GROUP-cardinality size
    // table against itself (st_chi2_cells precedent)
    "td_vocab_overlap",
    // QQ deciles: the 9-row decile frame broadcast against each
    // side's distinct-value table
    "st_qq_deciles",
    // HITS: the per-round 1-row max-normalization scalar broadcast
    // back over the node-sized score table
    "g10_hits",
    // Mann-Kendall: the pairwise-sign inequality join runs over the
    // DAY-bounded rollup (require-checked) + 1-row report assembly
    "st_mann_kendall",
    // runs test: the 1-row median broadcast back over the
    // day-bounded rollup
    "st_runs_test")
  // Scala UDFs allowed ONLY with a stated bound (same discipline as
  // the BNLJ whitelist: a NEW UDF is a conscious decision, not an
  // accident). Two groups:
  //  (1) vocab-bounded tokenizer encodes — the BPE merge loop
  //      (Tokenizer.encodeHistogram), the unigram Viterbi DP
  //      (unigramEncodeWords), and the WordPiece greedy matcher
  //      (wordpieceEncodeWords) are iterative per-word fixpoints no
  //      Spark built-in expresses; each udf runs over the
  //      DISTINCT-WORD histogram (vocabulary-sized at any corpus
  //      scale) and the corpus only ever joins the broadcast encode
  //      table back by word;
  //  (2) Spark-MLlib-internal UDFs — ALS.transform's factor-dot
  //      prediction (rank-12 vectors) and the ML pipeline's
  //      HashingTF/LogisticRegression transformers; the library owns
  //      these (MLlib has no expression-based scoring path), the
  //      per-row work is a fixed-width vector op, and hand-rolling a
  //      codegen twin of a library model would be worse engineering.
  private val udfVocabBounded = Set(
    "td_bpe_encode", "td_tokenizer_fertility",       // BPE merge loop
    "td_unigram_encode", "td_unigram_doc",           // unigram Viterbi
    "td_wordpiece_encode",                           // WordPiece greedy
    "g4_als_recs",                                   // MLlib ALS predict
    "td_quality_classifier")                         // MLlib LR pipeline

  // ---- oracle-type audit ----

  private val tables = Seq("events", "documents", "embeddings",
    "lineitem", "orders", "customer", "supplier", "part", "nation",
    "region")

  private lazy val duckAvailable: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import duckdb")
        .redirectErrorStream(true).start()
      p.waitFor() == 0
    } catch { case _: Throwable => false }

  /** DESCRIBE every oracle SQL of `oracles` in DuckDB over the sf0.001
    * views: name -> (colName -> duckType), or name -> error marker. */
  private def describeAll(oracles: Map[String, String]): Map[String, Either[String, Map[String, String]]] = {
    val sqlDir = Files.createTempDirectory("oracle_sql")
    oracles.foreach { case (name, sql) =>
      Files.writeString(sqlDir.resolve(s"$name.sql"), sql)
    }
    val script = Files.createTempFile("oracle_describe", ".py")
    Files.writeString(script,
      s"""import duckdb, os, sys
         |sf, d = sys.argv[1], sys.argv[2]
         |con = duckdb.connect()
         |for t in ${tables.map("'" + _ + "'").mkString("[", ",", "]")}:
         |    con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, sf, t))
         |for f in sorted(os.listdir(d)):
         |    if not f.endswith('.sql'): continue
         |    name = f[:-4]
         |    sql = open(os.path.join(d, f)).read()
         |    try:
         |        for col, typ, *_ in con.execute('DESCRIBE ' + sql).fetchall():
         |            print('%s\\t%s\\t%s' % (name, col, typ))
         |    except Exception as e:
         |        print('%s\\tERROR\\t%s' % (name, str(e).replace('\\n', ' ')[:200]))
         |""".stripMargin)
    val pb = new ProcessBuilder("python3", script.toString, sf,
      sqlDir.toString).redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val code = proc.waitFor()
    assert(code == 0, s"duckdb describe probe exited $code:\n$out")
    out.linesIterator.toSeq
      .map(_.split("\t", 3)).collect { case Array(n, c, t) => (n, c, t) }
      .groupBy(_._1).map { case (n, rows) =>
        rows.find(_._2 == "ERROR") match {
          case Some((_, _, msg)) => n -> Left(msg)
          case None => n -> Right(rows.map(r => r._2 -> r._3).toMap)
        }
      }
  }

  /** Every registered oracle, described once per suite. */
  private lazy val described = describeAll(SparkEntry.oracleSql)

  private val duckInt =
    Set("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
  private val duckFloat = Set("FLOAT", "DOUBLE")
  private def duckHazard(t: String): Boolean =
    t == "HUGEINT" || t == "UHUGEINT" ||
      t.startsWith("DECIMAL") && t.endsWith(",0)") || // int-rendering decimal
      // container outputs canonicalize engine-specifically ('[1, 2]' vs
      // '[1 2]' etc.) — no gate emits one today; keep it that way
      t.endsWith("[]") || t.startsWith("STRUCT") || t.startsWith("MAP") ||
      t.startsWith("UNION")

  private def sparkClass(dt: DataType): Option[String] = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
      Some("int")
    case _: FloatType | _: DoubleType => Some("float")
    case _ => None // non-numeric: rendering matches across engines today
  }
  private def duckClass(t: String): Option[String] =
    if (duckInt(t)) Some("int")
    else if (duckFloat(t) || t.startsWith("DECIMAL")) Some("float")
    else None

  /** One gate's oracle-type problems (empty = clean): its DuckDB
    * description against the Spark schema. */
  private def typeProblems(name: String,
                           duck: Option[Either[String, Map[String, String]]],
                           schema: StructType): Seq[String] = duck match {
    case None | Some(Left(_)) =>
      Seq(s"$name: DuckDB cannot analyze oracle SQL: " +
        duck.flatMap(_.left.toOption).getOrElse("missing"))
    case Some(Right(duckCols)) =>
      val problems = scala.collection.mutable.ArrayBuffer.empty[String]
      duckCols.foreach { case (c, t) =>
        if (duckHazard(t))
          problems += s"$name.$c: oracle yields $t (canonicalizes " +
            "fractionally; wrap in CAST(... AS BIGINT/DOUBLE))"
      }
      val sparkCols = schema.fields.map(f => f.name -> f.dataType)
      val sparkNames = sparkCols.map(_._1).toSet
      (duckCols.keySet -- sparkNames).foreach(c =>
        problems += s"$name.$c: oracle-only column (name drift)")
      (sparkNames -- duckCols.keySet).foreach(c =>
        problems += s"$name.$c: spark-only column (name drift)")
      sparkCols.foreach { case (c, dt) =>
        for {
          t <- duckCols.get(c) if !duckHazard(t)
          sc <- sparkClass(dt); dc <- duckClass(t) if sc != dc
        } problems += s"$name.$c: spark $dt renders as $sc but " +
          s"oracle $t renders as $dc (12 vs 12.0 hash mismatch)"
      }
      problems.toSeq
  }

  /** The full audit over a (name -> oracle SQL) map — the per-gate
    * check's exact code path, run by the planted-violation self-test. */
  private def auditProblems(oracles: Map[String, String],
                            sparkSchemaOf: String => StructType): Seq[String] = {
    val duck = describeAll(oracles)
    oracles.keys.toSeq.sorted.flatMap(name =>
      typeProblems(name, duck.get(name), sparkSchemaOf(name)))
  }

  // ---- output hygiene ----

  // every C0 control char plus DEL; matched against the string CAST of
  // each column so strings nested in arrays/structs/maps are covered too
  private val ctrl = "[\\x00-\\x1F\\x7F]"

  /** Columns of `df` whose string cast contains a control character in
    * any row. */
  private def ctrlOffendingCols(df: DataFrame): Seq[String] = {
    val flags = df.columns.map(c =>
      max(coalesce(col(c).cast("string").rlike(ctrl), lit(false)))
        .as(c))
    val row = df.agg(flags.head, flags.tail.toIndexedSeq: _*).collect()
    if (row.isEmpty) Seq.empty
    else df.columns.filter(c => row.head.getAs[Boolean](c)).toSeq
  }

  // ---- self-tests: each detector provably fires ----

  test("planted violations fire: the detector sees top-level, nested, and \\r control chars — and stays quiet on clean frames") {
    // the exact round-11 failure shape: a newline inside a VALUE
    val topLevel = Seq((1L, "a\nb"), (2L, "ok")).toDF("id", "transcript")
    assert(ctrlOffendingCols(topLevel) == Seq("transcript"),
      "detector missed a top-level \\n")
    // nested inside an array column (covered via the string cast)
    val nested = Seq((1L, Seq("clean", "tab\there"))).toDF("id", "turns")
    assert(ctrlOffendingCols(nested) == Seq("turns"),
      "detector missed a \\t nested in an array")
    // \r and NUL count too
    assert(ctrlOffendingCols(Seq(("x\rx")).toDF("v")) == Seq("v"))
    assert(ctrlOffendingCols(Seq(("x\u0000x")).toDF("v")) == Seq("v"))
    // a clean frame (spaces, unicode, punctuation) must NOT fire
    val clean = Seq((1L, "hello | world", "café ok"))
      .toDF("id", "a", "b")
    assert(ctrlOffendingCols(clean).isEmpty, "false positive on clean data")
    // and an empty frame is quiet, not an error
    assert(ctrlOffendingCols(clean.limit(0)).isEmpty)
  }

  test("planted violations fire: the audit catches each hazard class it exists for — and passes a clean fixture") {
    assume(duckAvailable, "python3+duckdb not on this host; probe skipped")
    def schema(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val fixtures = Map(
      // the exact td_sft_assemble killer: bare SUM(int) -> HUGEINT
      "bad_hugeint" -> "SELECT SUM(o_orderkey) AS s FROM orders",
      // spark says column b, oracle says column a
      "bad_drift" -> "SELECT 1 AS a",
      // AVG renders 12.0 on DuckDB while the spark column is int64
      "bad_class" -> "SELECT AVG(o_orderkey) AS v FROM orders",
      // not analyzable at all
      "bad_sql" -> "SELECT FROM nowhere_at_all",
      // a correct gate shape: no findings expected
      "good" -> "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders")
    val schemas = Map(
      "bad_hugeint" -> schema("s" -> LongType),
      "bad_drift" -> schema("b" -> IntegerType),
      "bad_class" -> schema("v" -> LongType),
      "bad_sql" -> schema("x" -> LongType),
      "good" -> schema("n" -> LongType))
    val problems = auditProblems(fixtures, schemas)
    def hit(sub: String) = problems.exists(_.contains(sub))
    assert(hit("bad_hugeint.s: oracle yields HUGEINT"),
      s"HUGEINT lint silent:\n${problems.mkString("\n")}")
    assert(hit("bad_drift.a: oracle-only column") &&
      hit("bad_drift.b: spark-only column"),
      s"name-drift lint silent:\n${problems.mkString("\n")}")
    assert(hit("bad_class.v: spark LongType renders as int"),
      s"render-class lint silent:\n${problems.mkString("\n")}")
    assert(hit("bad_sql: DuckDB cannot analyze"),
      s"analyze-failure lint silent:\n${problems.mkString("\n")}")
    assert(!problems.exists(_.startsWith("good")),
      s"false positive on the clean fixture:\n${problems.mkString("\n")}")
  }

  test("the ScalaUDF detector can actually fire (self-test)") {
    import org.apache.spark.sql.functions.{col, udf}
    val withUdf = spark.range(2)
      .select(udf((x: Long) => x + 1).apply(col("id")).as("y"))
    assert(hasScalaUdf(withUdf),
      "detector failed to flag a plan that provably contains a ScalaUDF")
    // and the r13 judge's counter-evidence stays pinned: the rendered
    // plan never contains the literal class name, so a string check is
    // structurally unable to detect the thing it names
    val rendered = withUdf.queryExecution.executedPlan.toString()
    assert(!rendered.contains("ScalaUDF"),
      "Spark started rendering ScalaUDF by class name — the string " +
        "check works again; simplify hasScalaUdf if so")
    val clean = spark.range(2).select((col("id") + 1).as("y"))
    assert(!hasScalaUdf(clean), "detector fired on a UDF-free plan")
  }

  test("every plan whitelist entry names a registered gate") {
    val unknown = (bnlBounded ++ udfVocabBounded) -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"whitelist entries that name no gate: $unknown")
  }

  // ---- one test per gate ----

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(name) {
      val df =
        try fn(spark, sf)
        catch { case e: Throwable =>
          fail(s"gate $name failed to build at sf0.001: ${e.getMessage}", e)
        }
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct"), s"$name: CartesianProduct")
      if (udfVocabBounded(name))
        assert(hasScalaUdf(df), s"stale ScalaUDF whitelist entry " +
          s"(gate is UDF-free now): $name")
      else
        assert(!hasScalaUdf(df), s"$name: unwhitelisted ScalaUDF")
      assert(!p.contains("BroadcastNestedLoopJoin") || bnlBounded(name),
        s"$name: unwhitelisted BroadcastNestedLoopJoin")
      if (duckAvailable) {
        val problems = typeProblems(name, described.get(name), df.schema)
        assert(problems.isEmpty,
          s"${problems.size} oracle type hazards:\n" + problems.mkString("\n"))
      }
      val bad = ctrlOffendingCols(df)
      assert(bad.isEmpty, s"gate emitting control characters in output " +
        s"values: $name(${bad.mkString(",")})")
    }
  }
}

object GateSweepSpec {

  /** TRUE ScalaUDF detector. `executedPlan.toString.contains("ScalaUDF")`
    * can NEVER fire — Spark stringifies ScalaUDF expressions as
    * `UDF(col#n)`, not by class name — so a string check is a no-op
    * detector. This
    * one walks the optimized logical plan's expression trees (plus all
    * subquery plans) and matches on the expression CLASS, which cannot
    * be fooled by rendering. The self-test above proves it. */
  def hasScalaUdf(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def scan(p: LogicalPlan): Boolean =
      p.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])))
    val lp = df.queryExecution.optimizedPlan
    scan(lp) || lp.subqueriesAll.exists(scan)
  }
}
