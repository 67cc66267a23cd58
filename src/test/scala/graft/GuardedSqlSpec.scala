package graft

import graft.sql.GuardedSql
import graft.sql.GuardedSql.SqlRejected

class GuardedSqlSpec extends GraftSpec {

  private lazy val init: Unit = {
    spark.read.parquet(s"$sf/lineitem.parquet")
      .createOrReplaceTempView("lineitem_v")
  }

  test("SELECT passes, default limit 50, row numbers from 1") {
    init
    val out = GuardedSql.query(spark,
      "SELECT l_orderkey FROM lineitem_v ORDER BY l_orderkey")
    val rows = out.collect()
    assert(rows.length == 50)
    assert(rows.map(_.getAs[Int]("#")).toSeq == (1 to 50))
  }

  test("user limit below api limit respected; above clamped") {
    init
    assert(GuardedSql.query(spark,
      "SELECT l_orderkey FROM lineitem_v ORDER BY l_orderkey LIMIT 7")
      .count() == 7)
    assert(GuardedSql.query(spark,
      "SELECT l_orderkey FROM lineitem_v ORDER BY l_orderkey LIMIT 9999")
      .count() == 50)
  }

  test("offset shifts rows and numbering") {
    init
    val rows = GuardedSql.query(spark,
      "SELECT l_orderkey FROM lineitem_v ORDER BY l_orderkey LIMIT 5",
      offset = 3).collect()
    assert(rows.length == 5)
    assert(rows.head.getAs[Int]("#") == 4)
  }

  test("non-SELECT statements rejected") {
    init
    intercept[SqlRejected](GuardedSql.query(spark,
      "DROP TABLE lineitem_v"))
    intercept[SqlRejected](GuardedSql.query(spark,
      "INSERT INTO lineitem_v VALUES (1)"))
    intercept[SqlRejected](GuardedSql.query(spark,
      "SET spark.sql.shuffle.partitions=1"))
    intercept[SqlRejected](GuardedSql.query(spark,
      "SELECT 1; SELECT 2"))
  }

  test("';' inside a string literal is not treated as multi-statement") {
    init
    val rows = GuardedSql.query(spark, "SELECT 'a;b' AS s").collect()
    assert(rows.length == 1 && rows.head.getAs[String]("s") == "a;b")
    // trailing semicolon is a single statement too
    assert(GuardedSql.query(spark, "SELECT 1 AS x;").count() == 1)
    val ex = intercept[SqlRejected](GuardedSql.query(spark,
      "SELECT 1; DROP TABLE lineitem_v"))
    assert(ex.getMessage.contains("multi-statement"))
  }

  test("table whitelist enforced") {
    init
    intercept[SqlRejected](GuardedSql.query(spark,
      "SELECT * FROM lineitem_v", allowedTables = Set("orders")))
    assert(GuardedSql.query(spark,
      "SELECT l_orderkey FROM lineitem_v ORDER BY 1 LIMIT 1",
      allowedTables = Set("lineitem_v")).count() == 1)
  }

  test("queryCached: formatting variants share one entry; rows identical") {
    init
    GuardedSql.clearResultCache()
    val (a, c1) = GuardedSql.queryCached(spark,
      "SELECT l_orderkey FROM lineitem_v ORDER BY l_orderkey LIMIT 5")
    assert(!c1)
    // different whitespace/casing, same canonical plan -> cache hit
    val (b, c2) = GuardedSql.queryCached(spark,
      "select   l_orderkey  from lineitem_v order by l_orderkey limit 5")
    assert(c2)
    assert(a.collect().toSeq == b.collect().toSeq)
    // different offset is a different entry
    val (_, c3) = GuardedSql.queryCached(spark,
      "SELECT l_orderkey FROM lineitem_v ORDER BY l_orderkey LIMIT 5",
      offset = 2)
    assert(!c3)
  }

  test("queryCached: a write to the scanned table invalidates the entry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sqlcache").toString
    val p = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("cache_inval_v")
    GuardedSql.clearResultCache()
    val sql = "SELECT k, v FROM cache_inval_v ORDER BY k LIMIT 10"
    val (r1, c1) = GuardedSql.queryCached(spark, sql)
    val (_, c2) = GuardedSql.queryCached(spark, sql)
    assert(!c1 && c2 && r1.count() == 2)
    // land new data (overwrite changes the file set)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("cache_inval_v")
    val (r3, c3) = GuardedSql.queryCached(spark, sql)
    assert(!c3, "stale entry must not be served")
    assert(r3.count() == 3)
    spark.catalog.dropTempView("cache_inval_v")
  }

  test("queryCached: router tables validate by COMMIT VERSION — a landed batch invalidates without any data-file listing") {
    import spark.implicits._
    // on file: and on a second scheme, whose commit log the stamp reads
    // through the same file system
    FlakyRenameFs.register(spark)
    for (scheme <- Seq("", "flaky:")) {
      val wh = scheme + java.nio.file.Files.createTempDirectory("sqlcache-wh").toString
      val router = new graft.sinks.SinkRouter(wh)
      router.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .withColumn("_table", org.apache.spark.sql.functions.lit("t")))
      def reView(): Unit = spark.read.parquet(s"$wh/t")
        .createOrReplaceTempView("cache_ver_v")
      reView()
      GuardedSql.clearResultCache()
      val sql = "SELECT k, v FROM cache_ver_v ORDER BY k LIMIT 10"
      val (r1, c1) = GuardedSql.queryCached(spark, sql)
      val (_, c2) = GuardedSql.queryCached(spark, sql)
      assert(!c1 && c2 && r1.count() == 2)
      // a batch lands through the router: _history version bumps, the
      // cached entry dies, fresh rows serve
      router.write(Seq((3L, "c")).toDF("k", "v")
        .withColumn("_table", org.apache.spark.sql.functions.lit("t")))
      reView()
      val (r3, c3) = GuardedSql.queryCached(spark, sql)
      assert(!c3, "post-commit read must recompute")
      assert(r3.count() == 3)
      // a commit to a DIFFERENT table does not invalidate this one
      val (_, c4) = GuardedSql.queryCached(spark, sql)
      assert(c4)
      router.write(Seq((9L, "z")).toDF("k", "v")
        .withColumn("_table", org.apache.spark.sql.functions.lit("other")))
      val (_, c5) = GuardedSql.queryCached(spark, sql)
      assert(c5, "unrelated table's commit must not invalidate")
      // the stamp's source, read through the scheme's file system
      assert(graft.sinks.SinkRouter.latestCommit(s"$wh/_history", "t") > 0L)
      spark.catalog.dropTempView("cache_ver_v")
    }
  }

  test("queryCached across a history vacuum: a folded commit version falls back to the stat digest — no stale serve, exactly one recompute") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("sqlvac-wh").toString
    val router = new graft.sinks.SinkRouter(wh)
    def land(t: String, rows: (Long, String)*): Unit =
      router.write(rows.toSeq.toDF("k", "v")
        .withColumn("_table", org.apache.spark.sql.functions.lit(t)))
    land("t", 1L -> "a", 2L -> "b")
    def reView(): Unit = spark.read.parquet(s"$wh/t")
      .createOrReplaceTempView("cache_vac_v")
    reView()
    GuardedSql.clearResultCache()
    val sql = "SELECT k, v FROM cache_vac_v ORDER BY k LIMIT 10"
    val (r1, c1) = GuardedSql.queryCached(spark, sql)
    val (_, c2) = GuardedSql.queryCached(spark, sql)
    assert(!c1 && c2 && r1.count() == 2)
    // bury t's commit under later ones, then vacuum to 1 entry: the
    // survivor names 'other', so t's version stamp regresses to 0
    land("other", 8L -> "x"); land("other", 9L -> "y")
    router.vacuumHistory(1)
    // the consumer contract for a folded version is RECOMPUTE ONCE:
    // the stamp switches commit-version → stat-digest, so the next read
    // misses (never serves a stale entry across the stamp change) ...
    val (r3, c3) = GuardedSql.queryCached(spark, sql)
    assert(!c3, "stamp change after vacuum must recompute once")
    assert(r3.count() == 2)
    // ... and exactly once: the stat digest is stable, so it hits again
    val (_, c4) = GuardedSql.queryCached(spark, sql)
    assert(c4, "second post-vacuum read must hit")
    // a REAL commit to t after the vacuum still invalidates (version
    // numbering resumes above the folded range — never reuses stamps)
    land("t", 3L -> "c")
    reView()
    val (r5, c5) = GuardedSql.queryCached(spark, sql)
    assert(!c5, "post-vacuum commit must invalidate")
    assert(r5.count() == 3)
    spark.catalog.dropTempView("cache_vac_v")
  }

  test("SqlParams replays the reference's sql-params test verbatim") {
    // ref libs/juava/__tests__/sql-params.test.ts — the exact pinned
    // strings: first-occurrence numbering, repeated :id shares $1,
    // unroll quotes strings and leaves numbers bare
    import graft.sql.SqlParams
    val sql = "SELECT * FROM users WHERE id = :id AND secondId = :id " +
      "AND name = :name AND age = :age AND thirdId=:id " +
      "OR otherParam=:ne ORDER BY id"
    val params = Map[String, Any](
      "ne" -> "ne", "id" -> 1, "name" -> "John", "age" -> 30)
    val (q, vs) = SqlParams.namedParameters(sql, params)
    assert(q == "SELECT * FROM users WHERE id = $1 AND secondId = $1 " +
      "AND name = $2 AND age = $3 AND thirdId=$1 " +
      "OR otherParam=$4 ORDER BY id", q)
    assert(vs == Seq(1, "John", 30, "ne"), vs)
    assert(SqlParams.unrollParams(q, vs) ==
      "SELECT * FROM users WHERE id = 1 AND secondId = 1 " +
      "AND name = 'John' AND age = 30 AND thirdId=1 " +
      "OR otherParam='ne' ORDER BY id")
  }

  test("SqlParams hardenings: identifier boundaries, casts, falsy values, quote escaping") {
    import graft.sql.SqlParams
    // :id must not claim the prefix of :idx; ::int is a cast, not :int
    val (q, vs) = SqlParams.namedParameters(
      "SELECT :id, :idx, x::int FROM t",
      Map[String, Any]("id" -> 1, "idx" -> 2, "int" -> 9))
    assert(q == "SELECT $1, $2, x::int FROM t", q)
    assert(vs == Seq(1, 2), vs)
    // divergence from the reference's `params[p] || null`: 0 and ''
    // stay themselves; embedded quotes escape; null/missing -> NULL
    assert(SqlParams.unrollParams("$1 $2 $3 $4 $9",
      Seq(0, "", "O'Brien", null)) == "0 '' 'O''Brien' NULL NULL")
    // end-to-end through the guarded runner
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("id", "name")
    df.createOrReplaceTempView("sqlparams_v")
    val out = graft.sql.GuardedSql.query(spark,
      "SELECT name FROM sqlparams_v WHERE id = :id",
      Map[String, Any]("id" -> 2))
    assert(out.select("name").collect().map(_.getString(0)).toSeq == Seq("b"))
    spark.catalog.dropTempView("sqlparams_v")
  }

  test("SqlParams: backslashes in string params round-trip exactly and cannot inject") {
    import graft.sql.SqlParams
    // literal forms: backslash doubled before quote doubling
    assert(SqlParams.unrollParams("$1", Seq("C:\\temp")) == "'C:\\\\temp'")
    assert(SqlParams.unrollParams("$1 $2", Seq("x\\", "y")) ==
      "'x\\\\' 'y'")
    assert(SqlParams.unrollParams("$1", Seq("a\\'b")) == "'a\\\\''b'")
    // round-trip through the Spark parser: the VALUE comes back
    // byte-exact (no '\t' from 'C:\temp', no quote escape from a
    // trailing backslash)
    import spark.implicits._
    val df = Seq((1, "C:\\temp"), (2, "x\\"), (3, "plain")).toDF("id", "s")
    df.createOrReplaceTempView("sqlparams_bs")
    def got(p: String): Seq[Int] = graft.sql.GuardedSql.query(spark,
      "SELECT id FROM sqlparams_bs WHERE s = :p",
      Map[String, Any]("p" -> p))
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(got("C:\\temp") == Seq(1))
    assert(got("x\\") == Seq(2))
    // the classic two-param injection: a trailing-backslash first param
    // must NOT swallow its closing quote and turn the second param's
    // content into live SQL — the attack value stays an inert string
    val inj = graft.sql.GuardedSql.query(spark,
      "SELECT id FROM sqlparams_bs WHERE s = :a OR s = :b",
      Map[String, Any]("a" -> "x\\", "b" -> "' OR 1=1 --"))
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(inj == Seq(2), s"injection changed the filter: $inj")
    spark.catalog.dropTempView("sqlparams_bs")
  }
}
