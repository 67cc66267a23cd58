package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical._

/** The interactive SQL surface — SURVEY §2.7 L1–L3 (ref
  * `webapps/console/pages/api/[workspaceId]/sql/query.ts:39-158`).
  *
  * Reference behavior: parse the user SQL, reject non-SELECT and
  * multi-statement input, check the table whitelist, clamp
  * `LIMIT min(userLimit, apiLimit)`, apply the offset, and number the
  * result rows from offset+1.
  *
  * Spark-first: parse with Catalyst's own parser (no second SQL dialect),
  * inspect the `LogicalPlan` — commands (DDL/DML/SET/...) surface as
  * `Command`/`ParsedStatement` nodes, so "is a SELECT" is a plan-shape
  * check, not string matching. The user's own LIMIT is read from the
  * outermost `GlobalLimit`; the clamp wraps the plan via `spark.sql` +
  * DataFrame limit (a `GlobalLimit` node Catalyst pushes down).
  */
object GuardedSql {

  val DefaultLimit = 50 // ref SQLQueryDefaultLimit query.ts:10

  case class SqlRejected(reason: String) extends Exception(reason)

  /** True when `sql` holds a ';' that separates two statements — i.e. a
    * semicolon outside any quoted literal/identifier with non-blank text
    * after it. Literals like `WHERE name = 'a;b'` do NOT trip this. */
  private[sql] def looksMultiStatement(sql: String): Boolean = {
    var i = 0; var quote: Char = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        if (c == quote)
          if (i + 1 < sql.length && sql.charAt(i + 1) == quote) i += 1 // escaped
          else quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c
        case ';' if sql.substring(i + 1).trim.nonEmpty => return true
        case _ =>
      }
      i += 1
    }
    false
  }

  /** Parse + validate; returns the user's own LIMIT if present. The
    * multi-statement check is parser-based: Catalyst's `singleStatement`
    * grammar rejects a second statement, and the quote-aware scan only
    * chooses the error message — a ';' inside a string literal parses
    * fine and is allowed. */
  def validate(spark: SparkSession, sql: String,
               allowedTables: Set[String] = Set.empty): Option[Int] = {
    val plan =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch {
        case e: Exception =>
          if (looksMultiStatement(sql))
            throw SqlRejected("multi-statement input is not allowed")
          throw SqlRejected(s"parse error: ${e.getMessage}")
      }
    plan.foreach {
      case _: Command | _: ParsedStatement | _: InsertIntoStatement =>
        throw SqlRejected("only SELECT queries are allowed")
      case _ =>
    }
    if (allowedTables.nonEmpty) {
      val refs = plan.collect {
        case u: UnresolvedRelation => u.multipartIdentifier.last.toLowerCase
      }
      val bad = refs.filterNot(allowedTables.map(_.toLowerCase))
      if (bad.nonEmpty)
        throw SqlRejected(s"table(s) not allowed: ${bad.mkString(", ")}")
    }
    plan match {
      case GlobalLimit(expr, _) => expr.foldable match {
        case true => Some(expr.eval().asInstanceOf[Number].intValue())
        case false => None
      }
      case _ => None
    }
  }

  /** Run a guarded query: validated, limit-clamped, row-numbered from
    * offset+1 (ref query.ts:78-83,124-158). The user's own LIMIT node is
    * stripped and replaced by the clamped offset+limit — the reference
    * rewrites the AST limit the same way.
    *
    * Row numbering happens DRIVER-SIDE on the collected (clamped, ≤
    * offset+apiLimit) rows — exactly the reference's client-side
    * numbering, and the scale-correct shape: a global row_number window
    * would pull every row into one partition, while here only the
    * already-limited result crosses to the driver. */
  /** Parameterized form: `:name` placeholders bound via [[SqlParams]]
    * (the reference console's named-parameter surface), then guarded
    * and run like any other query. */
  def query(spark: SparkSession, sql: String,
            params: Map[String, Any]): DataFrame =
    query(spark, SqlParams.bind(sql, params))

  def query(spark: SparkSession, sql: String, offset: Int = 0,
            apiLimit: Int = DefaultLimit,
            allowedTables: Set[String] = Set.empty): DataFrame = {
    val (rows, schema, _) = numberedResult(spark, sql, offset, apiLimit,
      allowedTables)
    fromRows(spark, rows, schema)
  }

  /** Shared execute-clamp-number core of [[query]]/[[queryCached]];
    * returns (numbered rows, schema, analyzed plan of the clamped
    * query). */
  private def numberedResult(spark: SparkSession, sql: String, offset: Int,
                             apiLimit: Int, allowedTables: Set[String])
      : (List[org.apache.spark.sql.Row],
         org.apache.spark.sql.types.StructType, LogicalPlan) = {
    val userLimit = validate(spark, sql, allowedTables)
    val effective = math.min(userLimit.getOrElse(apiLimit), apiLimit)
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val stripped = parsed match {
      case GlobalLimit(_, LocalLimit(_, child)) => child
      case GlobalLimit(_, child) => child
      case other => other
    }
    val df = org.apache.spark.sql.graftshim.ofRows(spark, stripped)
      .limit(effective + offset)
    val collected = df.collect()
    val numbered = collected.iterator.zipWithIndex.drop(offset).map {
      case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1))
    }.toList
    val schema = df.schema.add("#", org.apache.spark.sql.types.IntegerType,
      nullable = false)
    (numbered, schema, df.queryExecution.analyzed)
  }

  private def fromRows(spark: SparkSession,
                       rows: List[org.apache.spark.sql.Row],
                       schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)

  private case class CachedResult(fingerprint: String,
                                  rows: List[org.apache.spark.sql.Row],
                                  schema: org.apache.spark.sql.types.StructType)

  private val CacheMaxEntries = 128
  private val resultCache =
    new java.util.LinkedHashMap[String, CachedResult](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedResult]): Boolean =
        size() > CacheMaxEntries
    }

  /** Validity stamp for [[queryCached]]. For SinkRouter-managed tables
    * (a `_history/` commit log sits next to the table directory) the
    * stamp is the table's NEWEST COMMIT VERSION — O(commit-log), no
    * recursive data-file listing, so the hit path stays cheap no matter
    * how many files the table holds; every router mutation records a
    * commit, so the version moves exactly when the data does. Plain
    * parquet directories (no commit log) fall back to the (name,
    * length, mtime) stat digest; non-file relations contribute nothing
    * and are treated as immutable. */
  private def scanFingerprint(spark: SparkSession,
                              plan: LogicalPlan): String = {
    val conf = spark.sessionState.newHadoopConf()
    val parts = plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.flatMap { p =>
              val fs = p.getFileSystem(conf)
              val parent = p.getParent
              val commitV =
                if (parent == null) 0L
                else graft.sinks.SinkRouter.latestCommit(
                  new org.apache.hadoop.fs.Path(parent, "_history").toString,
                  p.getName)
              if (commitV > 0L) Seq(s"$p@v$commitV")
              else if (!fs.exists(p)) Seq(s"$p:absent")
              else {
                // no commit actually names this table (plain parquet
                // beside someone else's _history, remote FS, …) — the
                // stat digest is the only honest stamp
                val it = fs.listFiles(p, true)
                val b = Seq.newBuilder[String]
                while (it.hasNext) {
                  val f = it.next()
                  b += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
                }
                b.result()
              }
            }.sorted.mkString("|")
          case r => r.toString
        }
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Result-cached [[query]] — the console report pattern: dashboards
    * re-issue the same SQL every few seconds, and the reference's
    * ClickHouse absorbs that server-side while its config store uses
    * If-Modified-Since (`entity-store.ts:32-128`). Same idea here,
    * driver-side:
    *
    *  - '''key''' = the CANONICALIZED analyzed plan of the clamped
    *    query + offset — formatting, aliasing, and exprId differences
    *    between textual variants of the same query share one entry;
    *  - '''validity''' = [[scanFingerprint]] over every scanned file
    *    (name, length, mtime): any landed micro-batch, compaction, or
    *    manifest swap changes the fingerprint and the entry recomputes
    *    — the cache can never serve rows older than the table;
    *  - '''bound''' = 128-entry LRU of ≤ apiLimit-row results (the
    *    clamp runs before the cache), so the driver holds at most a few
    *    thousand rows.
    *
    * Returns (result, served-from-cache). */
  def queryCached(spark: SparkSession, sql: String, offset: Int = 0,
                  apiLimit: Int = DefaultLimit,
                  allowedTables: Set[String] = Set.empty)
      : (DataFrame, Boolean) = {
    val userLimit = validate(spark, sql, allowedTables)
    val effective = math.min(userLimit.getOrElse(apiLimit), apiLimit)
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val stripped = parsed match {
      case GlobalLimit(_, LocalLimit(_, child)) => child
      case GlobalLimit(_, child) => child
      case other => other
    }
    val df = org.apache.spark.sql.graftshim.ofRows(spark, stripped)
      .limit(effective + offset)
    val analyzed = df.queryExecution.analyzed
    val key = analyzed.canonicalized.toString + s"off=$offset"
    val fp = scanFingerprint(spark, analyzed)
    val hit = resultCache.synchronized {
      Option(resultCache.get(key)).filter(_.fingerprint == fp)
    }
    hit match {
      case Some(c) => (fromRows(spark, c.rows, c.schema), true)
      case None =>
        val collected = df.collect()
        val numbered = collected.iterator.zipWithIndex.drop(offset).map {
          case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1))
        }.toList
        val schema = df.schema.add("#",
          org.apache.spark.sql.types.IntegerType, nullable = false)
        resultCache.synchronized {
          resultCache.put(key, CachedResult(fp, numbered, schema))
        }
        (fromRows(spark, numbered, schema), false)
    }
  }

  /** Drop every cached result (tests / manual invalidation). */
  def clearResultCache(): Unit =
    resultCache.synchronized(resultCache.clear())

  /** S8 schema introspection: {table -> [(name, type)]} (ref
    * `sql/schema.ts:38-64`). */
  def describeTables(spark: SparkSession): Map[String, Seq[(String, String)]] =
    spark.catalog.listTables().collect().map { t =>
      t.name -> spark.catalog.listColumns(t.name).collect()
        .map(c => (c.name, c.dataType)).toSeq
    }.toMap
}
