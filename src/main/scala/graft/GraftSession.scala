package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the graft engine.
  *
  * All entry points (Verify, Bench, tests) build sessions through here so
  * the scale-sensitive knobs stay in one place:
  *   - `shuffle.partitions` sized to the local core count (not 200); on a
  *     real cluster this is overridden by AQE coalescing anyway.
  *   - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
  *     which is what makes the same plans survive a 100x scale-up.
  *   - UTC session time zone for oracle (DuckDB) parity.
  *   - one codegen class cache for the whole JVM, sized to the working
  *     set, so warm work reuses its generated classes.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // native expressions on the SQL surface (simhash64, minhash_sig,
      // word_shingles, cosine_sim, dot_product)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Join-strategy knobs (guide §3.1/§9), adopted by the r17
      // evaluation (OPTIMIZATION_r17.md "preferSortMergeJoin
      // evaluation"): let the planner pick shuffled-hash join where its
      // size conditions hold — the sort in SMJ is pure overhead when
      // the per-partition build side fits in memory — and let AQE
      // rewrite SMJ→SHJ at runtime when every post-shuffle partition is
      // under 64 MB (bounded build-side memory; AQE skew-split applies
      // to SHJ too, so a skewed partition still splits rather than
      // OOMs). Both are runtime SQL confs: `Inspect census --conf
      // spark.sql.join.preferSortMergeJoin=true` shows which gates'
      // plans flip against these values.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "67108864")
      .config("spark.sql.session.timeZone", "UTC")
      // UR trait merge concatenates own+identified key maps; later (identified)
      // keys must win, as in lodash merge
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // driver testdata writes TIMESTAMP(NANOS) parquet, which Spark 4 only
      // reads as LongType behind this flag; EventSchema.readEvents converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Compile each generated class once per JVM. Spark's class cache
      // is an LRU keyed by (class loader, code) with 100 entries by
      // default, and the 8 perfbench `operators` gates generate ~205
      // classes, so every warm `operators` pass recompiled ~205. The
      // three perfbench workloads compile ~210 (operators), ~170
      // (console) and ~160 (an ingest warm-up plus drain) classes, so
      // 1000 holds all three in one JVM with ~1.8x headroom. A warm
      // pass now compiles 0-6 and a warm ingest drain 24, down from
      // 150-185 (SCALE.md "Codegen cache and class-loader isolation").
      // Both confs are read once per JVM or per session, so they
      // belong here, not in `spark.conf.set`.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // Artifact isolation gives every session, and every streaming
      // query's cloned session, its own class loader, which splits the
      // cache above per session. Nothing here adds a session artifact
      // (no `addArtifact`, no `ADD JAR`), so isolation buys nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
