package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.AnnIngest

/** Streaming embedding-index ingest: seed-quantizer determinism, the
  * no-retrain contract, cell-partitioned storage, and the rounded-cosine
  * argmax assignment rule on planted vectors. */
class AnnIngestSpec extends GraftSpec {
  import spark.implicits._

  private def tmp(p: String) =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  // orthogonal-ish 4-dim plants: ids 0,1 seed cells 0,1; later vectors
  // sit near one seed each, except 23 which ties exactly between both
  // the CommitLog swap a rebuild persists (batch fold target = 1),
  // reconstructed verbatim by the crash tests
  private val RebuildManifestBody =
    """{"deletes":[],"renames":[{"staged":".vectors-rebuild",""" +
    """"live":"vectors/_batch=1","clear":["vectors"]},""" +
    """{"staged":".centroids-rebuild","live":"centroids","clear":[]}],""" +
    """"cleanup":[]}"""

  private val e0 = Array(1f, 0f, 0f, 0f)
  private val e1 = Array(0f, 1f, 0f, 0f)

  private def stage(in: String, b: Int,
                    rows: Seq[(Long, Array[Float])]): Unit = {
    val st = tmp("ai-spec-st")
    rows.map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(st)
    val part = new java.io.File(st).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(in, s"b$b.parquet")
    Files.move(part.toPath, dst.toPath)
    dst.setLastModified(1700000000000L + b * 60000L)
    ()
  }

  test("seed quantizer from batch 0; later batches assign against STORED centroids; exact ties take the lower cell") {
    val in = tmp("ai-spec-in"); val idx = tmp("ai-spec-idx")
    val out = tmp("ai-spec-out"); val cp = tmp("ai-spec-cp")
    stage(in, 0, Seq(0L -> e0, 1L -> e1,
      2L -> Array(0.9f, 0.1f, 0f, 0f))) // near e0 -> cell 0
    stage(in, 1, Seq(
      10L -> Array(0.1f, 0.9f, 0f, 0f), // near e1 -> cell 1
      // equidistant from both seeds: cos identical -> lower cell wins
      23L -> Array(1f, 1f, 0f, 0f)))
    val q = AnnIngest.start(spark, in, idx, out, cp, nlist = 2)
    StreamTest.drain(q)
    val cells = spark.read.parquet(out)
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(cells == Map(0L -> 0, 1L -> 1, 2L -> 0, 10L -> 1, 23L -> 0))
    // centroids are the batch-0 seeds, cell = id rank — and batch 1
    // did NOT retrain them
    val cents = spark.read.parquet(s"$idx/centroids")
      .as[(Int, Seq[Float])].collect().toMap
    assert(cents == Map(0 -> e0.toSeq, 1 -> e1.toSeq))
  }

  test("vector table is PARTITIONED by cell and holds exactly the outcome log's assignments") {
    val in = tmp("ai-spec-in"); val idx = tmp("ai-spec-idx")
    val out = tmp("ai-spec-out"); val cp = tmp("ai-spec-cp")
    stage(in, 0, Seq(0L -> e0, 1L -> e1))
    stage(in, 1, Seq(5L -> Array(0.2f, 0.8f, 0f, 0f),
      6L -> Array(0.8f, 0.2f, 0f, 0f)))
    val q = AnnIngest.start(spark, in, idx, out, cp, nlist = 2)
    StreamTest.drain(q)
    // physical layout: cell directories under each batch-commit scope
    // (partition pruning on cell is the probe-time index lookup; the
    // _batch level is the idempotent-replay commit unit)
    val batchDirs = new java.io.File(s"$idx/vectors").listFiles()
      .filter(_.isDirectory)
    assert(batchDirs.map(_.getName).toSet == Set("_batch=0", "_batch=1"))
    val cellDirs = batchDirs.flatMap(_.listFiles())
      .filter(_.isDirectory).map(_.getName).toSet
    assert(cellDirs == Set("cell=0", "cell=1"))
    val stored = spark.read.parquet(s"$idx/vectors")
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toMap
    val logged = spark.read.parquet(out)
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(stored == logged)
    assert(stored == Map(0L -> 0, 1L -> 1, 5L -> 1, 6L -> 0))
  }

  test("compaction cadence folds vector batch partitions, keeping cell sub-partitions; assignments unchanged") {
    import org.apache.spark.sql.functions._
    val in = tmp("ai-cp-in"); val idx = tmp("ai-cp-idx")
    val out = tmp("ai-cp-out"); val cp = tmp("ai-cp-cp")
    stage(in, 0, Seq(0L -> e0, 1L -> e1))
    stage(in, 1, Seq(5L -> Array(0.2f, 0.8f, 0f, 0f)))
    stage(in, 2, Seq(6L -> Array(0.8f, 0.2f, 0f, 0f)))
    // compactEvery=3 fires after batch 2 with upTo=1: batches 0,1 fold
    // into _batch=1; batch 2 keeps its own partition
    val q = AnnIngest.start(spark, in, idx, out, cp, nlist = 2,
      compactEvery = 3)
    StreamTest.drain(q)
    val batchDirs = new java.io.File(s"$idx/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batchDirs == Set("_batch=1", "_batch=2"), s"got $batchDirs")
    // cell sub-partitions survive the fold (probe pruning intact)
    val folded = new java.io.File(s"$idx/vectors/_batch=1").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(folded == Set("cell=0", "cell=1"))
    val stored = spark.read.parquet(s"$idx/vectors")
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(stored == Map(0L -> 0, 1L -> 1, 5L -> 1, 6L -> 0))
  }

  test("rebuild: recentroid re-partitions the stored index, moves centroids to (quantized) cluster means, and later lookups use the new cells") {
    import org.apache.spark.sql.functions._
    val in = tmp("ai-rb-in"); val idx = tmp("ai-rb-idx")
    val out = tmp("ai-rb-out"); val cp = tmp("ai-rb-cp")
    // seeds 0,1 define cells; the later mass sits BETWEEN the seeds and
    // a drifted direction, so post-rebuild centroids must move
    stage(in, 0, Seq(0L -> e0, 1L -> e1))
    stage(in, 1, Seq(
      10L -> Array(0.9f, 0.1f, 0f, 0f), 11L -> Array(0.8f, 0.2f, 0f, 0f),
      12L -> Array(0.1f, 0.9f, 0f, 0f), 13L -> Array(0.2f, 0.8f, 0f, 0f)))
    val q = AnnIngest.start(spark, in, idx, out, cp, nlist = 2)
    StreamTest.drain(q)
    AnnIngest.rebuild(spark, idx, nlist = 2, iters = 2)
    // fresh epoch folded into the newest batch scope (layout stays
    // append-compatible: future batches add sibling _batch= dirs)
    val dirs = new java.io.File(s"$idx/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("_batch=1"))
    val sub = new java.io.File(s"$idx/vectors/_batch=1").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(sub == Set("cell=0", "cell=1"))
    val stored = spark.read.parquet(s"$idx/vectors")
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toMap
    assert(stored == Map(0L -> 0, 10L -> 0, 11L -> 0,
      1L -> 1, 12L -> 1, 13L -> 1))
    // centroids are the quantized means of each cluster's members
    val cents = spark.read.parquet(s"$idx/centroids")
      .as[(Int, Seq[Float])].collect().toMap
    def qmean(vs: Seq[Array[Float]]): Seq[Float] = {
      val n = vs.length
      vs.head.indices.map { i =>
        val s = vs.map(v => math.round(v(i).toDouble * 10000)).sum
        (math.floor(s.toDouble / n).toLong.toDouble / 10000.0).toFloat
      }
    }
    assert(cents(0) == qmean(Seq(e0, Array(0.9f, 0.1f, 0f, 0f),
      Array(0.8f, 0.2f, 0f, 0f))))
    assert(cents(1) == qmean(Seq(e1, Array(0.1f, 0.9f, 0f, 0f),
      Array(0.2f, 0.8f, 0f, 0f))))
  }

  test("rebuild crash recovery: a manifest-committed rebuild rolls FORWARD from any interruption point; pre-manifest staging is inert") {
    import org.apache.spark.sql.functions._
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else { Files.copy(f.toPath, t.toPath); () }
      }
    }
    def moveDir(src: String, dst: String): Unit = {
      Files.move(new java.io.File(src).toPath,
        new java.io.File(dst).toPath); ()
    }
    def snap(dir: String): Set[String] =
      spark.read.parquet(dir).collect().map(_.toString).toSet
    val in = tmp("ai-rbc-in"); val idx = tmp("ai-rbc-idx")
    val out = tmp("ai-rbc-out"); val cp = tmp("ai-rbc-cp")
    stage(in, 0, Seq(0L -> e0, 1L -> e1))
    stage(in, 1, Seq(
      10L -> Array(0.9f, 0.1f, 0f, 0f), 12L -> Array(0.1f, 0.9f, 0f, 0f)))
    val q = AnnIngest.start(spark, in, idx, out, cp, nlist = 2)
    StreamTest.drain(q)
    // keep the pre-rebuild state, run the rebuild, keep its result
    val preVec = tmp("ai-rbc-prevec"); val preCent = tmp("ai-rbc-precent")
    copyDir(new java.io.File(s"$idx/vectors"), new java.io.File(preVec))
    copyDir(new java.io.File(s"$idx/centroids"), new java.io.File(preCent))
    AnnIngest.rebuild(spark, idx, nlist = 2, iters = 2)
    val wantVec = snap(s"$idx/vectors")
    val wantCent = snap(s"$idx/centroids")
    // reconstruct "crashed right after the manifest landed": both tables
    // staged (the staged vectors dir holds cell=* directly — the folded
    // scope's CONTENT), live state still the OLD epoch
    moveDir(s"$idx/vectors/_batch=1", s"$idx/.vectors-rebuild")
    new java.io.File(s"$idx/vectors").listFiles()
      .foreach(f => assert(!f.isDirectory)) // only _SUCCESS-style leftovers
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$idx/vectors"))
    moveDir(s"$idx/centroids", s"$idx/.centroids-rebuild")
    copyDir(new java.io.File(preVec), new java.io.File(s"$idx/vectors"))
    copyDir(new java.io.File(preCent), new java.io.File(s"$idx/centroids"))
    Files.write(new java.io.File(s"$idx/.commit-rebuild").toPath,
      RebuildManifestBody.getBytes("UTF-8"))
    // the next append (batch 2) must first complete the swap — never
    // assign against new centroids over the old cell layout
    AnnIngest.processBatch(
      Seq((20L, Array(1f, 0f, 0f, 0f).toSeq, 0))
        .toDF("vec_id", "embedding", "label"),
      idx, out, nlist = 2, batchId = 2L)
    assert(!new java.io.File(s"$idx/.commit-rebuild").exists())
    assert(!new java.io.File(s"$idx/.vectors-rebuild").exists())
    assert(snap(s"$idx/centroids") == wantCent)
    val storedNow = spark.read.parquet(s"$idx/vectors")
      .select(col("id"), col("cell")).collect().map(_.toString).toSet
    val wantNow = wantVec.map(_.split(",").toSeq) // rebuilt rows survive
    assert(spark.read.parquet(s"$idx/vectors").count() ==
      spark.read.parquet(preVec).count() + 1) // + the batch-2 vector
    assert(storedNow.contains("[20,0]")) // new vector routed by NEW cents
    // crash MID-SWAP variant: vectors already live, centroids deleted
    // but staged — recovery restores centroids and drops the manifest
    moveDir(s"$idx/centroids", s"$idx/.centroids-rebuild")
    Files.write(new java.io.File(s"$idx/.commit-rebuild").toPath,
      RebuildManifestBody.getBytes("UTF-8"))
    AnnIngest.recoverRebuild(spark, idx)
    assert(snap(s"$idx/centroids") == wantCent)
    assert(!new java.io.File(s"$idx/.commit-rebuild").exists())
    // pre-manifest crash is INERT: stray staging without a manifest must
    // not be swapped in by recovery
    val junk = new java.io.File(s"$idx/.vectors-rebuild"); junk.mkdirs()
    val before = snap(s"$idx/vectors")
    AnnIngest.recoverRebuild(spark, idx)
    assert(snap(s"$idx/vectors") == before)
    assert(wantNow.nonEmpty) // (silence unused warning; wantVec asserted above via counts)
  }

  test("rebuild completes a post-manifest-crashed COMPACTION on the vectors table before reading it (no partial-corpus recentroid)") {
    import org.apache.spark.sql.functions._
    val in = tmp("ai-cc-in"); val idx = tmp("ai-cc-idx")
    val out = tmp("ai-cc-out"); val cp = tmp("ai-cc-cp")
    stage(in, 0, Seq(0L -> e0, 1L -> e1))
    stage(in, 1, Seq(10L -> Array(0.9f, 0.1f, 0f, 0f),
      12L -> Array(0.1f, 0.9f, 0f, 0f)))
    val q = AnnIngest.start(spark, in, idx, out, cp, nlist = 2)
    StreamTest.drain(q)
    val vec = s"$idx/vectors"
    // reconstruct "compaction crashed right after its manifest": the
    // fold of batches 0+1 is staged (cell-partitioned), olds deleted
    spark.read.parquet(vec).drop("_batch")
      .write.partitionBy("cell").parquet(s"$vec/.compact-staged")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$vec/_batch=0"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$vec/_batch=1"))
    Files.write(new java.io.File(s"$vec/.commit-compact").toPath,
      ("""{"deletes":["_batch=0"],"renames":[{"staged":""" +
       """".compact-staged","live":"_batch=1","clear":[]}],"cleanup":[]}""")
        .getBytes("UTF-8"))
    // rebuild must roll the compaction forward FIRST — all 4 vectors
    // participate in the recentroid, none lost
    AnnIngest.rebuild(spark, idx, nlist = 2, iters = 1)
    val ids = spark.read.parquet(vec).select("id")
      .as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 10L, 12L), s"lost vectors: $ids")
    assert(!new java.io.File(s"$vec/.commit-compact").exists())
  }

  test("crash replay is idempotent: re-run batches (including a partial vector append and a partial centroid seed) leave index + outcome identical to a single run") {
    import graft.streaming.CorpusIngest
    val refIdx = tmp("ai-rep-refidx"); val refOut = tmp("ai-rep-refout")
    val idx = tmp("ai-rep-idx"); val out = tmp("ai-rep-out")
    val b0 = Seq(0L -> e0, 1L -> e1, 2L -> Array(0.9f, 0.1f, 0f, 0f))
    val b1 = Seq(10L -> Array(0.1f, 0.9f, 0f, 0f), 23L -> Array(1f, 1f, 0f, 0f))
    def frame(rows: Seq[(Long, Array[Float])]) =
      rows.map { case (id, v) => (id, v.toSeq, 0) }
        .toDF("vec_id", "embedding", "label")
    def run(rows: Seq[(Long, Array[Float])], b: Long,
            i: String, o: String): Unit =
      AnnIngest.processBatch(frame(rows), i, o, nlist = 2, batchId = b)
    run(b0, 0L, refIdx, refOut); run(b1, 1L, refIdx, refOut)

    // (a) crash mid-SEED: batch 0 wrote vectors+outcome but the
    //     centroid dir is an empty husk (simulate: run fully, then
    //     empty the centroid dir) — the replay must reseed
    //     deterministically and land identical assignments
    run(b0, 0L, idx, out)
    val centDir = new java.io.File(s"$idx/centroids")
    centDir.listFiles().foreach(_.delete())
    run(b0, 0L, idx, out)
    // (b) completed-but-unrecorded batch 1 redelivered verbatim
    run(b1, 1L, idx, out)
    run(b1, 1L, idx, out)
    // (c) crash mid-append of batch 1: vectors landed, outcome did not
    CorpusIngest.clearBatch(spark, out, 1L)
    run(b1, 1L, idx, out)

    def snap(dir: String, cols: String*): Set[String] =
      spark.read.parquet(dir).select(cols.map(col): _*)
        .collect().map(_.toString).toSet
    assert(snap(s"$idx/vectors", "id", "cell", "_batch") ==
      snap(s"$refIdx/vectors", "id", "cell", "_batch"))
    assert(snap(out, "vec_id", "cell", "cos", "_batch") ==
      snap(refOut, "vec_id", "cell", "cos", "_batch"))
    assert(snap(s"$idx/centroids", "cell") ==
      snap(s"$refIdx/centroids", "cell"))
    assert(spark.read.parquet(s"$idx/vectors").count() ==
      spark.read.parquet(s"$refIdx/vectors").count())
    assert(spark.read.parquet(out).count() ==
      spark.read.parquet(refOut).count())
  }

  test("a cell-filtered index read plans only the probed cells' files: 2 cells x 4 batch scopes = 8 of 32") {
    // the two-level `_batch=/cell=` layout: 4 batches x 8 cells, one
    // tiny vector per leaf partition
    val idx = tmp("ai-spec-prune")
    (0 until 4).foreach { b =>
      (0 until 8).map(c => (b * 100L + c, Seq(1f, 0f), c))
        .toDF("id", "vec", "cell")
        .withColumn("_batch", lit(b.toLong))
        .write.mode("append").partitionBy("_batch", "cell")
        .parquet(s"$idx/vectors")
    }
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().head
        .metrics("numFiles").value
    }
    val vectors = spark.read.parquet(s"$idx/vectors")
    assert(filesRead(vectors.filter(col("cell").isin(2, 5))) == 8)
    assert(filesRead(vectors) == 32)
  }
}
