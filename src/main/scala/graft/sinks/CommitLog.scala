package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The ONE crash-consistency protocol every stored artifact in this
  * engine commits through — extracted in round 9 from three separately
  * grown implementations (the sink router's partition swap, the
  * streaming indexes' batch-partition compaction, the ANN offline
  * rebuild), so the surface where a durability bug can hide is a single
  * module with a single spec-covered executor.
  *
  * Protocol (stage → manifest → swap → roll-forward):
  *  1. writers STAGE complete output under hidden sibling dirs — nothing
  *     live is touched;
  *  2. one MANIFEST (`.commit-<tag>`) lands atomically (tmp + rename)
  *     recording the whole swap as data: dirs to delete, staged→live
  *     renames (each optionally clearing a dir first), cleanup paths.
  *     The manifest is the commit point;
  *  3. the swap executes;
  *  4. a crash anywhere is resolved by [[recover]]: before the manifest
  *     nothing happened (stale staging is inert and overwritten by the
  *     next attempt); after it, the recorded swap is re-executed — every
  *     step is idempotent (a consumed staged dir is skipped, a delete
  *     re-deletes nothing), so roll-forward is safe from ANY crash
  *     point.
  *
  * All paths are RELATIVE to the committing table's root, which keeps
  * manifests location-independent (a table copied or mounted elsewhere
  * recovers identically). Paths go through the Hadoop FileSystem API:
  * correct on HDFS and local disk; on object stores without atomic
  * rename the manifest move degrades to copy+delete — the documented
  * single-writer-per-table assumption (the reference's bulker makes the
  * same one) is what makes that acceptable.
  *
  * The second commit style in this engine — BATCH-SCOPED idempotent
  * appends (`_batch=<id>` partitions whose replay deletes and rewrites
  * its own scope; `_quota/delta-<id>` counter deltas) — shares this
  * module's scope helpers ([[clearBatchScope]], [[readPriorBatches]],
  * [[listPriorDeltas]]): the table layout itself is the commit log, and
  * a reader consults only scopes strictly before its own batch id.
  */
object CommitLog {

  /** One staged→live rename; `clearFirst` dirs are deleted before the
    * rename runs (e.g. an index rebuild clearing the whole old layout),
    * and the live target itself is always cleared. Skipped entirely when
    * the staged dir no longer exists (already swapped). */
  case class Rename(staged: String, live: String,
                    clearFirst: Seq[String] = Nil)

  /** A full swap: `deletes` run first (idempotent), then `renames`,
    * then `cleanup` dirs are dropped, then the manifest itself. */
  case class Swap(deletes: Seq[String] = Nil, renames: Seq[Rename] = Nil,
                  cleanup: Seq[String] = Nil)

  private val Prefix = ".commit-"

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[graft] def serialize(swap: Swap): String = {
    val m = mapper
    val root = m.createObjectNode()
    val del = root.putArray("deletes")
    swap.deletes.foreach(del.add)
    val ren = root.putArray("renames")
    swap.renames.foreach { r =>
      val o = ren.addObject()
      o.put("staged", r.staged)
      o.put("live", r.live)
      val c = o.putArray("clear")
      r.clearFirst.foreach(c.add)
    }
    val cl = root.putArray("cleanup")
    swap.cleanup.foreach(cl.add)
    m.writeValueAsString(root)
  }

  private[graft] def deserialize(body: String): Swap = {
    val n = mapper.readTree(body)
    def strs(a: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      if (a == null) Nil
      else (0 until a.size()).map(i => a.get(i).asText())
    Swap(
      strs(n.get("deletes")),
      if (n.get("renames") == null) Nil
      else (0 until n.get("renames").size()).map { i =>
        val r = n.get("renames").get(i)
        Rename(r.get("staged").asText(), r.get("live").asText(),
          strs(r.get("clear")))
      },
      strs(n.get("cleanup")))
  }

  private def fsOf(conf: org.apache.hadoop.conf.Configuration,
                   root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(conf), p)
  }

  /** Persist the manifest (the COMMIT POINT) and execute the swap.
    * Staging must be complete before calling. `tag` names the manifest
    * so independent protocols on one root (a compaction, a rebuild)
    * never collide.
    *
    * INVARIANT (tag disjointness): concurrent pending manifests on one
    * root must touch DISJOINT path sets — [[recover]] executes pending
    * manifests in listing order, and only disjointness makes that order
    * irrelevant (spec-pinned: reversed tag order converges to the same
    * tree). Every tag in this engine owns its own staged/live namespace
    * by construction (different protocols: the partition swap's
    * `.staged-*`, a compaction's batch scope, a rebuild's index dirs),
    * so the invariant holds without coordination; a NEW consumer
    * sharing a root must keep it that way or serialize its commits
    * behind the existing tag. */
  def commit(spark: SparkSession, root: String, tag: String,
             swap: Swap): Unit = {
    val (fs, rootP) = fsOf(spark.sparkContext.hadoopConfiguration, root)
    commit(fs, rootP, tag, swap)
  }

  /** [[commit]] through the caller's file-system handle. */
  def commit(fs: FileSystem, rootP: Path, tag: String, swap: Swap): Unit = {
    val tmp = new Path(rootP, s"$Prefix$tag.tmp")
    val out = fs.create(tmp, true)
    out.write(serialize(swap).getBytes(StandardCharsets.UTF_8))
    out.close()
    // callers recover() before staging, so a same-tag manifest cannot
    // normally exist — but local-FS rename-onto-existing fails silently
    // (returns false), which would execute THIS swap while the OLD
    // manifest stayed behind to re-execute later; clear it first
    val manifest = new Path(rootP, s"$Prefix$tag")
    fs.delete(manifest, false)
    // Hadoop FileSystem.rename reports several failure modes by
    // returning false rather than throwing; a swap executed without a
    // durable commit record could not be rolled forward after a crash,
    // so abort here — staging is inert and the caller simply retries.
    if (!fs.rename(tmp, manifest))
      throw new java.io.IOException(
        s"CommitLog: commit-point rename $tmp -> $manifest returned " +
          "false; commit aborted (nothing live was touched)")
    execute(fs, rootP, s"$Prefix$tag", swap)
  }

  /** Complete every persisted-but-unfinished commit under `root` (the
    * roll-forward half; no-op on a healthy table). Writers call this
    * before touching a root a predecessor may have crashed on. */
  def recover(spark: SparkSession, root: String): Unit = {
    val (fs, rootP) = fsOf(spark.sparkContext.hadoopConfiguration, root)
    recover(fs, rootP)
  }

  /** [[recover]] through the caller's file-system handle. */
  def recover(fs: FileSystem, rootP: Path): Unit =
    children(fs, rootP).map(_.getPath.getName)
      .filter(n => n.startsWith(Prefix) && !n.endsWith(".tmp"))
      .foreach { name =>
        val body = readString(fs, new Path(rootP, name))
        execute(fs, rootP, name, deserialize(body))
      }

  /** `dir`'s entries; empty when `dir` does not exist. */
  private[sinks] def children(fs: FileSystem, dir: Path): Array[FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir) else Array.empty

  /** The whole of file `p`, as UTF-8. */
  private[sinks] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The idempotent post-manifest executor (see the class doc). */
  private def execute(fs: FileSystem, root: Path, manifestName: String,
                      swap: Swap): Unit = {
    swap.deletes.foreach(d => fs.delete(new Path(root, d), true))
    swap.renames.foreach { r =>
      val staged = new Path(root, r.staged)
      if (fs.exists(staged)) {
        r.clearFirst.foreach(c => fs.delete(new Path(root, c), true))
        val live = new Path(root, r.live)
        fs.delete(live, true)
        val parent = live.getParent
        if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
        // rename returning false here (the live dir is already gone)
        // MUST NOT fall through to the manifest delete below — the
        // staged dir still holds the only copy of the data, and only
        // the surviving manifest lets recover() retry this swap.
        if (!fs.rename(staged, live))
          throw new java.io.IOException(
            s"CommitLog: rename $staged -> $live returned false; " +
              "manifest left in place for recover()")
      }
    }
    swap.cleanup.foreach(c => fs.delete(new Path(root, c), true))
    fs.delete(new Path(root, manifestName), false): Unit
  }

  // ---- batch-scoped commit helpers (the layout-as-log style) ---------

  /** Delete `path/_batch=<id>` if present — the replay half of a
    * batch-scoped append. Completes interrupted manifest commits on the
    * root first, so a crash mid-compaction can never read as missing
    * data. */
  def clearBatchScope(spark: SparkSession, path: String,
                      batchId: Long): Unit = {
    recover(spark, path)
    val (fs, rootP) = fsOf(spark.sparkContext.hadoopConfiguration, path)
    val p = new Path(rootP, s"_batch=$batchId")
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Read a batch-partitioned table restricted to scopes STRICTLY
    * BEFORE `batchId` (None when nothing earlier is committed). The
    * filter is partition pruning — a crashed partial `_batch=<batchId>`
    * dir is never listed as data. */
  def readPriorBatches(spark: SparkSession, path: String,
                       batchId: Long): Option[DataFrame] = {
    val (fs, rootP) = fsOf(spark.sparkContext.hadoopConfiguration, path)
    val hasEarlier = children(fs, rootP).exists { st =>
      val nm = st.getPath.getName
      nm.startsWith("_batch=") &&
        scala.util.Try(nm.stripPrefix("_batch=").toLong).toOption
          .exists(_ < batchId)
    }
    if (!hasEarlier) None
    else Some(spark.read.parquet(path)
      .filter(col("_batch") < lit(batchId)).drop("_batch"))
  }

  /** The `<prefix><id>` child dirs of `dir` whose batch id is strictly
    * below `batchId` — the prior-scope listing the `_quota/` counter
    * deltas replay against. Listed through the session's file system,
    * so `dir` may be on any scheme; a missing `dir` has none. */
  def listPriorDeltas(spark: SparkSession, dir: String, prefix: String,
                      batchId: Long): Seq[Path] = {
    val (fs, dirP) = fsOf(spark.sparkContext.hadoopConfiguration, dir)
    children(fs, dirP).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        scala.util.Try(p.getName.stripPrefix(prefix).toLong).toOption
          .exists(_ < batchId))
      .toIndexedSeq
  }
}
