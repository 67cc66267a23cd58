package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy path flattening — (id, parent) edges to root-to-node
  * paths. The shape behind OASST-style conversation trees (flatten a
  * message tree into the root-to-leaf transcripts SFT consumes),
  * category taxonomies, reply chains, and org structures: every node
  * needs its root, its depth, and the id path that reaches it.
  *
  * Pointer doubling, not a per-level walk: the jump table starts as
  * (node → parent, path "[id]") and each round joins itself to splice
  * the partner's whole segment — after k rounds every chain of length
  * ≤ 2^k is fully collapsed, so `ceil(log2(maxDepth)) + 1` self-joins
  * cover any tree within `maxDepth` (the same O(log) discipline as
  * [[Dedup]]'s min-label propagation, vs O(depth) for the naive walk).
  * Each round runs through [[Iterate]], which eagerly checkpoints it:
  * lineage would otherwise DOUBLE per round, and the checkpoint keeps
  * the plan flat and the retry unit one round (deterministic content —
  * a recompute is merely wasted work, unlike the layout-dependent ranks
  * in [[Sampling]]).
  *
  * Loud-failure contract: a node that cannot reach a root (a cycle, a
  * chain deeper than `maxDepth`, a parent id absent from the table)
  * surfaces as `resolved = false` with null root/path — never silently
  * dropped, never a garbage path.
  *
  * A root is a node whose parent is NULL. Output: (id, root, depth,
  * path, resolved) — `path` is "id>…>root", `depth` counts edges.
  *
  * Scale shape: log2(maxDepth) hash-join rounds keyed on node id —
  * shuffles proportional to node count per round; no driver-side
  * recursion state, no global window, no collect. */
object Hierarchy {

  def flattenPaths(nodes: DataFrame, idCol: String, parentCol: String,
                   maxDepth: Int = 64): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 100000,
      "maxDepth must be in [1, 100000]")
    val base = nodes.select(col(idCol).cast("long").as("id"),
      col(parentCol).cast("long").as("par"))
    val rounds = 64 - java.lang.Long.numberOfLeadingZeros(maxDepth.toLong)
    val last = Iterate(base.select(col("id"), col("par").as("at"),
        col("id").cast("string").as("path"), lit(0L).as("depth")),
      rounds) { jump =>
      val partner = jump.select(col("id").as("_jid"), col("at").as("_jat"),
        col("path").as("_jpath"), col("depth").as("_jdepth"))
      // a row already past maxDepth is DOOMED (the final clamp marks it
      // unresolved either way): freeze its path/depth/at instead of
      // letting a cycle double them every round — without the freeze a
      // cycle node's path reaches 2^rounds entries (megabyte rows at
      // maxDepth = 100000), each round eagerly checkpointed. Resolvable
      // rows never trip this: their depth only ever reaches the true
      // chain length, and frozen rows stay O(maxDepth) because one last
      // splice before freezing at most triples depth.
      val frozen = col("depth") > maxDepth.toLong
      val noSplice = col("_jid").isNull || frozen
      jump.join(partner, jump("at") === partner("_jid"), "left")
        .select(col("id"),
          when(noSplice, col("at"))
            .otherwise(col("_jat")).as("at"),
          when(noSplice, col("path"))
            .otherwise(concat(col("path"), lit(">"), col("_jpath")))
            .as("path"),
          when(noSplice, col("depth"))
            // splicing the partner's segment adds its edge count + the
            // edge from this segment's tail to the partner's head
            .otherwise(col("depth") + col("_jdepth") + 1L).as("depth"))
    }
    last.select(col("id"),
        when(col("at").isNull,
          expr("CAST(element_at(split(path, '>'), -1) AS LONG)"))
          .as("root"),
        when(col("at").isNull, col("depth")).as("depth"),
        when(col("at").isNull, col("path")).as("path"),
        col("at").isNull.as("resolved"))
      // a resolved chain deeper than maxDepth is still a CONTRACT
      // violation the caller asked to be told about: doubling may
      // collapse up to 2^rounds >= maxDepth edges, so clamp the claim
      .withColumn("resolved",
        col("resolved") && coalesce(col("depth") <= maxDepth, lit(true)))
      .withColumn("root", when(col("resolved"), col("root")))
      .withColumn("depth", when(col("resolved"), col("depth")))
      .withColumn("path", when(col("resolved"), col("path")))
  }

  /** Root-to-leaf transcripts from a message tree — the OASST-style
    * flattening an SFT pipeline runs over tree-shaped conversations:
    * every LEAF's path ([[flattenPaths]]) joins each node id to its
    * text and renders the root→leaf turn sequence as one transcript.
    * Unresolved leaves (cycle/dangling/over-depth) are excluded — their
    * loud row already exists in flattenPaths' output.
    *
    * Scale shape: leaves = one anti-join against the distinct-parent
    * set; the path explodes to (leaf, pos, node) — Σ path lengths
    * rows, the same order as the tree itself — and LEFT-joins texts by
    * node id (a plain equi-join; a node id missing from `texts` is a
    * loud failure: the leaf row reports n_missing > 0 with a null
    * transcript, never a silently shortened one); the transcript
    * reassembles with sort_array(collect_list(struct(pos, text)))
    * inside one leaf-keyed aggregation, so order needs no window and
    * no second shuffle.
    * Output: (leaf_id, root, depth, n_turns, n_missing, transcript). */
  def treeTranscripts(nodes: DataFrame, idCol: String, parentCol: String,
                      texts: DataFrame, textIdCol: String,
                      textCol: String, sep: String = " | ",
                      maxDepth: Int = 64): DataFrame = {
    val flat = flattenPaths(nodes, idCol, parentCol, maxDepth)
      .filter(col("resolved"))
    val parents = nodes.select(col(parentCol).cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
    val leaves = flat.join(parents, Seq("id"), "left_anti")
    val exploded = leaves
      .select(col("id").as("leaf_id"), col("root"), col("depth"),
        posexplode(reverse(split(col("path"), ">"))))
      .select(col("leaf_id"), col("root"), col("depth"),
        col("pos"), col("col").cast("long").as("node"))
    exploded
      .join(texts.select(col(textIdCol).cast("long").as("node"),
        col(textCol).as("_t")), Seq("node"), "left")
      .groupBy(col("leaf_id"), col("root"), col("depth"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("_t").isNull, 1L).otherwise(0L)).as("n_missing"),
        concat_ws(sep, expr("transform(" +
          "sort_array(collect_list(struct(pos, _t))), x -> x._t)"))
          .as("_tx"))
      // flattenPaths' loud-failure contract, applied here too: a node
      // id absent from `texts` must NOT silently shorten the transcript
      // (an inner join would) — the row surfaces with n_missing > 0 and
      // a null transcript, never a partial one
      .withColumn("transcript",
        when(col("n_missing") === 0L, col("_tx")))
      .select(col("leaf_id"), col("root"), col("depth"),
        col("n_turns"), col("n_missing"), col("transcript"))
  }
}
