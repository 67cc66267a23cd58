package graft

import java.nio.file.Files

import graft.sinks.CommitLog

/** The shared commit protocol's executor, driven directly: manifest
  * atomicity, idempotent roll-forward from every interruption point,
  * inert pre-manifest staging, and multi-manifest recovery. The three
  * consumers (SinkRouter swap, batch compaction, ANN rebuild) are
  * crash-tested end-to-end in their own specs; this spec pins the
  * executor semantics they all assume. */
class CommitLogSpec extends GraftSpec {

  private def tmp() = Files.createTempDirectory("cl-spec").toString

  private def mkDir(root: String, name: String, marker: String): Unit = {
    val d = new java.io.File(root, name)
    d.mkdirs()
    Files.write(new java.io.File(d, "data").toPath,
      marker.getBytes("UTF-8")); ()
  }
  private def readMarker(root: String, name: String): Option[String] = {
    val f = new java.io.File(new java.io.File(root, name), "data")
    if (f.exists())
      Some(new String(Files.readAllBytes(f.toPath), "UTF-8"))
    else None
  }

  test("commit executes deletes, guarded renames (with clearFirst), cleanup, and drops the manifest") {
    val root = tmp()
    mkDir(root, "old1", "old1")
    mkDir(root, "live/sub", "oldsub")
    mkDir(root, ".staged-a", "new-a")
    mkDir(root, ".staged-b", "new-b")
    mkDir(root, ".scratch", "scratch")
    CommitLog.commit(spark, root, "t1", CommitLog.Swap(
      deletes = Seq("old1"),
      renames = Seq(
        CommitLog.Rename(".staged-a", "live/sub", clearFirst = Seq("live")),
        CommitLog.Rename(".staged-b", "fresh")),
      cleanup = Seq(".scratch")))
    assert(readMarker(root, "old1").isEmpty)
    assert(readMarker(root, "live/sub").contains("new-a"))
    assert(readMarker(root, "fresh").contains("new-b"))
    assert(!new java.io.File(root, ".scratch").exists())
    assert(!new java.io.File(root, ".commit-t1").exists())
    assert(!new java.io.File(root, ".staged-a").exists())
  }

  test("recover rolls forward idempotently from EVERY interruption point") {
    // replay the same persisted swap against progressively more
    // completed states — every replay must converge to the same end
    // state without resurrecting deleted dirs or double-applying
    val swap = CommitLog.Swap(
      deletes = Seq("old"),
      renames = Seq(CommitLog.Rename(".st", "live")))
    val body = // what commit would persist
      """{"deletes":["old"],"renames":[{"staged":".st","live":"live","clear":[]}],"cleanup":[]}"""
    def crashState(steps: Int): String = {
      val root = tmp()
      Files.write(new java.io.File(root, ".commit-x").toPath,
        body.getBytes("UTF-8"))
      // step 0: nothing executed yet
      if (steps < 1) { mkDir(root, "old", "old"); mkDir(root, ".st", "new")
        mkDir(root, "live", "prior") }
      // step 1: deletes done
      else if (steps < 2) { mkDir(root, ".st", "new"); mkDir(root, "live", "prior") }
      // step 2: live cleared, rename not yet run
      else if (steps < 3) { mkDir(root, ".st", "new") }
      // step 3: rename done, manifest not yet dropped
      else { mkDir(root, "live", "new") }
      root
    }
    (0 to 3).foreach { steps =>
      val root = crashState(steps)
      CommitLog.recover(spark, root)
      assert(readMarker(root, "old").isEmpty, s"step $steps: old survived")
      assert(readMarker(root, "live").contains("new"), s"step $steps")
      assert(!new java.io.File(root, ".commit-x").exists(), s"step $steps")
      // a SECOND recover is a no-op on the healthy table
      CommitLog.recover(spark, root)
      assert(readMarker(root, "live").contains("new"), s"step $steps re-run")
    }
  }

  test("pre-manifest staging is inert: recover never swaps without a commit point") {
    val root = tmp()
    mkDir(root, "live", "prior")
    mkDir(root, ".st", "new")
    CommitLog.recover(spark, root)
    assert(readMarker(root, "live").contains("prior"))
    assert(readMarker(root, ".st").contains("new")) // left for overwrite
  }

  test("recover completes multiple independent manifests on one root") {
    val root = tmp()
    mkDir(root, ".sa", "a"); mkDir(root, ".sb", "b")
    Files.write(new java.io.File(root, ".commit-a").toPath,
      """{"deletes":[],"renames":[{"staged":".sa","live":"la","clear":[]}],"cleanup":[]}"""
        .getBytes("UTF-8"))
    Files.write(new java.io.File(root, ".commit-b").toPath,
      """{"deletes":[],"renames":[{"staged":".sb","live":"lb","clear":[]}],"cleanup":[]}"""
        .getBytes("UTF-8"))
    CommitLog.recover(spark, root)
    assert(readMarker(root, "la").contains("a"))
    assert(readMarker(root, "lb").contains("b"))
    assert(!new java.io.File(root, ".commit-a").exists())
    assert(!new java.io.File(root, ".commit-b").exists())
  }

  test("multi-manifest recovery is order-independent for disjoint path sets") {
    // recover() executes pending manifests in listing order; the
    // commit() invariant (tags touch DISJOINT path sets) is what makes
    // that order irrelevant. Build two roots with the SAME two pending
    // swaps, but swap which TAG carries which manifest so the listing
    // order processes them in opposite orders — the resulting trees
    // must be identical.
    def build(tagFor: Map[String, String]): String = {
      val root = tmp()
      mkDir(root, ".sa", "a"); mkDir(root, ".sb", "b")
      mkDir(root, "obsolete-a", "oa"); mkDir(root, "obsolete-b", "ob")
      val swapA = // protocol A: lands la, drops obsolete-a
        """{"deletes":["obsolete-a"],"renames":[{"staged":".sa","live":"la","clear":[]}],"cleanup":[]}"""
      val swapB = // protocol B: lands lb, drops obsolete-b
        """{"deletes":["obsolete-b"],"renames":[{"staged":".sb","live":"lb","clear":[]}],"cleanup":[]}"""
      Files.write(new java.io.File(root, s".commit-${tagFor("A")}").toPath,
        swapA.getBytes("UTF-8"))
      Files.write(new java.io.File(root, s".commit-${tagFor("B")}").toPath,
        swapB.getBytes("UTF-8"))
      CommitLog.recover(spark, root)
      root
    }
    def snapshot(root: String): Map[String, Option[String]] = {
      val names = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
      names.map(n => n -> readMarker(root, n)).toMap
    }
    // tag "0..." sorts before tag "z..." in a listing; flipping the
    // assignment flips the execution order of the same two swaps
    val forward = snapshot(build(Map("A" -> "0first", "B" -> "zsecond")))
    val reversed = snapshot(build(Map("A" -> "zsecond", "B" -> "0first")))
    assert(forward == reversed, s"$forward != $reversed")
    assert(forward.get("la").flatten.contains("a"))
    assert(forward.get("lb").flatten.contains("b"))
    assert(!forward.contains("obsolete-a") && !forward.contains("obsolete-b"))
  }

  test("randomized swaps converge from EVERY interruption point to the same end state") {
    // property: for a persisted swap, recover(partial-execution at any
    // atomic step k) == recover(nothing executed). The test re-derives
    // the executor's atomic-op sequence (deletes; per-rename clears +
    // live delete + rename; cleanups) and replays each prefix.
    val rnd = new scala.util.Random(4242)
    def walk(root: java.io.File, prefix: String = ""): Map[String, String] = {
      Option(root.listFiles()).getOrElse(Array.empty).flatMap { f =>
        val p = if (prefix.isEmpty) f.getName else s"$prefix/${f.getName}"
        if (f.isDirectory) walk(f, p)
        else Seq(p -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
      }.toMap
    }
    (1 to 8).foreach { trial =>
      // random layout: live dirs d0..d4, staged dirs s0..s2 renaming
      // onto random targets (some colliding with live dirs), a random
      // delete set and a cleanup dir
      val liveNames = (0 until 5).map(i => s"d$i")
      val stagedNames = (0 until 3).map(i => s".s$i")
      val renames = stagedNames.zipWithIndex.map { case (st, i) =>
        val target = if (rnd.nextBoolean()) s"d${rnd.nextInt(5)}"
                     else s"fresh$i"
        CommitLog.Rename(st, target,
          clearFirst = if (rnd.nextBoolean()) Seq(s"d${rnd.nextInt(5)}")
                       else Nil)
      }
      val renameTargets = renames.map(_.live).toSet
      val deletes = liveNames.filter(_ => rnd.nextBoolean())
        .filterNot(renameTargets) // executor order: deletes run first,
                                  // a later rename would resurrect
      val swap = CommitLog.Swap(deletes, renames, cleanup = Seq(".scr"))
      val body = CommitLog.serialize(swap)
      def fresh(): String = {
        val root = tmp()
        liveNames.foreach(n => mkDir(root, n, s"live-$n"))
        stagedNames.foreach(n => mkDir(root, n, s"staged-$n"))
        mkDir(root, ".scr", "scratch")
        Files.write(new java.io.File(root, ".commit-r").toPath,
          body.getBytes("UTF-8"))
        root
      }
      // the executor's atomic ops, re-derived for partial replay
      def ops(root: String): Seq[() => Unit] = {
        def del(n: String) = () => {
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(root, n)); ()
        }
        def ren(r: CommitLog.Rename): Seq[() => Unit] =
          if (!new java.io.File(root, r.staged).exists()) Nil
          else r.clearFirst.map(del) ++ Seq(del(r.live), () => {
            val live = new java.io.File(root, r.live)
            Option(live.getParentFile).foreach(_.mkdirs())
            Files.move(new java.io.File(root, r.staged).toPath,
              live.toPath); ()
          })
        swap.deletes.map(del) ++ renames.flatMap(ren) ++
          swap.cleanup.map(del) :+ del(".commit-r")
      }
      // reference: recover from the untouched state
      val ref = fresh()
      CommitLog.recover(spark, ref)
      val want = walk(new java.io.File(ref))
      val nOps = ops(fresh()).length // op count on a fresh layout
      (0 until nOps).foreach { k =>
        val root = fresh()
        // derive once on the fresh layout (all staged dirs present =>
        // the op list is exactly the executor's) and apply the first k
        ops(root).take(k).foreach(_.apply())
        CommitLog.recover(spark, root)
        val got = walk(new java.io.File(root))
        assert(got == want,
          s"trial $trial step $k diverged:\n got $got\nwant $want")
      }
    }
  }

  test("a .tmp manifest (crash mid-manifest-write) is ignored") {
    val root = tmp()
    mkDir(root, "live", "prior"); mkDir(root, ".st", "new")
    Files.write(new java.io.File(root, ".commit-x.tmp").toPath,
      """{"deletes":["live"],"renames":[],"cleanup":[]}""".getBytes("UTF-8"))
    CommitLog.recover(spark, root)
    assert(readMarker(root, "live").contains("prior"))
  }

  // ---- rename-failure semantics (ADVICE r9) --------------------------
  // Hadoop FileSystem.rename reports several failure modes by returning
  // FALSE rather than throwing. A false staged->live rename must leave
  // the manifest in place (the staged dir holds the only copy once the
  // live dir is cleared); a false commit-point rename must abort the
  // commit before anything live is touched.

  private def flakyFs = FlakyRenameFs.register(spark)
  private def flaky(root: String) = new org.apache.hadoop.fs.Path("flaky:" + root)

  test("a false staged->live rename aborts, keeps the manifest, and recover rolls forward") {
    val root = tmp()
    mkDir(root, "live", "prior")
    mkDir(root, ".st", "new")
    FlakyRenameFs.failOnceWhenDstNamed.set("live")
    val ex = intercept[java.io.IOException] {
      CommitLog.commit(flakyFs, flaky(root), "t",
        CommitLog.Swap(renames = Seq(CommitLog.Rename(".st", "live"))))
    }
    assert(ex.getMessage.contains("manifest left in place"))
    // the live dir was already cleared -- the staged dir now holds the
    // ONLY copy, and the surviving manifest is what lets recover retry
    assert(new java.io.File(root, ".commit-t").exists(), "manifest dropped")
    assert(readMarker(root, ".st").contains("new"), "staged data lost")
    CommitLog.recover(flakyFs, flaky(root)) // rename works again
    assert(readMarker(root, "live").contains("new"))
    assert(!new java.io.File(root, ".commit-t").exists())
    assert(!new java.io.File(root, ".st").exists())
  }

  test("a false commit-point rename aborts the commit with nothing live touched") {
    val root = tmp()
    mkDir(root, "old", "old")
    mkDir(root, ".st", "new")
    val swap = CommitLog.Swap(deletes = Seq("old"),
      renames = Seq(CommitLog.Rename(".st", "live")))
    FlakyRenameFs.failOnceWhenDstNamed.set(".commit-t2")
    val ex = intercept[java.io.IOException] {
      CommitLog.commit(flakyFs, flaky(root), "t2", swap)
    }
    assert(ex.getMessage.contains("commit aborted"))
    // no durable commit record => nothing executed: deletes did not
    // run, staging is intact and inert
    assert(readMarker(root, "old").contains("old"))
    assert(readMarker(root, ".st").contains("new"))
    assert(!new java.io.File(root, ".commit-t2").exists())
    CommitLog.recover(flakyFs, flaky(root)) // no-op: no manifest
    assert(readMarker(root, "old").contains("old"))
    // the retry (rename healthy again) completes the swap
    CommitLog.commit(flakyFs, flaky(root), "t2", swap)
    assert(readMarker(root, "old").isEmpty)
    assert(readMarker(root, "live").contains("new"))
    assert(!new java.io.File(root, ".commit-t2").exists())
  }
}
