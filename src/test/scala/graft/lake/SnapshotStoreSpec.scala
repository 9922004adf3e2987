package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Atomic-pointer snapshot commits: versioning, time travel, vacuum,
  * crash-visibility, and the streaming CDC apply. */
class SnapshotStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshStore() = new SnapshotStore(spark,
    tempDir("graft-snap-").toFile.getAbsolutePath)

  test("commit/read round-trip; versions increment; time travel") {
    val store = freshStore()
    assert(store.latestVersion.isEmpty)
    val v0 = store.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v1 = store.commit(Seq((1L, "a2"), (2L, "b")).toDF("k", "v"))
    assert((v0, v1) == (0L, 1L) && store.latestVersion.contains(1L))
    assert(store.read().orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("a2", "b"))
    // time travel reads the immutable old version
    assert(store.read(0L).orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("a", "b"))
  }

  test("an unpublished snapshot dir is invisible to readers (crash mid-commit)") {
    val store = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "v"))
    // simulate a crash between data write and pointer swap: the next
    // version's dir exists but _LATEST still names version 0
    Seq((9L, "junk")).toDF("k", "v").write.parquet(store.root + "/v=1")
    assert(store.latestVersion.contains(0L))
    assert(store.read().count() == 1) // readers still see version 0
    // restart recovery: the next commit clobbers the unpublished orphan
    val v = store.commit(Seq((2L, "real")).toDF("k", "v"))
    assert(v == 1L)
    assert(store.read().collect().map(_.getString(1)).toSeq == Seq("real"))
  }

  test("interleaved committers: loser gets a conflict, not an overwrite") {
    val store = freshStore()
    store.commit(Seq((1L, "base")).toDF("k", "v")) // v0
    // committer A reads its base ...
    val aBase = store.latestVersion
    assert(aBase.contains(0L))
    // ... then committer B lands v1 while A is still preparing
    store.commit(Seq((1L, "winner")).toDF("k", "v"))
    // A's publish must fail loudly, not clobber B's v1
    val e = intercept[ConcurrentCommitException] {
      store.commit(Seq((1L, "loser")).toDF("k", "v"), aBase)
    }
    assert(e.getMessage.contains("expected base Some(0)"))
    assert(store.latestVersion.contains(1L))
    assert(store.read().collect().map(_.getString(1)).toSeq == Seq("winner"))
    // the loser's staging dir was cleaned up, no half-commit debris
    val left = new java.io.File(store.root).listFiles()
      .map(_.getName).filter(_.startsWith("_staging"))
    assert(left.isEmpty, s"staging debris: ${left.toSeq}")
    // A retries the OCC loop against the new base and succeeds as v2
    assert(store.commit(Seq((1L, "retry")).toDF("k", "v"),
      store.latestVersion) == 2L)
    assert(store.read().collect().map(_.getString(1)).toSeq == Seq("retry"))
  }

  test("OCC commit round-trip on a second registered scheme (graftfs://)") {
    // the pointer publish goes through FileContext, which resolves its
    // own per-scheme impl (fs.AbstractFileSystem.<scheme>.impl) — the
    // hook an object-store backend maps to a conditional PUT. Running
    // the whole commit/read/conflict/vacuum cycle over graftfs://
    // proves no file:// assumption hides in the commit path.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    hc.set("fs.AbstractFileSystem.graftfs.impl",
      classOf[GraftTestAbstractFs].getName)
    val dir = tempDir("graft-snapfs-")
      .toFile.getAbsolutePath
    val store = new SnapshotStore(spark, s"graftfs://$dir")
    assert(store.commit(Seq((1L, "a")).toDF("k", "v")) == 0L)
    val staleBase = store.latestVersion
    assert(store.commit(Seq((1L, "b")).toDF("k", "v")) == 1L)
    assert(store.read().collect().map(_.getString(1)).toSeq == Seq("b"))
    assert(store.read(0L).collect().map(_.getString(1)).toSeq == Seq("a"))
    intercept[ConcurrentCommitException] {
      store.commit(Seq((1L, "stale")).toDF("k", "v"), staleBase)
    }
    assert(store.vacuumStaging().isEmpty) // conflict cleaned up after itself
    assert(store.vacuum(keepLast = 1) == Seq(0L))
    assert(store.latestVersion.contains(1L))
  }

  test("staging vacuum drops crash debris, never published data") {
    val store = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "v"))
    // simulate a committer that crashed between staging and publish
    val debris = new java.io.File(store.root, "_staging-v1-deadbeef")
    assert(debris.mkdir())
    val dropped = store.vacuumStaging()
    assert(dropped == Seq("_staging-v1-deadbeef"))
    assert(!debris.exists())
    assert(store.latestVersion.contains(0L))
    assert(store.read().collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(store.vacuumStaging().isEmpty) // idempotent
  }

  test("applyChanges folds a change feed as one new version") {
    val store = freshStore()
    store.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    val changes = Seq((2L, "B", "U"), (3L, null.asInstanceOf[String], "D"),
      (4L, "d", "I")).toDF("k", "v", "op")
    val v = store.applyChanges(changes, Seq("k"))
    assert(v == 1L)
    val out = store.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq(1L -> "a", 2L -> "B", 4L -> "d"))
  }

  test("diff classifies insert/update/delete and drops unchanged keys") {
    val store = freshStore()
    store.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    store.applyChanges(Seq((2L, "B", "U"),
      (3L, null.asInstanceOf[String], "D"),
      (4L, "d", "I")).toDF("k", "v", "op"), Seq("k"))
    val out = store.diff(0L, 1L, Seq("k"))
      .select("k", "change_type").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // key 1 is unchanged between versions: it must NOT appear
    assert(out == Seq(2L -> "update", 3L -> "delete", 4L -> "insert"))
  }

  test("diff payload columns carry old/new values per side") {
    val store = freshStore()
    store.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x"))
    store.commit(Seq((1L, 11.0), (3L, 30.0)).toDF("k", "x"))
    val rows = store.diff(0L, 1L, Seq("k"))
      .select(col("k"), col("change_type"),
        col("_old.x").as("old_x"), col("_new.x").as("new_x"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSeq
    assert(rows == Seq(
      (1L, "update", Some(10.0), Some(11.0)),
      (2L, "delete", Some(20.0), None),
      (3L, "insert", None, Some(30.0))))
  }

  test("closed CDC loop: diff output maintains a downstream join view") {
    val store = freshStore()
    store.commit(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("k", "dim_key", "x"))
    store.applyChanges(Seq(
      (2L, Option("b"), Option(21.0), "U"),
      (3L, None: Option[String], None: Option[Double], "D"),
      (4L, Option("b"), Option(40.0), "I")).toDF("k", "dim_key", "x", "op"),
      Seq("k"))
    val dim = Seq(("a", "Alpha"), ("b", "Beta")).toDF("dim_key", "dim_name")
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("dim_key"), col("x"), col("dim_name"))
    // v0's materialized join view, maintained ONLY from the diff feed:
    // drop every changed key, re-add the new-side of inserts/updates
    val view0 = proj(store.read(0L).join(dim, "dim_key"))
    val d = store.diff(0L, 1L, Seq("k"))
    val additions = proj(d
      .filter(col("change_type").isin("insert", "update"))
      .select(col("k"), col("_new.dim_key").as("dim_key"),
        col("_new.x").as("x"))
      .join(dim, "dim_key"))
    val maintained = view0
      .join(d.select("k"), Seq("k"), "left_anti")
      .unionByName(additions)
      .orderBy("k").collect().toSeq
    val full = proj(store.read(1L).join(dim, "dim_key"))
      .orderBy("k").collect().toSeq
    assert(maintained == full)
  }

  test("vacuum drops old versions, keeps the published one") {
    val store = freshStore()
    (0 to 3).foreach(i => store.commit(Seq((i.toLong, "x")).toDF("k", "v")))
    val dropped = store.vacuum(keepLast = 2)
    assert(dropped == Seq(0L, 1L))
    assert(store.read().collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(store.read(2L).count() == 1) // kept
    intercept[Exception](store.read(0L).count()) // vacuumed
  }

  test("vacuumPlan is the dry run vacuum executes: kinds, MOR-base " +
      "liveness, and the expired set match the actual deletion") {
    val store = freshStore()
    // v0 full, v1 full rewrite (orphans v0), v2 MoR delete on v1,
    // v3 MoR append on v2 — keepLast=1 window holds v3; the chain
    // v3→v2→v1 is live; only v0 expires
    store.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    store.commit(Seq((1L, "a2"), (2L, "b2"), (3L, "c2")).toDF("k", "v"))
    store.deleteByKeys(Seq(Tuple1(2L)).toDF("k"))
    store.appendRows(Seq((4L, "d")).toDF("k", "v"))
    val plan = store.vacuumPlan(keepLast = 1).collect()
      .map(r => r.getAs[Long]("version") ->
        ((r.getAs[String]("kind"), r.getAs[Long]("base_version"),
          r.getAs[Boolean]("retained"), r.getAs[String]("reason"))))
      .toMap
    assert(plan(0L) == (("full", -1L, false, "expired")))
    assert(plan(1L) == (("full", -1L, true, "mor_base")))
    assert(plan(2L) == (("mor_delete", 1L, true, "mor_base")))
    assert(plan(3L) == (("mor_append", 2L, true, "kept_recent")))
    // plan/execute agreement: vacuum drops exactly the expired set
    val dropped = store.vacuum(keepLast = 1)
    assert(dropped.toSet ==
      plan.filter(!_._2._3).keySet)
    // every retained version still resolves through its chain
    assert(store.read(3L).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 4L))
    assert(store.read(1L).count() == 3)
    // re-plan after the vacuum: already-deleted versions emit NO row
    // (not phantom "expired" entries), so plan/execute agreement holds
    // on a previously-vacuumed store too
    val replan = store.vacuumPlan(keepLast = 1).collect()
    assert(replan.map(_.getAs[Long]("version")).toSet == Set(1L, 2L, 3L))
    assert(replan.forall(_.getAs[Boolean]("retained")))
  }

  test("streaming CDC apply: per-batch atomic upsert with compaction") {
    implicit val sqlCtx = spark.sqlContext
    val store = freshStore()
    store.commit(Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "lsn"))
    val input = MemoryStream[(Long, String, Long, String)]
    val q = SnapshotStore.applyChangeStream(
      input.toDF().toDF("k", "v", "lsn", "op"), store, Seq("k"), col("lsn"))
    try {
      // batch 1: two changes to the same key — compaction keeps lsn 2
      input.addData((1L, "mid", 1L, "U"), (1L, "new", 2L, "U"))
      q.processAllAvailable()
      assert(store.read().orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq(1L -> "new", 2L -> "b"))
      // batch 2: delete key 2, insert key 3
      input.addData((2L, null.asInstanceOf[String], 3L, "D"),
        (3L, "c", 4L, "I"))
      q.processAllAvailable()
      assert(store.read().orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq(1L -> "new", 3L -> "c"))
      assert(store.latestVersion.contains(2L)) // one version per batch
    } finally q.stop()
  }

  test("merge-on-read delete writes keys only, never rewrites the base") {
    val store = freshStore()
    store.commit((1L to 6L).map(k => (k, s"v$k")).toDF("k", "v"))
    val v1 = store.deleteByKeys(Seq(2L, 5L).toDF("k"))
    assert(v1 == 1L)
    assert(store.read().orderBy("k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 3L, 4L, 6L))
    assert(store.read(0L).count() == 6) // time travel: base untouched
    // the delete version's dir holds the key sidecar + marker, not data:
    // its parquet rows are exactly the 2 deleted keys
    assert(spark.read.parquet(store.root + "/v=1").count() == 2)
    assert(new java.io.File(store.root + "/v=1/_DELETE_BASE").exists())
  }

  test("merge-on-read chain: delete, append, then materialize compacts") {
    val store = freshStore()
    store.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    store.deleteByKeys(Seq(2L, 3L).toDF("k")) // v1
    store.appendRows(Seq((3L, "c2"), (4L, "d")).toDF("k", "v")) // v2
    val expect = Seq(1L -> "a", 3L -> "c2", 4L -> "d")
    def contents() = store.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(contents() == expect)
    val v3 = store.materialize()
    assert(v3 == 3L && contents() == expect)
    // the materialized version is self-contained: vacuuming the whole
    // chain away leaves it readable
    assert(store.vacuum(keepLast = 1) == Seq(0L, 1L, 2L))
    assert(contents() == expect)
  }

  test("vacuum keeps versions a live merge-on-read chain builds on") {
    val store = freshStore()
    store.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // v0
    store.deleteByKeys(Seq(2L).toDF("k")) // v1 = MoR on v0
    // keepLast=1 nominally drops v0, but v1 still reads THROUGH v0
    assert(store.vacuum(keepLast = 1).isEmpty)
    assert(store.read().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("appendIfNew skips redelivered batch ids (exactly-once)") {
    val store = freshStore()
    assert(store.lastBatchId("app").isEmpty)
    assert(store.appendIfNew(Seq((1L, "a")).toDF("k", "v"), "app", 0L)
      .contains(0L))
    assert(store.appendIfNew(Seq((2L, "b")).toDF("k", "v"), "app", 1L)
      .contains(1L))
    // redelivery of batch 1 and a stale batch 0: both no-ops
    assert(store.appendIfNew(Seq((2L, "b")).toDF("k", "v"), "app", 1L).isEmpty)
    assert(store.appendIfNew(Seq((1L, "a")).toDF("k", "v"), "app", 0L).isEmpty)
    assert(store.latestVersion.contains(1L))
    assert(store.lastBatchId("app").contains(1L))
    // a DIFFERENT app's batch ids are independent
    assert(store.appendIfNew(Seq((3L, "c")).toDF("k", "v"), "other", 0L)
      .contains(2L))
    assert(store.read().orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("a", "b", "c"))
  }

  test("exactly-once streaming append: O(batch) versions, no double-ingest") {
    implicit val sqlCtx = spark.sqlContext
    val store = freshStore()
    val input = MemoryStream[(Long, String)]
    val q = SnapshotStore.exactlyOnceAppendStream(
      input.toDF().toDF("k", "v"), store, "ingest-1")
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      assert(store.read().orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
      assert(store.latestVersion.contains(1L)) // one version per batch
      assert(store.lastBatchId("ingest-1").contains(1L))
      // simulate the crash-redelivery the checkpoint protocol produces:
      // re-running batch 1's payload with its original id changes nothing
      assert(store.appendIfNew(Seq((3L, "c")).toDF("k", "v"),
        "ingest-1", 1L).isEmpty)
      assert(store.read().count() == 3)
    } finally q.stop()
  }

  test("branch (l17): zero-copy fork, isolated evolution both ways, " +
      "abandon = delete one directory") {
    import spark.implicits._
    val root = tempDir("graft-br-")
      .toFile.getAbsolutePath + "/t"
    val store = new SnapshotStore(spark, root)
    store.commit(Seq((1L, 10.0), (7L, 70.0), (14L, 140.0))
      .toDF("k", "p"))
    val br = store.branch("fix", 0L)
    // ZERO-COPY: the branch's v0 directory holds the fork marker and
    // no parquet data files
    val v0 = new java.io.File(s"$root/branch=fix/v=0")
    assert(v0.listFiles().exists(_.getName == "_FORK_BASE"))
    assert(!v0.listFiles().exists(_.getName.endsWith(".parquet")))
    // the fork reads the parent's snapshot through the marker
    assert(br.read().count() == 3)
    // branch correction: MOR delete + append (an update), O(delta)
    br.deleteByKeys(Seq(Tuple1(7L)).toDF("k"))
    br.appendRows(Seq((7L, 77.0)).toDF("k", "p"))
    // main moves on independently
    store.appendRows(Seq((2L, 20.0)).toDF("k", "p"))
    val brOut = br.read().collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    val mnOut = store.read().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // isolation: the branch never sees main's append; main never sees
    // the branch's correction
    assert(brOut == Map(1L -> 10.0, 7L -> 77.0, 14L -> 140.0))
    assert(mnOut == Map(1L -> 10.0, 7L -> 70.0, 14L -> 140.0, 2L -> 20.0))
    // reopening by name sees the same chain; double-create is refused
    assert(store.branchStore("fix").read().count() == 3)
    intercept[IllegalArgumentException](store.branch("fix", 0L))
    // publishing the branch back is a plain OCC merge commit on main
    store.commit(store.branchStore("fix").read())
    assert(store.read().collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap == Map(1L -> 10.0, 7L -> 77.0, 14L -> 140.0))
    // abandon: one directory delete, main untouched
    val brDir = new java.io.File(s"$root/branch=fix")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(brDir)
    assert(!brDir.exists() && store.read().count() == 3)
  }

  test("version history lists every committed snapshot with its row count") {
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
    val hist = LakeQueries.versionHistory(spark, orders).collect()
      .map(r => r.getAs[Long]("version") -> r.getAs[Long]("n_rows")).toMap
    val total = orders.count()
    val afterMerge = orders
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 13 =!= 0)
      .count()
    assert(hist == Map(0L -> total, 1L -> afterMerge))
  }
}
