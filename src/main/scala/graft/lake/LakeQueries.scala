package graft.lake

import java.time.LocalDateTime

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ModelArtifacts

/** Oracle-checkable query forms of the lake adapter's three entry points
  * (SURVEY §3 E1/E2/E3), driven off the `documents` fixture so the DuckDB
  * oracle can reproduce them from the same parquet. */
object LakeQueries {

  /** Fixed ingestion timestamp so partition labels are deterministic
    * (the reference stamps `LocalDateTime.now()`, Main.java:105 — a fixed
    * clock is the testable equivalent). */
  val FixedTs: LocalDateTime = LocalDateTime.of(2026, 1, 15, 10, 30, 0)

  /** Wrap fixture documents as Gutenberg-shaped texts: docs with
    * doc_id % 10 == 0 get NO markers (exercising the reject path), others
    * get the THE/THIS marker variant by doc_id % 3. */
  def wrappedTexts(documents: DataFrame): DataFrame = {
    val thisVariant = col("doc_id") % 3 === 0
    val st = when(thisVariant, lit(MarkerSplit.StartMarkers(1)))
      .otherwise(lit(MarkerSplit.StartMarkers(0)))
    val en = when(thisVariant, lit(MarkerSplit.EndMarkers(1)))
      .otherwise(lit(MarkerSplit.EndMarkers(0)))
    documents.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, col("text"))
        .otherwise(concat(
          lit("Title: doc "), col("doc_id"),
          lit("\nAuthor: "), col("source"), lit("\n"),
          st, lit(" Doc "), col("doc_id"), lit(" ***\n"),
          col("text"), lit("\n"),
          en, lit(" Doc "), col("doc_id"), lit(" ***\nEnd of transcript.")))
        .as("text"))
  }

  /** E1's parse stage: marker split over the wrapped corpus, keeping the
    * reject rows visible (split_ok=false, null header/body). */
  def markerSplitDemo(documents: DataFrame): DataFrame =
    MarkerSplit.withSplit(wrappedTexts(documents))
      .select(col("doc_id"), col("split_ok"), col("header"), col("body"))
      .orderBy(col("doc_id"))

  // One materialized lake per (session, corpus): l02 and l03 probe the
  // SAME lake, so don't pay the partitioned write twice per run. Every
  // demo store below is a session artifact keyed by the input's plan
  // ([[ModelArtifacts.planKey]]: distinct corpora, in-memory ones
  // included, never collide — a row COUNT key would, and counting would
  // also cost a job per call).
  private def freshLake(spark: SparkSession,
      documents: DataFrame): SparkLakeStorage =
    ModelArtifacts.stored("lake", documents, "") { dir =>
      val storage = new SparkLakeStorage(spark, dir)
      storage.saveBooks(
        documents.select(col("doc_id").as("book_id"),
          concat(lit("Header for "), col("doc_id")).as("header"),
          col("text").as("body")),
        FixedTs)
      storage
    }

  /** E3 round-trip: save every fixture document into a fresh partitioned
    * parquet lake, read it back, list distinct body ids ascending with
    * their partition labels. */
  def roundtripList(spark: SparkSession, documents: DataFrame): DataFrame =
    freshLake(spark, documents).lake
      .filter(col("kind") === "body")
      .select(col("book_id"), col("date"), col("hour"))
      .distinct()
      .orderBy(col("book_id"))

  /** E2 batched: availability of a fixed probe set against the round-trip
    * lake — the scalable form of per-id `exists` (one semi-join instead of
    * N point scans). */
  def existsProbe(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    // listBooksDF reads the manifest snapshot, not the data files — the
    // availability probe is a metadata join even over a 100 TB lake
    val lakeIds = freshLake(spark, documents).listBooksDF
      .withColumn("present", lit(true))
    Seq(-1L, 0L, 1L, 17L, 499L, 999999L).toDF("book_id")
      .join(lakeIds, Seq("book_id"), "left")
      .select(col("book_id"),
        coalesce(col("present"), lit(false)).as("available"))
      .orderBy(col("book_id"))
  }

  /** l07: the l04 CDC merge executed THROUGH the snapshot commit path —
    * v0 = base snapshot, v1 = the change feed folded in by
    * [[SnapshotStore.applyChanges]]; the query reads the PUBLISHED v1
    * from disk, so the oracle checks the whole write→publish→read loop,
    * not just the merge plan. Same oracle SQL as l04 by construction. */
  def snapshotMerge(spark: SparkSession, orders: DataFrame): DataFrame =
    committedStore(spark, orders).read().orderBy("o_orderkey")

  /** The shared two-version demo store behind l07 and l11 (committed
    * once per session — l07 must not re-commit versions on every
    * bench/verify invocation): v0 = base snapshot of orders, v1 = the
    * l04 change feed committed through [[SnapshotStore.applyChanges]]. */
  private def committedStore(spark: SparkSession,
      orders: DataFrame): SnapshotStore =
    ModelArtifacts.stored("snap", orders, "") { dir =>
      val s = new SnapshotStore(spark, dir)
      val base = Merge.demoBase(orders)
      s.commit(base)
      s.applyChanges(Merge.demoChangeFeed(base), Seq("o_orderkey"))
      s
    }

  /** l11: [[SnapshotStore.diff]] between the two committed versions of
    * the l07 store — the CDC-READ loop closed: l04/l07 APPLY a change
    * feed to produce v1; this re-derives that feed from the published
    * versions alone, the way a downstream incremental consumer (e.g.
    * [[graft.operators.Relational.incrementalJoinDemo]]'s deltas) would
    * subscribe to the table. The oracle reconstructs the same
    * update/delete classification straight from the orders fixture. */
  def snapshotDiff(spark: SparkSession, orders: DataFrame): DataFrame =
    committedStore(spark, orders).diff(0L, 1L, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("change_type"),
        col("_old.o_totalprice").as("old_price"),
        col("_new.o_totalprice").as("new_price"))
      .orderBy(col("o_orderkey"))

  /** l14: the version-history listing (`DESCRIBE HISTORY` shape) over
    * the same two-version store — one row per committed snapshot with
    * its row count, built as a lazy union of per-version reads (no
    * driver-side counting; at scale the counts come from snapshot
    * metadata instead of a scan, but the time-travel read path is the
    * thing exercised here). */
  def versionHistory(spark: SparkSession, orders: DataFrame): DataFrame = {
    val store = committedStore(spark, orders)
    val latest = store.latestVersion.getOrElse(
      sys.error("version history on an empty store"))
    (0L to latest)
      .map(v => store.read(v).select(lit(v).as("version")))
      .reduce(_.unionAll(_))
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("version"))
  }

  // One vacuum-demo store per (session, input): v0 full commit,
  // v1 a full REWRITE (prices +1 — makes v0 pure history), v2 a
  // merge-on-read DELETE of the %10==3 keys on top of v1. Under
  // keepLast=1 the window holds v2 alone, v1 survives as v2's
  // marker-chain base (live data), v0 expires.
  private def vacuumDemoStore(spark: SparkSession,
      orders: DataFrame): SnapshotStore =
    ModelArtifacts.stored("vac", orders, "") { dir =>
      val s = new SnapshotStore(spark, dir)
      val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      s.commit(base)
      s.commit(base.select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") + lit(1.0)).as("o_totalprice")))
      s.deleteByKeys(base.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey")))
      s
    }

  /** l18: the VACUUM DRY-RUN report over the three-version demo store
    * ([[SnapshotStore.vacuumPlan]] at keepLast=1) with each version's
    * logical row count attached via the l14 time-travel union — one row
    * per version stating kind, merge-on-read base, rows, and the
    * retention verdict. The oracle re-derives the verdicts from the
    * fixture's version algebra: v0 `expired` (a full rewrite in v1
    * orphaned it), v1 `mor_base` (outside the window, but v2's delete
    * marker still subtracts from it — live data, not history), v2
    * `kept_recent`; counts come straight from the orders table.
    *
    * The plan itself is metadata-scale (markers only); the row counts
    * are the l14 read path — at scale they come from snapshot
    * statistics instead of a scan, but the time-travel resolution
    * through a marker chain is the thing exercised. */
  def vacuumPlanReport(spark: SparkSession, orders: DataFrame): DataFrame = {
    val store = vacuumDemoStore(spark, orders)
    val latest = store.latestVersion.getOrElse(
      sys.error("vacuum plan on an empty store"))
    val counts = (0L to latest)
      .map(v => store.read(v).select(lit(v).as("version")))
      .reduce(_.unionAll(_))
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_rows"))
    store.vacuumPlan(keepLast = 1)
      .join(counts, Seq("version"))
      .select(col("version"), col("kind"), col("base_version"),
        col("n_rows"), col("retained"), col("reason"))
      .orderBy(col("version"))
  }

  // One merge-on-read demo store per (session, input): v0 = the
  // full orders projection, v1 = a key-only DELETE version (no base
  // rewrite), v2 = an APPEND version restoring half the deleted keys.
  // l13 reads the final chain — the oracle reproduces the same set
  // algebra straight from the orders fixture.
  private def morStore(spark: SparkSession,
      orders: DataFrame): SnapshotStore =
    ModelArtifacts.stored("mor", orders, "") { dir =>
      val s = new SnapshotStore(spark, dir)
      val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      s.commit(base)
      // MoR delete: drop every key ≡ 3 (mod 10) — writes keys only
      s.deleteByKeys(base.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey")))
      // MoR append: restore the even half of them, price bumped +5
      s.appendRows(base.filter(col("o_orderkey") % 10 === 3 &&
          col("o_orderkey") % 20 === 3)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + lit(5.0)).as("o_totalprice")))
      s
    }

  /** l13: merge-on-read delete + append chain read back through
    * [[SnapshotStore.read]] — v1 subtracts keys without rewriting v0,
    * v2 unions restored rows onto v1; the read resolves marker chain →
    * anti-join → union lazily. Row-count identity the oracle checks:
    * all orders minus the odd half of the %10==3 keys, with the
    * restored (even-half) rows carrying the +5 price bump. */
  def morChainRead(spark: SparkSession, orders: DataFrame): DataFrame =
    morStore(spark, orders).read().orderBy(col("o_orderkey"))

  // One replace-where demo lake per (session, input): the base
  // table partitioned by priority, then the URGENT partition replaced
  // via DYNAMIC partition overwrite.
  /** l15: DYNAMIC PARTITION OVERWRITE (Delta's `replaceWhere`, Hive's
    * `INSERT OVERWRITE ... PARTITION`) — the partition-scoped rewrite
    * every backfill/correction job runs: the lake holds `orders`
    * partitioned by priority; the 1-URGENT partition is then
    * OVERWRITTEN with repriced rows (×0.9) through
    * `partitionOverwriteMode=dynamic`, which replaces exactly the
    * partitions present in the incoming write and leaves every other
    * partition's files untouched (spec-asserted at the file level —
    * the point of the mode vs a whole-table overwrite). The query
    * reads the PUBLISHED lake from disk, so the oracle checks the
    * write→replace→read loop including the parquet round-trip and
    * partition-value re-attachment, not just a plan.
    *
    * Scale shape: the replacement job scans/writes one partition; at
    * rest this is the metadata-only swap table formats do with a
    * replaceWhere commit (the README interop table's mapping). */
  def replaceWhereRead(spark: SparkSession,
      orders: DataFrame): DataFrame = {
    val dir = ModelArtifacts.stored("rw", orders, "") { d =>
      val base = orders.select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"))
      base.write.partitionBy("o_orderpriority").parquet(d)
      base.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"),
          (col("o_totalprice") * lit(0.9)).as("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority").parquet(d)
      d
    }
    spark.read.parquet(dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** l16: WRITE–AUDIT–PUBLISH (the Iceberg/Netflix WAP governance
    * pattern; Delta calls it a staged commit): a candidate delta is
    * written to an UNCOMMITTED staging location, the data-quality
    * audits run against the STAGED FILES AS WRITTEN — not the incoming
    * frame, so serialization itself is inside the checked surface —
    * and only a clean audit advances the table pointer; a dirty delta
    * leaves the published table bit-identical and its staging files
    * are removed. The fixture runs both paths: delta1 (orderkeys ≡ 1
    * mod 3) audits clean and publishes; delta2 (≡ 2 mod 3, with
    * negated prices on the ≡ 0 mod 5 slice, plus replayed
    * already-published base keys on the ≡ 0 mod 21 slice) fails BOTH
    * audits — non-positive prices and duplicate keys against the
    * published state at audit time — and is rejected.
    *
    * The audit decision collects two COUNTS to the driver: WAP is a
    * control-flow operation by definition (publish-or-abort is a
    * driver decision in every real implementation — Iceberg's
    * cherry-pick, Delta's commit coordinator), and two longs are
    * model-artifact-scale, not a data loop.
    *
    * Output: the audit ledger (one row per delta: row/violation
    * counts, the derived publish verdict) with the PUBLISHED table's
    * row count and exact key sum attached — read back from the store
    * on every call, so the oracle checks the full
    * stage→audit→publish→read loop including the parquet round-trip.
    * Key sums are exact longs (headroom past 10⁹ rows of 10⁹-scale
    * keys needs DECIMAL(38,0), the p12 escape).
    *
    * Scale: audits are count aggregates over the staged files plus
    * one key-equijoin against the published table (broadcast when the
    * delta is small — the common case); the publish is
    * [[SnapshotStore]]'s O(delta) MOR append, never a table rewrite;
    * the reject path deletes only its own staging files. */
  def wapRead(spark: SparkSession, orders: DataFrame): DataFrame = {
    val base = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val delta1 = orders.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_totalprice"))
    val delta2 = orders.filter(col("o_orderkey") % 3 === 2)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0,
          col("o_totalprice") * lit(-1))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .unionByName(base.filter(col("o_orderkey") % 7 === 0))
    // One WAP-exercised store per (session, input) — the stage/audit/
    // publish loop must not re-run on every bench/verify invocation.
    // Value = the store plus the audit ledger recorded AT publish time.
    val (store, ledger) = ModelArtifacts.stored("wap", orders, "") { root =>
      val s = new SnapshotStore(spark, root + "/table")
      s.commit(base)
      def wapOne(deltaId: String, delta: DataFrame)
          : (String, Long, Long, Long, Boolean) = {
        // WRITE: stage the candidate, then audit what was WRITTEN
        val stagingDir = root + s"/staging-$deltaId"
        delta.write.mode("overwrite").parquet(stagingDir)
        val staged = spark.read.parquet(stagingDir)
        // AUDIT: violation counts against the staged files + the
        // published state as of NOW
        val nRows = staged.count()
        val nBad = staged.filter(col("o_totalprice") <= 0).count()
        val nDup = staged.join(
          s.read().select(col("o_orderkey")), Seq("o_orderkey"),
          "left_semi").count()
        val ok = nBad == 0L && nDup == 0L
        // PUBLISH or ABORT
        if (ok) s.appendRows(staged)
        else FileUtil.fullyDelete(new java.io.File(stagingDir))
        (deltaId, nRows, nBad, nDup, ok)
      }
      val led = Seq(wapOne("delta1_clean", delta1),
        wapOne("delta2_dirty", delta2))
      (s, led)
    }
    val published = store.read()
      .agg(count(lit(1)).as("published_rows"),
        sum(col("o_orderkey")).as("published_key_sum"))
    spark.createDataFrame(ledger)
      .toDF("delta_id", "n_rows", "n_bad_price", "n_dup_keys",
        "published")
      .crossJoin(broadcast(published))
      .orderBy(col("delta_id"))
  }

  /** l17: ZERO-COPY BRANCHING ([[SnapshotStore.branch]] — Iceberg
    * branches / Nessie refs in miniature): main commits v0; branch
    * `fix` forks it with a MARKER, no data copied; the branch then
    * applies an O(delta) merge-on-read correction (delete the %7≡0
    * keys, append them back price-doubled — an UPDATE as
    * delete+append); main independently appends its own new keys. The
    * query reads BOTH refs back through the published chains (branch
    * read resolves append → delete → fork → parent v0 lazily) and
    * rolls each up to (n_rows, exact key sum, exact cents sum) — one
    * row per ref, so the oracle checks both lines' full
    * fork→edit→read loops AND their isolation from each other: main's
    * summary must show no trace of the branch's correction and vice
    * versa.
    *
    * Price cents are floor(price·100) per row then summed — exact
    * longs, order-free (the p14 quantization discipline); the ×2
    * correction is a power-of-two multiply, IEEE-exact in both
    * engines.
    *
    * Scale: the fork writes one marker file regardless of table size;
    * branch edits cost O(delta) (MOR); reads are the l13 chain shapes.
    * Retention interplay documented at [[SnapshotStore.branch]]. */
  def branchRead(spark: SparkSession, orders: DataFrame): DataFrame = {
    val base = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    // One branched store per (session, input) — main and its "fix"
    // branch diverge from one shared immutable v0.
    val store = ModelArtifacts.stored("branch", orders, "") { dir =>
      val s = new SnapshotStore(spark, dir + "/table")
      s.commit(base) // main v0
      val br = s.branch("fix", 0L) // zero-copy fork
      val fixKeys = base.filter(col("o_orderkey") % 7 === 0)
      br.deleteByKeys(fixKeys.select(col("o_orderkey")))
      br.appendRows(fixKeys.select(col("o_orderkey"),
        (col("o_totalprice") * lit(2.0)).as("o_totalprice")))
      // main moves on independently: new keys, untouched by the branch
      s.appendRows(orders
        .filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_totalprice")))
      s
    }
    def rollup(ref: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents_sum"))
        .select(lit(ref).as("ref"), col("n_rows"), col("key_sum"),
          col("cents_sum"))
    rollup("fix", store.branchStore("fix").read())
      .unionByName(rollup("main", store.read()))
      .orderBy(col("ref"))
  }
}
