package graft.operators

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** The session artifact store: every derived artifact a ledger entry
  * builds once per session and reads thereafter — trained model frames
  * (coarse IVF centroids, PQ codebooks), stored index tables
  * ([[IndexStore]]), the shared kNN graphs, trained tokenizers, the lake
  * layer's demo lakes and snapshot stores, and the text-format copies.
  *
  * This is the local stand-in for the model/artifact store every real
  * ANN deployment has: at 100 TB the quantizers are trained once,
  * written beside the index, and every serving query LOADS them.
  * Without it a stateless harness (bench sweeps, repeated API calls)
  * re-runs the training lineage on every invocation of the serving
  * form, and the measured "serve cost" is mostly training — the exact
  * conflation the serving tier exists to remove.
  *
  * An entry is built once per (session, kind, key): concurrent misses
  * on one key build once, and a build runs outside the map's lock, so
  * a build may look up other entries (a stored beam graph trains its
  * centroids here) and a slow build never delays another key. An entry
  * may own a directory under its session's root, and may hold an
  * anchored frame; releasing it deletes the one and `Anchor.release`s
  * the other. A build that throws leaves no directory and is retried
  * by the next lookup.
  *
  * Bounded: model frames are K- or m·k-row local frames (a few KB), and
  * at most [[MaxEntries]] of them stay resident, least-recently-used
  * evicted first. Entries that own a directory or an anchor are never
  * evicted: a live plan may still read them.
  *
  * Staleness contract: a frame-derived key is the INPUT PLAN
  * ([[planKey]]; for file sources it embeds the concrete file listing),
  * not a data snapshot — the same contract as any model store keyed by
  * training-set identity. A corpus rewritten in place mid-session
  * re-derives only when its resolved plan changes; retraining on a live
  * session is `clear()`.
  *
  * Scope: a session's entries live until [[release]] (which
  * [[graft.LedgerRunner.run]] performs before stopping the session) or
  * the JVM exits, whose shutdown hook deletes every session root still
  * on disk. */
object ModelArtifacts {

  /** Upper bound on resident model frames. Each is a K- or m·k-row
    * local frame (a few KB), so the cap bounds them at well under a
    * megabyte while still covering any realistic hyperparameter sweep; a
    * long-lived multi-tenant session sweeping past it evicts
    * least-recently-USED entries (access-order LRU), which for a sweep
    * is the config least likely to be served again. */
  private val MaxEntries = 64

  /** The kind of the entries [[cached]] makes, the only evictable one. */
  private val Model = "model"

  private final class Entry(spark: SparkSession, val kind: String) {
    @volatile var value: Option[Any] = None
    @volatile var dir: Option[Path] = None

    /** A fresh, not yet created path under the session root, owned by
      * this entry until it is released. */
    def newDir(): String = {
      val d = roots.computeIfAbsent(spark,
        _ => Files.createTempDirectory("graft-session-"))
        .resolve(s"$kind-${dirIds.incrementAndGet()}")
      dir = Some(d)
      d.toString
    }

    def get(build: Entry => Any): Any = synchronized {
      value.getOrElse {
        val v = try build(this)
          catch { case t: Throwable => dropDir(); throw t }
        value = Some(v)
        v
      }
    }

    def release(): Unit = synchronized {
      dropDir()
      // a no-op on frames that are not anchors (Anchor.release's contract)
      value.foreach { case df: DataFrame => Anchor.release(df); case _ => }
      value = None
    }

    private def dropDir(): Unit = {
      dir.foreach(d => FileUtil.fullyDelete(d.toFile))
      dir = None
    }
  }

  private type Id = (SparkSession, String, String)

  private val entries = new java.util.LinkedHashMap[Id, Entry](16, 0.75f,
    /* accessOrder = */ true)
  private val roots =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Path]()
  private val dirIds = new java.util.concurrent.atomic.AtomicLong()

  sys.addShutdownHook(roots.values.forEach(d => FileUtil.fullyDelete(d.toFile)))

  /** The entry for (spark, kind, key), built by `build` once. The map
    * lock covers only the probe and the insert of the entry's holder;
    * the build runs under the holder's own lock. */
  private def lookup[A](spark: SparkSession, kind: String, key: String)(
      build: Entry => A): A = {
    val id = (spark, kind, key)
    val e = entries.synchronized {
      val hit = entries.get(id)
      if (hit != null) hit
      else {
        val fresh = new Entry(spark, kind)
        entries.put(id, fresh)
        evictModels()
        fresh
      }
    }
    e.get(build).asInstanceOf[A]
  }

  /** Drop the least-recently-used model frames past [[MaxEntries]]
    * (called under the map lock; iteration is eldest first). */
  private def evictModels(): Unit = {
    val models = entries.keySet.iterator.asScala.filter(_._2 == Model).toList
    models.take(models.size - MaxEntries).foreach(id => entries.remove(id))
  }

  /** The full identity key for (kind, params, input plan).
    *
    * The canonicalized plan STRING is stable across re-reads of the
    * same path (object equality would not be — each `spark.read` builds
    * a fresh FileIndex, and a cache that missed on every sweep would be
    * no cache at all) but it is NOT sufficient alone: a parquet relation
    * canonicalizes to just `Relation [none#..] parquet` — NO path — so
    * two same-typed file corpora would collide, and LocalRelation leaves
    * print WITHOUT their rows. Both identity sources enter the key
    * explicitly: the sorted resolved file listing (`inputFiles`)
    * distinguishes file corpora, the per-leaf row-data hash
    * distinguishes in-memory ones. */
  private[graft] def planKey(kind: String, input: DataFrame,
      params: String): String = {
    val analyzed = input.queryExecution.analyzed
    val leafData = analyzed.collectLeaves().map {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.hashCode.toString
      case _ => "-"
    }.mkString(",")
    val files = input.inputFiles.sorted.mkString(";")
    kind + "|" + params + "|" + leafData + "|" + files + "|" +
      analyzed.canonicalized.toString
  }

  /** The cached model artifact for (kind, params, input plan), training
    * it via `train` exactly once per key per session. `train` must
    * produce a LOCAL (already-materialized) model frame — see
    * [[Clustering.trainedCentroidsLocal]] / [[Similarity.pqCodebookLocal]]. */
  def cached(kind: String, input: DataFrame, params: String)(
      train: => DataFrame): DataFrame =
    lookup(input.sparkSession, Model, planKey(kind, input, params))(_ => train)

  /** The session's artifact for (kind, key) with an explicit key, built
    * once. */
  private[graft] def memo[A](spark: SparkSession, kind: String, key: String)(
      build: => A): A =
    lookup(spark, kind, key)(_ => build)

  /** The session's on-disk artifact for (kind, params, input plan):
    * `build` gets a fresh path under the session root (not yet created)
    * to write into, and the files stay until the entry is released. */
  private[graft] def stored[A](kind: String, input: DataFrame,
      params: String)(build: String => A): A =
    lookup(input.sparkSession, kind, planKey(kind, input, params))(
      e => build(e.newDir()))

  /** Release the entries `which` selects by (session, kind): their
    * directories are deleted and their anchors released; the next
    * lookup rebuilds. */
  private[graft] def releaseWhere(
      which: (SparkSession, String) => Boolean): Unit = {
    val gone = entries.synchronized {
      val ids = entries.keySet.asScala.filter(id => which(id._1, id._2)).toList
      ids.map(id => entries.remove(id))
    }
    gone.foreach(_.release())
  }

  /** Release every artifact of `spark` and delete its root directory:
    * the teardown before the session stops. */
  def release(spark: SparkSession): Unit = {
    releaseWhere((s, _) => s eq spark)
    Option(roots.remove(spark)).foreach(d => FileUtil.fullyDelete(d.toFile))
  }

  /** The directories resident entries own (spec hook). */
  private[graft] def dirs: Seq[String] =
    entries.synchronized(entries.values.asScala.toList)
      .flatMap(_.dir.map(_.toString))

  /** Number of built, resident entries of `kind`. */
  private[graft] def size(kind: String): Int =
    entries.synchronized(
      entries.values.asScala.count(e => e.kind == kind && e.value.isDefined))

  /** Number of resident model artifacts (spec hook for the eviction bound). */
  def size: Int = size(Model)

  /** Drop every cached model artifact (tests; deliberate retrain). */
  def clear(): Unit = releaseWhere((_, kind) => kind == Model)
}
