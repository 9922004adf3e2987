package graft.operators

import org.apache.spark.sql.DataFrame

/** Session-lifetime store of PRECOMPUTED derived index tables — PQ code
  * columns and coarse-cell assignments written as real cell-partitioned
  * parquet tables and READ by the serving tier, instead of re-derived
  * from the float corpus on every query.
  *
  * This closes the last conflation in the serving-cost story: s15/s18
  * load their trained MODEL artifacts from [[ModelArtifacts]] but still
  * re-encode the corpus per invocation, so their measured cost includes
  * an encode pass a deployment never pays — at 100 TB the codes are
  * columns beside the lake, maintained by ingest (s18's append form
  * proves per-vector encode makes that maintenance incremental). A
  * stored-codes serve query is purely: probed-cell partition scan →
  * LUT join → ADC partial-agg top-k.
  *
  * The table is PARTITIONED BY the coarse cell, which is the entire
  * point of IVF at rest: a probe for a handful of cells becomes a
  * partition-pruned scan that never lists, opens, or reads any other
  * cell's files. The fixture store is a directory of the session's
  * artifact root; the layout and the pruned plan are exactly what an
  * object-store lake path gets.
  *
  * Identity/staleness contract is [[ModelArtifacts.planKey]]'s: keyed
  * by (kind, hyperparameters, corpus identity), built once per key per
  * session. Entries are [[ModelArtifacts]] entries: their directories
  * are deleted when the session's artifacts are released ([[clear]],
  * [[ModelArtifacts.release]]) or the JVM exits; a real deployment
  * writes them beside the index and owns their lifecycle with the
  * lake's snapshot machinery. */
object IndexStore {

  private val Kind = "index"

  /** The stored table for (kind, params, corpus), building + writing it
    * via `build` once per key per session, READING it thereafter. The
    * read re-applies the build frame's schema so partition columns keep
    * their original types (directory-name inference would narrow a long
    * cell id to int, and a cast on the partition attribute is one more
    * thing between the probe filter and the pruner). Two concurrent
    * misses on one key write once. */
  def storedTable(kind: String, input: DataFrame, params: String,
      partitionCols: Seq[String])(build: => DataFrame): DataFrame = {
    val (path, schema) = ModelArtifacts.stored(Kind, input,
        s"$kind|$params|pby=${partitionCols.mkString(",")}") { dir =>
      val df = build
      df.write.partitionBy(partitionCols: _*).parquet(dir)
      (dir, df.schema)
    }
    input.sparkSession.read.schema(schema).parquet(path)
  }

  /** Number of resident stored tables (spec hook). */
  def size: Int = ModelArtifacts.size(Kind)

  /** Drop every stored table and delete its directory (tests;
    * deliberate rebuild). */
  def clear(): Unit = ModelArtifacts.releaseWhere((_, kind) => kind == Kind)
}
