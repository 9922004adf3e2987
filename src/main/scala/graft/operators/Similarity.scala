package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Anchor.AnchorOps

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`) — the similarity-search face of an LLM data pipeline.
  *
  * Two tiers, mirroring production ANN architecture:
  *  - [[bruteForceTopK]]: exact flat search. The query set is broadcast
  *    (it is small by construction), the corpus is streamed — one scan,
  *    no corpus shuffle until the per-query top-k reduction.
  *  - [[ivfTopK]]: IVF-style bucketed search — each query probes only its
  *    own coarse cell (here the fixture's `label` column stands in for a
  *    quantizer assignment). At 100 TB this turns a full-corpus scan into
  *    |corpus|/|cells| per query; with the corpus bucketed/partitioned by
  *    cell id, partition pruning skips the rest at the file level.
  *
  * Cosine is computed in double precision with a fixed left-to-right fold
  * ([[Dedup.dotExpr]]) so results match the DuckDB oracle bitwise.
  *
  * Two seams carry the serve and eval surface:
  *  - [[adcTopK]], the ADC scorer: candidate PQ code rows ⋈ broadcast
  *    LUT → Σ pdot_fp → bounded top-k. Every PQ serve (s11, s12, s15,
  *    s18, s19, s27, s30, s32, s36, s37) and PQ eval (s13, s16, s17,
  *    s31, s33, s38, s39) differs only in the candidate frame it hands
  *    this scorer and its group keys, so a fused probe→ADC→top-k
  *    operator plugs in here once.
  *  - [[recallAt]], the recall evaluator: exact ⟕ approx → hits per
  *    (keys, query) → recall@k. Every recall curve is one call to it.
  */
object Similarity {

  /** The fixture query workload: the first `n` vectors by id. */
  def queryVectors(embeddings: DataFrame, n: Int = 5): DataFrame =
    embeddings.filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("query_emb"))

  private def normed(df: DataFrame): DataFrame =
    df.withColumn("norm2", Dedup.dotExpr("embedding", "embedding"))

  private def qnormed(df: DataFrame): DataFrame =
    df.withColumn("qnorm2", Dedup.dotExpr("query_emb", "query_emb"))

  /** Fixed-fold cosine of a [[normed]] corpus row against a [[qnormed]]
    * query row. */
  private def flatCosine: Column =
    Dedup.dotExpr("embedding", "query_emb") /
      (sqrt(col("norm2")) * sqrt(col("qnorm2")))

  /** `(vec_id, emb, vnorm2)` — the corpus side every trained-quantizer
    * assign reads. `norm` is the squared-norm fold: the native
    * [[graft.functions.VectorOps.dot]] by default, [[Dedup.dotExpr]]
    * where the graph tier's oracle folds it that way. */
  private def vectorFrame(embeddings: DataFrame,
      norm: Column = graft.functions.VectorOps.dot(col("emb"), col("emb")))
      : DataFrame =
    embeddings.select(col("vec_id"), col("embedding").as("emb"))
      .withColumn("vnorm2", norm)

  /** The probe-side query batch of a [[vectorFrame]]-shaped frame:
    * `(query_id, query_emb, qnorm2)` for the first `nQueries` ids. */
  private def probeQueries(vectors: DataFrame, nQueries: Int): DataFrame =
    vectors.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("query_emb"),
        col("vnorm2").as("qnorm2"))

  /** `(query_id, neighbor_id)` of the s01 exact top-k — the truth side of
    * every recall curve. */
  private def exactPairs(embeddings: DataFrame, nQueries: Int,
      k: Int): DataFrame =
    bruteForceTopK(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))

  /** The recall evaluator: per-(keys, query) recall@k of `approx
    * (keys.., query_id, neighbor_id)` against `exact` with the same
    * columns (already crossed with its config/tier frame). The LEFT join
    * keeps every exact row, so a query or a config with no approximate
    * hit reads `n_hits = 0, recall = 0.0` instead of vanishing. Output is
    * `keys ++ (query_id, n_hits, recall)`, ordered by `keys ++ query_id`. */
  private[operators] def recallAt(exact: DataFrame, approx: DataFrame,
      k: Int, keys: Seq[String] = Nil): DataFrame = {
    val by = (keys :+ "query_id").map(col)
    exact.join(approx.withColumn("hit", lit(1L)),
        keys ++ Seq("query_id", "neighbor_id"), "left")
      .groupBy(by: _*)
      .agg(count(col("hit")).as("n_hits"))
      .select(by ++ Seq(col("n_hits"),
        (col("n_hits").cast("double") / lit(k).cast("double"))
          .as("recall")): _*)
      .orderBy(by: _*)
  }

  /** [[recallAt]] over named tiers: each `(tier, serve)` contributes its
    * `(query_id, neighbor_id)` rows under its tier label, against the s01
    * truth crossed with the tier names (sorted, so tiers order
    * lexically). */
  private def tierRecall(embeddings: DataFrame, nQueries: Int, k: Int,
      tiers: (String, DataFrame)*): DataFrame = {
    val names = tiers.map(_._1).sorted
    val tierFrame = embeddings.sparkSession.range(0, names.size)
      .select(element_at(array(names.map(lit): _*),
        col("id").cast("int") + 1).as("tier"))
    val approx = tiers.map { case (tier, serve) =>
      serve.select(lit(tier).as("tier"), col("query_id"),
        col("neighbor_id"))
    }.reduce(_ unionByName _)
    recallAt(exactPairs(embeddings, nQueries, k)
      .join(broadcast(tierFrame)), approx, k, Seq("tier"))
  }

  /** Per-query bounded top-k over scored candidate rows via the
    * mergeable [[graft.functions.TopKByScore]] aggregate — each input
    * split partial-aggregates to ≤ k candidates per query MAP-SIDE, so
    * the shuffle carries k·|splits| rows per query instead of the whole
    * scored corpus, and no task sorts more than k rows of state. The
    * finished list is best-first, so rank = position + 1 — identical to
    * `row_number() OVER (ORDER BY score DESC, vec_id ASC)`.
    *
    * Extra group keys (e.g. s07's n_tables) ride along in `keys`. */
  private[operators] def topKByQuery(scored: DataFrame, scoreCol: String,
      k: Int, keys: Seq[String] = Seq("query_id")): DataFrame = {
    val agg = graft.functions.TopKByScore.topK(k)(
      col(scoreCol).cast("double"), col("vec_id"))
    scored
      .groupBy(keys.map(col): _*)
      .agg(agg.as("top"))
      .select(keys.map(col) :+ posexplode(col("top")).as(Seq("pos", "nb")): _*)
      .select(keys.map(col) ++ Seq(
        col("nb.id").as("neighbor_id"),
        col("nb.score").as(scoreCol),
        (col("pos") + 1).cast("long").as("rank")): _*)
  }

  /** Exact top-k cosine neighbors per query vector over the whole corpus.
    * Plan shape: broadcast(queries) ⨯ corpus scan → cosine → bounded
    * top-k aggregate (partial map-side, ≤ k rows per query per split
    * cross the shuffle — no per-query window funnel). Ties break on
    * neighbor id so the result is engine-deterministic. Self-matches are
    * excluded. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val corpus = normed(embeddings)
    val queries = qnormed(queryVectors(embeddings, nQueries))
    cosineRows(topKByQuery(flatScored(corpus, queries), "cosine", k))
  }

  /** broadcast(queries) × corpus scan → [[flatCosine]], self-matches
    * dropped — the s01 exact scoring pass. */
  private def flatScored(corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", flatCosine)

  /** A cosine top-k's published rows, ordered by (query, rank). */
  private def cosineRows(top: DataFrame): DataFrame =
    top.select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** s41: exact MAX-INNER-PRODUCT top-k (MIPS) — the retrieval
    * objective recommender scorers and un-normalized dual-encoder
    * rankers actually optimize, distinct from cosine (s01): a long
    * vector can out-score a better-aligned short one, so no norm
    * division appears in the ranking. Ranking is by the RAW dot (an
    * exact [[Dedup.dotExpr]] fold — no division, no libm), ties to the
    * lower neighbor id.
    *
    * Alongside each hit rides `aug_cos` = dot / (M·‖q‖), the WITNESS of
    * the MIPS→cosine reduction (Bachrach et al. 2014 / Shrivastava &
    * Li 2014): augment every stored vector with an extra coordinate
    * sqrt(M² − ‖x‖²) (M = max corpus norm) and zero-pad queries — the
    * augmented vectors all have norm M, their cosine against a padded
    * query is EXACTLY dot/(M·‖q‖), monotone in dot per query — so any
    * cosine-only ANN tier here (IVF, PQ, LSH) serves MIPS by storing
    * augmented vectors. The spec asserts the reduction: aug_cos
    * ordering = dot ordering per query on the fixture.
    *
    * Plan shape: s01's intended broadcast(queries) × corpus scan with
    * the bounded [[graft.functions.TopKByScore]] partial agg; the
    * 1-row max-norm frame broadcast-crosses in (the dq10 pattern). At
    * scale the reduction is the point — MIPS rides whatever cosine
    * serving tier is deployed. */
  def mipsTopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val corpus = normed(embeddings)
    val m2 = corpus.agg(max(col("norm2")).as("m2"))
    val queries = qnormed(queryVectors(embeddings, nQueries))
    mipsCoreTopK(embeddings, nQueries, k)
      .crossJoin(broadcast(m2))
      .join(broadcast(queries.select(col("query_id"), col("qnorm2"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"), col("dot"),
        (col("dot") / (sqrt(col("m2")) * sqrt(col("qnorm2"))))
          .as("aug_cos"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s41's raw-dot ranking core without the witness decoration — the
    * truth side s42 consumes (keeps the pruned-away max-norm cross out
    * of downstream plans entirely). */
  private[operators] def mipsCoreTopK(embeddings: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    val corpus = normed(embeddings)
    val queries = qnormed(queryVectors(embeddings, nQueries))
    val scored = corpus.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .withColumn("dot", Dedup.dotExpr("embedding", "query_emb"))
    topKByQuery(scored, "dot", k)
  }

  /** s42: the s41 MIPS→cosine reduction RUN END TO END through the
    * trained cosine serving tier — the proof that the augmentation is
    * an implementation path, not just algebra: every stored vector
    * gains the coordinate sqrt(M² − ‖x‖²) (float32, like the rest of
    * the column), queries zero-pad, the UNMODIFIED k-medians coarse
    * quantizer trains on the augmented space, and the probe serves
    * cosine top-k exactly as s08/s14 — recall measured against s41's
    * exact-dot truth. This is how a cosine-only deployed index answers
    * max-inner-product queries (Bachrach 2014's XBOX layout); the
    * recall gap is the usual cell-boundary loss (s14's curve), NOT a
    * reduction error — on augmented vectors cosine ordering IS dot
    * ordering up to the float32 of the added coordinate.
    *
    * Plan shape: one 1-row max-norm cross to build the augmented
    * column (at rest it is WRITTEN at ingest — the s19 stored-codes
    * stance), then s14's audited probe pipeline verbatim (broadcast
    * centroids/probe schedule, bounded TopKByScore), then the s05
    * recall join against the s41 truth. */
  def mipsIvfRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10, nProbe: Int = 2): DataFrame = {
    val withNorm = embeddings
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("norm2", Dedup.dotExpr("embedding", "embedding"))
    val m2 = withNorm.agg(max(col("norm2")).as("m2"))
    val aug = withNorm.crossJoin(broadcast(m2))
      .select(col("vec_id"), col("label"),
        concat(col("embedding"),
          array(sqrt(greatest(col("m2") - col("norm2"), lit(0.0)))
            .cast("float"))).as("embedding"))
    val centroids = Clustering.cachedCentroids(aug)
    val assigned = Clustering.assign(vectorFrame(aug), centroids)
    val queries = withNorm.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        concat(col("embedding"), array(lit(0.0f))).as("query_emb"))
      .withColumn("qnorm2", Dedup.dotExpr("query_emb", "query_emb"))
    val probes = probeCells(queries, centroids, nProbe)
    val approx = topKByQuery(probedCosine(assigned, probes, queries),
        "cosine", k)
      .select(col("query_id"), col("neighbor_id"))
    recallAt(mipsCoreTopK(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id")), approx, k)
  }

  /** IVF-style top-k: each query probes only its own coarse cell (label).
    * Equi-join on the cell id replaces the cross product — the 100 TB
    * scale path, where cells are storage partitions and Catalyst prunes
    * unprobed cells from the scan entirely. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val corpus = normed(embeddings)
    val queries = qnormed(queryVectors(embeddings, nQueries))
    val scored = corpus.join(broadcast(queries),
        col("label") === col("query_label") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("cosine", flatCosine)
    // the neighbor's cell label equals the probing query's label by the
    // join condition, so it re-attaches from the tiny broadcast query set
    topKByQuery(scored, "cosine", k)
      .join(broadcast(queries.select(col("query_id"),
        col("query_label").as("label"))), "query_id")
      .select(col("query_id"), col("label"),
        col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The query side's probe schedule: its `maxProbe` NEAREST trained
    * cells, ranked by squared L2 to the centroid (ties toward the lower
    * cluster id — the same order [[Clustering.assign]] uses, so
    * cell_rank 1 IS the query's own assigned cell). This is FAISS's
    * `nprobe` lever: probing only the nearest cell has a known recall
    * cliff for queries near a cell boundary (their true neighbors sit
    * in the adjacent cell); probing a few nearest cells trades linearly
    * more scan for that recall back. Query-count × K rows — broadcast
    * scale; the window is per-query over K rows, never a funnel. */
  private[operators] def probeCells(queries: DataFrame,
      centroids: DataFrame, maxProbe: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("cluster_id").asc)
    queries.crossJoin(broadcast(centroids))
      .withColumn("dist2", col("qnorm2") + col("cnorm2") -
        lit(2.0) * graft.functions.VectorOps.dot(
          col("query_emb"), col("cemb")))
      .withColumn("cell_rank", row_number().over(w).cast("long"))
      .filter(col("cell_rank") <= maxProbe)
      .select(col("query_id"), col("cluster_id").as("cell"),
        col("cell_rank"))
  }

  /** The n_probe = 1..maxProbe configs and the probe schedule of every
    * config, `(n_probe, query_id, cell)` with cell_rank ≤ n_probe — one
    * probe sweep at maxProbe serves the whole curve. */
  private def probeSweep(queries: DataFrame, centroids: DataFrame,
      maxProbe: Int): (DataFrame, DataFrame) = {
    val configs = queries.sparkSession.range(1, maxProbe + 1)
      .select(col("id").as("n_probe"))
    val probes = probeCells(queries, centroids, maxProbe)
      .join(broadcast(configs), col("cell_rank") <= col("n_probe"))
      .select(col("n_probe"), col("query_id"), col("cell"))
    (configs, probes)
  }

  /** Exact cosine over the probed cells: the `assigned` corpus rows
    * inside each query's probe schedule, self-matches dropped. Probed
    * cells are disjoint (each corpus vector lives in ONE cell), so a
    * (query, neighbor) candidate appears at most once per schedule. */
  private def probedCosine(assigned: DataFrame, probes: DataFrame,
      queries: DataFrame): DataFrame =
    assigned.join(broadcast(probes), col("cluster_id") === col("cell"))
      .join(broadcast(queries), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        graft.functions.VectorOps.dot(col("emb"), col("query_emb")) /
          (sqrt(col("vnorm2")) * sqrt(col("qnorm2"))))

  /** Re-attach the query's OWN (rank-1) cell to a top-k, keeping the
    * schema stable as nProbe moves. */
  private def withOwnCell(top: DataFrame, probes: DataFrame): DataFrame =
    top.join(broadcast(probes.filter(col("cell_rank") === 1)
      .select(col("query_id"), col("cell"))), "query_id")

  /** s08: IVF probe over TRAINED cells — the composition that closes
    * the production-ANN loop: [[Clustering.kmediansAssignFull]] is the
    * trained quantizer (k01's exact pipeline, vectors retained), each
    * query probes the corpus vectors assigned to its `nProbe` NEAREST
    * trained cells ([[probeCells]]; the default 1 = own cell only),
    * exact cosine refines inside the probed cells. s02 demonstrates the
    * probe plan shape with the fixture's label as a stand-in quantizer;
    * this runs the real thing end to end. At scale the cell map is
    * materialized once (training amortizes), the corpus is partitioned
    * by cluster_id, and the equi-join probe prunes to the probed cells'
    * files — nProbe·|corpus|/K work per query instead of a full scan.
    * The output `cell` column is the query's OWN (rank-1) cell at any
    * nProbe, keeping the schema stable as the lever moves. */
  def ivfTrainedTopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10, nProbe: Int = 1): DataFrame = {
    // centroids materialize once (K-row model artifact); both probe
    // sides then assign against the literal centroids instead of each
    // re-running the training lineage (2x the median pipeline)
    val centroids = Clustering.cachedCentroids(embeddings)
    val assigned = Clustering.assign(vectorFrame(embeddings), centroids)
    val queries = probeQueries(assigned, nQueries)
    val probes = probeCells(queries, centroids, nProbe)
    withOwnCell(topKByQuery(probedCosine(assigned, probes, queries),
        "cosine", k), probes)
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s14: recall@k of [[ivfTrainedTopK]] per nProbe (1..maxProbe)
    * against the s01 exact ground truth — the tuning curve behind
    * FAISS's nprobe default being > 1. Config n probes the n nearest
    * cells; cells are disjoint, so config n's candidate set is a strict
    * SUPERSET of config n−1's and recall is monotonically
    * non-decreasing in n_probe (same argument as [[annRecallMulti]]).
    * One scored pass at maxProbe serves every config via the
    * cell_rank ≤ n_probe filter — the curve costs one probe sweep, not
    * maxProbe of them. */
  def ivfNProbeRecall(embeddings: DataFrame, maxProbe: Int = 2,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    val centroids = Clustering.cachedCentroids(embeddings)
    val assigned = Clustering.assign(vectorFrame(embeddings), centroids)
    val queries = probeQueries(assigned, nQueries)
    val (configs, probes) = probeSweep(queries, centroids, maxProbe)
    val scored = probedCosine(assigned, probes, queries)
      .select(col("n_probe"), col("query_id"), col("vec_id"),
        col("cosine"))
    val approx = topKByQuery(scored, "cosine", k,
        Seq("n_probe", "query_id"))
      .select(col("n_probe"), col("query_id"), col("neighbor_id"))
    recallAt(exactPairs(embeddings, nQueries, k).join(broadcast(configs)),
      approx, k, Seq("n_probe"))
  }

  /** Deterministic ±1 random-hyperplane matrix: s(i,j) from the parity of
    * md5("i:j") — no RNG, reproducible across engines and runs. Covers
    * embedding dimensionality up to `maxDims` (CONTRACT: vectors wider
    * than maxDims would silently project on their first maxDims
    * components — raise maxDims for wider models); tiny, always
    * broadcast. */
  def hyperplanes(spark: SparkSession, nBits: Int,
      maxDims: Int = 4096): DataFrame =
    spark.range(maxDims.toLong * nBits)
      .select((col("id") / nBits).cast("int").as("i"),
        (col("id") % nBits).cast("int").as("j"))
      .select(col("i"), col("j"), when(expr(
        """(locate(substr(md5(concat(cast(i as string), ':',
          |  cast(j as string))), 1, 1), '0123456789abcdef') - 1) % 2 = 1"""
          .stripMargin), 1L).otherwise(-1L).as("s"))

  /** Sign-random-projection LSH bucket per vector: project onto `nBits`
    * deterministic hyperplanes, bucket = the sign bit string.
    *
    * Scale + determinism notes: components explode to rows and join the
    * broadcast plane matrix — work distributes by row count. Components
    * are quantized to integers (`floor(v·1e6)`) BEFORE summation so the
    * per-projection sum is exact and order-independent — a double sum
    * would make near-zero projections flip sign across partitionings and
    * engines. Production ANN layers multi-table/multi-probe LSH on top;
    * the bucket string is also the storage partition key there. */
  def signLshBuckets(embeddings: DataFrame, nBits: Int = 8): DataFrame = {
    val comps = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
    comps.join(broadcast(hyperplanes(embeddings.sparkSession, nBits)), "i")
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(floor(col("v").cast("double") * 1000000).cast("long") *
        col("s")).as("p"))
      .groupBy(col("vec_id"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("j"), col("p")))),
        x => when(x.getField("p") > 0, "1").otherwise("0")), "")
        .as("bucket"))
  }

  /** Complete LSH-ANN pipeline: hash → same-bucket probe → exact-cosine
    * refine → per-query top-k. Few bits here (coarse buckets) keep
    * single-table recall meaningful; production trades bits vs probes
    * with multiple tables. */
  def lshAnnTopK(embeddings: DataFrame, nBits: Int = 4, nQueries: Int = 5,
      k: Int = 5): DataFrame = {
    val withBucket = normed(embeddings)
      .join(signLshBuckets(embeddings, nBits), "vec_id")
    val queries = withBucket.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket").as("query_bucket"),
        col("embedding").as("query_emb"), col("norm2").as("qnorm2"))
    val scored = withBucket.join(broadcast(queries),
        col("bucket") === col("query_bucket") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("cosine", flatCosine)
    // same-bucket probe ⇒ neighbor bucket = query bucket; re-attach it
    // from the broadcast query set after the bounded top-k reduction
    topKByQuery(scored, "cosine", k)
      .join(broadcast(queries.select(col("query_id"),
        col("query_bucket").as("bucket"))), "query_id")
      .select(col("query_id"), col("bucket"),
        col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-(table, query) candidate scores for multi-table sign-LSH: the
    * shared probe stage of [[lshAnnTopKMulti]] and [[annRecallMulti]].
    *
    * The nTables hash tables are BIT-SLICES of one
    * [[signLshBuckets]](nTables·nBits) computation — table t = bucket
    * bits [t·nBits, (t+1)·nBits). One explode+shuffle builds every
    * table (not nTables separate pipelines), and table 0 uses exactly
    * the md5-keyed hyperplanes of the single-table tier (s04), so
    * recall numbers are directly comparable across table counts. */
  private def lshCandidateScores(embeddings: DataFrame, nTables: Int,
      nBits: Int, nQueries: Int): DataFrame = {
    val withBucket = normed(embeddings)
      .join(signLshBuckets(embeddings, nTables * nBits), "vec_id")
    val sliced = withBucket
      .select(col("vec_id"), col("embedding"), col("norm2"),
        explode(sequence(lit(0), lit(nTables - 1))).as("t"),
        col("bucket"))
      .withColumn("sub", expr(s"substring(bucket, t * $nBits + 1, $nBits)"))
      .drop("bucket")
    val queries = sliced.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("t").as("qt"),
        col("sub").as("qsub"), col("embedding").as("query_emb"),
        col("norm2").as("qnorm2"))
    sliced.join(broadcast(queries),
        col("t") === col("qt") && col("sub") === col("qsub") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("cosine", flatCosine)
      .select(col("t"), col("query_id"), col("vec_id"), col("cosine"))
  }

  /** Multi-table (OR-amplified) LSH ANN: candidates match in ANY of the
    * nTables hash tables — the production recall lever single-table LSH
    * lacks (more tables raise the probability that a true neighbor
    * shares at least one bucket). Union-of-tables candidates are deduped
    * by (query, neighbor) with `min(cosine)` (all copies carry the same
    * exact double, so min is a deterministic pick, computed without a
    * second corpus join), then refined to the bounded per-query top-k.
    * With nTables = 1 this IS [[lshAnnTopK]] minus the bucket column
    * (same hyperplanes, same candidates — parity-spec'd). */
  def lshAnnTopKMulti(embeddings: DataFrame, nTables: Int = 2,
      nBits: Int = 4, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val cands = lshCandidateScores(embeddings, nTables, nBits, nQueries)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("cosine")).as("cosine"))
    cosineRows(topKByQuery(cands, "cosine", k))
  }

  /** s07: recall@k per table count, 1..maxTables — the tuning curve a
    * production deployment reads to trade hash tables (memory + probe
    * cost) against recall. Config n uses tables {0..n−1}, so each row's
    * candidate set is a SUPERSET of the previous row's; a candidate
    * superset can only move the approximate top-k closer to the exact
    * top-k (any displaced hit is displaced by a higher-cosine vector,
    * which is itself in the exact top-k), so recall is monotonically
    * non-decreasing in n_tables — the fixture exhibits the lift the
    * oracle checks. */
  def annRecallMulti(embeddings: DataFrame, maxTables: Int = 2,
      nBits: Int = 4, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val configs = embeddings.sparkSession.range(1, maxTables + 1)
      .select(col("id").as("n_tables"))
    val cands = lshCandidateScores(embeddings, maxTables, nBits, nQueries)
      .join(broadcast(configs), col("t") < col("n_tables"))
      .groupBy(col("n_tables"), col("query_id"), col("vec_id"))
      .agg(min(col("cosine")).as("cosine"))
    val approx = topKByQuery(cands, "cosine", k,
        Seq("n_tables", "query_id"))
      .select(col("n_tables"), col("query_id"), col("neighbor_id"))
    recallAt(exactPairs(embeddings, nQueries, k).join(broadcast(configs)),
      approx, k, Seq("n_tables"))
  }

  /** s09: recall@k of MULTI-PROBE LSH per probe radius — the OTHER
    * standard recall lever (s07 adds tables = more memory; multi-probe
    * adds bucket lookups = more compute, same index). Radius 0 probes
    * the query's own bucket (exactly s04's candidates); radius 1 also
    * probes every bucket at Hamming distance 1 (flip each of the nBits
    * bits). Each corpus vector lives in ONE bucket and the probe keys
    * are distinct, so a (query, neighbor) candidate appears at most
    * once per radius — no dedup pass needed. Radius-1 candidates are a
    * superset of radius-0, so recall is monotone by the same argument
    * as [[annRecallMulti]]. */
  def annRecallMultiProbe(embeddings: DataFrame, nBits: Int = 4,
      nQueries: Int = 5, k: Int = 5): DataFrame = {
    val withBucket = normed(embeddings)
      .join(signLshBuckets(embeddings, nBits), "vec_id")
    val queries = withBucket.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bucket").as("qb"),
        col("embedding").as("query_emb"), col("norm2").as("qnorm2"))
    // probe p=0: own bucket; p=1..nBits: bucket with bit p flipped
    val probes = queries
      .select(col("query_id"), col("query_emb"), col("qnorm2"),
        explode(sequence(lit(0), lit(nBits))).as("p"),
        col("qb"))
      .withColumn("probe_key", when(col("p") === 0, col("qb"))
        .otherwise(concat(
          expr("substring(qb, 1, p - 1)"),
          when(expr("substring(qb, p, 1)") === "1", lit("0"))
            .otherwise(lit("1")),
          expr("substring(qb, p + 1)"))))
    val scored = withBucket.join(broadcast(probes),
        col("bucket") === col("probe_key") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("cosine", flatCosine)
      .select(col("p"), col("query_id"), col("vec_id"), col("cosine"))
    val radii = embeddings.sparkSession.range(0, 2)
      .select(col("id").as("radius"))
    val cands = scored.join(broadcast(radii),
        (col("p") === 0) || (col("radius") === 1))
      .select(col("radius"), col("query_id"), col("vec_id"), col("cosine"))
    val approx = topKByQuery(cands, "cosine", k, Seq("radius", "query_id"))
      .select(col("radius"), col("query_id"), col("neighbor_id"))
    recallAt(exactPairs(embeddings, nQueries, k).join(broadcast(radii)),
      approx, k, Seq("radius"))
  }

  /** Recall@k of the LSH ANN tier against exact search — the evaluation
    * loop every production ANN deployment needs: you cannot tune nBits /
    * probe width without measuring what the buckets lose. Both sides are
    * deterministic pipelines, so recall itself is deterministic and
    * oracle-checkable.
    *
    * Scale: the exact side is the expensive one, but recall is measured
    * on a SAMPLE of queries by construction (nQueries), so the cost is
    * nQueries × corpus — a fixed evaluation budget, not a per-query
    * production cost. */
  def annRecall(embeddings: DataFrame, nQueries: Int = 5, k: Int = 5,
      nBits: Int = 4): DataFrame =
    recallAt(exactPairs(embeddings, nQueries, k),
      lshAnnTopK(embeddings, nBits, nQueries, k)
        .select(col("query_id"), col("neighbor_id")), k)

  /** Scalar-quantize an `array<float>` to integer codes: `floor(64·x)`.
    * The scale is a power of two, so the multiply is EXACT in IEEE
    * arithmetic and the codes are bit-reproducible across engines —
    * quantization without a float-rounding oracle hazard. Unit-ish
    * embedding components land in int8 range. */
  def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * 64).cast("long"))

  /** s10: the two-tier retrieval composition production ANN actually
    * serves — [[quantizedTopK]]'s cheap integer scan keeps a WIDE
    * candidate set (kCoarse per query), then full-precision cosine
    * re-ranks ONLY those candidates down to k. The corpus-sized work
    * runs on 4×-smaller codes; the float work is kCoarse rows per
    * query — broadcast-sized by construction. Both tiers are
    * deterministic, so the composition is oracle-checkable end to
    * end. */
  def rerankTopK(embeddings: DataFrame, nQueries: Int = 5,
      kCoarse: Int = 20, k: Int = 10): DataFrame = {
    // candidates keep the corpus column name (vec_id) — topKByQuery's
    // bounded aggregate keys its heap entries on it
    val cand = quantizedTopK(embeddings, nQueries, kCoarse)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val corpus = normed(embeddings)
      .select(col("vec_id"), col("embedding"), col("norm2"))
    val queries = qnormed(queryVectors(embeddings, nQueries))
      .select(col("query_id"), col("query_emb"), col("qnorm2"))
    val scored = cand
      .join(corpus, "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cosine", flatCosine)
    cosineRows(topKByQuery(scored, "cosine", k))
  }

  /** s20: Matryoshka-style prefix-dimension retrieval (Kusupati et al.
    * 2022) — the third coarse-tier family beside quantization (s06/s11)
    * and cell pruning (s02/s08): an MRL-trained embedding's first
    * `prefixDim` dimensions are themselves a valid embedding, so the
    * coarse pass ranks by PREFIX cosine (reading prefixDim/d of the
    * float budget — at rest, a separate narrow column the scan prunes
    * to) and only the kCoarse survivors pay the full-dimension exact
    * rerank. Same funnel contract as [[rerankTopK]]: deterministic
    * tie-breaks at both tiers, candidate frame broadcast back.
    *
    * Scale: coarse tier is s01's broadcast(queries) × corpus scan over
    * a prefixDim-wide column + the bounded TopKByScore partial agg;
    * the refine tier touches kCoarse·nQueries rows. The corpus never
    * moves; full-width floats are read only for candidates (at 100 TB:
    * the prefix column scans, the full column is a point-lookup join). */
  def matryoshkaTopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10, prefixDim: Int = 16, kCoarse: Int = 30): DataFrame = {
    val pref = embeddings
      .select(col("vec_id"), col("embedding"),
        slice(col("embedding"), 1, prefixDim).as("pemb"))
      .withColumn("pnorm2", Dedup.dotExpr("pemb", "pemb"))
      .withColumn("norm2", Dedup.dotExpr("embedding", "embedding"))
    val queries = pref.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_emb"), col("pemb").as("qpemb"),
        col("pnorm2").as("qpnorm2"), col("norm2").as("qnorm2"))
    val coarse = pref
      .select(col("vec_id"), col("pemb"), col("pnorm2"))
      .join(broadcast(queries.select(col("query_id"), col("qpemb"),
        col("qpnorm2"))), col("vec_id") =!= col("query_id"))
      .withColumn("pcos", Dedup.dotExpr("pemb", "qpemb") /
        (sqrt(col("pnorm2")) * sqrt(col("qpnorm2"))))
    // candidate frame derives from an aggregate — size estimation can't
    // see it's kCoarse·nQueries rows, so hint the broadcast (s17's rule)
    val cand = topKByQuery(coarse, "pcos", kCoarse)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val scored = pref.select(col("vec_id"), col("embedding"), col("norm2"))
      .join(broadcast(cand), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("query_emb"),
        col("qnorm2"))), "query_id")
      .withColumn("cosine", flatCosine)
    cosineRows(topKByQuery(scored, "cosine", k))
  }

  /** s21: cell-blocked kNN GRAPH — every corpus vector's top-k cosine
    * neighbors within its trained coarse cell, the all-vectors batch
    * face of the ANN story (s01-s20 serve a query batch; curation
    * passes — SemDeDup clustering, graph-based diversity sampling,
    * duplicate-community mining — need neighbors for EVERYONE). The
    * blocker is the same trained quantizer the serving tiers load, at
    * a finer K (default 32): within-cell self-join keeps the work
    * Σ|cell|² instead of |corpus|², the standard blocked-kNN trade —
    * boundary-straddling true neighbors are the miss, exactly s02's
    * recall cliff, bought back at higher K per cell or multi-assign.
    *
    * Scale: the self-join is an equi-join on the cell id (hash
    * partition by cell — at rest both sides are the SAME
    * cell-partitioned table, so a bucketed layout makes it
    * exchange-free); per-vector ranks run through the bounded
    * [[graft.functions.TopKByScore]] partial agg, never a per-vector
    * window over the corpus. Skew = the largest cell; the K lever and
    * salted assign handle pathological cells. */
  def knnGraph(embeddings: DataFrame, k: Int = 5,
      nCells: Int = 32): DataFrame = {
    val centroids = Clustering.cachedCentroids(embeddings, nCells)
    cellGraph(Clustering.assignAuto(graphVectors(embeddings), centroids,
      nCells), k, dedup = false)
  }

  /** [[vectorFrame]] with the graph tier's fixed-order norm fold. */
  private def graphVectors(embeddings: DataFrame): DataFrame =
    vectorFrame(embeddings, Dedup.dotExpr("emb", "emb"))

  /** The cell-blocked kNN graph over `assigned (vec_id, emb, vnorm2,
    * cluster_id)`: within-cell pairs scored by exact cosine, top-k per
    * vector. `dedup` collapses a pair that shares several cells (the
    * multi-assign build) to one candidate. */
  private def cellGraph(assigned: DataFrame, k: Int,
      dedup: Boolean): DataFrame = {
    val cells = assigned.select(col("vec_id"), col("emb"), col("vnorm2"),
      col("cluster_id").as("cell"))
    val pairs = cells
      .join(cells.select(col("cell"), col("vec_id").as("nbr_id"),
        col("emb").as("nemb"), col("vnorm2").as("nnorm2")), Seq("cell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cosine", Dedup.dotExpr("emb", "nemb") /
        (sqrt(col("vnorm2")) * sqrt(col("nnorm2"))))
      .select(col("vec_id").as("query_id"), col("nbr_id").as("vec_id"),
        col("cosine"))
    // dedup on the JOIN KEYS, not the computed double: the cosine is
    // functionally determined by the pair, and keying distinctness on a
    // float invites the -0.0-normalization cross-engine hazard
    val scored =
      if (dedup) pairs.dropDuplicates(Seq("query_id", "vec_id")) else pairs
    topKByQuery(scored, "cosine", k)
      .select(col("query_id").as("vec_id"), col("neighbor_id"),
        col("cosine"), col("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** s47: MULTI-ASSIGN kNN graph — [[knnGraph]] with each vector
    * assigned to its `nAssign` nearest trained cells instead of one
    * (FAISS-style multi-assignment on the BUILD side), the named
    * buy-back for s21's one structural miss: a pair straddling a cell
    * boundary is invisible to the single-assign graph no matter how
    * close, but lands in a shared block as soon as either side's
    * second-nearest cell is the other's home. Candidates = pairs
    * sharing ANY assigned cell (de-duplicated — a pair sharing both
    * cells scores once), ranks exact cosine — so added assignments
    * only ever ADD candidates: per-vector recall vs the brute truth
    * dominates s21's (spec-asserted), bought at ≤ nAssign× posting
    * volume (the published trade, Jégou et al. 2011 §5.2 multiple
    * assignment).
    *
    * Scale: same shape as s21 — Σ(multi-cell sizes)² via the
    * cell-keyed equi-join; the top-m cell argselect is the bounded
    * TopKByScore partial agg, and at scaled cell counts (K ∝ N) the
    * assignment runs [[Clustering.assignTopMPruned]]'s exact
    * multiset-bounded two-level prune, keeping the build
    * ~O(N·√K·D). */
  def knnGraphMulti(embeddings: DataFrame, k: Int = 5,
      nCells: Int = 32, nAssign: Int = 2): DataFrame = {
    val centroids = Clustering.cachedCentroids(embeddings, nCells)
    cellGraph(Clustering.assignTopMAuto(graphVectors(embeddings), centroids,
      nCells, nAssign), k, dedup = true)
  }

  // ONE materialized kNN graph per (session, corpus, k, nCells),
  // shared by its downstream consumers (g06 triangles, g07 shared
  // neighbors, g08 walks, g09 modularity, g10 PPR) — the r16 BPE-
  // tokenizer stance: a real pipeline MATERIALIZES the graph once (at
  // rest: a written table beside the index, the s19/IndexStore
  // posture) and every graph-analytics pass reads the artifact;
  // rebuilding the cell-blocked self-join five times per round prices
  // the same product five times for no information. s21 itself stays
  // the live BUILD query — its cost IS the build.
  private val knnGraphCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int), DataFrame]

  /** [[knnGraph]] as a session-cached MATERIALIZED artifact (eager
    * [[graft.operators.Anchor.cut]] — k·N rows, the graph table).
    *
    * The cache key is the CANONICALIZED analyzed plan: canonicalization
    * normalizes expression IDs, so two independent `Tables.embeddings`
    * reads of the same corpus still hit one entry, while a semantically
    * different frame that happens to scan the same files (a scaled /
    * filtered / column-shoved variant) keys separately — keying on
    * `inputFiles` alone would conflate those. A plan key can still go
    * stale if the files are REWRITTEN in place between calls; the lake
    * layer never rewrites in place (snapshot versions are append-only),
    * and [[clearSharedGraphs]] is the explicit invalidation hook. */
  def knnGraphShared(embeddings: DataFrame, k: Int = 5,
      nCells: Int = 32): DataFrame = {
    val spark = embeddings.sparkSession
    val key = embeddings.queryExecution.analyzed.canonicalized.toString
    knnGraphCache.getOrElseUpdate((spark, key, k, nCells),
      graft.operators.Anchor.cut(knnGraph(embeddings, k, nCells)))
  }

  /** Evict this session's shared-graph artifacts: each cached frame is
    * an eager anchor whose blocks (or reliable-checkpoint files) stay
    * pinned until released, and the TrieMap's strong session reference
    * would otherwise keep a stopped session from being collected. Call
    * from test teardown or before `spark.stop()`; no-session overload
    * clears everything (JVM-exit hygiene). */
  def clearSharedGraphs(spark: SparkSession): Unit =
    knnGraphCache.keys.filter(_._1 eq spark).foreach { k =>
      knnGraphCache.remove(k).foreach(graft.operators.Anchor.release)
    }

  def clearSharedGraphs(): Unit =
    knnGraphCache.keys.foreach { k =>
      knnGraphCache.remove(k).foreach(graft.operators.Anchor.release)
    }

  /** s43: GRAPH-TRAVERSAL ANN — beam search over the materialized
    * [[knnGraphShared]] artifact, the third serving paradigm beside
    * cell probing (IVF, s08) and code scanning (PQ/LSH, s11/s04): the
    * DiskANN / HNSW family (Malkov & Yashunin 2018; Subramanya et al.
    * 2019), where a query NAVIGATES a prebuilt neighborhood graph from
    * a fixed entry point, greedily expanding the current best `beam`
    * candidates' edges for `hops` rounds. The graph is the s21 kNN
    * graph SYMMETRIZED (both edge directions traversable — the
    * undirected-neighborhood repair every published graph index
    * applies, since in-edges of a hub are exactly the paths that reach
    * it); the entry point is the anchor node (min vec id) of the
    * query's trained coarse cell — the per-shard fixed-medoid stance
    * DiskANN takes, so navigation has to EARN the neighborhood rather
    * than being seeded with the answer. The final top-k excludes the
    * query itself but the traversal may pass THROUGH it (its out-edges
    * are legitimate roads; a frontier is a set of waypoints, not an
    * answer).
    *
    * Exactness: every score is the same fixed-order [[Dedup.dotExpr]]
    * cosine as s01, frontier selection is (score desc, id asc) via the
    * bounded [[graft.functions.TopKByScore]] partial agg, and the hop
    * count is a fixed constant — so the whole traversal is a
    * deterministic function of the corpus, bitwise reproducible in the
    * oracle's unrolled hop CTEs.
    *
    * Scale: per hop the moving side is the frontier — nQueries·beam
    * rows, BROADCAST into (a) the edge-table probe and (b) the
    * embedding fetch — so a hop costs bounded-candidate lookups, never
    * a corpus-wide shuffle; the graph and the trained quantizer are
    * at-rest artifacts (built once, [[knnGraphShared]]) and at 100 TB
    * the embedding fetch against a vec_id-bucketed store (the s19
    * IndexStore posture) is a pruned point-lookup batch, not a scan.
    * Work per query is O(hops · beam · degree) score evaluations — the
    * property that makes graph ANN the highest-recall-per-probe tier
    * in the public literature; recall is bounded by the query cell's
    * graph connectivity (the same s02 blocking cliff the graph build
    * accepts, bought back with higher graph k or multi-assign). */
  /** The traversal's reusable parts: successive frontiers (after hop
    * 1..hops, each (query_id, neighbor_id, cosine, rank)) plus the
    * scoring/rank closure, so the serve (s43), the convergence curve
    * (s44 — reads EVERY frontier of one traversal) and the stored-graph
    * serve (s45 — supplies its own edge frame) share one
    * implementation. `edgesOverride` replaces the session-built shared
    * graph with an at-rest edge table. */
  private case class BeamParts(frontiers: Seq[DataFrame],
      topBeam: (DataFrame, Int) => DataFrame)

  /** `keepFrontiers = false` (the s43 serve, which reads only the
    * final frontier) routes the per-hop anchors through an
    * [[Anchor.Loop]]: each superseded frontier's storage (cache entry
    * + checkpoint files on Verify's reliable path) is released the
    * moment the next hop materializes, and `frontiers` carries only
    * the final live one — without this a long sweep pinned every
    * dead hop frontier for the session (the r18 advice finding). s44
    * passes `true` because its convergence curve reads EVERY frontier
    * of the one traversal. The `sym` anchor is released after the
    * last hop on both settings (the final frontiers are materialized
    * supersets of every edge probe); the `assigned`/`queries` anchors
    * stay live deliberately — the returned `topBeam` closure reads
    * them lazily inside the caller's result plan. */
  private def beamParts(embeddings: DataFrame, nQueries: Int, beam: Int,
      hops: Int, graphK: Int, nCells: Int,
      edgesOverride: Option[DataFrame] = None,
      keepFrontiers: Boolean = true): BeamParts = {
    val edges = edgesOverride.getOrElse(
        knnGraphShared(embeddings, graphK, nCells))
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    // every frame the traversal re-reads is ANCHORED once: without
    // the cuts the lazy hop chain references the previous frontier
    // TWICE (fr ∪ neighbors-of-fr), so the plan — and the corpus
    // rescans of `assigned`/`sym` inside it — doubled per hop
    // (2^hops scans by the final cut; s43/s44/s45 were the bench's
    // three slowest queries until this). EXCEPT on the stored-graph
    // path (s45): there the edge read is the partition-pruned parquet
    // scan whose visibility in the final plan IS the audited contract
    // — it stays lazy, and each hop re-reads only the query batch's
    // ≤ nQueries cell directories.
    val symRaw = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val sym =
      if (edgesOverride.isEmpty) graft.operators.Anchor.cut(symRaw)
      else symRaw
    val centroids = Clustering.cachedCentroids(embeddings, nCells)
    val assigned = graft.operators.Anchor.cut(
      Clustering.assignAuto(graphVectors(embeddings), centroids, nCells)
        .select(col("vec_id"), col("emb"), col("vnorm2"),
          col("cluster_id").as("cell")))
    val queries = graft.operators.Anchor.cut(
      assigned.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
          col("vnorm2").as("qnorm2"), col("cell").as("qcell")))
    // fixed entry point: the anchor node of the query's coarse cell
    val entry = assigned.groupBy(col("cell"))
      .agg(min(col("vec_id")).as("node"))
      .join(broadcast(queries.select(col("query_id"),
        col("qcell").as("cell"))), Seq("cell"))
      .select(col("query_id"), col("node"))
    // score a bounded (query, node) candidate set: broadcast the
    // candidate list into the corpus embedding probe, then the exact
    // cosine against the broadcast query batch; keep the best `width`
    def topBeam(cand: DataFrame, width: Int): DataFrame = {
      val scored = assigned
        .select(col("vec_id"), col("emb").as("nemb"),
          col("vnorm2").as("nnorm2"))
        .join(broadcast(cand.select(col("query_id"),
          col("node").as("vec_id"))), Seq("vec_id"))
        .join(broadcast(queries.select(col("query_id"), col("qemb"),
          col("qnorm2"))), Seq("query_id"))
        .withColumn("cosine", Dedup.dotExpr("nemb", "qemb") /
          (sqrt(col("nnorm2")) * sqrt(col("qnorm2"))))
      topKByQuery(scored, "cosine", width)
    }
    // each hop's frontier is a bounded nQueries·beam-row artifact —
    // anchor it so the next hop (which reads it twice) and s44's
    // per-hop final cuts read a materialized frame, not the chain.
    // On the stored-graph path the traversal stays LAZY end to end
    // (same reason as `sym` above: the audited final plan must carry
    // the pruned scan); the doubling is over the anchored `assigned`
    // artifact and the ≤ nQueries pruned cell directories — bounded.
    val hopLoop = new graft.operators.Anchor.Loop
    def cutHop(df: DataFrame): DataFrame =
      if (edgesOverride.nonEmpty) df
      else if (keepFrontiers) graft.operators.Anchor.cut(df)
      else hopLoop.cut(df)
    var frontier = cutHop(topBeam(entry, beam))
    val frontiers = (1 to hops).map { _ =>
      val fr = frontier.select(col("query_id"),
        col("neighbor_id").as("node"))
      val nbrs = sym
        .join(broadcast(fr.select(col("query_id"),
          col("node").as("src"))), Seq("src"))
        .select(col("query_id"), col("dst").as("node"))
      val cand = fr.union(nbrs).distinct()
      frontier = cutHop(topBeam(cand, beam))
      frontier
    }
    // every edge probe is inside a materialized frontier now — the
    // symmetrized-graph anchor is dead (the final ranking reads only
    // `assigned`/`queries` through topBeam)
    if (edgesOverride.isEmpty) graft.operators.Anchor.release(sym)
    BeamParts(if (keepFrontiers) frontiers else Seq(frontier),
      topBeam)
  }

  /** Final ranked top-k from a frontier: the query itself is excluded
    * and the survivors re-cut to k. */
  private def beamFinal(p: BeamParts, frontier: DataFrame,
      k: Int): DataFrame =
    p.topBeam(frontier
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id").as("node")), k)

  def beamSearchTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 5,
      beam: Int = 8, hops: Int = 3, graphK: Int = 5,
      nCells: Int = 32): DataFrame = {
    val p = beamParts(embeddings, nQueries, beam, hops, graphK, nCells,
      keepFrontiers = false)
    cosineRows(beamFinal(p, p.frontiers.last, k))
  }

  /** s43's ledger face: recall@k of the beam traversal against the s01
    * exact truth — the eval every graph-ANN deployment reads before
    * trading beam width (compute) against recall, same shape as
    * s05/s09/s14. */
  def beamSearchRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 5, beam: Int = 8, hops: Int = 3, graphK: Int = 5,
      nCells: Int = 32): DataFrame =
    recallAt(exactPairs(embeddings, nQueries, k),
      beamSearchTopK(embeddings, nQueries, k, beam, hops, graphK,
        nCells).select(col("query_id"), col("neighbor_id")), k)

  /** s44: BEAM CONVERGENCE CURVE — recall@k per hop count 1..hops,
    * read from the SAME traversal's successive frontiers (hop h's
    * answer is the final cut of frontier h), so the curve costs one
    * traversal, not `hops` of them. This is the tuning table a
    * graph-ANN deployment reads to pick its search depth: each hop
    * adds O(beam·degree) score evaluations per query, and the curve
    * shows where recall stops paying for them. Scores within the kept
    * beam are pointwise non-decreasing across hops (a frontier member
    * is only ever evicted by a better-scoring candidate); recall
    * itself may plateau early — that plateau IS the signal. */
  def beamSearchHopsRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 5, beam: Int = 8, hops: Int = 3, graphK: Int = 5,
      nCells: Int = 32): DataFrame = {
    val spark = embeddings.sparkSession
    val p = beamParts(embeddings, nQueries, beam, hops, graphK, nCells)
    val perHop = p.frontiers.zipWithIndex.map { case (f, i) =>
      beamFinal(p, f, k)
        .select(lit((i + 1).toLong).as("hop"), col("query_id"),
          col("neighbor_id"))
    }.reduce(_ union _)
    val hopTable = spark.range(1, hops + 1).select(col("id").as("hop"))
    recallAt(exactPairs(embeddings, nQueries, k).join(broadcast(hopTable)),
      perHop, k, Seq("hop"))
  }

  /** s45: the s43 serve against the AT-REST graph — edges written once
    * as a CELL-PARTITIONED parquet table ([[IndexStore]], the s19
    * stored-codes posture) and the traversal reading ONLY the query
    * batch's cell partitions: the kNN graph is cell-blocked, so a
    * query's whole reachable set lives inside its own cell and the
    * probe schedule (≤ nQueries cell literals, collected from the
    * trained quantizer — the s19 probe-cell stance) makes the edge
    * scan partition-pruned. At 100 TB this is the difference between
    * "read the graph" and "read one cell's directory": the spec
    * asserts the pruned plan and result identity with the in-session
    * s43 serve. */
  def storedGraphBeamRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 5, beam: Int = 8, hops: Int = 3, graphK: Int = 5,
      nCells: Int = 32): DataFrame = {
    val stored = storedBeamGraph(embeddings, graphK, nCells)
    val centroids = Clustering.cachedCentroids(embeddings, nCells)
    val qv = graphVectors(embeddings.filter(col("vec_id") < nQueries))
    val qcells = Clustering.assign(qv, centroids)
      .select(col("cluster_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val edges = stored.filter(col("cell").isin(qcells: _*))
    val p = beamParts(embeddings, nQueries, beam, hops, graphK, nCells,
      edgesOverride = Some(edges))
    recallAt(exactPairs(embeddings, nQueries, k),
      beamFinal(p, p.frontiers.last, k)
        .select(col("query_id"), col("neighbor_id")), k)
  }

  /** s46: FILTERED graph-ANN serve — the "filtered-DiskANN" face
    * (Gollapudi et al. 2023): a metadata predicate restricts the
    * ANSWER SET but the traversal still navigates the UNFILTERED
    * graph — non-matching nodes are roads, and pruning them from
    * navigation fragments connectivity exactly where matches are
    * sparse (the paper's core observation). Serve = ONE s43
    * traversal; the answer re-ranks the predicate-matching members of
    * the traversal's VISITED beam (the union of every hop frontier —
    * the candidate pool the search actually evaluated) down to top-k.
    * Recall against the PREFILTER truth: exact top-k over the
    * matching corpus (the s26 ground-truth stance), so the published
    * curve is the real filtered-serving quality, not recall against
    * an unfiltered truth the filter could never return.
    *
    * Exactness/determinism: the s43 traversal is deterministic, the
    * visited set is a pure function of it, and both rankings are the
    * fixed-order cosine with (score desc, id asc) tie-breaks — the
    * oracle unrolls the same hops and re-ranks the same matched set.
    *
    * Scale: adds to s43's cost only a label probe on the visited set
    * (hops·beam rows per query, broadcast-joined) and one bounded
    * top-k — the predicate never touches corpus-scale frames; the
    * prefilter truth side is the eval harness, not the serve. The
    * predicate here is the fixture's label parity; any metadata
    * predicate slots in. */
  def filteredBeamRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 5, beam: Int = 8, hops: Int = 3, graphK: Int = 5,
      nCells: Int = 32): DataFrame = {
    val pred = col("label") % 2 === 0
    val p = beamParts(embeddings, nQueries, beam, hops, graphK, nCells)
    val visited = p.frontiers
      .map(_.select(col("query_id"), col("neighbor_id")))
      .reduce(_ unionAll _).distinct()
    val labels = embeddings
      .select(col("vec_id").as("neighbor_id"), col("label"))
    val matched = visited.join(labels, "neighbor_id")
      .filter(pred)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id").as("node"))
    val approx = p.topBeam(matched, k)
      .select(col("query_id"), col("neighbor_id"))
    val corpus = normed(embeddings)
    val queries = qnormed(queryVectors(embeddings, nQueries))
    val truth = topKByQuery(flatScored(corpus.filter(pred), queries),
        "cosine", k)
      .select(col("query_id"), col("neighbor_id"))
    recallAt(truth, approx, k)
  }

  /** The at-rest beam graph: [[knnGraph]] edges + the src vector's
    * trained cell, written once per (corpus, k, cells) as
    * cell-partitioned parquet and READ thereafter. */
  private[operators] def storedBeamGraph(embeddings: DataFrame,
      graphK: Int, nCells: Int): DataFrame =
    IndexStore.storedTable("beam-graph", embeddings,
        s"k=$graphK,cells=$nCells", Seq("cell")) {
      val centroids = Clustering.cachedCentroids(embeddings,
        nCells)
      val cells = Clustering.assignAuto(graphVectors(embeddings),
          centroids, nCells)
        .select(col("vec_id"), col("cluster_id").as("cell"))
      knnGraph(embeddings, graphK, nCells).join(cells, Seq("vec_id"))
        .select(col("vec_id"), col("neighbor_id"), col("cosine"),
          col("rank"), col("cell"))
    }

  /** Memory-tier ANN: top-k by INTEGER dot product over scalar-quantized
    * codes. At 100 TB the float32 corpus does not fit the scan budget;
    * int8-range codes are 4× smaller (8× against float64 pipelines),
    * SIMD-friendly, and — because the scores are exact integers — the
    * ranking is fully deterministic and oracle-checkable, unlike
    * float-accumulation ANN. Production re-ranks the winner set with
    * full-precision cosine ([[bruteForceTopK]] shape) over k rows/query,
    * a driver-free broadcast-sized refinement. */
  /** s11: product-quantization ADC top-k — the memory tier BETWEEN s06's
    * scalar quantization and the float corpus, and the layout FAISS-style
    * IVF-PQ serves at 100 TB: the vector is split into `m` subvectors,
    * each encoded as the id of its nearest per-subspace centroid (here
    * trained with one k-medians refinement round per subspace — k01's
    * machinery keyed by subspace, k=8 matching the fixture's natural
    * cluster count), so a d-dim float vector stores as m small codes
    * (64 floats → 4×3 bits here). Queries never decode the
    * corpus: per query, a lookup table of partial dot products (query
    * subvector × each subspace centroid) is built — m·k entries — and a
    * corpus vector's score is the SUM of m table lookups (asymmetric
    * distance computation).
    *
    * Plan shape: training reuses the broadcast-assign + min_by argmin
    * (plan-audited, map-side partial); the scoring join is codes ⨝
    * broadcast(LUT) on (sub, code) — the corpus-sized side moves only
    * its m codes per vector, never floats — then a (query, vec) partial
    * agg and the bounded TopKByScore rank. Partial dots are quantized
    * to integer micros BEFORE the 4-term sum (the k02 recipe), so the
    * ADC score is an order-free exact long and the ranking is bitwise
    * cross-engine. */
  /** PQ model: per-vector subspace codes + the trained codebook —
    * `(codes (vec_id, sub, code), codebook (sub, code, cemb, cnorm2))`.
    * One k-medians refinement round per subspace; shared by [[pqTopK]]
    * (flat ADC) and [[ivfPqTopK]] (cell-pruned ADC). */
  /** Nearest subspace centroid per (vector, subspace): broadcast-assign
    * + map-side min_by argmin, ties toward the lower code — the PQ
    * encode pass, shared by training ([[pqEncode]]) and the serving
    * path ([[ivfPqTopKServe]], where the codebook is a local model
    * artifact). `subs` is a [[pqSubvectors]] frame. */
  private def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb.select(col("sub"), col("code"), col("cemb"),
        col("cnorm2"))), "sub")
      .withColumn("dist2", col("snorm2") + col("cnorm2") -
        lit(2.0) * graft.functions.VectorOps.dot(
          col("semb"), col("cemb")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(struct(col("code"), col("semb")),
        struct(col("dist2"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best.code").as("code"), col("best.semb").as("semb"))

  private[operators] def pqEncode(embeddings: DataFrame, m: Int,
      subDim: Int, k: Int): (DataFrame, DataFrame) = {
    val vdot = graft.functions.VectorOps.dot _
    val subs = pqSubvectors(embeddings, m, subDim)
    val init = subs.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").as("code"),
        col("semb").as("cemb"), col("snorm2").as("cnorm2"))
    def assignSub(cb: DataFrame): DataFrame = pqAssign(subs, cb)
    val a1 = assignSub(init)
    // component-wise lower-median refinement per (subspace, code, dim) —
    // selection of an actual input float, no float arithmetic
    val ex = a1.select(col("sub"), col("code"), col("vec_id"),
      posexplode(col("semb")).as(Seq("dim", "value")))
    val ordW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub"), col("code"), col("dim"))
      .orderBy(col("value").asc, col("vec_id").asc)
    val cntW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub"), col("code"), col("dim"))
    val c1 = ex
      .withColumn("rn", row_number().over(ordW))
      .withColumn("n", count(lit(1)).over(cntW))
      .where(col("rn") === expr("(n + 1) div 2"))
      .groupBy(col("sub"), col("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("value")))),
        s => s.getField("value")).as("cemb"))
      .withColumn("cnorm2", vdot(col("cemb"), col("cemb")))
    (assignSub(c1).select(col("vec_id"), col("sub"), col("code")), c1)
  }

  /** `(vec_id, sub, semb, snorm2)` — the subspace decomposition both
    * the encoder and the query LUT read. */
  private def pqSubvectors(embeddings: DataFrame, m: Int,
      subDim: Int): DataFrame =
    embeddings
      .select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${m - 1}), s ->
           |  struct(s AS sub,
           |    slice(embedding, s * $subDim + 1, $subDim) AS semb))"""
          .stripMargin)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.semb").as("semb"))
      .withColumn("snorm2",
        graft.functions.VectorOps.dot(col("semb"), col("semb")))

  /** Per-query ADC lookup table over a PQ codebook: one integer-micro
    * partial dot per (query, subspace, code) — m·k rows per query. */
  private def pqLut(embeddings: DataFrame, codebook: DataFrame, m: Int,
      subDim: Int, nQueries: Int): DataFrame =
    pqSubvectors(embeddings, m, subDim)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("semb").as("qsemb"))
      .join(broadcast(codebook.select(col("sub"), col("code"),
        col("cemb"))), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        floor(graft.functions.VectorOps.dot(col("qsemb"), col("cemb")) *
          lit(1000000.0)).cast("long").as("pdot_fp"))

  def pqTopK(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8, nQueries: Int = 5, topK: Int = 10): DataFrame = {
    val (codes, codebook) = pqEncode(embeddings, m, subDim, k)
    adcRows(adcTopK(codes, pqLut(embeddings, codebook, m, subDim,
      nQueries), topK), "query_id")
  }

  /** The ADC scorer — the one seam every PQ serve and eval scores
    * through, and where a fused probe→LUT→ADC→top-k operator plugs in.
    * Candidate code rows `(vec_id, sub, code[, cell])` ⋈ broadcast(LUT)
    * on (sub, code); with `probes` `(query_id, cell[, keys..])` also ⋈
    * broadcast(probes) on (query_id, cell), so each query scores only
    * its probed cells; self-matches dropped; Σ pdot_fp per (keys,
    * vec_id) — an order-free exact long — then the bounded per-`keys`
    * top-k. The candidate frame is the only thing a serve form varies:
    * re-encoded codes pruned to the probed cells, a stored table's
    * probed partitions, either minus a tombstone predicate. */
  private def adcTopK(cands: DataFrame, lut: DataFrame, topK: Int,
      keys: Seq[String] = Seq("query_id"),
      probes: Option[DataFrame] = None): DataFrame = {
    val joined = cands.join(broadcast(lut), Seq("sub", "code"))
    val scored = probes
      .fold(joined)(p => joined.join(broadcast(p), Seq("query_id", "cell")))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy((keys :+ "vec_id").map(col): _*)
      .agg(sum(col("pdot_fp")).as("adc_fp"))
    topKByQuery(scored, "adc_fp", topK, keys)
  }

  /** An ADC serve's published rows: `cols`, the neighbor, its exact-long
    * score and rank, ordered by (query, rank). */
  private def adcRows(top: DataFrame, cols: String*): DataFrame =
    top.select(cols.map(col) ++ Seq(col("neighbor_id"),
        col("adc_fp").cast("long").as("adc_fp"), col("rank")): _*)
      .orderBy(col("query_id"), col("rank"))

  /** `codes ⋈ cells` restricted to the probed-cell set BEFORE the
    * per-query LUT join. Plan-order matters here and Catalyst cannot fix
    * it: `query_id` is born in the LUT join, so the (query_id, cell)
    * probe join can never be reordered ahead of it — without this prune
    * every code row expands ×nQueries in the LUT join and only then gets
    * filtered to probed cells. The broadcast left-semi keeps only
    * vectors lying in SOME probed cell (≈ |probed|/K of the corpus, one
    * row per vector, before the ×m code expansion), and on a
    * cell-partitioned layout the tiny IN-set is exactly what dynamic
    * partition pruning pushes to the scan. Results are identical by
    * construction: the later per-query probe join keeps a subset of
    * these rows. Invisible at fixture scale (everything broadcasts);
    * real at 100 TB with large query batches. */
  private def probePrunedCodes(codes: DataFrame, cells: DataFrame,
      probes: DataFrame): DataFrame =
    cells
      .join(broadcast(probes.select(col("cell")).distinct()),
        Seq("cell"), "left_semi")
      .join(codes, "vec_id")

  /** s12: the full FAISS-style IVF-PQ serving layout — s08's trained
    * coarse quantizer prunes the corpus to each query's OWN cell
    * (at scale: partition pruning to one cell's files), and s11's PQ
    * codes + per-query LUT score the survivors without touching a
    * float of the corpus. Compute per query drops from |corpus| LUT
    * sums to |corpus|/K, exactly the s02→s08 progression applied to
    * the ADC tier; both trainings and the ADC arithmetic are the
    * audited, oracle-proven pipelines composed unchanged. */
  def ivfPqTopK(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8, nQueries: Int = 5, topK: Int = 10): DataFrame = {
    val centroids = Clustering.trainedCentroidsLocal(embeddings)
    val cells = cellsOf(vectorFrame(embeddings), centroids)
    val (codes, codebook) = pqEncode(embeddings, m, subDim, k)
    ownCellTopK(codes, cells, pqLut(embeddings, codebook, m, subDim,
      nQueries), nQueries, topK)
  }

  /** `(vec_id, cell)`: each vector's assigned coarse cell. */
  private def cellsOf(vectors: DataFrame, centroids: DataFrame): DataFrame =
    Clustering.assign(vectors, centroids)
      .select(col("vec_id"), col("cluster_id").as("cell"))

  /** s12's own-cell ADC serve over `codes` and their `cells`: each query
    * probes only its OWN assigned cell, ranked per (query, cell). */
  private def ownCellTopK(codes: DataFrame, cells: DataFrame,
      lut: DataFrame, nQueries: Int, topK: Int): DataFrame = {
    val probes = cells.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cell"))
    val keys = Seq("query_id", "cell")
    adcRows(adcTopK(probePrunedCodes(codes, cells, probes), lut, topK,
      keys, Some(probes)), keys: _*)
  }

  /** The coarse-quantizer K every serving-form query trains/loads with
    * — threaded into both the cache key and the trainer so the two can
    * never drift apart. */
  private val CoarseK: Int = 8

  private def cachedCentroids(trainOn: DataFrame): DataFrame =
    Clustering.cachedCentroids(trainOn, CoarseK)

  private def cachedCodebook(trainOn: DataFrame, m: Int, subDim: Int,
      k: Int): DataFrame =
    ModelArtifacts.cached("pq-codebook", trainOn,
      s"m=$m,subDim=$subDim,k=$k")(pqCodebookLocal(trainOn, m, subDim, k))

  /** Everything a serving-form IVF-PQ query builds before its own
    * probe/score step: the cached model artifacts (trained on
    * `trainOn`: the full corpus, or the frozen base split of the append
    * and lifecycle forms) and the encode/LUT/query frames over the full
    * corpus. ONE home for the artifact loads so the cache-key
    * construction lives in exactly one place. */
  private case class ServeCtx(centroids: DataFrame, vectors: DataFrame,
      cells: DataFrame, codes: DataFrame, lut: DataFrame,
      queries: DataFrame)

  private def servingContext(embeddings: DataFrame, trainOn: DataFrame,
      m: Int, subDim: Int, k: Int, nQueries: Int): ServeCtx = {
    val centroids = cachedCentroids(trainOn)
    val codebook = cachedCodebook(trainOn, m, subDim, k)
    val vectors = vectorFrame(embeddings)
    ServeCtx(centroids, vectors, cellsOf(vectors, centroids),
      pqEncodeWith(embeddings, codebook, m, subDim),
      pqLut(embeddings, codebook, m, subDim, nQueries),
      probeQueries(vectors, nQueries))
  }

  /** The probed serve every IVF-PQ lifecycle form (s15, s18, s19, s27,
    * s36) runs: the cached artifacts trained on `trainOn`, the query's
    * `nProbe` nearest cells, `candidates` (given the context and that
    * probe schedule) scored by [[adcTopK]], and the query's OWN (rank-1)
    * cell reported at any nProbe. Probed cells are disjoint, so a
    * (query, code-vector) candidate appears at most once. */
  private def probedServe(embeddings: DataFrame, trainOn: DataFrame,
      m: Int, subDim: Int, k: Int, nQueries: Int, topK: Int, nProbe: Int)(
      candidates: (ServeCtx, DataFrame) => DataFrame): DataFrame = {
    val ctx = servingContext(embeddings, trainOn, m, subDim, k, nQueries)
    val probes = probeCells(ctx.queries, ctx.centroids, nProbe)
    val top = adcTopK(candidates(ctx, probes), ctx.lut, topK,
      probes = Some(probes.select(col("query_id"), col("cell"))))
    adcRows(withOwnCell(top, probes), "query_id", "cell")
  }

  /** Re-encoded codes restricted to the probed cells. */
  private def prunedCodes(ctx: ServeCtx, probes: DataFrame): DataFrame =
    probePrunedCodes(ctx.codes, ctx.cells, probes)

  /** The STORED candidate source: `(cell, vec_id, sub, code)` written
    * once per (kind, corpus, params) as cell-partitioned parquet
    * ([[IndexStore]]) and read through a literal IN-list of the probed
    * cells — static partition pruning. Collecting the ≤ nQueries·nProbe
    * cell ids is one query-batch-sized job at construction. */
  private def storedCodes(kind: String, embeddings: DataFrame,
      params: String, ctx: ServeCtx, probes: DataFrame): DataFrame = {
    val stored = IndexStore.storedTable(kind, embeddings, params,
      Seq("cell"))(ctx.cells.join(ctx.codes, "vec_id"))
    val probedIds = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    stored.filter(col("cell").isin(probedIds: _*))
  }

  /** The s18 base split the frozen-model forms train on. */
  private def baseSplit(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") % 5 =!= 0)

  /** [[pqTopK]]'s serving form: the codebook enters as the session
    * model artifact ([[pqCodebookLocal]] via [[ModelArtifacts]] — which
    * IS pqEncode's codebook materialized, so results are identical by
    * construction). What a deployment pays per query batch on the flat
    * tier: encode (at scale: precomputed code columns), LUT build
    * against the broadcast codebook, ADC partial-agg top-k. */
  def pqTopKServe(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8, nQueries: Int = 5, topK: Int = 10): DataFrame = {
    val codebook = cachedCodebook(embeddings, m, subDim, k)
    adcRows(adcTopK(pqEncodeWith(embeddings, codebook, m, subDim),
      pqLut(embeddings, codebook, m, subDim, nQueries), topK), "query_id")
  }

  /** The trained PQ codebook MATERIALIZED as a local m·k-row DataFrame
    * — the model artifact the serving tier loads, mirroring
    * [[Clustering.trainedCentroidsLocal]]: at 100 TB nobody re-trains
    * per query; the codebook (a few KB) is stored beside the index and
    * broadcast. Without the materialization every subtree referencing
    * the codebook — the corpus encode AND the per-query LUT — re-runs
    * the full subspace-training lineage. Collecting m·k rows is the
    * broadcast-prep pattern, not a driver-side data loop. */
  def pqCodebookLocal(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8): DataFrame = {
    val codebook = pqEncode(embeddings, m, subDim, k)._2
    embeddings.sparkSession.createDataFrame(
      java.util.Arrays.asList(codebook.collect(): _*), codebook.schema)
  }

  /** s15: [[ivfPqTopK]]'s SERVING form — identical results by
    * construction (same trained artifacts, same ADC arithmetic), but
    * the coarse centroids and the PQ codebook enter as materialized
    * local model artifacts ([[Clustering.trainedCentroidsLocal]],
    * [[pqCodebookLocal]]), so the query itself is what a deployment
    * actually pays per batch of queries: one broadcast-assign encode
    * pass over the corpus (linear, no training iterations — and at
    * scale the codes themselves are precomputed columns, making this
    * purely the LUT-join + partial-agg ADC scan), the per-query LUT
    * build against the broadcast codebook, and the cell-pruned ADC
    * top-k. s12 deliberately keeps its in-query trainings as the
    * end-to-end oracle form; benching both separates train cost from
    * serve cost. */
  def ivfPqTopKServe(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8, nQueries: Int = 5, topK: Int = 10,
      nProbe: Int = 1): DataFrame =
    // the serving form LOADS its model artifacts: trained once per
    // (corpus, hyperparameters) per session via [[ModelArtifacts]], the
    // local stand-in for the artifact store a deployment reads. s12
    // deliberately keeps training in-query (the end-to-end oracle
    // form); this path is what repeated serving actually costs. It also
    // carries the serving tier's nprobe lever ([[probeCells]], default
    // 1 = own cell = s12's semantics): probed cells are disjoint, so a
    // (query, code-vector) candidate appears at most once at any nProbe.
    probedServe(embeddings, embeddings, m, subDim, k, nQueries, topK,
      nProbe)(prunedCodes)

  /** s27: index DELETES without retrain — the last face of the index
    * lifecycle (create s12/s15 → append s18 → delete): vectors leave
    * the corpus by TOMBSTONE, not by retraining — the frozen
    * quantizers keep serving and deleted candidates are pruned from
    * the scored set (FAISS `remove_ids` / every vector DB's soft
    * delete). The contract is exact by construction: results equal
    * serving over corpus-minus-deleted under the SAME frozen model
    * (tombstoning prunes candidates; it never moves a centroid — a
    * retrain WOULD, which is why deletes are cheap and retrains are
    * scheduled).
    *
    * The tombstone prune sits BEFORE the LUT expansion — the same
    * plan-order rule as the probe prune: prune, then expand
    * per-query. Here it is a scan-stage predicate; a tombstone TABLE
    * anti-joins at the same spot identically (broadcast when small,
    * bloom-filtered when not — j01's machinery). */
  def ivfPqDeleteServe(embeddings: DataFrame,
      deletePredicate: Column = col("vec_id") % 7 === 0,
      m: Int = 4, subDim: Int = 16, k: Int = 8, nQueries: Int = 5,
      topK: Int = 10, nProbe: Int = 1): DataFrame =
    probedServe(embeddings, embeddings, m, subDim, k, nQueries, topK,
      nProbe)((ctx, probes) => prunedCodes(ctx, probes)
        .filter(!deletePredicate))

  /** s13: recall@k of the PQ serving tiers — s11 (flat ADC) and s12
    * (IVF-PQ) — against the s01 exact ground truth: what ADC
    * quantization loses, and what single-cell coarse pruning changes
    * on top of it. The same eval-loop closure s05 gives the LSH tiers:
    * these are the tiers a 100 TB deployment actually runs, and the
    * m/k/nprobe budget can't be tuned without this number. NOTE the
    * direction is NOT a superset monotonicity like s07/s14: IVF-PQ's
    * candidate set is a subset of flat ADC's, but both rank by the
    * APPROXIMATE score, and a superset of candidates ranked by a lossy
    * score can recall WORSE — far-away vectors that ADC spuriously
    * ranks high displace true neighbors, and the coarse cell filter
    * removes exactly those false positives (on the fixture ivfpq beats
    * pq_adc on every query; the superset argument needs exact scores).
    * Both sides deterministic (integer ADC, fixed-fold cosine), so
    * recall is a rational count and oracle-checkable. */
  def pqRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    // both tiers evaluate through their SERVING forms — identical rows
    // to s11/s12 by construction (spec- and oracle-pinned), and the
    // cached model artifacts mean the eval pays PQ training once per
    // session instead of re-deriving it inside the recall query
    tierRecall(embeddings, nQueries, k,
      "pq_adc" -> pqTopKServe(embeddings, nQueries = nQueries, topK = k),
      "ivfpq" -> ivfPqTopKServe(embeddings, nQueries = nQueries,
        topK = k))
  }

  /** s16: recall@k of the IVF-PQ SERVING tier per n_probe — the last
    * panel of the FAISS tuning triptych: s13 measures what ADC
    * quantization + own-cell pruning cost, s14 shows what nprobe
    * recovers under EXACT in-cell refinement, and this shows what it
    * recovers when the in-cell scores are themselves lossy ADC sums.
    * One pass at maxProbe serves every config (cell_rank ≤ n filter on
    * the shared probe schedule), so the curve costs one ADC sweep.
    * NOT provably monotone (the s13 caveat: candidate supersets under
    * a lossy score can recall worse) — which is exactly why the curve
    * must be MEASURED before spending nprobe compute at 100 TB. */
  def pqNProbeRecall(embeddings: DataFrame, maxProbe: Int = 2,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    val ctx = servingContext(embeddings, embeddings, m = 4, subDim = 16,
      k = 8, nQueries = nQueries)
    val (configs, probes) = probeSweep(ctx.queries, ctx.centroids, maxProbe)
    // disjoint cells: a (query, code-vector) candidate appears at most
    // once per config — no dedup before the ADC partial agg
    val approx = adcTopK(prunedCodes(ctx, probes), ctx.lut, k,
        Seq("n_probe", "query_id"), Some(probes))
      .select(col("n_probe"), col("query_id"), col("neighbor_id"))
    recallAt(exactPairs(embeddings, nQueries, k).join(broadcast(configs)),
      approx, k, Seq("n_probe"))
  }

  /** s17: the standard FAISS serving composition s16's measurement
    * motivates — IVF-PQ ADC as the CANDIDATE generator (top-kCoarse
    * per query over the nProbe nearest cells), exact cosine as the
    * re-ranker over those candidates only. s16 shows raw ADC lists are
    * not monotone in nprobe (lossy-score false positives displace real
    * hits as cells widen); re-ranking restores the guarantee: for a
    * fixed candidate set C, the exact top-k contains EVERY true
    * neighbor present in C (|T| = k bounds them), so rerank recall =
    * |C ∩ T|/k — the maximum extractable from C — and dominates the
    * raw ADC list's recall at the same probe width (spec-asserted).
    * Float work per query is kCoarse rows; the corpus-wide pass stays
    * integer ADC over codes. */
  def ivfPqRerankTopK(embeddings: DataFrame, m: Int = 4,
      subDim: Int = 16, k: Int = 8, nQueries: Int = 5,
      kCoarse: Int = 25, topK: Int = 10, nProbe: Int = 2): DataFrame = {
    val ctx = servingContext(embeddings, embeddings, m, subDim, k,
      nQueries)
    val probes = probeCells(ctx.queries, ctx.centroids, nProbe)
    val cands = adcTopK(prunedCodes(ctx, probes), ctx.lut, kCoarse,
        probes = Some(probes.select(col("query_id"), col("cell"))))
      .select(col("query_id"), col("neighbor_id"))
    // exact refine on candidates only: kCoarse float rows per query.
    // cands (nQueries x kCoarse rows) is hinted as the BROADCAST build
    // side — it derives from an aggregate, so Catalyst's size estimate
    // cannot be trusted to stay under the threshold, and a sort-merge
    // fallback would shuffle the whole corpus to rerank a few dozen rows
    val reranked = ctx.vectors
      .select(col("vec_id").as("neighbor_id"), col("emb"), col("vnorm2"))
      .join(broadcast(cands), "neighbor_id")
      .join(broadcast(ctx.queries), "query_id")
      .withColumn("cosine",
        graft.functions.VectorOps.dot(col("emb"), col("query_emb")) /
          (sqrt(col("vnorm2")) * sqrt(col("qnorm2"))))
      .select(col("query_id"), col("neighbor_id").as("vec_id"),
        col("cosine"))
    cosineRows(topKByQuery(reranked, "cosine", topK))
  }

  /** s18: INDEX APPEND without retrain — the daily operation of a
    * production ANN index (FAISS `add()`): the quantizers are FROZEN on
    * the base corpus (vec_id % 5 != 0, ~80%), newly-arrived vectors
    * (the delta, % 5 == 0) are encoded with those frozen artifacts, and
    * serving runs over the union. Retraining per append would both cost
    * a corpus pass AND silently shift every existing code; freezing the
    * model keeps old codes valid — encode is per-vector, so
    * encode(base ∪ delta) = stored-base-codes ∪ encode(delta)
    * (spec-asserted), and the ledger form recodes everything only
    * because the fixture carries no code store. Completes the index
    * lifecycle: train (s12) → serve (s15) → tune (s13/s14/s16) →
    * rerank (s17) → append (s18). */
  def ivfPqAppendServe(embeddings: DataFrame, m: Int = 4,
      subDim: Int = 16, k: Int = 8, nQueries: Int = 5,
      topK: Int = 10): DataFrame =
    // artifacts keyed by the BASE plan: a different training set is a
    // different model, never a silent cache share with the full-corpus
    // tiers
    probedServe(embeddings, baseSplit(embeddings), m, subDim, k, nQueries,
      topK, nProbe = 1)(prunedCodes)

  /** s19: the STORED-CODES serve form — the final step of the serving
    * story. s15 loads its trained model artifacts but still re-encodes
    * the corpus per invocation; here the codes + cell assignment are a
    * PRECOMPUTED TABLE ([[IndexStore]], cell-partitioned parquet,
    * written once per session per (corpus, hyperparameters)), and the
    * query itself is exactly what a deployment pays at steady state:
    * probed-cell PARTITION-PRUNED scan → broadcast LUT join → ADC
    * partial-agg top-k. Not a float of the corpus, not an encode pass.
    *
    * The probed-cell set is tiny (≤ nQueries·nProbe ids) and known
    * before the scan plans, so it enters as a LITERAL IN-list on the
    * partition column — static partition pruning; the scan never lists
    * the other cells' files (plan-asserted). Collecting it costs one
    * query-batch-sized job, the same broadcast-prep scale as the LUT.
    * Results are identical to s15/s12 by construction (same artifacts,
    * same codes — parquet round-trips the integer code rows losslessly,
    * spec-asserted — same ADC arithmetic), so the one oracle pins all
    * three forms. */
  def ivfPqStoredServe(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8, nQueries: Int = 5, topK: Int = 10,
      nProbe: Int = 1): DataFrame =
    probedServe(embeddings, embeddings, m, subDim, k, nQueries, topK,
        nProbe) { (ctx, probes) =>
      storedCodes("ivfpq-codes", embeddings,
        s"m=$m,subDim=$subDim,k=$k,K=$CoarseK", ctx, probes)
    }

  /** s36: the FULL index lifecycle in one query — the end-to-end claim
    * a 100 TB index actually needs, composing the three separately
    * verified faces: the model is FROZEN on the base corpus (s18's
    * `vec_id % 5 ≠ 0` split), the delta is encoded with those frozen
    * artifacts and lands in the STORED cell-partitioned code table
    * (s19's at-rest layout — one table holds base + appended codes,
    * which is exactly what FAISS `add()` against a persisted index
    * leaves on disk), a tombstone predicate (s27's `% 7 = 0`) prunes
    * deleted vectors at the scan stage, and serving is the
    * partition-pruned probe → broadcast LUT join → ADC partial-agg
    * top-k. Equivalently: serve(stored(append(train(base))), minus
    * tombstones) — the steady state after a day of appends and deletes
    * with no retrain.
    *
    * Correctness contract: rows equal the s18 append-serve recomputed
    * over corpus-minus-tombstones under the same frozen model (encode
    * is per-vector, tombstoning never moves a centroid), so the oracle
    * is the s18 oracle with the delete predicate injected into its ADC
    * scan — the same text surgery s27 applies to the s12 oracle.
    *
    * Scale posture: the stored table is written once per (corpus,
    * params, base-split) per session and partition-pruned by the
    * probed-cell literal IN-list thereafter; the tombstone filter is a
    * scan-stage predicate BEFORE the LUT expansion (a tombstone TABLE
    * anti-joins at the same spot — j01's broadcast/bloom machinery);
    * nothing here rescans the corpus at serve time. */
  def ivfPqLifecycleServe(embeddings: DataFrame,
      deletePredicate: Column = col("vec_id") % 7 === 0,
      m: Int = 4, subDim: Int = 16, k: Int = 8, nQueries: Int = 5,
      topK: Int = 10, nProbe: Int = 1): DataFrame =
    // artifacts keyed by the BASE plan (the s18 rule): a model trained
    // on a different corpus is a different model, never a cache share
    probedServe(embeddings, baseSplit(embeddings), m, subDim, k, nQueries,
        topK, nProbe) { (ctx, probes) =>
      storedCodes("ivfpq-lifecycle", embeddings,
        s"m=$m,subDim=$subDim,k=$k,K=$CoarseK,base=mod5", ctx, probes)
        .filter(!deletePredicate)
    }

  /** The session-cached serving model artifacts (coarse centroids + PQ
    * codebook) as the pair a deployment loads from its artifact store —
    * exposed for the STREAMING serve tier, which broadcasts them into
    * each micro-batch. Same [[ModelArtifacts]] keys as the batch
    * serving forms, so batch and stream serve from the SAME trained
    * model by construction. */
  def servingArtifacts(embeddings: DataFrame, m: Int = 4,
      subDim: Int = 16, k: Int = 8): (DataFrame, DataFrame) =
    (cachedCentroids(embeddings), cachedCodebook(embeddings, m, subDim, k))

  /** The static corpus half of a streaming ANN serve: one row per
    * vector — (vec_id, cell, codes) with the m PQ codes packed into a
    * subspace-ordered array — encoded with the SAME cached artifacts
    * the batch serving forms load. This is the one-row-per-vector view
    * of [[ivfPqStoredServe]]'s stored table (at rest it would be the
    * same cell-partitioned parquet); a stream of queries joins it on
    * `cell` and scores candidates from the code array alone. */
  def packedIndex(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8): DataFrame = {
    val (centroids, codebook) = servingArtifacts(embeddings, m, subDim, k)
    val cells = cellsOf(vectorFrame(embeddings), centroids)
    pqAssign(pqSubvectors(embeddings, m, subDim), codebook)
      .groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
      .join(cells, "vec_id")
  }

  /** PQ-encode `vectors` against an explicit codebook — exposed for the
    * append-safety property: encode is PER-VECTOR (broadcast-assign
    * argmin, no cross-vector dependency), so appending a delta can
    * never change an existing vector's code. */
  def pqEncodeWith(vectors: DataFrame, codebook: DataFrame, m: Int = 4,
      subDim: Int = 16): DataFrame =
    pqAssign(pqSubvectors(vectors, m, subDim), codebook)
      .select(col("vec_id"), col("sub"), col("code"))

  def quantizedTopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val corpus = embeddings.select(col("vec_id"), quantize(col("embedding")).as("qemb"))
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        quantize(col("embedding")).as("q_qemb"))
    val scored = corpus.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .withColumn("qdot",
        aggregate(zip_with(col("qemb"), col("q_qemb"), _ * _),
          lit(0L), _ + _))
    // the aggregate scores in double; |qdot| ≤ 64²·dims ≪ 2⁵³, so the
    // long→double→long round trip is exact and the ranking unchanged
    topKByQuery(scored, "qdot", k)
      .select(col("query_id"), col("neighbor_id"),
        col("qdot").cast("long").as("qdot"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s22: TRAINED scalar quantization (FAISS `ScalarQuantizer`
    * QT_8bit) — the fourth coarse-tier family: per-DIMENSION affine
    * ranges learned from the corpus (vs s06's fixed power-of-two
    * scale, s11's subspace codebooks, s20's dimension truncation).
    * Each dimension stores `floor((x−vmin_d)·255/(vmax_d−vmin_d))` —
    * one byte/dim, 4× under float32 — and queries rank by asymmetric
    * distance against the code midpoints WITHOUT decoding: the
    * reconstruction `vmin_d + (code+½)·Δ_d/256` is affine in the code,
    * so `Σ_d q_d·x̂_d` ranks identically to
    * `Σ_d wq_d·(2·code_d+1)` with `wq_d = q_d·Δ_d` (the per-query
    * constant `Σ q_d·vmin_d` and positive scale 1/512 drop out).
    *
    * Determinism: vmin/vmax are order-free exact (min/max of
    * float→double casts); the encode and weight trees are fixed-shape
    * IEEE expressions mirrored in the oracle; `wq` quantizes to
    * integer MICROS (the k02 recipe) so every ADC score is an exact
    * order-free long (|wq|·511·dims ≪ 2⁵³) and the ranking is bitwise
    * cross-engine.
    *
    * Plan shape: the dims-sized stats frame (one posexplode agg,
    * map-side combined) broadcasts back twice — encode pass and query
    * weights; scoring joins corpus codes ⨝ broadcast(weights) on the
    * dim id (the corpus side moves one byte-sized code per dim, never
    * floats) into a (query, vec) partial agg + the bounded
    * [[graft.functions.TopKByScore]] rank. At rest the codes pack to
    * a binary column beside the lake exactly like s19's stored PQ
    * codes; the long form here keeps the encode oracle-visible. */
  def sq8TopK(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val ex = embeddings.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"), col("v").cast("double").as("v"))
    val stats = ex.groupBy(col("pos"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val codes = ex.join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"),
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(lit(255L),
            floor((col("v") - col("vmin")) * lit(255.0) /
              (col("vmax") - col("vmin"))).cast("long"))).as("code"))
    val qw = ex.filter(col("vec_id") < nQueries)
      .join(broadcast(stats), "pos")
      .select(col("vec_id").as("query_id"), col("pos").as("qpos"),
        floor(col("v") * (col("vmax") - col("vmin")) * lit(1000000.0))
          .cast("long").as("wq"))
    val scored = codes
      .join(broadcast(qw),
        col("pos") === col("qpos") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("wq") * (col("code") * 2L + 1L)).as("adc"))
    topKByQuery(scored, "adc", k)
      .select(col("query_id"), col("neighbor_id"),
        col("adc").cast("long").as("adc"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s24: RANGE search — every neighbor within cosine ≥ tau, the
    * radius-query face of the ANN API (FAISS `range_search`): dedup
    * sweeps, "find everything similar to this exemplar" curation
    * passes, and near-dup audits want ALL matches above a similarity
    * bar, not a fixed k (top-k under-returns in dense neighborhoods
    * and pads with junk in sparse ones). Cell-pruned like the serving
    * tiers: only the query's nProbe nearest trained cells are scanned,
    * with the same recall contract as s08/s14 (boundary-straddling
    * matches cost probes, measured there).
    *
    * Plan shape: trained centroids materialize once (K-row model
    * artifact); corpus assigns in the scan stage; the probe schedule
    * (nQueries·nProbe rows) broadcasts; the threshold filter runs
    * where the cosine is born, so only matches leave the scan — output
    * is match-sized, never candidate-sized, and there is NO top-k
    * state at all (the one ANN query with no per-query aggregate).
    * At rest the corpus is cell-partitioned and the probe schedule
    * partition-prunes the scan (s19's layout). */
  def rangeSearch(embeddings: DataFrame, tau: Double = 0.25,
      nQueries: Int = 5, nProbe: Int = 2): DataFrame = {
    val centroids = Clustering.cachedCentroids(embeddings)
    val assigned = Clustering.assign(vectorFrame(embeddings), centroids)
    val queries = probeQueries(assigned, nQueries)
    probedCosine(assigned, probeCells(queries, centroids, nProbe), queries)
      .filter(col("cosine") >= lit(tau))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** s26: FILTERED-search recall — the pre- vs post-filter trade every
    * production ANN service with metadata predicates lives with
    * (FAISS/vector-DB "filtered search"): PREFILTER (restrict the
    * corpus, then exact top-k — the ground truth, exact but
    * index-hostile at scale because every predicate needs its own
    * scan) vs POSTFILTER (unfiltered top-k·f, drop non-matching,
    * truncate to k — index-friendly but under-returns when matches
    * are sparse near the top). Reports, per (overfetch factor f,
    * query): how many of k slots were filled and recall vs the
    * prefilter truth — the curve that picks f in production.
    *
    * One unfiltered scored pass at max(f) serves every factor (the
    * s14 one-sweep pattern); the filter predicate here is the label's
    * parity — any metadata predicate slots in. Monotone in f by
    * construction (candidate sets nest). Deterministic: both tiers
    * are s01 arithmetic with id tie-breaks.
    *
    * Plan shape: two corpus-scale bounded top-k passes (truth +
    * overfetched), then factor expansion and per-(factor, query)
    * windows over ≤ k·max(f) rows — broadcast-scale. */
  def filteredRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10, factors: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    import embeddings.sparkSession.implicits._
    val pred = col("label") % 2 === 0
    val corpusAll = normed(embeddings)
    val queries = qnormed(queryVectors(embeddings, nQueries))
    val truth = topKByQuery(flatScored(corpusAll.filter(pred), queries),
        "cosine", k)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    val unf = topKByQuery(flatScored(corpusAll, queries), "cosine",
      k * factors.max)
    val fdf = factors.toDF("factor")
    val labels = embeddings
      .select(col("vec_id").as("neighbor_id"), col("label"))
    val post = unf.join(labels, "neighbor_id").filter(pred)
      .join(broadcast(fdf), col("rank") <= col("factor") * k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("factor"), col("query_id")).orderBy(col("rank"))
    val sel = post.withColumn("prk", row_number().over(w))
      .filter(col("prk") <= k)
      .select(col("factor"), col("query_id"), col("neighbor_id"))
    val cfg = broadcast(fdf)
      .crossJoin(broadcast(queries.select(col("query_id"))))
    cfg.join(sel, Seq("factor", "query_id"), "left")
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("factor"), col("query_id"))
      .agg(count(col("neighbor_id")).as("n_returned"),
        count(col("hit")).as("n_hits"))
      .select(col("factor"), col("query_id"), col("n_returned"),
        col("n_hits"),
        (col("n_hits").cast("double") / lit(k).cast("double"))
          .as("recall"))
      .orderBy(col("factor"), col("query_id"))
  }

  /** s25: kNN LABEL PREDICTION — majority vote over the exact top-k
    * neighbors' labels, the auto-labeling/weak-supervision face of the
    * neighbor machinery: propagate curated labels (quality tiers,
    * topic tags, safety flags) from a labeled seed set to unlabeled
    * corpus members. Reports the predicted label, its vote count, and
    * the true label so the output doubles as the eval (leave-one-out
    * accuracy over the query set).
    *
    * Determinism: the s01 candidate tier is already bitwise; the vote
    * is exact integer counting with (votes desc, label asc)
    * tie-breaks.
    *
    * Plan shape: s01's corpus-scale coarse pass, then per-query
    * (label, count) aggregation over k rows and a min_by argmax —
    * candidate-sized frames; the label re-attach joins the broadcast
    * query set. */
  def knnClassify(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val neighbors = bruteForceTopK(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val labels = embeddings.select(col("vec_id"), col("label"))
    val votes = neighbors
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label")), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val predicted = votes.groupBy(col("query_id"))
      .agg(min_by(struct(col("label"), col("votes")),
        struct((lit(0L) - col("votes")).as("negv"),
          col("label").as("l"))).as("p"))
      .select(col("query_id"), col("p.label").as("predicted_label"),
        col("p.votes").as("n_votes"))
    predicted
      .join(broadcast(labels.select(col("vec_id").as("query_id"),
        col("label").as("true_label"))), "query_id")
      .select(col("query_id"), col("predicted_label"), col("n_votes"),
        col("true_label"),
        (col("predicted_label") === col("true_label")).as("is_correct"))
      .orderBy(col("query_id"))
  }

  /** s23: Maximal Marginal Relevance diversification (Carbonell &
    * Goldstein 1998) — greedy re-ranking of the exact top-kCoarse
    * candidates so each pick trades relevance against redundancy with
    * what is already selected: step 1 takes the most relevant
    * candidate, step i takes
    * `argmax λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)`. The
    * diversity-sampling face of retrieval: RAG context assembly and
    * curation "pick k spread-out exemplars" passes both consume this
    * instead of a raw top-k whose entries are near-copies of each
    * other (which the fixture's near-dup clusters make literal).
    *
    * Determinism: relevance and candidate-pair cosines are quantized
    * to integer MICROS once (floor ×1e6 of the same IEEE tree the s01
    * oracle uses), then the whole greedy runs in exact longs with
    * λ=0.7 as the 7/3 integer split (score ×10) and id tie-breaks —
    * bitwise cross-engine, no float comparison anywhere in the loop.
    *
    * Plan shape: the corpus-scale work is s01's coarse pass (broadcast
    * queries × corpus scan → bounded TopKByScore). Everything after
    * runs on candidate-sized frames — kCoarse·nQueries rows, pairwise
    * kCoarse²·nQueries — checkpointed once and iterated k times with
    * driver-side loop control (the k-medians/PageRank discipline: k is
    * a small constant, each step is one tiny join + argmax, and the
    * checkpoint keeps plan growth linear). At serving scale the greedy
    * is per-query post-processing over k·kCoarse numbers; keeping it
    * in-engine keeps the pipeline one auditable plan. */
  def mmrDiversifyTopK(embeddings: DataFrame, nQueries: Int = 5,
      kCoarse: Int = 10, k: Int = 5): DataFrame = {
    val cand = bruteForceTopK(embeddings, nQueries, kCoarse)
      .select(col("query_id"), col("neighbor_id").as("vec_id"),
        floor(col("cosine") * lit(1000000.0)).cast("long").as("qmu"))
      .anchored // re-read every greedy step
    val corpus = normed(embeddings)
      .select(col("vec_id"), col("embedding"), col("norm2"))
    // candidate embeddings re-attach: candidate ids are an
    // aggregate-derived kCoarse·nQueries frame — hint the broadcast
    val cemb = corpus
      .join(broadcast(cand.select(col("query_id"), col("vec_id"))),
        Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        col("norm2"))
    val psim = cemb.select(col("query_id"), col("vec_id").as("va"),
        col("embedding").as("ea"), col("norm2").as("na"))
      .join(cemb.select(col("query_id").as("qb"),
        col("vec_id").as("vb"), col("embedding").as("eb"),
        col("norm2").as("nb")),
        col("query_id") === col("qb") && col("va") =!= col("vb"))
      .select(col("query_id"), col("va"), col("vb"),
        floor(Dedup.dotExpr("ea", "eb") /
          (sqrt(col("na")) * sqrt(col("nb"))) * lit(1000000.0))
          .cast("long").as("pmu"))
      .anchored
    // step 1: pure relevance argmax, ties toward the lower id.
    // Anchor.Loop: each step's `selected` anchor is a materialized
    // superset of the last — release superseded rounds as we go.
    val loop = new Anchor.Loop
    var selected = loop.cut(cand.groupBy(col("query_id"))
      .agg(min_by(struct(col("vec_id"), col("qmu")),
        struct((lit(0L) - col("qmu")).as("negq"),
          col("vec_id").as("v"))).as("s"))
      .select(col("query_id"), col("s.vec_id").as("vec_id"),
        lit(1L).as("step"), (col("s.qmu") * 7L).as("mmr_mu")))
    for (i <- 2 to k) {
      val rem = cand.join(
        selected.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_anti")
      val redundancy = psim
        .join(selected.select(col("query_id"), col("vec_id").as("vb")),
          Seq("query_id", "vb"))
        .groupBy(col("query_id"), col("va").as("vec_id"))
        .agg(max(col("pmu")).as("maxsim"))
      val next = rem.join(redundancy, Seq("query_id", "vec_id"))
        .withColumn("mmr_mu", col("qmu") * 7L - col("maxsim") * 3L)
        .groupBy(col("query_id"))
        .agg(min_by(struct(col("vec_id"), col("mmr_mu")),
          struct((lit(0L) - col("mmr_mu")).as("negm"),
            col("vec_id").as("v"))).as("s"))
        .select(col("query_id"), col("s.vec_id").as("vec_id"),
          lit(i.toLong).as("step"), col("s.mmr_mu").as("mmr_mu"))
      selected = loop.cut(selected.unionByName(next))
    }
    Anchor.release(cand)  // loop-invariant anchors, dead once the final
    Anchor.release(psim)  // `selected` (which the result reads) landed
    selected
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("step"), col("mmr_mu"))
      .orderBy(col("query_id"), col("step"))
  }

  /** s28: hard-negative mining for contrastive training (the miner
    * behind DPR/SimCSE-style retrieval training sets): for each query,
    * its `k` most-similar SAME-label vectors (the positives) and its
    * `k` most-similar DIFFERENT-label vectors (the hard negatives —
    * the near-misses that actually teach the boundary; random
    * negatives are trivially separable and carry no gradient signal).
    * One corpus pass serves both roles: the role is a per-row label
    * comparison, and the bounded top-k aggregate simply keys on
    * (query, role) — so mining the hard set costs the SAME scan s01
    * already pays, not a second pass.
    *
    * Plan shape: s01's broadcast(queries) × corpus scan → cosine →
    * TopKByScore keyed (query_id, role): map-side partial keeps ≤ k
    * candidates per (query, role) per split. At 100 TB this is one
    * full scan per query batch — the production form would sit the
    * same role-keyed top-k behind the IVF probe (s15's shape) to scan
    * cells, not the corpus. */
  def hardNegativeMining(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 5): DataFrame = {
    val corpus = normed(embeddings)
    val queries = qnormed(queryVectors(embeddings, nQueries))
    val scored = flatScored(corpus, queries)
      .withColumn("role",
        when(col("label") === col("query_label"), lit("positive"))
          .otherwise(lit("hard_negative")))
    topKByQuery(scored, "cosine", k, keys = Seq("query_id", "role"))
      .select(col("query_id"), col("role"), col("neighbor_id"),
        col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("role"), col("rank"))
  }

  /** s29: nearest-class-mean (Rocchio) classification with mislabel
    * flags — the cheap label-verification pass a labeled corpus gets
    * before its labels train anything: each query scores every class
    * by its MEAN dot product to the class members, predicts the
    * argmax, and a prediction disagreeing with the stored label flags
    * a candidate mislabel/outlier. Complements s25's kNN vote (local
    * evidence) with the global class-prototype view — the two
    * disagree exactly on boundary points and label noise.
    *
    * Determinism: components quantize to integer MICROS once; the
    * class-sum table and the query·classSum dot products are exact
    * longs (bound: |micro| ≤ 1e6, so a dot term ≤ n_class·10¹² and
    * the d-dim sum ≤ d·n_class·10¹² — at 10⁵+ rows per class move the
    * accumulation to DECIMAL(38,0)); the ONLY float op is the final
    * per-class mean (one division), and argmax/margin compare those
    * bitwise-identical doubles with a label tie-break.
    *
    * Plan shape: one corpus-keyed partial aggregate builds the
    * (label, dim) sum table — model-sized (|labels|·d rows), like a
    * codebook; queries broadcast against it; per-query scoring
    * touches |labels|·d rows total. The corpus is scanned ONCE
    * regardless of query count — vs s25, which re-scans per query
    * batch. */
  def centroidClassify(embeddings: DataFrame,
      nQueries: Int = 5): DataFrame = {
    val ex = embeddings.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long")
          .as("micro"))
    val sums = ex.groupBy(col("label"), col("pos"))
      .agg(sum(col("micro")).as("s_micro"))
    val classN = embeddings.groupBy(col("label"))
      .agg(count(lit(1)).as("n"))
    val qs = ex.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("label").as("true_label"),
        col("pos").as("qpos"), col("micro").as("qmicro"))
    val scores = sums
      .join(broadcast(qs), col("pos") === col("qpos"))
      .groupBy(col("query_id"), col("true_label"), col("label"))
      .agg(sum(col("qmicro") * col("s_micro")).as("dot_sum"))
      .join(broadcast(classN), "label")
      .select(col("query_id"), col("true_label"), col("label"),
        (col("dot_sum").cast("double") / col("n").cast("double"))
          .as("score"))
    scores.groupBy(col("query_id"), col("true_label"))
      .agg(sort_array(collect_list(struct(
        (lit(0.0) - col("score")).as("negs"),
        col("label").as("l"), col("score").as("s")))).as("arr"))
      .select(col("query_id"), col("true_label"),
        element_at(col("arr"), 1).getField("l").as("predicted_label"),
        element_at(col("arr"), 1).getField("s").as("best_score"),
        // single-label corpus ⇒ one score per query: element_at(arr,2)
        // would be a hard out-of-bounds error under ANSI mode, so the
        // runner-up gap degrades to a null margin instead
        when(size(col("arr")) >= 2,
          element_at(col("arr"), 1).getField("s") -
            element_at(col("arr"), 2).getField("s")).as("margin"),
        (element_at(col("arr"), 1).getField("l") === col("true_label"))
          .as("is_correct"))
      .orderBy(col("query_id"))
  }

  /** s30: RESIDUAL IVF-PQ — the actual FAISS IVFPQ layout, closing
    * the fidelity gap s12 left open: the PQ codebook is trained on and
    * encodes the coarse RESIDUALS r = x − centroid(cell), not the raw
    * vectors. Residuals concentrate near the origin (the coarse
    * quantizer has already explained the between-cell variance), so
    * the same m×k codebook budget can spend its resolution on the
    * within-cell structure that actually ranks candidates — the
    * standard FAISS argument, MEASURED rather than assumed by s31
    * (and on this fixture the measurement says NO at k=8 codes with
    * one median refinement round: raw mean recall 0.38 vs residual
    * 0.30 at sf0.01 — the residual codebook's seeds concentrate near
    * the origin and one refinement round can't spread them, exactly
    * the regime where FAISS trains codebooks to convergence).
    * Scoring keeps the IP-ADC identity q·x = q·c + q·r: the q·c term
    * is constant within a probed cell, so the LUT is the RAW query's
    * subvectors against the residual codebook and own-cell ranking by
    * Σ LUT(q, code(r_x)) matches ranking by q·x up to quantization.
    *
    * Determinism: the residual is one double subtract of two input
    * floats rounded once back to float — correctly-rounded IEEE in
    * both engines — and everything downstream is the audited s12
    * pipeline unchanged (integer-micro LUT, exact-long ADC sums).
    *
    * Plan shape: identical to s12 plus one broadcast(K centroids)
    * equi-join and a per-row zip_with producing the residual in the
    * scan stage (interpreted lambda, but one pass at encode time — at
    * serving scale residual codes are precomputed columns, s19's
    * stored-codes argument verbatim). */
  def ivfPqResidualTopK(embeddings: DataFrame, m: Int = 4,
      subDim: Int = 16, k: Int = 8, nQueries: Int = 5,
      topK: Int = 10): DataFrame = {
    val resid = residualFrame(embeddings,
      Clustering.trainedCentroidsLocal(embeddings))
    val (codes, codebook) =
      pqEncode(resid.select(col("vec_id"), col("embedding")), m, subDim, k)
    // RAW query subvectors × residual codebook (the q·c term is
    // cell-constant and drops out of the within-cell ranking)
    ownCellTopK(codes, resid.select(col("vec_id"), col("cell")),
      pqLut(embeddings, codebook, m, subDim, nQueries), nQueries, topK)
  }

  /** `(vec_id, cell, embedding)` with `embedding` the coarse RESIDUAL
    * x − centroid(cell): one double subtract of two input floats,
    * rounded once back to float. */
  private def residualFrame(embeddings: DataFrame,
      centroids: DataFrame): DataFrame =
    Clustering.assign(vectorFrame(embeddings), centroids)
      .join(broadcast(centroids.select(col("cluster_id"), col("cemb"))),
        "cluster_id")
      .select(col("vec_id"), col("cluster_id").as("cell"),
        expr("""zip_with(emb, cemb, (x, c) ->
          CAST(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) AS FLOAT))""")
          .as("embedding"))

  /** [[ivfPqResidualTopK]]'s SERVING form — identical results by
    * construction (the s12→s15 contract applied to the residual
    * layout): the coarse centroids and the RESIDUAL codebook enter as
    * cached session model artifacts, so the query pays the encode pass
    * (at scale: precomputed residual-code columns, s19's argument) and
    * the cell-pruned ADC top-k, never the two training lineages. The
    * residual frame is rebuilt from the SAME deterministic centroids
    * the trainer used, so codes are bitwise the s30 codes
    * (SimilaritySpec holds row equality). s31 consumes this tier —
    * the r13 "route eval tiers through the cached serving forms"
    * stance extended to the residual tier; s30 itself stays the
    * end-to-end training form. */
  def ivfPqResidualServe(embeddings: DataFrame, m: Int = 4,
      subDim: Int = 16, k: Int = 8, nQueries: Int = 5,
      topK: Int = 10): DataFrame = {
    val resid = residualFrame(embeddings,
      Clustering.cachedCentroids(embeddings))
    val resFrame = resid.select(col("vec_id"), col("embedding"))
    val codebook = ModelArtifacts.cached("residual-pq-codebook",
      embeddings, s"m=$m,subDim=$subDim,k=$k")(
      pqCodebookLocal(resFrame, m, subDim, k))
    ownCellTopK(pqEncodeWith(resFrame, codebook, m, subDim),
      resid.select(col("vec_id"), col("cell")),
      pqLut(embeddings, codebook, m, subDim, nQueries), nQueries, topK)
  }

  /** The OPQ-lite dimension permutation: dims ranked by corpus
    * variance (exact integer-micro sums; the score n·Σx²−(Σx)² is
    * two IEEE products and a subtract — identical trees both
    * engines), then SNAKE-dealt across the m subspaces (1st, 2m-th…
    * to sub 0 etc.) so each subspace receives a balanced share of
    * high-variance dims — the permutation face of OPQ (Ge et al.
    * 2013) without the rotation matrix, which needs eigensolvers no
    * SQL engine reproduces bit-for-bit. The rank step is the
    * w19/dq02 sorted-array fold over the d-row score frame (one
    * partial agg), not an unpartitioned window. */
  private[operators] def opqPermutedFrame(embeddings: DataFrame,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    val ex = embeddings
      .select(col("vec_id"), posexplode(col("embedding"))
        .as(Seq("dim", "v")))
      .withColumn("micro",
        floor(col("v").cast("double") * lit(1000000.0)).cast("long"))
    // the squared-micro sum accumulates in DECIMAL(38,0): micro² alone
    // reaches ~3·10¹⁵ once vector components leave the unit range (the
    // ×8 stress fixture's dim-0 shove found the long overflow under
    // ANSI mode), and ~10⁶ rows/dim then break int64 — decimal keeps
    // the sum exact to 10³⁸; DuckDB's BIGINT sum is HUGEINT-exact the
    // same way, and both round to double once in the score
    val scoredDims = ex.groupBy(col("dim")).agg(
      count(lit(1)).as("n"), sum(col("micro")).as("s"),
      sum(col("micro").cast("decimal(38,0)") * col("micro")).as("sq"))
      .select(col("dim"),
        (col("n").cast("double") * col("sq").cast("double") -
          col("s").cast("double") * col("s").cast("double"))
          .as("vscore"))
    val ranked = scoredDims
      .agg(sort_array(collect_list(struct(
        (lit(0.0) - col("vscore")).as("negv"), col("dim").as("dim"))))
        .as("arr"))
      .select(posexplode(col("arr")).as(Seq("r0", "e")))
      .select(col("e.dim").as("dim"), col("r0").cast("long").as("r0"))
    val mapping = ranked.select(col("dim"), expr(
      s"""(CASE WHEN (r0 div $m) % 2 = 0 THEN r0 % $m
         |  ELSE ${m - 1} - (r0 % $m) END) * $subDim + (r0 div $m)"""
        .stripMargin).as("newdim"))
    ex.join(broadcast(mapping), "dim")
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("newdim"), col("v"))))
        .as("a"))
      .select(col("vec_id"),
        transform(col("a"), x => x.getField("v")).as("embedding"))
  }

  /** s32: OPQ-permuted flat PQ-ADC top-k — s11's exact pipeline over
    * the variance-balanced permutation. A permutation never changes
    * the TRUE dot product; it only redistributes which dims each PQ
    * subspace must quantize, so any recall difference vs s11 is pure
    * codebook-quality signal (measured by s33). Plan adds one
    * dim-keyed stat agg + a broadcast(d-row map) join + a per-vector
    * rebuild before the audited s11 chain; at rest the permuted
    * vector is a stored column (the s19 argument) and serve cost is
    * identical to s11's. */
  def opqPqTopK(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8, nQueries: Int = 5, topK: Int = 10): DataFrame =
    pqTopK(opqPermutedFrame(embeddings, m, subDim), m, subDim, k,
      nQueries, topK)

  /** s33: recall@k of raw-order vs OPQ-permuted flat PQ at equal code
    * budget vs the s01 exact truth — the s31 stance: the permutation
    * is justified by measurement, never assumed. Measured: at sf0.01
    * the permutation WINS (mean recall 0.28 vs 0.24); at sf0.001 it's
    * a wash (0.18 vs 0.20) — too few vectors per codebook cell for
    * the balanced layout to matter. Tiers sort pq_opq < pq_raw. */
  def opqRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    // BOTH tiers through the CACHED serving forms (rows identical to
    // s11/s32 — the s13 rerouting precedent; spec-pinned)
    tierRecall(embeddings, nQueries, k,
      "pq_raw" -> pqTopKServe(embeddings, nQueries = nQueries, topK = k),
      "pq_opq" -> pqTopKServe(opqPermutedFrame(embeddings),
        nQueries = nQueries, topK = k))
  }

  /** The s37 STRUCTURED rotation: [[opqPermutedFrame]] followed by a
    * per-subspace Walsh–Hadamard rotation — the rotation face of OPQ
    * (Ge et al. 2014) realized with a STRUCTURED orthogonal matrix
    * (the trick of cross-polytope LSH, Andoni et al. 2015, and of
    * structured-projection PQ variants) instead of the eigensolver
    * rotation no SQL engine reproduces bit-for-bit: within each
    * subDim-wide block, y_j = (1/√subDim)·Σᵢ (−1)^popcount(j∧i)·xᵢ.
    * H is symmetric orthogonal (H² = I), so true dot products are
    * preserved per block and the permutation+rotation pair changes
    * ONLY what the PQ codebook must quantize — the s32 invariance
    * argument, extended. The permutation balances variance ACROSS
    * subspaces; the Hadamard then spreads each subspace's variance
    * over its own dims (decorrelation), which is what the trained OPQ
    * rotation buys when codebook cells are axis-aligned.
    *
    * Determinism: the sign is integer bit parity; each output dim is
    * ONE left fold over the block in ascending i (the fixed-fold dot
    * discipline — both engines add in the identical order), scaled by
    * 1/√subDim (= 0.25 at subDim 16 — EXACT in binary), rounded once
    * to FLOAT (the s30 residual precedent). No groupBy float sums. */
  /** The rotation alone (H is symmetric orthogonal, so this is its own
    * inverse up to FLOAT rounding — spec-asserted). Runs through the
    * native codegen'd [[graft.functions.HadamardRotate]]: the builtin
    * `transform(sequence, j -> aggregate(...))` formulation is a
    * higher-order lambda tree that evaluates INTERPRETED (no codegen
    * for HOFs) at a measured ~6 ms/row — and pqTopK references its
    * input frame ~5×, each inlining the projection — where the native
    * expression is a primitive fused-multiply-add loop inside
    * whole-stage codegen with the SAME left-fold association the
    * DuckDB oracle uses (bitwise-equal, oracle-checked). */
  private[operators] def hadamardRotate(frame: DataFrame, m: Int = 4,
      subDim: Int = 16): DataFrame =
    frame.select(col("vec_id"),
      graft.functions.HadamardFns.rotate(col("embedding"), m, subDim)
        .as("embedding"))

  private[operators] def opqRotatedFrame(embeddings: DataFrame,
      m: Int = 4, subDim: Int = 16): DataFrame =
    hadamardRotate(opqPermutedFrame(embeddings, m, subDim), m, subDim)

  /** s37: structured-OPQ flat PQ-ADC top-k — s11's exact pipeline
    * over the permuted-then-Hadamard-rotated frame. Same plan as s32
    * plus one per-row array expression (the rotation is subDim² fused
    * multiply-adds per vector in the scan stage — no extra shuffle);
    * at rest the rotated vector is a stored column (the s19 argument)
    * and serve cost is identical to s11's. */
  def rotatedPqTopK(embeddings: DataFrame, m: Int = 4, subDim: Int = 16,
      k: Int = 8, nQueries: Int = 5, topK: Int = 10): DataFrame =
    pqTopK(opqRotatedFrame(embeddings, m, subDim), m, subDim, k,
      nQueries, topK)

  /** s38: recall@k of the three flat-PQ preprocessing tiers — raw
    * order, OPQ-lite permutation (s32), permutation+Hadamard rotation
    * (s37) — against the s01 exact truth: the marginal value of each
    * preprocessing step at equal code budget, measured per corpus
    * (the s31/s33 stance). Ground truth is computed on the RAW
    * embeddings — both transforms preserve true neighbors by
    * orthogonality, so all tiers answer the same question. Measured
    * at sf0.01: perm 0.28 > perm+rot 0.26 > raw 0.24 mean recall —
    * the permutation helps, the Hadamard on top gives a bit BACK on
    * this fixture (the synthetic embeddings are near-isotropic within
    * a subspace already, so the rotation only reshuffles what k=8
    * axis-aligned cells must fit) — exactly why the switch is
    * measured per corpus, never assumed. Tier strings sort
    * pq_opq < pq_opqrot < pq_raw. */
  def rotationRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    tierRecall(embeddings, nQueries, k,
      "pq_raw" -> pqTopKServe(embeddings, nQueries = nQueries, topK = k),
      "pq_opq" -> pqTopKServe(opqPermutedFrame(embeddings),
        nQueries = nQueries, topK = k),
      "pq_opqrot" -> pqTopKServe(opqRotatedFrame(embeddings),
        nQueries = nQueries, topK = k))
  }

  /** s39's DETERMINISTIC anisotropic embedding view — the
    * counter-fixture to s38's near-isotropic corpus: within each
    * 16-dim block the variance ramps 1.0→4.0 (dim i scaled by
    * 1 + 3·(i mod 16)/15) and a 0.25·next-neighbor mix (cyclic)
    * injects cross-dim correlation — the regime where OPQ-style
    * rotations are usually motivated. Arithmetic contract: per output
    * dim ONE (double·ramp + double·0.25) chain, left-associated
    * identically in the DuckDB twin, rounded once to FLOAT.
    * Interpreted HOF — acceptable: one pass per eval input (the s30
    * zip_with stance). */
  private[operators] def anisotropicView(embeddings: DataFrame)
      : DataFrame =
    embeddings.select(col("vec_id"), col("label"), expr(
      """transform(sequence(0, 63), i -> CAST((
        |CAST(element_at(embedding, i + 1) AS DOUBLE)
        |  * (1.0D + 3.0D * CAST(i % 16 AS DOUBLE) / 15.0D)
        |+ CAST(element_at(embedding, (i + 1) % 64 + 1) AS DOUBLE)
        |  * 0.25D) AS FLOAT))""".stripMargin).as("embedding"))

  /** s39: s38's three-tier recall eval re-run over the ANISOTROPIC
    * view — the rotation claim tested where the literature predicts it
    * pays. Measured at sf0.01: perm 0.34 > raw 0.32 > perm+rot 0.26 —
    * the Hadamard loses EVEN HERE, and the reason is instructive: at
    * this code budget (m=4, k=8 cells per 16-dim subspace) a tiny
    * axis-aligned codebook quantizes CONCENTRATED variance more easily
    * (fewer effective dims to cover), so spreading the energy evenly
    * is counter-productive; the OPQ rotation's textbook win needs
    * codebooks large enough to spend the equalized dims. The s38/s39
    * pair is therefore the evidence the scaladoc promises: the
    * rotation switch must be MEASURED per corpus AND per code budget,
    * never assumed. Same plan as s38 plus one scan-stage transform. */
  def anisotropicRotationRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame =
    rotationRecall(anisotropicView(embeddings), nQueries, k)

  /** s34: BINARY-code Hamming top-k (FAISS IndexBinaryFlat): each
    * vector compresses to `nBits` sign bits of the deterministic
    * hyperplane projections (s03's machinery, packed into one BIGINT
    * instead of a bucket string), and ranking is popcount(xor) — the
    * cheapest ANN tier there is: 16 bits/vector here vs 32 bytes for
    * s22's SQ8 or 4 codes for PQ, with integer-exact distances so the
    * ranking is bitwise deterministic. Production uses 256-1024 bits
    * and rejects-then-reranks (the s10 shape); the oracle-checkable
    * 16-bit form keeps the semantics while the packing generalizes to
    * an array of longs.
    *
    * Plan shape: one explode ⋈ broadcast(planes) shuffle builds every
    * code (s03's shape); queries broadcast; distance is ONE codegen'd
    * xor+popcount per candidate — no arrays touched at scan time —
    * then the bounded TopKByScore. At rest codes are an 8-byte
    * column; a billion vectors fit in 8 GB. */
  def hammingTopK(embeddings: DataFrame, nBits: Int = 16,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    require(nBits <= 52, s"codes pack via exact double pow2: $nBits")
    val comps = embeddings
      .select(col("vec_id"), posexplode(col("embedding"))
        .as(Seq("i", "v")))
    val codes = comps
      .join(broadcast(hyperplanes(embeddings.sparkSession, nBits)), "i")
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(floor(col("v").cast("double") * 1000000).cast("long") *
        col("s")).as("p"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("p") > 0,
        expr("CAST(power(2, j) AS BIGINT)")).otherwise(0L)).as("code"))
    val queries = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qcode"))
    val scored = codes
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("hamming", expr("bit_count(code ^ qcode)"))
    topKByQuery(scored.withColumn("neg_h",
        (lit(0L) - col("hamming")).cast("double")), "neg_h", k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(0.0) - col("neg_h")).cast("long").as("hamming"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s35: recall@k of the binary tier per code WIDTH (8/16/24 bits) —
    * the eval-loop closure every coarse tier gets (s05 LSH bits, s13
    * PQ, s31 residual, s33 OPQ): how many sign bits buy how much
    * recall. ONE plane/projection pass at maxBits serves every config
    * — an n-bit code is the n-bit MASK of the widest code (bits are
    * independent projections), so narrower tiers are `code % 2ⁿ`, a
    * per-row expression, not a re-hash. No monotonicity claim: the
    * top-k sets under different widths are not nested (the s13
    * stance), so the curve is measured. */
  def hammingRecall(embeddings: DataFrame,
      bitsConfigs: Seq[Int] = Seq(8, 16, 24), nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val maxBits = bitsConfigs.max
    require(maxBits <= 52, s"codes pack via exact double pow2: $maxBits")
    val comps = embeddings
      .select(col("vec_id"), posexplode(col("embedding"))
        .as(Seq("i", "v")))
    val codes = comps
      .join(broadcast(hyperplanes(embeddings.sparkSession, maxBits)),
        "i")
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(floor(col("v").cast("double") * 1000000).cast("long") *
        col("s")).as("p"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("p") > 0,
        expr("CAST(power(2, j) AS BIGINT)")).otherwise(0L)).as("code"))
    val configs = embeddings.sparkSession
      .range(bitsConfigs.length.toLong)
      .select(element_at(
        array(bitsConfigs.map(b => lit(b.toLong)): _*),
        col("id").cast("int") + 1).as("n_bits"))
    val masked = codes.crossJoin(broadcast(configs))
      .withColumn("mcode",
        expr("code % CAST(power(2, n_bits) AS BIGINT)"))
    // query side renames n_bits → q_bits so the join compares two
    // DISTINCT attributes: `queries` derives from `masked`, and a
    // same-lineage masked("n_bits") === queries("n_bits") is the
    // "trivially true equals predicate" Spark warns about — resolved
    // correctly today only by self-join disambiguation heuristics
    val queries = masked.filter(col("vec_id") < nQueries)
      .select(col("n_bits").as("q_bits"), col("vec_id").as("query_id"),
        col("mcode").as("qcode"))
    val scored = masked
      .join(broadcast(queries),
        col("n_bits") === col("q_bits") &&
          col("vec_id") =!= col("query_id"))
      .drop("q_bits")
      .withColumn("neg_h",
        (lit(0L) - expr("bit_count(mcode ^ qcode)")).cast("double"))
    val approx = topKByQuery(scored, "neg_h", k,
      keys = Seq("n_bits", "query_id"))
      .select(col("n_bits"), col("query_id"), col("neighbor_id"))
    recallAt(exactPairs(embeddings, nQueries, k).join(broadcast(configs)),
      approx, k, Seq("n_bits"))
  }

  /** s31: recall@k of raw-PQ vs residual-PQ IVF tiers against the s01
    * exact ground truth — the measurement that justifies (or refutes)
    * s30's extra centroid join: same coarse quantizer, same m×k code
    * budget, only the encoding target differs. On this fixture it
    * REFUTES at the current training depth (raw 0.38 vs residual 0.30
    * mean at sf0.01) — see the s30 scaladoc for why — which is the
    * point: under a lossy score nothing is provably monotone, so the
    * switch is measured per corpus, never assumed. Tier strings sort
    * raw < residual. */
  def residualRecall(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    // BOTH tiers through the CACHED serving forms — rows identical to
    // s12/s30 by construction (the s15 oracle/spec contract and
    // the SimilaritySpec serve-equality tests), so the eval pays
    // encode+probe, never the coarse/PQ/residual training lineages.
    tierRecall(embeddings, nQueries, k,
      "ivfpq_raw" -> ivfPqTopKServe(embeddings, nQueries = nQueries,
        topK = k),
      "ivfpq_residual" -> ivfPqResidualServe(embeddings,
        nQueries = nQueries, topK = k))
  }
}
