package graft.operators

import graft.SparkSpec

/** Known-geometry checks of the similarity-search layer. */
class SimilaritySpec extends SparkSpec {

  // query 0 in bucket 0; neighbors engineered at known cosines
  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(1.0f, 0.1f)), // cos ~ 0.995
      (2L, 0, Array(1.0f, 1.0f)), // cos ~ 0.707
      (3L, 1, Array(1.0f, 0.01f)), // closer, but bucket 1
      (4L, 0, Array(0.0f, 1.0f)) // cos 0
    ).toDF("vec_id", "label", "embedding")
  }

  test("bruteForceTopK ranks by cosine across all buckets") {
    val out = Similarity.bruteForceTopK(vecs, nQueries = 1, k = 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("rank")))
    // 3 is nearest (cos~0.99995), then 1, then 2
    assert(out.toSeq == Seq((3L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("ivfTopK only probes the query's own bucket") {
    val out = Similarity.ivfTopK(vecs, nQueries = 1, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id"))
    assert(out.toSeq == Seq(1L, 2L, 4L)) // 3 excluded: bucket 1
  }

  test("self-match is excluded and cosine is in [-1, 1]") {
    val out = Similarity.bruteForceTopK(vecs, nQueries = 1, k = 10).collect()
    assert(!out.exists(_.getAs[Long]("neighbor_id") == 0L))
    assert(out.forall { r =>
      val c = r.getAs[Double]("cosine"); c >= -1.0001 && c <= 1.0001
    })
  }

  test("multi-table LSH with one table equals the single-table tier") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // nTables=1, nBits=4 slices bits [0,4) of signLshBuckets(4) — the
    // exact planes and bucket of lshAnnTopK(nBits=4)
    val single = Similarity.lshAnnTopK(emb, nBits = 4)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .collect().map(_.toSeq).toSeq
    val multi = Similarity.lshAnnTopKMulti(emb, nTables = 1, nBits = 4)
      .collect().map(_.toSeq).toSeq
    assert(multi == single)
  }

  test("recall is monotonically non-decreasing in the table count") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val byConfig = Similarity.annRecallMulti(emb, maxTables = 2)
      .collect()
      .map(r => (r.getAs[Long]("n_tables"), r.getAs[Long]("query_id")) ->
        r.getAs[Double]("recall")).toMap
    val queries = byConfig.keys.map(_._2).toSet
    assert(queries.nonEmpty)
    queries.foreach { q =>
      assert(byConfig((2L, q)) >= byConfig((1L, q)),
        s"query $q: 2-table recall below 1-table")
    }
    // the second table must add at least one hit somewhere on the
    // fixture, or the OR-amplification demo shows nothing
    assert(queries.exists(q => byConfig((2L, q)) > byConfig((1L, q))) ||
      queries.forall(q => byConfig((1L, q)) == 1.0),
      "no recall lift and single-table recall not already perfect")
  }

  test("multi-probe recall: radius 1 never below radius 0") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val byRadius = Similarity.annRecallMultiProbe(emb)
      .collect()
      .map(r => (r.getAs[Long]("radius"), r.getAs[Long]("query_id")) ->
        r.getAs[Double]("recall")).toMap
    val queries = byRadius.keys.map(_._2).toSet
    assert(queries.nonEmpty)
    queries.foreach { q =>
      assert(byRadius((1L, q)) >= byRadius((0L, q)),
        s"query $q: radius-1 recall below radius-0")
    }
  }

  test("trained-IVF probe stays inside the query's own trained cell") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cells = graft.operators.Clustering.kmediansAssign(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Similarity.ivfTrainedTopK(emb, nQueries = 3, k = 4).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, cell, nb) = (r.getAs[Long]("query_id"),
        r.getAs[Long]("cell"), r.getAs[Long]("neighbor_id"))
      assert(cell == cells(q), s"query $q probed a foreign cell")
      assert(cells(nb) == cell, s"neighbor $nb outside query $q's cell")
      assert(nb != q)
    }
    // ranks are 1..n contiguous per query
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rs.length).toSeq)
    }
  }

  test("quantizedTopK: floor(64x) codes, integer scores, deterministic rank") {
    // codes: v0=[64,0] v1=[64,6] v2=[64,64] v3=[64,0] v4=[0,64]
    // (floor(0.1*64)=floor(6.4)=6; floor(0.01*64)=0 — v3 collapses onto v0)
    val out = Similarity.quantizedTopK(vecs, nQueries = 1, k = 4)
      .collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("qdot"), r.getAs[Long]("rank")))
    // qdot vs v0=[64,0]: v1=4096 v2=4096 v3=4096 v4=0; ties break on id
    assert(out.toSeq == Seq((1L, 4096L, 1L), (2L, 4096L, 2L),
      (3L, 4096L, 3L), (4L, 0L, 4L)))
  }

  /** Hand-built recallAt inputs: (n_probe, query_id, neighbor_id). */
  private def pairFrame(rows: (Long, Long, Long)*) = {
    import spark.implicits._
    rows.toDF("n_probe", "query_id", "neighbor_id")
  }

  private def recallRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("n_probe"),
      r.getAs[Long]("query_id"), r.getAs[Long]("n_hits"),
      r.getAs[Double]("recall"))).toSeq

  test("recallAt: a query with zero hits reads n_hits 0, recall 0.0") {
    val exact = pairFrame((1L, 0L, 10L), (1L, 0L, 11L),
      (1L, 1L, 20L), (1L, 1L, 21L))
    val approx = pairFrame((1L, 0L, 10L), (1L, 1L, 99L))
    val out = Similarity.recallAt(exact, approx, 2, Seq("n_probe"))
    assert(out.columns.toSeq ==
      Seq("n_probe", "query_id", "n_hits", "recall"))
    assert(recallRows(out) == Seq((1L, 0L, 1L, 0.5), (1L, 1L, 0L, 0.0)))
  }

  test("recallAt: a config with no approx rows reads recall 0 per query") {
    val exact = pairFrame((1L, 0L, 10L), (1L, 1L, 20L),
      (2L, 0L, 10L), (2L, 1L, 20L))
    val approx = pairFrame((1L, 0L, 10L), (1L, 1L, 20L))
    assert(recallRows(Similarity.recallAt(exact, approx, 1,
      Seq("n_probe"))) == Seq((1L, 0L, 1L, 1.0), (1L, 1L, 1L, 1.0),
      (2L, 0L, 0L, 0.0), (2L, 1L, 0L, 0.0)))
  }

  test("recallAt: a pair hit under two config keys counts once in each") {
    val exact = pairFrame((1L, 0L, 10L), (1L, 0L, 11L),
      (2L, 0L, 10L), (2L, 0L, 11L))
    // (0, 10) is a hit at BOTH n_probe values; (0, 11) only at 2
    val approx = pairFrame((1L, 0L, 10L), (2L, 0L, 10L), (2L, 0L, 11L))
    assert(recallRows(Similarity.recallAt(exact, approx, 2,
      Seq("n_probe"))) == Seq((1L, 0L, 1L, 0.5), (2L, 0L, 2L, 1.0)))
  }
}

/** Sign-LSH bucket properties. */
class SignLshSpec extends graft.SparkSpec {
  test("identical vectors share a bucket; negated vectors complement it") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.2f, 3.3f, 0.7f)),
      (2L, Array(0.5f, -1.2f, 3.3f, 0.7f)), // identical -> same bucket
      (3L, Array(-0.5f, 1.2f, -3.3f, -0.7f))) // negated -> all bits flip
      .toDF("vec_id", "embedding")
    val b = graft.operators.Similarity.signLshBuckets(vecs, nBits = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(1L) == b(2L))
    assert(b(1L).length == 8)
    val flipped = b(1L).map(c => if (c == '1') '0' else '1')
    assert(b(3L) == flipped)
  }

  test("lshAnnTopK only returns same-bucket neighbors, ranked by cosine") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.2f, 0.1f, 0.0f)),
      (1L, Array(0.9f, 0.25f, 0.1f, 0.0f)), // near query 0
      (2L, Array(1.1f, 0.2f, 0.15f, 0.0f)), // near query 0
      (3L, Array(-1.0f, -0.2f, -0.1f, 0.0f))) // opposite bucket
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.lshAnnTopK(vecs, nBits = 4,
      nQueries = 1, k = 5).collect()
    val ids = out.map(_.getAs[Long]("neighbor_id")).toSet
    assert(ids.subsetOf(Set(1L, 2L)) && ids.nonEmpty)
    val ranks = out.map(_.getAs[Long]("rank"))
    assert(ranks.toSeq == (1L to ranks.length).toSeq)
  }

  test("annRecall is bounded, per-query, and deterministic") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = graft.operators.Similarity.annRecall(emb).collect()
    assert(a.length == 5) // one row per sampled query, even at recall 0
    a.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      val rec = r.getAs[Double]("recall")
      assert(hits >= 0L && hits <= 5L && rec == hits / 5.0)
    }
    val b = graft.operators.Similarity.annRecall(emb).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("rerank with a full-width coarse tier equals exact brute force") {
    // when tier 1 keeps every corpus vector, tier 2 IS the exact
    // search — the composition degrades gracefully to s01
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count().toInt
    val reranked = graft.operators.Similarity
      .rerankTopK(emb, nQueries = 3, kCoarse = n, k = 5)
      .collect().map(_.toSeq).toSeq
    val exact = graft.operators.Similarity
      .bruteForceTopK(emb, nQueries = 3, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(reranked == exact)
  }

  test("rerank with a narrow coarse tier still ranks by exact cosine") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = graft.operators.Similarity
      .rerankTopK(emb, nQueries = 3, kCoarse = 8, k = 5).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    for ((_, rs) <- byQuery) {
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to 5L))
      // cosine non-increasing down the rank order
      val cs = sorted.map(_.getAs[Double]("cosine"))
      assert(cs.sliding(2).forall { case Array(a2, b2) => a2 >= b2
        case _ => true })
    }
  }

  test("matryoshka with full-width prefix and corpus-wide coarse = brute") {
    // prefixDim = d and kCoarse = n: both tiers are exact, so the
    // composition must reproduce s01 row-for-row
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count().toInt
    val got = graft.operators.Similarity
      .matryoshkaTopK(emb, nQueries = 3, k = 5, prefixDim = 64,
        kCoarse = n)
      .collect().map(_.toSeq).toSeq
    val exact = graft.operators.Similarity
      .bruteForceTopK(emb, nQueries = 3, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(got == exact)
  }

  test("matryoshka narrow prefix: exact-cosine order, recall tracks widening") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = graft.operators.Similarity
      .bruteForceTopK(emb, nQueries = 3, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    def recall(kCoarse: Int): Double = {
      val got = graft.operators.Similarity
        .matryoshkaTopK(emb, nQueries = 3, k = 5, prefixDim = 16,
          kCoarse = kCoarse).collect()
      val byQuery = got.groupBy(_.getAs[Long]("query_id"))
      for ((_, rs) <- byQuery) {
        val sorted = rs.sortBy(_.getAs[Long]("rank"))
        // rerank is exact cosine: non-increasing down the rank order
        val cs = sorted.map(_.getAs[Double]("cosine"))
        assert(cs.sliding(2).forall { case Array(a2, b2) => a2 >= b2
          case _ => true })
      }
      val hits = got.map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
      hits.intersect(exact).size.toDouble / exact.size
    }
    // widening the coarse funnel can only help: a candidate set is a
    // superset of any narrower one, and the rerank is exact
    assert(recall(10) <= recall(30))
  }

  test("knnGraph with one cell gives every vector its exact brute top-k") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 40)
    val graph = graft.operators.Similarity
      .knnGraph(emb, k = 4, nCells = 1).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet
    // nCells=1: the block is the whole corpus, so each vector's list is
    // the exact brute-force top-4 (s01 with every vector as a query)
    val brute = graft.operators.Similarity
      .bruteForceTopK(emb, nQueries = 40, k = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet
    assert(graph.nonEmpty && graph == brute)
  }

  test("knnGraphShared keys on the canonicalized plan: repeated reads " +
      "hit one artifact, a derived frame keys separately") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    def fresh() = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 30)
    val a = S.knnGraphShared(fresh(), k = 3, nCells = 2)
    // an INDEPENDENT read of the same corpus — new DataFrame, new
    // expression IDs — must hit the same materialized artifact
    // (canonicalization normalizes the IDs away)
    val b = S.knnGraphShared(fresh(), k = 3, nCells = 2)
    assert(a eq b)
    // a semantically DIFFERENT frame over the same files must NOT share
    // the artifact, even though inputFiles are identical
    val c = S.knnGraphShared(fresh().filter(col("vec_id") < 20),
      k = 3, nCells = 2)
    assert(!(a eq c))
    // same frame, different hyperparameters: separate entry
    val d = S.knnGraphShared(fresh(), k = 2, nCells = 2)
    assert(!(a eq d))
    // eviction releases this session's artifacts; next call rebuilds
    S.clearSharedGraphs(spark)
    val e = S.knnGraphShared(fresh(), k = 3, nCells = 2)
    assert(!(a eq e) && e.count() > 0)
    S.clearSharedGraphs(spark)
  }

  test("beam search on a complete graph with ample beam is exact " +
      "(lossless limit), and output shape is well-formed") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 30)
    // graphK = corpus-1 and nCells = 1: the symmetrized graph is
    // complete, so ONE hop from any entry reaches every node; with
    // beam >= corpus nothing is evicted — the traversal degenerates to
    // exact search and recall must be exactly 1.0 for every query
    val exact = S.beamSearchRecall(emb, nQueries = 4, k = 4, beam = 40,
      hops = 1, graphK = 29, nCells = 1).collect()
    assert(exact.length == 4)
    assert(exact.forall(_.getAs[Double]("recall") == 1.0))
    S.clearSharedGraphs(spark)
    // production-shaped run: ranked output well-formed, no self hits,
    // ranks contiguous from 1, recall in [0, 1]
    val topk = S.beamSearchTopK(emb, nQueries = 3, k = 3, beam = 6,
      hops = 2, graphK = 4, nCells = 2).collect()
    assert(topk.nonEmpty)
    for (r <- topk)
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id"))
    for ((_, rs) <- topk.groupBy(_.getAs[Long]("query_id")))
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rs.length))
    val rec = S.beamSearchRecall(emb, nQueries = 3, k = 3, beam = 6,
      hops = 2, graphK = 4, nCells = 2).collect()
    assert(rec.forall { r =>
      val v = r.getAs[Double]("recall"); v >= 0.0 && v <= 1.0 })
    S.clearSharedGraphs(spark)
  }

  test("beam convergence curve (s44): final hop equals the s43 serve, " +
      "one row per (hop, query), recall bounded") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 40)
    val curve = S.beamSearchHopsRecall(emb, nQueries = 3, k = 3,
      beam = 6, hops = 2, graphK = 4, nCells = 2).collect()
    assert(curve.length == 6) // 2 hops x 3 queries
    assert(curve.forall { r =>
      val v = r.getAs[Double]("recall"); v >= 0.0 && v <= 1.0 })
    // the curve's deepest row IS the single-answer serve at that depth
    val last = curve.filter(_.getAs[Long]("hop") == 2L)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hits"),
        r.getAs[Double]("recall"))).toSet
    val serve = S.beamSearchRecall(emb, nQueries = 3, k = 3, beam = 6,
      hops = 2, graphK = 4, nCells = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hits"),
        r.getAs[Double]("recall"))).toSet
    assert(last == serve)
    S.clearSharedGraphs(spark)
  }

  test("stored-graph serve (s45) is result-identical to the in-session " +
      "serve (s43): the at-rest form changes the read path, not the " +
      "answer") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 40)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hits"),
        r.getAs[Double]("recall"))).toSet
    val live = rows(S.beamSearchRecall(emb, nQueries = 3, k = 3,
      beam = 6, hops = 2, graphK = 4, nCells = 2))
    val stored = rows(S.storedGraphBeamRecall(emb, nQueries = 3, k = 3,
      beam = 6, hops = 2, graphK = 4, nCells = 2))
    assert(live.nonEmpty && live == stored)
    S.clearSharedGraphs(spark)
  }

  test("filtered beam serve (s46): complete-graph limit equals the " +
      "prefilter truth exactly; production shape bounded") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 30)
    // complete symmetrized graph + ample beam: the visited set covers
    // the corpus, so the filtered answer IS the prefilter exact top-k
    // — recall must be exactly 1.0 (the filtered analogue of the s43
    // lossless-limit test)
    val exact = S.filteredBeamRecall(emb, nQueries = 4, k = 4,
      beam = 40, hops = 1, graphK = 29, nCells = 1).collect()
    assert(exact.length == 4)
    assert(exact.forall(_.getAs[Double]("recall") == 1.0))
    S.clearSharedGraphs(spark)
    // production-shaped run: one row per query, recall in [0, 1],
    // n_hits <= k
    val rec = S.filteredBeamRecall(emb, nQueries = 3, k = 3, beam = 6,
      hops = 2, graphK = 4, nCells = 2).collect()
    assert(rec.length == 3)
    assert(rec.forall { r =>
      val v = r.getAs[Double]("recall")
      v >= 0.0 && v <= 1.0 && r.getAs[Long]("n_hits") <= 3L })
    S.clearSharedGraphs(spark)
  }

  test("knnGraph blocks strictly by trained cell") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 120)
    val cells = graft.operators.Clustering.kmediansAssign(emb, k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.operators.Similarity
      .knnGraph(emb, k = 3, nCells = 8).collect()
    assert(rows.nonEmpty)
    // every reported neighbor shares the query's trained cell, ranks
    // are 1..n per vector, and no self-matches survive
    for (r <- rows) {
      val (v, n) = (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))
      assert(v != n && cells(v) == cells(n))
    }
    for ((_, rs) <- rows.groupBy(_.getAs[Long]("vec_id"))) {
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rs.length))
    }
  }

  test("PQ ADC top-k: full rank lists, descending exact scores, no self") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.pqTopK(emb).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == (0L until 5L).toSet)
    for ((q, rs) <- byQuery) {
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to 10L))
      assert(sorted.forall(_.getAs[Long]("neighbor_id") != q))
      // integer ADC scores are exactly ordered (no float-tie ambiguity)
      val s = sorted.map(_.getAs[Long]("adc_fp"))
      assert(s.sliding(2).forall { case Array(a2, b2) => a2 >= b2
        case _ => true })
    }
    // Quality floor vs the SAME objective: ADC approximates the INNER
    // PRODUCT (not cosine — unnormalized, so comparing against cosine
    // top-k would mix objective mismatch into the metric). Reference =
    // exact MIPS top-10 per query, computed directly; recall@10 of the
    // coarse m=4,k=8 codebook (pqTopK defaults) must clear a floor far above random
    // (random ≈ 10/499 ≈ 0.02) — a broken codebook/LUT sends ADC
    // rankings to chance, quantization loss alone does not.
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def mipsTop10(q: Long): Set[Long] = {
      val qv = vecs(q)
      vecs.iterator.filter(_._1 != q)
        .map { case (id, v) =>
          id -> qv.zip(v).map { case (a2, b2) => a2 * b2 }.sum }
        .toSeq.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    }
    val recall = byQuery.toSeq.map { case (q, rs) =>
      val got = rs.map(_.getAs[Long]("neighbor_id")).toSet
      (got intersect mipsTop10(q)).size / 10.0
    }
    val mean = recall.sum / recall.size
    info(f"PQ ADC recall@10 vs exact MIPS: $mean%.2f (per query: " +
      recall.map(r => f"$r%.1f").mkString(", ") + ")")
    assert(mean >= 0.15, f"PQ recall@10 $mean%.2f is at chance level")
  }

  test("IVF-PQ is flat PQ restricted to the query's coarse cell") {
    // composition invariant: wherever a (query, neighbor) pair appears
    // in BOTH the flat-ADC (s11) and cell-pruned (s12) results, the ADC
    // score is IDENTICAL — pruning changes the candidate set, never the
    // arithmetic. And every s12 list stays internally consistent.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val flat = Similarity.pqTopK(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Long]("adc_fp")).toMap
    val ivf = Similarity.ivfPqTopK(emb).collect()
    assert(ivf.nonEmpty)
    val byQuery = ivf.groupBy(_.getAs[Long]("query_id"))
    for ((q, rs) <- byQuery) {
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to sorted.length))
      assert(sorted.forall(_.getAs[Long]("neighbor_id") != q))
      // one coarse cell per query
      assert(rs.map(_.getAs[Long]("cell")).distinct.length == 1)
    }
    val overlapping = ivf.flatMap { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      flat.get(key).map(_ -> r.getAs[Long]("adc_fp"))
    }
    assert(overlapping.nonEmpty, "no overlap between flat and IVF ADC")
    assert(overlapping.forall { case (a, b) => a == b },
      "cell pruning changed an ADC score")
  }

  test("nProbe=2 probes a candidate superset: per-rank cosine never drops") {
    // exact scoring inside the probed cells means a candidate SUPERSET
    // can only improve the list: at every rank the nProbe=2 cosine is
    // >= the nProbe=1 cosine for the same query (the s07 superset
    // argument — valid here precisely because the refine score is
    // exact, unlike s13's lossy-ADC case)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def byRank(nProbe: Int): Map[(Long, Long), Double] =
      Similarity.ivfTrainedTopK(emb, nProbe = nProbe).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          r.getAs[Double]("cosine")).toMap
    val one = byRank(1)
    val two = byRank(2)
    assert(one.nonEmpty)
    for (((q, rank), c1) <- one) {
      val c2 = two((q, rank))
      assert(c2 >= c1 - 1e-12,
        s"query $q rank $rank: nProbe=2 cosine $c2 < nProbe=1 $c1")
    }
    // the lever widens, never rewrites: reported cell stays the rank-1
    // (own) cell at any nProbe, so the schema reads the same
    val cells1 = Similarity.ivfTrainedTopK(emb, nProbe = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cell")).toMap
    val cells2 = Similarity.ivfTrainedTopK(emb, nProbe = 2).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cell")).toMap
    assert(cells1 == cells2)
  }

  test("ivfNProbeRecall: monotone in n_probe, bounded, brute-consistent") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.ivfNProbeRecall(emb, maxProbe = 2).collect()
    assert(rows.length == 2 * 5) // configs x queries, no dropped rows
    val recall = rows.map(r => (r.getAs[Long]("n_probe"),
      r.getAs[Long]("query_id")) -> r.getAs[Double]("recall")).toMap
    assert(recall.values.forall(r => r >= 0.0 && r <= 1.0))
    for (q <- 0L until 5L)
      assert(recall((2L, q)) >= recall((1L, q)),
        s"recall regressed at query $q when probing a second cell")
    // n_hits agrees with a direct recount against the exact ground truth
    val exact = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val approx1 = Similarity.ivfTrainedTopK(emb, nProbe = 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    for (q <- 0L until 5L) {
      val expected = exact.count { case (eq, en) =>
        eq == q && approx1((q, en)) }
      assert(rows.find(r => r.getAs[Long]("n_probe") == 1L &&
        r.getAs[Long]("query_id") == q)
        .get.getAs[Long]("n_hits") == expected)
    }
  }

  test("pqRecall: one row per tier x query, bounded, recount-consistent") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.pqRecall(emb).collect()
    assert(rows.map(r => (r.getAs[String]("tier"),
      r.getAs[Long]("query_id"))).toSet ==
      (for (t <- Set("pq_adc", "ivfpq"); q <- 0L until 5L) yield (t, q)))
    assert(rows.forall { r =>
      val rec = r.getAs[Double]("recall")
      rec >= 0.0 && rec <= 1.0 &&
        rec == r.getAs[Long]("n_hits").toDouble / 10.0
    })
    // recount one tier directly: pq_adc's n_hits is |pqTopK ∩ brute|
    val exact = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val adc = Similarity.pqTopK(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    for (q <- 0L until 5L) {
      val expected = exact.count { case (eq, en) => eq == q && adc((q, en)) }
      assert(rows.find(r => r.getAs[String]("tier") == "pq_adc" &&
        r.getAs[Long]("query_id") == q)
        .get.getAs[Long]("n_hits") == expected)
    }
  }

  test("serve-tier nProbe=2: per-rank ADC score never drops") {
    // unlike s13's recall-vs-exact (where lossy scores break superset
    // monotonicity), the list itself is ranked BY the deterministic
    // integer ADC score — probing a second cell adds candidates under
    // the same score, so at every rank the nProbe=2 adc_fp >= the
    // nProbe=1 adc_fp, and the nProbe=2 list is at least as long
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def byRank(n: Int): Map[(Long, Long), Long] =
      Similarity.ivfPqTopKServe(emb, nProbe = n).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          r.getAs[Long]("adc_fp")).toMap
    val one = byRank(1)
    val two = byRank(2)
    assert(one.nonEmpty)
    assert(one.keySet.subsetOf(two.keySet),
      "widening the probe shortened a result list")
    for (((q, rank), s1) <- one) {
      val s2 = two((q, rank))
      assert(s2 >= s1,
        s"query $q rank $rank: nProbe=2 adc $s2 < nProbe=1 $s1")
    }
  }

  test("pqNProbeRecall: bounded, and its n_probe=1 slice IS s13's ivfpq row") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.pqNProbeRecall(emb, maxProbe = 2).collect()
    assert(rows.length == 2 * 5)
    assert(rows.forall { r =>
      val rec = r.getAs[Double]("recall")
      rec >= 0.0 && rec <= 1.0 &&
        rec == r.getAs[Long]("n_hits").toDouble / 10.0
    })
    // probing exactly the own cell is s12/s15's semantics, so the
    // n_probe=1 slice must agree with the s13 eval's ivfpq tier
    val curve1 = rows.filter(_.getAs[Long]("n_probe") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    val s13 = Similarity.pqRecall(emb).collect()
      .filter(_.getAs[String]("tier") == "ivfpq")
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    assert(curve1 == s13)
  }

  test("exact rerank dominates the raw ADC list's recall at equal nprobe") {
    // the provable recovery: for a fixed candidate set C the exact-
    // cosine top-k contains every true neighbor in C (|T| = k bounds
    // them), so rerank recall = |C ∩ T|/k — the maximum extractable
    // from C — while the raw ADC top-k ⊆ C can only miss more. s16
    // measured the raw list NON-monotone in nprobe; this is the
    // composition that makes widening the probe safe.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val reranked = Similarity.ivfPqRerankTopK(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val rawCurve = Similarity.pqNProbeRecall(emb, maxProbe = 2).collect()
      .filter(_.getAs[Long]("n_probe") == 2L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    for (q <- 0L until 5L) {
      val rerankHits = exact.count { case (eq, en) =>
        eq == q && reranked((q, en)) }
      assert(rerankHits >= rawCurve(q),
        s"query $q: rerank recall $rerankHits below raw ADC ${rawCurve(q)}")
    }
  }

  test("append is code-stable: delta vectors never change base codes") {
    // the property that makes frozen-model append SAFE: encode is a
    // per-vector broadcast-assign argmin with no cross-vector
    // dependency, so coding the union equals coding base and delta
    // independently — existing stored codes stay valid verbatim
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(org.apache.spark.sql.functions
      .col("vec_id") % 5 =!= 0)
    val codebook = Similarity.pqCodebookLocal(base)
    def codeMap(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncodeWith(df, codebook).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub")) ->
          r.getAs[Long]("code")).toMap
    val unionCodes = codeMap(emb)
    val baseCodes = codeMap(base)
    assert(baseCodes.nonEmpty)
    assert(baseCodes.forall { case (k, c) => unionCodes(k) == c },
      "appending the delta changed an existing vector's code")
    // and the appended vectors are genuinely searchable: the served
    // top-k over the union surfaces delta members
    val served = Similarity.ivfPqAppendServe(emb).collect()
    assert(served.nonEmpty)
    assert(served.exists(_.getAs[Long]("neighbor_id") % 5 == 0),
      "no delta vector ever surfaced in the served results")
  }

  test("serving-form IVF-PQ equals the in-query-training form row-for-row") {
    // s15's contract: materializing the trained artifacts (centroids +
    // codebook) out of the query changes the PLAN, never the result
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_fp"),
        r.getAs[Long]("rank"))).toSeq
    val trained = rows(Similarity.ivfPqTopK(emb))
    val served = rows(Similarity.ivfPqTopKServe(emb))
    assert(trained.nonEmpty)
    assert(served == trained)
    // the flat tier's serving form carries the same contract
    def flatRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_fp"), r.getAs[Long]("rank"))).toSeq
    val flatTrained = flatRows(Similarity.pqTopK(emb))
    val flatServed = flatRows(Similarity.pqTopKServe(emb))
    assert(flatTrained.nonEmpty)
    assert(flatServed == flatTrained)
  }

  test("residual serving form equals the in-query-training s30 " +
      "row-for-row (r21: s31's residual tier rides the serve form)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_fp"),
        r.getAs[Long]("rank"))).toSeq
    val trained = rows(Similarity.ivfPqResidualTopK(emb))
    val served = rows(Similarity.ivfPqResidualServe(emb))
    assert(trained.nonEmpty)
    assert(served == trained)
  }

  test("OPQ/rotated serving forms equal the in-query-training forms " +
      "(r21: s33/s38/s39 tiers ride pqTopKServe over the transforms)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def flatRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_fp"), r.getAs[Long]("rank"))).toSeq
    assert(flatRows(Similarity.pqTopKServe(
        Similarity.opqPermutedFrame(emb))) ==
      flatRows(Similarity.opqPqTopK(emb)))
    assert(flatRows(Similarity.pqTopKServe(
        Similarity.opqRotatedFrame(emb))) ==
      flatRows(Similarity.rotatedPqTopK(emb)))
  }

}

/** s22 trained scalar quantization: hand-verified codes/ADC, recall vs
  * the exact tier, repartition stability, degenerate-range guard. */
class Sq8Spec extends graft.SparkSpec {

  // same engineered geometry as SimilaritySpec.vecs
  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(1.0f, 0.1f)),
      (2L, 0, Array(1.0f, 1.0f)),
      (3L, 1, Array(1.0f, 0.01f)),
      (4L, 0, Array(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
  }

  test("sq8TopK: hand-computed codes and ADC on known geometry") {
    // per-dim ranges: dim1 [0,1], dim2 [0,1]. codes = floor(x*255):
    // v1 (1,.1)->(255,25), v2 (1,1)->(255,255), v3 (1,.01)->(255,2),
    // v4 (0,1)->(0,255). query 0 = (1,0): wq = (1e6, 0) — dim2 drops,
    // ADC = 1e6*(2*c1+1): v1=v2=v3=511e6 (tie -> id order), v4=1e6
    val out = Similarity.sq8TopK(vecs, nQueries = 1, k = 4).collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc"),
        r.getAs[Long]("rank"))).toSeq
    assert(out == Seq((1L, 511000000L, 1L), (2L, 511000000L, 2L),
      (3L, 511000000L, 3L), (4L, 1000000L, 4L)))
  }

  test("sq8TopK approximates brute force and is repartition-stable") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.bruteForceTopK(emb).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val sq8 = Similarity.sq8TopK(emb).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(sq8.keySet == exact.keySet)
    // 8-bit per-dim quantization is a fine grid: recall@10 stays high
    val recalls = exact.map { case (q, ids) =>
      (ids intersect sq8(q)).size.toDouble / ids.size }
    assert(recalls.sum / recalls.size >= 0.6,
      s"mean recall ${recalls.sum / recalls.size} below floor")
    // exact long scores + id tie-breaks: partitioning never moves a rank
    val repart = Similarity.sq8TopK(emb.repartition(7)).collect()
      .map(_.toSeq).toSeq
    assert(repart == Similarity.sq8TopK(emb).collect().map(_.toSeq).toSeq)
  }

  test("sq8 codes honor the zero-range guard") {
    import spark.implicits._
    // dim2 constant -> vmax == vmin -> code 0 branch; scores rank on
    // dim1 alone and stay finite
    val flat = Seq((0L, 0, Array(0.0f, 5.0f)), (1L, 0, Array(1.0f, 5.0f)),
      (2L, 0, Array(0.5f, 5.0f))).toDF("vec_id", "label", "embedding")
    val out = Similarity.sq8TopK(flat, nQueries = 1, k = 2).collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
    // query (0,5): wq1 = 0 -> all ADC equal -> id-order ties
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L)))
  }
}

/** s23 MMR diversification: the greedy must skip a near-duplicate of
  * the first pick when a clearly distinct candidate is relevant
  * enough, and its selections stay inside the coarse candidate set. */
class MmrSpec extends graft.SparkSpec {

  test("mmr demotes the near-duplicate of the first selection") {
    import spark.implicits._
    // query (1,0,0); A(id1) most relevant; B(id2) ~duplicate of A;
    // C(id3) less relevant but distinct (sim(C,A) ~ 0.72).
    // scores (micros, lambda=7/3): B ~ 7*948993-3*999990 = 3.64e6,
    // C ~ 7*900000-3*719000 = 4.14e6 -> step2 = C, step3 = B
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f, 0.0f)),
      (1L, 0, Array(0.95f, 0.312f, 0.0f)),
      (2L, 0, Array(0.949f, 0.3153f, 0.0f)),
      (3L, 0, Array(0.9f, -0.43589f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.mmrDiversifyTopK(vecs, nQueries = 1,
      kCoarse = 3, k = 3).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[Long]("neighbor_id")))
    assert(out.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
    // plain relevance order would have been 1, 2, 3 — check the premise
    val plain = Similarity.bruteForceTopK(vecs, nQueries = 1, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id"))
    assert(plain.toSeq == Seq(1L, 2L, 3L))
  }

  test("fixture invariants: k picks per query from the coarse set") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Similarity.bruteForceTopK(emb).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toMap }
    val sel = Similarity.mmrDiversifyTopK(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("step"),
        r.getAs[Long]("neighbor_id")))
    val byQuery = sel.groupBy(_._1)
    assert(byQuery.keySet == coarse.keySet)
    for ((q, rows) <- byQuery) {
      assert(rows.map(_._2).toSet == (1L to 5L).toSet, s"steps of $q")
      val picks = rows.sortBy(_._2).map(_._3)
      assert(picks.distinct.length == picks.length, s"repeat pick in $q")
      // step 1 is the relevance argmax; all picks from the top-10
      val rankOf = coarse(q).map(_.swap)
      assert(picks.head == rankOf(1L), s"step1 of $q not rank 1")
      assert(picks.forall(coarse(q).contains), s"pick outside top-10: $q")
    }
    // integer scores + id tie-breaks: repartition-stable
    val repart = Similarity.mmrDiversifyTopK(emb.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(repart ==
      Similarity.mmrDiversifyTopK(emb).collect().map(_.toSeq).toSeq)
  }
}

/** s24 range search: threshold contract, probe-set consistency with the
  * trained top-k tier, and the empty-bar edge. */
class RangeSearchSpec extends graft.SparkSpec {

  test("range search returns exactly the above-bar probed matches") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.rangeSearch(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine")))
    assert(got.nonEmpty, "fixture must produce matches at tau=0.25")
    assert(got.forall(_._3 >= 0.25))
    assert(got.forall(r => r._1 != r._2), "self-match leaked")
    // consistency with the trained top-k tier over the same probes:
    // every s08 (nProbe=2) hit at or above the bar must be in range
    val gotSet = got.map(r => (r._1, r._2)).toSet
    val topk = Similarity.ivfTrainedTopK(emb, nProbe = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine")))
      .filter(_._3 >= 0.25).map(r => (r._1, r._2)).toSet
    assert(topk.subsetOf(gotSet),
      s"top-k hits missing from range: ${topk -- gotSet}")
    // and range search can exceed k: it reports ALL matches
    assert(gotSet.size >= topk.size)
  }

  test("a bar above the attainable cosine returns the empty set") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(Similarity.rangeSearch(emb, tau = 1.1).isEmpty)
  }

  test("knn classify: majority vote beats the single nearest neighbor") {
    import spark.implicits._
    // query 0 (true label 0): nearest neighbor has label 0, but the
    // k=3 majority is label 1 — the vote must win over proximity
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(1.0f, 0.01f)),  // nearest, label 0
      (2L, 1, Array(1.0f, 0.1f)),   // label 1
      (3L, 1, Array(1.0f, 0.2f)),   // label 1
      (4L, 0, Array(0.0f, 1.0f))    // far, excluded at k=3
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.knnClassify(vecs, nQueries = 1, k = 3).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("predicted_label") == 1)
    assert(r.getAs[Long]("n_votes") == 2L)
    assert(r.getAs[Int]("true_label") == 0)
    assert(!r.getAs[Boolean]("is_correct"))
  }

  test("knn classify: vote ties break toward the lower label") {
    import spark.implicits._
    val vecs = Seq(
      (0L, 5, Array(1.0f, 0.0f)),
      (1L, 2, Array(1.0f, 0.01f)),
      (2L, 1, Array(1.0f, 0.1f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.knnClassify(vecs, nQueries = 1, k = 2).collect()
    assert(out.head.getAs[Int]("predicted_label") == 1)
    assert(out.head.getAs[Long]("n_votes") == 1L)
  }

  test("knn classify fixture run: votes bounded, correctness flag honest") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.knnClassify(emb).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getAs[Long]("n_votes") >= 1L && r.getAs[Long]("n_votes") <= 10L)
      assert(r.getAs[Boolean]("is_correct") ==
        (r.getAs[Int]("predicted_label") == r.getAs[Int]("true_label")))
    }
  }

  test("filtered recall: postfilter climbs toward prefilter with overfetch") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.filteredRecall(emb).collect()
      .map(r => (r.getAs[Int]("factor"), r.getAs[Long]("query_id")) ->
        ((r.getAs[Long]("n_returned"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("recall")))).toMap
    val queries = out.keys.map(_._2).toSet
    assert(out.size == 3 * queries.size, "every (factor, query) reported")
    for (q <- queries) {
      // candidate sets nest, so filled slots and hits are monotone in f
      val byF = Seq(1, 2, 4).map(f => out((f, q)))
      assert(byF.map(_._1).zip(byF.tail.map(_._1))
        .forall { case (a, b) => a <= b }, s"n_returned not monotone: $q")
      assert(byF.map(_._2).zip(byF.tail.map(_._2))
        .forall { case (a, b) => a <= b }, s"n_hits not monotone: $q")
      byF.foreach { case (ret, hits, rec) =>
        assert(hits <= ret && ret <= 10L)
        assert(rec == hits.toDouble / 10.0)
      }
    }
    // the trade must be visible on the fixture: factor 1 misses
    // something somewhere that factor 4 recovers
    val sum1 = queries.toSeq.map(q => out((1, q))._2).sum
    val sum4 = queries.toSeq.map(q => out((4, q))._2).sum
    assert(sum4 > sum1,
      s"fixture shows no postfilter gap (f1=$sum1, f4=$sum4)")
  }

  test("tombstoned serving: deleted ids vanish, empty tombstones no-op") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_fp"),
        r.getAs[Long]("rank"))).toSeq
    val base = rows(Similarity.ivfPqTopKServe(emb))
    // premise: the live index actually serves some to-be-deleted ids
    val affected = base.filter(_._3 % 7 == 0).map(_._1).toSet
    assert(affected.nonEmpty, "fixture premise lost: no %7 neighbors")
    val deleted = rows(Similarity.ivfPqDeleteServe(emb))
    assert(deleted.forall(_._3 % 7 != 0), "a tombstoned id was served")
    // unaffected queries are untouched; affected ones backfill
    val byQ = base.groupBy(_._1)
    val byQd = deleted.groupBy(_._1)
    for ((q, rs) <- byQ if !affected(q))
      assert(byQd(q) == rs, s"untouched query $q changed")
    for (q <- affected)
      assert(byQd(q) != byQ(q) && byQd(q).forall(_._3 % 7 != 0))
    // an empty tombstone set is the identity
    val noop = rows(Similarity.ivfPqDeleteServe(emb,
      deletePredicate = lit(false)))
    assert(noop == base)
  }

  test("s36 lifecycle: frozen-base append-serve minus tombstones, " +
      "stored-table reuse") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_fp"),
        r.getAs[Long]("rank"))).toSeq
    // the composition baseline is the APPEND serve (same frozen-base
    // model), not the full-corpus-trained delete serve
    val base = rows(Similarity.ivfPqAppendServe(emb))
    val affected = base.filter(_._3 % 7 == 0).map(_._1).toSet
    assert(affected.nonEmpty,
      "fixture premise lost: append-serve serves no %7 neighbors")
    val life = rows(Similarity.ivfPqLifecycleServe(emb))
    assert(life.nonEmpty)
    assert(life.forall(_._3 % 7 != 0), "a tombstoned id was served")
    val byQ = base.groupBy(_._1)
    val byQl = life.groupBy(_._1)
    for ((q, rs) <- byQ if !affected(q))
      assert(byQl(q) == rs, s"untouched query $q changed")
    for (q <- affected)
      assert(byQl(q) != byQ(q) && byQl(q).forall(_._3 % 7 != 0))
    // appended (delta) vectors stay searchable unless tombstoned
    assert(life.exists(t => t._3 % 5 == 0 && t._3 % 7 != 0),
      "no live delta vector surfaced after the delete")
    // steady state: the second serve re-reads the stored code table
    val n = IndexStore.size
    assert(rows(Similarity.ivfPqLifecycleServe(emb)) == life)
    assert(IndexStore.size == n, "second lifecycle serve rebuilt codes")
  }

  test("hadamardRotate: orthogonal (energy-preserving) and self-inverse") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def vecs(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Float]] =
      df.collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1)).toMap
    val perm = vecs(Similarity.opqPermutedFrame(emb))
    val rot = vecs(Similarity.opqRotatedFrame(emb))
    assert(perm.nonEmpty && rot.keySet == perm.keySet)
    // ‖Hx‖² = ‖x‖² (H orthonormal) within float-rounding tolerance
    for ((id, p) <- perm) {
      val e1 = p.map(v => v.toDouble * v).sum
      val e2 = rot(id).map(v => v.toDouble * v).sum
      assert(math.abs(e1 - e2) <= 1e-3 * math.max(1.0, e1),
        s"vec $id energy drifted: $e1 -> $e2")
    }
    // H² = I: rotating the rotated frame recovers the permuted frame
    val twice = vecs(Similarity.hadamardRotate(
      Similarity.opqRotatedFrame(emb)))
    for ((id, p) <- perm; (a, b) <- p.zip(twice(id)))
      assert(math.abs(a - b) <= 1e-4,
        s"vec $id not recovered by the involution: $a vs $b")
  }

  test("graft_hadamard: strict length contract (null BOTH directions) " +
      "and a descriptive SQL-builder error") {
    import spark.implicits._
    // A truncated rotation of a longer vector is not orthogonal any
    // more than a padded short one — both must yield null, not a
    // silently rotated prefix.
    val df = Seq(
      (1L, Array.fill(64)(1.0f)), // exact d = 4·16
      (2L, Array.fill(32)(1.0f)), // short
      (3L, Array.fill(128)(1.0f)) // LONG — previously truncated
    ).toDF("vec_id", "embedding")
    val out = df.select(df("vec_id"),
        graft.functions.HadamardFns.rotate(df("embedding"), 4, 16)
          .as("r"))
      .collect().map(r => r.getLong(0) -> (r.get(1) == null)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true))
    // SQL registration rejects malformed calls with a named error, not
    // a raw IndexOutOfBounds/ClassCast from the function registry.
    val e = intercept[Exception] {
      spark.sql("SELECT graft_hadamard(array(1.0f, 2.0f))").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("graft_hadamard(vec, m, subDim)")),
      s"wanted the named builder error, got: ${messages(e).mkString(" | ")}")
  }
}

/** s28 contrastive mining + s29 nearest-class-mean on known geometry. */
class ContrastiveSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(1.0f, 0.1f)), // cos ~ 0.995
      (2L, 0, Array(1.0f, 1.0f)), // cos ~ 0.707
      (3L, 1, Array(1.0f, 0.01f)), // closest of all, but label 1
      (4L, 0, Array(0.0f, 1.0f)) // cos 0
    ).toDF("vec_id", "label", "embedding")
  }

  test("hardNegativeMining splits the top-k by role on the same scan") {
    val out = Similarity.hardNegativeMining(vecs, nQueries = 1, k = 2)
      .collect()
      .map(r => (r.getAs[String]("role"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("rank")))
    // query 0 (label 0): positives {1,2,4} rank by cosine → 1 then 2;
    // the only different-label vector 3 is the (closest!) hard negative
    assert(out.toSet == Set(("positive", 1L, 1L), ("positive", 2L, 2L),
      ("hard_negative", 3L, 1L)))
  }

  test("centroidClassify predicts class means and flags mislabels") {
    import spark.implicits._
    val emb = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 1, Array(0.9f, 0.1f)), // mislabeled: sits in class 0 space
      (2L, 0, Array(0.95f, 0.05f)),
      (3L, 0, Array(1.0f, 0.1f)),
      (4L, 1, Array(0.0f, 1.0f)),
      (5L, 1, Array(0.1f, 0.9f)),
      (6L, 1, Array(0.05f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidClassify(emb, nQueries = 2).collect()
      .map(r => r.getAs[Long]("query_id") -> r).toMap
    assert(out(0L).getAs[Int]("predicted_label") == 0)
    assert(out(0L).getAs[Boolean]("is_correct"))
    // the mislabeled vector is pulled to class 0 by the class means
    assert(out(1L).getAs[Int]("predicted_label") == 0)
    assert(!out(1L).getAs[Boolean]("is_correct"))
    out.values.foreach { r =>
      assert(r.getAs[Double]("margin") > 0.0)
      assert(r.getAs[Double]("best_score") > 0.0)
    }
  }
}

/** s30/s31: residual IVF-PQ shares s12's coarse geometry; the recall
  * eval is structurally sound (the VALUES are oracle-pinned — the
  * fixture-level raw-vs-residual outcome lives in CORRECTNESS). */
class ResidualPqSpec extends graft.SparkSpec {

  private lazy val emb =
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("residual tier probes the SAME coarse cell as the raw tier") {
    val raw = Similarity.ivfPqTopK(emb).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cell")).toMap
    val res = Similarity.ivfPqResidualTopK(emb).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cell")).toMap
    assert(res.keySet == raw.keySet)
    res.foreach { case (q, cell) =>
      assert(cell == raw(q), s"query $q probes a different cell")
    }
  }

  test("residual ADC ranks are contiguous and scores weakly decrease") {
    val byQ = Similarity.ivfPqResidualTopK(emb).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to sorted.length.toLong))
      val scores = sorted.map(_.getAs[Long]("adc_fp"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("opqPermutedFrame invariants via s32: permutation is a bijection") {
    // the permuted tier must rank over vectors whose MULTISET of
    // components equals the original's (a permutation moves, never
    // alters) — checked through the public opqPqTopK path being
    // well-formed plus a direct frame comparison
    val out = Similarity.opqPqTopK(emb).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rows.length.toLong))
    }
  }

  test("opqRecall: both tiers complete and the values are k-rational") {
    val out = Similarity.opqRecall(emb).collect()
    assert(out.length == 10)
    assert(out.groupBy(_.getAs[String]("tier")).keySet ==
      Set("pq_opq", "pq_raw"))
    out.foreach { r =>
      assert(r.getAs[Double]("recall") ==
        r.getAs[Long]("n_hits").toDouble / 10.0)
    }
  }

  test("hammingTopK agrees with the s03 bucket strings bit for bit") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 80)
    val buckets = Similarity.signLshBuckets(emb, nBits = 16).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("bucket"))
      .toMap
    def ham(a: String, b: String): Long =
      a.zip(b).count { case (x, y) => x != y }.toLong
    val out = Similarity.hammingTopK(emb, nBits = 16, k = 5).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(r.getAs[Long]("hamming") == ham(buckets(q), buckets(n)),
        s"distance mismatch for ($q,$n)")
    }
    // ranks are contiguous and distances weakly increase within a query
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to sorted.length.toLong))
      val hs = sorted.map(_.getAs[Long]("hamming"))
      assert(hs.zip(hs.tail).forall { case (a, b) => a <= b })
    }
  }

  test("residualRecall: both tiers, 5 queries each, recall in [0,1]") {
    val out = Similarity.residualRecall(emb).collect()
    assert(out.length == 10)
    val tiers = out.groupBy(_.getAs[String]("tier"))
    assert(tiers.keySet == Set("ivfpq_raw", "ivfpq_residual"))
    tiers.values.foreach(rows => assert(rows.length == 5))
    out.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec == r.getAs[Long]("n_hits").toDouble / 10.0)
    }
  }

  test("mipsIvfRecall (s42): recall in [0,1] per query, and widening " +
      "the probe never loses a hit (cell-boundary loss, not reduction " +
      "error)") {
    val out = Similarity.mipsIvfRecall(emb).collect()
    assert(out.length == 5)
    out.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec == r.getAs[Long]("n_hits").toDouble / 10.0)
    }
    // probing every cell recovers the exact MIPS answer set entirely:
    // the reduction itself is lossless, only cell pruning costs recall
    val full = Similarity.mipsIvfRecall(emb, nProbe = 8).collect()
    val byQ = out.map(r => r.getAs[Long]("query_id") ->
      r.getAs[Long]("n_hits")).toMap
    full.foreach { r =>
      assert(r.getAs[Long]("n_hits") >= byQ(r.getAs[Long]("query_id")))
      assert(r.getAs[Double]("recall") == 1.0,
        s"full probe must be exact: $r")
    }
  }

  test("mipsTopK (s41): inner-product ranking diverges from cosine " +
      "where it should, and the augmentation witness orders like dot") {
    import spark.implicits._
    // query 0 = (1,0); long vector 10 out-scores the perfectly aligned
    // unit vector 11 on dot (3.0 > 1.0) while cosine prefers 11
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (10L, 0, Array(3.0f, 0.5f)),
      (11L, 0, Array(1.0f, 0.0f)),
      (12L, 0, Array(0.0f, 2.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.mipsTopK(vecs, nQueries = 1, k = 3).collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq ==
      Seq(10L, 11L, 12L))
    assert(got.map(_.getAs[Double]("dot")).toSeq == Seq(3.0, 1.0, 0.0))
    // witness: aug_cos = dot/(M*|q|) with M = max norm (vector 10)
    val m = math.sqrt(9.0 + 0.25)
    assert(got.head.getAs[Double]("aug_cos") == 3.0 / (m * 1.0))
    // fixture replay: rank-by-dot reproduced independently; aug_cos
    // strictly follows dot within each query
    val out = Similarity.mipsTopK(emb).collect()
    val all = emb.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) =>
        acc + a(i).toDouble * b(i).toDouble)
    for (q <- 0L until 5L) {
      val qe = all.find(_._1 == q).get._2
      val expected = all.filter(_._1 != q)
        .map { case (id, e) => (id, dot(e, qe)) }
        .sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSeq
      val gotQ = out.filter(_.getAs[Long]("query_id") == q)
        .sortBy(_.getAs[Long]("rank"))
      assert(gotQ.map(_.getAs[Long]("neighbor_id")).toSeq == expected)
      val dots = gotQ.map(_.getAs[Double]("dot"))
      val augs = gotQ.map(_.getAs[Double]("aug_cos"))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b })
      assert(augs.zip(augs.tail).forall { case (a, b) => a >= b })
    }
  }
}
