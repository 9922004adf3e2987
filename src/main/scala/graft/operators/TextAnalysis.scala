package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Anchor.AnchorOps

/** Text-analysis layer for LLM training-data pipelines over the `documents`
  * fixture: token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything is pure column expressions (whole-stage codegen, no UDFs) and
  * per-row (narrow — no shuffle except the final presentation sort), so each
  * operator scales linearly with input splits: at 100 TB these run as a single
  * scan stage with full column pruning.
  *
  * Determinism discipline for the DuckDB oracle: all floating-point arithmetic
  * is written as the SAME fold order in both engines (see SparkEntry.oracleSql)
  * so results are bitwise identical, not merely close.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text (split of empty string yields [""],
    * hence the trim guard — mirrors `string_split_regex(trim(x),'\s+')`). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword segmentation: letter runs, digit runs, single other
    * non-space chars — the classic pre-tokenizer regex, counted. */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Word n-gram shingles joined by single spaces; docs shorter than n
    * tokens collapse to one whole-text shingle.
    *
    * REFERENCE SEMANTICS ONLY: production call sites use the codegen'd
    * [[graft.functions.TextFns.wordShingles]] (bitwise-identical,
    * parity-spec'd in WordShinglesSpec); this builtin composition stays
    * as the executable spec the native expression is checked against. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(array(array_join(toks, " ")))

  /** t13: Unicode canonicalization over a corpus with injected NFD
    * (decomposed) sequences — the fixture text is pure ASCII, where NFC
    * is the identity, so docs get deterministic decomposed suffixes
    * appended first (same trick as [[withInjectedPii]]): e+U+0301 and
    * u+U+0308, which NFC composes to é / ü, shrinking the code-point
    * length. Per-row narrow stage via the codegen'd
    * [[graft.functions.NfcFns.nfc]] expression; the already-normalized
    * fast path means ASCII rows pay one O(n) scan, no allocation. */
  def nfcNormalize(documents: DataFrame): DataFrame = {
    val raw = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" cafe\u0301")))
      .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" u\u0308ber")))
      .otherwise(col("text"))
    documents
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        length(col("raw")).as("raw_len"),
        graft.functions.NfcFns.nfc(col("raw")).as("nfc"))
      .select(col("doc_id"), col("raw_len"),
        length(col("nfc")).as("nfc_len"),
        (col("raw_len") =!= length(col("nfc"))).as("changed"),
        expr("right(nfc, 8)").as("nfc_tail"))
      .orderBy(col("doc_id"))
  }

  /** Training-sequence chunking: split each document into token windows of
    * `window` tokens every `stride` tokens (overlap = window - stride) —
    * the standard context-length preparation step between cleaning and
    * packing (t12 packs whole docs; real pipelines chunk long docs first
    * so no single document exceeds the model's context).
    *
    * Pure per-row expressions: `sequence` generates the chunk starts,
    * `explode` fans them out, `slice` clamps the tail chunk — no shuffle
    * except the presentation sort, so chunking a 100 TB corpus is one
    * narrow scan stage whose output rows ≈ input tokens / stride. The
    * chunk index is `start div stride` (no positional explode state). */
  def chunkDocuments(documents: DataFrame, window: Int = 64,
      stride: Int = 48): DataFrame = {
    require(stride >= 1 && window >= stride,
      s"need window >= stride >= 1, got window=$window stride=$stride")
    val toks = tokens(col("text"))
    documents
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(stride))).as("chunk_start"))
      .select(col("doc_id"),
        expr(s"chunk_start div $stride").as("chunk_idx"),
        col("chunk_start"),
        slice(col("toks"), col("chunk_start") + 1, lit(window)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        size(col("chunk")).as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** t14: Unicode-aware tokenization over a multilingual-augmented
    * corpus — the fixture text is ASCII (where whitespace splitting and
    * real tokenization agree), so docs get deterministic multilingual
    * suffixes (accented Latin, Han, glued punctuation/digits — same
    * injection trick as [[nfcNormalize]]) that exercise exactly what the
    * whitespace splitter gets wrong. Tokenizes with the codegen'd
    * [[graft.functions.TokenFns.unicodeTokens]] (one O(n) code-point
    * scan, no regex engine); the oracle recomputes with DuckDB's RE2
    * `regexp_extract_all` under a class-by-class-matched pattern.
    * Narrow per-row stage, no shuffle except the presentation sort. */
  def unicodeTokenStats(documents: DataFrame): DataFrame = {
    val raw = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" Héllo, 漢字!")))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" déjà vu 2026")))
      .otherwise(concat(col("text"), lit(" foo_bar42")))
    documents
      .select(col("doc_id"),
        graft.functions.TokenFns.unicodeTokens(raw).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        element_at(col("toks"), 1).as("first_token"),
        element_at(col("toks"), -1).as("last_token"),
        md5(array_join(col("toks"), " ")).as("tok_md5"))
      .orderBy(col("doc_id"))
  }

  /** t15: per-document script/class composition — the multilingual
    * routing signal (which pipeline branch, which tokenizer, which
    * quality model) computed from the SAME class definitions as
    * [[graft.functions.TokenFns.unicodeTokens]]: Han single-char
    * tokens, non-Han letter runs, decimal-digit runs, other. Same
    * deterministic multilingual injection as [[unicodeTokenStats]].
    * Explode → codegen'd RLike classify → doc-keyed count: one shuffle
    * keyed by doc_id, linear at any scale. */
  def scriptProfile(documents: DataFrame): DataFrame = {
    val raw = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" Héllo, 漢字!")))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" déjà vu 2026")))
      .otherwise(concat(col("text"), lit(" foo_bar42")))
    documents
      .select(col("doc_id"),
        explode(graft.functions.TokenFns.unicodeTokens(raw)).as("tok"))
      .withColumn("cls",
        when(col("tok").rlike("^\\p{IsHan}"), "han")
          .when(col("tok").rlike("^\\p{L}"), "word")
          .when(col("tok").rlike("^\\p{Nd}"), "num")
          .otherwise("other"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cls") === "han", 1L).otherwise(0L)).as("n_han"),
        sum(when(col("cls") === "word", 1L).otherwise(0L)).as("n_word"),
        sum(when(col("cls") === "num", 1L).otherwise(0L)).as("n_num"),
        sum(when(col("cls") === "other", 1L).otherwise(0L)).as("n_other"))
      .orderBy(col("doc_id"))
  }

  /** Per-document token statistics: whitespace tokens, BPE-ish tokens,
    * distinct words, character-per-token mean. */
  def tokenStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_words"),
      (length(regexp_replace(col("text"), "\\s", "")).cast("double") /
        size(toks).cast("double")).as("mean_token_chars"))
      .orderBy(col("doc_id"))
  }

  // Tiny high-frequency stopword lists (public knowledge) per language.
  val StopEn = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  val StopEs = Seq("el", "la", "de", "que", "y", "en", "un", "es")
  val StopDe = Seq("der", "die", "und", "das", "ist", "ein", "zu", "den")
  val StopFr = Seq("le", "la", "et", "les", "des", "un", "une", "est")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(
      array(words.map(lit): _*), lower(t)))).cast("long")

  /** Heuristic quality score — the standard cheap LLM-data filters:
    * length prior, punctuation density, stopword density, word diversity —
    * combined into [0,1] with a fixed fold order. */
  /** The per-row quality value as a pure scan-stage expression over a
    * text column — shared by [[qualityScore]] and the streaming intake
    * gate ([[graft.streaming.StreamingCorpusGate]]), which needs it
    * stateless. */
  private[graft] def qualityExpr(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val punct = (length(regexp_replace(text, "[^.!?,;:]", ""))
      .cast("double") / length(text).cast("double"))
    val stop = countIn(toks, StopEn).cast("double") / nTok
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val lengthScore = least(lit(1.0), nTok / lit(64.0))
    lengthScore * lit(0.4) + (lit(1.0) - punct) * lit(0.2) +
      stop * lit(0.2) + diversity * lit(0.2)
  }

  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val punct = (length(regexp_replace(col("text"), "[^.!?,;:]", ""))
      .cast("double") / length(col("text")).cast("double"))
    val stop = countIn(toks, StopEn).cast("double") / nTok
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val q = qualityExpr(col("text"))
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      punct.as("punct_ratio"),
      stop.as("stopword_ratio"),
      diversity.as("word_diversity"),
      q.as("quality"),
      when(q >= 0.55, "high").when(q >= 0.45, "medium").otherwise("low")
        .as("quality_tier"))
      .orderBy(col("doc_id"))
  }

  /** Stopword-profile language ID over {en,es,de,fr}: per-language marker
    * counts, argmax with fixed tie-break order en>es>de>fr ("unknown" when
    * no marker hits). Deterministic, oracle-matched. */
  def languageId(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val cEn = countIn(toks, StopEn)
    val cEs = countIn(toks, StopEs)
    val cDe = countIn(toks, StopDe)
    val cFr = countIn(toks, StopFr)
    documents.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      cEn.as("score_en"), cEs.as("score_es"),
      cDe.as("score_de"), cFr.as("score_fr"),
      when(greatest(cEn, cEs, cDe, cFr) === 0, "unknown")
        .when(cEn >= cEs && cEn >= cDe && cEn >= cFr, "en")
        .when(cEs >= cDe && cEs >= cFr, "es")
        .when(cDe >= cFr, "de")
        .otherwise("fr").as("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  // PII patterns kept to portable regex (char classes + bounded
  // quantifiers) so Java and RE2-family engines agree exactly.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  /** Deterministic PII injection for fixtures (the corpus ships clean):
    * appends a synthetic contact line per document. */
  def withInjectedPii(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      concat(col("text"), lit(" contact: user"), col("doc_id"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))

  /** PII scrubbing — the redaction stage of an LLM data pipeline: emails
    * then phones replaced with typed placeholder tokens, with per-doc
    * match counts for audit. Pure row-level regex, codegen'd. */
  def redactPii(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhonePattern), lit(0)))
        .cast("long").as("n_phones"),
      regexp_replace(
        regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>").as("clean_text"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: fraction of each training document's
    * distinct word n-grams that also occur in the benchmark set —
    * the standard n-gram-overlap contamination check run before
    * training. Inverted-index join on shingle (exact, scalable);
    * the benchmark shingle set is broadcast (benchmark suites are
    * small by nature). Returns only contaminated docs (score > 0).
    *
    * Postings are EXACT by default (maxDocFreq = None): contamination is a
    * compliance check, so a silently capped shingle that understates
    * overlap is worse than the extra shuffle volume. Pass a cap explicitly
    * only when boilerplate shingles are known-safe to drop. */
  def contaminationScores(documents: DataFrame,
      benchPredicate: Column, n: Int = 3,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val post = Dedup.shinglePostings(documents, n, maxDocFreq)
    val bench = post.filter(benchPredicate)
      .select(col("shingle")).distinct()
      .withColumn("is_hit", lit(true))
    // One pass over the training postings: broadcast LEFT join marks hits,
    // a single doc_id agg counts both totals and hits (count skips the
    // nulls of non-hits) — vs the naive two-agg + result-join shape,
    // which re-derives the shingle explode per branch.
    post.filter(!benchPredicate)
      .join(broadcast(bench), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("is_hit")).as("n_hits"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("n_hits"), col("n_shingles"),
        (col("n_hits").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"))
      .orderBy(col("doc_id"))
  }

  /** t40: the per-BENCHMARK leakage report — [[contaminationScores]]
    * aggregated from the benchmark's side: for each benchmark item,
    * how much of it leaked (fraction of its shingles appearing in any
    * training doc) and how widely (distinct training docs sharing a
    * shingle). p02 answers "which training docs must go"; this
    * answers "which EVAL items are burned and by how much" — the view
    * an eval-integrity review actually reads, since a benchmark item
    * with leak_frac ≈ 1 is dead even after p02 removes the leakers
    * (the model family may have trained on it elsewhere).
    *
    * Plan shape: the leak-fraction face joins bench postings against
    * the DISTINCT train-shingle set (shingle-keyed, no pair blowup);
    * the breadth face is the bipartite postings join, bounded by the
    * posting cap (production default ON — the d14 stance: the oracle
    * applies the identical cap, so the path users run is the path
    * verified). */
  def contaminationReport(documents: DataFrame, benchPredicate: Column,
      n: Int = 3,
      maxDocFreq: Option[Int] = Some(Dedup.DefaultMaxDocFreq))
      : DataFrame = {
    val post = Dedup.shinglePostings(documents, n, maxDocFreq)
    val bench = post.filter(benchPredicate)
    val train = post.filter(!benchPredicate)
    val trainShingles = train.select(col("shingle")).distinct()
      .withColumn("leaked", lit(true))
    val leakCounts = bench.join(trainShingles, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_shingles"),
        count(col("leaked")).as("n_leaked_shingles"))
    val pairCounts = bench.select(col("doc_id"), col("shingle"))
      .join(train.select(col("doc_id").as("train_doc"), col("shingle")),
        "shingle")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("train_doc")).as("n_train_docs"))
    leakCounts.join(pairCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bench_shingles"),
        col("n_leaked_shingles"),
        (col("n_leaked_shingles").cast("double") /
          col("n_bench_shingles").cast("double")).as("leak_frac"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
      .orderBy(col("doc_id"))
  }

  /** p05: FUZZY benchmark decontamination — MinHash-LSH collision
    * against the benchmark set, the paraphrase-level complement of
    * [[contaminationScores]] (p02 catches verbatim n-gram overlap; a
    * lightly reworded benchmark item shares few exact 3-grams but
    * still collides in MinHash band space once estimated Jaccard
    * clears the band threshold (1/nBands)^(1/rowsPerBand) — the same
    * S-curve d04 exploits for near-dup candidates, pointed at the
    * train×bench bipartite slice instead of train×train).
    *
    * Plan shape: ONE [[Dedup.withMinhash]] pass over the whole corpus
    * (bench rows ride the same signature pipeline — no second shingle
    * explode), bands posexplode, then the benchmark band table —
    * benchmark-suite-sized by nature — broadcasts into an equi-join
    * on (band, digest); no self-join, nothing corpus×corpus. Returns
    * flagged training docs with distinct-benchmark-match and
    * band-collision counts plus the earliest colliding benchmark id
    * (the audit pointer). Deterministic end to end: salted-md5
    * signatures, no RNG. */
  def fuzzyDecontamination(documents: DataFrame, benchPredicate: Column,
      k: Int = 12, rowsPerBand: Int = 3): DataFrame = {
    val banded = Dedup.withMinhash(documents, k, rowsPerBand)
      .select(col("doc_id"), benchPredicate.as("is_bench"),
        posexplode(col("bands")).as(Seq("band", "digest")))
    val bench = banded.filter(col("is_bench"))
      .select(col("doc_id").as("bench_id"), col("band"), col("digest"))
    val train = banded.filter(!col("is_bench"))
      .select(col("doc_id"), col("band"), col("digest"))
    train.join(broadcast(bench), Seq("band", "digest"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("bench_id")).as("n_bench_matches"),
        count(lit(1)).as("n_band_hits"),
        min(col("bench_id")).as("first_bench_id"))
      .orderBy(col("doc_id"))
  }

  /** Global top-k bigram collocations: explode word 2-grams, count,
    * deterministic top-k (count desc, bigram asc). The shuffle carries
    * (bigram, partial count) thanks to map-side combine — constant in
    * document length. */
  /** Gopher-style repetition / boilerplate statistics per document — the
    * standard "remove degenerate text" filters for LLM corpora: the longest
    * consecutive run of one token, the most-frequent-token share, and the
    * most-frequent-bigram share, plus a combined repetitive flag.
    *
    * Relational formulation (posexplode → per-doc window for run ids and
    * bigrams → shuffle aggs keyed by doc_id): distributes by token count,
    * never loops per document, and every shuffle partitions on doc_id so a
    * 100 TB corpus spreads evenly (one pathological document costs its
    * token count, nothing quadratic). Thresholds follow the published
    * Gopher rules in spirit (max_run ≥ 8 or top-token share > 0.3 marks a
    * document repetitive). */
  def repetitionStats(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = Dedup.spread(documents).select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // run ids: a change point (first token, or token != previous) opens a run
    val runs = pos
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("tok"), 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val maxRun = runs.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("rl"))
      .groupBy(col("doc_id")).agg(max(col("rl")).as("max_run"))
    val topTok = pos.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_token_n"))
    val topBig = pos
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"),
        concat(col("tok"), lit(" "), col("nxt")).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"))
    val lens = documents.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val topTokenFrac =
      col("top_token_n").cast("double") / col("n_tokens").cast("double")
    lens
      .join(topTok, Seq("doc_id"))
      .join(maxRun, Seq("doc_id"))
      .join(topBig, Seq("doc_id"), "left") // 1-token docs have no bigram
      .select(col("doc_id"), col("n_tokens"), col("top_token_n"),
        topTokenFrac.as("top_token_frac"),
        col("max_run"), col("top_bigram_n"),
        (col("top_bigram_n").cast("double") /
          when(col("n_tokens") > 1, col("n_tokens") - 1).cast("double"))
          .as("top_bigram_frac"),
        (col("max_run") >= 8 || topTokenFrac > 0.3).as("flag_repetitive"))
      .orderBy(col("doc_id"))
  }

  def topBigrams(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(explode(graft.functions.TextFns.wordShingles(col("text"), 2))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)

  /** Heavy-hitter bigrams via the mergeable frequent-items sketch
    * (`approx_top_k`, DataSketches): single pass, each partition builds a
    * bounded-memory sketch, and only fixed-size sketches cross the wire —
    * vs the exact groupBy form (t05), which shuffles the full item
    * domain. At 100 TB over a quasi-unbounded domain (URLs, n-grams) the
    * sketch path is the only one that doesn't scale its shuffle with the
    * domain.
    *
    * Oracle-checkable by the same trick as q26: while the tracked-item
    * budget exceeds the distinct-item count the sketch never evicts, so
    * counts are EXACT, and thresholding (count ≥ minCount, the classic
    * φ-heavy-hitter definition) makes the result SET deterministic where
    * a rank-k cut would be tie-ambiguous. At larger domains it degrades
    * to the sketch's guaranteed overestimate bounds instead of an OOM.
    *
    * CONTRACT: the sketch can return at most `k` items, so size `k`
    * above the expected number of threshold-passers (and `maxTracked`
    * above the distinct count for exactness) — a top-k sketch cannot be
    * asked for more items after the fact. */
  def heavyHitterBigrams(documents: DataFrame, minCount: Long = 40L,
      k: Int = 1000, maxTracked: Int = 16384): DataFrame =
    Dedup.spread(documents)
      .select(explode(
        graft.functions.TextFns.wordShingles(col("text"), 2)).as("bigram"))
      .agg(expr(s"approx_top_k(bigram, $k, $maxTracked)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("bigram"), col("e.count").as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("bigram").asc)

  /** Corpus-frequency rarity profile per document — the statistical-LM
    * quality signal (CCNet-style) in exact integer arithmetic: how common
    * are this document's word bigrams in the whole corpus? Gibberish and
    * OCR noise score a high fraction of corpus-rare bigrams; boilerplate
    * scores a high mean frequency. Deliberately avoids log-probabilities:
    * ln() is not bitwise-portable across engines, while counts and their
    * ratios are — so this stays oracle-checkable where a smoothed LM
    * score would not be.
    *
    * Two shuffles keyed by bigram (count, then the join back — map-side
    * combined) plus one keyed by doc_id; everything distributes by row
    * count, nothing is collected. At 100 TB the bigram-frequency table is
    * itself large, so it stays distributed — it is never broadcast. The
    * join back is skewed by construction (a stopword bigram's instances
    * all share one key); AQE skew-join splitting (on in Graft.session)
    * is the intended mitigation, since each instance row joins 1:1 with
    * its count. */
  def bigramRarity(documents: DataFrame, rareMax: Long = 2L): DataFrame = {
    val bg = Dedup.spread(documents).select(col("doc_id"),
      explode(graft.functions.TextFns.wordShingles(col("text"), 2))
        .as("bigram"))
    val freq = bg.groupBy(col("bigram")).agg(count(lit(1)).as("bg_n"))
    bg.join(freq, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bg_n")).as("sum_df"),
        min(col("bg_n")).as("min_df"),
        sum(when(col("bg_n") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_df").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_df"),
        col("min_df"),
        (col("n_rare").cast("double") / col("n_bigrams").cast("double"))
          .as("rare_frac"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end LLM data-prep composition: quality-filter → exact-dedup
    * (over a doubled corpus, proving the dedup stage does work) → per-lang
    * corpus stats. One pipeline, three shuffles, each stage the operator
    * defined elsewhere in this package/Dedup. */
  def dataPrepPipeline(documents: DataFrame,
      minQuality: Double = 0.5): DataFrame = {
    val doubled = documents.select(col("doc_id"), col("text"), col("lang"))
      .unionByName(documents.select((col("doc_id") + 1000000).as("doc_id"),
        col("text"), col("lang")))
    val quality = qualityScore(doubled)
      .select(col("doc_id"), col("quality"))
    val kept = doubled.join(quality, "doc_id")
      .filter(col("quality") >= minQuality)
    // min() everywhere: groups are same-content, but ties must still
    // resolve deterministically for the cross-engine hash compare
    val deduped = kept
      .groupBy(Dedup.contentDigest(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
        min(col("text")).as("text"))
    deduped
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).cast("long").as("total_tokens"))
      .orderBy(col("lang"))
  }

  /** p04: the COMPLETE pretrain-corpus build — the four-stage selection
    * every pretraining run makes, composed from the audited operators
    * and ending in the kept-document manifest a tokenizer consumes:
    * quality gate (t02's score) → exact dedup over a doubled corpus
    * (d01's digest; the copies PROVE the stage fires) → benchmark
    * decontamination (p02's 3-gram postings: benchmark docs leave, and
    * so does any training doc sharing a shingle with them) → per-lang
    * quality-ranked token budget (p03's running sum). Each stage's
    * semantics and its scale posture are the single-operator query's;
    * what p04 adds is the evidence they COMPOSE — one DataFrame, one
    * oracle, end to end. p01 stops at corpus stats; this emits the
    * corpus itself.
    *
    * Scale: three doc-keyed shuffles (quality is scan-stage), the
    * digest group, the capped posting join, then the per-(lang) budget
    * window — the one serial funnel, whose production form is
    * [[Sampling.tokenBudgetMixSharded]] (documented there; the exact
    * form is the oracle contract). */
  def pretrainCorpusBuild(documents: DataFrame, minQuality: Double = 0.5,
      budgetPerLang: Long = 3000L, benchMod: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val doubled = documents.select(col("doc_id"), col("text"), col("lang"))
      .unionByName(documents.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
    val quality = qualityScore(doubled)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val kept = doubled.join(quality, "doc_id")
      .filter(col("quality") >= minQuality)
    // same-content rows agree on every carried column except doc_id, so
    // min() is both deterministic and value-preserving
    val deduped = kept
      .groupBy(Dedup.contentDigest(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
        min(col("text")).as("text"), min(col("n_tokens")).as("n_tokens"),
        min(col("quality")).as("quality"))
    val benchPred = col("doc_id") % benchMod === 0
    // decontamination screens against benchmark CONTENT, so its posting
    // pass reads the UNGATED corpus: a benchmark doc that fails the
    // quality gate, or whose text dedups into a train-side winner, must
    // still poison every training doc sharing its shingles (the gated
    // form silently shrank the reference set — caught by the p04 spec).
    // Costs one posting pass over the raw corpus; same completeness
    // stance as p02's exact-postings default.
    val contaminated = contaminationScores(
      doubled.select(col("doc_id"), col("text")), benchPred)
      .select(col("doc_id"))
    val train = deduped.filter(!benchPred)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    train
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetPerLang)
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("quality"),
        col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens"))
  }

  /** p10: INCREMENTAL corpus build — the text-side s36: a NEW crawl
    * delta is folded into an existing corpus through the stored
    * indexes, never rescanning the base text, and the result is
    * oracle-checked against the from-scratch build on the union. The
    * four stages are the audited single-operator queries composed:
    * d18 URL dedup (delta canon vs the stored canon set), d10
    * incremental exact dedup ([[Dedup.incrementalExactDedup]] vs the
    * stored digest index), p05 fuzzy decontam (delta bands vs the
    * UNION bench band index — INCLUDING retroactive retraction of
    * stored pool docs that collide with newly arrived benchmark
    * content, the step naive incremental pipelines miss), and p03's
    * per-lang quality-ranked token budget over the refreshed pool.
    *
    * Batch construction (deterministic from the fixture): base = ids
    * with id%3≠0; the delta = fresh ids (id%3=0) plus exact re-crawls
    * of base pages (id%7=1 re-keyed +1e6 — the rows the digest index
    * must reject). Benchmark split id%10=0 (p05's).
    *
    * EQUALITY CONTRACT with the from-scratch build (what the oracle
    * checks): every keep rule is arrival-ordered — min by (batch,
    * doc_id) — because an incremental pipeline keeps the FIRST-ARRIVED
    * representative, not the globally-min id; the from-scratch twin
    * uses the same lexicographic rule. The stored state carries the
    * FULL surviving pool (not the budget-truncated manifest), so
    * retractions can never strand a doc the from-scratch build would
    * re-admit under the freed budget; the budget prefix over the
    * refreshed pool then equals the from-scratch prefix exactly
    * (adding competitors only pushes incumbents down, so docs cut by
    * the old budget stay cut unless mass is freed — and the pool keeps
    * them available for exactly that case).
    *
    * Scale posture: the base text is scanned only to BUILD the stored
    * state (as the original build did); the incremental path touches
    * delta-sized frames plus index joins — delta canon anti-join the
    * canon set, delta digests anti-join the digest index (both
    * bucketable on their key at 100 TB), delta bands vs a BROADCAST
    * bench band index (benchmark-suite-sized by nature), and the tiny
    * delta-bench band set joined against the stored pool band index
    * for retractions. The final budget window runs over the pool —
    * manifest-scale, the p03 shape ([[Sampling.tokenBudgetMixSharded]]
    * is the sharded production form). */
  def incrementalCorpusBuild(documents: DataFrame,
      budgetPerLang: Long = 3000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents.select(col("doc_id"), col("text"), col("lang"))
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.filter(col("doc_id") % 3 =!= 0 &&
          col("doc_id") % 7 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang")))
    val benchPred = col("doc_id") % 10 === 0
    def withCanon(df: DataFrame): DataFrame = df.select(col("doc_id"),
      col("text"), col("lang"),
      Dedup.canonicalUrl(Dedup.syntheticUrl(col("doc_id")))
        .as("canon_url"))
    def firstPer(df: DataFrame, key: Column): DataFrame = df
      .groupBy(key.as("k"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("lang")),
        col("doc_id")).as("r"))
      .select(col("k"), col("r.doc_id").as("doc_id"),
        col("r.text").as("text"), col("r.lang").as("lang"))
    def bandsOf(df: DataFrame): DataFrame =
      Dedup.withMinhash(df).select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band", "digest")))

    // ---- stored state, built ONCE from the base batch ----
    val baseCanon = withCanon(base)
    val baseUrlKept = firstPer(baseCanon, col("canon_url"))
    val digestIndex = baseUrlKept
      .groupBy(Dedup.contentDigest(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
    val baseDigestKept = firstPer(baseUrlKept,
      Dedup.contentDigest(col("text")))
    val baseBands = bandsOf(base) // bench reference reads the RAW batch
    val baseBenchBands = baseBands.filter(benchPred)
      .select(col("band"), col("digest"))
    val basePoolBands = baseBands.join(
      baseDigestKept.filter(!benchPred).select(col("doc_id")),
      Seq("doc_id"))
    val baseContam = basePoolBands
      .join(broadcast(baseBenchBands.distinct()), Seq("band", "digest"))
      .select(col("doc_id")).distinct()
    val basePool = baseDigestKept.filter(!benchPred)
      .join(baseContam, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("lang"))

    // ---- the incremental path: delta frames + index joins only ----
    val deltaCanon = withCanon(delta)
    val urlAccepted = firstPer(
      deltaCanon.join(baseCanon.select(col("canon_url")).distinct(),
        Seq("canon_url"), "left_anti"),
      col("canon_url"))
      .select(col("doc_id"), col("text"), col("lang"))
    val (acceptedIdText, _) =
      Dedup.incrementalExactDedup(urlAccepted, digestIndex)
    val accepted = acceptedIdText
      .join(delta.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val deltaBands = bandsOf(delta)
    val deltaBenchBands = deltaBands.filter(benchPred)
      .select(col("band"), col("digest")).distinct()
    val allBenchBands =
      baseBenchBands.unionByName(deltaBenchBands).distinct()
    val deltaTrainBands = deltaBands.join(
      accepted.filter(!benchPred).select(col("doc_id")), Seq("doc_id"))
    val deltaContam = deltaTrainBands
      .join(broadcast(allBenchBands), Seq("band", "digest"))
      .select(col("doc_id")).distinct()
    val deltaPool = accepted.filter(!benchPred)
      .join(deltaContam, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("lang"))
    // retroactive decontamination: newly arrived benchmark content
    // retracts stored pool docs it collides with
    val retracted = basePoolBands
      .join(broadcast(deltaBenchBands), Seq("band", "digest"))
      .select(col("doc_id")).distinct()
    val keptBase = basePool.join(retracted, Seq("doc_id"), "left_anti")

    // ---- p03: per-lang quality-ranked budget over the refreshed pool
    // is_delta is BRANCH PROVENANCE (which batch the row survived from),
    // tagged literally at the union — never re-derived from the id (an
    // id-range inference would silently misflag once fixture ids reach
    // the re-key offset; the oracle's uni.batch column is the same tag)
    val pool = keptBase.withColumn("is_delta", lit(false))
      .unionByName(deltaPool.withColumn("is_delta", lit(true)))
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        qualityExpr(col("text")).as("quality"),
        col("is_delta"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pool.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetPerLang)
      .select(col("lang"), col("doc_id"), col("is_delta"),
        col("n_tokens"), col("quality"), col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens"))
  }

  /** Document fingerprints: exact-content hash (md5 of whitespace-normalized
    * text) + winnowing-style min-hash of word-3-gram shingles (the rolling-
    * hash fingerprint: min over shingle hashes selects a content-stable
    * representative sample — shift-invariant, robust to local edits).
    *
    * The min-hash is computed relationally (explode distinct shingles →
    * md5 once per shingle → shuffle-min per doc) rather than as a per-row
    * lambda: higher-order lambdas are interpreted, and hashing inside them
    * measured ~10× slower than the codegen'd explode/agg path. */
  def fingerprints(documents: DataFrame): DataFrame = {
    val perDoc = documents.select(
      col("doc_id"), Dedup.contentDigest(col("text")).as("content_md5"))
    val minAgg = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.TextFns.wordShingles(col("text"), 3)))
          .as("shingle"))
      .groupBy(col("doc_id"))
      .agg(min(md5(col("shingle"))).as("winnow_min"),
        count(lit(1)).as("n_shingles"))
    perDoc.join(minAgg, "doc_id")
      .select(col("doc_id"), col("content_md5"), col("winnow_min"),
        col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Integer floor(log2(n)) for positive longs via binary-representation
    * length — exact in BOTH engines (no libm call whose last bits could
    * differ), so per-token surprises are order-free integer sums. */
  private def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** t17: unigram language-model surprise per document — the CCNet-style
    * "perplexity vs an in-domain LM" quality signal, with the corpus
    * itself as the LM. A token occurring tf times in a corpus of N
    * carries ~log2(N/tf) bits of surprise; documents whose mean surprise
    * is far above the corpus norm are improbable under the LM (noise,
    * boilerplate-free gibberish), far below = highly templated text.
    *
    * Determinism discipline: surprise is quantized to WHOLE BITS
    * (floor(log2 N) − floor(log2 tf)) because integer log2 via
    * [[ilog2]] is exact in both engines, making every per-doc sum an
    * order-free bigint; the only float op is one final division.
    *
    * Plan shape: one token shuffle for the frequency table (map-side
    * combined), one skewed-by-construction join back (same AQE
    * skew-split reliance as [[bigramRarity]] — a stopword's instances
    * share one key but join 1:1 with the count row), one doc-keyed agg.
    * The frequency table stays distributed — at 100 TB the vocabulary
    * (URLs, typos, code identifiers) is far too large to broadcast; the
    * corpus total rides as a 1-row broadcast. */
  def unigramSurprise(documents: DataFrame): DataFrame = {
    val toks = Dedup.spread(documents).select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    // corpus N = Σ tf = the corpus token-instance count — computed as a
    // scan-stage sum of per-doc token counts (r22): aggregating the
    // freq table re-ran the whole explode+count-shuffle lineage a
    // second time just to produce this one long (no exchange reuse
    // across the two references). Same value exactly: every doc's
    // split(trim(x)) is non-empty, so Σ size(tokens) counts precisely
    // the rows the explode emits.
    val total = documents
      .agg(sum(size(tokens(col("text"))).cast("long")).as("corpus_n"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (ilog2(col("corpus_n")) - ilog2(col("tf"))).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("sum_bits"),
        max(col("bits")).as("max_bits"))
      .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("mean_bits"),
        col("max_bits"))
      .orderBy(col("doc_id"))
  }

  /** t31: DSIR-style importance weights ("Data Selection via Importance
    * Resampling", Xie et al. 2023) against a TARGET domain — each
    * document scores the log-likelihood ratio of its tokens under the
    * target source's unigram LM vs the rest-of-corpus LM; resampling
    * the raw pool proportionally to the weight yields a target-like
    * mixture without training a classifier. The standard selection
    * signal for "make 100 TB of crawl look like my curated domain".
    *
    * Determinism discipline (the [[unigramSurprise]] contract): each
    * token's ratio is quantized to WHOLE BITS via [[ilog2]] with
    * add-one smoothing keeping every count positive, so per-doc sums
    * are order-free bigints; the only float op is the final mean.
    *
    * Plan shape: ONE token-frequency shuffle builds BOTH LMs
    * (conditional aggregation on the source flag — not two passes), the
    * two totals ride as a 1-row broadcast, one skew-tolerant join back
    * to token instances (AQE splits stopword keys), one doc-keyed agg.
    * The frequency table stays distributed; nothing vocabulary-sized
    * ever broadcasts. */
  def dsirWeights(documents: DataFrame,
      target: String = "src0"): DataFrame = {
    val toks = Dedup.spread(documents).select(col("doc_id"), col("source"),
      explode(tokens(col("text"))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(
      sum(when(col("source") === target, 1L).otherwise(0L)).as("tf_t"),
      sum(when(col("source") === target, 0L).otherwise(1L)).as("tf_r"))
    val totals = freq.agg(sum(col("tf_t")).as("n_t"),
      sum(col("tf_r")).as("n_r"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("source"),
        ((ilog2(col("tf_t") + 1) - ilog2(col("n_t"))) -
          (ilog2(col("tf_r") + 1) - ilog2(col("n_r")))).as("bits"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("mean_bits"))
      .orderBy(col("doc_id"))
  }

  /** t18: per-source chi-squared divergence from the corpus unigram
    * distribution — the data-mixing diagnostic that ranks sources by how
    * far their token distribution drifts from the blend (domain shift,
    * scraper breakage, language drift all show up here before a model
    * run does). Chi-squared rather than KL because its only float ops
    * are multiply/divide/subtract — IEEE exact-rounded, so identical
    * expression trees give bitwise-equal terms in both engines, where
    * log()'s last bits are libm-dependent. Each term is quantized to
    * 1e-6 fixed point so the per-source sum is an order-free bigint.
    *
    * Plan shape: one token shuffle each for the corpus and per-source
    * frequency tables (map-side combined), then the small source-totals
    * side broadcasts into the distributed vocabulary to build the full
    * (source × term) grid — absent terms must contribute (0 − e)²/e, so
    * the grid is explicit, |vocab| × |sources| rows, followed by one
    * (source, tok)-keyed left join and a sources-sized final agg. */
  def sourceDivergence(documents: DataFrame): DataFrame = {
    val toks = Dedup.spread(documents).select(col("source"),
      explode(tokens(col("text"))).as("tok"))
    val corpus = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_t"))
    val bySrc = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n_st"))
    val srcTotals = bySrc.groupBy(col("source")).agg(sum("n_st").as("n_s"))
    val total = corpus.agg(sum(col("n_t")).as("n"))
    val nst = coalesce(col("n_st"), lit(0L)).cast("double")
    val e = col("n_s").cast("double") * col("n_t").cast("double") /
      col("n").cast("double")
    val term = (nst - e) * (nst - e) / e * lit(1000000.0)
    corpus.crossJoin(broadcast(srcTotals))
      .join(bySrc, Seq("source", "tok"), "left")
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_s"),
        when(col("n_st").isNotNull, 1L).otherwise(0L).as("present"),
        floor(term).as("term_fp"))
      .groupBy(col("source"), col("n_s"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("present")).as("n_present"),
        sum(col("term_fp")).as("chi2_fp"))
      .select(col("source"), col("n_s").as("n_tokens"), col("n_terms"),
        col("n_present"),
        (col("chi2_fp").cast("double") / lit(1000000.0)).as("chi2"))
      .orderBy(col("source"))
  }

  /** PMI collocations: adjacent token pairs ranked by pointwise mutual
    * information — the association-mining pass that finds multiword
    * units ("new york") worth protecting from tokenizers and dedup
    * shinglers. Reported as the RATIO p(xy)/(p(x)·p(y)) = c_xy·N /
    * (c_x·c_y) (= e^PMI, the same ranking without a libm log whose
    * last bits differ across engines): two exact-rounded multiplies
    * and one division over exact longs — the identical IEEE tree in
    * both engines.
    *
    * Plan shape: one unigram count shuffle + one pair count shuffle
    * (both map-side combined), the min-count filter prunes the pair
    * table BEFORE the two unigram joins, and the final ranking is a
    * TakeOrderedAndProject over the surviving collocations. The
    * 1-row corpus total broadcast-crosses in. */
  def pmiCollocations(documents: DataFrame, minCount: Long = 3L,
      k: Int = 20): DataFrame = {
    val toks = tokens(col("text"))
    val uni = documents.select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n"))
    val pairs = documents
      .filter(size(toks) >= 2)
      .select(explode(transform(sequence(lit(0), size(toks) - 2),
        i => struct(element_at(toks, i + 1).as("w1"),
          element_at(toks, i + 2).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c_y")), "w2")
      .join(broadcast(total))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        (col("c_xy").cast("double") * col("n").cast("double") /
          (col("c_x").cast("double") * col("c_y").cast("double")))
          .as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-document TF-IDF keyword extraction — the doc-side complement
    * of BM25's query-side ranking (b01): each document's top terms by
    * tf·N/df, the tagging/routing signal curation pipelines attach to
    * every document. The score is the rational idf form (no libm log —
    * log is monotone, so the ranking is identical): two exact long
    * products and one double division, bit-stable across engines.
    *
    * Plan shape: one (doc, term) count shuffle; document frequencies
    * are a term-keyed aggregate joined back on term; the rank window
    * partitions by doc_id — group size is the document's distinct-term
    * count, parallel across documents at any corpus size. */
  def tfidfKeywords(documents: DataFrame, k: Int = 3): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = documents.select(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    tf.join(df, "tok")
      .join(broadcast(n))
      .withColumn("tfidf",
        (col("tf") * col("n_docs")).cast("double") /
          col("df").cast("double"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Count-min sketch frequency estimation — the fourth sketch family
    * beside HLL (q18), KMV (q25), and frequent-items (t10): a fixed
    * (depth × width) counter grid answers "how often does token X
    * occur?" over any stream slice, with one-sided error (estimate ≥
    * truth, inflated only by bucket collisions). The sketch is
    * trivially mergeable (counters add), so it map-side combines and
    * unions across corpus shards — the property that makes it the
    * standard distributed frequency monitor.
    *
    * Determinism: row d's bucket for a token is the first two hex
    * chars of md5("d:token") — a STRING bucket label, sidestepping
    * hex→integer conversion differences between engines; depth=3,
    * width=256. Output compares the estimate to the exact count per
    * token, so the collision inflation is visible and the one-sided
    * bound is oracle-checked. */
  def cmsTokenCounts(documents: DataFrame, depth: Int = 3): DataFrame = {
    val toks = documents.select(explode(tokens(col("text"))).as("tok"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("true_count"))
    // build: every occurrence increments depth counters
    val grid = toks
      .withColumn("d", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("d"), substring(md5(concat(col("d").cast("string"),
        lit(":"), col("tok"))), 1, 2).as("bucket"))
      .groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("c"))
    // probe: each distinct token reads its depth buckets, takes the min
    val probes = exact
      .withColumn("d", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("tok"), col("true_count"), col("d"),
        substring(md5(concat(col("d").cast("string"), lit(":"),
          col("tok"))), 1, 2).as("bucket"))
    probes.join(grid, Seq("d", "bucket"))
      .groupBy(col("tok"), col("true_count"))
      .agg(min(col("c")).as("cms_estimate"))
      .select(col("tok"), col("true_count"), col("cms_estimate"),
        (col("cms_estimate") - col("true_count")).as("overestimate"))
      .orderBy(col("tok"))
  }

  /** Vocabulary coverage curve: for each candidate vocabulary size V,
    * the fraction of all token OCCURRENCES covered by the V most
    * frequent types — the curve a tokenizer/vocab-size decision reads
    * (where does coverage flatten?) and a drift monitor for incoming
    * corpus slices.
    *
    * Plan shape: one token-keyed count shuffle (map-side combined), then
    * the curve only needs the TOP max(sizes) types — a bounded top-k, so
    * it plans as `TakeOrderedAndProject` (per-partition top-k, merged at
    * the driver; shuffle volume = maxV rows per partition, never the
    * type table). Rank comes from posexploding one sorted array built by
    * a global aggregate over those ≤ maxV survivors — no row_number
    * window, no single-partition exchange over the vocab anywhere.
    * Coverage is one double division of exact longs. */
  def vocabCoverage(documents: DataFrame,
      sizes: Seq[Int] = Seq(5, 10, 15, 20, 25)): DataFrame = {
    val maxV = sizes.max
    val counts = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    // struct sorts ascending field-by-field: (-n, tok) = n desc, tok asc
    val ranked = counts
      .orderBy(col("n").desc, col("tok").asc).limit(maxV)
      .agg(sort_array(collect_list(
        struct((-col("n")).as("negn"), col("tok"), col("n")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("rk"),
        col("x.tok").as("tok"), col("x.n").as("n"))
    val total = counts.agg(sum(col("n")).as("total_tokens"))
    val sizesDf = documents.sparkSession
      .createDataFrame(sizes.map(Tuple1(_))).toDF("vocab_size")
      .select(col("vocab_size").cast("long").as("vocab_size"))
    ranked.join(broadcast(sizesDf), col("rk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(sum(col("n")).as("covered_tokens"))
      .join(broadcast(total))
      .select(col("vocab_size"), col("covered_tokens"), col("total_tokens"),
        (col("covered_tokens").cast("double") /
          col("total_tokens").cast("double")).as("coverage"))
      .orderBy(col("vocab_size"))
  }

  /** t29: per-doc boilerplate/novelty share — the memorization audit
    * pair-level dedup doesn't give you: what FRACTION of this document's
    * content also appears elsewhere in the corpus? Near-dup pairs (d02)
    * find documents that are mostly copies; this scores every document
    * by the share of its word 3-gram shingles whose corpus document
    * frequency is ≥ 2 — licence headers, navigation chrome, quoted
    * passages, and template text all surface as a high share even when
    * no single pair crosses a dedup threshold. The standard use: cap or
    * down-weight high-boilerplate docs in the training mix, and track
    * the corpus-level share as a crawl-quality metric.
    *
    * Scale: one shingle-keyed count shuffle (map-side combined) + one
    * shingle-keyed join back onto the postings (AQE handles hot-shingle
    * skew; no self-join anywhere, so hot shingles cost linear work,
    * unlike pair generation) + one doc-keyed count. Exact longs; the
    * share is one double division. */
  def noveltyProfile(documents: DataFrame): DataFrame = {
    val post = Dedup.shinglePostings(documents, 3, maxDocFreq = None)
    val dfreq = post.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    post.join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("boilerplate_share"))
      .orderBy(col("doc_id"))
  }

  /** t30: rolling-hash window fingerprints — document fingerprinting on
    * the O(tokens) path: the codegen'd [[graft.functions.RollingHash]]
    * produces one Rabin–Karp polynomial hash per `window`-token window
    * without materializing a single shingle string (t04's md5-shingle
    * form is the content-addressable tier; this is the throughput tier
    * a decontamination or plagiarism sweep runs at corpus scale —
    * per-doc cost drops from O(tokens × window) hashing to O(tokens)).
    * Emits the per-doc summary (window count, min-hash fingerprint,
    * first-window hash); the full hash array stays inside the scan
    * stage. All arithmetic is signed-64-bit-safe mod 2³¹−1, so the
    * DuckDB oracle reproduces every value bitwise from the direct
    * (non-rolling) formula — the oracle also re-proves the rolling
    * recurrence correct against the definition, per doc, per window.
    *
    * Scale: pure per-row scan-stage work, no shuffle except the
    * presentation sort. */
  def rollingFingerprints(documents: DataFrame, window: Int = 5): DataFrame =
    documents
      .select(col("doc_id"),
        graft.functions.RollFns.rollingHash(col("text"), window).as("wh"))
      .select(col("doc_id"),
        size(col("wh")).cast("long").as("n_windows"),
        array_min(col("wh")).as("min_hash"),
        element_at(col("wh"), 1).as("first_hash"))
      .orderBy(col("doc_id"))

  /** t28: code-vs-prose detection — the corpus-composition gate every
    * LLM data mix needs (route code to the code pipeline, keep prose
    * benchmarks decontaminated from it, weight the mix deliberately).
    * The heuristic is symbol density: source code is saturated with
    * `(){};=` where prose nearly isn't, so `n_sym * 50 >= n_chars`
    * (≥ 2% density, INTEGER cross-multiply — no float threshold) is a
    * robust first-pass label. Symbol counting is six nested `replace`
    * length deltas — byte-identical semantics in any engine, unlike
    * regex char-class counts whose escaping dialects differ.
    *
    * The fixture corpus is prose-only, so it is doubled with a
    * deterministic code-ified variant of each doc (id+1000000: every
    * token wrapped as a `f("tok");` call on its own line) — the label
    * must split the union exactly at the 1000000 boundary, making the
    * detector's contract visible in the oracle rather than vacuously
    * all-false.
    *
    * Scale: pure per-row codegen scalar work in the scan stage — no
    * shuffle, no UDF, nothing to skew. */
  def codeDetect(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"))
    val codeified = base.select((col("doc_id") + 1000000L).as("doc_id"),
      array_join(transform(tokens(col("text")),
        t => concat(lit("f(\""), t, lit("\");"))), "\n").as("text"))
    val corpus = base.unionByName(codeified)
    val stripped = Seq("(", ")", "{", "}", ";", "=")
      .foldLeft(col("text"))((c, s) => replace(c, lit(s), lit("")))
    corpus
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) - length(stripped)).cast("long").as("n_sym"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .withColumn("is_code", col("n_sym") * 50L >= col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** p07: the per-document quality FEATURE TABLE — the feature-store
    * face of the text-signal suite: one wide row per document joining
    * the audited signals a learned quality filter trains on (FineWeb/
    * DCLM-style classifier pipelines consume exactly this assembly):
    * heuristic quality (t02), corpus-LM surprise (t17), duplicated-
    * bigram coverage (t32 — null for <4-token docs, honestly), and
    * the code/prose label (t28). Each column's semantics and scale
    * posture is its single-operator query's; what p07 adds is the
    * assembled frame, oracle-checked as one unit.
    *
    * Scale: every join is doc-keyed — with the document table bucketed
    * by doc_id at rest, the whole assembly is exchange-free after each
    * signal's own (audited) shuffles. */
  /** p07's dup2_frac signal as a BIGRAM-ONLY pass (r22): the feature
    * table consumes exactly one column of t32's profile, but joining
    * the full [[repetitionProfile]] paid all four n-gram passes — the
    * dup3/dup4/top-bigram arms are inner-join row-preserving (every
    * ≥4-token doc has instances at every n), so Catalyst cannot prune
    * them away. Same law: dup2_frac = (Σ c over duplicated bigrams) /
    * (T − 1), with T − 1 = Σ c over all of the doc's bigrams; same row
    * set (docs with ≥ 4 tokens). Value-pinned against the full profile
    * in TextDedupSpec. */
  private def dup2FracOnly(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.filter(size(toks) >= 4)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i + 1),
            element_at(toks, i + 2)))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((sum(when(col("c") > 1L, col("c")).otherwise(0L))
        .cast("double") / sum(col("c")).cast("double")).as("dup2_frac"))
  }

  /** The t28 code/prose label as a pure per-row expression over `text`
    * (r22): exactly [[codeDetect]]'s integer cross-multiply on the
    * base branch — p07 joined the full t28 frame, which UNIONS in the
    * code-ified fixture twin (doc_id + 10⁶) and so rebuilt that twin's
    * text for every document only for the inner join to drop it. */
  private def isCodeExpr(text: Column): Column = {
    val stripped = Seq("(", ")", "{", "}", ";", "=")
      .foldLeft(text)((c, s) => replace(c, lit(s), lit("")))
    (length(text) - length(stripped)).cast("long") * 50L >=
      length(text).cast("long")
  }

  def qualityFeatures(documents: DataFrame): DataFrame = {
    // quality and is_code are per-row scan-stage expressions — inlined
    // (r22) instead of self-joined from the t02/t28 frames: the values
    // are the identical expression trees ([[qualityExpr]] is t02's own
    // scorer; [[isCodeExpr]] is t28's law), and the two doc-keyed
    // self-joins plus t28's corpus-doubling union bought nothing but
    // plan width. mean_bits (corpus-LM pass) and dup2_frac (bigram
    // pass) keep their real shuffles.
    val u = unigramSurprise(documents)
      .select(col("doc_id"), col("mean_bits"))
    val r = dup2FracOnly(documents)
    documents.select(col("doc_id"), col("lang"), col("source"),
        qualityExpr(col("text")).as("quality"),
        isCodeExpr(col("text")).as("is_code"))
      .join(u, "doc_id")
      .join(r, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("source"), col("quality"),
        col("mean_bits"), col("dup2_frac"), col("is_code"))
      .orderBy(col("doc_id"))
  }

  /** t32: Gopher-style duplicated-n-gram coverage (Rae et al. 2021,
    * "Scaling Language Models", Table A1) — for n ∈ {2,3,4}, the
    * fraction of a document's n-gram instances whose gram occurs more
    * than once in the SAME document, plus WHICH bigram dominates (the
    * explainability face t05's counts don't carry). Template pages,
    * keyword-stuffed spam, and decode loops light up the dup fractions
    * at rising n; clean prose decays fast. Complements
    * [[repetitionStats]] (t05: top-share + run lengths): t05 asks "how
    * concentrated", this asks "how much of the doc is literal
    * self-repeat". Fractions are exact-long ratios divided once in
    * double (no libm); the top bigram ties toward the
    * lexicographically smallest — the oracle's `row_number
    * (ORDER BY c DESC, g)` contract.
    *
    * Scale: three doc-keyed n-gram count shuffles (map-side combined,
    * ~n_tokens rows per doc each), per-doc partial-aggregating
    * reductions (min_by argmax, conditional sums — no window funnel),
    * and doc-keyed joins. Nothing global, nothing skewed beyond
    * document length. */
  def repetitionProfile(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val base = documents.filter(size(toks) >= 4)
      .select(col("doc_id"), toks.as("toks"))
    // ONE explode emits every n-gram instance for n ∈ {2,3,4} tagged
    // with its n (r22: the three per-n explode+count passes — plus a
    // fourth for the top bigram — differed only in n, so the corpus
    // was tokenized and shuffled four times for one profile). One
    // (doc, n, gram) count and one conditional per-doc rollup replace
    // them; every law below is unchanged:
    //  - dupN_count = Σ c over grams of arity N with c > 1 (same sum);
    //  - n_tokens is recovered exactly as (Σ c over n=2 grams) + 1 —
    //    a doc with T tokens has T−1 bigram instances, and base
    //    guarantees T ≥ 4 so every doc has rows at every n;
    //  - top_bigram keeps the min_by((−c, g)) tie-law, restricted to
    //    n=2 rows by a leading priority field (an n=2 row always
    //    exists, so no other arity can ever win).
    def gramsOf(n: Int) = transform(
      sequence(lit(0), size(col("toks")) - n),
      i => struct(lit(n).as("n"), concat_ws(" ",
        (0 until n).map(j => element_at(col("toks"), i + j + 1)): _*)
        .as("g")))
    val counts = base
      .select(col("doc_id"),
        explode(concat(gramsOf(2), gramsOf(3), gramsOf(4))).as("x"))
      .groupBy(col("doc_id"), col("x.n").as("n"), col("x.g").as("g"))
      .agg(count(lit(1)).as("c"))
    def dupCount(n: Int) =
      sum(when(col("n") === n && col("c") > 1L, col("c")).otherwise(0L))
        .as(s"dup${n}_count")
    val agg = counts.groupBy(col("doc_id")).agg(
      (sum(when(col("n") === 2, col("c")).otherwise(0L)) + 1L)
        .as("n_tokens"),
      min_by(col("g"), struct(
        when(col("n") === 2, 0L).otherwise(1L).as("pri"),
        (lit(0L) - col("c")).as("negc"), col("g").as("g")))
        .as("top_bigram"),
      dupCount(2), dupCount(3), dupCount(4))
    def frac(n: Int) = (col(s"dup${n}_count").cast("double") /
      (col("n_tokens") - (n - 1)).cast("double")).as(s"dup${n}_frac")
    agg.select(col("doc_id"), col("n_tokens"), col("top_bigram"),
        col("dup2_count"), frac(2), col("dup3_count"), frac(3),
        col("dup4_count"), frac(4))
      .orderBy(col("doc_id"))
  }

  /** t33: BIGRAM language-model surprise — the context-sensitive
    * fluency signal one order above [[unigramSurprise]] (t17 scores
    * token rarity; this scores whether each token is probable GIVEN
    * its predecessor — the actual CCNet/KenLM-proxy perplexity cut
    * that separates fluent text from shuffled-word salad with an
    * identical unigram profile). Per-bigram surprise under the corpus
    * LM with add-one smoothing:
    * −log₂ p(w₂|w₁) = log₂(c(w₁·)+V) − log₂(c(w₁w₂)+1), where c(w₁·)
    * is w₁'s CONTEXT count (bigram instances it opens) and V the
    * corpus vocabulary size.
    *
    * Determinism discipline (the [[unigramSurprise]] contract): whole
    * bits via [[ilog2]] — both counts-plus-smoothing are positive
    * longs, so per-doc sums are order-free bigints; the only float op
    * is the final mean.
    *
    * Plan shape: one (w₁,w₂) count shuffle for the bigram LM, one
    * w₁-keyed count for contexts, V as a distinct-count 1-row
    * broadcast; instances join back on the bigram key then the
    * context key (stopword-opened bigrams are the hot keys — same AQE
    * skew-split reliance as [[bigramRarity]]), one doc-keyed agg. Both
    * LM tables stay distributed; nothing vocabulary-sized broadcasts. */
  def bigramSurprise(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val base = Dedup.spread(documents).filter(size(toks) >= 2)
      .select(col("doc_id"), toks.as("toks"))
    val bigrams = base.select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigramLm = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    val contextLm = bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("cu"))
    val vocab = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    bigrams
      .join(bigramLm, Seq("w1", "w2"))
      .join(contextLm, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (ilog2(col("cu") + col("v")) - ilog2(col("cb") + 1L)).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("sum_bits"),
        max(col("bits")).as("max_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_bits"),
        col("max_bits"))
      .orderBy(col("doc_id"))
  }

  /** t42: interpolated bigram LM score + perplexity terciles — the
    * CCNet-style quality signal proper (Wenzek et al. 2020 filter by a
    * SMOOTHED LM, not raw count surprise): per-bigram probability
    *   p(w|u) = λ·c(u,w)/c(u) + (1−λ)·(c(w)+1)/(N+V+1),   λ = 3/4,
    * i.e. the ML bigram estimate interpolated with an add-one unigram
    * that reserves one pseudo-slot of OOV mass (the +1 in numerator
    * and the +V+1 in the denominator). Unlike t33's raw bigram
    * surprise, an unseen-in-context word is scored by its corpus-wide
    * frequency instead of pinning to the OOV ceiling — the smoothing
    * that makes LM perplexity a usable filter.
    *
    * Integer-exact discipline (the t17/t31/t33 bits rule, extended to
    * RATIONALS): with λ = 3/4 the probability is the exact fraction
    *   num/den,  num = 3·c_uw·M + c_u·(c_w+1),  den = 4·c_u·M,
    * M = N+V+1, and the per-bigram bits are quantized to
    * ilog2(den) − ilog2(num) — floor-log2 of exact longs, ±1-bit
    * granularity, zero float ops until the final mean division (and
    * p ≤ 1 ⇒ num ≤ den ⇒ bits ≥ 0 always). Overflow headroom: the
    * largest product is 4·c_u·M ≤ 4N·(2N+1); longs hold it to
    * N ≈ 1.5·10⁹ corpus tokens — past that, accumulate in
    * DECIMAL(38,0) (the OPQ variance precedent).
    *
    * Perplexity itself (2^mean_bits) is deliberately NOT emitted:
    * pow() differs in ulps across engines, and the tercile bucket —
    * the thing the pipeline consumes — is rank-based, so mean_bits
    * carries the same ordering information exactly.
    *
    * Plan shape: the t33 bigram explode feeds three count shuffles
    * (bigram, context, unigram — each map-side combined), the one-row
    * (N, V) frame broadcast-crosses in (the t17 pattern), scoring
    * joins are all on count-table keys, and the tercile rank is the
    * shared two-level [[pplTerciles]] — no single-partition sort. */
  def smoothedLmScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val base = Dedup.spread(documents).filter(size(toks) >= 2)
      .select(col("doc_id"), toks.as("toks"))
    val bigrams = base.select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigramLm = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    val contextLm = bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("cu"))
    val uni = documents.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cw"))
    val corpus = uni.agg(sum(col("cw")).as("n"), count(lit(1)).as("v"))
    val m = col("n") + col("v") + lit(1L)
    val scored = bigrams
      .join(bigramLm, Seq("w1", "w2"))
      .join(contextLm, Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("cw")), Seq("w2"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"),
        (ilog2(lit(4L) * col("cu") * m) -
          ilog2(lit(3L) * col("cb") * m + col("cu") * (col("cw") + 1L)))
          .as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_bits"))
    // the tercile population is the ≥2-token base (docs with no bigram
    // have no LM score), so the total counts THAT filter — not the
    // full table like t37
    val total = documents.filter(size(tokens(col("text"))) >= 2)
      .agg(count(lit(1)).as("n_docs"))
    pplTerciles(scored, total)
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        col("mean_bits"), col("ppl_rank"), col("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  /** The Gopher required-stopword set (Rae et al. 2021, Table A1): a
    * document must contain at least two of these to pass the rule. */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Deterministic synthetic "page render" shared by the line-level
    * quality filters (t35/t36): the fixture text is a single line of
    * punctuation-free words, so the line structure those filters
    * inspect is injected (the fixture-injection pattern of
    * t06/t13/t14) — tokens chunk into 6-word lines, decoration adds
    * the artifacts the filters hunt (terminal periods, ellipsis
    * endings, bullet prefixes, keyed on (doc_id, line_no) so both
    * engines derive the identical page), and one extra boilerplate
    * line per doc cycles through the four classic removal targets
    * (placeholder latin, code braces, markdown headers, clickbait).
    *
    * Pure per-row expressions (sequence + slice fan-out, the
    * chunkDocuments shape): a narrow scan stage, no shuffle — at
    * 100 TB the render is free relative to the doc-keyed aggregate
    * that consumes it. */
  private[operators] def syntheticLines(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val base = Dedup.spread(documents)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          expr("CAST((size(toks) - 1) div 6 AS BIGINT)"))).as("line_no"),
        col("toks"))
      .select(col("doc_id"), col("line_no"),
        array_join(slice(col("toks"),
          (col("line_no") * 6 + 1).cast("int"), lit(6)), " ").as("line"))
    val decorated = base.select(col("doc_id"), col("line_no"),
      when((col("doc_id") + col("line_no")) % 3 === 0,
        concat(col("line"), lit(".")))
        .when((col("doc_id") + col("line_no")) % 7 === 1,
          concat(col("line"), lit("...")))
        .when((col("doc_id") + col("line_no")) % 5 === 2,
          concat(lit("- "), col("line")))
        .otherwise(col("line")).as("line"))
    val extras = documents.select(col("doc_id"),
      lit(1000000L).as("line_no"),
      when(col("doc_id") % 4 === 0, lit("lorem ipsum dolor sit amet."))
        .when(col("doc_id") % 4 === 1, lit("function() { return 42; }"))
        .when(col("doc_id") % 4 === 2, lit("# header ## section 42"))
        .otherwise(lit("subscribe to the newsletter and share with friends.")).as("line"))
    decorated.unionByName(extras)
  }

  /** t35: the Gopher quality-rule table (Rae et al. 2021, Table A1)
    * over the rendered page — per document, every rule's metric AND
    * its boolean verdict, plus the conjunctive keep flag. The rules:
    * word count in [50, 100k], mean word length in [3, 10],
    * symbol-to-word ratio (# and ...) ≤ 0.1, ≤ 90% of lines
    * bullet-prefixed, ≤ 30% of lines ellipsis-terminated, ≥ 80% of
    * words containing an alphabetic character, and ≥ 2 distinct
    * [[GopherStops]] present. Emitting the per-rule columns (not just
    * the keep bit) is the point: pipeline owners tune thresholds from
    * exactly this table.
    *
    * Determinism: every metric is a ratio of exact longs divided once
    * in double, so rule comparisons are bitwise identical across
    * engines. Plan shape: the page render is narrow; two doc-keyed
    * partial aggregates (word-grain and line-grain) meet in one
    * doc-keyed join — shuffle volume is O(docs), never O(words). */
  def gopherRules(documents: DataFrame): DataFrame = {
    val lines = syntheticLines(documents)
    val lineAgg = lines.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_lines"),
      sum(when(expr("left(line, 2)") === "- ", 1L).otherwise(0L))
        .as("bullet_lines"),
      sum(when(expr("right(line, 3)") === "...", 1L).otherwise(0L))
        .as("ellipsis_lines"),
      sum(length(col("line")) - length(expr("replace(line, '#', '')")))
        .cast("long").as("hash_marks"),
      expr("CAST(sum(length(line) - length(replace(line, '...', '')))" +
        " div 3 AS BIGINT)").as("ellipsis_marks"))
    val words = lines
      .select(col("doc_id"), explode(split(col("line"), " ")).as("w"))
    val wordAgg = words.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_words"),
      sum(length(col("w"))).cast("long").as("sum_word_chars"),
      sum(when(col("w").rlike("[A-Za-z]"), 1L).otherwise(0L))
        .as("alpha_words"),
      count_distinct(when(col("w").isin(GopherStops: _*), col("w")))
        .as("n_required_stops"))
    def named(cs: Seq[(String, Column)]) = cs.map { case (n, c) => c.as(n) }
    wordAgg.join(lineAgg, "doc_id")
      .select(Seq(col("doc_id"), col("n_lines"), col("n_words")) ++
        named(gopherRatios()) ++ Seq(col("n_required_stops")) ++
        named(gopherRuleSet()) :+ gopherKeep().as("keep"): _*)
      .orderBy(col("doc_id"))
  }

  /** t35's five per-doc Gopher ratios, in output order, over the
    * per-doc counts `n_lines, n_words, sum_word_chars, alpha_words,
    * hash_marks, ellipsis_marks, bullet_lines, ellipsis_lines` — read
    * through `c` (columns of those names by default; the stateless
    * [[gopherKeepExpr]] passes its array expressions). */
  private def gopherRatios(c: String => Column = col(_))
      : Seq[(String, Column)] = {
    def per(num: Column, den: String) =
      num.cast("double") / c(den).cast("double")
    Seq("mean_word_len" -> per(c("sum_word_chars"), "n_words"),
      "alpha_frac" -> per(c("alpha_words"), "n_words"),
      "symbol_ratio" ->
        per(c("hash_marks") + c("ellipsis_marks"), "n_words"),
      "bullet_frac" -> per(c("bullet_lines"), "n_lines"),
      "ellipsis_frac" -> per(c("ellipsis_lines"), "n_lines"))
  }

  /** Gopher's seven rules over [[gopherRatios]] (plus `n_required_stops`
    * through `c`), in t35's order — the ONE home of the thresholds:
    * [[gopherRules]] publishes each rule; the fused [[gateMetrics]] and
    * [[gopherKeepExpr]] only their AND ([[gopherKeep]]). */
  private def gopherRuleSet(c: String => Column = col(_))
      : Seq[(String, Column)] = {
    val r = gopherRatios(c).toMap
    val (nWords, wordLen) = (c("n_words"), r("mean_word_len"))
    Seq("r_word_count" -> (nWords >= 50L && nWords <= 100000L),
      "r_word_len" -> (wordLen >= 3.0 && wordLen <= 10.0),
      "r_symbol" -> (r("symbol_ratio") <= 0.1),
      "r_bullet" -> (r("bullet_frac") <= 0.9),
      "r_ellipsis" -> (r("ellipsis_frac") <= 0.3),
      "r_alpha" -> (r("alpha_frac") >= 0.8),
      "r_stop" -> (c("n_required_stops") >= 2L))
  }

  /** The Gopher verdict: every rule of [[gopherRuleSet]] holds. */
  private def gopherKeep(c: String => Column = col(_)): Column =
    gopherRuleSet(c).map(_._2).reduce(_ && _)

  /** t36's C4 keep-line predicate over a rendered `line`: terminal
    * period, ≥ 4 words, no curly brace, no "lorem ipsum" — shared by
    * [[c4LineFilter]] and the fused [[gateMetrics]]. */
  private def c4KeepLine: Column =
    expr("right(line, 1)") === "." &&
      size(split(col("line"), " ")) >= 4 &&
      !col("line").contains("{") &&
      !col("line").contains("lorem ipsum")

  /** t36: C4-style line-level cleaning (Raffel et al. 2020, §2.2) over
    * the rendered page — a line survives iff it ends in terminal
    * punctuation, has ≥ 4 words, contains no curly brace (the
    * javascript/code heuristic) and no "lorem ipsum". Per document:
    * line counts, the kept fraction, and the CLEANED document itself
    * verified by md5 — the reassembly is the part line filters get
    * wrong (order, separator, empty-doc edge), so it is hash-checked,
    * not just counted.
    *
    * Determinism: kept lines reassemble in line_no order via a
    * sort_array over collected (line_no, line) structs — a total
    * order, so collect_list's partition nondeterminism cannot leak;
    * zero-kept docs reassemble to the empty string in both engines.
    * Plan shape: one doc-keyed aggregate; state per doc is its own
    * kept lines (bounded by doc length — the same per-doc bound every
    * d-tier op relies on). */
  def c4LineFilter(documents: DataFrame): DataFrame = {
    syntheticLines(documents).withColumn("keepl", c4KeepLine)
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keepl"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(
          when(col("keepl"), struct(col("line_no"), col("line")))))
          .as("kept"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_lines").cast("double"))
          .as("kept_frac"),
        array_join(transform(col("kept"), x => x.getField("line")), "\n")
          .as("clean"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("kept_frac"),
        length(col("clean")).cast("long").as("n_clean_chars"),
        md5(col("clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** t37: CCNet-style perplexity bucketing (Wenzek et al. 2020) — the
    * corpus ranked by LM surprise ([[unigramSurprise]]'s mean bits per
    * token standing in for the KenLM score) and cut into equal-count
    * head/middle/tail terciles, the standard quality stratification a
    * pretraining mix samples from (head oversampled, tail dropped or
    * down-weighted).
    *
    * The global rank is NOT a single-partition window: docs hash into
    * coarse score buckets (floor(mean_bits·4) — monotone in the sort
    * key, so bucket order IS rank order), rank within each bucket in
    * parallel, and add exclusive bucket offsets computed by the w19
    * two-level sorted-array fold over the O(#buckets) bucket counts.
    * Tercile assignment is integer arithmetic against the broadcast
    * total, so the result matches `row_number() OVER (ORDER BY
    * mean_bits, doc_id)` exactly while every row-volume stage
    * distributes. Skew bound: a bucket holds only docs within 0.25
    * bits of each other — pathological only if the whole corpus has
    * near-identical surprise. */
  def ccnetBuckets(documents: DataFrame): DataFrame = {
    val docs = unigramSurprise(documents)
      .select(col("doc_id"), col("n_tokens"), col("mean_bits"))
    // count the BASE table, not the surprise frame: split(trim(x)) is
    // never empty, so every doc has a surprise row and the counts are
    // equal — and counting `documents` keeps this branch a clean
    // partial-count funnel instead of the column-pruned residue of the
    // surprise plan's embedded one-row cross (an empty-column aggregate
    // the plan audit correctly rejects)
    val total = documents.agg(count(lit(1)).as("n_docs"))
    pplTerciles(docs, total)
      .select(col("doc_id"), col("n_tokens"), col("mean_bits"),
        col("ppl_rank"), col("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  /** Global tercile rank over `mean_bits` WITHOUT a single-partition
    * sort (the t37 two-level-rank shape, shared with t42): bucket by
    * floor(mean_bits·4) — a partial-agg'able histogram — rank within
    * each bucket (parallel windows), then recover the exact global
    * (mean_bits, doc_id) rank as within-rank + per-bucket prefix
    * offset, the offsets computed by one broadcast fold over the
    * bucket-count table. `total` must be a one-row count of the SAME
    * doc population as `scored` (caller's responsibility — t37 counts
    * `documents`, t42 counts its ≥2-token base). Appends `ppl_rank`
    * and the head/middle/tail `ppl_bucket` terciles. */
  private[operators] def pplTerciles(scored: DataFrame,
      total: DataFrame, valueCol: String = "mean_bits"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the bucketed frame is read twice (the within-bucket windows and
    // the offsets histogram) — deliberately NOT anchored (r22 measured
    // both forms): the two arms' upstream exchanges are canonically
    // identical, so AQE's runtime exchange reuse serves the second
    // reference from the first's shuffle files, and a localCheckpoint
    // here only ADDED a materialization pass (p13 task-time 38.8 s →
    // 64.4 s with the anchor; same shape for t37/t42/p08).
    val bucketed =
      scored.withColumn("bk", floor(col(valueCol) * 4).cast("long"))
    val within = bucketed.withColumn("rn",
      row_number().over(Window.partitionBy(col("bk"))
        .orderBy(col(valueCol), col("doc_id"))).cast("long"))
    val offsets = bucketed.groupBy(col("bk")).agg(count(lit(1)).as("c"))
      .agg(sort_array(collect_list(struct(col("bk"), col("c"))))
        .as("arr"))
      .select(expr(
        """aggregate(arr,
          |  struct(CAST(0 AS BIGINT) AS run,
          |         CAST(array() AS ARRAY<STRUCT<bk: BIGINT, off: BIGINT>>)
          |           AS out),
          |  (acc, x) -> struct(acc.run + x.c,
          |    array_append(acc.out, named_struct('bk', x.bk,
          |      'off', acc.run))),
          |  acc -> acc.out)""".stripMargin).as("offs"))
      .select(explode(col("offs")).as("o"))
      .select(col("o.bk").as("bk"), col("o.off").as("off"))
    val rank = col("off") + col("rn")
    within.join(broadcast(offsets), "bk")
      .crossJoin(broadcast(total))
      .withColumn("ppl_rank", rank)
      .withColumn("ppl_bucket",
        when((rank - 1) * 3 < col("n_docs"), "head")
          .when((rank - 1) * 3 < col("n_docs") * 2, "middle")
          .otherwise("tail"))
      .drop("bk", "rn", "off", "n_docs")
  }

  /** t38: BPE tokenizer training, the counting face — the weighted
    * adjacent-symbol-pair counts over the word-frequency table that
    * every merge iteration ranks (Sennrich et al. 2016). This is the
    * first iteration's candidate table (symbols = characters), the
    * oracle-checkable core; [[bpeTrain]] runs the actual merge loop on
    * top of the same counting shape.
    *
    * Plan shape: one word-count shuffle collapses the corpus to its
    * vocabulary (the token-domain reduction every tokenizer trainer
    * does first — pair counting then touches |vocab| rows, not
    * |corpus| tokens), one pair-count shuffle, and a
    * TakeOrderedAndProject top-k (no global sort materializes). */
  def bpePairCounts(documents: DataFrame, k: Int = 20): DataFrame = {
    val words = Dedup.spread(documents)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))
    words.filter(length(col("w")) >= 2)
      .select(col("wf"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"),
        col("w"))
      .select(expr("substring(w, i, 2)").as("pair"), col("wf"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(k)
  }

  /** The BPE merge LOOP (Sennrich et al. 2016, Algorithm 1): `nMerges`
    * iterations of count-pairs → pick the argmax (ties: higher count,
    * then lexicographic left, then right) → greedily merge its
    * non-overlapping occurrences left-to-right in every vocabulary
    * word. Returns the merge table (iter, left, right, merged,
    * pair_count) — the artifact a tokenizer ships.
    *
    * Distribution contract: the corpus collapses to the (word, freq)
    * vocabulary ONCE; each iteration is a pair-count partial aggregate
    * over vocab rows plus a 1-row argmax collect (model-scale, the
    * k-medians pattern), and the merge itself is a per-row aggregate()
    * fold — no shuffle grows with the corpus, only with |vocab|.
    * Lineage is cut every few iterations ([[Anchor]], the
    * g04/d13 iteration pattern) so the plan doesn't deepen linearly
    * in nMerges. Spec-verified against a literal single-machine BPE
    * in BpeSpec; the counting core is oracle-checked as t38. */
  def bpeTrain(documents: DataFrame, nMerges: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")
    var syms = Dedup.spread(documents)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      // split-by-empty keeps a trailing "" under Spark's limit=-1
      // semantics — filter it so no phantom empty symbol enters pairs
      .select(expr("filter(split(w, ''), x -> x != '')").as("syms"),
        col("wf"))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    val bpeLoop = new Anchor.Loop
    var it = 1
    var done = false
    while (it <= nMerges && !done) {
      val top = syms.filter(size(col("syms")) >= 2)
        .select(col("wf"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wf")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, c) = (top(0).getAs[String]("a"),
          top(0).getAs[String]("b"), top(0).getAs[Long]("c"))
        merges += ((it, a, b, a + b, c))
        val (ea, eb) = (esc(a), esc(b))
        syms = syms.select(expr(
          s"""aggregate(syms, CAST(array() AS ARRAY<STRING>),
             |  (acc, s) -> CASE WHEN size(acc) > 0
             |      AND element_at(acc, -1) = '$ea' AND s = '$eb'
             |    THEN concat(slice(acc, 1, size(acc) - 1),
             |      array('$ea$eb'))
             |    ELSE concat(acc, array(s)) END,
             |  acc -> acc)""".stripMargin).as("syms"), col("wf"))
        if (it % 4 == 0) syms = bpeLoop.cut(syms.toDF())
        it += 1
      }
    }
    // The result is driver-collected merge rows — even the FINAL syms
    // anchor is dead here, so close() releases it too (Anchor.Loop's
    // PeriodicCheckpointer cleanup keeps one anchor live mid-loop).
    bpeLoop.close()
    merges.toSeq.toDF("iter", "left", "right", "merged", "pair_count")
  }

  /** t43: apply a learned BPE merge list to the corpus — the encode
    * step every pretraining pipeline actually runs after [[bpeTrain]]
    * (Sennrich et al. 2016 §3: training yields the merge table; the
    * tokenizer is the table REPLAYED over text). Emits per-doc
    * (n_tokens, n_pieces, n_chars, chars_per_piece) — the fertility /
    * compression numbers a data pipeline reports per corpus slice.
    *
    * Encoding representation — the delimited-string replay: a word's
    * symbol sequence is rendered as `' ' + symbols.join("  ") + ' '`
    * (single sentinel space at each end, TWO spaces between symbols —
    * tokens are whitespace-split so symbols can never contain a
    * space), and applying merge (a,b) is ONE codegen'd
    * `replace(s, " a  b ", " ab ")`. The left-to-right non-overlapping
    * scan `replace` performs is exactly the greedy fold [[bpeTrain]]
    * uses (spec-asserted equal on the fixture vocab): the sentinel
    * spaces pin both symbol BOUNDARIES (" x  ab " can't match " x  a "
    * — the trailing sentinel fails on 'b'), and the replacement
    * re-emits both sentinels so consecutive pairs still match
    * (" a  b  a  b " → " ab  ab ", the [a,b,a,b] case). The identical
    * builtin exists in DuckDB, so the oracle replays the same strings.
    *
    * Scale posture: the merge replay runs over the |vocab| word table
    * (the token-domain collapse — ONE corpus-wide shuffle builds it),
    * m chained whole-stage-codegen string replaces over model-scale
    * rows, never the corpus; the word→n_pieces map then broadcast-joins
    * back to the exploded token stream (map-side, no second shuffle on
    * the corpus), and the per-doc rollup is one partial-agg shuffle
    * keyed by doc_id. At 100 TB: vocab is bounded (≤ tens of millions
    * of rows — still broadcastable as a 2-column long map; if not,
    * the join degrades to a shuffle join on `w`, still one exchange).
    * The only float op is the final per-doc division — one IEEE
    * divide, bitwise cross-engine.
    *
    * DEPTH BOUND: the replay compiles ONE `replace` expression per
    * merge, so the plan is `|merges|` operators deep — exact BPE and
    * ideal at fixture merge counts (≤ tens), but a production 32k-merge
    * tokenizer would build a 32k-deep expression tree (analyzer
    * recursion and codegen method-size limits fail far earlier). Past
    * ~a hundred merges, encode with [[bpeLongestMatchEncode]] (t46):
    * constant plan depth, vocabulary broadcast as DATA instead of
    * unrolled as PLAN. */
  def bpeEncode(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val docToks = Dedup.spread(documents)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val pieces = replayedVocab(documents, merges).select(col("w"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_pieces"))
    docToks.join(broadcast(pieces), Seq("w"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        col("n_chars"),
        (col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"))
      .orderBy(col("doc_id"))
  }

  /** The distinct-word table with each word's delimited replay string
    * after applying `merges` in order — [[bpeEncode]]'s core, factored
    * so the encode query, the longest-match parity spec, and the t47
    * round-trip all read ONE definition of the replay law. */
  private[operators] def replayedVocab(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val vocab0 = Dedup.spread(documents)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").distinct()
      .select(col("w"), concat(lit(" "),
        array_join(expr("filter(split(w, ''), x -> x != '')"), "  "),
        lit(" ")).as("s"))
    merges.foldLeft(vocab0) { case (v, (a, b)) =>
      v.withColumn("s", call_function("replace", col("s"),
        lit(s" $a  $b "), lit(s" $a$b ")))
    }
  }

  /** t46: LONGEST-MATCH encode against the trained vocabulary — the
    * constant-plan-depth form of [[bpeEncode]]. The replay form builds
    * one `replace` expression per merge: exact BPE and ideal at the
    * fixture's 8 merges, but a real 32k-merge tokenizer would compile a
    * 32k-deep expression tree (plan-size blowup past codegen limits —
    * the depth bound the replay form's scaladoc states). This is the
    * shape that scales: the merge list collapses to its SYMBOL SET once
    * (32k rows, broadcast), and each vocabulary word is segmented by
    * greedy maximal munch — at every position take the longest vocab
    * symbol that matches, else one (unknown) character — so the plan
    * has a FIXED number of operators regardless of merge count (the
    * WordPiece/SentencePiece vocabulary-encode discipline; Song et al.
    * 2021 "Fast WordPiece Tokenization" is the linear-time trie
    * statement of the same walk).
    *
    * Greedy longest-match over a BPE vocab is NOT guaranteed
    * piece-identical to merge-order replay in general — it diverges
    * exactly where a vocab symbol straddles a replay boundary (vocab
    * {an, ana} on 'banana': replay [b, an, ana], munch [b, ana, n, a];
    * BpeSpec carries the counter-example). On the driver fixture's
    * trained merges the two ARE piece-identical over every vocab word
    * (spec-asserted, and re-checked at sf0.01 this round), which is
    * what makes t43/t46 twin queries over the same corpus; both always
    * satisfy the reassembly law (pieces concatenate to the word).
    *
    * Relational shape (no per-row vocab scan, no trie object — the trie
    * is the equi-JOIN): explode each distinct word into (pos, len)
    * candidate windows bounded by the longest symbol, broadcast-join
    * the symbol set (equality on the substring = one hash probe per
    * window), keep the longest hit per position, and fold the
    * per-word step table once with a single `aggregate` (state =
    * cursor + emitted pieces; positions the cursor skips are inert).
    * Everything is vocab-scale; the corpus is touched only by the same
    * broadcast fertility join [[bpeEncode]] uses.
    *
    * Output schema matches t43 exactly — same fertility law, different
    * encoder — so the two queries are directly comparable. */
  def bpeLongestMatchEncode(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val pieces = longestMatchPieces(documents, merges)
      .select(col("w"), size(col("pieces")).cast("long").as("n_pieces"))
    val docToks = Dedup.spread(documents)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    docToks.join(broadcast(pieces), Seq("w"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        col("n_chars"),
        (col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"))
      .orderBy(col("doc_id"))
  }

  /** (w, pieces) via greedy longest-match — see
    * [[bpeLongestMatchEncode]]. Exposed for the parity spec. */
  private[operators] def longestMatchPieces(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val syms = merges.map { case (a, b) => a + b }.distinct
    val words = Dedup.spread(documents)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").distinct()
    longestMatchSegments(words, syms)
  }

  /** The greedy longest-match segmenter against an arbitrary multi-char
    * symbol list (single chars are the implicit fallback): per-position
    * longest vocab hit, then the cursor walk as ONE ordered aggregate
    * fold per word. Shared by the BPE encode face
    * ([[longestMatchPieces]]) and the unigram-LM trainer's E-step
    * ([[unigramTrain]]) — one segmentation rule, one implementation.
    * `words` must be a distinct (w) frame. */
  private[operators] def longestMatchSegments(words: DataFrame,
      syms: Seq[String]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val maxLen = (1 +: syms.map(_.length)).max
    val positions = words
      .select(col("w"),
        explode(sequence(lit(1), length(col("w")))).as("pos"))
    val matched =
      if (syms.isEmpty) positions.limit(0)
        .withColumn("step", lit(1))
      else positions
        .select(col("w"), col("pos"),
          explode(sequence(lit(2), lit(maxLen))).as("l"))
        .filter(col("pos") + col("l") - 1 <= length(col("w")))
        .withColumn("sym", expr("substring(w, pos, l)"))
        .join(broadcast(syms.toDF("sym")), Seq("sym"))
        .groupBy(col("w"), col("pos")).agg(max(col("l")).as("step"))
    positions.join(matched, Seq("w", "pos"), "left")
      .withColumn("step", coalesce(col("step"), lit(1)))
      .groupBy(col("w"))
      .agg(sort_array(collect_list(struct(col("pos"), col("step"))))
        .as("ps"))
      .withColumn("pieces", expr(
        """aggregate(ps,
          |  named_struct('p', 1, 'out', CAST(array() AS ARRAY<STRING>)),
          |  (acc, x) -> IF(x.pos = acc.p,
          |    named_struct('p', acc.p + x.step,
          |      'out', concat(acc.out,
          |        array(substring(w, x.pos, x.step)))),
          |    acc),
          |  acc -> acc.out)""".stripMargin))
      .select(col("w"), col("pieces"))
  }

  /** Per-piece weighted usage of the longest-match segmentation of
    * `words (w, wf)` under `syms` — the unigram trainer's M-step
    * counts: every emitted piece (vocab hits AND single-char
    * fallbacks) weighted by its word's corpus frequency, one keyed
    * aggregation. */
  private def segmentUsage(words: DataFrame,
      syms: Seq[String]): DataFrame =
    longestMatchSegments(words.select(col("w")), syms)
      .select(col("w"), explode(col("pieces")).as("piece"))
      .join(words, Seq("w"))
      .groupBy(col("piece")).agg(sum(col("wf")).as("usage"))

  /** t50: UNIGRAM-LM TOKENIZER TRAINING — the SentencePiece-style
    * counterpart (Kudo 2018) to the BPE family (t38/t43/t46–t49): BPE
    * GROWS a vocabulary bottom-up by merging; the unigram trainer
    * SHRINKS one top-down — seed an over-complete candidate-piece
    * table, then alternate E (segment the corpus under the current
    * vocabulary) and M (re-estimate piece usage; PRUNE the weakest
    * pieces) until the target size. Here: candidates are all 2..4-char
    * substrings weighted by word frequency, seeded at the top 24 by
    * (count desc, piece asc); two EM prune rounds cut to 16 then 12
    * multi-char pieces by segmentation USAGE (not raw substring count —
    * the whole point of the E-step: a piece only earns keep by actually
    * being chosen under competition); single chars are the permanent
    * fallback tier, so coverage is total by construction. Published
    * unigram-LM segments by Viterbi over Σ log p(piece); both engines'
    * log is libm (last-ulp risk), so the E-step uses the DETERMINISTIC
    * greedy longest-match rule both engines already share bit-for-bit
    * ([[longestMatchSegments]], the t46 encoder) — the EM prune
    * structure is preserved exactly, the segmentation rule is the
    * exchange-stable one.
    *
    * Output: the trained model artifact — one row per final-vocab piece
    * (multi-char survivors + used single-char fallbacks) with usage,
    * the corpus piece total, and `cost_half_bits` = floor(2·log2 total)
    * − floor(2·log2 usage): the negative log2-probability quantized at
    * HALF-BIT granularity, computed integer-exactly as
    * length(bin(x²))−1 in both engines — no libm anywhere. Overflow
    * headroom: x² stays in a long while totals < 3·10⁹ pieces (any
    * fixture and the ×8 stress by orders of magnitude); a 100-TB
    * deployment shards totals or drops to whole-bit granularity.
    *
    * Plan shape: one corpus tokenize + word-frequency agg (anchored —
    * four downstream passes reuse it); candidate counting is one
    * substring explode + keyed agg; each EM round is the audited
    * longest-match join (positions × ≤24-row broadcast vocab) + a
    * keyed usage agg; the vocab between rounds is a ≤24-row COLLECTED
    * model artifact (the bpeTrain driver-loop stance — bounded rows,
    * trained once per (session, fixture) via SparkEntry's cache, every
    * consumer reads the artifact). The 1-row total is an intended
    * broadcast cross (the dq10 pattern). */
  def unigramTrain(documents: DataFrame, candLen: Int = 4,
      seedSize: Int = 24, pruneSizes: Seq[Int] = Seq(16, 12)): DataFrame = {
    val toks = Dedup.spread(documents)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val words = graft.operators.Anchor.cut(
      toks.groupBy(col("w")).agg(count(lit(1)).as("wf")))
    val cands = words
      .select(col("w"), col("wf"),
        explode(sequence(lit(1), length(col("w")))).as("pos"))
      .select(col("w"), col("wf"), col("pos"),
        explode(sequence(lit(2), lit(candLen))).as("l"))
      .filter(col("pos") + col("l") - 1 <= length(col("w")))
      .select(expr("substring(w, pos, l)").as("piece"), col("wf"))
      .groupBy(col("piece")).agg(sum(col("wf")).as("c"))
    val seed = cands.orderBy(col("c").desc, col("piece").asc)
      .limit(seedSize).collect().map(_.getString(0)).toSeq
    val vocab = pruneSizes.foldLeft(seed) { (v, s) =>
      segmentUsage(words, v)
        .filter(length(col("piece")) > 1)
        .orderBy(col("usage").desc, col("piece").asc).limit(s)
        .collect().map(_.getString(0)).toSeq
    }
    val usage = segmentUsage(words, vocab)
    val total = usage.agg(sum(col("usage")).as("total"))
    // `words` stays anchored: the returned frame is lazy over it (a
    // returned DataFrame's own last anchor is never released)
    usage.crossJoin(broadcast(total))
      .select(col("piece"),
        length(col("piece")).cast("long").as("piece_len"),
        col("usage"), col("total"),
        ((length(bin(col("total") * col("total"))) - 1) -
          (length(bin(col("usage") * col("usage"))) - 1)).cast("long")
          .as("cost_half_bits"))
      .orderBy(col("cost_half_bits").asc, col("piece").asc)
  }

  /** t51: DOCUMENT SCORING UNDER THE TRAINED UNIGRAM LM — the intrinsic
    * evaluation + quality-filter face of t50's artifact, closing the
    * tokenizer loop train → encode → score. This is the CCNet move
    * (Wenzek et al. 2020) with the corpus-trained subword LM in the
    * KenLM seat: segment each document under the trained vocabulary,
    * charge each piece its model cost, and keep the documents the
    * model compresses at better-than-corpus-average rate (t17/t42
    * score under WORD n-gram stats; this scores under the trained
    * TOKENIZER LM — the artifact a release actually ships, so the
    * same number doubles as the tokenizer's compression eval).
    *
    * Segmentation reuses [[longestMatchSegments]] on the model's
    * multi-char pieces. Equivalence note: the trained artifact only
    * lists pieces with usage > 0, but segmenting under the used subset
    * equals segmenting under the full pruned vocabulary — a piece with
    * zero usage is never the unique longest match at any
    * cursor-visited position (if it were, the cursor would have chosen
    * it and its usage would be positive), so dropping it changes no
    * visited step. Pieces absent from the model entirely (OOV against
    * genuinely new text) fall back to the single-char tier and are
    * charged the unseen-piece cost floor(2·log2 total) — the usage = 1
    * limit of the cost law, integer-exact via the same
    * length(bin(x²))−1 identity.
    *
    * Float discipline: per-doc totals are exact long sums of integer
    * half-bit costs; bits_per_piece is ONE division. The keep decision
    * never touches floats at all: doc rate ≤ corpus rate is the
    * cross-multiplied integer compare doc_cost·Σpieces ≤
    * Σcost·doc_pieces. Overflow headroom: both products stay in a long
    * while doc_cost·corpus_pieces < 2⁶³ — doc costs run ~60 half-bits
    * per piece, so ~10⁵-piece docs are safe against ~10¹² corpus
    * pieces; a 100-TB corpus moves the compare to DECIMAL internally
    * (counts only, never published).
    *
    * Plan shape: segmentation + costing run at VOCAB scale (distinct
    * words × ≤|model| broadcast); the corpus is touched by one
    * tokenize pass riding the same broadcast per-word join
    * [[bpeLongestMatchEncode]] uses, then one doc-keyed agg; the
    * corpus totals are a 1-row broadcast cross (the dq10 pattern). */
  def unigramScore(documents: DataFrame, model: DataFrame): DataFrame = {
    // bounded trained-artifact collect (≤ the trained vocab size —
    // the bpeTrain/merges stance): the segmenter needs the multi-char
    // symbol list as literals
    val syms = model.filter(col("piece_len") > 1)
      .select(col("piece")).collect().map(_.getString(0)).toSeq
    val costs = model.select(col("piece"), col("cost_half_bits"))
    // the unseen-piece cost: usage = 1 ⇒ cost = floor(2·log2 total),
    // from the model's own total column (1 distinct value)
    val oov = model
      .agg(max(length(bin(col("total") * col("total"))) - 1)
        .cast("long").as("oov_cost"))
    val words = Dedup.spread(documents)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").distinct()
    val wordCost = longestMatchSegments(words, syms)
      .select(col("w"), explode(col("pieces")).as("piece"))
      .join(broadcast(costs), Seq("piece"), "left")
      .crossJoin(broadcast(oov))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("w_pieces"),
        sum(coalesce(col("cost_half_bits"), col("oov_cost")))
          .as("w_cost"))
    val perDoc = Dedup.spread(documents)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(wordCost), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("w_pieces")).as("n_pieces"),
        sum(col("w_cost")).as("cost_half_bits"))
    val corpus = perDoc.agg(sum(col("cost_half_bits")).as("tot_cost"),
      sum(col("n_pieces")).as("tot_pieces"))
    perDoc.crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        col("cost_half_bits"),
        (col("cost_half_bits").cast("double") /
          (col("n_pieces") * 2L).cast("double")).as("bits_per_piece"),
        (col("cost_half_bits") * col("tot_pieces") <=
          col("tot_cost") * col("n_pieces")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** t52: ZIPF OCTAVE PROFILE — the rank-free transpose of the Zipf
    * rank-frequency plot, the corpus-health datasheet row next to
    * p14's card: bucket the vocabulary by frequency OCTAVE (octave =
    * floor(log2 f), the t50 length(bin(f))−1 identity) and report per
    * octave the type count, token mass, corpus shares, and the
    * cumulative token share carried by terms at or above the octave.
    * For a Zipf(α≈1) corpus the per-octave token mass is ~flat and the
    * type counts halve upward — a hot template/boilerplate injection
    * shows as a bulging top octave, OCR noise or tokenizer damage as a
    * bloated octave 0 (hapaxes); the same frame gives the Heaps-law
    * point (V types over T tokens). No rank variable is ever computed:
    * a global rank needs a vocabulary-wide sort funnel; the octave is
    * a per-row integer expression, which is why this shape scales and
    * the classic log-log regression does not (its log is libm anyway).
    *
    * Float discipline: all counts/masses are exact longs; shares are
    * one division each; the cumulative mass is an integer sum folded
    * octave-descending inside ONE global sorted-array aggregate (the
    * dq02 pattern: ≤ 63 octave rows collapse into a partial-merge
    * aggregate, never a single-partition window funnel).
    *
    * Plan shape: one corpus tokenize → (term) partial-agg shuffle →
    * ≤ 63-row octave agg; the fold and the 1-row totals ride the
    * bounded array. */
  def zipfProfile(documents: DataFrame): DataFrame = {
    val oct = Dedup.spread(documents)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select((length(bin(col("f"))) - 1).cast("long").as("octave"),
        col("f"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_terms"), sum(col("f")).as("token_mass"))
    oct
      .groupBy()
      .agg(sort_array(collect_list(struct(col("octave"), col("n_terms"),
        col("token_mass"))), asc = false).as("xs"))
      .select(explode(expr(
        """aggregate(xs,
          |  named_struct('cum', CAST(0 AS BIGINT),
          |    'v', aggregate(xs, CAST(0 AS BIGINT),
          |      (a, x) -> a + x.n_terms),
          |    't', aggregate(xs, CAST(0 AS BIGINT),
          |      (a, x) -> a + x.token_mass),
          |    'out', CAST(array() AS ARRAY<STRUCT<octave: BIGINT,
          |      n_terms: BIGINT, token_mass: BIGINT, cum_mass: BIGINT,
          |      v_total: BIGINT, t_total: BIGINT>>)),
          |  (acc, x) -> named_struct('cum', acc.cum + x.token_mass,
          |    'v', acc.v, 't', acc.t,
          |    'out', concat(acc.out, array(named_struct(
          |      'octave', x.octave, 'n_terms', x.n_terms,
          |      'token_mass', x.token_mass,
          |      'cum_mass', acc.cum + x.token_mass,
          |      'v_total', acc.v, 't_total', acc.t)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.octave").as("octave"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(r.octave AS INT))")
          .as("f_lo"),
        col("r.n_terms").as("n_terms"),
        col("r.token_mass").as("token_mass"),
        (col("r.n_terms").cast("double") /
          col("r.v_total").cast("double")).as("type_frac"),
        (col("r.token_mass").cast("double") /
          col("r.t_total").cast("double")).as("mass_frac"),
        (col("r.cum_mass").cast("double") /
          col("r.t_total").cast("double")).as("cum_mass_frac"))
      .orderBy(col("octave"))
  }

  /** t48: TOKENIZER FERTILITY BY SOURCE — the tokenizer-fairness
    * datasheet row (Ahia et al. 2023 "Do All Languages Cost the Same?":
    * a tokenizer trained on a skewed mixture fragments the
    * under-represented slices into more pieces per word, so their
    * documents cost more tokens per character — measured here per
    * SOURCE over the corpus-trained merge list). Per source: document,
    * token, piece, and char totals plus the two fertility ratios
    * (chars_per_piece — higher is better compression for that slice;
    * pieces_per_token — the per-word fragmentation factor). The table a
    * release ships next to p14's card to show which slices the
    * tokenizer serves worst.
    *
    * Scale: t43's vocab-replay pieces broadcast back to the exploded
    * token stream, one (source)-keyed partial agg over the corpus scan
    * (distinct-doc count rides the same shuffle); two IEEE divides per
    * output row. */
  def fertilityBySource(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val pieces = replayedVocab(documents, merges).select(col("w"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_pieces"))
    val docToks = Dedup.spread(documents)
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    docToks.join(broadcast(pieces), Seq("w"))
      .groupBy(col("source")).agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_pieces"), col("n_chars"),
        (col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"),
        (col("n_pieces").cast("double") / col("n_tokens").cast("double"))
          .as("pieces_per_token"))
      .orderBy(col("source"))
  }

  /** t47: the DETOKENIZE round trip — the invariant every pretraining
    * pipeline asserts before shipping tokens: decode(encode(text))
    * reproduces the text modulo whitespace normalization. Encoding is
    * t43's replayed piece table ([[replayedVocab]] — one source of
    * truth); decoding strips the delimiters (symbols never contain a
    * space, so deleting every space from the replay string IS piece
    * concatenation); reassembly joins each document's decoded tokens in
    * their original order with single spaces, and the verdict compares
    * md5 digests against the same-normalized original. A merge that
    * glued across word boundaries, dropped a sentinel, or lost a
    * character flips `round_trip_ok` on exactly the damaged docs.
    *
    * Scale: the corpus is tokenized with ORDER (posexplode) once; the
    * decoded-word map is vocab-scale and broadcast; the reassembly is
    * one doc_id-keyed aggregate whose state is the document's token
    * list (bounded by document length — the same state every
    * sessionizer carries). The md5 comparison makes the output
    * counts-only verifiable at any scale. */
  def detokenizeRoundTrip(documents: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val decoded = replayedVocab(documents, merges)
      .select(col("w"),
        call_function("replace", col("s"), lit(" "), lit(""))
          .as("w_decoded"))
    val toks = Dedup.spread(documents)
      .select(col("doc_id"),
        posexplode(expr("filter(split(trim(text), '\\\\s+'), " +
          "x -> x != '')")).as(Seq("pos", "w")))
    toks.join(broadcast(decoded), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ")).as("original_md5"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("w_decoded")))),
          s => s.getField("w_decoded")), " ")).as("decoded_md5"))
      .select(col("doc_id"), col("n_tokens"), col("original_md5"),
        col("decoded_md5"),
        (col("original_md5") === col("decoded_md5")).as("round_trip_ok"))
      .orderBy(col("doc_id"))
  }

  /** The t35 keep verdict as ONE stateless column expression over
    * (doc_id, text): the page render and every rule metric computed
    * with higher-order array functions instead of explode + groupBy,
    * so the streaming intake gate can apply the full Gopher rule set
    * per-row — no shuffle, no state, watermark-free. Parity with
    * [[gopherRules]].keep is spec-asserted bitwise over the fixture
    * corpus. Interpreted lambdas (no codegen) — acceptable at intake:
    * one pass per arriving doc, the zip_with trade s30 documents. */
  def gopherKeepExpr(docId: Column, text: Column): Column = {
    val toks = tokens(text)
    val lastLine = floor((size(toks).cast("double") - 1.0) / 6.0)
      .cast("long")
    val rawLines = transform(sequence(lit(0L), lastLine),
      ln => array_join(slice(toks, (ln * 6 + 1).cast("int"), lit(6)), " "))
    val decorated = transform(rawLines, (line, i) => {
      val ln = i.cast("long")
      when((docId + ln) % 3 === 0, concat(line, lit(".")))
        .when((docId + ln) % 7 === 1, concat(line, lit("...")))
        .when((docId + ln) % 5 === 2, concat(lit("- "), line))
        .otherwise(line)
    })
    val extra = when(docId % 4 === 0, lit("lorem ipsum dolor sit amet."))
      .when(docId % 4 === 1, lit("function() { return 42; }"))
      .when(docId % 4 === 2, lit("# header ## section 42"))
      .otherwise(lit("subscribe to the newsletter and share with friends."))
    val lines = concat(decorated, array(extra))
    val words = flatten(transform(lines, l => split(l, " ")))
    val nWords = size(words).cast("long")
    val sumChars = aggregate(words, lit(0L), (a, w) => a + length(w))
    val alphaWords =
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val nStops = size(array_intersect(array_distinct(words),
      array(GopherStops.map(lit): _*))).cast("long")
    val nLines = size(lines).cast("long")
    val bullets =
      size(filter(lines, l => l.startsWith("- "))).cast("long")
    val ellLines =
      size(filter(lines, l => l.endsWith("..."))).cast("long")
    val hashMarks = aggregate(lines, lit(0L),
      (a, l) => a + (length(l) - length(regexp_replace(l, "#", ""))))
    val ellChars = aggregate(lines, lit(0L), (a, l) =>
      a + (length(l) - length(regexp_replace(l, "\\.\\.\\.", ""))))
    val ellMarks = (ellChars / 3).cast("long")
    gopherKeep(Map("n_lines" -> nLines, "n_words" -> nWords,
      "sum_word_chars" -> sumChars, "alpha_words" -> alphaWords,
      "hash_marks" -> hashMarks, "ellipsis_marks" -> ellMarks,
      "bullet_lines" -> bullets, "ellipsis_lines" -> ellLines,
      "n_required_stops" -> nStops))
  }

  /** t39: GLOBAL line-level deduplication (C4's "discard any
    * three-sentence span seen before", Raffel et al. 2020 §2.2, at
    * line grain over the page render): every distinct line keeps its
    * FIRST occurrence corpus-wide — ordered by (doc_id, line_no) —
    * and every other occurrence is dropped; the injected boilerplate
    * extras (shared by ~¼ of docs each) are exactly the repeated-span
    * population the rule exists for. Per doc: survival counts and the
    * md5 of the surviving text, since reassembly is again where the
    * operator can silently break.
    *
    * Determinism + scale: the keeper is min(doc_id·2000000 + line_no)
    * per line — an order-free partial-aggregating MIN on an encoded
    * key (line_no < 2e6 by construction), NOT a per-line row_number
    * window: a hot boilerplate line's occurrences form one window
    * partition at web scale, while the MIN combines map-side. One
    * line-keyed shuffle + one doc-keyed aggregate. */
  def globalLineDedup(documents: DataFrame): DataFrame = {
    val lines = syntheticLines(documents)
      .withColumn("occ", col("doc_id") * 2000000L + col("line_no"))
    val keeper = lines.groupBy(col("line"))
      .agg(min(col("occ")).as("first_occ"))
    lines.join(keeper, "line")
      .withColumn("survives", col("occ") === col("first_occ"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("survives"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(
          when(col("survives"), struct(col("line_no"), col("line")))))
          .as("kept"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_dropped"),
        md5(array_join(transform(col("kept"),
          x => x.getField("line")), "\n")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** t44: PER-DOMAIN boilerplate-line profile — the site-level template
    * signal CCNet (Wenzek et al. 2020) and every serious web pipeline
    * compute before cutting: t39 dedups lines GLOBALLY, but nav bars,
    * footers, and cookie banners are per-SITE templates — a line
    * repeated across ≥2 distinct documents of the same registered
    * domain ([[Dedup.registeredDomain]] over the d18 synthetic URL) is
    * that site's boilerplate. Emits, per domain: document count, line
    * occurrences, distinct lines, boilerplate lines (distinct lines
    * with in-domain doc-frequency ≥ 2), boilerplate occurrences, and
    * the occurrence fraction — the table a pipeline owner reads to
    * decide which sites need template stripping before quality
    * scoring (boilerplate inflates t01-style counts).
    *
    * Determinism: all counts are exact integers; the single fraction
    * is ONE double division of exact longs (the t42 discipline).
    *
    * Scale: the line render is t39's scan-stage machinery; the domain
    * attach is a map-side expression (no URL table join); then two
    * (domain, line)-keyed aggregates with map-side combine and a
    * (domain, line) join back — a hot template line concentrates ONE
    * key, AQE skew territory like t39's hot line, never a collected
    * per-domain line list. Output is domain-count sized. */
  def domainBoilerplate(documents: DataFrame): DataFrame = {
    val lines = syntheticLines(documents)
    val domains = documents.select(col("doc_id"),
      Dedup.registeredDomain(Dedup.syntheticUrl(col("doc_id")))
        .as("domain"))
    val dl = lines.join(domains, "doc_id")
    val lineDf = dl.select(col("domain"), col("line"), col("doc_id"))
      .distinct()
      .groupBy(col("domain"), col("line"))
      .agg(count(lit(1)).as("line_docs"))
    val perLines = lineDf.groupBy(col("domain")).agg(
      count(lit(1)).as("n_distinct_lines"),
      sum(when(col("line_docs") >= 2, 1L).otherwise(0L))
        .as("n_boilerplate_lines"))
    val occ = dl.join(lineDf, Seq("domain", "line"))
      .groupBy(col("domain")).agg(
        count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_line_occurrences"),
        sum(when(col("line_docs") >= 2, 1L).otherwise(0L))
          .as("n_boilerplate_occurrences"))
    occ.join(perLines, "domain")
      .select(col("domain"), col("n_docs"), col("n_line_occurrences"),
        col("n_distinct_lines"), col("n_boilerplate_lines"),
        col("n_boilerplate_occurrences"),
        (col("n_boilerplate_occurrences").cast("double") /
          col("n_line_occurrences").cast("double"))
          .as("boilerplate_frac"))
      .orderBy(col("domain"))
  }

  /** The ftfy-style mojibake repair map (UTF-8 read as Latin-1 —
    * public knowledge): each pair is (damage, repair). Includes one
    * pattern the injected corpus never contains (Ã¤ → ä) so the
    * repair pass is proven no-op-safe on clean text. */
  val MojibakeMap: Seq[(String, String)] = Seq(
    ("\u00c3\u00a9", "\u00e9"), // C3/A9 pair -> e-acute
    ("\u00c3\u00bc", "\u00fc"), // C3/BC pair -> u-umlaut
    ("\u00e2\u20ac\u2122", "\u2019"), // E2/20AC/2122 -> right quote
    ("\u00c3\u00a4", "\u00e4")) // C3/A4 pair -> a-umlaut (never injected)

  /** The two injected damage suffixes, shared verbatim with the
    * DuckDB oracle so the byte sequences can never drift. */
  val MojiInjectA: String = " caf\u00c3\u00a9 men\u00c3\u00bc"
  val MojiInjectB: String = " don\u00e2\u20ac\u2122t worry"

  /** t41: encoding-damage (mojibake) detection and repair — the
    * ftfy-lite cleaning pass a web corpus needs before tokenization:
    * UTF-8 bytes decoded as Latin-1 leave signatures (Ã©, â€™) that
    * poison vocabulary and dedup alike. The fixture text is clean
    * ASCII, so damage is INJECTED deterministically (the t06/t13
    * discipline): doc_id % 3 picks a damaged suffix; % 3 == 2 stays
    * clean — the repair must prove itself a no-op there.
    *
    * Detection counts occurrences per pattern via the replace
    * length-delta (literal, division by the pattern length); repair
    * is the nested literal replace chain in MAP ORDER (longest
    * patterns are disjoint from the 2-char ones here, so order only
    * matters for determinism, which the fixed chain provides). Pure
    * scan-stage string work, no shuffle but the presentation sort. */
  def mojibakeRepair(documents: DataFrame): DataFrame = {
    val raw = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(MojiInjectA)))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(MojiInjectB)))
      .otherwise(col("text"))
    val counts = MojibakeMap.map { case (pat, _) =>
      ((length(col("raw")) -
        length(expr(s"replace(raw, '$pat', '')"))) / pat.length)
        .cast("long")
    }
    val fixed = expr(MojibakeMap.foldLeft("raw") {
      case (inner, (pat, rep)) => s"replace($inner, '$pat', '$rep')"
    })
    documents
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        counts.reduce(_ + _).as("n_mojibake"),
        length(col("raw")).as("raw_len"),
        fixed.as("fixed"))
      .select(col("doc_id"), col("n_mojibake"),
        col("raw_len").cast("long").as("raw_len"),
        length(col("fixed")).cast("long").as("fixed_len"),
        (col("raw_len") =!= length(col("fixed"))).as("changed"),
        md5(col("fixed")).as("fixed_md5"))
      .orderBy(col("doc_id"))
  }

  /** p08: the curated-corpus disposition table — the three round-13
    * gates composed in the order a modern pretraining pipeline runs
    * them (RefinedWeb/FineWeb shape): structural quality first
    * ([[gopherRules]]), then line-level cleaning ([[c4LineFilter]],
    * dropping docs cleaned to nothing), then the LM-score cut
    * ([[ccnetBuckets]], dropping the tail tercile). Every doc gets a
    * verdict with the FIRST failing gate as the drop reason — the
    * audit view pipeline owners actually read ("how much did each
    * gate cost me?"), which a bare keep-list cannot answer.
    *
    * Plan shape: three doc-keyed frames (each already one or two
    * doc-keyed aggregates over the shared page render) meeting in
    * doc-keyed equi-joins — no new corpus-scale stage beyond its
    * inputs; output is one row per doc. */
  /** The p08 gate columns — gopher keep, c4 kept-line count and
    * cleaned length — from ONE page render and ONE doc-keyed aggregate
    * (r22): composing the public [[gopherRules]]/[[c4LineFilter]]
    * frames rendered [[syntheticLines]] three times (gopher's line
    * grain, gopher's word explode, c4's line grain) and met in two
    * doc-keyed joins, with no subtree reuse across them. Every law is
    * the originals', with the word-grain metrics folded per LINE
    * first:
    *  - split(line, " ") partitions the line around single-space
    *    separators, so n_words = Σ size(parts) and sum_word_chars =
    *    Σ (length(line) − (words_in_line − 1)) — the separator
    *    identity, exact for any line including empty parts;
    *  - alpha_words counts parts containing a letter (same rlike);
    *  - the distinct-required-stopword count is the size of the
    *    deduplicated union of per-line stop intersections — order-free
    *    under collect_list's partition nondeterminism;
    *  - c4's keep predicate, kept-line reassembly (sort_array over
    *    (line_no, line) structs) and cleaned length are verbatim.
    * Pinned equal to the joined public frames in QualityFilterSpec. */
  private[operators] def gateMetrics(documents: DataFrame): DataFrame = {
    val stopsArr = array(GopherStops.map(lit): _*)
    val agg = syntheticLines(documents)
      .withColumn("wn", size(split(col("line"), " ")).cast("long"))
      .withColumn("keepl", c4KeepLine)
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_lines"),
        sum(when(expr("left(line, 2)") === "- ", 1L).otherwise(0L))
          .as("bullet_lines"),
        sum(when(expr("right(line, 3)") === "...", 1L).otherwise(0L))
          .as("ellipsis_lines"),
        sum(length(col("line")) - length(expr("replace(line, '#', '')")))
          .cast("long").as("hash_marks"),
        expr("CAST(sum(length(line) - length(replace(line, '...', '')))" +
          " div 3 AS BIGINT)").as("ellipsis_marks"),
        sum(col("wn")).as("n_words"),
        sum(length(col("line")).cast("long") - (col("wn") - 1L))
          .as("sum_word_chars"),
        sum(size(filter(split(col("line"), " "),
          w => w.rlike("[A-Za-z]"))).cast("long")).as("alpha_words"),
        size(array_distinct(flatten(collect_list(array_intersect(
          array_distinct(split(col("line"), " ")), stopsArr)))))
          .cast("long").as("n_required_stops"),
        sum(when(col("keepl"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(
          when(col("keepl"), struct(col("line_no"), col("line")))))
          .as("kept"))
    agg.select(col("doc_id"), gopherKeep().as("gopher_keep"), col("n_kept"),
      length(array_join(transform(col("kept"), x => x.getField("line")),
        "\n")).cast("long").as("n_clean_chars"))
  }

  def curatedCorpusV2(documents: DataFrame): DataFrame = {
    val g = gateMetrics(documents)
    val b = ccnetBuckets(documents)
      .select(col("doc_id"), col("ppl_bucket"))
    documents.select(col("doc_id"), col("lang"), col("source"))
      .join(g, "doc_id").join(b, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        col("gopher_keep"), col("n_kept"), col("n_clean_chars"),
        col("ppl_bucket"),
        when(!col("gopher_keep"), "drop_gopher")
          .when(col("n_kept") === 0L, "drop_empty")
          .when(col("ppl_bucket") === "tail", "drop_ppl")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** p11: LEARNED quality-filter application — the step the p07
    * scaladoc promises: score every document's feature row with a
    * linear classifier and compare the learned disposition against the
    * heuristic gate pipeline (p08), closing the FineWeb/DCLM loop
    * (heuristic gates label a seed set → a cheap linear model learns
    * to imitate/extend them → the MODEL becomes the corpus filter).
    * Weights are FIXED LITERALS (the public logistic-regression form;
    * training is out of scope offline — what this operator proves is
    * the application plan): margin = w·x + b over (quality, mean_bits,
    * dup2_frac, is_code), and keep = margin > 0. The sigmoid is
    * deliberately NOT applied — it is monotone, so thresholding the
    * margin is thresholding the probability, and skipping it keeps the
    * comparison free of libm ulp drift (the t42 pow() stance).
    *
    * Float determinism: every feature is an oracle-green double; the
    * margin is the identical left-associated chain in both engines, so
    * the > 0 cut and the min/max extremes compare bitwise.
    *
    * Output: the (gate verdict × learned keep) agreement table — the
    * confusion matrix a pipeline owner reads before swapping the gates
    * for the model — with per-cell margin extremes (min/max are
    * shuffle-order-free; no float sums).
    *
    * Scale: the feature table is p07's plan (doc-keyed aggregates);
    * scoring is ONE map-side expression over it; the agreement rollup
    * is a partial agg on a ≤8-key space. Nothing new shuffles. */
  /** The p11 classifier's per-doc margin — ONE source of truth shared
    * by p11's agreement table and p13's schedule, so the keep law can
    * never drift between the eval and the export that ships it. */
  private[operators] def learnedMargin(documents: DataFrame): DataFrame = {
    val feats = qualityFeatures(documents)
      .select(col("doc_id"), col("quality"), col("mean_bits"),
        col("dup2_frac"), col("is_code"))
    val margin = lit(6.0) * col("quality") -
      lit(0.08) * col("mean_bits") -
      lit(2.5) * coalesce(col("dup2_frac"), lit(0.0)) -
      lit(1.5) * when(col("is_code"), lit(1.0)).otherwise(lit(0.0)) -
      lit(3.2)
    feats.select(col("doc_id"), margin.as("margin"))
  }

  def learnedQualityFilter(documents: DataFrame): DataFrame = {
    val gates = curatedCorpusV2(documents)
      .select(col("doc_id"), col("verdict"))
    learnedMargin(documents)
      .join(gates, Seq("doc_id"))
      .groupBy(col("verdict"), (col("margin") > 0.0).as("learned_keep"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("margin")).as("min_margin"),
        max(col("margin")).as("max_margin"))
      .orderBy(col("verdict"), col("learned_keep"))
  }

  /** p13: the STAGED-PRETRAINING data schedule (the two-stage /
    * anneal recipe of OLMo 1.7 and MiniCPM: bulk data first, the
    * highest-quality slice reserved for the final decay phase) —
    * learned-keep documents ([[learnedMargin]] > 0, p11's law) are
    * ranked by margin and split into phase terciles (lowest third →
    * stage1_bulk, middle → stage2_bulk, top → stage3_anneal), then
    * laid onto p12's shard grid: per (phase, shard) — doc count,
    * exact token sum, margin extremes (order-free min/max, no float
    * sums), and p12's order-free content checksum (published as the
    * fixed-width string [[Sampling.checksumRender]] mandates). This
    * is the table a staged run trains FROM: each phase is a shard set
    * with attested sizes and content, so the anneal slice is
    * reproducible and auditable rather than "whatever sorted last".
    *
    * Determinism: margins are p11's oracle-green doubles; the phase
    * boundary is the exact (margin, doc_id) rank — computed with the
    * t37/t42 two-level parallel rank, NEVER a single-partition window
    * — against the exact keeper count; shard key, token law, and
    * digest are [[Sampling.shardBase]]'s, shared with p12 so the two
    * manifests can never drift.
    *
    * Scale: the margin is one map-side expression over p07's audited
    * feature plan; the rank is bucket-parallel windows + one
    * broadcast offset fold; the rollup is a (phase, shard)-keyed
    * partial agg → ≤ 3·16 rows. */
  def annealSchedule(documents: DataFrame): DataFrame = {
    val keep = learnedMargin(documents).filter(col("margin") > 0.0)
    val total = keep.agg(count(lit(1)).as("n_docs"))
    val phased = pplTerciles(keep, total, valueCol = "margin")
      .select(col("doc_id"), col("margin"),
        when(col("ppl_bucket") === "head", "stage1_bulk")
          .when(col("ppl_bucket") === "middle", "stage2_bulk")
          .otherwise("stage3_anneal").as("phase"))
    phased.join(Sampling.shardBase(documents), Seq("doc_id"))
      .groupBy(col("phase"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("margin")).as("min_margin"),
        max(col("margin")).as("max_margin"),
        Sampling.checksumRender(sum(col("content_digest")))
          .as("content_checksum"))
      .orderBy(col("phase"), col("shard"))
  }

  /** p14: the per-source DATASET CARD (Datasheets for Datasets /
    * Dolma's data-card discipline — the table a release ships beside
    * the corpus): per source — document and exact token counts, the
    * p08 gate-verdict breakdown (how much of this source survives
    * curation, and which gate eats the rest), the micros-quantized
    * quality mass (order-free exact longs; mean = one division by the
    * reader), and the exact-duplicate exposure (docs whose d01 content
    * digest is shared). Every signal is an already-audited operator's
    * law — t02's quality, p08's verdicts, d01's digest — re-aggregated
    * by source, so the card can never disagree with the pipeline that
    * produced it.
    *
    * Scale: three doc-keyed joins of audited per-doc plans plus one
    * digest-keyed dup count, then a single (source)-keyed partial agg
    * → sources-sized output. */
  def datasetCard(documents: DataFrame): DataFrame = {
    // n_tokens/quality are t02's own per-row expressions — inlined
    // (r22, the p07 stance) instead of a doc-keyed self-join against
    // the t32-shaped qualityScore frame; the dup-exposure count keeps
    // d01's digest law but flags via ONE digest-keyed window instead
    // of the digest-histogram self-join (same counts, one exchange).
    val gates = curatedCorpusV2(documents)
      .select(col("doc_id"), col("verdict"))
    val dgW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dg"))
    val dupFlag = documents
      .select(col("doc_id"), Dedup.contentDigest(col("text")).as("dg"))
      .select(col("doc_id"), (count(lit(1)).over(dgW) > 1).as("is_dup"))
    documents.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        qualityExpr(col("text")).as("quality"))
      .join(gates, "doc_id").join(dupFlag, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        count(when(col("verdict") === "keep", 1)).as("n_keep"),
        count(when(col("verdict") === "drop_gopher", 1))
          .as("n_drop_gopher"),
        count(when(col("verdict") === "drop_empty", 1))
          .as("n_drop_empty"),
        count(when(col("verdict") === "drop_ppl", 1)).as("n_drop_ppl"),
        sum(floor(col("quality") * lit(1000000.0)).cast("long"))
          .as("quality_fp_sum"),
        count(when(col("is_dup"), 1)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_keep"), col("n_drop_gopher"), col("n_drop_empty"),
        col("n_drop_ppl"), col("quality_fp_sum"), col("n_dup_docs"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_frac"))
      .orderBy(col("source"))
  }

  /** t45: HEAPS-LAW vocabulary growth — distinct-type count at nested
    * deterministic corpus prefixes (1/16, 1/8, 1/4, 1/2, all of the
    * docs by shuffle-key order), the curve that answers "is more data
    * still buying new vocabulary, or are we re-crawling the same
    * text?" — flattening ahead of the Heaps V = K·Nᵝ trend is the
    * corpus-level duplication signal that motivates the d-suite, and
    * tokenizer training (t38/t43) reads the same curve to size its
    * vocab. The exponent itself is deliberately NOT emitted: it needs
    * a log, and libm ulps differ across engines (the t42 pow stance);
    * the raw (n_tokens, vocab) pairs ARE the deliverable.
    *
    * Prefixes nest by construction — doc tier = value of the first
    * hex digit of [[Sampling.sampleKey]] (a deterministic uniform
    * draw, the t08/p12 idiom), prefix t = docs with tier < t — so no
    * ranking, no sorting, no seed: the same docs are "first" in every
    * engine and every rerun.
    *
    * Scale: vocab at EVERY prefix from ONE pass — per-type
    * MIN(tier) (one token-keyed shuffle with map-side combine, the
    * t20 shape) collapses the corpus to its vocabulary, then a 16-row
    * tier histogram joined to 5 thresholds; doc/token totals ride an
    * equally tiny per-tier histogram. Nothing rescans per prefix. */
  def vocabGrowth(documents: DataFrame): DataFrame = {
    val tiered = documents.select(col("doc_id"), col("text"))
      .withColumn("hexv",
        (call_function("locate",
          substring(Sampling.sampleKey(col("doc_id")), 1, 1),
          lit("0123456789abcdef")) - 1).cast("long"))
    val spark = documents.sparkSession
    val th = broadcast(spark.createDataFrame(
        Seq(1L, 2L, 4L, 8L, 16L).map(Tuple1(_))).toDF("prefix_16ths"))
    val typeMin = tiered
      .select(col("hexv"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("hexv")).as("min_hexv"))
      .groupBy(col("min_hexv")).agg(count(lit(1)).as("n_types"))
    val voc = typeMin.join(th, col("min_hexv") < col("prefix_16ths"))
      .groupBy(col("prefix_16ths")).agg(sum(col("n_types")).as("vocab_types"))
    val docHist = tiered
      .select(col("hexv"),
        size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("hexv"))
      .agg(count(lit(1)).as("nd"), sum(col("nt")).as("nt_sum"))
    val dm = docHist.join(th, col("hexv") < col("prefix_16ths"))
      .groupBy(col("prefix_16ths"))
      .agg(sum(col("nd")).as("n_docs"), sum(col("nt_sum")).as("n_tokens"))
    dm.join(voc, Seq("prefix_16ths"))
      .select(col("prefix_16ths"), col("n_docs"), col("n_tokens"),
        col("vocab_types"),
        (col("vocab_types").cast("double") /
          col("n_tokens").cast("double")).as("type_token_ratio"))
      .orderBy(col("prefix_16ths"))
  }

  /** t49: MATTR — Moving-Average Type-Token Ratio (Covington & McFall
    * 2010) — the length-ROBUST lexical-diversity score: plain TTR
    * falls mechanically with document length (Heaps' law, t45), so
    * comparing a 100-token doc's TTR against a 10k-token doc's
    * punishes length, not redundancy; MATTR averages the TTR of every
    * `window`-token sliding window, making scores comparable across
    * lengths — the diversity feature a quality-filter stack (p07/p11)
    * can actually threshold corpus-wide. Docs shorter than the window
    * report their whole-doc TTR (the published convention) and are
    * flagged by n_windows = 0.
    *
    * Exactness: NO float accumulates anywhere — each window's distinct
    * count is an integer, their total is one exact integer sum
    * (order-free), and mattr = sum / (n_windows · window) is ONE
    * double division of exact longs; whole-doc ttr likewise. Bitwise
    * cross-engine by construction.
    *
    * Plan shape: pure scan-stage expressions — no shuffle, no state,
    * embarrassingly parallel. The window sum runs as the ROLLING
    * MULTISET ([[graft.functions.WindowDistinctSum]], the refinement
    * this scaladoc used to only name): one token→count map per doc,
    * add the entering / evict the leaving token per step, distinct
    * count moves only on 0↔1 transitions — O(tokens) per document
    * inside whole-stage codegen, vs the direct form's O(tokens ·
    * window) interpreted higher-order lambdas. Same exact integers
    * (every summand is the count `array_distinct` would produce;
    * RollingMattrSpec holds equality against the direct form), so the
    * oracle is untouched. */
  def mattr(documents: DataFrame, window: Int = 25): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val nw = (n - lit(window) + 1).cast("long")
    val winSum =
      graft.functions.WindowDistinctSumFns.windowDistinctSum(toks, window)
    documents.select(col("doc_id"), n.cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        when(n >= window, nw).otherwise(lit(0L)).as("n_windows"),
        when(n >= window, winSum).otherwise(lit(0L)).as("win_sum"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("n_windows"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        when(col("n_windows") > 0L,
          col("win_sum").cast("double") /
            (col("n_windows") * lit(window.toLong)).cast("double"))
          .otherwise(col("n_types").cast("double") /
            col("n_tokens").cast("double")).as("mattr"))
      .orderBy(col("doc_id"))
  }
}
