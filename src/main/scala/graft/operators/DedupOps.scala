package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import TextOps.{P, gramCodes, sigs, tokens}

/** Deduplication operators for the training-data pipeline: exact hash
  * dedup, n-gram Jaccard near-dup via an inverted shingle index, and
  * MinHash+LSH banding — the shapes that scale to 100 TB (shingle-join,
  * band-bucket-join; never an O(n^2) cross product).
  *
  * Hash constants are engine-portable integer arithmetic so the DuckDB
  * oracle replicates signatures exactly (graft.Oracle).
  */
object DedupOps {

  /** Exact dedup: every doc mapped to the keeper (min doc_id) of its
    * identical-text group.
    *
    * Shuffle key is a 128-bit md5 digest of the text, NOT the text itself:
    * nothing wider than (doc_id, 16-byte digest) ever crosses an exchange,
    * and 128 bits keeps the collision birthday bound negligible at 10^12
    * docs (~10^24 pairs vs 2^128). The group aggregate is narrow
    * (digest -> keeper, count) and the join back is digest-keyed, so the
    * plan at 100 TB is two narrow hash shuffles — never a window holding
    * full-text rows.
    */
  def exactDups(docs: DataFrame): DataFrame = {
    // NULL text forms its own group (SQL window PARTITION BY semantics):
    // a raw md5(NULL) key would be dropped by the null-unsafe equi-join.
    // The "NULL" marker cannot collide with 32-hex-char real digests.
    val digest = coalesce(md5(col("text").cast("binary")), lit("NULL"))
    val keyed = docs.select(col("doc_id"), digest.as("_digest"))
    val groups = keyed.groupBy("_digest")
      .agg(min("doc_id").as("keeper_doc_id"), (count("*") > 1).as("is_dup"))
    keyed.join(groups, "_digest")
      .select("doc_id", "keeper_doc_id", "is_dup")
  }

  /** docs + a materialized `_codes` column, the distinct word-3-gram
    * shingle codes: the signature array lands in its own projection first,
    * so the shingle lambda's three element_at references share ONE
    * evaluation per row instead of re-deriving the array per element (a
    * >100x per-row blowup otherwise; CollapseProject keeps multi-referenced
    * non-cheap aliases materialized). Every gram-code caller below does the
    * same.
    */
  def withShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("_sigs", sigs(col("text")))
      .withColumn("_codes", array_distinct(gramCodes(col("_sigs"), 3)))
      .drop("_sigs")

  /** doc_id -> exploded distinct shingle codes (the inverted index).
    *
    * explode_outer + isNotNull, NOT plain explode: for a non-outer explode,
    * InferFiltersFromGenerate synthesizes `size(_codes) > 0` and predicate
    * pushdown drags the ENTIRE shingle expression tree into the parquet
    * scan as a DataFilter — the array is then computed twice per row, and
    * the filter copy runs before the repartition (single input split = one
    * task). Measured at sf0.1: 11.5 s -> 1.5 s for the index materialization.
    * The outer variant infers nothing; the isNotNull on the OUTPUT column
    * cannot push below the Generate, and empty/null-code docs drop exactly
    * as explode would.
    */
  def shingleIndex(docs: DataFrame): DataFrame =
    withShingles(docs)
      .select(col("doc_id"), explode_outer(col("_codes")).as("shingle"))
      .filter(col("shingle").isNotNull)

  /** Drops the rows of `idx` whose `keys` value occurs in more than `cap`
    * rows: the stop-key preconditioning every candidate generator runs
    * before pairing. A key held by f rows emits f^2/2 pairs, so one
    * uncapped hot key is the thing that dies at 100 TB; the cap bounds
    * every key's fan-out. Hot keys are few by definition, so the census is
    * one narrow aggregate and the drop a broadcast anti-join: the index
    * itself never shuffles for it.
    *
    * `cap == Int.MaxValue` (the exact contracts) returns `idx` unchanged:
    * no census pass, since it could never drop anything. The census and
    * the anti-join probe both read `idx`; `persist` caches it first, for a
    * caller whose `idx` is an expensive subtree not already persisted.
    */
  private[operators] def dropHotKeys(idx: DataFrame, keys: Seq[String], cap: Int,
                                     persist: Boolean = false): DataFrame =
    if (cap == Int.MaxValue) idx
    else {
      val src = if (persist) Intermediates.persist(idx) else idx
      val hot = src.groupBy(keys.map(col): _*).agg(count("*").as("_df"))
        .filter(col("_df") > cap).select(keys.map(col): _*)
      src.join(broadcast(hot), keys, "left_anti")
    }

  /** Every pair of `idx` rows that share their `keys` value, as columns
    * `as._1` and `as._2` with the smaller `id` first. With no `carry` each
    * side is the bare `id`; otherwise it is a struct of `id` and the
    * `carry` columns, which ride through the pair (cosine scoring needs
    * both embeddings).
    *
    * Two shapes, one pair multiset:
    *   - `bounded` (a finite dropHotKeys cap, or groups small by
    *     construction): one groupBy of the index, then the sorted id array
    *     of each key expands into its a < b combinations. One exchange
    *     instead of the self-join's two, with each group's array bounded.
    *   - unbounded (the exact contracts): the streaming self-join. A hot
    *     key in f rows would otherwise materialize an f^2-struct array as
    *     ONE value (measured 2x slower at f <= 236, OPTIMIZATION_r06.md);
    *     the join streams those pairs row by row.
    *
    * Precondition: `(keys, id)` rows are distinct. A repeated id within a
    * key expands to an (x, x) pair and to repeated pairs that the strict
    * `<` of the self-join never emits. Every caller's index guarantees it:
    * shingle, fingerprint and band indexes are distinct per document,
    * sourceOverlap takes `.distinct()`, and a vector has one sign bucket.
    */
  private[operators] def pairsSharingKey(idx: DataFrame, keys: Seq[String], id: String,
                                         bounded: Boolean, as: (String, String),
                                         carry: Seq[String] = Nil): DataFrame = {
    val (a, b) = as
    def side(c: String => Column): Column =
      if (carry.isEmpty) c(id) else struct((id +: carry).map(c): _*)
    if (bounded)
      idx.groupBy(keys.map(col): _*)
        .agg(sort_array(collect_list(side(col))).as("_ds"))
        .select(explode(flatten(transform(col("_ds"), (x, i) =>
          transform(slice(col("_ds"), i + lit(2), size(col("_ds"))),
            y => struct(x.as(a), y.as(b)))))).as("_p"))
        .select(col(s"_p.$a").as(a), col(s"_p.$b").as(b))
    else
      idx.as("x").join(idx.as("y"),
          keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
            col(s"x.$id") < col(s"y.$id"))
        .select(side(c => col(s"x.$c")).as(a), side(c => col(s"y.$c")).as(b))
  }

  /** n-gram Jaccard near-dup pairs above `threshold`, via a frequency-capped
    * inverted shingle index:
    *
    *   1. the exploded index (doc_id, shingle) is computed ONCE and
    *      persisted — the tokenize+shingle pass dominates cost and would
    *      otherwise re-run for every branch that references it (both join
    *      sides + sizes + the hot-shingle census: 4x in the uncached plan).
    *      At 100 TB this is the standard materialized shingle-index
    *      artifact (persist -> a parquet/Iceberg intermediate table).
    *   2. shingles with doc-frequency > `maxShingleDocFreq` are DROPPED
    *      before pairing (dropHotKeys: standard stop-shingle
    *      preconditioning).
    *   3. sizes and intersections are both computed over the CAPPED shingle
    *      space, so the emitted jaccard is the similarity over
    *      discriminative shingles. Tradeoff (documented, standard): when
    *      the cap activates, (a) pairs sharing ONLY stop-shingles are not
    *      candidates (recall loss on non-discriminative overlap — the pairs
    *      near-dup detection deliberately ignores), and (b) jaccard values
    *      exclude stop-shingle mass from numerator and denominator alike.
    *
    * On the synthetic corpora nothing reaches the default cap (max observed
    * shingle doc-frequency: 29 at sf0.01, 236 at sf0.1), so the output is
    * row-identical to the uncapped oracle.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   maxShingleDocFreq: Int = 500): DataFrame = {
    val idx = dropHotKeys(Intermediates.persist(shingleIndex(docs)), Seq("shingle"),
      maxShingleDocFreq)
    val sizes = idx.groupBy("doc_id").agg(count("*").as("n_shingles"))
    pairsSharingKey(idx, Seq("shingle"), "doc_id",
        bounded = maxShingleDocFreq < Int.MaxValue, ("doc_a", "doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count("*").as("n_inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
  }

  /** Duplicated-SPAN extraction — the within-document complement of
    * document-level dedup (the shape of exact substring deduplication, Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22): instead of dropping whole documents, locate the maximal runs
    * of text that are duplicated ACROSS documents, so a curation pipeline
    * can strip repeated boilerplate (license headers, navigation chrome,
    * quoted reposts) while keeping the unique remainder.
    *
    * Algorithm (the scalable n-gram relaxation of the paper's suffix
    * array, which is inherently sequential to build): a position p in a
    * document is `duplicated` when its positional 3-gram code occurs in
    * more than one distinct document; consecutive duplicated positions are
    * merged into maximal runs (gaps-and-islands over the position index),
    * and runs shorter than `minRunTokens` tokens are dropped — short
    * accidental 3-gram collisions between unrelated documents are noise,
    * exactly the paper's minimum-match-length parameter (theirs: 50 BPE
    * tokens). A run of consecutive duplicated 3-gram positions [p, q]
    * certifies a shared token span of q - p + 3 tokens.
    *
    * Scale shape: the positional index (doc_id, pos, gram) is the only
    * pass over text and is persisted for its two consumers (the
    * doc-frequency census + the probe side). The census is a two-level
    * narrow aggregate — distinct (gram, doc_id) then HAVING count > 1 — and
    * the probe is a gram-keyed semi-join, both shuffling (long, long, long)
    * rows only. The island merge is one window per doc_id ordered by pos:
    * the skew ceiling is the longest single document (the q42/q49 note),
    * never the corpus. At sf0.01 the min-length filter is ACTIVE: 3724 raw
    * islands collapse to 311 spans over 259 docs (49 docs carry multiple
    * spans), so the oracle exercises merge + filter, not just whole-doc
    * duplicates.
    */
  def dupSpans(docs: DataFrame, minRunTokens: Int = 15): DataFrame = {
    // positional (non-distinct) 3-gram codes, exploded WITH position;
    // posexplode_outer + isNotNull for the same InferFiltersFromGenerate
    // reason as shingleIndex (plain explode drags the gram tree into the
    // parquet scan's DataFilter)
    val idx = Intermediates.persist(
      docs
        .withColumn("_sigs", sigs(col("text")))
        .withColumn("_k", gramCodes(col("_sigs"), 3))
        .select(col("doc_id"), posexplode_outer(col("_k")).as(Seq("_p0", "g")))
        .filter(col("g").isNotNull)
        .select(col("doc_id"), (col("_p0") + 1).cast("long").as("pos"), col("g")))
    // grams present in >1 DISTINCT doc: distinct pairs first so a gram
    // repeated inside one document does not self-certify
    val dupGrams = idx.select("g", "doc_id").distinct()
      .groupBy("g").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") > 1).select("g")
    val dupPos = idx.join(dupGrams, Seq("g")).select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "_grp")
      .agg(min("pos").as("span_start"), (max("pos") + 2).as("span_end"),
        count(lit(1)).as("n_grams"))
      .filter(col("span_end") - col("span_start") + 1 >= minRunTokens)
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  /** Duplicated-span REMOVAL — the materialization terminal of [[dupSpans]]:
    * rebuild each document with its duplicated spans stripped, keeping the
    * unique remainder. This is the "remove the boilerplate, keep the page"
    * policy for cross-document repeated chrome (license headers, navigation,
    * quoted reposts): every flagged occurrence is removed, in contrast to
    * the doc-level keeper ops (q50/q53/q65) which keep one full copy — a
    * documented policy choice, the right one when the repeated material is
    * chrome rather than content (Lee et al. ACL'22 §4 discuss both).
    *
    * Scale shape: [[dupSpans]] emits only (doc_id, start, end) triples, so
    * the span side of the join is tiny relative to the corpus and the
    * per-doc span list is collected into a single array column (bounded by
    * doc length / minRunTokens spans per doc). The rebuild is then one
    * map-only pass over the text: a positional `filter` over the token
    * array against the doc's own span array — text never shuffles, and the
    * per-token cost is O(spans-in-doc), not O(spans-in-corpus). Spans from
    * adjacent islands may abut or overlap in token space (islands are
    * maximal in GRAM positions, which project to overlapping token ranges);
    * the positional membership test handles that without a union pass.
    */
  def stripSpans(docs: DataFrame, minRunTokens: Int = 15): DataFrame = {
    val spans = dupSpans(docs, minRunTokens)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("_spans"))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("_toks", tokens(col("text")))
      .withColumn("_kept",
        when(col("_spans").isNull, col("_toks")).otherwise(
          filter(col("_toks"), (_, i) =>
            !exists(col("_spans"), s =>
              i + 1 >= s.getField("s") && i + 1 <= s.getField("e")))))
      .select(col("doc_id"),
        array_join(col("_kept"), " ").as("clean_text"),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** Winnowing fingerprint index (Schleimer/Wilkerson/Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS
    * scheme): slide a window of `w` consecutive k-gram hashes over the
    * document and select each window's MINIMUM; the distinct selected
    * values are the document's fingerprints.
    *
    * Why this beats the full shingle index at 100 TB: the guarantee is
    * positional — any shared token run of length >= w+k-1 contributes at
    * least one common fingerprint — while the expected index density is
    * 2/(w+1) of the k-gram count, so the inverted index (the thing that
    * shuffles) is ~2.5x smaller at w=4 with NO loss on matches longer
    * than the noise threshold. Selection here is by window minimum VALUE
    * (robust winnowing's set semantics): deterministic, order-insensitive
    * within the window, and exactly reproducible by the DuckDB oracle.
    *
    * Plan shape mirrors shingleIndex: `_k` lands in its own projection so
    * the w slice references per window share one evaluation (CollapseProject
    * keeps multi-referenced non-cheap aliases materialized), and the
    * explode is the outer+isNotNull form that keeps the expression tree out
    * of the parquet scan's DataFilter. Per-row cost is O(tokens * w).
    *
    * Documents shorter than one full window (0 < k-grams < w) winnow to the
    * single global minimum — the SIGMOD'03 degenerate case.
    */
  def winnowFingerprints(docs: DataFrame, w: Int = 4): DataFrame =
    docs
      .withColumn("_sigs", sigs(col("text")))
      .withColumn("_k", gramCodes(col("_sigs"), 3))
      .withColumn("_fps",
        when(size(col("_k")) === 0, array().cast("array<bigint>"))
          .when(size(col("_k")) < w, array(array_min(col("_k"))))
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(col("_k")) - (w - 1)), j =>
              array_min(slice(col("_k"), j, lit(w)))))))
      .select(col("doc_id"), explode_outer(col("_fps")).as("fp"))
      .filter(col("fp").isNotNull)

  /** Containment detection over winnowing fingerprints: directed pairs
    * (doc_a, doc_b) where containment(a in b) = |FP(a) n FP(b)| / |FP(a)|
    * >= `threshold`. The ASYMMETRIC complement of jaccardPairs: a short
    * document pasted inside a longer one (quote extraction, boilerplate
    * wrapping, article + comment thread) scores near 1.0 here while its
    * symmetric Jaccard — diluted by the longer doc's size — stays far below
    * any near-dup threshold. Broder's containment coefficient over the
    * winnowed fingerprint space.
    *
    * Scale shape: identical skeleton to jaccardPairs — the fingerprint
    * index is computed once and persisted, hot fingerprints (doc frequency
    * > `maxFpDocFreq`, boilerplate by definition) are dropped by
    * dropHotKeys before pairing, sizes are a narrow agg, and only
    * (long, long) id pairs ever shuffle. The winnowed index is ~2/(w+1)
    * the size of the full shingle index, so the whole candidate stage is
    * proportionally cheaper than q25's at the same corpus.
    *
    * Emits BOTH directions when both clear the threshold (a in b, b in a
    * — i.e. near-identical docs), which is exactly the degenerate case
    * symmetric dedup already catches; the asymmetric hits are the new
    * information. The shared-fingerprint count is symmetric, so it is
    * aggregated once per unordered pair and the two orientations (n_a and
    * n_b swapped) are emitted after the aggregate.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8, w: Int = 4,
                       maxFpDocFreq: Int = 500): DataFrame = {
    val idx = dropHotKeys(Intermediates.persist(winnowFingerprints(docs, w)), Seq("fp"),
      maxFpDocFreq)
    val sizes = idx.groupBy("doc_id").agg(count("*").as("n_fp"))
    pairsSharingKey(idx, Seq("fp"), "doc_id",
        bounded = maxFpDocFreq < Int.MaxValue, ("doc_a", "doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count("*").as("n_inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_fp", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_fp", "n_b"), "doc_b")
      .select(col("n_inter"), inline(array(
        struct(col("doc_a"), col("doc_b"), col("n_a"), col("n_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
          col("n_b").as("n_a"), col("n_a").as("n_b")))))
      .withColumn("containment",
        col("n_inter").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "containment")
  }

  /** Benchmark decontamination: flag training documents whose shingle
    * overlap with a benchmark/eval set exceeds `threshold` — the standard
    * n-gram contamination check a training pipeline runs so eval data never
    * leaks into the training corpus.
    *
    * Scale shape: the benchmark set is small by nature (eval suites), so
    * its distinct shingles BROADCAST to the candidate side — the big
    * shingle index never shuffles; matching is a map-side hash probe plus a
    * partial-combined count per doc. `benchPred` (a doc_id predicate here)
    * is cheap and pushes into the scan on the benchmark branch.
    */
  def decontaminate(docs: DataFrame,
                    benchPred: Column = pmod(col("doc_id"), lit(50)) === 0,
                    threshold: Double = 0.5): DataFrame = {
    val idx = Intermediates.persist(shingleIndex(docs))
    val benchShingles = idx.filter(benchPred).select("shingle").distinct()
    val cand = idx.filter(!benchPred)
    val matched = cand.join(broadcast(benchShingles), Seq("shingle"))
      .groupBy("doc_id").agg(count("*").as("n_matched"))
    val sizes = cand.groupBy("doc_id").agg(count("*").as("n_shingles"))
    docs.filter(!benchPred).select("doc_id")
      .join(sizes, Seq("doc_id"), "left")
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("contam_ratio",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_matched").cast("double") / col("n_shingles").cast("double")))
      .withColumn("is_contaminated", col("contam_ratio") >= threshold)
  }

  /** Exact 13-gram decontamination — the GPT-3/Pile-style eval-overlap
    * check: a training document is contaminated if it shares ANY single
    * 13-gram with the benchmark set. The complement of `decontaminate`
    * (q39): that one thresholds a RATIO of shared 3-gram shingles (fuzzy,
    * catches paraphrase-adjacent overlap), this one is the any-hit exact
    * long-n-gram rule used to scrub eval suites, where one verbatim
    * 13-token run is disqualifying regardless of document length.
    *
    * Same scale shape as q39: the benchmark n-gram set is small by nature
    * and BROADCASTS; the corpus index never shuffles — matching is a
    * map-side hash semi-probe plus a partial-combined count, and the
    * n-gram index is computed in one codegen'd pass (13 multiplies per
    * position).
    */
  def ngramDecontaminate(docs: DataFrame, n: Int = 13,
                         benchPred: Column = pmod(col("doc_id"), lit(50)) === 0): DataFrame = {
    val idx = Intermediates.persist(
      docs
        .withColumn("_sigs", sigs(col("text")))
        .withColumn("_ng", array_distinct(gramCodes(col("_sigs"), n)))
        .select(col("doc_id"), explode_outer(col("_ng")).as("ngram"))
        .filter(col("ngram").isNotNull))
    val bench = idx.filter(benchPred).select("ngram").distinct()
    val hits = idx.filter(!benchPred).join(broadcast(bench), Seq("ngram"))
      .groupBy("doc_id").agg(count("*").as("n_hits"))
    docs.filter(!benchPred).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** Incremental (delta-vs-corpus) dedup — the daily-ingest shape: dedup a
    * new batch against an already-curated frozen corpus WITHOUT touching
    * corpus-internal pairs. `corpusPred` marks the frozen side; everything
    * else is the delta. Per delta document:
    *
    *   - `exact_keeper`:  min corpus doc_id with byte-identical text
    *     (digest-keyed, the exactDups contract), null if none;
    *   - `near_keeper`:   min corpus doc_id whose shingle Jaccard with the
    *     delta doc clears `threshold`, null if none;
    *   - `is_new`:        neither matched — the doc enters the corpus.
    *
    * Why a dedicated operator instead of re-running jaccardPairs over
    * corpus+delta: at 100 TB the corpus index is a PRECOMPUTED bucketed
    * artifact (the materialized shingle index every round of ingestion
    * reuses), and the join is one-sided — candidate pairs are
    * delta x corpus only, so the fan-out per shingle is df_delta * df_corpus
    * instead of (df_delta + df_corpus)^2, and corpus-internal pairs (the
    * quadratic bulk, already resolved in previous rounds) are never
    * generated. With the corpus side bucketed by shingle, only the delta
    * index shuffles.
    */
  def incrementalDedup(docs: DataFrame,
                       corpusPred: Column = pmod(col("doc_id"), lit(10)) =!= 0,
                       threshold: Double = 0.12): DataFrame = {
    val digest = coalesce(md5(col("text").cast("binary")), lit("NULL"))
    val corpusDig = docs.filter(corpusPred)
      .select(digest.as("_digest"), col("doc_id"))
      .groupBy("_digest").agg(min("doc_id").as("exact_keeper"))
    val deltaDig = docs.filter(!corpusPred).select(col("doc_id"), digest.as("_digest"))
    val exact = deltaDig.join(corpusDig, Seq("_digest"), "left")
      .select("doc_id", "exact_keeper")

    val idx = Intermediates.persist(shingleIndex(docs))
    val corpusIdx = idx.filter(corpusPred)
    val deltaIdx = idx.filter(!corpusPred)
    val sizes = idx.groupBy("doc_id").agg(count("*").as("n_sh"))
    val near = deltaIdx.as("d").join(corpusIdx.as("c"), col("d.shingle") === col("c.shingle"))
      .groupBy(col("d.doc_id").as("doc_id"), col("c.doc_id").as("corpus_id"))
      .agg(count("*").as("n_inter"))
      .join(sizes.select(col("doc_id"), col("n_sh").as("n_d")), "doc_id")
      .join(sizes.select(col("doc_id").as("corpus_id"), col("n_sh").as("n_c")), "corpus_id")
      .filter(col("n_inter").cast("double") /
        (col("n_d") + col("n_c") - col("n_inter")).cast("double") >= threshold)
      .groupBy("doc_id").agg(min("corpus_id").as("near_keeper"))

    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_keeper"), col("near_keeper"),
        (col("exact_keeper").isNull && col("near_keeper").isNull).as("is_new"))
  }

  /** Per-source ingest telemetry over the incremental-dedup result — the
    * curation dashboard a daily-ingest pipeline emits alongside q65's
    * per-doc verdicts: how much of each source's delta is exact-duplicate,
    * near-duplicate, or genuinely new. A source whose dup_rate jumps is a
    * re-crawl or a mirror and gets gated BEFORE its text spends compute
    * downstream. Aggregation is a narrow post-join groupBy over ids and
    * flags; `dup_rate` is a single exact-rounded division per source.
    */
  def ingestReport(docs: DataFrame,
                   corpusPred: Column = pmod(col("doc_id"), lit(10)) =!= 0,
                   threshold: Double = 0.12): DataFrame =
    incrementalDedup(docs, corpusPred, threshold)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(
        count("*").as("n_delta"),
        sum(when(col("exact_keeper").isNotNull, 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("exact_keeper").isNull && col("near_keeper").isNotNull, 1L)
          .otherwise(0L)).as("n_near_dup"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
      .withColumn("dup_rate",
        round((col("n_exact_dup") + col("n_near_dup")).cast("double")
          / col("n_delta").cast("double"), 6))

  /** The end of the dedup story: materialize the CLEAN corpus. One keeper
    * per near-dup cluster — the minimum doc_id, the same deterministic
    * keep-rule as exactDups — annotated with its cluster size so downstream
    * mixing can up/down-weight formerly-duplicated content. Singletons keep
    * themselves (cluster_size 1).
    *
    * Scale shape: dupClusters' label table is (doc_id, cluster_id) longs;
    * the keeper filter is a narrow map, cluster sizes are one narrow agg,
    * and the final semi-join back onto the corpus co-partitions on doc_id —
    * one exchange of ids, never of text.
    */
  def dedupedCorpus(docs: DataFrame): DataFrame = {
    val clusters = dupClusters(docs)
    val sizes = clusters.groupBy("cluster_id").agg(count("*").as("cluster_size"))
    val keepers = clusters.filter(col("cluster_id") === col("doc_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_size"))
    docs.select("doc_id", "lang", "source")
      .join(keepers, Seq("doc_id"))
      .select("doc_id", "lang", "source", "cluster_size")
  }

  /** Cross-source overlap matrix: per-source distinct shingle sets and
    * their pairwise Jaccard — the corpus-curation report that tells you
    * which ingestion sources duplicate each other (a crawl mirrored under
    * two names, a dataset re-released inside another) BEFORE per-document
    * dedup spends compute on the symptom.
    *
    * Scale shape: the per-source DISTINCT index aggregates shingles down
    * to one row per (source, shingle) — the only pass over full text. The
    * pair fan-out per shingle is bounded by the number of SOURCES
    * containing it (sources are few — shards/crawls — where documents are
    * billions), so the pair table is at most S^2 per shingle and the
    * result is S^2 rows. Size dims broadcast. The index persists for its
    * two consumers (pairing + sizes).
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val idx = Intermediates.persist(withShingles(docs)
      .select(col("source"), explode_outer(col("_codes")).as("shingle"))
      .filter(col("shingle").isNotNull)
      .distinct())
    val sizes = idx.groupBy("source").agg(count("*").as("n"))
    // sources per shingle are DISTINCT and few: bounded groups
    pairsSharingKey(idx, Seq("shingle"), "source", bounded = true, ("source_a", "source_b"))
      .groupBy("source_a", "source_b")
      .agg(count("*").as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6).as("jaccard"))
  }

  /** MinHash parameter table: K independent affine hashes (a_i, b_i) mod P,
    * derived from a fixed formula so the oracle regenerates them.
    */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => (123457L * i + 100003L, 987643L * i + 31L))

  /** K-wide MinHash signature per document as an array column. The shingle
    * array is computed once into its own projection so the K per-hash mins
    * reference it instead of inlining K copies of the shingling expression
    * (a 16x planning/execution blowup otherwise).
    */
  def minhashSignature(docs: DataFrame, k: Int = 16): DataFrame = {
    val sig = array(minhashParams(k).map { case (a, b) =>
      array_min(transform(col("_codes"), c => pmod(c * a + b, lit(P))))
    }: _*)
    withShingles(docs).select(col("doc_id"), sig.as("minhash"))
  }

  /** Content-defined chunking (the LBFS/rsync family — Muthitacharoen et
    * al., "A Low-Bandwidth Network File System", SOSP'01): cut a document
    * into VARIABLE-size chunks at positions where the rolling content hash
    * satisfies `hash % modulus == 0`, so chunk boundaries are anchored to
    * CONTENT, not offsets — insert one token at the front of a document
    * and fixed-width blocks all shift (every block hash changes) while CDC
    * boundaries re-synchronize after the edit. This is the dedup family
    * the shingle/fingerprint stack does not cover: storage-style shared-
    * block detection across near-identical long documents.
    *
    * Mechanics: the positional 3-gram code at token position p (the same
    * rolling window as q71) cuts AFTER p when `code % modulus == 0`; a
    * token's chunk index is the count of cutpoints strictly before it
    * (running sum per doc — one window ordered by pos, skew ceiling = the
    * longest document). Each chunk's identity is the order-sensitive
    * polynomial fold of its token signatures mod P (exact int64 cross-
    * engine), and `n_docs_sharing` counts distinct documents carrying an
    * identical (hash, length) chunk — the shared-block census.
    *
    * Scale shape: one text pass to the positional index; the chunk
    * assembly shuffles (doc_id, pos, sig) triples once; the census is a
    * narrow aggregate on (hash, len) with map-side combine. Expected
    * chunk size = `modulus` tokens — size the modulus to the target block
    * size exactly as a storage system does.
    */
  def cdcChunks(docs: DataFrame, modulus: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = docs
      .withColumn("_sigs", sigs(col("text")))
      .withColumn("_k", gramCodes(col("_sigs"), 3))
      .select(col("doc_id"), col("_k"),
        posexplode_outer(col("_sigs")).as(Seq("_p0", "sig")))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), (col("_p0") + 1).cast("long").as("pos"), col("sig"),
        // the gram AT pos cuts after pos; positions past n-2 have no gram
        when(element_at(col("_k"), (col("_p0") + 1).cast("int")).isNotNull
          && pmod(element_at(col("_k"), (col("_p0") + 1).cast("int")),
            lit(modulus.toLong)) === 0L, 1L).otherwise(0L).as("_cut"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val chunks = idx
      .withColumn("chunk_idx", (sum(col("_cut")).over(w) - col("_cut")).cast("long"))
      .groupBy("doc_id", "chunk_idx")
      .agg(min("pos").as("start_pos"), max("pos").as("end_pos"),
        count(lit(1)).as("n_tokens"),
        aggregate(
          transform(sort_array(collect_list(struct(col("pos"), col("sig")))),
            p => p.getField("sig")),
          lit(0L), (acc, s) => pmod(acc * lit(131L) + s, lit(P))).as("chunk_hash"))
    val census = chunks.groupBy("chunk_hash", "n_tokens")
      .agg(countDistinct("doc_id").as("n_docs_sharing"))
    chunks.join(census, Seq("chunk_hash", "n_tokens"))
      .select("doc_id", "chunk_idx", "start_pos", "end_pos", "n_tokens",
        "chunk_hash", "n_docs_sharing")
  }

  /** MinHash estimator CALIBRATION audit — the q74 audit pattern applied to
    * the dedup stack: for every LSH candidate pair, the Jaccard ESTIMATE
    * the signature implies (fraction of agreeing minhash positions, the
    * unbiased estimator the banding scheme is built on) next to the EXACT
    * shingle Jaccard, plus the absolute error. A curation run tracks this
    * to size k (signature width) against the threshold it actually bands
    * for: systematic |err| near the banding threshold means the signature
    * is too narrow for the corpus' similarity profile.
    *
    * Scale shape: the (shingles, minhash) table is computed in ONE text
    * pass and persisted for both candidate-side joins; full shingle arrays
    * travel ONLY for candidate pairs (banding has already cut the
    * quadratic space), and every per-pair op (position agreement, list
    * intersection) is array arithmetic inside the row — no further
    * shuffle. Estimate and exact are each a single long division.
    */
  def minhashAudit(docs: DataFrame, k: Int = 16, r: Int = 4): DataFrame = {
    val sigExpr = array(minhashParams(k).map { case (a, b) =>
      array_min(transform(col("_codes"), c => pmod(c * a + b, lit(P))))
    }: _*)
    val tab = Intermediates.persist(withShingles(docs)
      .select(col("doc_id"), col("_codes").as("sh"), sigExpr.as("minhash")))
    lshCandidates(docs, k, r)
      .join(tab.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
        col("minhash").as("ma")), Seq("doc_a"))
      .join(tab.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
        col("minhash").as("mb")), Seq("doc_b"))
      .withColumn("_inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("ma"), col("mb"), (x, y) => x === y), p => p))
          .cast("double") / lit(k.toDouble)).as("jaccard_est"),
        (col("_inter").cast("double")
          / (size(col("sha")).cast("long") + size(col("shb")).cast("long")
            - col("_inter")).cast("double")).as("jaccard_exact"))
      .withColumn("abs_err", abs(col("jaccard_est") - col("jaccard_exact")))
  }

  /** Near-dup CLUSTER resolution: connected components over the LSH
    * candidate graph, so every document maps to one cluster keeper (the
    * component's min doc_id) — the step a real dedup pipeline runs after
    * candidate generation, because near-dup is not transitive-closed at
    * the pair level (A~B, B~C usually means keep ONE of {A,B,C}).
    *
    * Algorithm: iterative min-label propagation to fixpoint. Each round is
    * two narrow shuffles over (id, label) pairs — the document text never
    * moves — and the edge list is persisted once. Rounds needed = graph
    * diameter; dedup components are overwhelmingly tiny (pairs/triples), so
    * this converges in 2-3 rounds in practice. At extreme scale the
    * textbook upgrade is large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) which contracts in
    * O(log n) rounds; the per-round plan here (narrow key-label join +
    * min-agg) is the same building block.
    *
    * The per-round convergence probe is a scalar degree aggregate (the
    * star-forest test in clustersFromEdgesStar), not data on the driver.
    */
  def dupClusters(docs: DataFrame, k: Int = 16, r: Int = 4,
                  maxIter: Int = 25): DataFrame =
    clustersFromEdgesStar(docs, lshCandidates(docs, k, r), maxIter)

  /** Connected components via alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the scale-default: converges in O(log n) rounds regardless
    * of component diameter, where plain min-label propagation needs
    * O(diameter) rounds and a path-shaped component of templated documents
    * defeats any fixed bound.
    *
    *   large-star: every node u links its LARGER neighbors to the min of
    *               its closed neighborhood;
    *   small-star: every node u links its smaller-or-equal neighbors (and
    *               itself) to that min.
    *
    * Each half-round is one narrow groupBy(min) + join over (long, long)
    * edges; at the fixpoint the edge set is a forest of stars (node ->
    * component min). Docs with no edges keep their own id (singleton).
    */
  def clustersFromEdgesStar(docs: DataFrame, cand: DataFrame,
                            maxIter: Int = 25): DataFrame = {
    // undirected edge set, canonical (src < dst) from ingestion on: the
    // round-0 star-forest test below is only sound for src < dst edges (a
    // lone (5, 3) would pass it and label doc 3 with 5, not the component
    // min), and candidate generators owe no orientation. localCheckpoint
    // per round truncates the iterative lineage (see
    // clustersFromEdges). No input distinct: both in-repo candidate
    // generators already emit distinct pairs, and the rounds tolerate
    // duplicate input edges anyway (a duplicate cannot change a window
    // min, and every round-final edge set is deduplicated), so the only
    // effect of dup input would be one extra confirming round — not a
    // wrong fixpoint. Dropping it saves a full exchange of the edge list
    // before round 1.
    var edges = cand.select(least(col("doc_a"), col("doc_b")).as("src"),
        greatest(col("doc_a"), col("doc_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true)

    // one star half-round: link each u's neighbors on one side of u to
    // m = min(closed neighborhood of u); m <= every emitted v, so (m, v)
    // is already canonical. Small-star additionally links u itself to m.
    //
    // m is attached with a per-u window min rather than the old
    // groupBy(min)+join: the join shape exchanged gamma TWICE per
    // half-round (once into the aggregate, once into the join) where the
    // window computes m in the single exchange gamma needs anyway
    // (guide §2.4: two operations keyed the same way share one exchange).
    // The small-star self-link (u -> m) rides the same pass as an exploded
    // second emission — its duplicates (one per gamma row instead of one
    // per u) are absorbed by the trailing distinct(), so the emitted edge
    // SET is identical to the join formulation's. Skew profile is
    // unchanged: a hot node u concentrated one join partition before and
    // concentrates one window partition now.
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val gamma = e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
      val g = gamma.withColumn("m",
        least(min(col("v")).over(Window.partitionBy("u")), col("u")))
      val emitted =
        if (large) g.filter(col("v") > col("u")).select(col("v"), col("m"))
        else g.select(col("m"), explode(filter(array(
            when(col("v") <= col("u"), col("v")), col("u")),
            x => x.isNotNull)).as("v"))
          .select(col("v"), col("m"))
      val links = emitted.filter(col("v") =!= col("m"))
        .select(col("m").as("src"), col("v").as("dst"))
      // Only the small-star (round-final) output is deduplicated: the
      // large-star's duplicate (m, v) links are absorbed by the very next
      // half-round's window min (duplicates in gamma cannot change a
      // per-u minimum) and by this distinct — dropping the intermediate
      // distinct removes one full exchange per round while the edge SET
      // each ROUND produces is unchanged (checksum/fixpoint identical).
      if (large) links else links.distinct()
    }

    // Convergence probe: a DIRECT star-forest test instead of the old
    // consecutive-round checksum equality + except() confirm. The
    // alternating rounds' fixpoint is exactly a canonical star forest
    // (Kiveris et al. SoCC'14), and for our src<dst edge sets that is a
    // local property — no node appears as both src and dst (roots are
    // never leaves) and every dst has exactly ONE src (unique parent):
    //   - such a set E is a disjoint union of stars rooted at each
    //     component's minimum (src<dst makes the root the min), which is
    //     precisely the mapping the tail of this function extracts, and
    //     one more round provably maps E to itself (large-star keeps all
    //     (r,v); small-star re-emits each leaf's self-link as (r,v));
    //   - anything else fails the test and the loop continues.
    // Checking the property needs ONE narrow degree aggregate per round,
    // and — unlike equality of consecutive rounds — it detects the
    // fixpoint the round it is REACHED, not one confirm-round later:
    // measured round count on the sf0.1 LSH graph drops 2 -> 1 (and an
    // input that is already a forest, e.g. isolated dup pairs, runs 0
    // rounds). No hash collisions to guard against, so the except()
    // confirm is gone too.
    def isStarForest(e: DataFrame): Boolean = {
      val r = e.select(col("src").as("n"), lit(1L).as("s"), lit(0L).as("d"))
        .unionByName(e.select(col("dst").as("n"), lit(0L).as("s"), lit(1L).as("d")))
        .groupBy("n").agg(sum("s").as("ns"), sum("d").as("nd"))
        .agg(
          sum(when(col("ns") > 0 && col("nd") > 0, 1L).otherwise(0L)),
          sum(when(col("nd") > 1, 1L).otherwise(0L))).head()
      (r.isNullAt(0) || r.getLong(0) == 0L) && (r.isNullAt(1) || r.getLong(1) == 0L)
    }
    var iter = 0
    var converged = isStarForest(edges)
    while (!converged && iter < maxIter) {
      edges = star(star(edges, large = true), large = false)
        .localCheckpoint(true)
      iter += 1
      converged = isStarForest(edges)
    }
    if (!converged)
      throw new IllegalStateException(
        s"clustersFromEdgesStar did not converge within $maxIter rounds")

    // at the fixpoint every non-root node carries exactly one (root, node)
    // star edge with root = src (the canonical min side)
    val mapping = edges.groupBy(col("dst").as("doc_id"))
      .agg(min("src").as("cluster_id"))
    // NOTE: `edges` stays a live localCheckpoint — unpersisting it here
    // would destroy the truncated-lineage blocks out from under `out`
    docs.select(col("doc_id"))
      .join(mapping, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Connected components over an explicit (doc_a, doc_b) edge list; see
    * dupClusters. Split out so any candidate generator (LSH, exact-dup
    * digests, cosine buckets) feeds the same resolution step.
    */
  def clustersFromEdges(docs: DataFrame, cand: DataFrame,
                        maxIter: Int = 25): DataFrame = {
    val nbrs = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every round's frame is localCheckpoint(eager)-ed: each `next` refers
    // to the previous labels TWICE, so without truncation the logical plan
    // doubles per round and the optimizer OOMs near round ~10; the eager
    // local checkpoint cuts the lineage to a materialized RDD (single-node
    // semantics here — a multi-node deployment would use reliable
    // checkpointing to survive executor loss)
    var labels = docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = nbrs
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("cluster_id").as("_nbr_min"))
      val next = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("_nbr_min"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint(true)
      val changed = next.join(
          labels.select(col("doc_id"), col("cluster_id").as("_old")), "doc_id")
        .filter(col("cluster_id") =!= col("_old")).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    nbrs.unpersist()
    // an unconverged result silently splits one component into several
    // clusters (and diverges from the exact-closure oracle) — refuse it.
    // Components with diameter > maxIter need a larger bound or the
    // large-star/small-star contraction documented above.
    if (!converged)
      throw new IllegalStateException(
        s"clustersFromEdges did not converge within $maxIter rounds; " +
          "a component's diameter exceeds the bound — raise maxIter")
    labels
  }

  /** LSH banding: K/r bands of r rows; docs sharing any band bucket are
    * candidate pairs. Returns distinct (doc_a < doc_b) candidates. The
    * band-bucket join is the 100 TB-scale path: shuffle keyed on
    * (band, bucket), no cross product.
    *
    * `maxBucketSize` is the occupancy cap — the banding analog of
    * jaccardPairs' stop-shingle preconditioning: a (band, bucket) holding f
    * docs emits f^2/2 join rows, and one band-bucket of templated
    * near-identical documents (boilerplate pages, license headers) is the
    * thing that dies at 10^12 docs, where even uniform occupancy N/2^bits
    * grows linearly with the corpus. Buckets over the cap are DROPPED
    * before pairing (dropHotKeys): a bucket that collides half the corpus
    * carries no similarity evidence worth f^2 candidate pairs (its TRUE
    * near-dup pairs almost surely co-occur in a discriminative bucket of
    * another band; a pair similar enough to share only over-full buckets
    * is template mass near-dup clustering deliberately ignores — same
    * recall trade as q51, documented there). The capped configuration has
    * its own oracle row (q56, cap active at sf0.01); the uncapped contract
    * stays q26.
    */
  def lshCandidates(docs: DataFrame, k: Int = 16, r: Int = 4,
                    maxBucketSize: Int = 1000): DataFrame = {
    val sigs = minhashSignature(docs, k)
    // The generator explodes a CHEAP literal band-index sequence; buckets
    // are computed ABOVE the Generate from the materialized minhash column.
    // The Generate is the barrier that keeps the signature evaluated once
    // per doc: a predicate on anything derived from minhash would be
    // substituted through the projections and pushed below the repartition
    // onto the single-split scan, evaluating the full (16 hashes x 3
    // sig-references) inlined tree one-tasked — measured 138 s vs 1.5 s at
    // sf0.1. Hence NO filter here at all:
    //
    // docs with NO shingles (< 3 tokens) carry an all-null minhash; they
    // have no similarity evidence and must not pair (concat_ws skips nulls,
    // so they would otherwise all collide on the empty bucket — and diverge
    // from SQL engines where || propagates NULL). They get a UNIQUE
    // per-doc solo bucket instead ("solo:" cannot collide with the numeric
    // ":"-joined real buckets), which by construction never yields a pair:
    // same output as dropping them, nothing to push.
    val bands0 = sigs
      .select(col("doc_id"), col("minhash"),
        explode(sequence(lit(0), lit(k / r - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        when(element_at(col("minhash"), 1).isNotNull,
          concat_ws(":", transform(
            slice(col("minhash"), col("band") * r + 1, lit(r)),
            x => x.cast("string"))))
          .otherwise(concat(lit("solo:"), col("doc_id")))
          .as("bucket"))
    // the minhash subtree is the expensive part and the census reads the
    // bands a second time: persisted whenever the census runs
    val bands = dropHotKeys(bands0, Seq("band", "bucket"), maxBucketSize, persist = true)
    pairsSharingKey(bands, Seq("band", "bucket"), "doc_id",
        bounded = maxBucketSize < Int.MaxValue, ("doc_a", "doc_b"))
      .distinct()
  }
}
