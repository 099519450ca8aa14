package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Text-analysis operators for the training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, document fingerprinting.
  *
  * All arithmetic is engine-portable (same left-fold order, same integer
  * ops) so the DuckDB oracle reproduces results bit-for-bit; see
  * graft.Oracle for the mirrored SQL.
  */
object TextOps {

  /** Whitespace tokenization (documents are single-space word joins). */
  def tokens(text: Column): Column = split(text, " ")

  /** Engine-portable token signature: first-byte code * 131 + length.
    * Deliberately simple — the point is deterministic cross-engine
    * reproducibility, not collision resistance.
    */
  def tokenSig(tok: Column): Column = ascii(tok) * lit(131L) + length(tok)

  /** The token-signature array of a document. */
  def sigs(text: Column): Column = transform(tokens(text), tokenSig(_))

  /** The prime modulus of every polynomial code and hash over signatures. */
  val P = 1000000007L
  val FpMul = 1000003L

  /** One element per sliding window of `n` consecutive elements of `arr`:
    * `f` maps the window's elements, in order, to the output element of
    * type `elemType`. An array shorter than `n` gives an empty array:
    * unguarded, `sequence()` would count down and read windows off its ends.
    */
  def windows(arr: Column, n: Int, elemType: String)(f: Seq[Column] => Column): Column =
    when(size(arr) < n, array().cast(s"array<$elemType>"))
      .otherwise(transform(sequence(lit(1), size(arr) - (n - 1)), i =>
        f((0 until n).map(j => element_at(arr, i + j)))))

  /** Polynomial code of one window of signatures: sum of w_j * 131^(n-1-j)
    * mod P, the powers precomputed mod P (the optimizer drops the last
    * term's `* 1`). Each signature is at most 0x10FFFF * 131 + token length
    * (`ascii` returns any code point), under 2^28 for tokens shorter than
    * 10^8 chars, and each power is < P < 2^30, so a term is < 2^58 and up to
    * 32 terms sum exactly in int64 on both engines before the single pmod.
    */
  def gramCode(w: Seq[Column]): Column = {
    val pows = Array.iterate(1L, w.size)(p => p * 131L % P).reverse
    pmod(w.zip(pows).map { case (x, p) => x * lit(p) }.reduce(_ + _), lit(P))
  }

  /** Positional n-gram codes of a signature array (see [[gramCode]]). */
  def gramCodes(arr: Column, n: Int): Column = windows(arr, n, "bigint")(gramCode)

  /** Rolling polynomial fingerprint over token signatures, left-fold with
    * per-step modulus (document fingerprinting for near-dup triage).
    * Fold starts from the first element to mirror DuckDB's list_reduce.
    */
  def fingerprint(text: Column): Column = {
    val s = sigs(text)
    aggregate(
      slice(s, lit(2), size(s)),
      element_at(s, 1),
      (acc, x) => pmod(acc * FpMul + x, lit(P)))
  }

  /** BPE-ish pre-tokenization regex (the GPT-2-style split shape, ASCII
    * form so Java and RE2-class engines agree): letter runs, digit runs,
    * and each remaining non-space symbol as its own token. A real BPE would
    * merge inside these pre-tokens; counting them is the standard cheap
    * proxy for "tokenizer cost" of a document.
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Per-document token stats + quality signals: whitespace and BPE-ish
    * regex token counts, length, stopword/punctuation ratios. All narrow
    * map-side expressions — at 100 TB this is a single codegen'd pass.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stop = size(filter(toks, t => t.isin("the", "a", "of", "and"))).cast("long")
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .cast("long").as("n_subtokens"),
      length(col("text")).cast("long").as("n_chars"),
      (stop.cast("double") / nTok.cast("double")).as("stopword_ratio"),
      (length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("double")
        / length(col("text")).cast("double")).as("punct_ratio"),
      ((length(col("text")) - (nTok - 1)).cast("double") / nTok.cast("double"))
        .as("avg_token_len"))
  }

  /** Marker-token language-ID heuristic: a document with English marker
    * words is guessed `en`, else `other`. (The real corpus is synthetic
    * pseudo-English; the operator shape — marker-token scoring — is what a
    * production n-gram LID would generalize.)
    */
  def langGuess(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val markers = size(filter(toks, t => t.isin("the", "a")))
    docs.select(
      col("doc_id"), col("lang"),
      when(markers > 0, "en").otherwise("other").as("lang_guess"),
      markers.cast("long").as("n_marker_tokens"))
  }

  /** Frozen linear quality-model weights (the serving half of a
    * fastText-style quality classifier: a model trained offline, frozen
    * into the pipeline, applied at full corpus scale). Integer weights
    * over integer features keep the score exact int64 cross-engine; the
    * logistic link is strictly monotone, so the keep decision
    * sigmoid(score) >= p is served as the integer comparison
    * score >= threshold — no float, no libm.
    */
  val QmWeightStopword = 5L
  val QmWeightToken = 1L
  val QmWeightPunct = -8L
  val QmThreshold = 40L

  /** Model-based quality scoring: one codegen'd map-side pass emitting the
    * frozen model's integer score and keep decision per document — the
    * classifier-serving complement of the rule-based `qualityFilter`
    * (q40). At 100 TB this is a narrow projection pushed right against
    * the scan: no shuffle, no state, embarrassingly parallel.
    */
  def qualityModelScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin("the", "a", "of", "and"))).cast("long")
    val nPunct = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("long")
    docs.select(
      col("doc_id"),
      (lit(QmWeightStopword) * nStop + lit(QmWeightToken) * nTok
        + lit(QmWeightPunct) * nPunct).as("qm_score"))
      .withColumn("keep", col("qm_score") >= QmThreshold)
  }

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fingerprint"))

  /** Corpus vocabulary: global token frequencies, top `k` by (freq desc,
    * token asc — the tiebreak makes the cut deterministic). Scale shape:
    * explode -> two-level hash aggregate (map-side partial combine bounds
    * the shuffle volume by |vocab| per task, not corpus size) -> the
    * sort+limit plans as TakeOrderedAndProject (each task keeps k rows,
    * the driver merges P*k) — no global sort of the vocabulary.
    */
  def vocabTopK(docs: DataFrame, k: Int = 50): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count("*").as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  /** Count-min-sketch heavy-hitter AUDIT (Cormode & Muthukrishnan, "An
    * Improved Data Stream Summary: The Count-Min Sketch", J.Alg'05): build
    * the d x w counter grid over every token occurrence, then report, for
    * the exact top-k tokens, the sketch estimate next to the true count and
    * the (always >= 0) overestimate. The sketch is the 100 TB artifact:
    * d*w counters (4 x 64 longs here) is the ENTIRE corpus-wide state — at
    * scale the counter build is a map-side-combined aggregate whose reduce
    * state is fixed-size regardless of corpus or vocabulary, which is the
    * whole point versus the exact q34 vocab aggregate (per-token state).
    * The audit join is against q34's exact top-k, so the output both pins
    * the CMS arithmetic cross-engine and MEASURES the collision error at
    * this width (overestimate > 0 rows are genuine collisions).
    *
    * Determinism: row hashes are fixed odd-constant affine maps over the
    * token signature mod P then mod w — integer-only, oracle-identical.
    * est(t) = min_j counter[j][h_j(t)] per the CMS guarantee
    * est <= exact + eps*N with prob 1 - (1/2)^d at w = 2/eps.
    */
  def cmsHeavyHitters(docs: DataFrame, depth: Int = 4, width: Int = 64,
                      k: Int = 25): DataFrame = {
    require(depth <= 4, "4 hash rows pinned (constant tables)")
    val rowsJ = sequence(lit(0), lit(depth - 1))
    val aLit = array(lit(131L), lit(1031L), lit(8191L), lit(524287L))
    val bLit = array(lit(7L), lit(101L), lit(3571L), lit(91193L))
    def bucket(sig: Column, j: Column) =
      pmod(pmod(sig * element_at(aLit, j + 1) + element_at(bLit, j + 1),
        lit(P)), lit(width.toLong))
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    // counter grid: depth x width longs, partial-aggregated map-side — the
    // reduce state is d*w rows no matter the corpus
    val counters = toks
      .select(tokenSig(col("token")).as("sig"), explode(rowsJ).as("j"))
      .groupBy(col("j"), bucket(col("sig"), col("j")).as("bucket"))
      .agg(count(lit(1)).as("c"))
    val topk = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token")).limit(k)
    topk
      .select(col("token"), col("exact_cnt"),
        tokenSig(col("token")).as("sig"), explode(rowsJ).as("j"))
      .withColumn("bucket", bucket(col("sig"), col("j")))
      .join(broadcast(counters), Seq("j", "bucket"))
      .groupBy("token", "exact_cnt")
      .agg(min("c").as("cms_est"))
      .select(col("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overestimate"))
  }

  /** PMI-ranked bigram collocations (phrase mining for tokenizer/vocab
    * curation): score(t1,t2) = P(t1 t2) / (P(t1) P(t2)) without the log —
    * log is monotone, so the RANKING is PMI's, and dropping it keeps every
    * op an exactly-rounded IEEE multiply/divide that DuckDB reproduces
    * bit-for-bit (the same rational-score trick as TF-IDF/BM25; ln()
    * differs across libms). score = (n_pair * N) / (n_t1 * n_t2) with one
    * promotion to double per factor, one division.
    *
    * Scale shape: bigrams explode off a materialized token array (same
    * CollapseProject trick as shingles); unigram and bigram counts are
    * two-level hash aggregates bounded by |vocab| / |vocab|^2 per task;
    * the scalar corpus token count and the unigram dim broadcast; final
    * top-k plans as TakeOrderedAndProject. Nothing shuffles at corpus
    * size.
    */
  def collocations(docs: DataFrame, k: Int = 20, minCount: Int = 5): DataFrame = {
    val withToks = docs.withColumn("_toks", tokens(col("text")))
    val uni = withToks.select(explode(col("_toks")).as("tok"))
      .groupBy("tok").agg(count("*").as("c"))
    val bigrams = withToks
      .withColumn("_bg",
        windows(col("_toks"), 2, "struct<t1:string,t2:string>")(w =>
          struct(w(0).as("t1"), w(1).as("t2"))))
      .select(explode_outer(col("_bg")).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col("bg.t1"), col("bg.t2"))
      .groupBy("t1", "t2").agg(count("*").as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val nTok = uni.agg(sum("c").as("n_total"))
    bigrams
      .join(broadcast(uni.select(col("tok").as("t1"), col("c").as("n_t1"))), "t1")
      .join(broadcast(uni.select(col("tok").as("t2"), col("c").as("n_t2"))), "t2")
      .crossJoin(broadcast(nTok))
      .select(col("t1"), col("t2"), col("n_pair"), col("n_t1"), col("n_t2"),
        round((col("n_pair").cast("double") * col("n_total")) /
          (col("n_t1").cast("double") * col("n_t2")), 6).as("score"))
      .orderBy(col("score").desc, col("t1"), col("t2"))
      .limit(k)
  }

  /** Fraction of repeated word-2-grams within a document (0 = all distinct):
    * the standard within-doc repetition signal from published web-corpus
    * quality rules (Gopher/RefinedWeb-style). Engine-portable: string
    * 2-grams joined with a space, exact distinct count.
    */
  def dup2gramRatio(text: Column): Column = {
    val toks = tokens(text)
    val grams = windows(toks, 2, "string")(w => concat(w(0), lit(" "), w(1)))
    // a one-token document has no 2-gram and no ratio
    when(size(toks) < 2, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(grams)).cast("double")
        / (size(toks) - 1).cast("double"))
  }

  /** Gopher-style heuristic quality filter: per-document quality signals +
    * a keep/drop decision with the FIRST failing rule as an audit
    * `reject_reason` (mirroring the pipeline's rejects side-output — a
    * production corpus filter must explain every drop).
    *
    * Deliberately emits `keep` as a COLUMN rather than filtering: a
    * predicate over these derived signals sitting above the projection
    * would be pushed into the parquet scan and re-evaluate the whole
    * expression tree pre-repartition (the measured 138s-vs-1.5s trap —
    * see DedupOps.shingleIndex). Callers filter on the cheap materialized
    * boolean downstream.
    */
  def qualityFilter(docs: DataFrame, minTokens: Int = 20,
                    minStopword: Double = 0.02, maxDupRatio: Double = 0.10,
                    maxPunct: Double = 0.10): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stop = size(filter(toks, t => t.isin("the", "a", "of", "and"))).cast("long")
    val stopRatio = stop.cast("double") / nTok.cast("double")
    val punct = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("double") /
      length(col("text")).cast("double")
    val staged = docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      stopRatio.as("stopword_ratio"),
      punct.as("punct_ratio"),
      dup2gramRatio(col("text")).as("dup_2gram_ratio"))
    val reason = when(col("n_tokens") < minTokens, "too_short")
      .when(col("stopword_ratio") < minStopword, "low_stopword")
      .when(col("dup_2gram_ratio") > maxDupRatio, "repetitive")
      .when(col("punct_ratio") > maxPunct, "too_much_punct")
    staged.select(col("doc_id"), col("n_tokens"), col("stopword_ratio"),
      col("punct_ratio"), col("dup_2gram_ratio"),
      reason.isNull.as("keep"), reason.as("reject_reason"))
  }

  /** PII-scrub patterns, written in the common ASCII subset that Java
    * regex and RE2-class engines (the DuckDB oracle) interpret identically:
    * no backrefs, no lookaround, ASCII character classes only.
    */
  val Ipv4Pattern = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** PII scrubbing pass (the redaction step a training pipeline runs before
    * anything leaves the raw zone): masks IPv4 addresses and emails, and
    * reports per-row match counts for audit. Pure map-side regex — one
    * codegen'd projection, no shuffle, trivially scale-linear. `idCols`
    * carries the table's key columns through.
    */
  def piiScrub(df: DataFrame, idCols: Seq[String]): DataFrame =
    df.select(idCols.map(col) ++ Seq(
      size(regexp_extract_all(col("text"), lit(Ipv4Pattern), lit(0)))
        .cast("long").as("n_ips"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      regexp_replace(
        regexp_replace(col("text"), Ipv4Pattern, "<ip>"),
        EmailPattern, "<email>").as("scrubbed_text")): _*)

  /** Top-k most-characteristic tokens per document by tf x (N/df) — TF-IDF
    * with a RATIONAL (log-free) idf: every arithmetic step is an exactly-
    * rounded IEEE op (+,*,/), so the DuckDB oracle reproduces scores
    * bit-for-bit, where ln() may differ in the last ulp across libm
    * implementations. Ranking is score desc, token asc (deterministic ties).
    *
    * Scale shape: explode -> partial-combined hash agg for tf, a second
    * narrow agg for df (keyed on token, bounded by |vocab|), a broadcast of
    * the 1-row corpus count, and a window partitioned by doc_id — a
    * HIGH-cardinality partition key, so the rank spreads over all reducers
    * (unlike a per-query window over ≤ nQueries partitions, the q27 trap).
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    // persisted: both the scored side and the df census read it, and Spark
    // does not share common subtrees across join branches — without this
    // the tokenize+explode+agg pass runs twice (same pattern as the
    // jaccard shingle index; at 100 TB this is the materialized term-freq
    // intermediate table)
    val tf = Intermediates.persist(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count("*").as("tf")))
    val dfreq = tf.groupBy("token").agg(count("*").as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "score", "rank")
  }

  /** Per-stratum corpus profile: count + EXACT token-length quantiles per
    * language (the distribution sheet a curation run records per shard).
    * Spark's `percentile` is the exact sorted-interpolation aggregate —
    * partial state is a per-group value buffer, merge is order-insensitive,
    * so unlike float sums the result is deterministic; interpolation runs
    * over exact longs at positions (n-1)p. At 100 TB the per-group buffer
    * is the cost driver — for unbounded groups the documented swap-in is
    * approx_percentile (t-digest) at a stated error bound.
    */
  def corpusProfile(docs: DataFrame): DataFrame =
    docs.select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(
        count("*").as("n_docs"),
        min("n_tokens").as("min_tokens"),
        expr("percentile(n_tokens, array(0.25D, 0.5D, 0.75D))").as("quartiles"),
        max("n_tokens").as("max_tokens"))
      .select(col("lang"), col("n_docs"), col("min_tokens"),
        element_at(col("quartiles"), 1).as("p25"),
        element_at(col("quartiles"), 2).as("p50"),
        element_at(col("quartiles"), 3).as("p75"),
        col("max_tokens"))

  /** BM25-style retrieval over the corpus for a fixed term query — the
    * search surface a training-data curation UI runs ("show me documents
    * about X"). Portability choices, both load-bearing for the oracle:
    *
    *   - RATIONAL idf `(N - df + 0.5) / (df + 0.5)` (no ln(): exactly-
    *     rounded IEEE ops only, same as tfidfTopK);
    *   - the per-document score is a FOLD over the matched terms in sorted
    *     term order (`aggregate(sort_array(...))`), never a float SUM
    *     aggregate — distributed sum order is nondeterministic, a sorted
    *     left-fold is bit-stable and matches DuckDB's list_reduce.
    *
    * Scale shape: the query-term filter lands on the exploded index before
    * any aggregation (only matching postings survive the map side), df for
    * the <= |query| terms broadcasts, and the final top-k plans as
    * TakeOrdered — no global sort.
    */
  def bm25Search(docs: DataFrame, queryTerms: Seq[String], k: Int = 20,
                 k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    // k1=1.25, b=0.75: every derived literal (k1+1=2.25, 1-b=0.25) is an
    // exactly-representable double, so the oracle's SQL literals denote the
    // same bits without relying on cross-engine literal-parsing agreement
    val corpus = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val stats = corpus.agg(
      count(lit(1)).as("n_docs"),
      (sum(size(col("toks"))).cast("double") / count(lit(1)).cast("double"))
        .as("avg_len"))
    val tf = corpus
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count("*").cast("double").as("tf"))
    val dfreq = tf.groupBy("term").agg(count("*").as("df"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_r",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("s",
        col("idf_r") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avg_len"))))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("s")))).as("parts"))
      .select(col("doc_id"),
        size(col("parts")).as("n_terms_matched"),
        aggregate(col("parts"), lit(0.0), (acc, p) => acc + p.getField("s"))
          .as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Within-document repetition metrics (Rae et al., "Scaling Language
    * Models: ... Gopher", 2021, §A1.1 repetition filters — the axis q40's
    * length/punct/stopword rules do NOT cover): per document,
    *
    *   dup2_frac / dup3_frac — fraction of 2-/3-gram positions whose gram
    *     occurs more than once in the SAME document,
    *   top2_frac — the single most frequent 2-gram's share of positions
    *
    * (token-position shares; the paper uses character shares — a documented
    * simplification, the ranking signal is the same), and a keep flag at
    * the paper's thresholds (dup2 <= 0.20, dup3/top2 <= 0.18). All three
    * are one integer division (exact longs -> one exactly-rounded IEEE op),
    * so the oracle matches bit-for-bit.
    *
    * Scale shape: per-doc gram counting shuffles (doc_id, gram_code, count)
    * only — text never leaves the map side — and both aggregates partial-
    * combine; the group cardinality is bounded by document length, so the
    * skew ceiling is the longest doc, never the corpus (same bound as
    * q42/q49/q71). No corpus-wide state at all: this is the embarrassingly
    * parallel end of the dedup spectrum.
    */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    // one pass over text: the signature array feeds three consumers
    // (n_tokens + both gram censuses), so it rides the release ledger
    // instead of re-tokenizing per consumer
    val sigDocs = Intermediates.persist(
      docs.select(col("doc_id"), size(tokens(col("text"))).cast("long")
        .as("n_tokens"), sigs(col("text")).as("sigs")))
    def perDoc(codes: Column, pre: String) = sigDocs
      .select(col("doc_id"), explode_outer(codes).as("g"))
      .filter(col("g").isNotNull)
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as(s"${pre}_total"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as(s"${pre}_dup"),
        max("c").as(s"${pre}_top"))
    def frac(n: Column, d: Column) =
      when(d.isNull || d === 0L, lit(0.0))
        .otherwise(n.cast("double") / d.cast("double"))
    sigDocs.select("doc_id", "n_tokens")
      .join(perDoc(gramCodes(col("sigs"), 2), "b"), Seq("doc_id"), "left")
      .join(perDoc(gramCodes(col("sigs"), 3), "t"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        frac(col("b_dup"), col("b_total")).as("dup2_frac"),
        frac(col("t_dup"), col("t_total")).as("dup3_frac"),
        frac(col("b_top"), col("b_total")).as("top2_frac"))
      .withColumn("keep",
        col("dup2_frac") <= 0.2 && col("dup3_frac") <= 0.18
          && col("top2_frac") <= 0.18)
  }

  /** Stupid-backoff trigram LM scoring (Brants et al., "Large Language
    * Models in Machine Translation", EMNLP'07 — the backoff scheme designed
    * FOR distributed n-gram counting) in the CCNet/perplexity-filter shape:
    * an n-gram model trained on a reference shard scores the remaining
    * shard, and low-predictability documents are the curation signal.
    * Here the reference shard is `doc_id % holdoutMod != 0` and the scored
    * shard the rest — scoring the training shard itself would be vacuous
    * (every scored trigram would be its own evidence; backoff never fires).
    *
    * Per position i (full trigram context, i >= 3):
    *   S = c3/c2ctx              when the trigram was seen in training,
    *       0.4 * c2/c1ctx        else when the (w_{i-1}, w_i) bigram was,
    *       0.4^2 * c1/N          else (c1 = 0 for out-of-vocabulary words).
    * No log(): every tier is a quotient of exact longs (plus the 0.4
    * constants) — exactly-rounded IEEE ops the oracle reproduces bit-for-
    * bit — and the per-doc mean is a position-ordered FOLD over the parts
    * array, never a float SUM aggregate (the q43 portability rule).
    *
    * Scale shape: the three count tables are narrow corpus aggregates
    * ((long..., long) rows — text never shuffles); the probe joins key on
    * gram tuples where the count side is pre-aggregated to ONE row per gram,
    * so hot boilerplate trigrams skew the probe side only (AQE-splittable
    * hash joins, no fan-out). The scalar N rides a broadcast; the per-doc
    * fold is bounded by document length. Per-doc tier counts (n_tri/n_bi/
    * n_uni) ride along so the output pins that all three tiers are ACTIVE
    * on real data (at sf0.01: 3729 tri / 1434 bi / 2 uni positions, and 91
    * of the 100 scored docs back off at least once).
    */
  def stupidBackoff(docs: DataFrame, holdoutMod: Int = 5): DataFrame = {
    val sigDocs = docs.select(col("doc_id"), sigs(col("text")).as("sigs"))
    val hold = pmod(col("doc_id"), lit(holdoutMod.toLong)) === 0L
    // the train shard feeds THREE count tables (uni/bi/tri): tokenize it
    // once and keep the signature arrays on the release ledger instead of
    // re-scanning text per table (the two-consumers Catalyst lesson)
    val train = Intermediates.persist(sigDocs.filter(!hold))

    // positional full-trigram contexts for a shard: (doc_id, pos, w2, w1, w0)
    // with pos >= 3; outer explode + isNotNull for the usual
    // InferFiltersFromGenerate reason (see DedupOps.shingleIndex)
    def triples(df: DataFrame) = df
      .select(col("doc_id"), posexplode_outer(
        windows(col("sigs"), 3, "struct<w2:bigint,w1:bigint,w0:bigint>")(w =>
          struct(w(0).as("w2"), w(1).as("w1"), w(2).as("w0")))).as(Seq("_p0", "t")))
      .filter(col("t").isNotNull)
      .select(col("doc_id"), (col("_p0") + 3).cast("long").as("pos"),
        col("t.w2"), col("t.w1"), col("t.w0"))

    val trainToks = train
      .select(explode_outer(col("sigs")).as("w")).filter(col("w").isNotNull)
    val uni = trainToks.groupBy("w").agg(count(lit(1)).as("c1"))
    val stats = trainToks.agg(count(lit(1)).as("n_train"))
    val bi = train
      .select(explode_outer(windows(col("sigs"), 2, "struct<w1:bigint,w0:bigint>")(w =>
        struct(w(0).as("w1"), w(1).as("w0")))).as("b"))
      .filter(col("b").isNotNull)
      .groupBy(col("b.w1").as("w1"), col("b.w0").as("w0"))
      .agg(count(lit(1)).as("c2"))
    val tri = triples(train).groupBy("w2", "w1", "w0").agg(count(lit(1)).as("c3"))

    triples(sigDocs.filter(hold))
      .join(tri, Seq("w2", "w1", "w0"), "left")
      .join(bi.select(col("w1").as("w2"), col("w0").as("w1"),
        col("c2").as("c2ctx")), Seq("w2", "w1"), "left")
      .join(bi, Seq("w1", "w0"), "left")
      .join(uni.select(col("w").as("w1"), col("c1").as("c1ctx")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w0"), col("c1")), Seq("w0"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("s",
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2ctx").cast("double"))
          .when(col("c2").isNotNull,
            lit(0.4) * col("c2").cast("double") / col("c1ctx").cast("double"))
          .otherwise(lit(0.4) * lit(0.4)
            * coalesce(col("c1"), lit(0L)).cast("double")
            / col("n_train").cast("double")))
      .withColumn("tier",
        when(col("c3").isNotNull, lit("tri"))
          .when(col("c2").isNotNull, lit("bi")).otherwise(lit("uni")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(
        struct(col("pos"), col("s"), col("tier")))).as("parts"))
      .select(col("doc_id"),
        size(col("parts")).cast("long").as("n_scored"),
        (aggregate(col("parts"), lit(0.0), (acc, p) => acc + p.getField("s"))
          / size(col("parts")).cast("double")).as("sb_mean"),
        size(filter(col("parts"), p => p.getField("tier") === "tri"))
          .cast("long").as("n_tri"),
        size(filter(col("parts"), p => p.getField("tier") === "bi"))
          .cast("long").as("n_bi"),
        size(filter(col("parts"), p => p.getField("tier") === "uni"))
          .cast("long").as("n_uni"))
  }

  /** Per-source shard REPORT CARD — the curation dashboard row a data
    * vendor review reads per ingestion source: document/token volume, the
    * frozen quality model's keep rate (q67) and the exact-duplicate rate
    * (q20's census), aggregated per source. Pure composition of existing
    * verdicts: at 100 TB each input is a narrow id-keyed column (flag or
    * count), the joins key on doc_id at verdict width, and the report is
    * one map-side-combined aggregate over |sources| groups.
    */
  def sourceQualityReport(docs: DataFrame): DataFrame = {
    val qm = qualityModelScore(docs).select(col("doc_id"), col("keep"))
    val digests = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("_d"))
    val dupFlag = digests
      .join(digests.groupBy("_d").agg(count(lit(1)).as("_n")), Seq("_d"))
      .select(col("doc_id"), (col("_n") > 1).as("_isdup"))
    docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("_nt"))
      .join(qm, Seq("doc_id"))
      .join(dupFlag, Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("_nt").as("total_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("_isdup"), 1L).otherwise(0L)).as("n_exact_dup"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_rate"),
        (col("n_exact_dup").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"))
  }

  /** BPE merge learning (Sennrich et al., "Neural Machine Translation of
    * Rare Words with Subword Units", ACL'16) — the tokenizer-training
    * artifact: the first `merges` byte-pair merges over the corpus, each
    * round picking the most frequent adjacent symbol pair (ties broken
    * lexicographically, so the table is deterministic cross-engine).
    *
    * Scale shape — the reason BPE training is tractable at 100 TB: after
    * ONE corpus pass builds the word-frequency VOCAB, every merge round
    * runs over the vocab table only (distinct words x freq — bounded by
    * vocabulary, not corpus), as a narrow pair-count aggregate + a scalar
    * top-1 probe to the driver (the legitimate scalar-probe category, same
    * as the IVF seeds). Symbol sequences use the classic space-joined
    * string encoding with DOUBLE-space separators and sentinel edges, so
    * a merge is one non-overlapping left-to-right `replace` — identical
    * semantics in Spark and DuckDB, no per-symbol loop.
    */
  /** Shared BPE trainer: returns the learned merge table AND the vocab
    * with post-merge symbol sequences (the serving artifact [[bpeApply]]
    * joins against). See [[bpeMerges]] for the algorithm notes.
    */
  private def bpeLearn(docs: DataFrame, merges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val vocab0 = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), concat(lit(" "),
        array_join(
          when(length(col("w")) === 0, array().cast("array<string>"))
            .otherwise(expr(
              "transform(sequence(1, length(w)), i -> substring(w, i, 1))")),
          "  "), lit(" ")).as("seq"))
    var vocab = vocab0.localCheckpoint(true)
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to merges) {
      val top = vocab
        .select(col("freq"), split(trim(col("seq")), "  ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((round, a, b, cnt))
        vocab = vocab.withColumn("seq",
          replace(col("seq"), lit(s" $a  $b "), lit(s" $a$b ")))
          .localCheckpoint(true)
      }
    }
    (learned.result(), vocab)
  }

  def bpeMerges(docs: DataFrame, merges: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLearn(docs, merges)._1
      .toDF("round", "merge_left", "merge_right", "pair_count")
      .select(col("round"), col("merge_left"), col("merge_right"), col("pair_count"))
  }

  /** BPE SERVING — apply the learned merges to the corpus: the actual
    * tokenization step after [[bpeMerges]] trains. The key scale property:
    * merges are applied on the VOCAB (distinct words), never on the token
    * stream — per-word post-merge symbol counts then join back to the
    * exploded corpus on the token string, so the heavy replace chain runs
    * |vocab| times regardless of corpus size (the standard trick real BPE
    * tokenizers use: a word-level cache in front of the merge loop).
    * Output per document: token count, post-merge symbol count, and the
    * symbols-per-token ratio (the compression the learned merges buy —
    * 1.0 would mean every token fused to one symbol; chars/token is the
    * no-merge ceiling).
    */
  def bpeApply(docs: DataFrame, merges: Int = 3): DataFrame = {
    val wordSyms = bpeLearn(docs, merges)._2
      .select(col("w").as("token"),
        size(split(trim(col("seq")), "  ")).cast("long").as("n_syms"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(wordSyms, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("n_syms").as("n_symbols"))
      .withColumn("syms_per_token",
        col("n_symbols").cast("double") / col("n_tokens").cast("double"))
  }

  /** Hashed-n-gram importance weighting in the DSIR shape (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS'23): estimate a target distribution (here the benchmark-style
    * shard `doc_id % 50 == 0`, the q39/q55/q66 convention) and the raw
    * distribution over HASHED bigram features — a fixed B-bucket count
    * vector each, the same fixed-size-state trick as the q74 sketch — and
    * score every raw document by how target-like its features are.
    *
    * Portability surrogate, documented: DSIR's weight is
    * sum_i log(p_tgt[b_i]/p_raw[b_i]); ln() is not exactly rounded the
    * same across libms, so the score here is the position-ordered fold of
    * the add-1-smoothed RATIO terms (t_b + 1)/(r_b + 1) divided by the
    * feature count — a mean likelihood ratio rather than a mean log ratio.
    * Monotone per term, deterministic to the bit (exact long division into
    * double + ordered fold, the q43 rule); the selection behavior (rank by
    * target-likeness, resample the top) is the paper's.
    *
    * Scale shape: both count vectors are <= B rows and BROADCAST to the
    * probe; the only wide shuffle is the per-doc fold's groupBy — text
    * never shuffles, and the model state is 2*B longs no matter the
    * corpus. The hot-bucket failure mode of feature hashing shows up only
    * as probe-side row skew into a pre-aggregated broadcast row: no
    * fan-out (contrast the capped self-join generators, q51/q56/q57).
    */
  def dsirWeights(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val sigDocs = docs.select(col("doc_id"), sigs(col("text")).as("sigs"))
    val isTarget = pmod(col("doc_id"), lit(50L)) === 0L
    // positional hashed-bigram features: (doc_id, pos, bucket)
    def feats(df: DataFrame) = df
      .select(col("doc_id"), posexplode_outer(windows(col("sigs"), 2, "bigint")(w =>
        pmod(gramCode(w), lit(buckets.toLong)))).as(Seq("_p0", "b")))
      .filter(col("b").isNotNull)
      .select(col("doc_id"), (col("_p0") + 1).cast("long").as("pos"), col("b"))
    val tgt = feats(sigDocs.filter(isTarget)).groupBy("b")
      .agg(count(lit(1)).as("t_cnt"))
    // the raw feature stream feeds both the count vector and the probe:
    // one text pass, on the release ledger
    val rawFeats = Intermediates.persist(feats(sigDocs.filter(!isTarget)))
    val raw = rawFeats.groupBy("b").agg(count(lit(1)).as("r_cnt"))
    rawFeats
      .join(broadcast(tgt), Seq("b"), "left")
      .join(broadcast(raw), Seq("b"), "left")
      .withColumn("s",
        (coalesce(col("t_cnt"), lit(0L)) + 1L).cast("double")
          / (coalesce(col("r_cnt"), lit(0L)) + 1L).cast("double"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("parts"))
      .select(col("doc_id"),
        size(col("parts")).cast("long").as("n_feat"),
        (aggregate(col("parts"), lit(0.0), (acc, p) => acc + p.getField("s"))
          / size(col("parts")).cast("double")).as("dsir_score"))
  }

  /** SimHash over token signatures, `bits` wide: bit j of the hash is the
    * sign of the sum over tokens of ±1 by bit j of the spread signature.
    * Implemented explode-side (shuffle on doc_id) — the shape that scales:
    * at 100 TB this is a map + partial-aggregated hash agg, no driver state.
    */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    docs
      // outer + isNotNull: a plain explode would push the signature
      // transform into the scan as an inferred size()>0 DataFilter,
      // doubling the per-row compute (see DedupOps.shingleIndex)
      .select(col("doc_id"),
        explode_outer(sigs(col("text"))).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), explode(sequence(lit(0), lit(bits - 1))).as("j"),
        (col("sig") * lit(2654435761L)).as("h"))
      .groupBy("doc_id", "j")
      .agg(sum(expr("(shiftright(h, j) & 1) * 2 - 1")).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(cast(1 as bigint), j)")).otherwise(0L))
        .as(s"simhash$bits"))
  }
}
