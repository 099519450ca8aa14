package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupOps

/** Pins the scale-critical dedup behaviors that the DuckDB oracle cannot
  * see at the synthetic corpora: the shingle frequency cap (inert there —
  * max doc-frequency 29 at sf0.01) and the digest-keyed exact-dup plan.
  */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  test("dedupedCorpus keeps exactly the min-id doc per cluster; sizes partition the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(4)
    val out = DedupOps.dedupedCorpus(docs)
    val clusters = DedupOps.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = out.collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster_size")).toMap
    // every kept doc is its own cluster's minimum
    kept.keys.foreach(d => assert(clusters(d) == d, s"kept $d is not its cluster min"))
    // cluster sizes partition the corpus: they sum to the doc count
    assert(kept.values.sum == docs.count())
    // every removed doc's cluster keeper IS kept
    clusters.foreach { case (d, c) => assert(kept.contains(c), s"cluster $c has no keeper") }
  }

  test("operator intermediates release after the terminal action (no leaked cache blocks)") {
    import graft.operators.{Intermediates, TextOps}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(4)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DedupOps.jaccardPairs(docs, 0.12).count()
    DedupOps.decontaminate(docs).count()
    DedupOps.sourceOverlap(docs).count()
    TextOps.tfidfTopK(docs).count()
    assert(Intermediates.registered(spark) >= 4)
    Intermediates.release(spark)
    assert(Intermediates.registered(spark) == 0)
    // every cache block the four operators pinned is gone after release
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("sourceOverlap: identical sources score jaccard 1, disjoint sources emit no pair") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon", "mirror_a"),
      (1L, "alpha beta gamma delta epsilon", "mirror_b"), // byte-identical corpus
      (2L, "zz yy xx ww vv uu", "loner"),                 // disjoint shingles
      (3L, "alpha beta gamma QQ RR SS", "partial"))       // shares 1 of its shingles with mirrors
      .toDF("doc_id", "text", "source")
    val out = DedupOps.sourceOverlap(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // mirrors: identical shingle sets -> jaccard exactly 1.0
    val m = out(("mirror_a", "mirror_b"))
    assert(m.getAs[Long]("n_shared") == m.getAs[Long]("n_a") &&
      m.getAs[Double]("jaccard") == 1.0)
    // loner shares nothing: no pair row with it at all
    assert(!out.keys.exists(k => k._1 == "loner" || k._2 == "loner"))
    // partial overlaps the mirrors on exactly the "alpha beta gamma" shingle
    assert(out(("mirror_a", "partial")).getAs[Long]("n_shared") == 1L)
    // size dims broadcast; the only wide exchange keys on (source, shingle)
    val plan = DedupOps.sourceOverlap(docs).queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("hot-shingle cap bounds candidate fan-out; discriminative pairs survive") {
    // 40 docs share one stop 3-gram ("the same stop"); two docs also share
    // a distinctive trigram. Tail tokens must be distinct in the signature
    // space (tokenSig = first-char * 131 + length), so each gets a unique
    // (first char, length) pair.
    def utok(k: Int): String = ('A' + (k % 50)).toChar.toString * (2 + k / 50)
    val stop = "the same stop"
    val docs = ((0 until 40).map(i =>
      (i.toLong, s"$stop ${utok(3 * i)} ${utok(3 * i + 1)} ${utok(3 * i + 2)}")) ++
      Seq((100L, s"alpha beta gamma ${utok(200)} ${utok(201)} ${utok(202)}"),
          (101L, s"alpha beta gamma ${utok(203)} ${utok(204)} ${utok(205)}")))
      .toDF("doc_id", "text")

    // uncapped: the stop-shingle alone creates C(42,2)-ish candidates
    val uncapped = DedupOps.jaccardPairs(docs, 0.01, maxShingleDocFreq = 1000)
    // capped at 10: the stop-shingle (df=42) is dropped from candidate
    // generation AND from the jaccard space
    val capped = DedupOps.jaccardPairs(docs, 0.01, maxShingleDocFreq = 10)

    val uncappedPairs = uncapped.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedPairs = capped.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // stop-only pairs vanish under the cap...
    assert(uncappedPairs.contains((0L, 1L)))
    assert(!cappedPairs.contains((0L, 1L)))
    // ...while the discriminative near-dup pair survives
    assert(cappedPairs.contains((100L, 101L)))
    assert(cappedPairs.size < uncappedPairs.size)

    // and its jaccard is computed over the capped (discriminative) space
    val j = capped.filter(col("doc_a") === 100L && col("doc_b") === 101L)
      .select("n_inter", "n_a", "n_b").head()
    assert(j.getLong(0) >= 1 && j.getLong(0) <= j.getLong(1))
  }

  test("LSH bucket-occupancy cap drops over-full band buckets; discriminative pairs survive") {
    // five byte-identical docs collide in EVERY band bucket (occupancy 5
    // in each of the 4 bands) — the templated-boilerplate shape whose
    // f^2 fan-out the cap exists to bound; two near-identical docs land in
    // their own discriminative buckets (occupancy 2)
    val boiler = "the same boilerplate license header repeated on every crawled page"
    val docs = ((0L until 5L).map(i => (i, boiler)) ++
      Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
          (11L, "alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    def pairs(cap: Int): Set[(Long, Long)] =
      DedupOps.lshCandidates(docs, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Int.MaxValue)
    // all C(5,2)=10 template pairs band uncapped
    assert((0L until 5L).combinations(2).forall(p => uncapped.contains((p(0), p(1)))))
    val capped = pairs(4)
    // every bucket holding >= 2 template docs has occupancy >= 5 > 4, so
    // ALL template pairs vanish; pairs bucketed at occupancy <= 4 are
    // untouched — the capped set is exactly the uncapped set minus the
    // hot-bucket mass (fan-out per surviving bucket <= cap^2)
    assert(capped == uncapped.filterNot { case (a, b) => a < 5 && b < 5 })
    graft.operators.Intermediates.release(spark)
  }

  test("exact dedup groups by digest, not by raw text, and keeps min-id keeper") {
    val docs = Seq(
      (1L, "aaa bbb"), (2L, "aaa bbb"), (3L, "ccc ddd"), (4L, "aaa bbb"), (5L, "eee"))
      .toDF("doc_id", "text")
    val out = DedupOps.exactDups(docs).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq == Seq(
      (1L, 1L, true), (2L, 1L, true), (3L, 3L, false), (4L, 1L, true), (5L, 5L, false)))
    // plan hygiene: no exchange keyed on the raw text column
    val plan = DedupOps.exactDups(docs).queryExecution.executedPlan.toString()
    assert(!plan.contains("hashpartitioning(text"),
      s"raw text used as shuffle key:\n${plan.take(1500)}")

    // NULL text is its own group (SQL PARTITION BY semantics), distinct
    // from empty string — a raw md5(NULL) key would silently drop the rows
    val withNulls = Seq((1L, null), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
    val nOut = DedupOps.exactDups(withNulls).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(nOut == Seq((1L, 1L, true), (2L, 2L, false), (3L, 1L, true)))
  }

  test("no heavy array expression is pushed into the parquet scan as a DataFilter") {
    // Regression guard for the InferFiltersFromGenerate / constraint-
    // propagation trap: a predicate derived from a computed array column
    // (inferred size()>0 from explode, or a guard on element_at(minhash))
    // gets alias-substituted and pushed into the FileScan DataFilters,
    // where the whole signature tree re-evaluates pre-repartition on the
    // single input split (measured 138 s vs 1.5 s at sf0.1).
    val dir = tmpDir("dedup-scan")
    Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "other words entirely here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir).repartition(2)
    for ((name, df) <- Seq(
      "shingleIndex" -> DedupOps.shingleIndex(docs),
      "lshCandidates" -> DedupOps.lshCandidates(docs),
      "jaccardPairs" -> DedupOps.jaccardPairs(docs, 0.1),
      "winnowFingerprints" -> DedupOps.winnowFingerprints(docs),
      "containmentPairs" -> DedupOps.containmentPairs(docs, 0.5),
      "incrementalDedup" -> DedupOps.incrementalDedup(docs),
      "dupSpans" -> DedupOps.dupSpans(docs, 2),
      "stripSpans" -> DedupOps.stripSpans(docs, 2),
      "minhashAudit" -> DedupOps.minhashAudit(docs),
      "simhash" -> graft.operators.TextOps.simhash(docs))) {
      val scans = df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("FileScan")).mkString("\n")
      for (marker <- Seq("array_min", "array_distinct", "17161"))
        assert(!scans.contains(marker),
          s"$name pushed heavy expr into scan:\n${scans.take(800)}")
    }
  }

  test("cluster resolution propagates min label across a chain to fixpoint") {
    // components: {1,2,3} via the chain 1-2, 2-3 (A~C only transitively —
    // needs >1 propagation round), {5,6}, and singleton 4
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = DedupOps.clustersFromEdges(docs, edges).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L)))
  }

  test("star contraction handles chains min-propagation refuses, and agrees on random graphs") {
    // a 30-node path: diameter 29. Min-propagation needs 29 rounds, so the
    // 10-round bound must REFUSE (never silently split the component)...
    val docs = (0L until 30L).map(i => (i, s"d $i")).toDF("doc_id", "text")
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      DedupOps.clustersFromEdges(docs, chain, maxIter = 10).collect()
    }
    // ...while large-star/small-star contracts it in O(log n) rounds
    val star = DedupOps.clustersFromEdgesStar(docs, chain, maxIter = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L until 30L).forall(star(_) == 0L))

    // seeded random graph: both algorithms produce identical clusters
    val rnd = new scala.util.Random(42)
    val n = 40
    val docs2 = (0L until n.toLong).map(i => (i, s"x $i")).toDF("doc_id", "text")
    val es = (0 until 50).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val edges2 = es.toDF("doc_a", "doc_b")
    val prop = DedupOps.clustersFromEdges(docs2, edges2, maxIter = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ss = DedupOps.clustersFromEdgesStar(docs2, edges2, maxIter = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prop == ss)
  }

  test("star contraction labels match label propagation for edges in either orientation") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // sparse graphs on few nodes, each edge in a random orientation: mostly
    // isolated edges and small trees, the inputs that look like a finished
    // star forest before round 1 when an edge points from larger to smaller
    val n = 10
    val graph: Gen[List[(Long, Long)]] = Gen.choose(1, 5).flatMap(m =>
      Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L)
        b <- Gen.choose(0L, n - 1L).suchThat(_ != a)
      } yield (a, b)))
    val docs = (0L until n.toLong).map(i => (i, s"x $i")).toDF("doc_id", "text")
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 12).foreach { i =>
      val seed = 8000L + i
      val es = graph.pureApply(Gen.Parameters.default, Seed(seed))
      val edges = es.toDF("doc_a", "doc_b")
      val star = labels(DedupOps.clustersFromEdgesStar(docs, edges))
      // label propagation reads both directions of every edge: the reference
      val prop = labels(DedupOps.clustersFromEdges(docs, edges))
      assert(star == prop, s"seed $seed, edges $es")
    }
  }

  test("decontaminate flags docs overlapping the benchmark set; short docs never flag") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),     // benchmark (0 % 50 == 0)
      (1L, "alpha beta gamma delta epsilon"),     // full copy -> ratio 1.0
      (2L, "zeta eta theta iota kappa"),          // disjoint -> ratio 0.0
      (3L, "tiny doc")                            // < 3 tokens: no shingles
    ).toDF("doc_id", "text")
    val out = operators.DedupOps.decontaminate(docs)
      .orderBy("doc_id").collect()
    // benchmark doc itself is excluded from the output
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).getAs[Double]("contam_ratio") == 1.0 &&
      out(0).getAs[Boolean]("is_contaminated"))
    assert(out(1).getAs[Double]("contam_ratio") == 0.0 &&
      !out(1).getAs[Boolean]("is_contaminated"))
    assert(out(2).getAs[Long]("n_shingles") == 0L &&
      out(2).getAs[Double]("contam_ratio") == 0.0 &&
      !out(2).getAs[Boolean]("is_contaminated"))
  }

  test("decontaminate plan broadcasts the benchmark side — the candidate index never shuffles for the match") {
    val docs = (0L until 60L).map(i => (i, s"alpha beta gamma delta token$i end"))
      .toDF("doc_id", "text")
    val plan = operators.DedupOps.decontaminate(docs)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastExchange"),
      s"expected a broadcast of the benchmark shingles:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"decontamination must never plan a cross product:\n${plan.take(2000)}")
  }

  test("dupClusters merges identical texts; shingle-less docs never band") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma delta epsilon"),
      (12L, "alpha beta gamma delta epsilon"),
      (13L, "zz yy"), // < 3 tokens: no shingles, all-null minhash
      (14L, "qq"),
      (15L, "totally different words here now")).toDF("doc_id", "text")
    // the two short docs must NOT become LSH candidates of each other
    val cands = DedupOps.lshCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cands.contains((13L, 14L)))
    val clusters = DedupOps.dupClusters(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(clusters == Seq((10L, 10L), (11L, 10L), (12L, 10L),
      (13L, 13L), (14L, 14L), (15L, 15L)))
  }

  test("winnowing guarantee: docs sharing a >= w+k-1 token run share a fingerprint; density ~2/(w+1)") {
    // w=4, k=3: any shared run of >= 6 tokens must contribute >= 1 common
    // fingerprint (SIGMOD'03 correctness property, stated over windows)
    val shared = "quick brown foxes jump over lazy"
    val docs = Seq(
      (0L, s"aa bb cc $shared dd ee ff"),
      (1L, s"xx yy $shared zz ww"),
      (2L, "completely unrelated token material stands here alone"),
      (3L, "tiny doc"), // < k tokens: no k-grams -> no fingerprints
      (4L, "just four small words")) // 2 k-grams < w: single-min degenerate case
      .toDF("doc_id", "text")
    val fps = DedupOps.winnowFingerprints(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(fps(0L).intersect(fps(1L)).nonEmpty, "shared 6-token run produced no common fingerprint")
    assert(fps.get(3L).isEmpty)
    assert(fps(4L).size == 1, "sub-window doc must winnow to the single global min")
    // winnowed density on the real corpus: ~2/(w+1) of the k-gram count —
    // the index-size reduction that is winnowing's reason to exist
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(4)
    val nFp = DedupOps.winnowFingerprints(corpus).count().toDouble
    val nSh = DedupOps.shingleIndex(corpus).count().toDouble
    assert(nFp / nSh > 0.25 && nFp / nSh < 0.55, s"winnow density ${nFp / nSh} out of expected band")
  }

  test("containment is asymmetric: an embedded doc scores ~1 forward, low backward; cap drops boilerplate fps") {
    val quote = "one two three four five six seven eight nine ten"
    val container = s"intro words here $quote closing remarks follow now and more trailing padding tokens arrive"
    val docs = Seq(
      (0L, quote),                    // fully contained in 1
      (1L, container),
      (2L, "unrelated corpus filler material goes here instead"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.containmentPairs(docs, 0.5, maxFpDocFreq = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    // forward direction: every fingerprint of the quote also winnows out of
    // the container... not guaranteed exactly 1.0 (window minima differ near
    // the splice boundaries), but must clear the 0.5 threshold decisively
    assert(pairs.contains((0L, 1L)), s"embedded doc not detected: $pairs")
    assert(pairs((0L, 1L)) >= 0.5)
    // backward direction: the container is NOT contained in the quote
    assert(!pairs.contains((1L, 0L)), "containment must be asymmetric")
    // capping: a fingerprint present in > cap docs is dropped from the index
    val many = (10L until 20L).map(i => (i, s"boiler plate repeated header tokens $i"))
    val docs2 = (many :+ (30L, "boiler plate repeated header tokens closing")).toDF("doc_id", "text")
    val capped = DedupOps.containmentPairs(docs2, 0.3, maxFpDocFreq = 5).count()
    val uncapped = DedupOps.containmentPairs(docs2, 0.3, maxFpDocFreq = Int.MaxValue).count()
    assert(capped < uncapped, "cap must drop boilerplate-fingerprint candidates")
  }

  test("incremental dedup: exact byte-dup of corpus resolves by digest; corpus-internal pairs never emitted") {
    // the sf corpora hold no byte-identical pairs, so the exact_keeper
    // path is pinned here (the oracle row only sees it as all-null)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // corpus
      (2L, "totally different corpus text right here"), // corpus
      (9L, "alpha beta gamma delta epsilon zeta eta"),  // corpus, near 1
      (10L, "alpha beta gamma delta epsilon zeta"),  // delta: exact dup of 1
      (20L, "alpha beta gamma delta epsilon QQ"),    // delta: near-dup of 1/9
      (30L, "wholly novel delta content never seen")) // delta: new
      .toDF("doc_id", "text")
    val out = DedupOps.incrementalDedup(docs, threshold = 0.2)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toMap
    assert(out.keySet == Set(10L, 20L, 30L), "output must cover exactly the delta")
    assert(out(10L)._1.contains(1L), s"exact dup must key to min corpus doc: ${out(10L)}")
    assert(out(10L)._3 == false)
    assert(out(20L)._1.isEmpty && out(20L)._2.contains(1L), s"near dup -> min corpus keeper: ${out(20L)}")
    assert(out(30L) == (None, None, true))
  }

  test("13-gram decontamination: one verbatim 13-token run flags; 12 shared tokens do not") {
    val run13 = (1 to 13).map(i => s"w$i").mkString(" ")
    val run12 = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, s"bench prefix $run13 bench suffix"),  // the bench doc (0 % 50 == 0)
      (1L, s"train stuff $run13 more text"),      // shares the full 13-gram -> flagged
      (2L, s"train stuff $run12 more text"),      // only 12 consecutive shared -> clean
      (3L, "wholly unrelated training material here"))
      .toDF("doc_id", "text")
    val out = DedupOps.ngramDecontaminate(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(!out.contains(0L), "bench docs are not scored")
    assert(out(1L)._2 && out(1L)._1 >= 1, s"13-gram hit must flag: ${out(1L)}")
    assert(out(2L) == (0L, false), s"12 tokens must not flag: ${out(2L)}")
    assert(out(3L) == (0L, false))
  }

  test("dup-span extraction: maximal islands, min-run filter, no within-doc self-certification") {
    // tokenSig = ascii(first) * 131 + length, so distinct (first char, length)
    // pairs guarantee distinct signatures — build vocab as char repeated n
    def tok(c: Char, n: Int) = c.toString * n
    def run(chars: String, lens: Range) =
      chars.flatMap(c => lens.map(n => tok(c, n))).mkString(" ")
    val shared16 = run("abcd", 1 to 4)         // 16 tokens, all sigs distinct
    val shared10 = run("hi", 1 to 4) + " " + tok('j', 1) + " " + tok('j', 2)
    val docs = Seq(
      (0L, s"e ee eee $shared16 f ff"),         // shared16 at tokens 4..19
      (1L, s"g $shared16 gg ggg"),              // shared16 at tokens 2..17
      (2L, s"k $shared10 kk"),                  // 10-token run: below min 15
      (3L, s"l ll $shared10"),
      (4L, "m mm mmm m mm mmm m mm mmm"))       // repeats only WITHIN one doc
      .toDF("doc_id", "text")

    val spans = DedupOps.dupSpans(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // 16-token shared run -> ONE maximal island per doc: 14 grams, span
    // arithmetic last_gram_pos + 2 (a gram at p covers tokens p..p+2)
    assert(spans(0L) == (4L, 19L, 14L), s"docA span: ${spans.get(0L)}")
    assert(spans(1L) == (2L, 17L, 14L), s"docB span: ${spans.get(1L)}")
    // the 10-token run is real but below minRunTokens=15: dropped
    assert(!spans.contains(2L) && !spans.contains(3L), "short run must be filtered")
    // a gram repeated three times inside ONE doc never self-certifies
    assert(!spans.contains(4L), "within-doc repetition is not duplication")

    // lowering the threshold admits the 10-token run, island arithmetic intact
    val loose = DedupOps.dupSpans(docs, minRunTokens = 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(loose(2L) == (2L, 11L, 8L), s"docC loose span: ${loose.get(2L)}")
    assert(loose(3L) == (3L, 12L, 8L), s"docD loose span: ${loose.get(3L)}")
    assert(loose(0L) == (4L, 19L, 14L) && !loose.contains(4L))

    // strip-all policy: the shared run is removed from BOTH docs (chrome
    // semantics, vs the keep-one-copy doc-level ops); clean docs untouched
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clean = DedupOps.stripSpans(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(clean(0L) == ("e ee eee f ff", 21L, 16L), s"docA strip: ${clean(0L)}")
    assert(clean(1L) == ("g gg ggg", 19L, 16L), s"docB strip: ${clean(1L)}")
    // sub-threshold runs and within-doc repetition leave text byte-identical
    Seq(2L, 3L, 4L).foreach { d =>
      assert(clean(d)._1 == texts(d) && clean(d)._3 == 0L, s"doc $d must be untouched")
    }
    val cleanLoose = DedupOps.stripSpans(docs, minRunTokens = 10).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(cleanLoose(2L) == ("k kk", 10L) && cleanLoose(3L) == ("l ll", 10L))
    graft.operators.Intermediates.release(spark)
  }

  test("CDC chunks: boundaries re-sync after a prefix edit; spans tile the doc; census sees both docs") {
    def tok(i: Int) = (('a' + i % 26).toChar).toString * (1 + i % 7)
    val a = (0 until 60).map(tok).mkString(" ")
    val docs = Seq((0L, a), (1L, "zz " + a)).toDF("doc_id", "text")
    // rows: (doc, chunk_idx) -> (start, end, n_tokens, hash, n_sharing)
    val out = DedupOps.cdcChunks(docs, modulus = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // chunk spans tile each document exactly: contiguous, start 1, end n
    for ((d, n) <- Seq((0L, 60L), (1L, 61L))) {
      val spans = out.filter(_._1._1 == d).toSeq.sortBy(_._1._2).map(_._2)
      assert(spans.head._1 == 1L && spans.last._2 == n, s"doc $d ends: $spans")
      spans.sliding(2).foreach {
        case Seq(x, y) => assert(y._1 == x._2 + 1, s"doc $d gap at ${x._2}")
        case _ =>
      }
      spans.foreach(s => assert(s._3 == s._2 - s._1 + 1))
    }
    val aChunks = out.filter(_._1._1 == 0L).toSeq.sortBy(_._1._2).map(_._2)
    val bHashes = out.filter(_._1._1 == 1L).values.map(_._4).toSet
    assert(aChunks.length >= 2, s"fixture must cut at least once: ${aChunks.length}")
    // every chunk of A after the first reappears in B bit-identically —
    // the content-anchored property a fixed-width blocking scheme lacks
    // (one prepended token would shift and rewrite every block)
    aChunks.tail.foreach { case (_, _, _, h, share) =>
      assert(bHashes.contains(h), s"chunk $h lost after prefix edit")
      assert(share == 2L, s"shared chunk must census 2 docs: $share")
    }
  }

  test("minhash audit: identical docs estimate 1.0 with zero error; err is exactly |est - exact|") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, base), (1L, base),                    // byte-identical: certain banding
      (2L, base + " extra trailing tokens here"), // superset: may band
      (3L, "zz yy xx ww vv uu tt ss rr qq"))      // disjoint: must never pair
      .toDF("doc_id", "text")
    val rows = DedupOps.minhashAudit(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (est01, ex01, err01) = rows((0L, 1L))
    assert(est01 == 1.0 && ex01 == 1.0 && err01 == 0.0, s"(0,1): ${rows((0L, 1L))}")
    rows.values.foreach { case (est, ex, err) =>
      assert(est >= 0.0 && est <= 1.0 && ex > 0.0 && ex <= 1.0)
      assert(err == math.abs(est - ex), "err must be exactly |est - exact|")
    }
    assert(!rows.keys.exists(k => k._1 == 3L || k._2 == 3L),
      "disjoint docs must not generate a candidate")
    graft.operators.Intermediates.release(spark)
  }
}
