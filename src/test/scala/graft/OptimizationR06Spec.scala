package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{DedupOps, Intermediates, Pipeline, SimilarityOps}

/** Focused pins for the round-6 optimization rewrites: each test checks the
  * NEW shape produces exactly the OLD shape's rows, on inputs built to
  * exercise the rewritten branch (not just the happy path).
  */
class OptimizationR06Spec extends SparkSpec {

  private def docsOf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", s"src${i % 3}")
    }.toDF("doc_id", "text", "lang", "source")
  }

  test("star half-round window rewrite: identical components vs reference label propagation") {
    import spark.implicits._
    // a path (diameter > 2), a triangle, a star and singletons — the shapes
    // that distinguish large/small-star behavior from naive propagation
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // path
      (10L, 11L), (11L, 12L), (10L, 12L),     // triangle
      (20L, 21L), (20L, 22L), (20L, 23L))     // star
      .toDF("doc_a", "doc_b")
    val docs = (1L to 5L) ++ Seq(10L, 11L, 12L, 20L, 21L, 22L, 23L, 99L)
    val docsDf = docs.toDF("doc_id")
    val got = DedupOps.clustersFromEdgesStar(docsDf, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 99L -> 99L)
    assert(got == want)
  }

  test("capped pair expansion == uncapped self-join when no key reaches the cap") {
    // shared 3-gram runs across doc groups; cap far above any doc-frequency
    // so BOTH code paths (expansion when capped, self-join when uncapped)
    // see the identical candidate space
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta",
      "alpha beta gamma theta iota kappa",
      "completely different words here now",
      "completely different words here too")
    val docs = docsOf(texts)
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val viaJoin = rows(DedupOps.jaccardPairs(docs, 0.01, maxShingleDocFreq = Int.MaxValue))
    Intermediates.release(spark)
    val viaExpand = rows(DedupOps.jaccardPairs(docs, 0.01, maxShingleDocFreq = 1000))
    Intermediates.release(spark)
    assert(viaJoin.nonEmpty && viaJoin == viaExpand)

    val cJoin = rows(DedupOps.containmentPairs(docs, 0.1, maxFpDocFreq = Int.MaxValue))
    Intermediates.release(spark)
    val cExpand = rows(DedupOps.containmentPairs(docs, 0.1, maxFpDocFreq = 1000))
    Intermediates.release(spark)
    assert(cJoin.nonEmpty && cJoin == cExpand)

    val lJoin = rows(DedupOps.lshCandidates(docs, maxBucketSize = Int.MaxValue))
    Intermediates.release(spark)
    val lExpand = rows(DedupOps.lshCandidates(docs, maxBucketSize = 1000))
    Intermediates.release(spark)
    assert(lJoin.nonEmpty && lJoin == lExpand)
  }

  test("cosine pair expansion == self-join below the occupancy cap") {
    import spark.implicits._
    // vectors engineered to share sign-buckets in near-dup groups
    val emb = Seq(
      (0L, Array(1.0, 0.9, 0.8, 0.7)),
      (1L, Array(0.99, 0.91, 0.79, 0.71)),
      (2L, Array(-1.0, 0.5, -0.5, 0.2)),
      (3L, Array(-0.98, 0.52, -0.48, 0.19)),
      (4L, Array(0.1, -0.9, 0.8, -0.2)))
      .toDF("vec_id", "embedding")
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val viaJoin = rows(SimilarityOps.cosineDupPairs(emb, 0.5, maxBucketSize = Int.MaxValue))
    val viaExpand = rows(SimilarityOps.cosineDupPairs(emb, 0.5, maxBucketSize = 1000))
    assert(viaJoin.nonEmpty && viaJoin == viaExpand)
  }

  test("lifeFacts contains-prefilter is a sound superset: decoy substrings in other fields change nothing") {
    // a stop whose phrase also appears inside an UNRELATED field value of a
    // different row (the adversarial case for the prefilter), plus a start
    // and a no-fact sampled row
    val start = "<134>1 host dos_attack_id=77 dos_attack_event=\"Attack Started\" " +
      "dos_attack_name=\"Flood\" date_time=\"2026-01-02 03:04:05\" bigip_mgmt_ip=10.0.0.1 x=y]"
    val stop = "<134>1 host dos_attack_id=77 dos_attack_event=\"Attack Stopped\" " +
      "date_time=\"2026-01-02 03:09:05\" bigip_mgmt_ip=10.0.0.1 x=y]"
    // phrase appears only as a value of an unrelated key: must NOT be a fact,
    // and must also survive the prefilter without crashing anything
    val decoy = "<134>1 host dos_attack_id=88 dos_attack_event=\"Attack Sampled\" " +
      "dos_attack_name=\"Attack Stopped\" date_time=\"2026-01-02 03:04:06\" bigip_mgmt_ip=10.0.0.1 x=y]"
    val t = transcriptsOf(Seq(start, stop, decoy))
    val facts = graft.operators.Pipeline
      .lifeFacts(t, graft.sources.Transcripts.utcOffsets(spark))
      .collect()
    // exactly two facts (the start and the stop), both attack_id 77; the
    // decoy's phrase-in-another-field neither creates a fact nor drops one
    assert(facts.length == 2)
    assert(facts.forall(_.getLong(0) == 77L))
    assert(facts.map(_.getBoolean(1)).sorted.toSeq == Seq(false, true))
  }

  test("lifeFacts prefilter keeps start/stop facts whose phrase carries a quote") {
    // the syslog KV scan reads the quote-stripped message, so a quote
    // inside `Attack Started` still parses to the phrase: the prefilter
    // must test the same stripped text, or the fact silently drops. The
    // episodes cover every fact branch (syslog, CEF-AFM with its
    // syslog-rescanned stop keys, CEF-ASM), zero ids, and decoy turns that
    // carry a phrase but are no fact.
    val offsets = graft.sources.Transcripts.utcOffsets(spark)
    def payload(aid: Int, evt: String, sec: Int) =
      "<134>x b info tmm1: [hostname=b.lab bigip_mgmt_ip=172.16.21.41 " +
        f"date_time=2015-03-22 10:00:$sec%02d dos_attack_id=$aid dos_attack_event=$evt " +
        "severity=1 errdefs_msg_name=Network DoS Event]"
    def afm(aid: Int, status: String, sec: Int) = {
      val dt = f"2015-03-22 10:00:$sec%02d"
      // a stop's keys come from a syslog-regex rescan, so they lead
      val stopKeys = if (status == "Attack Stopped") s"date_time=$dt dos_attack_id=$aid zz=0  " else ""
      "CEF:0|F5|Advanced Firewall Module|11.6.0|Network DoS Attack|Flood attack|7|" + stopKeys +
        s"dvchost=b dvc=172.16.21.41 rt=$dt act=Drop src=10.0.0.1 " +
        s"cn3=$aid cn3Label=attack_id cs1=$status cs1Label=attack_status"
    }
    def asm(aid: Int, status: String, sec: Int) =
      "CEF:0|F5|ASM|11.6.0|DOS L7 attack|Source IP-Based Rate Limiting|5|" +
        f"dvchost=b dvc=172.16.21.41 rt=2015-03-22 10:00:$sec%02d act=Drop src=10.0.0.9 " +
        s"request=/x cs1=$aid cs1Label=attack_id cs2=$status cs2Label=attack_status " +
        "cs3=TPS Increased cs3Label=detection_mode"
    val kinds: Seq[(Int, Int, Boolean) => String] = Seq(
      (a, s, st) => payload(a, if (st) "Attack Started" else "Attack Stopped", s),
      (a, s, st) => afm(a, if (st) "Attack Started" else "Attack Stopped", s),
      (a, s, st) => asm(a, if (st) "Attack started" else "Attack ended", s))
    val decoys: Seq[Int => String] = Seq(
      a => payload(a, "Attack Sampled", 1).replace("severity=1", "dos_attack_name=Attack Stopped"),
      a => payload(a, "TCP Syncookie", 2),
      a => afm(a, "Attack Sampled", 3),
      a => afm(a, "TCP Syncookie", 4),
      a => asm(a, "Mitigation stats", 5))
    // 1-3 quotes at random positions after the 5-character format prefix
    // (which the format dispatch reads before any strip)
    def quoted(text: String): Gen[String] = for {
      k <- Gen.choose(1, 3)
      at <- Gen.listOfN(k, Gen.choose(5, text.length))
    } yield at.sorted.reverse.foldLeft(text)((acc, i) => acc.patch(i, "\"", 0))
    // n episodes of one kind each: a start and a stop (a dropped fact of
    // either kind changes that episode's aggregate row), id 0 in about
    // one of five, sometimes a second start, plus decoys on the same ids
    val episode: Gen[List[String]] = for {
      a <- Gen.choose(1, 9)
      aid <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.const(a))
      kind <- Gen.oneOf(kinds)
      twice <- Gen.frequency(1 -> true, 4 -> false)
      decoy <- Gen.oneOf(decoys)
    } yield List(kind(aid, a, true), kind(aid, 30 + a, false), decoy(aid)) ++
      (if (twice) List(kind(aid, 10 + a, true)) else Nil)
    val episodes: Gen[List[String]] = Gen.choose(3, 6).flatMap { n =>
      Gen.listOfN(n, episode).flatMap(es => Gen.sequence[List[String], String](es.flatten.map(quoted)))
    }
    (0 until 12).foreach { i =>
      val seed = 7000L + i
      val texts = episodes.pureApply(Gen.Parameters.default, Seed(seed))
      val t = transcriptsOf(texts)
      val viaScan = Pipeline.lifeAggOf(Pipeline.lifeFacts(t, offsets)).collect().toSet
      val viaLive = Pipeline.lifeAggOf(
        Pipeline.lifeFactsFromStaged(Pipeline.explodedAll(t, offsets))).collect().toSet
      assert(viaScan == viaLive,
        s"seed $seed: lifeFacts aggregate $viaScan != live-path aggregate $viaLive\n" +
          texts.mkString("\n"))
    }
  }
}
