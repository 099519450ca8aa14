package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps

/** ANN and embedding-operator specs: probe recall against exact brute
  * force, the partial top-k plan shapes, and the cosine dedup and mining
  * operators.
  */
class SimilaritySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sign-LSH ANN recall vs exact top-k is reported and sane") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val k = 3
    val brute = SimilarityOps.bruteTopK(emb, nQueries = 10, k = k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val lsh = SimilarityOps.lshTopK(emb, nQueries = 10, k = k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (q, exact) =>
      lsh.get(q).map(a => (a intersect exact).size.toDouble / exact.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@$k of sign-LSH vs exact: $mean%.2f over ${recalls.size} queries")
    // self always shares its own bucket -> every query recalls itself
    assert(recalls.forall(_ >= 1.0 / k))
    assert(mean > 0.3) // 8-bit sign buckets on random vectors: coarse but useful
  }

  test("trained IVF: Lloyd cost is non-increasing; probe recall beats its coverage floor") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (cents, costs) = SimilarityOps.trainCentroids(spark, emb, k = 8, iters = 3)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    // Lloyd guarantee (up to float summation noise)
    costs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1 + 1e-9), s"cost increased: $costs")
    }
    info(f"kmeans costs: ${costs.map(c => f"$c%.1f").mkString(" -> ")}")

    // the trained quantizer served the way TrainModels promotes it: frozen
    // centroids into the q45 probe path
    val k = 3
    val brute = SimilarityOps.bruteTopK(emb, nQueries = 10, k = k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivf = SimilarityOps.ivfFrozenTopK(emb, cents, nQueries = 10, k = k, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (q, exact) =>
      ivf.get(q).map(a => (a intersect exact).size.toDouble / exact.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@$k of trained IVF (nProbe=2/8) vs exact: $mean%.2f")
    // a query always probes its own cell -> recalls itself at minimum
    assert(recalls.forall(_ >= 1.0 / k))
    assert(mean > 0.3)
  }

  test("frozen-IVF serving path (q45): recall@3 vs exact brute force >= 0.9, no typed map in plan") {
    // the VERIFY corpus — the frozen IvfModel quantizer was trained on it,
    // and this pin is the promotion gate for serving q45 from a trained
    // index instead of sign-LSH (r2 recall 0.33)
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").repartition(8)
    val k = 3
    val brute = SimilarityOps.bruteTopK(emb, nQueries = 10, k = k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivf = SimilarityOps.ivfFrozenTopK(emb, operators.IvfModel.centroids,
        nQueries = 10, k = k, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.map { case (q, exact) =>
      ivf.get(q).map(a => (a intersect exact).size.toDouble / exact.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@$k of frozen IVF (nProbe=2/8) vs exact: $mean%.2f")
    assert(mean >= 0.9, f"frozen-IVF recall regressed: $mean%.2f < 0.9")

    // serving path is pure Catalyst: assignment/probing stay in codegen —
    // the ONLY object boundary in the plan is the bounded partial top-k
    // (one MapPartitions), no typed assignment map
    val plan = SimilarityOps.ivfFrozenTopK(emb, operators.IvfModel.centroids)
      .queryExecution.executedPlan.toString()
    val nMapPartitions = "MapPartitions".r.findAllIn(plan).size
    assert(nMapPartitions == 1,
      s"expected exactly the partial-top-k MapPartitions, found $nMapPartitions:\n${plan.take(2000)}")
  }

  test("PQ-ADC serving path (q59): well-formed codes, shortlist-rerank recall vs exact") {
    // the VERIFY corpus — the frozen PqModel codebooks were trained on it
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").repartition(8)

    // every vector encodes to M=8 codes, each inside its ks=8 codebook
    val codes = SimilarityOps.pqCodes(emb, operators.PqModel.codebooks)
    val bad = codes.filter(size(col("codes")) =!= 8 ||
      exists(col("codes"), c => c < 0 || c >= 8)).count()
    assert(bad == 0, "malformed PQ codes")
    // quantization is non-trivial: many distinct code words in use
    assert(codes.select(col("codes")).distinct().count() > 50)

    val k = 3
    val brute = SimilarityOps.bruteTopK(emb, nQueries = 10, k = k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // shortlist sweep on the record: near-random synthetic embeddings are
    // PQ's worst case (no cluster structure to quantize), so the shortlist
    // carries the recall; the q59 default (64) must clear 0.85
    val sweep = Seq(12, 24, 48, 64).map { sl =>
      val pq = SimilarityOps.pqTopK(emb, operators.PqModel.codebooks,
          nQueries = 10, k = k, shortlist = sl)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val recalls = brute.map { case (q, exact) =>
        pq.get(q).map(a => (a intersect exact).size.toDouble / exact.size).getOrElse(0.0)
      }
      val mean = recalls.sum / recalls.size
      info(f"mean recall@$k of PQ-ADC (M=8, ks=8, shortlist=$sl) vs exact: $mean%.2f")
      sl -> mean
    }.toMap
    assert(sweep(64) >= 0.85, f"PQ recall at the q59 shortlist regressed: ${sweep(64)}%.2f")
    // monotone in shortlist (rerank is exact, so a longer shortlist can
    // only help)
    assert(sweep(12) <= sweep(48) + 1e-9 && sweep(48) <= sweep(64) + 1e-9)

    // serving is pure Catalyst + the one bounded shortlist heap
    val plan = SimilarityOps.pqTopK(emb, operators.PqModel.codebooks)
      .queryExecution.executedPlan.toString()
    val nMapPartitions = "MapPartitions".r.findAllIn(plan).size
    assert(nMapPartitions == 1,
      s"expected exactly the shortlist MapPartitions, found $nMapPartitions:\n${plan.take(2000)}")
  }

  test("top-k physical plan: rank window sees only the bounded partial top-k, not the scored set") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").repartition(8)
    val k = 4
    val top = SimilarityOps.bruteTopK(emb, nQueries = 6, k = k)
    val plan = top.queryExecution.executedPlan.toString()
    val wIdx = plan.indexOf("Window")
    val mIdx = plan.indexOf("MapPartitions")
    // tree prints parents first: the MapPartitions (partial top-k) must sit
    // BELOW the Window, i.e. the window ranks the reduced set only
    assert(wIdx >= 0, s"expected a Window in plan:\n${plan.take(2000)}")
    assert(mIdx > wIdx,
      s"expected MapPartitions (partial top-k) below the Window:\n${plan.take(2000)}")

    // the reduction is bounded: <= k * nKeys * nPartitions rows enter the window
    import org.apache.spark.sql.functions.broadcast
    val q = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        SimilarityOps.cosine(col("qv"), col("embedding")).as("cos"))
    val nParts = scored.rdd.getNumPartitions
    val localCount = SimilarityOps
      .localTopKPerKey(scored, "query_id", "cos", "neighbor_id", k).count()
    assert(localCount <= k.toLong * 6 * nParts,
      s"partial top-k not bounded: $localCount rows from $nParts partitions")
    assert(localCount < scored.count(), "partial top-k did not reduce the scored set")
  }

  test("partial top-k orders NaN and null scores exactly like the rank window") {
    import spark.implicits._
    // Spark window `cos.desc` ranks NaN FIRST (NaN > any double) and nulls
    // LAST; the bounded heap must agree or it evicts rows the window keeps.
    // NaN arises for real inputs: cosine against an all-zero vector is 0/0.
    val scored = Seq(
      (1L, 10L, Double.NaN),
      (1L, 11L, 0.9),
      (1L, 12L, 0.8),
      (1L, 13L, 0.7)).toDF("query_id", "neighbor_id", "cos")
      .unionByName(Seq((1L, 14L)).toDF("query_id", "neighbor_id")
        .withColumn("cos", lit(null).cast("double")))
      .repartition(1)
    val kept = SimilarityOps
      .localTopKPerKey(scored, "query_id", "cos", "neighbor_id", 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    // window order: NaN(10), 0.9(11), 0.8(12), 0.7(13), null(14)
    assert(kept == Set(10L, 11L), s"heap kept $kept, window keeps {10, 11}")
  }

  test("cosine clusters: pairs land in one cluster, keepers are minima, sizes partition") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").repartition(4)
    val clusters = SimilarityOps.cosineDupClusters(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every candidate pair is resolved into the SAME cluster
    SimilarityOps.cosineDupPairs(emb, 0.25).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // cluster labels are component minima (a label always maps to itself)
    clusters.values.foreach(c => assert(clusters(c) == c, s"label $c not a root"))
    // the materialized dedup: keepers are exactly the roots, sizes partition
    val kept = SimilarityOps.dedupedByEmbedding(emb)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster_size")).toMap
    assert(kept.keySet == clusters.values.toSet)
    assert(kept.values.sum == emb.count())
  }

  test("cosine bucket-occupancy cap drops over-full sign buckets; discriminative pairs survive") {
    import spark.implicits._
    // six vectors share one sign pattern (bucket occupancy 6) — the
    // corpus-mean-direction pile-up whose N^2/2^bits fan-out the cap
    // bounds; two vectors land in their own bucket (occupancy 2)
    val rows = ((0 until 6).map(i => (i.toLong, Array(1f + i, 1f, 1f, 1f))) ++
      Seq((10L, Array(1f, -1f, 1f, 1f)), (11L, Array(2f, -2f, 2f, 2f))))
      .toDF("vec_id", "embedding")
    def pairs(cap: Int): Set[(Long, Long)] =
      SimilarityOps.cosineDupPairs(rows, 0.25, maxBucketSize = cap)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(Int.MaxValue)
    assert((0L until 6L).combinations(2).forall(p => uncapped.contains((p(0), p(1)))))
    assert(uncapped.contains((10L, 11L)))
    // cap 5 < occupancy 6: the hot bucket's 15 pairs vanish, the
    // discriminative bucket (occupancy 2 <= cap) is untouched
    assert(pairs(5) == uncapped.filterNot { case (a, b) => a < 6 && b < 6 })
  }

  test("embedding decontamination: clones of bench vectors flag, orthogonal ones don't") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // bench (vec_id % 50 == 0)
      (50L, Array(0f, 1f, 0f, 0f)),  // bench
      (1L, Array(2f, 0f, 0f, 0f)),   // parallel to bench 0 -> cos 1
      (2L, Array(0f, 0f, 1f, 0f)))   // orthogonal to both -> cos 0
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.embedDecontaminate(rows).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(!out.contains(0L) && !out.contains(50L)) // bench side never scored
    assert(out(1L) == ((1.0, true)))
    assert(out(2L) == ((0.0, false)))
    // plan pin: bench broadcasts (nested-loop build side) and the max
    // aggregate partial-combines map-side — the corpus never shuffles
    // wider than (vec_id, partial max)
    val plan = SimilarityOps.embedDecontaminate(rows)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(plan.contains("partial_max"), plan.take(1500))
  }

  test("brute-force cosine: self is rank 1 with similarity 1") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val top = SimilarityOps.bruteTopK(emb, nQueries = 3, k = 2)
      .filter(col("rank") === 1).orderBy("query_id").collect()
    top.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("neighbor_id") == i.toLong)
      assert(math.abs(r.getAs[Double]("cos_sim") - 1.0) < 1e-9)
    }
  }

  test("cell-balanced sample: per-cell budget enforced, deterministic across runs, partial top-k plan") {
    import graft.operators.IvfModel
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").repartition(8)
    val out = SimilarityOps.cellBalancedSample(emb, IvfModel.centroids, perCell = 10)
    val byCell = out.groupBy("cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // every cell capped at the budget; ranks within a cell are 1..n dense
    byCell.values.foreach(n => assert(n <= 10))
    val ranks = out.collect().groupBy(_.getInt(1))
      .view.mapValues(_.map(_.getInt(2)).sorted.toSeq).toMap
    ranks.foreach { case (cid, rs) => assert(rs == (1 to rs.size), s"cell $cid ranks not dense: $rs") }
    // retry-stability: a second invocation over a re-shuffled input selects
    // the SAME vectors with the same ranks (hash order, not partition order)
    val again = SimilarityOps.cellBalancedSample(emb.repartition(3), IvfModel.centroids, perCell = 10)
    assert(out.orderBy("vec_id").collect().toSeq == again.orderBy("vec_id").collect().toSeq)
    // the scored set reaches the rank window only through the bounded
    // partial top-k (same contract as the ANN paths): the window's input
    // must be the mapPartitions survivor set, not the full assignment
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), s"expected bounded-heap partial top-k in plan:\n$plan")
  }

  test("margin mining: parallel pair survives, non-mutual best and hub-dominated pairs drop") {
    import spark.implicits._
    // all vectors in one sign bucket (first 4 dims positive); parity picks
    // the side. s0<->t1 are near-identical (the parallel pair); s2's best
    // is also t1 (non-mutual -> dropped); t3 is a mild hub.
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, v(1, 1, 1, 1, 9, 0, 0, 0)),   // s0
      (1L, v(1, 1, 1, 1, 9, 0.1, 0, 0)), // t1 ~ s0
      (2L, v(1, 1, 1, 1, 5, 5, 0, 0)),   // s2: closer to t1 than to t3
      (3L, v(1, 1, 1, 1, 1, 1, 1, 1)))   // t3: moderately close to all
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.marginBitextPairs(emb, bits = 4, k = 2, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("margin")).toMap
    assert(out.contains((0L, 1L)), s"parallel pair missing: $out")
    assert(out((0L, 1L)) > 1.0, s"parallel pair must clear margin 1: ${out((0L, 1L))}")
    // s2's best target is t1, but t1's best source is s0 -> no (2,1) pair;
    // and (2,3) is not emitted either because t3 is not s2's best
    assert(!out.contains((2L, 1L)) && !out.contains((2L, 3L)), s"non-mutual pair leaked: $out")
  }

  test("hard negatives exclude the query's WHOLE dup cluster, not just direct near-dups") {
    import spark.implicits._
    import math.{cos => mcos, sin => msin, Pi}
    // a 2D rotation fan (all components positive -> one sign bucket):
    // 0-1 and 1-2 are 24-degree near-dups (cos ~0.913 >= 0.9) but 0-2 is
    // 48 degrees (cos ~0.669 < 0.9) -> {0,1,2} is one cluster by CHAIN only
    def v(deg: Double): Array[Float] = {
      val th = deg * Pi / 180
      Array(mcos(th).toFloat, msin(th).toFloat) ++ Array.fill(6)(0.001f)
    }
    val emb = Seq(
      (0L, v(10)), (1L, v(34)), (2L, v(58)),   // the chain cluster
      (3L, v(120)),                            // cos(0,3) ~ -0.34 (own bucket)
      (4L, v(88)))                             // cos(0,4) ~ 0.21, cos(2,4) ~ 0.87 < 0.9
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.hardNegatives(emb, nQueries = 1, k = 2, dupThreshold = 0.9)
      .collect().map(r => r.getInt(2) -> r.getLong(1)).toMap
    // vec 2 has the HIGHEST cosine to the query among non-direct-dups — a
    // pair-threshold band would rank it first; cluster exclusion drops it
    assert(out == Map(1 -> 4L, 2 -> 3L), s"expected {1->4, 2->3}, got $out")
  }
}
