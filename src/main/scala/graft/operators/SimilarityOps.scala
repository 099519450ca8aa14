package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding: array<float>, label).
  *
  * Dot products are strict left-folds in double precision so the DuckDB
  * oracle (list_reduce) reproduces results bit-for-bit; outputs round to 6
  * decimals as belt-and-braces.
  */
object SimilarityOps {

  /** Strict left-fold dot product in double (bit-identical to DuckDB's
    * list_reduce over the same element order: 0.0 + x1 == x1 exactly).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Shuffle-free partial top-k: keep at most `k` rows per key per INPUT
    * partition (bounded heap, ordered score desc / tie asc — the same order
    * the final rank uses), so the global per-key rank that follows sees at
    * most k * nKeys * nPartitions rows instead of the full scored set.
    *
    * This is the scale-safe reduction: a row_number() window straight over
    * the scored set hash-shuffles EVERY scored row into <= nKeys reducer
    * partitions and fully sorts each — the textbook single-reducer collapse
    * at 100 TB. The bounded-heap pass is narrow (no exchange), and the
    * global top-k of the union of per-partition top-k's is exactly the
    * global top-k of the input, so results are bit-identical.
    *
    * mapPartitions is justified here (same argument as Multimodal): a
    * bounded per-key heap has no Catalyst equivalent that avoids buffering
    * unbounded groups (collect_list partials carry ALL elements through the
    * shuffle).
    */
  private[graft] def localTopKPerKey(scored: DataFrame, keyCol: String,
                                     scoreCol: String, tieCol: String,
                                     k: Int): DataFrame = {
    val schema = scored.schema
    val ki = schema.fieldIndex(keyCol)
    val si = schema.fieldIndex(scoreCol)
    val ti = schema.fieldIndex(tieCol)
    def score(r: Row): Double =
      if (r.isNullAt(si)) Double.NegativeInfinity else r.getDouble(si)
    def tie(r: Row): Long = r.getAs[Number](ti).longValue()
    // dequeue order = "worst kept row first": lowest score, then largest
    // tie. Doubles compare via java.lang.Double.compare so NaN sorts as
    // GREATER than every value — exactly how the final rank window orders
    // `desc` (NaN first, nulls last); a tuple Ordering on -score would
    // invert NaN and evict rows the window keeps.
    val evictFirst: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val s = java.lang.Double.compare(score(b), score(a)) // lower score = worse = larger
        if (s != 0) s else java.lang.Long.compare(tie(a), tie(b)) // larger tie = worse
      }
    }
    implicit val enc = Encoders.row(schema)
    scored.mapPartitions { it =>
      val heaps = collection.mutable.HashMap
        .empty[Any, collection.mutable.PriorityQueue[Row]]
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(r.get(ki),
          collection.mutable.PriorityQueue.empty[Row](evictFirst))
        if (h.size < k) h.enqueue(r)
        else if (evictFirst.lt(r, h.head)) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  /** Global exact top-k per key: narrow partial top-k, then a rank window
    * over the (tiny) survivor set only.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val local = localTopKPerKey(scored, "query_id", "cos", "neighbor_id", k)
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    local.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Brute-force cosine top-k: the first `nQueries` vectors against the
    * whole table, broadcast on the (small) query side. The correctness
    * baseline: exact, O(nQueries * N), scales by broadcasting queries and
    * scanning the big side once — no shuffle except the final per-query
    * top-k (tiny after the rank filter).
    */
  def bruteTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("embedding")).as("cos"))
    topK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Sign-LSH bucket over the first `bits` dimensions: 2^bits buckets. */
  def signBucket(v: Column, bits: Int = 8): Column =
    (0 until bits).map(i =>
      when(element_at(v, i + 1) > 0f, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)

  /** Bucketed ANN (IVF-style scale path): queries probe only their own
    * sign-LSH bucket. At 100 TB the bucket id becomes the partition key of
    * the vector table, so a probe touches 1/2^bits of the data; candidates
    * join on bucket (shuffle on a small key), exact rerank inside.
    */
  def lshTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 3, bits: Int = 8): DataFrame = {
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"))
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("bucket"))
    val scored = bucketed.join(broadcast(q), "bucket")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"),
        cosine(col("qv"), col("embedding")).as("cos"))
    topK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("bucket"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  // ---- trained IVF: k-means coarse quantizer (the FAISS-IVF shape) ----

  /** Squared L2 to every centroid; returns (argmin cid, min distance). */
  private def nearestCentroid(cents: Array[Array[Double]], v: Seq[Float]): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val ct = cents(c); var d = 0.0; var i = 0
      while (i < ct.length) { val t = v(i) - ct(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best, bestD)
  }

  /** Lloyd k-means over the embedding table — the trained coarse quantizer
    * a production IVF index uses instead of data-independent sign-LSH
    * cells. Deterministically seeded (k lowest vec_ids); each round is one
    * narrow assignment pass (centroids broadcast — the model is k x dim
    * doubles, a few KB, the one thing that legitimately lives on the
    * driver, exactly MLlib KMeans' shape) plus a per-(cell, dim)
    * partial-combined average. Returns (centroids, per-round assignment
    * costs; Lloyd guarantees the sequence is non-increasing).
    *
    * No DuckDB oracle for training: distributed float summation is
    * partition-order-dependent, so cross-engine bit-equality is undefined
    * for learned weights; correctness is pinned in SimilaritySpec as
    * properties instead (cost monotonicity + recall vs exact brute force).
    */
  def trainCentroids(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
                     k: Int = 8, iters: Int = 3): (Array[Array[Double]], Seq[Double]) = {
    import spark.implicits._
    val vecs = emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
    var cents = vecs.orderBy("vec_id").limit(k).collect()
      .map(_._2.map(_.toDouble).toArray)
    val costs = collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val assigned = vecs.map { case (_, v) =>
        val (cid, d2) = nearestCentroid(bc.value, v)
        (cid, d2, v)
      }.toDF("cid", "d2", "v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // scalar assignment cost under the CURRENT centroids (driver fetch of
      // a 1-row aggregate, same pattern as Lineage.route's per-partition read-back)
      costs += assigned.agg(sum("d2")).head().getDouble(0)
      // new centroid = per-(cell, dim) mean; the collect is k x dim rows —
      // the model, not data
      val rows = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim").agg(avg(col("x")).as("m"))
        .collect()
      assigned.unpersist()
      val next = cents.clone()
      rows.groupBy(_.getAs[Int]("cid")).foreach { case (cid, rs) =>
        next(cid) = rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("m")).toArray
      }
      cents = next
      bc.destroy()
    }
    (cents, costs.toSeq)
  }

  /** Squared L2 distance to a FROZEN centroid as a strict left fold:
    * 0.0 + (v1-c1)^2 + (v2-c2)^2 + ... in double — the same op sequence the
    * DuckDB oracle's unrolled left-assoc expression evaluates (the 0.0 seed
    * is exact: every term is a square, and 0.0 + t == t for t >= 0), so the
    * result is bit-identical (float->double widening is exact; literal
    * doubles parse identically from their shortest round-trip form).
    * Expressed with zip_with/aggregate rather than a 64-term unrolled chain:
    * the unrolled form times 8 centroids blew janino's 64 KB method limit
    * and knocked the WHOLE stage out of codegen; the higher-order form is a
    * localized CodegenFallback expression inside an otherwise codegen'd
    * stage.
    */
  private def d2ToCentroid(v: Column, cent: Array[Double]): Column =
    aggregate(
      zip_with(v, typedLit(cent.toSeq), (x, y) => {
        val t = x.cast("double") - y
        t * t
      }),
      lit(0.0), (acc, x) => acc + x)

  /** Trained-IVF ANN over a frozen coarse quantizer (IvfModel): pure
    * Catalyst, no training pass, no typed map — the production serving
    * path. Assignment = first index attaining the minimum distance
    * (array_position of array_min, matching a sequential strict-< argmin);
    * each query probes its `nProbe` nearest cells (ties by cell index);
    * exact cosine rerank inside the probed cells with the same partial
    * top-k reduction as the other ANN paths. At 100 TB the cell id is the
    * vector table's partition key: a probe reads nProbe/k of the data and
    * the probe list broadcasts.
    * The centroids come from trainCentroids, frozen into IvfModel by
    * TrainModels.
    */
  def ivfFrozenTopK(emb: DataFrame, cents: Array[Array[Double]],
                    nQueries: Int = 10, k: Int = 3, nProbe: Int = 2): DataFrame = {
    def ds(v: Column): Column = array(cents.map(c => d2ToCentroid(v, c)): _*)
    val assigned = emb
      .withColumn("_ds", ds(col("embedding")))
      .select(col("vec_id"), col("embedding"),
        (array_position(col("_ds"), array_min(col("_ds"))) - 1).cast("int").as("cid"))
    val qd = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        posexplode(ds(col("embedding"))).as(Seq("cid", "d2")))
    val wp = Window.partitionBy("query_id").orderBy(col("d2"), col("cid"))
    val probes = qd.withColumn("_pr", row_number().over(wp))
      .filter(col("_pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid"))
    val scored = assigned.join(broadcast(probes), "cid")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cid"),
        cosine(col("qv"), col("embedding")).as("cos"))
    topK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("cid"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Cluster-balanced semantic sampling: assign every vector to its frozen
    * IVF cell (same first-index argmin as the serving path), then keep a
    * deterministic hash-ordered prefix of at most `perCell` vectors per
    * cell. The diversity-preserving downsample a training pipeline runs
    * after semantic dedup: uniform hash sampling keeps the corpus's cluster
    * imbalance (a dominant semantic mode stays dominant), per-cell budgets
    * flatten it — the SemDeDup/cluster-balancing curation step.
    *
    * Deterministic and retry-stable by the same mix-key arithmetic as q54
    * (id reduced mod 999983 BEFORE the multiply, so the key is exact int64
    * cross-engine); membership depends only on (vec_id, cell census), never
    * on partitioning or RNG state.
    *
    * Scale shape: assignment is one narrow codegen'd map (centroid model is
    * k x dim literals); the per-cell prefix uses the bounded-heap partial
    * top-k (localTopKPerKey) — each task keeps <= perCell rows per cell, so
    * the only shuffle is the k * perCell survivor set, NOT a full per-cell
    * sort. A dominant cell costs O(perCell) state per task regardless of
    * its corpus share.
    */
  def cellBalancedSample(emb: DataFrame, cents: Array[Array[Double]],
                         perCell: Int = 40): DataFrame = {
    def ds(v: Column): Column = array(cents.map(c => d2ToCentroid(v, c)): _*)
    val assigned = emb
      .withColumn("_ds", ds(col("embedding")))
      .select(col("vec_id"),
        (array_position(col("_ds"), array_min(col("_ds"))) - 1).cast("int").as("cid"))
      .withColumn("_mix_key",
        pmod(pmod(col("vec_id"), lit(999983L)) * lit(2654435761L), lit(999983L)))
      // negated key as the "score": localTopKPerKey keeps the k HIGHEST
      // scores, we want the k smallest mix keys (ties: smallest vec_id)
      .withColumn("_score", -col("_mix_key").cast("double"))
    val local = localTopKPerKey(assigned, "cid", "_score", "vec_id", perCell)
    val w = Window.partitionBy("cid").orderBy(col("_mix_key"), col("vec_id"))
    local.withColumn("cell_rank", row_number().over(w).cast("int"))
      .filter(col("cell_rank") <= perCell)
      .select("vec_id", "cid", "cell_rank")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk's ratio-margin rule,
    * the LASER/CCMatrix parallel-pair miner): align vectors of two corpus
    * sides by embedding similarity, but score each candidate pair by its
    * cosine RELATIVE to what each endpoint scores against its other
    * neighbors — margin(x,y) = cos(x,y) / ((avgTopK(x) + avgTopK(y)) / 2).
    * An endpoint that is promiscuously close to everything (a hub vector)
    * yields margin ~1 and is rejected; a genuinely parallel pair stands
    * out above both endpoints' neighborhoods. Emitted pairs must be
    * MUTUAL best matches clearing `threshold`.
    *
    * The two sides here are vec_id parity (the synthetic stand-in for a
    * lang column on a real bitext table). Candidate generation is the
    * sign-LSH bucket join (the same scale path as cosineDupPairs: bucket
    * becomes the table's partition key at 100 TB, `maxBucketSize`-style
    * occupancy preconditioning applies upstream); everything downstream
    * operates on the bounded per-bucket candidate sets.
    *
    * Bit-exactness: per-endpoint neighbor lists are sorted (cos desc,
    * id asc) before the top-k prefix sum, so the fold order — and thus
    * every IEEE addition — is identical cross-engine; collect_list's
    * nondeterministic arrival order is erased by the sort.
    */
  def marginBitextPairs(emb: DataFrame, bits: Int = 4, k: Int = 4,
                        threshold: Double = 1.0): DataFrame = {
    val bucketed = emb.withColumn("_bucket", signBucket(col("embedding"), bits))
    val src = bucketed.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id").as("sid"), col("embedding").as("sv"), col("_bucket"))
    val tgt = bucketed.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id").as("tid"), col("embedding").as("tv"), col("_bucket"))
    val cand = Intermediates.persist(
      src.join(tgt, "_bucket")
        .select(col("sid"), col("tid"), cosine(col("sv"), col("tv")).as("c")))

    // sorted neighbor summary per endpoint: best neighbor + top-k mean.
    // struct(-c, id) sorts ascending == (cos desc, id asc); negation is
    // sign-flip-exact so -element recovers the cosine bit-for-bit
    def summarize(key: String, other: String) = cand
      .groupBy(key)
      .agg(sort_array(collect_list(struct((-col("c")).as("nc"), col(other).as("id"))))
        .as("_l"))
      .select(col(key),
        col("_l")(0).getField("id").as(s"best_$other"),
        (-col("_l")(0).getField("nc")).as(s"best_c_$key"),
        (aggregate(transform(slice(col("_l"), 1, k), x => -x.getField("nc")),
          lit(0.0), (a, x) => a + x)
          / least(lit(k), size(col("_l"))).cast("double")).as(s"avg_$key"))

    val bySrc = summarize("sid", "tid")
    val byTgt = summarize("tid", "sid")
    bySrc.join(byTgt, col("best_tid") === col("tid"))
      .filter(col("best_sid") === col("sid")) // mutual best
      .withColumn("margin", col("best_c_sid") / ((col("avg_sid") + col("avg_tid")) / 2))
      .filter(col("margin") >= threshold)
      .select(col("sid").as("src_id"), col("tid").as("tgt_id"),
        round(col("best_c_sid"), 6).as("cos_sim"), round(col("margin"), 6).as("margin"))
  }

  // ---- product quantization: compressed-domain ANN + exact rerank ----

  /** Per-subspace squared L2 to every codeword of `books(m)`, as a literal
    * array over the m-th slice of the vector — the same strict left-fold
    * arithmetic as d2ToCentroid, so the DuckDB oracle replays it
    * bit-for-bit.
    */
  private def pqSubDists(v: Column, books: Array[Array[Array[Double]]], m: Int): Column = {
    val subLen = books(m)(0).length
    array(books(m).map(cw => d2ToCentroid(slice(v, m * subLen + 1, subLen), cw)): _*)
  }

  /** PQ encode under a frozen codebook (PqModel): per subspace the first
    * codeword index attaining the minimum distance (array_position of
    * array_min — the same sequential strict-< argmin as ivfFrozenTopK).
    * The code table is M small ints per vector — at M=8 over dim=64
    * floats that is a 32x memory/IO compression (8 bytes vs 256), which is
    * the entire point at 10^12 vectors: the ANN candidate scan reads CODES,
    * never raw vectors.
    */
  def pqCodes(emb: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    val codeCols = books.indices.map { m =>
      val ds = pqSubDists(col("embedding"), books, m)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }
    emb.select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** PQ-ADC ANN with exact rerank — the FAISS-PQ serving shape on Spark:
    * 1. the corpus is scanned in the COMPRESSED domain only (pqCodes);
    * 2. each query precomputes its asymmetric-distance lookup table (per
    *    subspace, d2 from the query's slice to every codeword — M x ks
    *    doubles) and broadcasts with it;
    * 3. approximate distance = fixed-order sum of M table lookups per
    *    code — no per-candidate float vector math at all;
    * 4. the ADC `shortlist` per query (partial top-k, same bounded-heap
    *    narrow reduction as every ANN path here) is then reranked EXACTLY
    *    by an id-keyed join back to the raw vectors — only shortlist-many
    *    vectors per query are ever fetched.
    *
    * At 100 TB: codes are 32x smaller than vectors, the scan is map-only
    * against a broadcast LUT, and raw-vector IO is bounded by
    * nQueries x shortlist point lookups (Iceberg/parquet bloom or id
    * partition). Composes with the IVF cell partitioning (scan only probed
    * cells' codes). Every stage is deterministic (fixed fold order, ties
    * by neighbor_id), so the full pipeline has a bit-exact DuckDB oracle
    * (q59); recall vs exact brute force is pinned in SimilaritySpec.
    */
  def pqTopK(emb: DataFrame, books: Array[Array[Array[Double]]],
             nQueries: Int = 10, k: Int = 3, shortlist: Int = 64): DataFrame = {
    val codes = pqCodes(emb, books)
    val lut = array(books.indices.map(m => pqSubDists(col("embedding"), books, m)): _*)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), lut.as("lut"))
    // ADC: ((0.0 + l0[c0]) + l1[c1]) + ... — the left-assoc chain the
    // oracle writes out verbatim
    val adc = books.indices
      .map(m => element_at(element_at(col("lut"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .foldLeft(lit(0.0))(_ + _)
    val scored = codes.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("qv"),
        adc.as("adc_d2"))
    val short = localTopKPerKey(scored.withColumn("_nadc", -col("adc_d2")),
      "query_id", "_nadc", "neighbor_id", shortlist)
    val ws = Window.partitionBy("query_id").orderBy(col("adc_d2"), col("neighbor_id"))
    val sl = short.withColumn("_sr", row_number().over(ws))
      .filter(col("_sr") <= shortlist)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    val reranked = sl
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("embedding")).as("cos"))
    // the rerank set is nQueries x shortlist — already bounded, so a plain
    // rank window (WindowGroupLimit prunes it) replaces the heap pass
    val wr = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    reranked.withColumn("rank", row_number().over(wr)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Embedding near-dup CLUSTERS: connected components over the
    * cosineDupPairs candidate graph — the semantic-dedup complement of the
    * shingle-based dupClusters (q32). Same resolution machinery
    * (large-star/small-star contraction over (long, long) edges, O(log n)
    * narrow rounds); only the candidate generator differs, which is
    * exactly why clustersFromEdgesStar takes the edge list as a parameter.
    * Embeddings never enter the contraction — the cosine scoring ends at
    * the pair list.
    */
  def cosineDupClusters(emb: DataFrame, threshold: Double = 0.25,
                        bits: Int = 8): DataFrame =
    DedupOps.clustersFromEdgesStar(
        emb.select(col("vec_id").as("doc_id")),
        cosineDupPairs(emb, threshold, bits)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))

  /** Hard-negative mining for retrieval/embedding training: for each query
    * vector, the highest-cosine neighbors that are NOT near-duplicates of
    * it — the "close but wrong" samples contrastive training needs (the
    * standard recipe: rank by similarity, drop the positives). "Positive"
    * here = same [[cosineDupClusters]] component, so a neighbor connected
    * to the query through a CHAIN of near-dups is excluded too (a plain
    * `cos < threshold` band would keep those — transitively-duplicated
    * rephrasings leaking in as negatives is exactly the label noise this
    * op exists to prevent), and the op composes the q52 cluster stack
    * instead of re-deriving pair predicates.
    *
    * Scale shape: queries broadcast (the q27 contract); the score stream
    * is one scan of the vector table; the query-side cluster lookup
    * broadcasts (nQueries rows), the neighbor-side label join keys on
    * vec_id at the same width as the score stream ((long, long, double) —
    * vectors never shuffle); the final per-query top-k is the bounded-heap
    * partial + rank-window pattern shared with brute/LSH ANN.
    */
  def hardNegatives(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
                    dupThreshold: Double = 0.25): DataFrame = {
    val clusters = cosineDupClusters(emb, dupThreshold)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("embedding")).as("cos"))
    val qc = clusters.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("cluster_id").as("_qc"))
    val nc = clusters
      .select(col("vec_id").as("neighbor_id"), col("cluster_id").as("_nc"))
    val negatives = scored
      .join(broadcast(qc), Seq("query_id"))
      .join(nc, Seq("neighbor_id"))
      .filter(col("_qc") =!= col("_nc"))
    topK(negatives, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** The semantically-deduplicated embedding corpus: one keeper (min
    * vec_id) per cosine cluster with its cluster size — the embedding-
    * space analog of DedupOps.dedupedCorpus (q50). The label table is
    * (long, long); sizes are one narrow agg; the vectors themselves are
    * only touched by the id-keyed semi-join at the end.
    */
  def dedupedByEmbedding(emb: DataFrame, threshold: Double = 0.25,
                         bits: Int = 8): DataFrame = {
    val clusters = cosineDupClusters(emb, threshold, bits)
    val sizes = clusters.groupBy("cluster_id").agg(count("*").as("cluster_size"))
    clusters.filter(col("cluster_id") === col("vec_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_size"))
  }

  /** Embedding-level benchmark decontamination: flag candidate vectors
    * whose max cosine against the eval/bench set reaches `threshold` —
    * the SEMANTIC complement of the n-gram decontamination (q39):
    * paraphrased eval leakage that shares no shingles still lands near
    * its source in embedding space.
    *
    * Scale shape mirrors decontaminate: the bench set is small by nature
    * (eval suites), so its vectors BROADCAST and the candidate side is
    * scanned once map-side — no shuffle of the corpus, one narrow
    * per-candidate max aggregate. MAX of per-pair cosines is comparison
    * only (no float accumulation), so the score is order-independent and
    * the DuckDB oracle replays it bit-for-bit.
    */
  def embedDecontaminate(emb: DataFrame,
                         benchPred: Column = pmod(col("vec_id"), lit(50)) === 0,
                         threshold: Double = 0.30): DataFrame = {
    val bench = emb.filter(benchPred).select(col("embedding").as("bv"))
    emb.filter(!benchPred).select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(bench))
      .groupBy("vec_id")
      .agg(max(cosine(col("embedding"), col("bv"))).as("_mc"))
      .select(col("vec_id"), round(col("_mc"), 6).as("max_cos_sim"),
        (col("_mc") >= threshold).as("is_contaminated"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via the same
    * sign-LSH bucketing (candidates must share a bucket).
    *
    * `maxBucketSize` caps bucket occupancy — the embedding-space edition of
    * the q51/q56 preconditioning: sign-LSH occupancy is ~N/2^bits, LINEAR
    * in corpus size, so at 10^12 vectors every bucket is over-full and the
    * self-join emits ~N^2/2^bits pairs. A bucket over the cap carries no
    * discriminative evidence (it collides a corpus-scale slice of vectors,
    * dominated by the embedding-space mean direction) and is DROPPED before
    * pairing (DedupOps.dropHotKeys); its true near-dup mass is template
    * similarity the dedup deliberately ignores, the same recall trade as
    * the shingle cap. Production tuning raises `bits` so expected occupancy
    * stays under the cap and the cap only guards the skewed tail. The
    * embeddings ride through DedupOps.pairsSharingKey for the cosine. The
    * capped configuration has its own oracle row (q57, cap ACTIVE at sf0.01
    * where max occupancy is 6); the uncapped contract stays q29.
    */
  def cosineDupPairs(emb: DataFrame, threshold: Double, bits: Int = 8,
                     maxBucketSize: Int = 1000): DataFrame = {
    val bucketed = DedupOps.dropHotKeys(emb.select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket")), Seq("bucket"), maxBucketSize)
    DedupOps.pairsSharingKey(bucketed, Seq("bucket"), "vec_id",
        bounded = maxBucketSize < Int.MaxValue, ("a", "b"), carry = Seq("embedding"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
  }
}
