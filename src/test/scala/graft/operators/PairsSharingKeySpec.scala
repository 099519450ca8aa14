package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Properties of the pair generator every candidate generator shares
  * (DedupOps.dropHotKeys / pairsSharingKey), over skewed key distributions:
  * a few hot keys holding many ids next to many keys holding 1-3 ids, with
  * distinct (key, id) rows as the helper requires.
  */
class PairsSharingKeySpec extends SparkSpec {

  /** (band, bucket, id) rows: 1-3 hot keys with 8-40 ids each, 10-30 cold
    * keys with 1-3 ids each, ids drawn from 0..199 without repeats per key.
    */
  private val skewed: Gen[Seq[(Int, String, Long)]] = {
    def key(nIds: Gen[Int]): Gen[Seq[Long]] =
      nIds.flatMap(n => Gen.pick(n, 0L until 200L)).map(_.toSeq)
    for {
      nHot <- Gen.choose(1, 3)
      hot <- Gen.listOfN(nHot, key(Gen.choose(8, 40)))
      nCold <- Gen.choose(10, 30)
      cold <- Gen.listOfN(nCold, key(Gen.choose(1, 3)))
    } yield (hot ++ cold).zipWithIndex.flatMap { case (ids, k) =>
      ids.map(id => (k % 3, s"b${k / 3}", id))
    }
  }

  private def sample(seed: Long): Seq[(Int, String, Long)] =
    skewed.pureApply(Gen.Parameters.default, Seed(seed))

  private def frame(rows: Seq[(Int, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("band", "bucket", "id").withColumn("tag", concat(lit("t"), col("id")))
  }

  test("pairsSharingKey: expansion == self-join pair multiset on skewed keys, carry intact") {
    for (seed <- 8100L to 8111L) {
      val rows = sample(seed)
      val idx = frame(rows)
      val keys = Seq("band", "bucket")
      def pairs(bounded: Boolean): Seq[(Long, Long)] =
        DedupOps.pairsSharingKey(idx, keys, "id", bounded, ("a", "b"), carry = Seq("tag"))
          .collect().toSeq.map { r =>
            val (a, b) = (r.getStruct(0), r.getStruct(1))
            assert(a.getString(1) == s"t${a.getLong(0)}" && b.getString(1) == s"t${b.getLong(0)}",
              s"seed $seed: carried tag detached from its id in $r")
            (a.getLong(0), b.getLong(0))
          }.sorted
      val want = rows.groupBy(r => (r._1, r._2)).values.toSeq.flatMap { g =>
        val ids = g.map(_._3).sorted
        for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
      }.sorted
      val (expand, join) = (pairs(bounded = true), pairs(bounded = false))
      assert(expand == want, s"seed $seed: expansion differs from the reference pairs")
      assert(join == want, s"seed $seed: self-join differs from the reference pairs")
    }
  }

  test("dropHotKeys keeps exactly the rows whose key count is within the cap") {
    for (seed <- 8200L to 8207L) {
      val rows = sample(seed)
      val idx = frame(rows)
      val counts = rows.groupBy(r => (r._1, r._2)).view.mapValues(_.size).toMap
      val hottest = counts.values.max
      assert(DedupOps.dropHotKeys(idx, Seq("band", "bucket"), Int.MaxValue) eq idx,
        "an uncapped drop must return its input without a census")
      for (cap <- Seq(1, 3, hottest - 1, hottest)) {
        val got = DedupOps.dropHotKeys(idx, Seq("band", "bucket"), cap)
          .select("band", "bucket", "id").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sorted
        val want = rows.filter(r => counts((r._1, r._2)) <= cap).sorted
        assert(got == want, s"seed $seed cap $cap: kept ${got.size} rows, want ${want.size}")
      }
    }
  }
}
