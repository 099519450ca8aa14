package perfbench

import java.security.MessageDigest
import java.time.LocalDateTime
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator: `events.parquet` (the transcripts synthesis
  * input) and `documents.parquet` (the dedup input), in the layout the
  * program reads.
  *
  * The program derives every transcript turn from `event_id` arithmetic
  * (graft.sources.Transcripts): slot `event_id % 20` picks the payload
  * branch, `event_id / 20` the attack episode, `event_id % 10 < 3` a hot
  * conversation. So the generator controls the transcript mix by choosing
  * which event ids exist:
  *
  *   - branch shares: each slot is kept with a seeded probability;
  *   - hot-conversation share: the six hot slots get a seeded extra weight;
  *   - lifecycle completeness: a seeded share of episodes loses all three
  *     stop slots (3, 13, 17), so their attacks stay open;
  *   - timestamp disorder: a seeded share of turns is stamped up to 15
  *     minutes earlier than its event-id order.
  *
  * Documents draw tokens from a seeded Zipf vocabulary; a seeded share are
  * near-duplicates (a few tokens edited) of an earlier document.
  *
  * The same seed and sizes give byte-identical rows, summarized by
  * `digest`.
  */
object Inputs {

  /** Payload slots whose turns land in the three hot conversations. */
  val HotSlots: Set[Int] = Set(0, 1, 2, 10, 11, 12)
  /** Slots that close an attack: syslog stop, CEF/AFM stop, CEF/ASM ended. */
  val StopSlots: Set[Int] = Set(3, 13, 17)

  final case class Props(slotKeep: Vector[Double], hotWeight: Double,
                         noStopShare: Double, disorderShare: Double,
                         zipfExponent: Double, nearDupRate: Double)

  /** The input properties a seed selects. Ranges are kept narrow so every
    * seed gives comparable work: the seed varies the mix, not the size.
    */
  def props(seed: Long): Props = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val hot = 0.85 + 0.3 * r.nextDouble()
    val raw = Vector.tabulate(20)(s =>
      (0.8 + 0.2 * r.nextDouble()) * (if (HotSlots(s)) hot else 1.0))
    val top = raw.max
    Props(raw.map(_ / top), hot,
      noStopShare = 0.05 + 0.15 * r.nextDouble(),
      disorderShare = 0.01 + 0.04 * r.nextDouble(),
      zipfExponent = 1.0 + 0.15 * r.nextDouble(),
      nearDupRate = 0.1 + 0.1 * r.nextDouble())
  }

  final case class Generated(dir: String, turns: Int, docs: Int, digest: String,
                             realized: Map[String, Double])

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType)))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val T0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Event rows: (event_id, ts micros since T0), exactly `turns` of them. */
  def events(seed: Long, turns: Int): (Array[Long], Array[Long]) = {
    val p = props(seed)
    val r = new SplittableRandom(seed)
    val ids = new Array[Long](turns)
    val micros = new Array[Long](turns)
    var i = 0
    var k = 0L
    while (i < turns) {
      val noStop = r.nextDouble() < p.noStopShare
      var s = 0
      while (s < 20 && i < turns) {
        if (r.nextDouble() < p.slotKeep(s) && !(noStop && StopSlots(s))) {
          val n = 20 * k + s
          ids(i) = n
          // 250 ms per event id plus jitter; a disordered turn is stamped
          // up to 15 minutes early
          var us = n * 250000L + r.nextLong(200000L)
          if (r.nextDouble() < p.disorderShare) us -= 1000000L + r.nextLong(900000000L)
          micros(i) = math.max(us, 0L)
          i += 1
        }
        s += 1
      }
      k += 1
    }
    (ids, micros)
  }

  private val Langs = Vector("en", "en", "en", "zh", "es", "de", "fr")

  /** Document rows: Zipf tokens, near-duplicate clusters. */
  def documents(seed: Long, n: Int): Vector[(Long, String, String, String)] = {
    val p = props(seed)
    val r = new SplittableRandom(seed ^ 0x6A09E667F3BCC909L)
    // seeded vocabulary: distinct lowercase words of 1..9 letters
    val vocabSize = 600
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < vocabSize) {
        val len = 1 + r.nextInt(9)
        seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toVector
    }
    val cdf = {
      val w = (1 to vocabSize).map(rank => math.pow(rank.toDouble, -p.zipfExponent))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def token(): String = {
      val u = r.nextDouble()
      val at = java.util.Arrays.binarySearch(cdf, u)
      vocab(math.min(if (at >= 0) at else -at - 1, vocabSize - 1))
    }
    val originals = ArrayBuffer[Array[String]]()
    Vector.tabulate(n) { id =>
      val toks =
        if (originals.nonEmpty && r.nextDouble() < p.nearDupRate) {
          val src = originals(r.nextInt(originals.size))
          src.map(t => if (r.nextDouble() < 0.06) token() else t)
        } else {
          val t = Array.fill(12 + r.nextInt(80))(token())
          originals += t
          t
        }
      (id.toLong, toks.mkString(" "), Langs(r.nextInt(Langs.size)), s"src${id % 20}")
    }
  }

  /** MD5 over every generated row, in generation order. */
  private def digestOf(ids: Array[Long], micros: Array[Long],
                       ds: Vector[(Long, String, String, String)]): String = {
    val md = MessageDigest.getInstance("MD5")
    ids.indices.foreach(i => md.update(s"${ids(i)},${micros(i)};".getBytes("UTF-8")))
    ds.foreach { case (id, text, lang, src) => md.update(s"$id|$text|$lang|$src\n".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The input digest of (seed, sizes), without writing anything. */
  def digest(seed: Long, turns: Int, docs: Int): String = {
    val (ids, micros) = events(seed, turns)
    digestOf(ids, micros, documents(seed, docs))
  }

  /** Generate both tables into `dir` and return their digest. */
  def write(spark: SparkSession, dir: String, seed: Long, turns: Int, docs: Int): Generated = {
    val (ids, micros) = events(seed, turns)
    val evRows = new java.util.ArrayList[Row](turns)
    ids.indices.foreach(i => evRows.add(Row(ids(i), T0.plusNanos(micros(i) * 1000L))))
    spark.createDataFrame(evRows, EventSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ds = documents(seed, docs)
    spark.createDataFrame(ds.map { case (id, text, lang, src) =>
        Row(id, text, lang, src, text.length.toLong) }.asJava, DocSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val slots = ids.map(id => (id % 20).toInt)
    val episodes = ids.map(_ / 20).distinct.length.toDouble
    val withStop = ids.filter(id => StopSlots((id % 20).toInt)).map(_ / 20).distinct.length
    val realized = Map(
      "hot_share" -> slots.count(HotSlots).toDouble / turns,
      "health_share" -> slots.count(_ == 18).toDouble / turns,
      "reject_share" -> slots.count(s => s == 9 || s == 19).toDouble / turns,
      "no_stop_episode_share" -> (1.0 - withStop / episodes),
      "disorder_share" -> micros.indices.count(j => micros(j) < ids(j) * 250000L).toDouble / turns,
      "zipf_exponent" -> props(seed).zipfExponent,
      "near_dup_rate" -> props(seed).nearDupRate)
    Generated(dir, turns, docs, digestOf(ids, micros, ds), realized)
  }
}
