package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import TextOps.{P, gramCodes, sigs, windows}

/** Properties of the token-window kernel every text and dedup operator
  * shares (TextOps.sigs / windows / gramCodes), against plain Scala
  * references: `sliding` for the windows, BigInt arithmetic for the codes.
  * Array lengths run from 0 to n+2, so arrays shorter than one window (the
  * guard) are drawn for every n.
  */
class TokenWindowSpec extends SparkSpec {

  import spark.implicits._

  private val ns = Seq(2, 3, 13)

  private def draw[T](g: Gen[T], seed: Long): T = g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Any code point but the space (the token separator) and the surrogates. */
  private val codePoint: Gen[Int] = Gen.frequency(
    4 -> Gen.choose(0x21, 0x7e), 2 -> Gen.choose(0x80, 0xd7ff),
    3 -> Gen.choose(0xe000, 0x10ffff), 1 -> Gen.const(0x10ffff))

  /** A token of 1-12 code points, or now and then 1,000-60,000. */
  private val token: Gen[String] = for {
    first <- codePoint
    rest <- codePoint
    n <- Gen.frequency(8 -> Gen.choose(1, 12), 1 -> Gen.choose(1000, 60000))
  } yield new String(Character.toChars(first)) + new String(Character.toChars(rest)) * (n - 1)

  /** Spark's `tokenSig` in Scala: first code point * 131 + code point count. */
  private def sig(tok: String): Long =
    (if (tok.isEmpty) 0L else tok.codePointAt(0).toLong) * 131L + tok.codePointCount(0, tok.length)

  private def reference(s: Seq[Long], n: Int): Seq[Long] =
    s.sliding(n).filter(_.size == n).map { w =>
      w.zip((n - 1) to 0 by -1).map { case (x, e) => BigInt(x) * BigInt(131).pow(e) }
        .sum.mod(BigInt(P)).toLong
    }.toSeq

  test("windows: the length-n windows of Scala's sliding, none for a shorter array") {
    for (n <- ns) {
      val rows = draw(Gen.listOfN(40, Gen.choose(0, n + 2).flatMap(Gen.listOfN(_, Gen.long))),
        9100L + n).zipWithIndex.map { case (xs, id) => (id, xs) }
      val got = rows.toDF("id", "xs")
        .select(col("id"), windows(col("xs"), n, "array<bigint>")(w => array(w: _*)))
        .collect().map(r => r.getInt(0) -> r.getSeq[Seq[Long]](1)).toMap
      for ((id, xs) <- rows)
        assert(got(id) == xs.sliding(n).filter(_.size == n).toSeq,
          s"n=$n, length ${xs.size}: windows of $xs")
    }
  }

  test("sigs and gramCodes == BigInt polynomial mod P over all code points and long tokens") {
    for (n <- ns) {
      val lists = draw(Gen.listOfN(30, Gen.choose(0, n + 2).flatMap(Gen.listOfN(_, token))),
        9200L + n) :+ Seq.fill(n + 2)(new String(Character.toChars(0x10ffff)) * 60000)
      // tokenized as Spark splits: "" is one empty token
      val rows = lists.zipWithIndex.map { case (toks, id) =>
        val text = toks.mkString(" ")
        (id, text, toks.map(sig), text.split(" ", -1).toSeq.map(sig))
      }
      val got = rows.map(r => (r._1, r._2, r._3)).toDF("id", "text", "s")
        .select(col("id"), sigs(col("text")), gramCodes(sigs(col("text")), n),
          gramCodes(col("s"), n))
        .collect().map(r => r.getInt(0) -> (1 to 3).map(r.getSeq[Long])).toMap
      for ((id, _, s, textSigs) <- rows) {
        val Seq(gotSigs, gotText, gotArr) = got(id)
        assert(gotSigs == textSigs, s"n=$n row $id: signatures")
        assert(gotText == reference(textSigs, n), s"n=$n row $id: codes of the text")
        assert(gotArr == reference(s, n), s"n=$n row $id: codes of ${s.size} signatures")
      }
    }
  }
}
