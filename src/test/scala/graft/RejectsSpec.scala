package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Pipeline
import graft.sources.{TranscriptTable, Transcripts}

/** The S7 reject side-output (`Pipeline.rejects`): one fixture per reason,
  * no reason for the intentional zero-emitters, and a property that a
  * tagged turn never also yields a routed row.
  */
class RejectsSpec extends SparkSpec {

  /** A transcripts table holding exactly the given payloads. */
  private final class Texts(texts: Seq[String]) extends TranscriptTable {
    def table(spark: SparkSession, dir: String, rep: Int): DataFrame = transcriptsOf(texts)
    def snapshotId(spark: SparkSession, dir: String, rep: Int): String = texts.hashCode.toString
  }

  /** turn_idx -> reject_reason */
  private def reasons(texts: Seq[String]): Map[Int, String] =
    Pipeline.rejects(spark, "fixtures", store = new Texts(texts)).collect()
      .map(r => r.getInt(1) -> r.getString(2)).toMap

  private def sy(fields: String) =
    "<134>x b info tmm1: [hostname=b.lab bigip_mgmt_ip=172.16.21.41 " +
      s"date_time=2015-03-22 10:00:00 $fields severity=1]"

  private def cef(module: String, kind: String, ext: String) =
    s"CEF:0|F5|$module|11.6.0|$kind|Flood attack|5|$ext"

  private def afmExt(status: String) =
    "dvchost=b dvc=172.16.21.41 rt=2015-03-22 10:01:02 act=Allow src=10.0.0.1 " +
      s"cn3=80 cn3Label=attack_id cs1=$status cs1Label=attack_status"

  test("rejects: one fixture per reason; intentional zero-emitters and routed turns get none") {
    val tagged = Seq(
      "<133>Mar 22 bigip1 some other logline" -> "unknown_format",
      "CEF:0|F5|ASM|11.6.0" -> "cef_bad_arity",
      cef("ASM", "Brute Force", "dvchost=b") -> "cef_unsupported_attack_type",
      cef("Local Traffic Manager", "DoS Attack", "dvchost=b") -> "cef_unknown_module",
      sy("dos_attack_id=5 dos_attack_event=Attack Paused errdefs_msg_name=Network DoS Event") ->
        "unknown_dos_event",
      sy("errdefs_msg_name=Traffic Statistics traffic_stat_type=Bogus Flow traffic_stat_cnt=1") ->
        "unknown_traffic_stat_type",
      // no stat type at all, and an empty one (the KV scan drops it): as
      // `!isin(null)` is null, only an explicit null test tags these
      sy("errdefs_msg_name=Traffic Statistics traffic_stat_cnt=1") -> "unknown_traffic_stat_type",
      sy("errdefs_msg_name=Traffic Statistics traffic_stat_type= traffic_stat_cnt=1") ->
        "unknown_traffic_stat_type",
      sy("errdefs_msg_name=Network DoS Event action=Drop") -> "unknown_syslog_message",
      sy("action=Drop") -> "unknown_syslog_message")
    val zeroEmitters = Seq(
      sy("dos_attack_id=0 dos_attack_event=Attack Stopped errdefs_msg_name=Network DoS Event"),
      cef("Advanced Firewall Module", "DoS Attack", afmExt("TCP Syncookie")))
    val routed = Seq(
      sy("dos_attack_id=5 dos_attack_event=Attack Started errdefs_msg_name=Network DoS Event"),
      sy("errdefs_msg_name=Traffic Statistics traffic_stat_type=Active Flow traffic_stat_cnt=3"),
      cef("Advanced Firewall Module", "DoS Attack", afmExt("Attack Started")))
    val texts = tagged.map(_._1) ++ zeroEmitters ++ routed
    val want = tagged.map(_._2).zipWithIndex.map { case (r, i) => i -> r }.toMap
    assert(reasons(texts) == want)

    val offsets = Transcripts.utcOffsets(spark)
    assert(Pipeline.explodedAll(transcriptsOf(zeroEmitters), offsets).count() == 0)
    assert(Pipeline.explodedAll(transcriptsOf(routed), offsets).count() == routed.length)
  }

  // Turns across every guard the reference checks: known and unknown
  // events, stat types and CEF modules, bad arity, zero ids, absent and
  // empty keys, non-F5 lines and the health string.
  private val turn: Gen[String] = {
    def kv(key: String, v: String): String = if (v == "-") "" else s"$key=$v"
    val syslog = for {
      evt <- Gen.oneOf("Attack Started", "Attack Stopped", "Attack Sampled", "TCP Syncookie",
        "Attack Paused", "-")
      aid <- Gen.oneOf("0", "5", "-")
      msg <- Gen.oneOf("Traffic Statistics", "Network DoS Event", "-")
      stat <- Gen.oneOf("Cryptographic SYN Cookie", "Reaped Flow", "Active Flow", "Missed Flow",
        "Bogus Flow", "", "-")
    } yield sy(Seq(kv("dos_attack_id", aid), kv("dos_attack_event", evt),
      kv("errdefs_msg_name", msg), kv("traffic_stat_type", stat), "traffic_stat_cnt=2")
      .filter(_.nonEmpty).mkString(" "))
    val cefs = for {
      module <- Gen.oneOf("Advanced Firewall Module", "ASM", "Local Traffic Manager")
      kind <- Gen.oneOf("DoS Attack", "DOS L7 attack", "Brute Force")
      status <- Gen.oneOf("Attack Started", "Attack Sampled", "Attack Stopped", "TCP Syncookie",
        "Attack started", "Attack ended", "Mitigation stats", "Mitigation changed", "Bogus")
      fields <- Gen.oneOf(8, 8, 8, 5)
    } yield cef(module, kind, afmExt(status)).split("\\|", 8).take(fields).mkString("|")
    Gen.frequency(4 -> syslog, 4 -> cefs,
      1 -> Gen.oneOf("<133>Mar 22 bigip1 some other logline", Transcripts.HealthString, "plain"))
  }

  test("rejects and the routed rows are disjoint: no tagged turn yields an explodedAll row") {
    val offsets = Transcripts.utcOffsets(spark)
    (0 until 12).foreach { i =>
      val seed = 7100L + i
      val texts = Gen.listOfN(40, turn).pureApply(Gen.Parameters.default, Seed(seed))
      val tagged = reasons(texts).keySet
      val routed = Pipeline.explodedAll(transcriptsOf(texts), offsets)
        .select("turn_idx").distinct().collect().map(_.getInt(0)).toSet
      val both = tagged.intersect(routed)
      assert(tagged.nonEmpty && routed.nonEmpty)
      assert(both.isEmpty, s"seed $seed: tagged turns also routed:\n" +
        both.toSeq.sorted.map(texts(_)).mkString("\n"))
    }
  }
}
