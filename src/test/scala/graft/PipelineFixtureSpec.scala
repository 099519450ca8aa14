package graft

import org.apache.spark.sql.functions._
import graft.operators.Pipeline

/** Golden-fixture tests: one hand-written payload per parser branch
  * (FIXTURES.md §3), expected values hand-computed from the reference code
  * cited in SURVEY.md §2. These pin the reference's quirks independently of
  * the synthesized corpus and the DuckDB oracle, on the rows the live parse
  * path (explodedAll) routes.
  */
class PipelineFixtureSpec extends SparkSpec {

  // Host 172.16.21.40 carries UTC offset +2 in the test dictionary.
  private val SyStart =
    "<134>Mar 22 bigip1 info tmm1: [device_vendor=F5 device_product=Advanced Firewall Module " +
      "device_version=11.6.0 hostname=bigip1.lab bigip_mgmt_ip=172.16.21.40 " +
      "date_time=2015-03-22 10:01:02 context_name=/Common/vs1 route_domain=0 " +
      "partition_name=Common flow_id=0000000000000001 dos_attack_name=Flood attack " +
      "dos_attack_id=1234 dos_attack_event=Attack Started severity=7 " +
      "errdefs_msg_name=Network DoS Event]"

  test("SY-START: attacks row, UTC shift -2h, flow id kept, ongoing=1") {
    val r = firstRow(familyOf(Pipeline.Attacks, Seq(SyStart)))
    assert(r("record_type") == "attacks")
    assert(r("device_utc_time") == "2015-03-22T08:01:02") // +2 host offset
    assert(r("attack_start_date") == "2015-03-22T08:01:02")
    assert(r("flow_table_id") == "0000000000000001")
    assert(r("attack_id") == 1234L)
    assert(r("attack_name") == "Flood attack")
    assert(r("attack_severity") == 7)
    assert(r("attack_ongoing") == 1)
    assert(r("administration_partition") == "Common")
    assert(r("virtual_routing_table") == "0")
    assert(r("remote_log_payload") == SyStart)
    assert(r("facility") == 16 && r("severity") == 6)
  }

  test("SY-START-FLOW0: all-zero flow sentinel keeps \"\" (bbn_syslog.rb:215)") {
    val txt = SyStart.replace("flow_id=0000000000000001", "flow_id=0000000000000000")
    val r = firstRow(familyOf(Pipeline.Attacks, Seq(txt)))
    assert(r("flow_table_id") == "")
  }

  private def sySample(extra: String, action: String = "Drop") =
    "<134>x bigip1 info tmm1: [hostname=bigip1.lab bigip_mgmt_ip=172.16.21.41 " +
      "date_time=2015-03-22 10:01:02 dos_attack_id=77 dos_attack_event=Attack Sampled " +
      s"dos_packets_received=100 dos_packets_dropped=40 action=$action$extra]"

  test("SY-SAMP-VC: context => Virtual Server Rate Limiting + QPS for DNS (bbn_syslog.rb:104-115)") {
    val txt = sySample(" context_name=/Common/vs1 errdefs_msg_name=DNS Event" +
      " dns_query_name=x.example dns_query_type=A")
    val r = firstRow(familyOf(Pipeline.Stats, Seq(txt)))
    assert(r("attack_mitigation_method") == "Virtual Server Rate Limiting")
    assert(r("attack_detection_matrix") == "QPS" && r("attack_drop_matrix") == "QPS")
    assert(r("attack_detection_rate") == 100 && r("attack_drop_rate") == 40)
    assert(r("attack_dns_query_name") == "x.example")
    assert(r("attack_severity") == null) // syslog sample hash has no severity key
  }

  test("SY-SAMP-DROP: Flood/Sweep arms unreachable in syslog branch (SURVEY §2.4 D1 quirk)") {
    // dos_attack_name IS present in the payload but the sampled branch has no
    // mapping arm for it (bbn_syslog.rb:64-94) => Device-Wide, not Source-IP.
    val txt = sySample(" dos_attack_name=Flood attack errdefs_msg_name=Network DoS Event")
    val r = firstRow(familyOf(Pipeline.Stats, Seq(txt)))
    assert(r("attack_mitigation_method") == "Device-Wide Rate Limiting")
    assert(r("attack_detection_matrix") == "PPS")
  }

  test("SY-SAMP-ALLOW: action=Allow => Device-Wide Detection (bbn_syslog.rb:123-125)") {
    val txt = sySample(" errdefs_msg_name=Network DoS Event", action = "Allow")
    val r = firstRow(familyOf(Pipeline.Stats, Seq(txt)))
    assert(r("attack_mitigation_method") == "Device-Wide Detection")
  }

  private val SySync =
    "<134>x bigip1 info tmm1: [device_vendor=F5 device_product=Advanced Firewall Module " +
      "device_version=11.6.0 hostname=bigip1.lab bigip_mgmt_ip=172.16.21.41 " +
      "date_time=2015-03-22 10:01:02 action=Allow context_name=/Common/vs1 route_domain=0 " +
      "partition_name=Common flow_id=0000000000000000 dos_attack_id=555 " +
      "dos_attack_event=TCP Syncookie severity=3 errdefs_msg_name=Network DoS Event]"

  test("SY-SYNC: constant rewrite; attack_id stays 0 (no arm); flow keeps zeros (no sentinel)") {
    val r = firstRow(familyOf(Pipeline.Attacks, Seq(SySync)))
    assert(r("attack_name") == "TCP SYN flood")
    assert(r("attack_status") == "Allow") // original action
    assert(r("attack_mitigation_action") == "Cryptographic SYN Cookie")
    assert(r("attack_mitigation_method") == "Per Virtual Server SYN Cookie")
    assert(r("attack_id") == 0L) // bbn_syslog.rb:361-395 has no dos_attack_id arm
    assert(r("flow_table_id") == "0000000000000000") // no sentinel check at :385
    assert(r("attack_ongoing") == 0)
    assert(r("attack_start_date") == r("attack_end_date"))
  }

  test("SY-TS: four traffic stat types routed; others dropped (bbn_syslog.rb:420-662)") {
    def ts(t: String, counters: String) =
      "<134>x b info tmm1: [hostname=bigip1.lab bigip_mgmt_ip=172.16.21.41 " +
        "device_vendor=F5 device_product=Advanced Firewall Module device_version=11.6.0 " +
        "context_name=/Common/vs1 date_time=2015-03-22 10:01:02 partition_name=Common " +
        s"errdefs_msg_name=Traffic Statistics traffic_stat_type=$t$counters]"
    val texts = Seq(
      ts("Cryptographic SYN Cookie", " cookie_challenge_issued=10 cookie_challenge_passed=8" +
        " cookie_flow_accepted=7 cookie_flow_rejected=1"),
      ts("Reaped Flow", " traffic_stat_cnt=42"),
      ts("Active Flow", " traffic_stat_cnt=43"),
      ts("Missed Flow", " traffic_stat_cnt=44"),
      ts("Bogus Flow", " traffic_stat_cnt=45"))
    val out = familyOf(Pipeline.Traffic, texts)
      .orderBy("conv_id").collect()
    assert(out.length == 4)
    val cookie = out.head
    assert(cookie.getAs[Int]("cookie_challenge_issued") == 10)
    assert(cookie.getAs[Int]("cookie_flow_rejected") == 1)
    assert(cookie.getAs[Any]("traffic_stat_counter") == null)
    assert(out(1).getAs[Int]("traffic_stat_counter") == 42)
  }

  private def cefAfm(hdrName: String, ext: String) =
    s"CEF:0|F5|Advanced Firewall Module|11.6.0|DoS Attack|$hdrName|7|$ext"

  test("CEF-AFM-START: label pairing, partition from context, severity stays 0 (bbn_cef.rb:282-366)") {
    val txt = cefAfm("Flood attack",
      "dvchost=bigip1.lab dvc=172.16.21.40 rt=2015-03-22 10:01:02 act=Drop src=10.0.0.1 " +
        "spt=53 dst=10.0.0.2 dpt=80 F5RouteDomain=0 F5FlowID=0000000000000002 " +
        "cs3=/Common/vs1 cs3Label=virtual_name cn3=77 cn3Label=attack_id " +
        "cs1=Attack Started cs1Label=attack_status")
    val r = firstRow(familyOf(Pipeline.Attacks, Seq(txt)))
    assert(r("attack_id") == 77L)
    assert(r("virtual_context") == "/Common/vs1")
    assert(r("administration_partition") == "Common") // first \w+ of context
    assert(r("attack_severity") == 0) // header sev 7 is NOT read for AFM
    assert(r("device_utc_time") == "2015-03-22T08:01:02") // +2 host
    assert(r("attack_category") == "Network DoS Event")
    assert(r("flow_table_id") == "0000000000000002")
    assert(r("remote_log_format") == "CEF")
  }

  test("CEF-AFM-SAMP: Flood/Sweep D1 arms ARE reachable (unlike syslog) (bbn_cef.rb:471-495)") {
    val txt = cefAfm("Flood attack",
      "dvchost=b dvc=172.16.21.41 rt=2015-03-22 10:01:02 act=Drop src=10.0.0.1 " +
        "cn1=100 cn1Label=dos_packets_received cn2=40 cn2Label=dos_packets_dropped " +
        "cn3=78 cn3Label=attack_id cs1=Attack Sampled cs1Label=attack_status")
    val r = firstRow(familyOf(Pipeline.Stats, Seq(txt)))
    assert(r("attack_mitigation_method") == "Source-IP Rate Limiting")
    assert(r("attack_detection_rate") == 100)
    assert(r("attack_severity") == 0) // CEF default 0, not null
    assert(r("attack_source_ip") == "10.0.0.1")
  }

  test("CEF-AFM-DNS: recategorize + Virtual Server Rate Limiting + QPS (bbn_cef.rb:224-242)") {
    val txt = cefAfm("DNS Event",
      "dvchost=b dvc=172.16.21.41 rt=2015-03-22 10:01:02 act=Drop src=10.0.0.1 " +
        "cs3=/Common/vs1 cs3Label=virtual_name cs4=DNS A query flood cs4Label=dos_attack_name " +
        "cs5=A cs5Label=query_type cs6=x.example cs6Label=query_name " +
        "cn3=79 cn3Label=attack_id cs1=Attack Sampled cs1Label=attack_status")
    val r = firstRow(familyOf(Pipeline.Stats, Seq(txt)))
    assert(r("attack_mitigation_method") == "Virtual Server Rate Limiting")
    assert(r("attack_detection_matrix") == "QPS")
    assert(r("attack_dns_query_type") == "A")
    assert(r("attack_dns_query_name") == "x.example")
  }

  test("CEF-AFM-SYNC emits ZERO records: status rewrite escapes every branch (bbn_cef.rb:244-254)") {
    val txt = cefAfm("Flood attack",
      "dvchost=b dvc=172.16.21.41 rt=2015-03-22 10:01:02 act=Allow src=10.0.0.1 " +
        "cn3=80 cn3Label=attack_id cs1=TCP Syncookie cs1Label=attack_status")
    assert(familyOf(Pipeline.Attacks, Seq(txt)).count() == 0)
    assert(familyOf(Pipeline.Stats, Seq(txt)).count() == 0)
  }

  test("CEF-ASM-START: two rows; sample severity stays 0 via the unreachable elsif (bbn_cef.rb:741)") {
    val txt = "CEF:0|F5|ASM|11.6.0|DOS L7 attack|Source IP-Based Rate Limiting|5|" +
      "dvchost=b dvc=172.16.21.41 rt=2015-03-22 10:01:02 act=Drop src=10.0.0.9 request=/x " +
      "cs1=91 cs1Label=attack_id cs2=Attack started cs2Label=attack_status " +
      "cs3=TPS Increased cs3Label=detection_mode cn1=500 cn1Label=detection_average " +
      "cn2=50 cn2Label=dropped_requests cs4=/Common/vs9 cs4Label=Virtual Server"
    val start = firstRow(familyOf(Pipeline.Attacks, Seq(txt)))
    assert(start("attack_name") == "HTTP Flood") // D4: TPS Increased
    assert(start("attack_severity") == 5) // header [6] IS read for ASM
    assert(start("attack_category") == "Application DoS Event")
    assert(start("administration_partition") == "Common")
    val samp = firstRow(familyOf(Pipeline.Stats, Seq(txt)))
    assert(samp("attack_status") == "Mitigation stats")
    assert(samp("attack_severity") == 0) // unreachable severity arm
    assert(samp("attack_detection_rate") == 500)
    assert(samp("attack_detection_matrix") == "TPS")
    assert(samp("attack_mitigation_method") == "Source IP-Based Rate Limiting")
    assert(samp("attack_request_resource") == "/x")
    assert(samp("attack_start_date") == null) // stamped only by mstat/mchg
  }

  test("CEF-ASM guards: non-DOS-L7 and bad arity are dropped (bbn_cef.rb:28-62)") {
    val bad = Seq(
      "CEF:0|F5|ASM|11.6.0|Brute Force|X|5|dvchost=b",
      "CEF:0|F5|ASM|11.6.0")
    val offsets = graft.sources.Transcripts.utcOffsets(spark)
    assert(Pipeline.parsedBase(transcriptsOf(bad), offsets).filter(col("cef_ok")).count() == 0)
    assert(Pipeline.explodedAll(transcriptsOf(bad), offsets).count() == 0)
  }

  test("W3 via the live records path (pruned explode + narrow facts scan) matches the correlate fixture") {
    val mk = (aid: Int, evt: String, t: String) =>
      s"<134>x b info tmm1: [hostname=b.lab bigip_mgmt_ip=172.16.21.41 date_time=$t " +
        s"dos_attack_id=$aid dos_attack_event=$evt severity=1 errdefs_msg_name=Network DoS Event]"
    val texts = Seq(
      mk(1, "Attack Started", "2015-03-22 10:00:00"),
      mk(1, "Attack Stopped", "2015-03-22 10:05:00"),
      mk(2, "Attack Started", "2015-03-22 10:00:00"),
      mk(2, "Attack Started", "2015-03-22 10:01:00"),
      mk(2, "Attack Stopped", "2015-03-22 10:06:00"), // 2 hits -> log only
      mk(9, "Attack Stopped", "2015-03-22 10:07:00"), // orphan -> log only
      mk(1, "Attack Sampled", "2015-03-22 10:02:00")) // stats row sharing closed id 1
    val t = transcriptsOf(texts)
    val offsets = graft.sources.Transcripts.utcOffsets(spark)
    // records() over the attacks + stats families
    val recs = Pipeline.applyLifecycle(
        Pipeline.explodedAll(t, offsets, Set(Pipeline.Attacks, Pipeline.Stats)),
        Pipeline.lifeAggOf(Pipeline.lifeFacts(t, offsets)))
    val out = recs.filter(col("record_type") === Pipeline.Attacks)
      .select("attack_id", "attack_ongoing", "attack_end_date")
      .orderBy("attack_id").collect()
    assert(out.length == 3)
    assert(out(0).getLong(0) == 1L && out(0).getInt(1) == 0 &&
      out(0).getString(2) == "2015-03-22T10:05:00")
    assert(out(1).getInt(1) == 1 && out(1).getString(2) == null)
    assert(out(2).getInt(1) == 1 && out(2).getString(2) == null)
    // the record_type guard: the sampled row shares the closed id but is
    // not an attacks row, so the lifecycle leaves its fields null
    val stats = recs.filter(col("record_type") === Pipeline.Stats)
      .select("attack_id", "attack_ongoing", "attack_end_date").collect()
    assert(stats.length == 1 && stats(0).getLong(0) == 1L)
    assert(stats(0).isNullAt(1) && stats(0).isNullAt(2))
  }

  test("health filter drops the configured payload before parse (bbn_f5networks.rb:205-229)") {
    val t = transcriptsOf(Seq("default send string", "<134>x [a=1]"))
    val kept = Pipeline.healthFilter(t, graft.sources.Transcripts.healthStrings(spark))
    assert(kept.count() == 1)
  }
}
