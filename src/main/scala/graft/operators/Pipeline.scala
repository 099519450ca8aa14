package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F5Parse._
import graft.functions.KvSlots
import graft.sources.Transcripts

/** The parse -> enrich -> normalize -> route -> aggregate pipeline over the
  * transcripts table.
  *
  * Reference dataflow being re-expressed (SURVEY.md §2/§3):
  * source -> health-filter (F1) -> format-dispatch (F2) -> one-pass KV scan
  * (P3/P4) -> per-family normalize (P6-P12, D1-D7) -> explode (E1) -> route
  * by record_type (S5) -> stateful attack-lifecycle correlate (W3).
  *
  * There is ONE parse path, as in the reference (each wire format is parsed
  * once, then branched on its event): `parsedBase` dispatches the format
  * and runs the KV scan once per row, and `explodedAll` renders one struct
  * per matched branch of the requested families and explodes them (E1).
  * Each family's normalization is a (column-name -> expression) list that
  * its branch struct renders. records(), Router, Lineage, streaming and the
  * family queries all read these rows, and `applyLifecycle` is the one W3
  * join: the per-episode lifecycle aggregate, broadcast onto the records.
  *
  * Which event phrase, under which format and module guard, becomes which
  * record is declared once, in the event table (`branches`): explodedAll,
  * lifeFacts (arms and prefilter needles) and rejects (its known sets) all
  * derive from it, so none of them can drift from the others.
  *
  * `kv` and `dyn` are structs, not maps: the typed KV scan
  * (`F5Parse.kvSlots`) fills one slot per declared key (`KvKeys`) and, on
  * CEF rows, per declared ArcSight label (`DynLabels`) in its byte pass, so
  * a probe is a field read and the whole parse base compiles as one
  * whole-stage-codegen stage. Both lists sit next to the event table;
  * `kvv`/`dyn` reject an undeclared name when the plan is built.
  */
object Pipeline {

  /** Routed family names (S5 sink axes) + the internal stop pseudo-family. */
  val Attacks = "attacks"
  val Stats = "attack_mitigation_stats"
  val Traffic = "traffic_stats"
  val Stop = "_stop"

  /** The externally-routed families (what records() emits). */
  val RecordFamilies: Set[String] = Set(Attacks, Stats, Traffic)

  /** Every family incl. the internal `_stop` rows (what Router stages). */
  val AllFamilies: Set[String] = RecordFamilies + Stop

  /** Spark-side session knobs the parse path relies on. Idempotent. */
  def configure(spark: SparkSession): Unit = {
    // Ruby's elsif chains are last-assignment-wins; map_from_entries must
    // dedup the same way rather than throw (bbn_syslog.rb:64-94 semantics).
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // The reference's Ruby hash probes return nil for absent keys and its
    // numeric coercions never raise; ANSI mode (Spark 4 default) would
    // instead throw on element_at misses and bad string->number casts.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // SQL surface for the custom expressions (kv_extract, ...)
    graft.plans.GraftExtensions.register(spark)
  }

  /** F1 health-string drop. The reference matches the socket peer against a
    * per-host dictionary with an "any" wildcard (bbn_f5networks.rb:205-229);
    * transcripts carry no transport host, and health-check payloads embed
    * none, so the wildcard semantics (every host shares the default string)
    * are what is reproducible here — a broadcast anti-join against the
    * distinct health strings.
    */
  def healthFilter(transcripts: DataFrame, health: DataFrame): DataFrame =
    transcripts.join(
      broadcast(health.select(col("health")).distinct()),
      transcripts("text") === col("health"), "left_anti")

  /** A declared key's / label's slot of the typed scan; an undeclared name
    * fails here, when the plan is built.
    */
  def kvv(key: String): Column = slot(col("kv"), KvKeys, key)
  private def dyn(label: String): Column = slot(col("dyn"), DynLabels, label)
  private def stopKv(key: String): Column = slot(col("stop_sykv"), StopSlots.keys, key)
  private def slot(s: Column, declared: Seq[String], name: String): Column = {
    require(declared.contains(name), s"`$name` is not a declared slot: $declared")
    s.getField(name)
  }

  // ---------------------------------------------------------------------
  // Family normalizations as shared (name -> column) lists
  // ---------------------------------------------------------------------

  /** The leading fields of every family's render; traffic stats carry no
    * customer_id (bbn_syslog.rb:420-662).
    */
  private def common(family: String, fmt: String): Seq[(String, Column)] =
    (if (family == Traffic) Nil else Seq("customer_id" -> lit(0))) ++ Seq(
      "record_type" -> lit(family),
      "remote_log_format" -> lit(fmt),
      "remote_log_payload" -> (if (fmt == "Syslog") col("msg") else col("text")),
      "device_utc_offset" -> col("offh"))

  /** The syslog device block shared by the attacks and traffic renders. */
  private def syslogDevice: Seq[(String, Column)] =
    Seq("vendor" -> "device_vendor", "module" -> "device_product",
      "version" -> "device_version", "hostname" -> "hostname", "ip" -> "bigip_mgmt_ip")
      .map { case (field, key) => s"device_$field" -> coalesce(kvv(key), lit("")) }

  /** The attack id a record carries: 0 when absent or not a number. */
  private def attackId(aid: Column): Column = coalesce(aid.cast("long"), lit(0L))

  /** The one `aid != 0` guard: a zero id neither stops nor starts an
    * episode (the hits==1 guard's precondition, bbn_syslog.rb:283-307).
    */
  private def hasId(aid: Column): Column = attackId(aid) =!= 0L

  /** syslog Attack Started -> attacks (bbn_syslog.rb:158-239). */
  private def colsSyslogStart(aid: Column): Seq[(String, Column)] = {
    val utc = col("sy_utc")
    common(Attacks, "Syslog") ++ syslogDevice ++ Seq(
      "device_utc_time" -> utc,
      "policy_name" -> lit(null).cast("string"),
      "virtual_context" -> coalesce(kvv("context_name"), lit("")),
      "virtual_routing_table" -> coalesce(kvv("route_domain"), lit("")),
      "administration_partition" -> coalesce(kvv("partition_name"), lit("")),
      "flow_table_id" -> flowTableId(kvv("flow_id")),
      "attack_mlp" -> lit(0),
      "attack_name" -> coalesce(kvv("dos_attack_name"), lit("")),
      "attack_id" -> attackId(aid),
      "attack_type" -> lit(1),
      "attack_status" -> coalesce(kvv("dos_attack_event"), lit("")),
      "attack_severity" -> coalesce(kvv("severity").cast("int"), lit(0)),
      "attack_category" -> coalesce(kvv("errdefs_msg_name"), lit("")),
      "attack_event_counter" -> lit(null).cast("int"),
      "attack_ongoing" -> lit(1),
      "attack_mitigation_method" -> lit(null).cast("string"),
      "attack_mitigation_action" -> lit(null).cast("string"),
      "attack_start_date" -> utc,
      "attack_end_date" -> lit(null).cast("string"),
      "unknown_key_value_pair" -> lit(""))
  }

  /** syslog TCP Syncookie -> attacks (bbn_syslog.rb:327-411): the start
    * render with ten quirk fields replaced. No dos_attack_id arm (attack_id
    * stays 0), no all-zero sentinel on flow_id, attack_status becomes the
    * original action, start==end date, ongoing=0.
    */
  private def colsSyslogSync: Seq[(String, Column)] = {
    val quirks = Map[String, Column](
      "policy_name" -> lit(""),
      "flow_table_id" -> coalesce(kvv("flow_id"), lit("")),
      "attack_name" -> lit("TCP SYN flood"),
      "attack_id" -> lit(0L),
      "attack_status" -> coalesce(kvv("action"), lit("")),
      "attack_event_counter" -> lit(0),
      "attack_ongoing" -> lit(0),
      "attack_mitigation_method" -> lit("Per Virtual Server SYN Cookie"),
      "attack_mitigation_action" -> lit(SynCookie),
      "attack_end_date" -> col("sy_utc"))
    colsSyslogStart(kvv("dos_attack_id")).map { case (n, c) => n -> quirks.getOrElse(n, c) }
  }

  /** CEF attacks: AFM Attack Started (bbn_cef.rb:282-366) / ASM Attack
    * started (bbn_cef.rb:662-785); `afm` switches the module-dependent arms.
    */
  private def colsCefStart(afm: Boolean, aid: Column): Seq[(String, Column)] = {
    val utc = col("cef_utc")
    val asmName = when(dyn("detection_mode") === "TPS Increased", "HTTP Flood")
      .when(dyn("detection_mode") === "Latency Increased", "HTTP Server Response Latency")
      .otherwise("")
    val vcSrc = if (afm) col("cef_vn") else col("cef_vs")
    val vc = coalesce(when(vcSrc =!= "", vcSrc), lit(""))
    common(Attacks, "CEF") ++ Seq(
      "device_vendor" -> coalesce(element_at(col("spl"), 2), lit("")),
      "device_module" -> coalesce(element_at(col("spl"), 3), lit("")),
      "device_version" -> coalesce(element_at(col("spl"), 4), lit("")),
      "device_hostname" -> coalesce(kvv("dvchost"), lit("")),
      "device_ip" -> coalesce(kvv("dvc"), lit("")),
      "device_utc_time" -> utc,
      "policy_name" -> lit(null).cast("string"),
      "virtual_context" -> vc,
      "virtual_routing_table" -> (if (afm) coalesce(kvv("F5RouteDomain"), lit("")) else lit("")),
      "administration_partition" -> when(vc =!= "", adminPartition(vc)).otherwise(""),
      "flow_table_id" -> (if (afm) flowTableId(kvv("F5FlowID")) else lit("")),
      "attack_mlp" -> lit(0),
      "attack_name" -> (if (afm) element_at(col("spl"), 6) else asmName),
      "attack_id" -> attackId(aid),
      "attack_type" -> lit(1),
      "attack_status" -> coalesce(dyn("attack_status"), lit("")),
      "attack_severity" ->
        (if (afm) lit(0) else coalesce(element_at(col("spl"), 7).cast("int"), lit(0))),
      "attack_category" -> lit(if (afm) "Network DoS Event" else "Application DoS Event"),
      "attack_event_counter" -> lit(null).cast("int"),
      "attack_ongoing" -> lit(1),
      "attack_mitigation_method" -> lit(null).cast("string"),
      "attack_mitigation_action" -> lit(null).cast("string"),
      "attack_start_date" -> utc,
      "attack_end_date" -> lit(null).cast("string"),
      "unknown_key_value_pair" -> lit(""))
  }

  /** syslog Attack Sampled -> stats (bbn_syslog.rb:31-156). Quirks pinned:
    * attack_name never populated (D1 Flood/Sweep arms unreachable) and
    * attack_severity absent (null).
    */
  private def colsSyslogSample: Seq[(String, Column)] = {
    val hasCtx = kvv("context_name").isNotNull
    val cat = kvv("errdefs_msg_name")
    common(Stats, "Syslog") ++ Seq(
      "device_utc_time" -> col("sy_utc"),
      "attack_id" -> attackId(kvv("dos_attack_id")),
      "attack_type" -> lit(1),
      "attack_severity" -> lit(null).cast("int"),
      "attack_status" -> coalesce(kvv("dos_attack_event"), lit("")),
      "attack_detection_rate" -> coalesce(kvv("dos_packets_received").cast("int"), lit(0)),
      "attack_detection_matrix" -> rateMatrix(hasCtx, cat, "PPS"),
      "attack_detection_method" -> lit(null).cast("string"),
      "attack_drop_rate" -> coalesce(kvv("dos_packets_dropped").cast("int"), lit(0)),
      "attack_drop_matrix" -> rateMatrix(hasCtx, cat, "PPS"),
      "attack_mitigation_method" ->
        mitigationMethod(hasCtx, kvv("action"), cat, lit(null), lit("")),
      "attack_mitigation_action" -> coalesce(kvv("action"), lit("")),
      "attack_request_resource" -> lit(""),
      "attack_dns_query_name" -> coalesce(kvv("dns_query_name"), lit("")),
      "attack_dns_query_type" -> coalesce(kvv("dns_query_type"), lit("")),
      "attack_source_ip" -> coalesce(kvv("source_ip"), lit("")),
      "attack_source_port" -> coalesce(kvv("source_port"), lit("")),
      "attack_source_vlan" -> lit(""),
      "attack_destination_ip" -> coalesce(kvv("dest_ip"), lit("")),
      "attack_destination_port" -> coalesce(kvv("dest_port"), lit("")),
      "attack_destination_vlan" -> coalesce(kvv("vlan"), lit("")),
      "attack_start_date" -> lit(null).cast("string"))
  }

  /** CEF/AFM Attack Sampled -> stats (bbn_cef.rb:368-527) incl. DNS
    * recategorization (bbn_cef.rb:224-242). attack_name IS present here so
    * the Flood/Sweep D1 arms fire; severity is the hash default 0.
    */
  private def colsCefAfmSample: Seq[(String, Column)] = {
    val utc = col("cef_utc")
    val headerName = element_at(col("spl"), 6)
    val isDns = headerName === "DNS Event" && dyn("query_type").isNotNull
    val name = when(isDns, coalesce(dyn("dos_attack_name"), headerName)).otherwise(headerName)
    val cat = when(isDns, "DNS Event").otherwise("Network DoS Event")
    val vcRaw = when(dyn("virtual_name") =!= "", dyn("virtual_name"))
    val hasCtx = vcRaw.isNotNull
    common(Stats, "CEF") ++ Seq(
      "device_utc_time" -> utc,
      "attack_id" -> attackId(dyn("attack_id")),
      "attack_type" -> lit(1),
      "attack_severity" -> lit(0), // AFM never fills it; hash default 0
      "attack_status" -> lit(AttackSampled),
      "attack_detection_rate" -> coalesce(dyn("dos_packets_received").cast("int"), lit(0)),
      "attack_detection_matrix" -> rateMatrix(hasCtx, cat, "PPS"),
      "attack_detection_method" -> lit(null).cast("string"),
      "attack_drop_rate" -> coalesce(dyn("dos_packets_dropped").cast("int"), lit(0)),
      "attack_drop_matrix" -> rateMatrix(hasCtx, cat, "PPS"),
      "attack_mitigation_method" -> mitigationMethod(hasCtx, kvv("act"), cat, name, lit("")),
      "attack_mitigation_action" -> coalesce(kvv("act"), lit("")),
      "attack_request_resource" -> lit(""),
      "attack_dns_query_name" -> coalesce(dyn("query_name"), lit("")),
      "attack_dns_query_type" -> coalesce(dyn("query_type"), lit("")),
      "attack_source_ip" -> coalesce(kvv("src"), lit("")),
      "attack_source_port" -> coalesce(kvv("spt"), lit("")),
      "attack_source_vlan" -> lit(""),
      "attack_destination_ip" -> coalesce(kvv("dst"), lit("")),
      "attack_destination_port" -> coalesce(kvv("dpt"), lit("")),
      "attack_destination_vlan" -> coalesce(dyn("vlan"), lit("")),
      "attack_start_date" -> lit(null).cast("string"))
  }

  /** CEF/ASM stats rows (bbn_cef.rb:662-913): Attack started's piggy-backed
    * sample (severity stays 0 — unreachable elsif at :741, no start_date),
    * Mitigation stats / Mitigation changed (severity set, start_date
    * stamped).
    */
  private def colsCefAsmStats: Seq[(String, Column)] = {
    val status = col("astat")
    val fromStart = status === AsmStarted
    val utc = col("cef_utc")
    common(Stats, "CEF") ++ Seq(
      "device_utc_time" -> utc,
      "attack_id" -> attackId(dyn("attack_id")),
      "attack_type" -> lit(1),
      "attack_severity" -> when(fromStart, 0)
        .otherwise(coalesce(element_at(col("spl"), 7).cast("int"), lit(0))),
      "attack_status" -> when(fromStart, MitigationStats).otherwise(coalesce(status, lit(""))),
      "attack_detection_rate" -> coalesce(dyn("detection_average").cast("int"), lit(0)),
      "attack_detection_matrix" -> lit("TPS"),
      "attack_detection_method" -> coalesce(dyn("detection_mode"), lit("")),
      "attack_drop_rate" -> coalesce(dyn("dropped_requests").cast("int"), lit(0)),
      "attack_drop_matrix" -> lit("TPS"),
      "attack_mitigation_method" -> coalesce(element_at(col("spl"), 6), lit("")),
      "attack_mitigation_action" -> coalesce(kvv("act"), lit("")),
      "attack_request_resource" -> coalesce(kvv("request"), lit("")),
      "attack_dns_query_name" -> lit(null).cast("string"),
      "attack_dns_query_type" -> lit(null).cast("string"),
      "attack_source_ip" -> coalesce(kvv("src"), lit("")),
      "attack_source_port" -> lit(null).cast("string"),
      "attack_source_vlan" -> lit(null).cast("string"),
      "attack_destination_ip" -> lit(null).cast("string"),
      "attack_destination_port" -> lit(null).cast("string"),
      "attack_destination_vlan" -> lit(null).cast("string"),
      "attack_start_date" -> when(fromStart, lit(null).cast("string")).otherwise(utc))
  }

  /** syslog Traffic Statistics x 4 stat types (bbn_syslog.rb:420-662). */
  private def colsTraffic: Seq[(String, Column)] = {
    val statType = kvv("traffic_stat_type")
    val isCookie = statType === SynCookie
    common(Traffic, "Syslog") ++ Seq("device_utc_time" -> col("sy_utc")) ++ syslogDevice ++ Seq(
      "virtual_context" -> coalesce(kvv("context_name"), lit("")),
      "administration_partition" -> coalesce(kvv("partition_name"), lit("")),
      "traffic_stat_type" -> coalesce(statType, lit("")),
      "traffic_stat_counter" ->
        when(!isCookie, coalesce(kvv("traffic_stat_cnt").cast("int"), lit(null))),
      "cookie_challenge_issued" -> when(isCookie, kvv("cookie_challenge_issued").cast("int")),
      "cookie_challenge_passed" -> when(isCookie, kvv("cookie_challenge_passed").cast("int")),
      "cookie_flow_accepted" -> when(isCookie, kvv("cookie_flow_accepted").cast("int")),
      "cookie_flow_rejected" -> when(isCookie, kvv("cookie_flow_rejected").cast("int")))
  }

  // ---------------------------------------------------------------------
  // The F5 event table: which phrase, under which format and module guard,
  // becomes which record (the reference's elsif chains, bbn_syslog.rb /
  // bbn_cef.rb). explodedAll, lifeFacts and rejects all read it.
  // ---------------------------------------------------------------------

  // Phrases and guard values the table shares with the renders, the CEF
  // guard in parsedBase and rejects.
  private val AttackStarted = "Attack Started"
  private val AttackStopped = "Attack Stopped"
  private val AttackSampled = "Attack Sampled"
  private val AsmStarted = "Attack started"
  private val MitigationStats = "Mitigation stats"
  private val TrafficStatistics = "Traffic Statistics"
  private val SynCookie = "Cryptographic SYN Cookie"
  private val Afm = "Advanced Firewall Module"
  private val Asm = "ASM"
  private val AsmAttackType = "DOS L7 attack"

  private def isModule(module: String): Column = element_at(col("spl"), 3) === module

  /** Every key the renders, guards and hoists probe (`kvv`): the typed
    * scan's `kv` slots. Syslog keys, then CEF extension keys; a scan of
    * either format fills whichever of them its text carries.
    */
  val KvKeys: Seq[String] = Seq(
    "device_vendor", "device_product", "device_version", "hostname", "bigip_mgmt_ip",
    "date_time", "severity", "errdefs_msg_name", "dos_attack_event", "dos_attack_id",
    "dos_attack_name", "context_name", "route_domain", "partition_name", "flow_id", "action",
    "dos_packets_received", "dos_packets_dropped", "dns_query_name", "dns_query_type",
    "source_ip", "source_port", "dest_ip", "dest_port", "vlan",
    "traffic_stat_type", "traffic_stat_cnt", "cookie_challenge_issued",
    "cookie_challenge_passed", "cookie_flow_accepted", "cookie_flow_rejected",
    "rt", "dvchost", "dvc", "act", "src", "spt", "dst", "dpt", "request",
    "F5RouteDomain", "F5FlowID")

  /** Every ArcSight label the CEF renders and guards probe (`dyn`): the
    * typed scan's `dyn` slots, each holding the value of the key `X` whose
    * `XLabel` carries that name (P7).
    */
  val DynLabels: Seq[String] = Seq(
    "attack_id", "attack_status", "detection_mode", "detection_average", "dropped_requests",
    "virtual_name", "Virtual Server", "dos_attack_name", "dos_packets_received",
    "dos_packets_dropped", "query_name", "query_type", "vlan")

  private val Slots = KvSlots(KvKeys, DynLabels)

  /** The CEF/AFM stop quirk's syslog-mode rescan reads two keys only. Its
    * own narrow layout keeps the parse base's rows under Spark's
    * whole-stage-codegen width limit (`spark.sql.codegen.maxFields`, 100
    * nested fields): a second 42-field `kv` struct crossed it and split
    * the base into an interpreted Project.
    */
  private val StopSlots = KvSlots(Seq("dos_attack_id", "date_time"), Nil)

  /** A start or stop branch's lifecycle fact: the attack id it carries and
    * the UTC time it closes its episode at (a typed null for a start).
    */
  private final case class Fact(aid: Column, utc: Column)

  /** One branch. `module` is None for syslog (guard: the Syslog format) and
    * the CEF header's module otherwise (guard: `cef_ok` and that module).
    * The branch fires when its guard holds, `pre` holds, and `on`, the
    * probed event/status value, is one of `phrases`.
    *
    * The format guard reads the typed scan's structs whole: `dyn` is
    * non-null exactly on the CEF rows that passed `cef_ok`, and `kv`
    * without `dyn` exactly on syslog rows. A whole-struct reference keeps
    * Spark's nested-column aliasing from splitting `kv`/`dyn` into ~50
    * single-field columns under the render's Generate, which grew the
    * parse base's generated method past the 8,000-byte JIT limit
    * (PlanShapeSpec's codegen guard).
    */
  private final case class Branch(family: String, module: Option[String], on: Column,
      phrases: Seq[String], cols: Seq[(String, Column)], fact: Option[Fact] = None,
      pre: Option[Column] = None) {
    def cond: Column = {
      val guard = module.fold(col("kv").isNotNull && col("dyn").isNull)(m =>
        col("dyn").isNotNull && isModule(m))
      val hit = if (phrases.size == 1) on === phrases.head else on.isin(phrases: _*)
      guard && pre.fold(hit)(_ && hit)
    }
    /** The record struct; a stop with a zero id renders nothing. */
    def render: Column =
      if (family == Stop) when(hasId(fact.get.aid), recStruct(cols)) else recStruct(cols)
  }

  /** The 11 E1 branches in the reference's emission order. Order is
    * load-bearing for the dual-emit turns (ASM Attack started emits its
    * start struct before its piggy-backed stats struct, matching
    * bbn_cef.rb:662-913's sequential pushes).
    */
  private def branches: Seq[Branch] = {
    val evt = col("evt")
    val astat = col("astat")
    val syId = kvv("dos_attack_id")
    val cefId = dyn("attack_id")
    def start(module: Option[String], on: Column, phrase: String,
              cols: Column => Seq[(String, Column)], aid: Column): Branch =
      Branch(Attacks, module, on, Seq(phrase), cols(aid), Some(Fact(aid, lit(null).cast("string"))))
    // Internal stop pseudo-records for the W3 resolution (record_type
    // `_stop`, filtered out after correlation).
    def stop(module: Option[String], on: Column, phrase: String, aid: Column, utc: Column): Branch =
      Branch(Stop, module, on, Seq(phrase),
        Seq("record_type" -> lit(Stop), "attack_id" -> attackId(aid), "device_utc_time" -> utc),
        Some(Fact(aid, utc)))
    // CEF/AFM stop keys come from the SYSLOG-regex rescan of the raw
    // message (bbn_cef.rb:541), the guarded `stop_sykv` base column.
    Seq(
      start(None, evt, AttackStarted, colsSyslogStart, syId),
      Branch(Attacks, None, evt, Seq("TCP Syncookie"), colsSyslogSync),
      Branch(Stats, None, evt, Seq(AttackSampled), colsSyslogSample),
      Branch(Traffic, None, kvv("traffic_stat_type"),
        Seq(SynCookie, "Reaped Flow", "Active Flow", "Missed Flow"), colsTraffic,
        pre = Some(evt.isNull && kvv("errdefs_msg_name") === TrafficStatistics)),
      stop(None, evt, AttackStopped, syId, col("sy_utc")),
      start(Some(Afm), astat, AttackStarted, colsCefStart(afm = true, _), cefId),
      Branch(Stats, Some(Afm), astat, Seq(AttackSampled), colsCefAfmSample),
      stop(Some(Afm), astat, AttackStopped, stopKv("dos_attack_id"),
        toUtcOrEmpty(stopKv("date_time"), col("offh"))),
      start(Some(Asm), astat, AsmStarted, colsCefStart(afm = false, _), cefId),
      Branch(Stats, Some(Asm), astat, Seq(AsmStarted, MitigationStats, "Mitigation changed"),
        colsCefAsmStats),
      stop(Some(Asm), astat, "Attack ended", cefId, col("cef_utc")))
  }

  // ---------------------------------------------------------------------
  // Single-pass assembly: E1 explode + S5 routing + W3 in one scan
  // ---------------------------------------------------------------------

  /** Superset record schema (name -> Spark SQL type) for the exploded
    * struct; every family fills a subset, the rest are typed nulls.
    */
  private val recSchema: Seq[(String, String)] = Seq(
    "customer_id" -> "int",
    "device_vendor" -> "string", "device_module" -> "string",
    "device_version" -> "string", "device_hostname" -> "string",
    "device_ip" -> "string", "device_utc_time" -> "string",
    "device_utc_offset" -> "int", "policy_name" -> "string",
    "virtual_context" -> "string", "virtual_routing_table" -> "string",
    "administration_partition" -> "string", "flow_table_id" -> "string",
    "attack_mlp" -> "int", "attack_name" -> "string", "attack_id" -> "bigint",
    "attack_type" -> "int", "attack_status" -> "string",
    "attack_severity" -> "int", "attack_category" -> "string",
    "attack_event_counter" -> "int", "attack_ongoing" -> "int",
    "attack_mitigation_method" -> "string", "attack_mitigation_action" -> "string",
    "attack_detection_rate" -> "int", "attack_detection_matrix" -> "string",
    "attack_detection_method" -> "string", "attack_drop_rate" -> "int",
    "attack_drop_matrix" -> "string", "attack_request_resource" -> "string",
    "attack_dns_query_name" -> "string", "attack_dns_query_type" -> "string",
    "attack_source_ip" -> "string", "attack_source_port" -> "string",
    "attack_source_vlan" -> "string", "attack_destination_ip" -> "string",
    "attack_destination_port" -> "string", "attack_destination_vlan" -> "string",
    "attack_start_date" -> "string", "attack_end_date" -> "string",
    "unknown_key_value_pair" -> "string",
    "traffic_stat_type" -> "string", "traffic_stat_counter" -> "int",
    "cookie_challenge_issued" -> "int", "cookie_challenge_passed" -> "int",
    "cookie_flow_accepted" -> "int", "cookie_flow_rejected" -> "int",
    "record_type" -> "string", "remote_log_format" -> "string",
    "remote_log_payload" -> "string")

  /** Canonical (all-nullable) struct type for every branch: casting each
    * branch struct to the ONE shared type makes the 11 array elements'
    * types EXACTLY equal, so the analyzer's complex-type coercion
    * short-circuits on sameType instead of re-merging 11 x 50 fields that
    * differ only in null flags on every fixed-point iteration (JFR showed
    * TypeCoercionHelper.findTypeForComplex / regionMatchesCI as top driver
    * frames during route planning). Field types are unchanged, so the
    * per-field casts are identity at runtime.
    */
  private lazy val recStructType: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(recSchema.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t),
        nullable = true)
    })

  private def recStruct(cols: Seq[(String, Column)]): Column = {
    val m = cols.toMap
    struct(recSchema.map { case (n, t) =>
      m.getOrElse(n, lit(null).cast(t)).as(n)
    }: _*).cast(recStructType)
  }

  /** Single-pass records: ONE scan of transcripts, conditional parse into a
    * format-appropriate kv map, one struct per matched branch (only the
    * REQUESTED families' branches are built — nested-field pruning cannot
    * reach through explode(array(struct...)), so an unrequested family's
    * ~50-column struct render is real per-row work Catalyst can't remove),
    * explode (the reference's 0..2-events-per-message E1), then the W3
    * lifecycle joined from a dedicated NARROW facts scan (`lifeFacts`) that
    * parses only the stop-relevant keys — the full-width struct render runs
    * exactly once per consumed family.
    */
  def records(spark: SparkSession, dir: String, rep: Int = 1,
              families: Set[String] = RecordFamilies,
              store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): DataFrame = {
    val t = transcriptsClean(spark, dir, rep, store)
    val offsets = Transcripts.utcOffsets(spark)
    val ex = explodedAll(t, offsets, families - Stop)
    if (families(Attacks)) applyLifecycle(ex, lifeAggOf(lifeFacts(t, offsets)))
    else ex
  }

  /** The one parse base over (health-filtered) transcripts: format
    * dispatch (`fmt`; Unknown rows dropped), quote strip, CEF arity/module
    * guard (`cef_ok`), the typed one-pass KV scan with its dynamic-label
    * pairing (`kv`/`dyn` structs), PRI decomposition, offset enrichment.
    * Every withColumn here is a lazy projection — consumers that never
    * reference `dyn` or `facility` pay nothing for them (column pruning).
    * Every expression here has generated code, so the base runs as one
    * whole-stage-codegen stage (PlanShapeSpec's codegen guard).
    */
  def parsedBase(t: DataFrame, offsets: DataFrame): DataFrame = {
    val fmt = remoteLogFormat(col("text"))
    val isSy = col("fmt") === "Syslog"
    // `spl` is CEF-only work: guard it so syslog rows (the majority) never
    // pay the regex split; element_at(null, i) stays null, so every
    // downstream probe sees exactly the out-of-bounds semantics it saw on a
    // 1-element split of a syslog line.
    val spl = when(col("fmt") === "CEF", split(col("text"), "\\|"))
    val cefOk = col("fmt") === "CEF" && size(col("spl")) === 8 &&
      (isModule(Afm) || (isModule(Asm) && element_at(col("spl"), 5) === AsmAttackType))
    // Stages are batched with withColumns (one analysis pass per stage
    // instead of one per column): every Dataset transformation eagerly
    // re-analyzes the whole accumulated tree, and with the ~3000-node
    // branch expressions downstream the old 16-withColumn chain spent
    // ~0.5 s of single-threaded driver time PER records() CONSTRUCTION
    // (JFR: TypeCoercion/resolution frames) — paid inside every measured
    // query run and route. Stage boundaries follow the data dependencies.
    t
      .withColumn("fmt", fmt)
      .filter(col("fmt") =!= "Unknown")
      .withColumns(Map(
        "msg" -> when(col("fmt") === "Syslog", stripQuotes(col("text"))).otherwise(col("text")),
        "spl" -> spl,
        // one PRI regexp per row; facility/severity derive from the column
        // (identical values: null propagates through /8 and pmod)
        "_pri" -> when(isSy, pri(col("text")))))
      .withColumns(Map(
        "cef_ok" -> cefOk,
        "facility" -> priFacility(col("_pri")),
        "severity" -> priSeverity(col("_pri"))))
      .withColumn("kvs",
        when(isSy, kvSlots(col("msg"), cef = false, Slots))
          .when(col("cef_ok"), kvSlots(element_at(col("spl"), 8), cef = true, Slots)))
      .withColumns(Map("kv" -> col("kvs.kv"), "dyn" -> col("kvs.dyn")))
      .withColumn("host", when(isSy, kvv("bigip_mgmt_ip")).otherwise(kvv("dvc")))
      .join(broadcast(offsets), Seq("host"), "left")
      .withColumn("offh", coalesce(col("utc_offset_h"), lit(0)))
      // Shared per-row subexpressions hoisted to named columns (guide §4):
      // the branch conditions and every family struct reference these as
      // plain attributes, so the datetime parse + hot map probes run ONCE
      // per row instead of once per referencing field — and the Generate's
      // expression tree (hence its generated code) shrinks accordingly.
      .withColumns(Map(
        "evt" -> kvv("dos_attack_event"),
        "astat" -> dyn("attack_status"),
        "sy_utc" -> toUtcOrEmpty(kvv("date_time"), col("offh")),
        "cef_utc" -> toUtcOrEmpty(kvv("rt"), col("offh")),
        "cef_vn" -> dyn("virtual_name"),
        "cef_vs" -> dyn("Virtual Server")))
      // The CEF/AFM stop quirk's syslog-regex rescan of the raw message
      // (bbn_cef.rb:541) is guarded to exactly the rows of that branch and
      // computed once, not once per probed key.
      .withColumn("stop_sykv",
        when(afmStop.cond, kvSlots(col("text"), cef = false, StopSlots).getField("kv")))
  }

  private def afmStop: Branch = branches.find(b => b.family == Stop && b.module.contains(Afm)).get

  /** The stateless single-pass parse+explode over (health-filtered)
    * transcripts. `families` prunes the branch array to the requested
    * record families (default: everything incl. the internal `_stop`
    * pseudo-records) — a single-family consumer renders one family's
    * structs per row instead of all eleven. Shared by the batch path
    * (records), the routed write (Router) and Structured Streaming
    * (StreamingPipeline), which resolve the lifecycle differently.
    */
  def explodedAll(t: DataFrame, offsets: DataFrame,
                  families: Set[String] = AllFamilies): DataFrame = {
    val recs = array(branches.collect { case b if families(b.family) => when(b.cond, b.render) }: _*)
    parsedBase(t, offsets)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"), col("ts"),
        col("facility"), col("severity"),
        explode(filter(recs, b => b.isNotNull)).as("rec"))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"), col("ts"),
        col("facility"), col("severity"), col("rec.*"))
  }

  /** W3 lifecycle facts from a DEDICATED narrow scan: one row per start or
    * stop event carrying only (attack_id, is_atk, ts, device_utc_time).
    * This is the cheap side of the lifecycle resolution — it re-scans the
    * source but renders NO record structs (the KV scan plus three probed
    * keys), so the full-width parse subtree runs once, not twice, per
    * records() consumer. Start facts carry no timestamp (only the stop
    * side's max matters); zero attack_ids never produce a fact (the
    * hits==1 guard's `!= 0` precondition, bbn_syslog.rb:283-307).
    */
  def lifeFacts(t: DataFrame, offsets: DataFrame): DataFrame = {
    val bearing = branches.filter(_.fact.isDefined)
    val facts = array(bearing.map { b =>
      val f = b.fact.get
      when(b.cond, when(hasId(f.aid),
        struct(f.aid.cast("long").as("attack_id"), lit(b.family == Attacks).as("is_atk"),
          f.utc.as("device_utc_time"))))
    }: _*)
    // The needles are the phrases of the fact arms' own table branches, and
    // each arm fires only when its KV-scanned value (evt/astat) equals one
    // of them. Such a phrase appears VERBATIM in the quote-stripped text:
    // both KV scans only extract substrings of what they scan (the syslog
    // scan reads the quote-stripped msg, the CEF scan the raw text), and
    // deleting quotes keeps every quote-free substring of the raw text
    // contiguous. Matching the raw text instead would miss a syslog value
    // with a quote inside it (`Attack" Started` parses to Attack Started).
    // `contains` is therefore a sound SUPERSET prefilter: it can keep extra
    // rows (harmless — their branch conditions still fail) but can never
    // drop a fact row. It turns the second full-corpus KV parse into a
    // cheap substring scan plus a KV parse of only the start/stop rows
    // (guide §2.3: cut the expensive work before it runs, not after).
    val stripped = stripQuotes(col("text"))
    val pre = t.filter(bearing.flatMap(_.phrases).distinct.map(stripped.contains(_)).reduce(_ || _))
    parsedBase(pre, offsets)
      .select(col("ts"), explode(filter(facts, b => b.isNotNull)).as("f"))
      .select(col("f.attack_id"), col("f.is_atk"), col("ts"), col("f.device_utc_time"))
  }

  /** Same facts, extracted from exploded rows that still carry their
    * `_stop` rows — Router/Lineage's staged read-back (a column-pruned
    * columnar read instead of a re-parse) or a streamed micro-batch.
    */
  def lifeFactsFromStaged(back: DataFrame): DataFrame =
    back.filter(col("record_type").isin(Attacks, Stop) && col("attack_id") =!= 0L)
      .select(col("attack_id"), (col("record_type") === Attacks).as("is_atk"),
        col("ts"), col("device_utc_time"))

  /** Per-attack lifecycle aggregate over the narrow facts: start count (the
    * hits==1 guard) and last stop time in stream order (max_by ts — the
    * last synchronous ES re-update wins in the reference).
    */
  def lifeAggOf(facts: DataFrame): DataFrame =
    facts.groupBy("attack_id")
      .agg(
        sum(when(col("is_atk"), 1).otherwise(0)).as("_n_starts"),
        max(when(!col("is_atk"), struct(col("ts"), col("device_utc_time"))))
          .getField("device_utc_time").as("_stop_utc"))

  /** The W3 lifecycle join, the one place a stop closes its attack: an
    * attacks row closes iff exactly ONE attacks row carries its attack_id
    * and a stop for that id exists (hits.total==1, bbn_syslog.rb:283-307).
    * Rows of other families that share the id are left alone (the
    * `record_type` guard), so attacks-only callers (Router, Lineage,
    * streaming) keep or restore `record_type` and drop it afterwards.
    *
    * The aggregate is per-EPISODE (one row per attack_id), orders of
    * magnitude smaller than the per-turn records, so it is always
    * broadcast: the wide records side (~57 columns) never shuffles, where
    * the statically planned SortMergeJoin exchanged and sorted it (guide
    * §3.1). Broadcast size grows with distinct episodes, not corpus bytes.
    */
  def applyLifecycle(records: DataFrame, lifeAgg: DataFrame): DataFrame = {
    val closed = col("record_type") === Attacks &&
      col("_n_starts") === 1 && col("_stop_utc").isNotNull
    records
      .join(broadcast(lifeAgg), Seq("attack_id"), "left")
      .withColumn("attack_ongoing", when(closed, 0).otherwise(col("attack_ongoing")))
      .withColumn("attack_end_date",
        when(closed, col("_stop_utc")).otherwise(col("attack_end_date")))
      .drop("_n_starts", "_stop_utc")
  }

  /** The lifecycle MERGE: the attacks rows of `staged`, closed by its own
    * facts, without `record_type`. Router.commit runs it over the staged
    * read-back, the streamed resolve (StreamingPipeline.resolveFrame) over
    * every micro-batch's attacks and `_stop` directories.
    */
  def lifecycleMerge(staged: DataFrame): DataFrame =
    applyLifecycle(staged.filter(col("record_type") === Attacks),
      lifeAggOf(lifeFactsFromStaged(staged))).drop("record_type")

  // ---------------------------------------------------------------------
  // Entry points
  // ---------------------------------------------------------------------

  /** Post-health transcripts (the pipeline's working set). Every entry
    * point takes the `store` seam (TranscriptTable) so an Iceberg-backed
    * table is a parameter on the QUERY surface too, not only on the routed
    * path (Router/Lineage) — VERDICT r4 item 4.
    */
  def transcriptsClean(spark: SparkSession, dir: String, rep: Int = 1,
                       store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): DataFrame = {
    configure(spark)
    healthFilter(store.table(spark, dir, rep), Transcripts.healthStrings(spark))
  }

  /** Correlated attacks via the family-pruned records() path: one scan of
    * transcripts renders ONLY the four attack branches (F5Parse structs for
    * stats/traffic are never built), the narrow lifeFacts scan resolves W3,
    * and this projects the attacks family's exact column set back out,
    * pinned by the q05/q11 oracle.
    */
  def attacksCorrelated(spark: SparkSession, dir: String, rep: Int = 1,
                        store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): DataFrame =
    familyRecords(spark, dir, rep, Attacks, store)

  /** Stats / traffic families off the family-pruned explode in ONE pass:
    * these families never receive the W3 lifecycle rewrite, so they skip
    * both the lifecycle join and every other family's branch structs.
    * Pinned by the q06/q07 oracles.
    */
  def statsRecords(spark: SparkSession, dir: String, rep: Int = 1,
                   store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): DataFrame =
    familyRecords(spark, dir, rep, Stats, store)

  def trafficRecords(spark: SparkSession, dir: String, rep: Int = 1,
                     store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): DataFrame =
    familyRecords(spark, dir, rep, Traffic, store)

  /** One family's records in its output column order: the render order of
    * the family's first table branch (q05/q06/q07 schemas).
    */
  private def familyRecords(spark: SparkSession, dir: String, rep: Int, family: String,
                            store: graft.sources.TranscriptTable): DataFrame = {
    val names = branches.find(_.family == family).get.cols.map(_._1)
    records(spark, dir, rep, families = Set(family), store = store)
      .select((Seq("conv_id", "turn_idx", "ts") ++ names ++ Seq("facility", "severity")).map(col): _*)
  }

  /** Downstream rollup (attacks x their mitigation-stat samples) in ONE
    * scan: both families come out of a single family-pruned explode, the
    * per-attack stat aggregates are window functions over attack_id on a
    * six-column projection (the wide payload never shuffles), and the
    * attacks rows filter back out carrying their aggregates — exactly the
    * left-join result of the old two-scan shape without the second parse.
    * The skew ceiling is the largest single attack episode (samples per
    * attack_id), which is bounded by the device's sampling cadence.
    */
  def attackRollup(spark: SparkSession, dir: String, rep: Int = 1,
                   store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): DataFrame = {
    val t = transcriptsClean(spark, dir, rep, store)
    val ex = explodedAll(t, Transcripts.utcOffsets(spark), Set(Attacks, Stats))
    val isAtk = col("record_type") === Attacks
    val w = Window.partitionBy("attack_id")
    ex.filter(col("attack_id") =!= 0L)
      .select(col("attack_id"), isAtk.as("is_atk"),
        col("attack_name"), col("attack_category"),
        col("attack_drop_rate"), col("attack_detection_rate"))
      .withColumn("n_samples", sum(when(!col("is_atk"), lit(1L))).over(w))
      .withColumn("total_drop",
        sum(when(!col("is_atk"), col("attack_drop_rate").cast("long"))).over(w))
      .withColumn("peak_detection",
        max(when(!col("is_atk"), col("attack_detection_rate"))).over(w))
      .filter(col("is_atk"))
      .select("attack_id", "attack_name", "attack_category",
        "n_samples", "total_drop", "peak_detection")
  }

  /** S7 reject side-output: turns that parse to nothing and are not
    * intentional zero-emitters (stops, CEF syncookie) — the auditable
    * replacement for the reference's file-logger diagnostics
    * (bbn_common.rb:18-49, bbn_syslog.rb:413-417, bbn_cef.rb:42-62).
    * Pure map-side classification; no join against the routed output.
    *
    * Deliberately its OWN scan rather than a branch of parsedBase: the
    * classifier needs only the format probe + one KV pass (a fraction of
    * the full parse), runs on a different cadence than routing (audit
    * jobs), and sharing parsedBase would widen every records() plan with
    * reject columns it always prunes. At 100 TB the right fusion is
    * operational, not planned: route once (Router stages everything) and
    * point this classifier at the same staged scan.
    */
  def rejects(spark: SparkSession, dir: String, rep: Int = 1,
              store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): DataFrame = {
    val t = transcriptsClean(spark, dir, rep, store)
    // What the table parses: the syslog event phrases, the traffic stat
    // types and the CEF modules (sorted, so each IN list has one order).
    val syslog = branches.filter(_.module.isEmpty)
    val events = syslog.filter(_.family != Traffic).flatMap(_.phrases).distinct.sorted
    val statTypes = syslog.filter(_.family == Traffic).flatMap(_.phrases)
    val modules = branches.flatMap(_.module).distinct.sorted
    val fmt = col("fmt")
    val spl = col("spl")
    val evt = kvv("dos_attack_event")
    val msgName = kvv("errdefs_msg_name")
    val statType = kvv("traffic_stat_type")
    val reason = when(fmt === "Unknown", "unknown_format")
      .when(fmt === "CEF" && size(spl) =!= 8, "cef_bad_arity")
      .when(fmt === "CEF" && element_at(spl, 3) === Asm &&
        element_at(spl, 5) =!= AsmAttackType, "cef_unsupported_attack_type")
      .when(fmt === "CEF" && !element_at(spl, 3).isin(modules: _*), "cef_unknown_module")
      .when(fmt === "Syslog" && evt.isNotNull && !evt.isin(events: _*), "unknown_dos_event")
      // a missing (or empty, which the KV scan drops) stat type is unknown
      // too: `!isin(null)` is null, which no arm would match
      .when(fmt === "Syslog" && evt.isNull && msgName === TrafficStatistics &&
        (statType.isNull || !statType.isin(statTypes: _*)), "unknown_traffic_stat_type")
      .when(fmt === "Syslog" && evt.isNull &&
        (msgName.isNull || msgName =!= TrafficStatistics), "unknown_syslog_message")
    // The split and the typed scan are named columns under the CASE, each
    // guarded to the format whose arms read it. The CASE is generated as a
    // one-element explode, not projected: the optimizer pushes a Filter
    // through a Project by substituting its aliases, which would put the
    // split and the scan back into the pushed-down condition once per arm
    // that reads them. A filter on a generated column stays above it.
    t.withColumn("fmt", remoteLogFormat(col("text")))
      .withColumns(Map(
        "spl" -> when(fmt === "CEF", split(col("text"), "\\|")),
        "kv" -> when(fmt === "Syslog",
          kvSlots(stripQuotes(col("text")), cef = false, Slots).getField("kv"))))
      .select(col("conv_id"), col("turn_idx"), explode(array(reason)).as("reject_reason"))
      .filter(col("reject_reason").isNotNull)
  }
}
