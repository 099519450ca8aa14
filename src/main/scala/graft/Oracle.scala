package graft

import graft.sources.Payloads

/** DuckDB oracle SQL for every SparkEntry query (driver Verify contract).
  *
  * Strategy: the transcripts table is synthesized from events.parquet by
  * pure arithmetic (graft.sources.Transcripts), so the oracle mirrors the
  * derivation in a CTE (`d`, column names identical to Transcripts.derived)
  * and renders `text` from the SAME fragment specs (Payloads.textSql).
  * Expected parse output is then recomputed directly from the derived
  * columns — the oracle never parses text, making it an independent check
  * of the Spark-side regex/normalize pipeline.
  */
object Oracle {

  /** Mirrors Transcripts.derived(rep=1) over the driver-registered `events`
    * table, DuckDB dialect.
    */
  val derivedCte: String = """
d AS (
  SELECT
    event_id AS n,
    event_id // 20 AS k,
    CAST(event_id % 20 AS INT) AS s,
    CASE WHEN event_id % 7 = 0 THEN '172.16.21.40' ELSE '172.16.21.41' END AS host,
    CAST(CASE WHEN event_id % 7 = 0 THEN 2 ELSE 0 END AS INT) AS offh,
    'bigip' || CAST(event_id % 3 + 1 AS VARCHAR) || '.lab' AS hostname,
    strftime(ts, '%Y-%m-%d %H:%M:%S') AS dt,
    date_trunc('second', ts) AS tsec,
    ts AS ts2,
    CAST(event_id % 8 AS INT) AS sev,
    CASE WHEN (event_id // 20) % 2 = 0 THEN 'Drop' ELSE 'Allow' END AS act,
    (['Flood attack','Sweep attack','Bad TCP flags','UDP fragment flood'])[CAST((event_id // 20) % 4 AS INT) + 1] AS aname,
    '/Common/vs' || CAST(event_id % 4 AS VARCHAR) AS vs,
    CAST(event_id % 5000 + 100 AS INT) AS recv,
    CAST(event_id % 100 AS INT) AS drops,
    CASE WHEN event_id % 11 = 0 THEN '0000000000000000'
         ELSE '000000000000' || lpad(CAST(event_id % 9999 + 1 AS VARCHAR), 4, '0') END AS flow,
    '10.0.' || CAST(event_id % 250 AS VARCHAR) || '.' || CAST(event_id % 97 AS VARCHAR) AS sip,
    CAST(event_id % 40000 + 1024 AS INT) AS spt,
    CAST(CASE WHEN (event_id // 20) % 2 = 0 THEN 80 ELSE 53 END AS INT) AS dpt,
    '/Common/vlan' || CAST(event_id % 30 AS VARCHAR) AS vlan,
    CAST(event_id % 100000 AS INT) AS cnt,
    CAST(event_id % 1000 AS INT) AS ci,
    CAST(event_id % 900 AS INT) AS cp,
    CAST(event_id % 800 AS INT) AS ca,
    CAST(event_id % 50 AS INT) AS cr,
    'q' || CAST(event_id % 50 AS VARCHAR) || '.example.com' AS qn,
    CASE WHEN (event_id // 20) % 2 = 0 THEN 'DNS Event' ELSE 'Network DoS Event' END AS cat1,
    CASE WHEN (event_id // 20) % 2 = 0 THEN 'TPS Increased' ELSE 'Latency Increased' END AS detmode,
    1000 + (event_id // 20) * 10 AS base,
    CASE WHEN event_id % 20 = 3 AND (event_id // 20) % 13 = 0 THEN 999999999
         ELSE 1000 + (event_id // 20) * 10 END AS aid_sy,
    CASE WHEN event_id % 20 = 10 AND (event_id // 20) % 17 = 0 THEN 1000 + (event_id // 20) * 10
         ELSE 1001 + (event_id // 20) * 10 END AS aid_afm,
    1001 + (event_id // 20) * 10 AS aid_afm1,
    1002 + (event_id // 20) * 10 AS aid_asm,
    1004 + (event_id // 20) * 10 AS aid_syn,
    CASE WHEN event_id % 10 < 3 THEN 'conv-hot-' || CAST(event_id % 10 AS VARCHAR)
         ELSE 'conv-' || lpad(CAST(event_id % 97 AS VARCHAR), 4, '0') END AS conv_id,
    CAST(CASE WHEN event_id % 10 < 3 THEN event_id // 10 ELSE event_id // 97 END AS INT) AS turn_idx,
    (['user','assistant','tool','system'])[CAST(event_id % 4 AS INT) + 1] AS role,
    (['afm','asm','dns_guard','syn_guard','none'])[CAST(event_id % 5 AS INT) + 1] AS tool
  FROM events
)"""

  /** Derived + rendered text + the to_utc result string. */
  def tCte: String = derivedCte + s""",
t AS (
  SELECT d.*,
    ${Payloads.textSql} AS text,
    strftime(tsec - to_hours(offh), '%Y-%m-%dT%H:%M:%S') AS utcs
  FROM d
)"""

  /** Mitigation-method D1 table in SQL (nulls coalesced to '' like the
    * Ruby nil comparisons).
    */
  private def d1(hasCtx: String, act: String, cat: String, name: String): String = s"""
    CASE WHEN $hasCtx THEN 'Virtual Server Rate Limiting'
         WHEN $act = 'Drop'  AND coalesce($cat,'') <> 'DNS Event' AND coalesce($name,'') NOT IN ('Flood attack','Sweep attack') THEN 'Device-Wide Rate Limiting'
         WHEN $act = 'Allow' AND coalesce($cat,'') <> 'DNS Event' AND coalesce($name,'') NOT IN ('Flood attack','Sweep attack') THEN 'Device-Wide Detection'
         WHEN $act = 'Drop'  AND coalesce($name,'') = 'Flood attack' THEN 'Source-IP Rate Limiting'
         WHEN $act = 'Allow' AND coalesce($name,'') = 'Flood attack' THEN 'Source-IP Detection'
         WHEN $act = 'Drop'  AND coalesce($name,'') = 'Sweep attack' THEN 'Source-IP Rate Limiting'
         WHEN $act = 'Allow' AND coalesce($name,'') = 'Sweep attack' THEN 'Source-IP Detection'
         ELSE '' END"""

  /** The attacks family (pre-correlation) as per-slot UNION ALL. */
  val attacksCte: String = s"""
atk AS (
  SELECT conv_id, turn_idx, ts2 AS ts, CAST(0 AS INT) AS customer_id,
    'F5' AS device_vendor, 'Advanced Firewall Module' AS device_module,
    '11.6.0' AS device_version, hostname AS device_hostname, host AS device_ip,
    utcs AS device_utc_time, offh AS device_utc_offset,
    CAST(NULL AS VARCHAR) AS policy_name, vs AS virtual_context,
    '0' AS virtual_routing_table, 'Common' AS administration_partition,
    CASE WHEN flow = '0000000000000000' THEN '' ELSE flow END AS flow_table_id,
    CAST(0 AS INT) AS attack_mlp, aname AS attack_name,
    CAST(base AS BIGINT) AS attack_id, CAST(1 AS INT) AS attack_type,
    'Attack Started' AS attack_status, sev AS attack_severity,
    'Network DoS Event' AS attack_category, CAST(NULL AS INT) AS attack_event_counter,
    CAST(1 AS INT) AS attack_ongoing, CAST(NULL AS VARCHAR) AS attack_mitigation_method,
    CAST(NULL AS VARCHAR) AS attack_mitigation_action,
    utcs AS attack_start_date, CAST(NULL AS VARCHAR) AS attack_end_date,
    '' AS unknown_key_value_pair, 'attacks' AS record_type,
    'Syslog' AS remote_log_format, text AS remote_log_payload,
    CAST(16 AS INT) AS facility, CAST(6 AS INT) AS severity
  FROM t WHERE s = 0
  UNION ALL
  SELECT conv_id, turn_idx, ts2, CAST(0 AS INT),
    'F5', 'Advanced Firewall Module', '11.6.0', hostname, host,
    utcs, offh, '', vs, '0', 'Common',
    flow,
    CAST(0 AS INT), 'TCP SYN flood', CAST(0 AS BIGINT), CAST(1 AS INT),
    act, sev, 'Network DoS Event', CAST(0 AS INT),
    CAST(0 AS INT), 'Per Virtual Server SYN Cookie', 'Cryptographic SYN Cookie',
    utcs, utcs, '', 'attacks', 'Syslog', text,
    CAST(16 AS INT), CAST(6 AS INT)
  FROM t WHERE s = 4
  UNION ALL
  SELECT conv_id, turn_idx, ts2, CAST(0 AS INT),
    'F5', 'Advanced Firewall Module', '11.6.0', hostname, host,
    utcs, offh, CAST(NULL AS VARCHAR), vs, '0', 'Common',
    CASE WHEN flow = '0000000000000000' THEN '' ELSE flow END,
    CAST(0 AS INT), aname, CAST(aid_afm AS BIGINT), CAST(1 AS INT),
    'Attack Started', CAST(0 AS INT), 'Network DoS Event', CAST(NULL AS INT),
    CAST(1 AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    utcs, CAST(NULL AS VARCHAR), '', 'attacks', 'CEF', text,
    CAST(NULL AS INT), CAST(NULL AS INT)
  FROM t WHERE s = 10
  UNION ALL
  SELECT conv_id, turn_idx, ts2, CAST(0 AS INT),
    'F5', 'ASM', '11.6.0', hostname, host,
    utcs, offh, CAST(NULL AS VARCHAR), vs, '', 'Common',
    '',
    CAST(0 AS INT),
    CASE WHEN detmode = 'TPS Increased' THEN 'HTTP Flood' ELSE 'HTTP Server Response Latency' END,
    CAST(aid_asm AS BIGINT), CAST(1 AS INT),
    'Attack started', sev, 'Application DoS Event', CAST(NULL AS INT),
    CAST(1 AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    utcs, CAST(NULL AS VARCHAR), '', 'attacks', 'CEF', text,
    CAST(NULL AS INT), CAST(NULL AS INT)
  FROM t WHERE s = 14
),
stp AS (
  SELECT CAST(aid_sy AS BIGINT) AS attack_id, utcs AS stop_utc, ts2 FROM t WHERE s = 3
  UNION ALL SELECT CAST(aid_afm1 AS BIGINT), utcs, ts2 FROM t WHERE s = 13
  UNION ALL SELECT CAST(aid_asm AS BIGINT), utcs, ts2 FROM t WHERE s = 17
),
idcnt AS (SELECT attack_id, count(*) AS n_same FROM atk GROUP BY 1),
laststop AS (SELECT attack_id, arg_max(stop_utc, ts2) AS stop_utc FROM stp GROUP BY 1),
atkc AS (
  SELECT atk.* REPLACE (
    CASE WHEN idcnt.n_same = 1 AND laststop.stop_utc IS NOT NULL THEN CAST(0 AS INT) ELSE attack_ongoing END AS attack_ongoing,
    CASE WHEN idcnt.n_same = 1 AND laststop.stop_utc IS NOT NULL THEN laststop.stop_utc ELSE attack_end_date END AS attack_end_date)
  FROM atk
  LEFT JOIN idcnt USING (attack_id)
  LEFT JOIN laststop USING (attack_id)
)"""

  /** attack_mitigation_stats family as per-slot UNION ALL. */
  val statsCte: String = s"""
sts AS (
  -- s=1: syslog Attack Sampled with context (+DNS keys)
  SELECT conv_id, turn_idx, ts2 AS ts, CAST(0 AS INT) AS customer_id,
    utcs AS device_utc_time, offh AS device_utc_offset,
    CAST(base AS BIGINT) AS attack_id, CAST(1 AS INT) AS attack_type,
    CAST(NULL AS INT) AS attack_severity, 'Attack Sampled' AS attack_status,
    recv AS attack_detection_rate,
    CASE WHEN cat1 = 'DNS Event' THEN 'QPS' ELSE 'PPS' END AS attack_detection_matrix,
    CAST(NULL AS VARCHAR) AS attack_detection_method,
    drops AS attack_drop_rate,
    CASE WHEN cat1 = 'DNS Event' THEN 'QPS' ELSE 'PPS' END AS attack_drop_matrix,
    'Virtual Server Rate Limiting' AS attack_mitigation_method,
    act AS attack_mitigation_action, '' AS attack_request_resource,
    qn AS attack_dns_query_name, 'A' AS attack_dns_query_type,
    sip AS attack_source_ip, CAST(spt AS VARCHAR) AS attack_source_port,
    '' AS attack_source_vlan, '10.0.0.254' AS attack_destination_ip,
    CAST(dpt AS VARCHAR) AS attack_destination_port, vlan AS attack_destination_vlan,
    CAST(NULL AS VARCHAR) AS attack_start_date,
    'attack_mitigation_stats' AS record_type, 'Syslog' AS remote_log_format,
    text AS remote_log_payload, CAST(16 AS INT) AS facility, CAST(6 AS INT) AS severity
  FROM t WHERE s = 1
  UNION ALL
  -- s=2: syslog Attack Sampled without context
  SELECT conv_id, turn_idx, ts2, CAST(0 AS INT), utcs, offh,
    CAST(base AS BIGINT), CAST(1 AS INT), CAST(NULL AS INT), 'Attack Sampled',
    recv, 'PPS', CAST(NULL AS VARCHAR), drops, 'PPS',
    ${d1("FALSE", "act", "'Network DoS Event'", "NULL")},
    act, '', '', '', sip, CAST(spt AS VARCHAR), '',
    '10.0.0.254', CAST(dpt AS VARCHAR), vlan, CAST(NULL AS VARCHAR),
    'attack_mitigation_stats', 'Syslog', text, CAST(16 AS INT), CAST(6 AS INT)
  FROM t WHERE s = 2
  UNION ALL
  -- s=11: CEF/AFM Attack Sampled (virtual context on even episodes)
  SELECT conv_id, turn_idx, ts2, CAST(0 AS INT), utcs, offh,
    CAST(aid_afm1 AS BIGINT), CAST(1 AS INT), CAST(0 AS INT), 'Attack Sampled',
    recv, 'PPS', CAST(NULL AS VARCHAR), drops, 'PPS',
    ${d1("k % 2 = 0", "act", "'Network DoS Event'", "aname")},
    act, '', '', '', sip, CAST(spt AS VARCHAR), '',
    '10.0.0.254', CAST(dpt AS VARCHAR), vlan, CAST(NULL AS VARCHAR),
    'attack_mitigation_stats', 'CEF', text, CAST(NULL AS INT), CAST(NULL AS INT)
  FROM t WHERE s = 11
  UNION ALL
  -- s=12 odd episodes: CEF/AFM DNS-recategorized sample (even: syncookie, zero-emission)
  SELECT conv_id, turn_idx, ts2, CAST(0 AS INT), utcs, offh,
    CAST(aid_afm1 AS BIGINT), CAST(1 AS INT), CAST(0 AS INT), 'Attack Sampled',
    recv, 'QPS', CAST(NULL AS VARCHAR), drops, 'QPS',
    'Virtual Server Rate Limiting',
    act, '', qn, 'A', sip, CAST(spt AS VARCHAR), '',
    '10.0.0.254', CAST(dpt AS VARCHAR), '', CAST(NULL AS VARCHAR),
    'attack_mitigation_stats', 'CEF', text, CAST(NULL AS INT), CAST(NULL AS INT)
  FROM t WHERE s = 12 AND k % 2 <> 0
  UNION ALL
  -- s=14: ASM Attack started's piggy-backed Mitigation stats row
  SELECT conv_id, turn_idx, ts2, CAST(0 AS INT), utcs, offh,
    CAST(aid_asm AS BIGINT), CAST(1 AS INT), CAST(0 AS INT), 'Mitigation stats',
    recv, 'TPS', detmode, drops, 'TPS',
    'Source IP-Based Rate Limiting',
    act, '/index.php', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    sip, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    CAST(NULL AS VARCHAR),
    'attack_mitigation_stats', 'CEF', text, CAST(NULL AS INT), CAST(NULL AS INT)
  FROM t WHERE s = 14
  UNION ALL
  -- s=15/16: ASM Mitigation stats / Mitigation changed
  SELECT conv_id, turn_idx, ts2, CAST(0 AS INT), utcs, offh,
    CAST(aid_asm AS BIGINT), CAST(1 AS INT), sev,
    CASE WHEN s = 15 THEN 'Mitigation stats' ELSE 'Mitigation changed' END,
    recv, 'TPS', detmode, drops, 'TPS',
    'Source IP-Based Rate Limiting',
    act, '/index.php', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    sip, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    utcs,
    'attack_mitigation_stats', 'CEF', text, CAST(NULL AS INT), CAST(NULL AS INT)
  FROM t WHERE s IN (15, 16)
)"""

  /** traffic_stats family. */
  val trafficCte: String = """
tfc AS (
  SELECT conv_id, turn_idx, ts2 AS ts,
    utcs AS device_utc_time, offh AS device_utc_offset,
    'F5' AS device_vendor, 'Advanced Firewall Module' AS device_module,
    '11.6.0' AS device_version, hostname AS device_hostname, host AS device_ip,
    vs AS virtual_context, 'Common' AS administration_partition,
    CASE s WHEN 5 THEN 'Cryptographic SYN Cookie' WHEN 6 THEN 'Reaped Flow'
           WHEN 7 THEN 'Active Flow' ELSE 'Missed Flow' END AS traffic_stat_type,
    CASE WHEN s = 5 THEN CAST(NULL AS INT) ELSE cnt END AS traffic_stat_counter,
    CASE WHEN s = 5 THEN ci ELSE CAST(NULL AS INT) END AS cookie_challenge_issued,
    CASE WHEN s = 5 THEN cp ELSE CAST(NULL AS INT) END AS cookie_challenge_passed,
    CASE WHEN s = 5 THEN ca ELSE CAST(NULL AS INT) END AS cookie_flow_accepted,
    CASE WHEN s = 5 THEN cr ELSE CAST(NULL AS INT) END AS cookie_flow_rejected,
    'traffic_stats' AS record_type, 'Syslog' AS remote_log_format,
    text AS remote_log_payload, CAST(16 AS INT) AS facility, CAST(6 AS INT) AS severity
  FROM t WHERE s IN (5, 6, 7, 8)
)"""

  // ---------------------------------------------------------------------
  // Query SQL, keyed like SparkEntry.queries
  // ---------------------------------------------------------------------

  lazy val sql: Map[String, String] = Map(
    "q01_transcripts" -> s"""WITH $tCte
SELECT conv_id, turn_idx, role, text, tool, ts2 AS ts FROM t
ORDER BY conv_id, turn_idx""",

    "q02_format_counts" -> s"""WITH $tCte
SELECT CASE WHEN s <= 9 THEN 'Syslog'
            WHEN s BETWEEN 10 AND 17 THEN 'CEF'
            WHEN s = 19 AND k % 3 = 0 THEN 'Unknown'
            ELSE 'CEF' END AS remote_log_format,
       count(*) AS n_turns
FROM t WHERE s <> 18
GROUP BY 1 ORDER BY 1""",

    "q03_pri" -> s"""WITH $tCte
SELECT conv_id, turn_idx, CAST(16 AS INT) AS facility,
       CAST(CASE WHEN s <= 9 THEN 6 ELSE 5 END AS INT) AS severity
FROM t WHERE s <= 9 OR (s = 19 AND k % 3 = 0)
ORDER BY conv_id, turn_idx""",

    "q04_kv_probe" -> s"""WITH $tCte
SELECT conv_id, turn_idx,
  dt AS date_time,
  CASE WHEN s = 0 THEN 'Attack Started' WHEN s IN (1,2) THEN 'Attack Sampled'
       WHEN s = 3 THEN 'Attack Stopped' WHEN s = 4 THEN 'TCP Syncookie'
       WHEN s = 9 THEN 'Weird Event' END AS dos_attack_event,
  CASE WHEN s IN (0,4,9) THEN CAST(sev AS VARCHAR) END AS severity_kv,
  hostname AS hostname_kv
FROM t WHERE s <= 9
ORDER BY conv_id, turn_idx""",

    "q05_attacks" -> s"""WITH $tCte, $attacksCte
SELECT * FROM atkc ORDER BY conv_id, turn_idx""",

    "q06_stats" -> s"""WITH $tCte, $statsCte
SELECT * FROM sts ORDER BY conv_id, turn_idx""",

    "q07_traffic" -> s"""WITH $tCte, $trafficCte
SELECT * FROM tfc ORDER BY conv_id, turn_idx""",

    "q08_sink_counts" -> s"""WITH $tCte, $attacksCte, $statsCte, $trafficCte,
routed AS (
  SELECT record_type, remote_log_format, attack_severity FROM atkc
  UNION ALL SELECT record_type, remote_log_format, attack_severity FROM sts
  UNION ALL SELECT record_type, remote_log_format, CAST(NULL AS INT) FROM tfc
)
SELECT record_type, remote_log_format, attack_severity, count(*) AS n_rows
FROM routed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q09_agg_facility" -> s"""WITH $tCte
SELECT CAST(16 AS INT) AS facility,
       CAST(CASE WHEN s <= 9 THEN 6 ELSE 5 END AS INT) AS severity,
       count(*) AS n_turns, count(DISTINCT conv_id) AS n_convs
FROM t WHERE s <= 9 OR (s = 19 AND k % 3 = 0)
GROUP BY 1, 2 ORDER BY 1, 2""",

    "q10_enrich" -> s"""WITH $tCte
SELECT CASE role WHEN 'user' THEN 'human' WHEN 'assistant' THEN 'model' ELSE 'machine' END AS role_class,
       CASE tool WHEN 'afm' THEN 'firewall' WHEN 'asm' THEN 'appsec'
                 WHEN 'dns_guard' THEN 'dns' WHEN 'syn_guard' THEN 'tcp' ELSE 'none' END AS tool_family,
       count(*) AS n_turns, count(DISTINCT conv_id) AS n_convs
FROM t GROUP BY 1, 2 ORDER BY 1, 2""",

    "q11_lifecycle" -> s"""WITH $tCte, $attacksCte
SELECT attack_id, attack_status, attack_ongoing, attack_start_date, attack_end_date
FROM atkc WHERE attack_end_date IS NOT NULL
ORDER BY attack_id, conv_id, turn_idx""",

    "q12_rejects" -> s"""WITH $tCte
SELECT conv_id, turn_idx,
  CASE WHEN s = 9 THEN 'unknown_dos_event'
       WHEN s = 19 AND k % 3 = 0 THEN 'unknown_format'
       WHEN s = 19 AND k % 3 = 1 THEN 'cef_bad_arity'
       ELSE 'cef_unsupported_attack_type' END AS reject_reason
FROM t WHERE s = 9 OR s = 19
ORDER BY conv_id, turn_idx""",

    "q15_attack_rollup" -> s"""WITH $tCte, $statsCte,
atk2 AS (
  SELECT CAST(base AS BIGINT) AS attack_id, aname AS attack_name,
         'Network DoS Event' AS attack_category FROM t WHERE s = 0
  UNION ALL
  SELECT CAST(aid_afm AS BIGINT), aname, 'Network DoS Event' FROM t WHERE s = 10
  UNION ALL
  SELECT CAST(aid_asm AS BIGINT),
         CASE WHEN detmode = 'TPS Increased' THEN 'HTTP Flood' ELSE 'HTTP Server Response Latency' END,
         'Application DoS Event' FROM t WHERE s = 14),
ag AS (
  SELECT attack_id, count(*) AS n_samples,
         CAST(SUM(attack_drop_rate) AS BIGINT) AS total_drop,
         max(attack_detection_rate) AS peak_detection
  FROM sts WHERE attack_id <> 0 GROUP BY 1)
SELECT a.attack_id, a.attack_name, a.attack_category,
       ag.n_samples, ag.total_drop, ag.peak_detection
FROM atk2 a LEFT JOIN ag USING (attack_id)
ORDER BY attack_id, attack_name""",

    // SFT-sample assembly: ordered string_agg reproduces array_sort +
    // array_join byte-for-byte. length() (characters), not strlen()
    // (bytes), to match Spark's length() on non-ASCII text; the ORDER BY
    // carries role, text so tied turn_idx duplicates agree with the
    // engine's array_sort(struct(turn_idx, role, text)) tiebreak
    "q48_render_convs" -> s"""WITH $tCte
SELECT conv_id,
  CAST(count(*) AS INT) AS n_turns,
  CAST(coalesce(SUM(CASE WHEN role = 'assistant' THEN length(text) END), 0) AS BIGINT)
    AS n_assistant_chars,
  string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx, role, text) AS rendered
FROM t GROUP BY conv_id ORDER BY conv_id""",

    "q13_conv_stats" -> s"""WITH $tCte
SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn_idx,
       min(ts2) AS first_ts, max(ts2) AS last_ts
FROM t GROUP BY conv_id ORDER BY conv_id""",

    "q14_turn_deltas" -> s"""WITH $tCte
SELECT conv_id, turn_idx,
  epoch_us(ts2) - LAG(epoch_us(ts2)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS delta_us
FROM t ORDER BY conv_id, turn_idx""",

    // PII scrub: same two regexes (Java/RE2-common subset) run by DuckDB's
    // RE2 over the SAME rendered text — cross-engine regex agreement is the
    // check, 'g' for replace-all to match Spark's regexp_replace default
    "q36_ip_scrub" -> s"""WITH $tCte
SELECT conv_id, turn_idx,
  CAST(len(regexp_extract_all(text, '${graft.operators.TextOps.Ipv4Pattern}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(text, '${graft.operators.TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
  regexp_replace(regexp_replace(text, '${graft.operators.TextOps.Ipv4Pattern}', '<ip>', 'g'),
                 '${graft.operators.TextOps.EmailPattern}', '<email>', 'g') AS scrubbed_text
FROM t ORDER BY conv_id, turn_idx""",

    "q37_sessionize" -> s"""WITH $tCte,
flags AS (
  SELECT conv_id, turn_idx,
    CASE WHEN LAG(epoch_us(ts2)) OVER w IS NULL
           OR epoch_us(ts2) - LAG(epoch_us(ts2)) OVER w > 3600000000 THEN 1 ELSE 0 END AS is_new
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
sess AS (
  SELECT conv_id, turn_idx,
    CAST(SUM(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT) AS session_idx
  FROM flags)
SELECT conv_id, turn_idx, session_idx,
  conv_id || '#' || CAST(session_idx AS VARCHAR) AS session_id
FROM sess ORDER BY conv_id, turn_idx""",

    // turn-level exact dedup across conversations: keeper = lexicographic
    // min (conv_id, turn_idx) of each byte-identical text group (the
    // engine keys on md5; texts are the grouping either way)
    "q69_turn_dedup" -> s"""WITH $tCte
SELECT conv_id, turn_idx,
  FIRST_VALUE(conv_id) OVER w AS keeper_conv_id,
  FIRST_VALUE(turn_idx) OVER w AS keeper_turn_idx,
  COUNT(*) OVER (PARTITION BY text) AS n_copies,
  (COUNT(*) OVER (PARTITION BY text)) > 1 AS is_dup
FROM t
WINDOW w AS (PARTITION BY text ORDER BY conv_id, turn_idx)
ORDER BY conv_id, turn_idx""",

    // ingest dup-rate timeline: first occurrence by (ts, conv, turn) per
    // text group, per-hour dup fraction
    "q83_dup_timeline" -> s"""WITH $tCte,
dupt AS (SELECT conv_id, turn_idx, ts2 AS ts,
  row_number() OVER (PARTITION BY text ORDER BY ts2, conv_id, turn_idx) AS rn
  FROM t)
SELECT date_trunc('hour', ts) AS window_start,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS dup_rate
FROM dupt GROUP BY 1 ORDER BY 1""",

    // conversation schema validation: list_sort mirrors the engine's
    // array_sort(struct(turn_idx, role, text)) tiebreak
    "q76_conv_validate" -> s"""WITH $tCte,
a AS (SELECT conv_id,
  list_sort(list(struct_pack(turn_idx := turn_idx, role := role, text := text))) AS tt
  FROM t GROUP BY 1),
m AS (SELECT conv_id,
  CAST(len(tt) AS BIGINT) AS n_turns,
  CAST(len(list_distinct(list_transform(tt, x -> x.turn_idx))) AS BIGINT) AS nd,
  CAST(list_max(list_transform(tt, x -> x.turn_idx)) AS BIGINT) AS mx,
  CAST(list_min(list_transform(tt, x -> x.turn_idx)) AS BIGINT) AS mn,
  tt[1].role AS first_role,
  tt[len(tt)].role AS last_role,
  CASE WHEN len(tt) < 2 THEN CAST(0 AS BIGINT) ELSE
    CAST(len(list_filter(range(2, len(tt) + 1),
      i -> tt[i].role = tt[i-1].role)) AS BIGINT) END AS n_role_repeats,
  CAST(len(list_filter(tt, x -> length(x.text) = 0)) AS BIGINT) AS n_empty_turns
  FROM a)
SELECT conv_id, n_turns, n_turns - nd AS n_dup_turn_idx,
  mx - mn + 1 - nd AS n_gaps, first_role, last_role,
  n_role_repeats, n_empty_turns,
  (n_turns - nd = 0 AND mx - mn + 1 - nd = 0 AND n_role_repeats = 0
    AND n_empty_turns = 0 AND first_role = 'user') AS valid
FROM m ORDER BY conv_id""") ++ dataOpsSql

  // ---------------------------------------------------------------------
  // Training-data operators over documents/embeddings (SparkEntry q20+)
  // ---------------------------------------------------------------------

  /** Shared token-signature / shingle fragments (mirror TextOps/DedupOps). */
  private def sigsExpr: String = "list_transform(string_split(text, ' '), tk -> ascii(tk) * 131 + length(tk))"
  private def shinglesExpr: String = s"""
    CASE WHEN len($sigsExpr) < 3 THEN CAST([] AS BIGINT[])
         ELSE list_distinct(list_transform(range(1, len($sigsExpr) - 1),
           i -> ($sigsExpr[i] * 17161 + $sigsExpr[i+1] * 131 + $sigsExpr[i+2]) % 1000000007)) END"""

  /** Incremental-dedup verdict table (mirrors DedupOps.incrementalDedup):
    * shared by q65 (per-doc dump) and q70 (per-source rollup).
    */
  private def incrDedupCte: String = s"""
corp AS (SELECT min(doc_id) AS exact_keeper, text FROM documents
         WHERE doc_id % 10 <> 0 GROUP BY text),
delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
ex AS (SELECT d.doc_id, c.exact_keeper FROM delta d
       LEFT JOIN corp c ON d.text = c.text),
ibase AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
iidx AS (SELECT doc_id, unnest(sh) AS shingle FROM ibase),
isz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM iidx GROUP BY 1),
ipairs AS (
  SELECT d.doc_id AS doc_id, c.doc_id AS corpus_id, count(*) AS n_inter
  FROM iidx d JOIN iidx c ON d.shingle = c.shingle
  WHERE d.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
  GROUP BY 1, 2),
inear AS (
  SELECT p.doc_id, MIN(p.corpus_id) AS near_keeper FROM ipairs p
  JOIN isz sd ON sd.doc_id = p.doc_id
  JOIN isz sc ON sc.doc_id = p.corpus_id
  WHERE CAST(n_inter AS DOUBLE) / CAST(sd.n_sh + sc.n_sh - n_inter AS DOUBLE) >= 0.12
  GROUP BY 1),
incr AS (
  SELECT ex.doc_id, ex.exact_keeper, inear.near_keeper,
    (ex.exact_keeper IS NULL AND inear.near_keeper IS NULL) AS is_new
  FROM ex LEFT JOIN inear ON inear.doc_id = ex.doc_id)"""

  /** Positional (non-distinct) 3-gram codes + the winnowing selection
    * (window-of-4 minima) — mirror TextOps.gramCodes(_, 3)/DedupOps.winnowFingerprints.
    */
  private def kgramsExpr: String = s"""
    CASE WHEN len($sigsExpr) < 3 THEN CAST([] AS BIGINT[])
         ELSE list_transform(range(1, len($sigsExpr) - 1),
           i -> ($sigsExpr[i] * 17161 + $sigsExpr[i+1] * 131 + $sigsExpr[i+2]) % 1000000007) END"""
  private def winnowExpr: String = s"""
    CASE WHEN len(kg) = 0 THEN CAST([] AS BIGINT[])
         WHEN len(kg) < 4 THEN [list_min(kg)]
         ELSE list_distinct(list_transform(range(1, len(kg) - 2),
           j -> list_min(kg[j:j+3]))) END"""

  private def dotExpr: String =
    "list_reduce(list_transform(list_zip(%s, %s), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
  private def dot(a: String, b: String) = dotExpr.format(a, b)
  private def cos(a: String, b: String) =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  private def bucketExpr: String = (0 until 8)
    .map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
    .mkString("(", " + ", ")")

  /** Squared L2 to a frozen centroid, unrolled as the same left-assoc
    * double fold SimilarityOps.d2ToCentroid evaluates: `a + b + c` parses
    * left-associative in SQL, float->double casts are exact, and the
    * centroid literals are shortest-round-trip doubles that parse to the
    * identical IEEE-754 values — so cell assignment is bit-equal.
    */
  private def ivfD2(c: Array[Double]): String =
    c.zipWithIndex.map { case (cv, i) =>
      val t = s"(CAST(embedding[${i + 1}] AS DOUBLE) - ($cv))"
      s"$t * $t"
    }.mkString("(", " + ", ")")

  private def ivfDsExpr: String =
    graft.operators.IvfModel.centroids.map(ivfD2).mkString("[", ", ", "]")

  /** Squared L2 of the m-th embedding slice to one frozen PQ codeword,
    * unrolled as the same left-assoc fold SimilarityOps.pqSubDists
    * evaluates over the identical double literals.
    */
  private def pqD2(m: Int, cw: Array[Double]): String =
    cw.zipWithIndex.map { case (cv, i) =>
      val t = s"(CAST(embedding[${m * cw.length + i + 1}] AS DOUBLE) - ($cv))"
      s"$t * $t"
    }.mkString("(", " + ", ")")

  private def pqDsExpr(m: Int): String =
    graft.operators.PqModel.codebooks(m).map(pqD2(m, _)).mkString("[", ", ", "]")

  /** Shared by q54 (per-source window) and q58 (two-level chunked prefix
    * sum): the two engine plans must agree row-for-row with ONE truth.
    */
  private def mixBudgetSql: String = """
WITH s AS (
  SELECT doc_id, source,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    ((doc_id % 999983) * 2654435761) % 999983 AS mix_key
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY mix_key, doc_id) - n_tokens AS prev_cum
  FROM s),
b AS (
  SELECT 'src' || CAST(r AS VARCHAR) AS source,
         CAST(1000 + (r % 5) * 1000 AS BIGINT) AS token_budget
  FROM range(0, 20) t(r))
SELECT c.doc_id, c.source, c.n_tokens, CAST(c.prev_cum AS BIGINT) AS prefix_tokens
FROM c JOIN b USING (source)
WHERE c.prev_cum < b.token_budget
ORDER BY c.doc_id"""

  /** Temperature-scaled (alpha=0.5) mix: budgets derived from per-source
    * token totals via INTEGER square-root weights — floor(sqrt(bigint)) is
    * exact in both engines, and everything downstream (normalizer sum,
    * scaling, floor division) is pure integer arithmetic, so the budget
    * derivation is bit-equal without any float accumulation.
    */
  private def mixTemperatureSql: String = """
WITH s AS (
  SELECT doc_id, source,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    ((doc_id % 999983) * 2654435761) % 999983 AS mix_key
  FROM documents),
ps AS (SELECT source, SUM(n_tokens) AS src_tok FROM s GROUP BY 1),
wg AS (SELECT source, CAST(floor(sqrt(CAST(src_tok AS DOUBLE))) AS BIGINT) AS wgt FROM ps),
b AS (SELECT source, (20000 * wgt) // (SELECT SUM(wgt) FROM wg) AS token_budget FROM wg),
c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY mix_key, doc_id) - n_tokens AS prev_cum
  FROM s)
SELECT c.doc_id, c.source, c.n_tokens, CAST(c.prev_cum AS BIGINT) AS prefix_tokens,
  CAST(b.token_budget AS BIGINT) AS token_budget
FROM c JOIN b USING (source)
WHERE c.prev_cum < b.token_budget
ORDER BY c.doc_id"""

  lazy val dataOpsSql: Map[String, String] = {
    val minhashCols = graft.operators.DedupOps.minhashParams(16).zipWithIndex.map {
      case ((a, b), i) =>
        s"list_min(list_transform(sh, c -> (c * $a + $b) % 1000000007)) AS m$i"
    }.mkString(",\n    ")
    val bandRows = (0 until 4).map { bnd =>
      val parts = (0 until 4).map(j => s"CAST(m${bnd * 4 + j} AS VARCHAR)").mkString(" || ':' || ")
      s"SELECT doc_id, $bnd AS band, $parts AS bucket FROM sigs"
    }.mkString("\n  UNION ALL ")

    // shared LSH-candidate -> connected-component closure (q32, q50)
    val clusterCte = s"""base AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
sigs AS (SELECT doc_id,
    $minhashCols
  FROM base),
bands AS (
  $bandRows),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
cl AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id)"""

    // the embedding-space edition: edges = q29's bucketed cosine pairs
    val cosClusterCte = s"""b AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket FROM embeddings),
cand AS (
  SELECT x.vec_id AS a, y.vec_id AS b
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  WHERE ${cos("x.embedding", "y.embedding")} >= 0.25),
edges AS (
  SELECT a AS src, b AS dst FROM cand
  UNION ALL SELECT b, a FROM cand),
reach(vec_id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.vec_id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
cl AS (SELECT vec_id, MIN(r) AS cluster_id FROM reach GROUP BY vec_id)"""

    Map(
      "q20_dedup_exact" -> """
SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS keeper_doc_id,
       (COUNT(*) OVER (PARTITION BY text)) > 1 AS is_dup
FROM documents ORDER BY doc_id""",

      "q21_token_stats" -> """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_subtokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(list_filter(string_split(text, ' '), tk -> tk IN ('the','a','of','and'))) AS DOUBLE)
    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
  CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
    / CAST(length(text) AS DOUBLE) AS punct_ratio,
  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
FROM documents ORDER BY doc_id""",

      "q22_lang_guess" -> """
SELECT doc_id, lang,
  CASE WHEN len(list_filter(string_split(text, ' '), tk -> tk IN ('the','a'))) > 0
       THEN 'en' ELSE 'other' END AS lang_guess,
  CAST(len(list_filter(string_split(text, ' '), tk -> tk IN ('the','a'))) AS BIGINT) AS n_marker_tokens
FROM documents ORDER BY doc_id""",

      "q23_fingerprint" -> s"""
SELECT doc_id,
  list_reduce($sigsExpr, (acc, x) -> (acc * 1000003 + x) % 1000000007) AS fingerprint
FROM documents ORDER BY doc_id""",

      "q24_simhash" -> s"""
SELECT doc_id,
  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash16
FROM (
  SELECT doc_id, j, SUM((((sig * 2654435761) >> j) & 1) * 2 - 1) AS s
  FROM (SELECT doc_id, unnest($sigsExpr) AS sig FROM documents), range(0, 16) r(j)
  GROUP BY doc_id, j)
GROUP BY doc_id ORDER BY doc_id""",

      "q25_jaccard_pairs" -> s"""
WITH base AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM base),
idx AS (SELECT doc_id, unnest(sh) AS shingle FROM base),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
  CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM pairs
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.12
ORDER BY doc_a, doc_b""",

      // the CAPPED jaccardPairs configuration — the scale-default path the
      // 100 TB pipeline actually runs (stop-shingles with doc-frequency >
      // cap dropped before the self-join; sizes and intersections both
      // computed over the capped shingle space). Cap 10 < the max observed
      // doc-frequency at sf0.01 (29), so the cap ACTIVATES here and the
      // oracle checks the preconditioned semantics, not a no-op
      "q51_jaccard_capped" -> s"""
WITH base AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
idx0 AS (SELECT doc_id, unnest(sh) AS shingle FROM base),
hot AS (SELECT shingle FROM idx0 GROUP BY 1 HAVING count(*) > 10),
idx AS (SELECT doc_id, shingle FROM idx0
        WHERE shingle NOT IN (SELECT shingle FROM hot)),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM idx GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
  CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS jaccard
FROM pairs
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.12
ORDER BY doc_a, doc_b""",

      // incremental delta-vs-corpus dedup: delta docs (doc_id%10==0)
      // matched one-sidedly against the frozen corpus — exact by text
      // identity (the engine keys on md5; null-free corpus makes text
      // grouping equivalent), near by shingle jaccard >= 0.12
      "q65_incr_dedup" -> s"""
WITH $incrDedupCte
SELECT doc_id, exact_keeper, near_keeper, is_new FROM incr
ORDER BY doc_id""",

      // duplicated-SPAN extraction (Lee et al. ACL'22, n-gram relaxation of
      // the suffix-array substring dedup): positions whose 3-gram occurs in
      // >1 DISTINCT doc, merged into maximal islands, runs shorter than 15
      // tokens dropped (span length = last_pos - first_pos + 3)
      "q71_dup_spans" -> s"""
WITH base AS (SELECT doc_id, $kgramsExpr AS kg FROM documents),
pidx AS (SELECT doc_id,
  unnest(list_transform(range(1, len(kg) + 1), i -> {'pos': i, 'g': kg[i]})) AS pg
  FROM base),
idx AS (SELECT doc_id, CAST(pg.pos AS BIGINT) AS pos, pg.g AS g FROM pidx),
dupg AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM idx) GROUP BY g
         HAVING count(*) > 1),
dp AS (SELECT doc_id, pos FROM idx WHERE g IN (SELECT g FROM dupg)),
isl AS (SELECT doc_id, pos,
  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp)
SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end,
  CAST(count(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, grp
HAVING max(pos) + 2 - min(pos) + 1 >= 15
ORDER BY doc_id, span_start""",

      // span-removal materialization: rebuild every doc with its q71 spans
      // stripped (every flagged occurrence removed — boilerplate policy)
      "q72_strip_spans" -> s"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks, $kgramsExpr AS kg
  FROM documents),
pidx AS (SELECT doc_id,
  unnest(list_transform(range(1, len(kg) + 1), i -> {'pos': i, 'g': kg[i]})) AS pg
  FROM base),
idx AS (SELECT doc_id, CAST(pg.pos AS BIGINT) AS pos, pg.g AS g FROM pidx),
dupg AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM idx) GROUP BY g
         HAVING count(*) > 1),
dp AS (SELECT doc_id, pos FROM idx WHERE g IN (SELECT g FROM dupg)),
isl AS (SELECT doc_id, pos,
  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp),
spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end
  FROM isl GROUP BY doc_id, grp
  HAVING max(pos) + 2 - min(pos) + 1 >= 15),
cov AS (SELECT DISTINCT doc_id, pos FROM (
  SELECT doc_id, CAST(unnest(range(span_start, span_end + 1)) AS BIGINT) AS pos
  FROM spans)),
tp AS (SELECT doc_id,
  unnest(list_transform(range(1, len(toks) + 1), i -> {'pos': i, 't': toks[i]})) AS pt
  FROM base),
tok AS (SELECT doc_id, CAST(pt.pos AS BIGINT) AS pos, pt.t AS t FROM tp),
kept AS (SELECT tok.doc_id, tok.pos, tok.t FROM tok
  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
  WHERE cov.pos IS NULL),
agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS clean_text,
  CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id)
SELECT b.doc_id, COALESCE(a.clean_text, '') AS clean_text,
  CAST(len(b.toks) AS BIGINT) AS n_tokens,
  CAST(len(b.toks) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_removed
FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
ORDER BY b.doc_id""",

      // stupid-backoff trigram LM scoring: reference shard doc_id%5!=0
      // trains uni/bi/tri counts, the rest is scored; every tier is a
      // quotient of exact longs and the per-doc mean a position-ordered
      // fold (the q43 bit-stability rule)
      "q73_lm_score" -> s"""
WITH sg AS (SELECT doc_id, $sigsExpr AS sg FROM documents),
train AS (SELECT * FROM sg WHERE doc_id % 5 <> 0),
score AS (SELECT * FROM sg WHERE doc_id % 5 = 0),
tt AS (SELECT unnest(sg) AS w FROM train),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tt GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM tt),
bit AS (SELECT unnest(CASE WHEN len(sg) < 2 THEN [] ELSE
  list_transform(range(2, len(sg) + 1), i -> {'w1': sg[i-1], 'w0': sg[i]}) END) AS b
  FROM train),
bi AS (SELECT b.w1 AS w1, b.w0 AS w0, CAST(count(*) AS BIGINT) AS c2
  FROM bit GROUP BY 1, 2),
trit AS (SELECT unnest(CASE WHEN len(sg) < 3 THEN [] ELSE
  list_transform(range(3, len(sg) + 1),
    i -> {'w2': sg[i-2], 'w1': sg[i-1], 'w0': sg[i]}) END) AS t
  FROM train),
tri AS (SELECT t.w2 AS w2, t.w1 AS w1, t.w0 AS w0,
  CAST(count(*) AS BIGINT) AS c3 FROM trit GROUP BY 1, 2, 3),
pos AS (SELECT doc_id, unnest(CASE WHEN len(sg) < 3 THEN [] ELSE
  list_transform(range(3, len(sg) + 1),
    i -> {'pos': i, 'w2': sg[i-2], 'w1': sg[i-1], 'w0': sg[i]}) END) AS p
  FROM score),
px AS (SELECT doc_id, CAST(p.pos AS BIGINT) AS pos, p.w2, p.w1, p.w0 FROM pos),
sc AS (SELECT px.doc_id, px.pos,
  CASE WHEN t.c3 IS NOT NULL THEN CAST(t.c3 AS DOUBLE) / CAST(bc.c2 AS DOUBLE)
       WHEN b.c2 IS NOT NULL THEN 0.4 * CAST(b.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
       ELSE 0.4 * 0.4 * CAST(COALESCE(u0.c1, 0) AS DOUBLE) / CAST(stats.n_train AS DOUBLE)
  END AS s,
  CASE WHEN t.c3 IS NOT NULL THEN 'tri'
       WHEN b.c2 IS NOT NULL THEN 'bi' ELSE 'uni' END AS tier
  FROM px
  LEFT JOIN tri t ON t.w2 = px.w2 AND t.w1 = px.w1 AND t.w0 = px.w0
  LEFT JOIN bi bc ON bc.w1 = px.w2 AND bc.w0 = px.w1
  LEFT JOIN bi b ON b.w1 = px.w1 AND b.w0 = px.w0
  LEFT JOIN uni u1 ON u1.w = px.w1
  LEFT JOIN uni u0 ON u0.w = px.w0
  CROSS JOIN stats),
agg AS (SELECT doc_id,
  list_sort(list(struct_pack(pos := pos, s := s, tier := tier))) AS parts
  FROM sc GROUP BY 1)
SELECT doc_id, CAST(len(parts) AS BIGINT) AS n_scored,
  list_reduce(list_prepend(0.0, list_transform(parts, p -> p.s)), (x, y) -> x + y)
    / CAST(len(parts) AS DOUBLE) AS sb_mean,
  CAST(len(list_filter(parts, p -> p.tier = 'tri')) AS BIGINT) AS n_tri,
  CAST(len(list_filter(parts, p -> p.tier = 'bi')) AS BIGINT) AS n_bi,
  CAST(len(list_filter(parts, p -> p.tier = 'uni')) AS BIGINT) AS n_uni
FROM agg ORDER BY doc_id""",

      // count-min-sketch heavy-hitter audit: 4x64 affine-hash counter grid
      // vs the exact top-25 token counts; est = min over rows (CMS rule)
      "q74_cms_audit" -> """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
ts AS (SELECT token,
  CAST(ascii(token) * 131 + length(token) AS BIGINT) AS sig FROM tok),
cj AS (SELECT sig, CAST(j AS BIGINT) AS j FROM ts
  CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
cb AS (SELECT j,
  ((sig * (CASE j WHEN 0 THEN 131 WHEN 1 THEN 1031 WHEN 2 THEN 8191 ELSE 524287 END)
    + (CASE j WHEN 0 THEN 7 WHEN 1 THEN 101 WHEN 2 THEN 3571 ELSE 91193 END))
   % 1000000007) % 64 AS bucket FROM cj),
counters AS (SELECT j, bucket, CAST(count(*) AS BIGINT) AS c FROM cb GROUP BY 1, 2),
topk AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM ts GROUP BY token ORDER BY exact_cnt DESC, token LIMIT 25),
pj AS (SELECT token, exact_cnt,
  CAST(ascii(token) * 131 + length(token) AS BIGINT) AS sig, CAST(j AS BIGINT) AS j
  FROM topk CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
pb AS (SELECT token, exact_cnt, j,
  ((sig * (CASE j WHEN 0 THEN 131 WHEN 1 THEN 1031 WHEN 2 THEN 8191 ELSE 524287 END)
    + (CASE j WHEN 0 THEN 7 WHEN 1 THEN 101 WHEN 2 THEN 3571 ELSE 91193 END))
   % 1000000007) % 64 AS bucket FROM pj),
est AS (SELECT token, exact_cnt, min(c) AS cms_est
  FROM pb JOIN counters USING (j, bucket) GROUP BY 1, 2)
SELECT token, exact_cnt, cms_est, cms_est - exact_cnt AS overestimate
FROM est ORDER BY exact_cnt DESC, token""",

      // DSIR-shaped importance weighting: hashed-bigram count vectors for
      // the target (doc_id%50=0) and raw shards, add-1-smoothed ratio
      // terms, position-ordered fold (mean likelihood ratio)
      "q77_dsir_weights" -> s"""
WITH sg AS (SELECT doc_id, $sigsExpr AS sg FROM documents),
f AS (SELECT doc_id, unnest(CASE WHEN len(sg) < 2 THEN [] ELSE
  list_transform(range(1, len(sg)),
    i -> {'pos': i, 'b': ((sg[i] * 131 + sg[i+1]) % 1000000007) % 1024}) END) AS pb
  FROM sg),
fx AS (SELECT doc_id, CAST(pb.pos AS BIGINT) AS pos, CAST(pb.b AS BIGINT) AS b FROM f),
tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS t_cnt FROM fx
  WHERE doc_id % 50 = 0 GROUP BY 1),
raw AS (SELECT b, CAST(count(*) AS BIGINT) AS r_cnt FROM fx
  WHERE doc_id % 50 <> 0 GROUP BY 1),
sc AS (SELECT fx.doc_id, fx.pos,
  CAST(COALESCE(t.t_cnt, 0) + 1 AS DOUBLE) / CAST(COALESCE(r.r_cnt, 0) + 1 AS DOUBLE) AS s
  FROM fx LEFT JOIN tgt t ON t.b = fx.b LEFT JOIN raw r ON r.b = fx.b
  WHERE fx.doc_id % 50 <> 0),
agg AS (SELECT doc_id,
  list_sort(list(struct_pack(pos := pos, s := s))) AS parts FROM sc GROUP BY 1)
SELECT doc_id, CAST(len(parts) AS BIGINT) AS n_feat,
  list_reduce(list_prepend(0.0, list_transform(parts, p -> p.s)), (x, y) -> x + y)
    / CAST(len(parts) AS DOUBLE) AS dsir_score
FROM agg ORDER BY doc_id""",

      // Gopher within-doc repetition metrics: dup-2/3-gram + top-2-gram
      // position shares (one integer division each), keep at thresholds
      "q75_repetition" -> s"""
WITH sg AS (SELECT doc_id, $sigsExpr AS sg FROM documents),
big AS (SELECT doc_id, unnest(CASE WHEN len(sg) < 2 THEN [] ELSE
  list_transform(range(1, len(sg)),
    i -> (sg[i] * 131 + sg[i+1]) % 1000000007) END) AS g FROM sg),
bc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
bagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS b_total,
  CAST(COALESCE(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS b_dup,
  CAST(max(c) AS BIGINT) AS b_top FROM bc GROUP BY 1),
trig AS (SELECT doc_id, unnest(CASE WHEN len(sg) < 3 THEN [] ELSE
  list_transform(range(1, len(sg) - 1),
    i -> (sg[i] * 17161 + sg[i+1] * 131 + sg[i+2]) % 1000000007) END) AS g FROM sg),
tc AS (SELECT doc_id, g, count(*) AS c FROM trig GROUP BY 1, 2),
tagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t_total,
  CAST(COALESCE(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS t_dup
  FROM tc GROUP BY 1),
m AS (SELECT d.doc_id,
  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
  CASE WHEN b_total IS NULL OR b_total = 0 THEN 0.0
       ELSE CAST(b_dup AS DOUBLE) / CAST(b_total AS DOUBLE) END AS dup2_frac,
  CASE WHEN t_total IS NULL OR t_total = 0 THEN 0.0
       ELSE CAST(t_dup AS DOUBLE) / CAST(t_total AS DOUBLE) END AS dup3_frac,
  CASE WHEN b_total IS NULL OR b_total = 0 THEN 0.0
       ELSE CAST(b_top AS DOUBLE) / CAST(b_total AS DOUBLE) END AS top2_frac
  FROM documents d
  LEFT JOIN bagg ON bagg.doc_id = d.doc_id
  LEFT JOIN tagg ON tagg.doc_id = d.doc_id)
SELECT doc_id, n_tokens, dup2_frac, dup3_frac, top2_frac,
  (dup2_frac <= 0.2 AND dup3_frac <= 0.18 AND top2_frac <= 0.18) AS keep
FROM m ORDER BY doc_id""",

      // per-source ingest telemetry over the q65 verdicts: exact/near/new
      // split and a dup rate per delta source (re-crawl gating signal)
      "q70_ingest_report" -> s"""
WITH $incrDedupCte,
j AS (SELECT i.*, d.source FROM incr i JOIN documents d USING (doc_id))
SELECT source, count(*) AS n_delta,
  CAST(sum(CASE WHEN exact_keeper IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
  CAST(sum(CASE WHEN exact_keeper IS NULL AND near_keeper IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
  CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
  round(CAST(sum(CASE WHEN exact_keeper IS NOT NULL THEN 1 ELSE 0 END)
           + sum(CASE WHEN exact_keeper IS NULL AND near_keeper IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS dup_rate
FROM j GROUP BY source ORDER BY source""",

      // margin-based bitext mining: 4-bit sign-bucket candidates across the
      // vec_id-parity sides; per-endpoint sorted top-4 mean (prepend-0.0
      // fold mirrors the engine's seed); mutual best + ratio margin >= 1.0
      "q68_margin_mining" -> {
        val b4 = (0 until 4)
          .map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
          .mkString(" + ")
        s"""
WITH e AS (SELECT vec_id, embedding, CAST(($b4) AS BIGINT) AS bucket FROM embeddings),
s AS (SELECT * FROM e WHERE vec_id % 2 = 0),
t AS (SELECT * FROM e WHERE vec_id % 2 = 1),
cand AS (SELECT s.vec_id AS sid, t.vec_id AS tid,
  ${cos("s.embedding", "t.embedding")} AS c FROM s JOIN t USING (bucket)),
sa AS (SELECT sid,
  (list(c ORDER BY c DESC, tid))[1] AS best_c,
  (list(tid ORDER BY c DESC, tid))[1] AS best_tid,
  list_reduce(list_prepend(0.0, (list(c ORDER BY c DESC, tid))[1:4]), (x, y) -> x + y)
    / CAST(least(4, count(*)) AS DOUBLE) AS avg_s
  FROM cand GROUP BY sid),
ta AS (SELECT tid,
  (list(sid ORDER BY c DESC, sid))[1] AS best_sid,
  list_reduce(list_prepend(0.0, (list(c ORDER BY c DESC, sid))[1:4]), (x, y) -> x + y)
    / CAST(least(4, count(*)) AS DOUBLE) AS avg_t
  FROM cand GROUP BY tid)
SELECT sa.sid AS src_id, sa.best_tid AS tgt_id,
  round(sa.best_c, 6) AS cos_sim,
  round(sa.best_c / ((sa.avg_s + ta.avg_t) / 2), 6) AS margin
FROM sa JOIN ta ON ta.tid = sa.best_tid
WHERE ta.best_sid = sa.sid
  AND sa.best_c / ((sa.avg_s + ta.avg_t) / 2) >= 1.0
ORDER BY src_id"""
      },

      // exact 13-gram decontamination: any single shared 13-gram with the
      // bench set (doc_id%50==0) flags the doc. Powers of 131 mod P are
      // precomputed literals; every term < 2^44 so the sum is exact int64
      "q66_ngram13_decontam" -> {
        val pows = Array.iterate(1L, 13)(p => p * 131L % 1000000007L).reverse
        val terms = pows.zipWithIndex
          .map { case (p, j) => s"s[i+$j] * $p" }.mkString(" + ")
        s"""
WITH sg AS (SELECT doc_id, $sigsExpr AS s FROM documents),
base AS (SELECT doc_id,
  CASE WHEN len(s) < 13 THEN CAST([] AS BIGINT[])
       ELSE list_distinct(list_transform(range(1, len(s) - 11),
         i -> ($terms) % 1000000007)) END AS ng FROM sg),
idx AS (SELECT doc_id, unnest(ng) AS g FROM base),
bench AS (SELECT DISTINCT g FROM idx WHERE doc_id % 50 = 0),
hits AS (SELECT doc_id, count(*) AS n_hits FROM idx JOIN bench USING (g)
         WHERE doc_id % 50 <> 0 GROUP BY 1)
SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
  COALESCE(h.n_hits, 0) > 0 AS is_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
LEFT JOIN hits h ON h.doc_id = d.doc_id
ORDER BY d.doc_id"""
      },

      // frozen linear quality model: integer weights x integer features;
      // the logistic link is monotone so keep == (score >= 40) exactly
      "q67_quality_model" -> """
SELECT doc_id,
  5 * len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and')))
  + len(string_split(text, ' '))
  - 8 * strlen(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS qm_score,
  (5 * len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and')))
   + len(string_split(text, ' '))
   - 8 * strlen(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))) >= 40 AS keep
FROM documents ORDER BY doc_id""",

      // the composed curation pipeline: dedup keepers -> quality -> shingle
      // decontamination -> budget mix over SURVIVORS, per-stage verdicts
      "q85_curation" -> s"""
WITH d AS (SELECT doc_id,
  (doc_id = MIN(doc_id) OVER (PARTITION BY text)) AS keeper FROM documents),
q AS (SELECT doc_id,
  (5 * len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and')))
   + len(string_split(text, ' '))
   - 8 * strlen(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))) >= 40 AS qkeep
  FROM documents),
sb AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
sidx AS (SELECT doc_id, unnest(sh) AS shingle FROM sb),
bench AS (SELECT DISTINCT shingle FROM sidx WHERE doc_id % 50 = 0),
scand AS (SELECT doc_id, shingle FROM sidx WHERE doc_id % 50 <> 0),
sm AS (SELECT doc_id, count(*) AS n_matched FROM scand JOIN bench USING (shingle) GROUP BY 1),
ssz AS (SELECT doc_id, count(*) AS n_shingles FROM scand GROUP BY 1),
dec AS (SELECT b.doc_id,
  (CASE WHEN coalesce(ssz.n_shingles, 0) = 0 THEN 0.0
        ELSE CAST(coalesce(sm.n_matched, 0) AS DOUBLE) / CAST(ssz.n_shingles AS DOUBLE)
   END) >= 0.5 AS contam
  FROM documents b LEFT JOIN ssz ON ssz.doc_id = b.doc_id
  LEFT JOIN sm ON sm.doc_id = b.doc_id
  WHERE b.doc_id % 50 <> 0),
flags AS (SELECT b.doc_id, b.source, b.text, d.keeper, q.qkeep, dec.contam
  FROM documents b JOIN d USING (doc_id) JOIN q USING (doc_id) JOIN dec USING (doc_id)),
surv AS (SELECT doc_id, source,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  ((doc_id % 999983) * 2654435761) % 999983 AS mix_key
  FROM flags WHERE keeper AND qkeep AND NOT contam),
cum AS (SELECT doc_id, source,
  SUM(n_tokens) OVER (PARTITION BY source ORDER BY mix_key, doc_id) - n_tokens AS prev_cum
  FROM surv),
bud AS (SELECT 'src' || CAST(r AS VARCHAR) AS source,
  CAST(1000 + (r % 5) * 1000 AS BIGINT) AS token_budget FROM range(0, 20) t(r)),
sel AS (SELECT cum.doc_id FROM cum JOIN bud USING (source)
  WHERE cum.prev_cum < bud.token_budget)
SELECT f.doc_id, f.source,
  f.keeper AS dedup_keeper, f.qkeep AS quality_keep, NOT f.contam AS decontam_keep,
  (sel.doc_id IS NOT NULL) AS selected,
  CASE WHEN NOT f.keeper THEN 'exact_dup'
       WHEN NOT f.qkeep THEN 'quality'
       WHEN f.contam THEN 'contaminated'
       WHEN sel.doc_id IS NOT NULL THEN 'selected'
       ELSE 'over_budget' END AS verdict
FROM flags f LEFT JOIN sel ON sel.doc_id = f.doc_id
ORDER BY f.doc_id""",

      // per-source shard report card: volume, q67 keep rate, exact-dup rate
      "q84_source_report" -> """
WITH q AS (SELECT doc_id, source,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
  (5 * len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and')))
   + len(string_split(text, ' '))
   - 8 * strlen(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))) >= 40 AS keep,
  (count(*) OVER (PARTITION BY text)) > 1 AS isdup
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(nt) AS BIGINT) AS total_tokens,
  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS keep_rate,
  CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS dup_rate
FROM q GROUP BY source ORDER BY source""",

      // BPE merge learning: 3 rounds over the word-frequency vocab; the
      // double-space symbol encoding makes each merge one replace()
      "q80_bpe_merges" -> {
        def round(prev: String, n: Int): String = s"""
p$n AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
  SELECT freq,
    unnest(list_transform(range(1, len(syms)), i -> {'a': syms[i], 'b': syms[i+1]})) AS pr
  FROM (SELECT freq, string_split(trim(seq), '  ') AS syms FROM $prev)) GROUP BY 1, 2),
t$n AS (SELECT a, b, cnt FROM p$n ORDER BY cnt DESC, a, b LIMIT 1),
s$n AS (SELECT freq,
  replace(seq, ' ' || t.a || '  ' || t.b || ' ', ' ' || t.a || t.b || ' ') AS seq
  FROM $prev CROSS JOIN t$n t)"""
        s"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
v0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
s0 AS (SELECT freq,
  ' ' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), '  ') || ' ' AS seq
  FROM v0),
${round("s0", 1)},
${round("s1", 2)},
${round("s2", 3)}
SELECT CAST(1 AS INT) AS round, a AS merge_left, b AS merge_right, cnt AS pair_count FROM t1
UNION ALL SELECT CAST(2 AS INT), a, b, cnt FROM t2
UNION ALL SELECT CAST(3 AS INT), a, b, cnt FROM t3
ORDER BY round"""
      },

      // BPE serving: the same 3 learned merges applied on the vocab, then
      // per-word symbol counts joined back to the token stream
      "q88_bpe_apply" -> {
        def round(prev: String, n: Int): String = s"""
p$n AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
  SELECT freq,
    unnest(list_transform(range(1, len(syms)), i -> {'a': syms[i], 'b': syms[i+1]})) AS pr
  FROM (SELECT freq, string_split(trim(seq), '  ') AS syms FROM $prev)) GROUP BY 1, 2),
t$n AS (SELECT a, b, cnt FROM p$n ORDER BY cnt DESC, a, b LIMIT 1),
s$n AS (SELECT w, freq,
  replace(seq, ' ' || t.a || '  ' || t.b || ' ', ' ' || t.a || t.b || ' ') AS seq
  FROM $prev CROSS JOIN t$n t)"""
        s"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
v0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
s0 AS (SELECT w, freq,
  ' ' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), '  ') || ' ' AS seq
  FROM v0),
${round("s0", 1)},
${round("s1", 2)},
${round("s2", 3)},
ws AS (SELECT w, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_syms FROM s3)
SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(ws.n_syms) AS BIGINT) AS n_symbols,
  CAST(sum(ws.n_syms) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS syms_per_token
FROM tok JOIN ws ON ws.w = tok.w
GROUP BY tok.doc_id ORDER BY tok.doc_id"""
      },

      // curriculum ordering: naive global rank over (qm_score desc, doc_id)
      // — the engine's two-level decomposition must match it row-for-row
      "q79_curriculum" -> """
WITH s AS (SELECT doc_id,
  5 * len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and')))
  + len(string_split(text, ' '))
  - 8 * strlen(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS qm_score
  FROM documents),
r AS (SELECT doc_id, qm_score,
  CAST(row_number() OVER (ORDER BY qm_score DESC, doc_id) AS BIGINT) AS global_rank,
  CAST(count(*) OVER () AS BIGINT) AS total FROM s)
SELECT doc_id, qm_score, global_rank,
  CAST((global_rank - 1) * 4 // total AS BIGINT) AS phase
FROM r ORDER BY doc_id""",

      // winnowing fingerprint index (SIGMOD'03 window-minima selection over
      // positional 3-gram hashes, w=4) — the exploded (doc_id, fp) index
      "q61_winnow_fp" -> s"""
WITH base AS (SELECT doc_id, $kgramsExpr AS kg FROM documents),
fps AS (SELECT doc_id, $winnowExpr AS fp FROM base)
SELECT doc_id, unnest(fp) AS fp FROM fps
ORDER BY doc_id, fp""",

      // containment detection over the winnowed fingerprints: directed
      // pairs where |FP(a) n FP(b)| / |FP(a)| >= 0.5 — the asymmetric
      // complement of q25 (a short doc pasted inside a longer one scores
      // ~1.0 here while its symmetric jaccard stays tiny)
      "q62_containment" -> s"""
WITH base AS (SELECT doc_id, $kgramsExpr AS kg FROM documents),
fps AS (SELECT doc_id, $winnowExpr AS fp FROM base),
idx AS (SELECT doc_id, unnest(fp) AS fp FROM fps),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM idx GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter, sa.n_fp AS n_a, sb.n_fp AS n_b,
  CAST(n_inter AS DOUBLE) / CAST(sa.n_fp AS DOUBLE) AS containment
FROM pairs
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_fp AS DOUBLE) >= 0.5
ORDER BY doc_a, doc_b""",

      // the CAPPED containment configuration — fingerprints with doc
      // frequency > 8 (boilerplate) dropped before the self-join; cap 8 <
      // the max observed fp doc-frequency at sf0.01 (18), so the cap
      // ACTIVATES and the oracle checks the preconditioned semantics
      "q63_containment_capped" -> s"""
WITH base AS (SELECT doc_id, $kgramsExpr AS kg FROM documents),
fps AS (SELECT doc_id, $winnowExpr AS fp FROM base),
idx0 AS (SELECT doc_id, unnest(fp) AS fp FROM fps),
hot AS (SELECT fp FROM idx0 GROUP BY 1 HAVING count(*) > 8),
idx AS (SELECT doc_id, fp FROM idx0 WHERE fp NOT IN (SELECT fp FROM hot)),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM idx GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter, sa.n_fp AS n_a, sb.n_fp AS n_b,
  CAST(n_inter AS DOUBLE) / CAST(sa.n_fp AS DOUBLE) AS containment
FROM pairs
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_fp AS DOUBLE) >= 0.5
ORDER BY doc_a, doc_b""",

      "q26_minhash_lsh" -> s"""
WITH base AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
sigs AS (SELECT doc_id,
    $minhashCols
  FROM base),
bands AS (
  $bandRows)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
FROM bands x JOIN bands y
  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
ORDER BY doc_a, doc_b""",

      // content-defined chunking: rolling-gram cutpoints (code % 16 == 0),
      // per-chunk ordered polynomial hash + shared-block census
      "q87_cdc_chunks" -> s"""
WITH sg AS (SELECT doc_id, $sigsExpr AS sgs, $kgramsExpr AS kg FROM documents),
px AS (SELECT doc_id,
  unnest(list_transform(range(1, len(sgs) + 1),
    i -> {'pos': i, 'sig': sgs[i],
          'cut': CASE WHEN i <= len(kg) AND kg[i] % 16 = 0 THEN 1 ELSE 0 END})) AS p
  FROM sg),
px2 AS (SELECT doc_id, CAST(p.pos AS BIGINT) AS pos, p.sig AS sig, p.cut AS cut FROM px),
ci AS (SELECT doc_id, pos, sig,
  CAST(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos) - cut AS BIGINT) AS chunk_idx
  FROM px2),
ch AS (SELECT doc_id, chunk_idx, CAST(min(pos) AS BIGINT) AS start_pos,
  CAST(max(pos) AS BIGINT) AS end_pos, CAST(count(*) AS BIGINT) AS n_tokens,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(list_sort(list(struct_pack(pos := pos, sig := sig))), q -> q.sig)),
    (acc, s) -> (acc * 131 + s) % 1000000007) AS chunk_hash
  FROM ci GROUP BY 1, 2),
cs AS (SELECT chunk_hash, n_tokens,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_sharing FROM ch GROUP BY 1, 2)
SELECT c.doc_id, c.chunk_idx, c.start_pos, c.end_pos, c.n_tokens, c.chunk_hash,
  cs.n_docs_sharing
FROM ch c JOIN cs USING (chunk_hash, n_tokens)
ORDER BY c.doc_id, c.chunk_idx""",

      // minhash estimator calibration: signature-agreement Jaccard estimate
      // vs exact shingle Jaccard per LSH candidate pair
      "q82_minhash_audit" -> {
        val agree = (0 until 16)
          .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""
WITH base AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
sigs AS (SELECT doc_id,
    $minhashCols
  FROM base),
bands AS (
  $bandRows),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
j AS (SELECT c.doc_a, c.doc_b,
  CAST(($agree) AS DOUBLE) / 16.0 AS jaccard_est,
  CAST(len(list_intersect(ba.sh, bb.sh)) AS DOUBLE)
    / CAST(len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS DOUBLE)
    AS jaccard_exact
  FROM cand c
  JOIN sigs a ON a.doc_id = c.doc_a
  JOIN sigs b ON b.doc_id = c.doc_b
  JOIN base ba ON ba.doc_id = c.doc_a
  JOIN base bb ON bb.doc_id = c.doc_b)
SELECT doc_a, doc_b, jaccard_est, jaccard_exact,
  abs(jaccard_est - jaccard_exact) AS abs_err
FROM j ORDER BY doc_a, doc_b"""
      },

      // the CAPPED banding configuration — the occupancy preconditioning
      // the 100 TB path runs (band-buckets holding more than `cap` docs
      // dropped before the self-join). Cap 2 < the max observed band-bucket
      // occupancy at sf0.01 (3), so the cap ACTIVATES under this oracle
      "q56_lsh_capped" -> s"""
WITH base AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
sigs AS (SELECT doc_id,
    $minhashCols
  FROM base),
bands AS (
  $bandRows),
hot AS (SELECT band, bucket FROM bands WHERE bucket IS NOT NULL
        GROUP BY 1, 2 HAVING count(*) > 2),
capped AS (
  SELECT b.doc_id, b.band, b.bucket FROM bands b
  LEFT JOIN hot h ON b.band = h.band AND b.bucket = h.bucket
  WHERE h.band IS NULL)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
FROM capped x JOIN capped y
  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
ORDER BY doc_a, doc_b""",

      // connected components over the q26 candidate graph: min reachable
      // doc_id per doc via a recursive closure (tractable at oracle scale;
      // the engine side iterates min-label propagation to the same fixpoint)
      "q32_dup_clusters" -> s"""
WITH RECURSIVE $clusterCte
SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""",

      // leakage-free split: permille bucket of the CLUSTER id, whole
      // components land in one split
      "q86_cluster_split" -> s"""
WITH RECURSIVE $clusterCte
SELECT doc_id, cluster_id,
  CASE WHEN ((cluster_id % 999983) * 2654435761) % 1000 < 100 THEN 'test'
       WHEN ((cluster_id % 999983) * 2654435761) % 1000 < 200 THEN 'val'
       ELSE 'train' END AS split
FROM cl ORDER BY doc_id""",

      // the end of the dedup story: materialize the CLEAN corpus — one
      // keeper (min doc_id) per near-dup cluster, with its cluster size
      "q50_dedup_corpus" -> s"""
WITH RECURSIVE $clusterCte,
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
SELECT d.doc_id, d.lang, d.source, sz.cluster_size
FROM documents d
JOIN cl ON d.doc_id = cl.doc_id AND cl.cluster_id = d.doc_id
JOIN sz ON sz.cluster_id = d.doc_id
ORDER BY d.doc_id""",

      "q33_sample_stratified" -> """
SELECT doc_id, lang, ((doc_id % 1000) * 2654435761) % 1000 AS sample_bucket
FROM documents
WHERE ((doc_id % 1000) * 2654435761) % 1000 <
  CASE lang WHEN 'en' THEN 350 WHEN 'zh' THEN 700 WHEN 'es' THEN 700
            WHEN 'de' THEN 700 WHEN 'fr' THEN 700 END
ORDER BY doc_id""",

      "q34_vocab_topk" -> """
SELECT token, count(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY freq DESC, token LIMIT 50""",

      // tf x (N/df) rational TF-IDF: only exactly-rounded IEEE ops so the
      // score doubles match Spark bit-for-bit (ln() would not across libms)
      "q38_tfidf_topk" -> """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tfc AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dfc AS (SELECT token, count(*) AS df FROM tfc GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
  FROM tfc JOIN dfc USING (token) CROSS JOIN n),
ranked AS (
  SELECT doc_id, token, tf, df, score,
    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS INT) AS rank
  FROM scored)
SELECT doc_id, token, tf, df, score, rank FROM ranked
WHERE rank <= 3 ORDER BY doc_id, rank""",

      // exact quantile_cont vs Spark percentile: both interpolate at
      // position (n-1)p over the sorted values
      "q44_corpus_profile" -> """
WITH s AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT lang, count(*) AS n_docs,
  min(n_tokens) AS min_tokens,
  quantile_cont(n_tokens, 0.25) AS p25,
  quantile_cont(n_tokens, 0.5) AS p50,
  quantile_cont(n_tokens, 0.75) AS p75,
  max(n_tokens) AS max_tokens
FROM s GROUP BY lang ORDER BY lang""",

      // BM25 oracle: same rational idf, same literals (all exactly-
      // representable doubles), and the same sorted left-fold over matched
      // terms — a float SUM aggregate would be partition-order-dependent on
      // the Spark side and is deliberately absent from BOTH implementations
      "q43_bm25_search" -> """
WITH tok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl0,
         unnest(string_split(text, ' ')) AS term
  FROM documents),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_len
  FROM documents),
tf AS (
  SELECT doc_id, CAST(dl0 AS DOUBLE) AS dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok WHERE term IN ('spark', 'window', 'join') GROUP BY 1, 2, 3),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT doc_id, term,
    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      * (tf * 2.25) / (tf + 1.25 * (0.25 + 0.75 * dl / avg_len)) AS s
  FROM tf JOIN dfq USING (term) CROSS JOIN stats),
agg AS (
  SELECT doc_id, list_sort(list(struct_pack(term := term, s := s))) AS parts
  FROM sc GROUP BY 1),
res AS (
  SELECT doc_id, CAST(len(parts) AS INT) AS n_terms_matched,
    list_reduce(list_prepend(0.0, list_transform(parts, p -> p.s)), (x, y) -> x + y) AS score
  FROM agg)
SELECT doc_id, n_terms_matched, score FROM res
ORDER BY score DESC, doc_id LIMIT 20""",

      // source-weighted token-budget mix: each source's pseudo-shuffled
      // prefix under its budget (same multiplicative mix key as the engine)
      "q54_mix_budget" -> mixBudgetSql,
      // the two-level engine variant is BIT-IDENTICAL by contract: one
      // oracle, two plans (the equality is the point — the chunked prefix
      // sum must not change a single row)
      "q58_mix_two_level" -> mixBudgetSql,
      // temperature-scaled mixing: corpus-derived isqrt budgets + the same
      // prefix predicate
      "q60_mix_temperature" -> mixTemperatureSql,

      "q42_pack_sequences" -> """
WITH s AS (
  SELECT doc_id, source,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens AS prev_cum
  FROM s)
SELECT doc_id, source, n_tokens, CAST(prev_cum // 256 AS BIGINT) AS pack_id
FROM c ORDER BY doc_id""",

      // packing-efficiency telemetry over the q42 assignment: per-source
      // pack count, token totals, mean fill vs the budget
      "q81_pack_efficiency" -> """
WITH s AS (
  SELECT doc_id, source,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens AS prev_cum
  FROM s),
p AS (SELECT source, CAST(prev_cum // 256 AS BIGINT) AS pack_id, n_tokens FROM c),
pp AS (SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS tok FROM p GROUP BY 1, 2)
SELECT source, CAST(count(*) AS BIGINT) AS n_packs,
  CAST(sum(tok) AS BIGINT) AS total_tokens,
  CAST(max(tok) AS BIGINT) AS max_pack_tokens,
  CAST(sum(tok) AS DOUBLE) / CAST(count(*) * 256 AS DOUBLE) AS mean_fill
FROM pp GROUP BY source ORDER BY source""",

      // WAV decode oracle: recompute the expected header fields from the
      // wavMediaTable doc_id arithmetic (the engine parses actual bytes;
      // agreement proves the little-endian decode is real)
      "q41_wav_decode" -> """
WITH p AS (
  SELECT doc_id,
    CAST(8000 + (doc_id % 5) * 4000 AS INT) AS sample_rate,
    CAST(1 + doc_id % 2 AS INT) AS n_channels,
    CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS INT) AS bits_per_sample,
    CAST(100 + doc_id % 900 AS BIGINT) AS n_samples
  FROM documents)
SELECT doc_id,
  CAST(44 + n_samples * (n_channels * (bits_per_sample // 8)) AS BIGINT) AS byte_len,
  sample_rate, n_channels, bits_per_sample, n_samples,
  CAST(n_samples * 1000000 // sample_rate AS BIGINT) AS duration_us,
  'wav' AS format
FROM p ORDER BY doc_id""",

      // Gopher-style quality rules; reason = FIRST failing rule, same order
      "q40_quality_filter" -> """
WITH s AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(string_split(text, ' '), tk -> tk IN ('the','a','of','and'))) AS DOUBLE)
      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      / CAST(length(text) AS DOUBLE) AS punct_ratio,
    CASE WHEN len(string_split(text, ' ')) < 2 THEN 0.0
         ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) - 1 AS DOUBLE) END AS dup_2gram_ratio
  FROM documents),
r AS (
  SELECT *, CASE WHEN n_tokens < 20 THEN 'too_short'
                 WHEN stopword_ratio < 0.02 THEN 'low_stopword'
                 WHEN dup_2gram_ratio > 0.10 THEN 'repetitive'
                 WHEN punct_ratio > 0.10 THEN 'too_much_punct' END AS reject_reason
  FROM s)
SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, dup_2gram_ratio,
  reject_reason IS NULL AS keep, reject_reason
FROM r ORDER BY doc_id""",

      "q39_decontaminate" -> s"""
WITH base AS (SELECT doc_id, $shinglesExpr AS sh FROM documents),
idx AS (SELECT doc_id, unnest(sh) AS shingle FROM base),
bench AS (SELECT DISTINCT shingle FROM idx WHERE doc_id % 50 = 0),
cand AS (SELECT doc_id, shingle FROM idx WHERE doc_id % 50 <> 0),
m AS (SELECT doc_id, count(*) AS n_matched FROM cand JOIN bench USING (shingle) GROUP BY 1),
sz AS (SELECT doc_id, count(*) AS n_shingles FROM cand GROUP BY 1)
SELECT d.doc_id,
  coalesce(sz.n_shingles, 0) AS n_shingles,
  coalesce(m.n_matched, 0) AS n_matched,
  CASE WHEN coalesce(sz.n_shingles, 0) = 0 THEN 0.0
       ELSE CAST(coalesce(m.n_matched, 0) AS DOUBLE) / CAST(sz.n_shingles AS DOUBLE) END AS contam_ratio,
  (CASE WHEN coalesce(sz.n_shingles, 0) = 0 THEN 0.0
        ELSE CAST(coalesce(m.n_matched, 0) AS DOUBLE) / CAST(sz.n_shingles AS DOUBLE) END) >= 0.5 AS is_contaminated
FROM documents d LEFT JOIN sz ON sz.doc_id = d.doc_id LEFT JOIN m ON m.doc_id = d.doc_id
WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""",

      // long-doc chunking: stride 48 = max 64 - overlap 16 (mirrors
      // SampleOps.chunkDocuments defaults); integer ceiling both engines
      "q49_chunk_docs" -> """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
c AS (SELECT doc_id, t,
        CASE WHEN len(t) <= 64 THEN 1 ELSE (len(t) - 16 + 47) // 48 END AS n_chunks
      FROM tk),
e AS (SELECT doc_id, t, n_chunks, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, CAST(n_chunks AS INT) AS n_chunks,
  array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text,
  CAST(len(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS INT) AS n_chunk_tokens
FROM e ORDER BY doc_id, chunk_idx""",

      // cross-source overlap matrix: per-source DISTINCT shingle sets,
      // pairwise Jaccard as one double division of exact longs
      "q46_source_overlap" -> s"""
WITH base AS (SELECT source, $shinglesExpr AS sh FROM documents),
idx AS (SELECT DISTINCT source, unnest(sh) AS shingle FROM base),
sz AS (SELECT source, count(*) AS n FROM idx GROUP BY 1),
p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM idx a JOIN idx b USING (shingle) WHERE a.source < b.source GROUP BY 1, 2)
SELECT source_a, source_b, n_shared, za.n AS n_a, zb.n AS n_b,
  round(CAST(n_shared AS DOUBLE) / (za.n + zb.n - n_shared), 6) AS jaccard
FROM p JOIN sz za ON source_a = za.source JOIN sz zb ON source_b = zb.source
ORDER BY source_a, source_b""",

      // PMI-ranked collocations, log dropped (monotone) so every op is an
      // exactly-rounded IEEE multiply/divide — same rational-score trick
      // as TF-IDF/BM25
      "q47_collocations" -> """
WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
uni AS (SELECT unnest(t) AS tok FROM tk),
uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
n AS (SELECT count(*) AS n_total FROM uni),
bg AS (SELECT unnest(list_transform(range(1, len(t)),
         i -> struct_pack(t1 := t[i], t2 := t[i + 1]))) AS s FROM tk),
bc AS (SELECT s.t1 AS t1, s.t2 AS t2, count(*) AS n_pair FROM bg
       GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT t1, t2, n_pair, u1.c AS n_t1, u2.c AS n_t2,
  round((CAST(n_pair AS DOUBLE) * n_total) / (CAST(u1.c AS DOUBLE) * u2.c), 6) AS score
FROM bc JOIN uc u1 ON bc.t1 = u1.tok JOIN uc u2 ON bc.t2 = u2.tok CROSS JOIN n
ORDER BY score DESC, t1, t2 LIMIT 20""",

      "q27_ann_brute" -> s"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, ${cos("q.qv", "e.embedding")} AS c
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT query_id, neighbor_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank,
    round(c, 6) AS cos_sim
  FROM scored)
SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

      "q28_ann_lsh" -> s"""
WITH b AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.bucket, ${cos("q.qv", "e.embedding")} AS c
  FROM b e JOIN q USING (bucket)),
ranked AS (
  SELECT query_id, neighbor_id, bucket,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank,
    round(c, 6) AS cos_sim
  FROM scored)
SELECT * FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""",

      // trained-IVF ANN under the frozen IvfModel quantizer: assignment =
      // first index of the minimum distance (list_position of list_min ==
      // Spark's array_position of array_min == a sequential strict-< argmin);
      // probes = 2 nearest cells per query (ties by cell index)
      "q45_ivf_ann" -> s"""
WITH a AS (SELECT vec_id, embedding, $ivfDsExpr AS ds FROM embeddings),
asg AS (SELECT vec_id, embedding, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cid FROM a),
q AS (SELECT vec_id AS query_id, embedding AS qv, ds FROM a WHERE vec_id < 10),
qc AS (SELECT query_id, qv, CAST(j AS INT) AS cid, ds[CAST(j AS INT) + 1] AS d2
       FROM q, range(8) t(j)),
pr AS (SELECT query_id, qv, cid FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cid) AS rn FROM qc)
       WHERE rn <= 2),
scored AS (
  SELECT pr.query_id, e.vec_id AS neighbor_id, e.cid, ${cos("pr.qv", "e.embedding")} AS c
  FROM asg e JOIN pr USING (cid)),
ranked AS (
  SELECT query_id, neighbor_id, cid,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank,
    round(c, 6) AS cos_sim
  FROM scored)
SELECT * FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""",

      // PQ-ADC ANN under the frozen PqModel codebooks: encode = per-subspace
      // first-index argmin (list_position of list_min, as q45); ADC = the
      // left-assoc sum of per-subspace LUT lookups (0.0 + l0[c0+1] + ...),
      // shortlist of 64 by (adc, neighbor_id), exact cosine rerank
      "q59_pq_ann" -> {
        val m = graft.operators.PqModel.codebooks.indices
        val dsCols = m.map(i => s"${pqDsExpr(i)} AS ds$i").mkString(", ")
        val codeCols = m.map(i =>
          s"CAST(list_position(ds$i, list_min(ds$i)) - 1 AS INT) AS c$i").mkString(", ")
        val lutCols = m.map(i => s"ds$i AS l$i").mkString(", ")
        val adc = m.map(i => s"l$i[c$i + 1]").mkString("(0.0 + ", " + ", ")")
        s"""
WITH a AS (SELECT vec_id, embedding, $dsCols FROM embeddings),
c AS (SELECT vec_id, embedding, $codeCols FROM a),
q AS (SELECT vec_id AS query_id, embedding AS qv, $lutCols FROM a WHERE vec_id < 10),
scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, c.embedding AS ev,
  $adc AS adc FROM c CROSS JOIN q),
sl AS (SELECT query_id, qv, neighbor_id, ev FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS sr
        FROM scored)
       WHERE sr <= 64),
ranked AS (SELECT query_id, neighbor_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ${cos("qv", "ev")} DESC, neighbor_id) AS INT) AS rank,
    round(${cos("qv", "ev")}, 6) AS cos_sim FROM sl)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
ORDER BY query_id, rank"""
      },

      // cluster-balanced semantic sampling: frozen-IVF assignment (same
      // first-index argmin as q45) + deterministic mix-key prefix per cell
      "q64_cell_sample" -> s"""
WITH a AS (SELECT vec_id, $ivfDsExpr AS ds FROM embeddings),
asg AS (SELECT vec_id, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cid FROM a),
keyed AS (SELECT vec_id, cid,
  ((vec_id % 999983) * 2654435761) % 999983 AS mk FROM asg),
r AS (SELECT vec_id, cid,
  CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY mk, vec_id) AS INT) AS cell_rank
  FROM keyed)
SELECT vec_id, cid, cell_rank FROM r WHERE cell_rank <= 40
ORDER BY vec_id""",

      "q29_cos_dups" -> s"""
WITH b AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket FROM embeddings)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
  round(${cos("x.embedding", "y.embedding")}, 6) AS cos_sim
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE ${cos("x.embedding", "y.embedding")} >= 0.25
ORDER BY vec_a, vec_b""",

      // the CAPPED bucketed-cosine configuration — sign-buckets holding
      // more than `cap` vectors dropped before the self-join. Cap 4 < the
      // max observed sign-bucket occupancy at sf0.01 (6): cap ACTIVE
      "q57_cos_capped" -> s"""
WITH b AS (SELECT vec_id, embedding, CAST($bucketExpr AS BIGINT) AS bucket FROM embeddings),
hot AS (SELECT bucket FROM b GROUP BY 1 HAVING count(*) > 4),
c AS (SELECT * FROM b WHERE bucket NOT IN (SELECT bucket FROM hot))
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
  round(${cos("x.embedding", "y.embedding")}, 6) AS cos_sim
FROM c x JOIN c y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE ${cos("x.embedding", "y.embedding")} >= 0.25
ORDER BY vec_a, vec_b""",

      // embedding-level decontamination: max cosine vs the bench set
      // (vec_id % 50 = 0), MAX is comparison-only so bit-exact
      "q55_embed_decontam" -> s"""
WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
sc AS (
  SELECT c.vec_id, MAX(${cos("c.embedding", "b.bv")}) AS mc
  FROM c, b GROUP BY c.vec_id)
SELECT vec_id, round(mc, 6) AS max_cos_sim, mc >= 0.30 AS is_contaminated
FROM sc ORDER BY vec_id""",

      // connected components over the q29 cosine candidate graph (min
      // reachable vec_id via a recursive closure, the embedding analog of
      // q32's resolution; the engine contracts the same edges to the same
      // fixpoint)
      "q52_cos_clusters" -> s"""WITH RECURSIVE $cosClusterCte
SELECT vec_id, cluster_id FROM cl ORDER BY vec_id""",

      // hard-negative mining: per-query cosine top-k excluding the query's
      // own near-dup cluster (same components as q52)
      "q78_hard_negatives" -> s"""WITH RECURSIVE $cosClusterCte,
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
  ${cos("q.qv", "e.embedding")} AS c
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
flt AS (SELECT sc.query_id, sc.neighbor_id, sc.c FROM sc
  JOIN cl cq ON cq.vec_id = sc.query_id
  JOIN cl cn ON cn.vec_id = sc.neighbor_id
  WHERE cq.cluster_id <> cn.cluster_id),
rk AS (SELECT query_id, neighbor_id, c,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
  FROM flt)
SELECT query_id, neighbor_id, rank, round(c, 6) AS cos_sim FROM rk
WHERE rank <= 5 ORDER BY query_id, rank""",

      // the semantically-deduplicated embedding corpus (q50's analog):
      // one min-id keeper per cosine cluster + its cluster size
      "q53_embed_dedup" -> s"""WITH RECURSIVE $cosClusterCte,
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
SELECT cl.vec_id, sz.cluster_size
FROM cl JOIN sz ON sz.cluster_id = cl.vec_id AND cl.cluster_id = cl.vec_id
ORDER BY cl.vec_id""",

      "q31_png_decode" -> """
SELECT doc_id,
  CAST(45 AS BIGINT) AS byte_len,
  CAST(16 + doc_id % 64 AS INT) AS width,
  CAST(16 + (doc_id // 64) % 64 AS INT) AS height,
  CAST(1 AS INT) AS n_frames,
  'png' AS format
FROM documents ORDER BY doc_id""",

      // frame sampling: every 2nd frame index below the decoded n_frames
      // (n_frames mirrors the decode stand-in arithmetic, q30)
      "q35_frame_sample" -> """
SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(1 + strlen(text) % 5 AS INT) AS n_frames
FROM (SELECT doc_id, text, unnest(range(0, 1 + strlen(text) % 5, 2)) AS f FROM documents)
ORDER BY doc_id, frame_idx""",

      "q30_multimodal" -> """
SELECT doc_id,
  CAST(strlen(text) AS BIGINT) AS byte_len,
  CAST(16 + strlen(text) % 32 AS INT) AS width,
  CAST(16 + (strlen(text) // 32) % 32 AS INT) AS height,
  CAST(1 + strlen(text) % 5 AS INT) AS n_frames,
  CASE WHEN strlen(text) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
  CAST(CASE WHEN 16 + strlen(text) % 32 >= 32 THEN 32 ELSE 16 END AS INT) AS resize_target
FROM documents ORDER BY doc_id""")
  }
}
