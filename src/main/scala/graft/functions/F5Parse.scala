package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._

/** Column-level parse primitives for the F5 BIG-IP syslog / CEF wire formats.
  *
  * Semantics are derived from the reference plugin (cited as file:line into
  * /root/reference/) but re-expressed as Catalyst column expressions so the
  * whole parse path stays inside WholeStageCodegen — no UDFs, no RDDs.
  *
  * The reference re-runs near-identical regex scans up to 8x per message
  * (lib/logstash/inputs/modules/bbn_syslog.rb:60,193,253,361,460,521,576,631)
  * and pairs ArcSight labels in a second pass (bbn_cef.rb:136-174); here one
  * tokenizer (KvScan) reads each row once and feeds two outputs: the
  * `kv_extract` map (`kvSyslog`/`kvCef`, the SQL surface) and the typed
  * struct (`kvSlots`) whose fixed slots hold the declared keys and paired
  * labels every record family projects from (`Pipeline.KvKeys` /
  * `Pipeline.DynLabels`, declared next to the event table).
  */
object F5Parse {

  /** Syslog key=value token: key may contain underscore, value runs to the
    * next ` key=` token or `]`.
    * Pattern verbatim from lib/logstash/inputs/modules/bbn_syslog.rb:60
    * (Onigmo char classes + lookahead are java.util.regex compatible).
    */
  val SyslogKvPattern: String =
    """[a-zA-Z0-9_]+[=]+[a-zA-Z0-9:_/.\-\s]*(?=\s[a-zA-Z0-9_]+[=]|\])"""

  /** CEF extension key=value token: key class lacks `_`, value may be
    * end-anchored. Verbatim from lib/logstash/inputs/modules/bbn_cef.rb:64.
    */
  val CefKvPattern: String =
    """[a-zA-Z0-9]+[=]+[a-zA-Z0-9:_\-/.\s]*(?=\s[a-zA-Z0-9]+[=]|$)"""

  /** Strip double quotes before any syslog scan (bbn_syslog.rb:25).
    * `replace` finds the quote with a byte search and returns a quote-free
    * value as is; `translate` gives the same output on valid UTF-8 but
    * looks up every character in a map, several times slower per row
    * (guide §4: prefer the cheapest built-in that expresses the operation).
    */
  def stripQuotes(text: Column): Column = replace(text, lit("\""), lit(""))

  private def kvMapFromPattern(text: Column, pattern: String): Column = {
    val matches = regexp_extract_all(text, lit(pattern), lit(0))
    // Ruby `record.split("=")` yields entry[1] == nil for an empty value and
    // every mapping arm guards `entry[1] != nil` — so empty-valued keys are
    // dropped here rather than mapped to "".
    val entries = filter(matches, s => locate("=", s) < length(s))
    map_from_entries(
      transform(entries, s =>
        struct(
          substring_index(s, "=", 1).as("key"),
          s.substr(locate("=", s) + lit(1), length(s)).as("value"))))
  }

  /** One-pass syslog KV scan -> map<string,string>, via the native KvScan
    * Catalyst expression (codegen-friendly, no regex). Last-assignment-wins
    * duplicate semantics match the reference's elsif chains. This is the
    * `kv_extract` SQL surface; the parse path reads `kvSlots` instead.
    */
  def kvSyslog(text: Column): Column = KvExtract(text, cef = false)

  /** One-pass CEF-extension KV scan -> map<string,string> (bbn_cef.rb:64). */
  def kvCef(text: Column): Column = KvExtract(text, cef = true)

  /** The same one pass, typed: `struct<kv, dyn>` holding each of `slots`'
    * declared keys and, for a CEF scan, each declared ArcSight label paired
    * by name (P7) — the values `kvSyslog`/`kvCef` and `pairedLabels` give
    * at those names (KvSlots).
    */
  def kvSlots(text: Column, cef: Boolean, slots: KvSlots): Column =
    GraftBridge.column(KvSlotsExtract(GraftBridge.expression(text), cef, slots))

  /** Reference regex implementations, kept as the differential baseline the
    * native scanner is property-tested against (F5ParseSpec). The CEF
    * pattern compiles under UNIX_LINES (`(?d)`): java.util.regex's default
    * `$` also matches before a final U+0085, U+2028 or U+2029, and Ruby's
    * `$` (like the scanner's end anchor) does not.
    */
  def kvSyslogRegex(text: Column): Column = kvMapFromPattern(text, SyslogKvPattern)
  def kvCefRegex(text: Column): Column = kvMapFromPattern(text, "(?d)" + CefKvPattern)

  /** ArcSight dynamic-label pairing (bbn_cef.rb:136-174) over a KV map: a
    * key `X` paired with `XLabel` becomes {value-of-XLabel: value-of-X}.
    * The reference depends on insertion order (non-Label key immediately
    * before its Label); this name-based lookup is order-independent —
    * documented semantic cleanup per SURVEY.md §7.5.2, strictly more
    * robust, identical on well-ordered input. Kept as the reference the
    * typed scan's `dyn` slots are property-tested against (F5ParseSpec),
    * as `kvSyslogRegex` is for the scan itself; needs
    * `spark.sql.mapKeyDedupPolicy=LAST_WIN` when two labels carry one value.
    */
  def pairedLabels(kv: Column): Column = {
    val labelKeys = filter(map_keys(kv), k =>
      endswith(k, lit("Label")) &&
        element_at(kv, k.substr(lit(1), length(k) - lit(5))).isNotNull)
    map_from_entries(
      transform(labelKeys, k =>
        struct(
          element_at(kv, k).as("key"),
          element_at(kv, k.substr(lit(1), length(k) - lit(5))).as("value"))))
  }

  /** Syslog PRI decomposition. The reference dispatches only on the exact
    * prefix `<134>` (bbn_f5networks.rb:323) = facility 16 (local0),
    * severity 6 (info); the generalized decomposition is exposed for the
    * per-sink facility x severity aggregates. The parse base extracts
    * `pri` once per row and derives both fields from that column.
    */
  def pri(text: Column): Column =
    regexp_extract(text, "^<(\\d{1,3})>", 1).cast("int")
  def priFacility(pri: Column): Column = (pri / lit(8)).cast("int")
  def priSeverity(pri: Column): Column = pmod(pri, lit(8))

  /** Wire-format dispatch on the first five characters
    * (bbn_f5networks.rb:321-341): exactly `<134>` -> Syslog, `CEF:0` -> CEF,
    * else Unknown (dropped).
    */
  def remoteLogFormat(text: Column): Column =
    when(substring(text, 1, 5) === "<134>", "Syslog")
      .when(substring(text, 1, 5) === "CEF:0", "CEF")
      .otherwise("Unknown")

  /** Device-local datetime string + per-host UTC offset (hours) -> UTC
    * string `yyyy-MM-dd'T'HH:mm:ss` (second precision, no zone suffix),
    * replicating BBNCommon.to_utc (bbn_common.rb:51-61): reinterpret the
    * local wall time at `offset`, shift to UTC, format %FT%T.
    * Arithmetic on epoch seconds keeps it codegen-friendly and engine-
    * portable (the source strings carry no sub-second precision).
    */
  def toUtc(dtStr: Column, offsetHours: Column): Column = {
    val local = to_timestamp(dtStr, "yyyy-MM-dd HH:mm:ss")
    val utc = (local.cast("long") - offsetHours.cast("long") * 3600L)
      .cast("timestamp")
    date_format(utc, "yyyy-MM-dd'T'HH:mm:ss")
  }

  /** Same, but the emitted value is empty-string when the input never parsed
    * (reference leaves the typed default "" when date_time is absent, e.g.
    * bbn_syslog.rb:98-102).
    */
  def toUtcOrEmpty(dtStr: Column, offsetHours: Column): Column =
    when(dtStr.isNull || dtStr === "", lit(""))
      .otherwise(toUtc(dtStr, offsetHours))

  /** Mitigation-method decision table D1, shared by the syslog Attack
    * Sampled branch (bbn_syslog.rb:104-145) and the CEF/AFM branch
    * (bbn_cef.rb:256-280, 456-497).
    *
    * Ruby compares against nil without error (`nil != "Flood attack"` is
    * true), so null columns are coalesced to "" before comparison to keep
    * the same truth table under SQL three-valued logic.
    *
    * In the syslog-sampled branch `attack_name` is never populated (no
    * `dos_attack_name` arm in bbn_syslog.rb:64-94), so the Flood/Sweep arms
    * are unreachable there — callers pass a null/absent name column and this
    * table reproduces that quirk verbatim.
    */
  def mitigationMethod(
      hasContext: Column,
      action: Column,
      category: Column,
      attackName: Column,
      fallback: Column): Column = {
    val act = coalesce(action, lit(""))
    val cat = coalesce(category, lit(""))
    val nam = coalesce(attackName, lit(""))
    val notFloodSweep = nam =!= "Flood attack" && nam =!= "Sweep attack"
    when(hasContext, "Virtual Server Rate Limiting")
      .when(act === "Drop" && cat =!= "DNS Event" && notFloodSweep, "Device-Wide Rate Limiting")
      .when(act === "Allow" && cat =!= "DNS Event" && notFloodSweep, "Device-Wide Detection")
      .when(act === "Drop" && nam === "Flood attack", "Source-IP Rate Limiting")
      .when(act === "Allow" && nam === "Flood attack", "Source-IP Detection")
      .when(act === "Drop" && nam === "Sweep attack", "Source-IP Rate Limiting")
      .when(act === "Allow" && nam === "Sweep attack", "Source-IP Detection")
      .otherwise(fallback)
  }

  /** Detection/drop matrix override: QPS for DNS events under a virtual
    * context (bbn_syslog.rb:108-113, bbn_cef.rb:460-465); default passed by
    * the caller (PPS network-side, TPS for ASM).
    */
  def rateMatrix(hasContext: Column, category: Column, default: String): Column =
    when(hasContext && coalesce(category, lit("")) === "DNS Event", "QPS")
      .otherwise(default)

  /** `administration_partition` = first \w+ token of the virtual context
    * (bbn_cef.rb:356-364, 774-782).
    */
  def adminPartition(virtualContext: Column): Column =
    regexp_extract(virtualContext, "\\w+", 0)

  /** flow_id sentinel: all-zero flow ids keep the default ""
    * (bbn_syslog.rb:215, bbn_cef.rb:333).
    */
  def flowTableId(flowId: Column): Column =
    when(flowId.isNotNull && flowId =!= "0000000000000000", flowId)
      .otherwise("")
}
