package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{DataType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass key=value tokenizer: a custom Catalyst Expression
  * replacing the `regexp_extract_all` + higher-order-function chain on the
  * parse hot path (SURVEY.md §7.4's "optional perf pass" custom Expression).
  *
  * One tokenizer (`KvScan.tokenize`), two outputs:
  *  - `KvExtract` (SQL `kv_extract`): every pair as a map<string,string>;
  *  - `KvSlotsExtract`: only the declared keys (and, for CEF, the declared
  *    ArcSight labels), each in a fixed struct slot — see `KvSlots`.
  *
  * The hand-rolled scanner reproduces the match semantics of the
  * reference regexes — bbn_syslog.rb:60 (`cef=false`) and bbn_cef.rb:64
  * (`cef=true`), including greedy-value backtracking to the lookahead
  * boundary, the `]` / end-of-input anchors, the no-underscore CEF key
  * class (and its pair-poisoning effect), empty-value drops and
  * last-assignment-wins duplicates — without java.util.regex overhead or
  * per-row array-of-strings intermediates. Equivalence to the repo's regex
  * path is enforced by differential property tests (F5ParseSpec) and the
  * DuckDB oracle.
  *
  * One deliberate divergence from the RUBY post-processing (not from the
  * regex): on consecutive '=' signs Ruby's `split("=")` yields
  * `entry[1]=nil` for `k==` (pair dropped) and `""` for `k==v`, while this
  * scanner — like the repo's regex baseline it is differential-tested
  * against — keeps `{k: "="}` and `{k: "=v"}` respectively. No reference
  * fixture or synthesized payload contains a `==` run, so the difference is
  * unobservable on real F5 traffic; documented here rather than silently
  * matched, because Ruby's behavior is an artifact of split(), not of the
  * published KV grammar.
  *
  * Codegen emits a single static call, so the expression stays inside
  * WholeStageCodegen spans.
  */
case class KvExtract(child: Expression, cef: Boolean) extends UnaryExpression {
  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)
  override def prettyName: String = "kv_extract"

  override protected def nullSafeEval(input: Any): Any =
    KvScan.scan(input.asInstanceOf[UTF8String], cef)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.KvScan.scan($c, $cef)")

  override protected def withNewChildInternal(newChild: Expression): KvExtract =
    copy(child = newChild)
}

object KvExtract {
  def apply(c: Column, cef: Boolean): Column =
    GraftBridge.column(KvExtract(GraftBridge.expression(c), cef))
}

/** The typed scan: `struct<kv: struct<declared keys>, dyn: struct<declared
  * labels>>` (`KvSlots.dataType`), filled in the tokenizer's one byte pass.
  * A probe is then a struct-field read by ordinal instead of a linear key
  * scan of a map; a syslog scan builds no map at all, and the CEF label
  * pairing runs inside the same call instead of as a filter/transform
  * lambda chain (`ArrayFilter`/`ArrayTransform` are `CodegenFallback`, so
  * that chain split its Project out of whole-stage codegen).
  */
case class KvSlotsExtract(child: Expression, cef: Boolean, slots: KvSlots)
    extends UnaryExpression {
  override def dataType: DataType = slots.dataType
  override def prettyName: String = "kv_slots"

  override protected def nullSafeEval(input: Any): Any =
    slots.scan(input.asInstanceOf[UTF8String], cef)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kvSlots", slots, classOf[KvSlots].getName)
    defineCodeGen(ctx, ev, c => s"$ref.scan($c, $cef)")
  }

  override protected def withNewChildInternal(newChild: Expression): KvSlotsExtract =
    copy(child = newChild)
}

/** A typed scan's declared slots: `kv` holds the value of each of `keys`,
  * `dyn` (CEF scans only; null for syslog) the value paired with each of
  * `labels`. Values follow the `KvExtract` map exactly:
  *  - `kv.k` == `kv_extract(text)[k]`: the last non-empty value wins, an
  *    empty value is dropped, key bytes match exactly (case-sensitive);
  *  - `dyn.l` == `F5Parse.pairedLabels(kv_extract(text))[l]`: a key `X`
  *    with a key `XLabel` whose value is `l` gives X's value; when several
  *    labels carry `l`, the last label key in map order (first occurrence
  *    in the text) wins, as map_from_entries under LAST_WIN does.
  * Names must be distinct ignoring case: Spark resolves a struct field
  * case-insensitively, so `kv.Dvc` and `kv.dvc` could not both be read.
  */
final case class KvSlots(keys: Seq[String], labels: Seq[String]) {
  Seq("key" -> keys, "label" -> labels).foreach { case (what, names) =>
    val clash = names.groupBy(_.toLowerCase).collect { case (_, n) if n.size > 1 => n }
    require(clash.isEmpty, s"declared ${what}s collide ignoring case: ${clash.mkString(", ")}")
  }

  @transient lazy val dataType: StructType = {
    def fields(names: Seq[String]) = StructType(names.map(StructField(_, StringType)))
    StructType(Seq(StructField("kv", fields(keys), nullable = false),
      StructField("dyn", fields(labels))))
  }

  private val keyIdx = new KvSlots.Ordinals(keys)
  private val labelIdx = new KvSlots.Ordinals(labels)

  def scan(input: UTF8String, cef: Boolean): InternalRow = {
    val s = input.getBytes
    val kv = new Array[Any](keys.size)
    // CEF scans keep every key (first-occurrence order, last value) for the
    // label pairing, which reads arbitrary X / XLabel keys
    val all = if (cef) new java.util.LinkedHashMap[UTF8String, UTF8String]() else null
    KvScan.tokenize(s, cef, (k0, kLen, v0, vLen) => {
      val i = keyIdx.of(s, k0, kLen)
      if (i >= 0 || all != null) {
        val v = UTF8String.fromBytes(s, v0, vLen)
        if (i >= 0) kv(i) = v
        if (all != null) all.put(UTF8String.fromBytes(s, k0, kLen), v)
      }
    })
    val dyn = if (cef) {
      val d = new Array[Any](labels.size)
      val it = all.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        if (k.numBytes > KvSlots.LabelLen && k.endsWith(KvSlots.Label)) {
          val label = e.getValue
          val j = labelIdx.of(label.getBytes, 0, label.numBytes)
          if (j >= 0) {
            // key bytes are ASCII (the key class), so byte and char counts agree
            val x = all.get(k.substring(0, k.numBytes - KvSlots.LabelLen))
            if (x != null) d(j) = x
          }
        }
      }
      new GenericInternalRow(d)
    } else null
    new GenericInternalRow(Array[Any](new GenericInternalRow(kv), dyn))
  }

  // plans print the layout's size; the names are in the struct type
  override def toString: String = s"${keys.size} keys, ${labels.size} labels"
}

object KvSlots {
  private val Label = UTF8String.fromString("Label")
  private val LabelLen = Label.numBytes

  /** Name -> ordinal, looked up straight from a byte range of the scanned
    * text (open addressing; no per-pair String or UTF8String).
    */
  private final class Ordinals(names: Seq[String]) extends Serializable {
    private val bytes = names.map(_.getBytes(UTF_8)).toArray
    private val mask = Integer.highestOneBit(math.max(4 * bytes.length, 2)) * 2 - 1
    private val table = Array.fill(mask + 1)(-1)
    bytes.indices.foreach { i =>
      var h = hash(bytes(i), 0, bytes(i).length)
      while (table(h) >= 0) h = (h + 1) & mask
      table(h) = i
    }

    private def hash(s: Array[Byte], off: Int, len: Int): Int = {
      var h = len
      var p = off
      while (p < off + len) { h = 31 * h + s(p); p += 1 }
      (h ^ (h >>> 16)) & mask
    }

    /** The ordinal of `s[off, off+len)`, or -1 when it is not declared. */
    def of(s: Array[Byte], off: Int, len: Int): Int = {
      var h = hash(s, off, len)
      while (table(h) >= 0) {
        val b = bytes(table(h))
        if (java.util.Arrays.equals(b, 0, b.length, s, off, off + len)) return table(h)
        h = (h + 1) & mask
      }
      -1
    }
  }
}

object KvScan {

  /** Receives each pair with a non-empty value, in text order, as byte
    * ranges of the scanned text.
    */
  trait Sink { def pair(k0: Int, kLen: Int, v0: Int, vLen: Int): Unit }

  @inline private def isKeyChar(c: Byte, cef: Boolean): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      (!cef && c == '_')

  // value class is identical for both patterns: [a-zA-Z0-9:_/.\-\s]
  @inline private def isValChar(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == ':' || c == '_' || c == '/' || c == '.' || c == '-' || isWs(c)

  // java.util.regex \s = [ \t\n\x0B\f\r]
  @inline private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  /** Lookahead boundary at position j: `\]` (syslog) / end-of-input (CEF) /
    * `\s[key-class]+=`.
    */
  private def boundaryAt(s: Array[Byte], j: Int, n: Int, cef: Boolean): Boolean = {
    if (!cef && j < n && s(j) == ']') return true
    if (cef && j == n) return true
    if (j < n && isWs(s(j))) {
      var p = j + 1
      val st = p
      while (p < n && isKeyChar(s(p), cef)) p += 1
      p > st && p < n && s(p) == '='
    } else false
  }

  /** The one pass over the text: every key=value match, in order, with
    * empty values dropped (Ruby `entry[1] != nil` guards).
    *
    * Operates directly on UTF-8 bytes: every class in both patterns is
    * pure ASCII and every byte of a multi-byte UTF-8 sequence has the high
    * bit set, so it fails exactly the class tests the char-level regex
    * fails — byte-wise scanning is equivalent, and match boundaries always
    * fall on ASCII bytes (valid UTF-8 slice points). No per-row String
    * materialization, no char[] copies.
    */
  def tokenize(s: Array[Byte], cef: Boolean, sink: Sink): Unit = {
    val n = s.length
    var i = 0
    while (i < n) {
      if (isKeyChar(s(i), cef)) {
        var k = i
        while (k < n && isKeyChar(s(k), cef)) k += 1
        if (k < n && s(k) == '=') {
          var e = k
          while (e < n && s(e) == '=') e += 1 // [=]+ greedy
          var v = e
          while (v < n && isValChar(s(v))) v += 1
          // greedy value with backtracking: longest j with a boundary
          var j = v
          var found = -1
          while (j >= e && found < 0) {
            if (boundaryAt(s, j, n, cef)) found = j else j -= 1
          }
          if (found >= 0) {
            // value runs from after the FIRST '=' (regex-path semantics;
            // diverges from Ruby split("=") on '==' runs — see class doc)
            if (found > k + 1) sink.pair(i, k - i, k + 1, found - (k + 1))
            i = found // find() resumes at match end (lookahead not consumed)
          } else {
            i += 1 // no boundary reachable: regex advances one position
          }
        } else {
          i = k // shorter starts inside this key run fail identically
        }
      } else {
        i += 1
      }
    }
  }

  /** Every pair as map<string,string>: last-assignment-wins duplicates in
    * first-occurrence key order.
    */
  def scan(input: UTF8String, cef: Boolean): MapData = {
    val s = input.getBytes
    val out = new java.util.LinkedHashMap[UTF8String, UTF8String]()
    tokenize(s, cef, (k0, kLen, v0, vLen) =>
      out.put(UTF8String.fromBytes(s, k0, kLen), UTF8String.fromBytes(s, v0, vLen)))
    val keys = new Array[Any](out.size)
    val vals = new Array[Any](out.size)
    var idx = 0
    val it = out.entrySet().iterator()
    while (it.hasNext) {
      val entry = it.next()
      keys(idx) = entry.getKey
      vals(idx) = entry.getValue
      idx += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }
}
