package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{F5Parse, KvSlots}
import graft.operators.Pipeline

/** Unit + property tests for the column-level parse primitives
  * (FIXTURES.md §5). Property inputs are drawn from ScalaCheck Gens with a
  * fixed seed (no scalatestplus bridge available offline).
  */
class F5ParseSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.from(0)
      .flatMap(i => g.apply(params, Seed(42L + i)))
      .take(n).toSeq
  }

  import spark.implicits._

  private def kvOf(text: String, cef: Boolean = false): Map[String, String] = {
    val df = Seq(text).toDF("text")
      .select((if (cef) F5Parse.kvCef(col("text")) else F5Parse.kvSyslog(col("text"))).as("kv"))
    Option(df.collect().head.getMap[String, String](0)).map(_.toMap).getOrElse(Map.empty)
  }

  test("syslog KV scan: values run to the next ' key=' token or ']'") {
    val kv = kvOf("[a=1 date_time=2015-03-22 10:01:02 dos_attack_name=Flood attack last=x]")
    assert(kv("date_time") == "2015-03-22 10:01:02")
    assert(kv("dos_attack_name") == "Flood attack")
    assert(kv("a") == "1")
    assert(kv("last") == "x")
  }

  test("syslog KV scan: trailing pair without ] boundary is NOT captured (bbn_syslog.rb:60)") {
    val kv = kvOf("a=1 b=2") // no ']' and no following ' key=' for b
    assert(kv.get("a").contains("1"))
    assert(!kv.contains("b"))
  }

  test("syslog KV scan: empty value is dropped like Ruby's nil entry[1]") {
    val kv = kvOf("[a= b=2]")
    assert(!kv.contains("a"))
    assert(kv("b") == "2")
  }

  test("CEF KV scan: keys lack underscore, values may be end-anchored (bbn_cef.rb:64)") {
    val kv = kvOf("dvchost=bigip1.lab dvc=10.0.0.1 cs1=Attack Started cs1Label=attack_status", cef = true)
    assert(kv("dvchost") == "bigip1.lab")
    assert(kv("cs1") == "Attack Started")
    assert(kv("cs1Label") == "attack_status") // end-anchored
  }

  test("CEF KV scan: an underscore key poisons the preceding pair's lookahead") {
    val kv = kvOf("a=1 date_time=2015-03-22 b=2", cef = true)
    assert(!kv.contains("a")) // ' date_time=' is not a valid CEF boundary
    assert(kv.get("b").contains("2"))
  }

  test("label pairing resolves X/XLabel into {label: value} (bbn_cef.rb:136-174)") {
    val df = Seq("cn3=77 cn3Label=attack_id cs2=vlan10 cs2Label=vlan solo=1 orphanLabel=zz x=end")
      .toDF("text").select(F5Parse.pairedLabels(F5Parse.kvCef(col("text"))).as("dyn"))
    val dyn = df.collect().head.getMap[String, String](0).toMap
    assert(dyn == Map("attack_id" -> "77", "vlan" -> "vlan10"))
  }

  test("PRI decomposition: facility = pri/8, severity = pri%8 (FIXTURES §5)") {
    val df = (0 to 191).map(pri => s"<$pri>rest").toDF("text")
      .select(F5Parse.pri(col("text")).as("pri"))
      .select(col("pri"), F5Parse.priFacility(col("pri")), F5Parse.priSeverity(col("pri")))
    df.collect().foreach { r =>
      val pri = r.getInt(0)
      assert(r.getInt(1) == pri / 8 && r.getInt(2) == pri % 8)
    }
  }

  test("format dispatch accepts only exact <134> and CEF:0 prefixes (bbn_f5networks.rb:321-341)") {
    val rows = Seq("<134>x", "<133>x", "<1340>x", "CEF:0|rest", "CEF:1|rest", "garbage")
      .toDF("text").select(F5Parse.remoteLogFormat(col("text"))).as[String].collect()
    // note: "<1340>" -> first five chars "<1340" != "<134>" -> Unknown
    assert(rows.toSeq == Seq("Syslog", "Unknown", "Unknown", "CEF", "Unknown", "Unknown"))
  }

  test("to_utc reinterprets local wall time at the host offset (bbn_common.rb:51-61)") {
    val df = Seq(("2015-03-22 10:01:02", 2), ("2015-03-22 00:30:00", -3), ("2015-01-01 00:00:00", 0))
      .toDF("dt", "off").select(F5Parse.toUtc(col("dt"), col("off")).as("utc")).as[String]
    assert(df.collect().toSeq == Seq("2015-03-22T08:01:02", "2015-03-22T03:30:00", "2015-01-01T00:00:00"))
  }

  test("to_utc offset round-trip for every plausible offset (FIXTURES §5)") {
    (-12 to 14).foreach { off =>
      val out = Seq(("2020-06-15 12:00:00", off)).toDF("dt", "off")
        .select(F5Parse.toUtc(col("dt"), col("off"))).as[String].collect().head
      val expected = java.time.LocalDateTime.of(2020, 6, 15, 12, 0, 0)
        .minusHours(off.toLong)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
      assert(out == expected)
    }
  }

  test("KV render -> parse round-trip identity over the supported charset (FIXTURES §5)") {
    val keyGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).suchThat(_.nonEmpty)
    val valGen = Gen.nonEmptyListOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(':', '_', '/', '.', '-'))).map(_.mkString)
    val mapGen = Gen.mapOf(Gen.zip(keyGen, valGen)).suchThat(_.nonEmpty).map(_.take(8))
    samples(mapGen, 60).foreach { m =>
      val rendered = "[" + m.map { case (k, v) => s"$k=$v" }.mkString(" ") + "]"
      assert(kvOf(rendered) == m, s"payload: $rendered")
    }
  }

  test("native KvScan is byte-equivalent to the reference regex on adversarial input") {
    // fragments biased toward the scanner's edge cases: underscore keys,
    // multi-equals, empty values, brackets, trailing pairs, ws runs
    val frag = Gen.oneOf(
      Gen.const("a=1 "), Gen.const("date_time=2015-03-22 10:01:02 "),
      Gen.const("k= "), Gen.const("x==y "), Gen.const("] "), Gen.const("["),
      Gen.const("cs1Label=attack_status"), Gen.const("w_k=v "),
      Gen.const("  "), Gen.const("\t"), Gen.const("zz=0]"),
      Gen.const("dvc=1.2.3.4 "), Gen.const("no-eq-token "),
      Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('=', ' ', ']', '_', '-', '.', '/'))).map(_.mkString))
    val gen = Gen.listOf(frag).map(_.mkString)
    val inputs = samples(gen, 200) ++ Seq(
      "", "=", "==", "a=", "a=b", "[a=b]", "a=b ", " a=b c=d", "a=b\tc=d e=]",
      "k=v1 k=v2]", // duplicate keys: last wins
      "a=1 date_time=2015 b=2", // CEF pair-poisoning shape
      "date_time=x dos_attack_id=9 zz=0 dvchost=h cn3=9 cn3Label=attack_id",
      // a final U+2028/U+0085/U+2029 is no line end for the CEF end anchor
      "a=1\u2028", "a=1\u0085", "a=1 b=2\u2029")
    Seq(false, true).foreach { cef =>
      val df = inputs.toDF("text").select(
        (if (cef) F5Parse.kvCef(col("text")) else F5Parse.kvSyslog(col("text"))).as("native"),
        (if (cef) F5Parse.kvCefRegex(col("text")) else F5Parse.kvSyslogRegex(col("text"))).as("regex"),
        col("text"))
      df.collect().foreach { r =>
        val native = Option(r.getMap[String, String](0)).map(_.toMap).getOrElse(Map.empty)
        val regex = Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty)
        assert(native == regex, s"cef=$cef input=${r.getString(2)}")
      }
    }
  }

  test("typed scan slots equal the regex map and pairedLabels at every declared name") {
    // Differential property of the typed scan (KvSlots) against the
    // reference chain: each declared key's slot == regex map at that key,
    // each declared label's dyn slot == pairedLabels(regex map) at that
    // label. 300 random texts per format from seeds 42..341, plus fixed
    // texts that pin each edge case.
    val slots = KvSlots(Pipeline.KvKeys, Pipeline.DynLabels)
    val value = Gen.oneOf("1", "", "Attack Started", "10.0.0.1", "a_b", "x y", "2015-03-22 10:01:02",
      "café", "Virtual Server", "attack_id", "vlan")
    val label = Gen.oneOf(Pipeline.DynLabels ++ Seq("ATTACK_STATUS", "virtual server", "other", ""))
    val wireKey = Gen.oneOf(Pipeline.KvKeys.take(12) ++ Pipeline.KvKeys.takeRight(11) ++
      Seq("DVC", "Dvc", "Dos_attack_event", "f5flowid", "cs1", "cs2", "cn3", "x", "Label", "kéy"))
    val frag = Gen.oneOf(
      Gen.zip(wireKey, value).map { case (k, v) => s"$k=$v " },
      // X / XLabel pairs, a label with no X, and a bare `Label` key
      Gen.zip(Gen.oneOf("cs1", "cs2", "cn3", "cs4", "Label", "Virtual"), label)
        .map { case (x, l) => s"${x}Label=$l " },
      Gen.zip(Gen.oneOf("cs1", "cs2", "cn3"), value).map { case (x, v) => s"$x=$v " },
      Gen.oneOf("] ", "[", "  ", "\t", "é日 ", "x==y ", "Label=attack_id "))
    val gen = Gen.listOf(frag).map(_.mkString)
    val fixed = Seq(
      "[dvc=1 dvc=2 dvc= act=3 act=4]", // duplicate key: last non-empty value wins
      "cs1=a cs1Label=vlan cs2=b cs2Label=vlan", // two labels carry one value
      "cs1=a cs2=b cs2Label=vlan cs1Label=vlan cs1Label=vlan", // key order is first occurrence
      "cs3Label=attack_id cn3=7", // label with no X
      "cs5=vs1 cs5Label=Virtual Server", // a label value with a space
      "Label=attack_id =5 Label=x", // bare Label key
      "DVC=1 Dvc=2 cs1=z cs1Label=ATTACK_STATUS dvc=3", // case-only differences
      "dvc=café src=日本 act=oké cs1=éx cs1Label=attack_status x=1]",
      // a final U+2028/U+0085/U+2029 ends no CEF value; dvc and act are declared slots
      "a=1\u2028", "a=1\u0085", "a=1 b=2\u2029", "dvc=1\u2028", "act=1 dvc=2\u2029")
    val inputs = fixed ++ samples(gen, 300)
    Seq(false, true).foreach { cef =>
      val regex = if (cef) F5Parse.kvCefRegex(col("text")) else F5Parse.kvSyslogRegex(col("text"))
      inputs.toDF("text").select(col("text"), F5Parse.kvSlots(col("text"), cef, slots),
          regex, F5Parse.pairedLabels(regex))
        .collect().foreach { r =>
          val text = r.getString(0)
          def mapAt(i: Int) = Option(r.getMap[String, String](i)).map(_.toMap).getOrElse(Map.empty)
          val (typed, kv, paired) = (r.getStruct(1), mapAt(2), mapAt(3))
          Pipeline.KvKeys.zipWithIndex.foreach { case (k, i) =>
            assert(Option(typed.getStruct(0).getString(i)) == kv.get(k), s"cef=$cef key=$k text=$text")
          }
          if (cef) Pipeline.DynLabels.zipWithIndex.foreach { case (l, i) =>
            assert(Option(typed.getStruct(1).getString(i)) == paired.get(l), s"label=$l text=$text")
          }
          else assert(typed.isNullAt(1), s"a syslog scan pairs no labels: $text")
        }
    }
  }

  test("declared slots: an undeclared or case-colliding name fails when the plan is built") {
    assert(intercept[IllegalArgumentException](Pipeline.kvv("no_such_key"))
      .getMessage.contains("no_such_key"))
    assert(intercept[IllegalArgumentException](KvSlots(Seq("dvc", "DVC"), Nil))
      .getMessage.contains("collide"))
    assert(intercept[IllegalArgumentException](KvSlots(Nil, Seq("vlan", "Vlan")))
      .getMessage.contains("collide"))
  }

  test("mitigation decision table D1 truth table (bbn_syslog.rb:104-145)") {
    val cases = Seq(
      // (hasCtx, action, category, name) -> expected
      (true, "Drop", "DNS Event", null, "Virtual Server Rate Limiting"),
      (false, "Drop", "Network DoS Event", null, "Device-Wide Rate Limiting"),
      (false, "Allow", "Network DoS Event", null, "Device-Wide Detection"),
      (false, "Drop", "Network DoS Event", "Flood attack", "Source-IP Rate Limiting"),
      (false, "Allow", "Network DoS Event", "Flood attack", "Source-IP Detection"),
      (false, "Drop", "Network DoS Event", "Sweep attack", "Source-IP Rate Limiting"),
      (false, "Allow", "Network DoS Event", "Sweep attack", "Source-IP Detection"),
      (false, "Drop", "DNS Event", null, ""), // DNS without ctx: no arm fires
      (false, "Other", "Network DoS Event", null, ""))
    cases.foreach { case (ctx, act, cat, name, expected) =>
      val out = Seq((act, cat, Option(name)))
        .toDF("act", "cat", "name")
        .select(F5Parse.mitigationMethod(lit(ctx), col("act"), col("cat"), col("name"), lit("")))
        .as[String].collect().head
      assert(out == expected, s"case ($ctx,$act,$cat,$name)")
    }
  }
}
