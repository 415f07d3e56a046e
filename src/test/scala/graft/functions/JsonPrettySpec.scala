package graft.functions

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property coverage for the JSON.stringify-parity printer: the pretty
  * form must parse back to the same tree as the compact input for any
  * JSON value (seeded random trees), and pretty-printing is stable
  * under re-compaction. */
class JsonPrettySpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private val scalarGen: Gen[String] = Gen.oneOf(
    Gen.chooseNum(-1000000, 1000000).map(_.toString),
    Gen.oneOf("true", "false", "null"),
    Gen.alphaNumStr.map(s => mapper.writeValueAsString(s + " \"quoted\\slash\tctrl")))

  private def jsonGen(depth: Int): Gen[String] =
    if (depth == 0) scalarGen
    else Gen.frequency(
      3 -> scalarGen,
      2 -> Gen.listOfN(3, jsonGen(depth - 1)).map(_.mkString("[", ",", "]")),
      2 -> Gen.listOfN(3, jsonGen(depth - 1)).map { vs =>
        vs.zipWithIndex.map { case (v, i) => s""""k$i":$v""" }.mkString("{", ",", "}")
      },
      1 -> Gen.const("{}"),
      1 -> Gen.const("[]"))

  private def sample(i: Int): String =
    jsonGen(3).apply(Gen.Parameters.default, Seed(7000L + i)).get

  test("pretty output parses back to the identical tree (200 seeded random documents)") {
    (0 until 200).foreach { i =>
      val compact = sample(i)
      val pretty = JsonPretty.compute(UTF8String.fromString(compact)).toString
      assert(mapper.readTree(pretty) == mapper.readTree(compact),
        s"tree changed for seed $i: $compact")
    }
  }

  test("pretty-printing is idempotent through re-compaction") {
    (0 until 50).foreach { i =>
      val compact = sample(i)
      val once = JsonPretty.compute(UTF8String.fromString(compact)).toString
      val recompact = mapper.writeValueAsString(mapper.readTree(once))
      val twice = JsonPretty.compute(UTF8String.fromString(recompact)).toString
      assert(once == twice, s"not stable for seed $i")
    }
  }

  test("numeric tokens pass through byte-verbatim (never re-formatted)") {
    // a Jackson tree round-trip would rewrite 1e+21 → 1.0E21 and
    // 7.0 → 7.0-vs-7 depending on node type — json_pretty must not
    // touch number tokens at all, so whatever the compact serializer
    // emitted survives to the byte-parity sink
    val pretty = JsonPretty.compute(UTF8String.fromString(
      """{"a":1e+21,"b":7.0,"c":-0.5,"d":42,"e":1E-7}""")).toString
    assert(pretty ==
      "{\n  \"a\": 1e+21,\n  \"b\": 7.0,\n  \"c\": -0.5,\n  \"d\": 42,\n  \"e\": 1E-7\n}")
  }

  test("layout invariants: 2-space ladder, no space before colon, inline empties") {
    val pretty = JsonPretty.compute(UTF8String.fromString(
      """{"a":{"b":[1,{"c":"x"},[]],"d":{}},"e":null}""")).toString
    assert(pretty ==
      "{\n  \"a\": {\n    \"b\": [\n      1,\n      {\n        \"c\": \"x\"\n      },\n      []\n    ],\n    \"d\": {}\n  },\n  \"e\": null\n}")
  }

  test("string quoting equals Jackson's serializer for any string (500 seeded strings)") {
    // the characters JSON escaping treats specially: quote, backslash,
    // every C0 control, DEL, non-ASCII, surrogate pairs and lone
    // surrogates, and the JS line terminators U+2028/U+2029
    val special: Gen[String] = Gen.oneOf(
      Gen.oneOf("\"", "\\", "/", "\u007f", "\u00e9", "\u4e2d", "\ud83d\ude00", "\ud800",
        "\udfff", "\u2028", "\u2029", "\ufeff"),
      Gen.choose(0, 0x1f).map(c => c.toChar.toString),
      Gen.alphaNumChar.map(_.toString))
    val strings = Gen.listOf(special).map(_.mkString)
    (0 until 500).foreach { i =>
      val s = strings.apply(Gen.Parameters.default, Seed(9000L + i)).get
      val sb = new java.lang.StringBuilder
      JsonPretty.quote(s, sb)
      assert(sb.toString == mapper.writeValueAsString(s), s"seed $i")
    }
  }
}
