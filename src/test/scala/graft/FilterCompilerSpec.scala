package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filters._

/** Unit coverage of the filter compiler against the reference semantics
  * (`Decisions.Kinesis/KinesisThreadJobs.cs:731-814`): all 18 verbs,
  * AND/OR composition, missing property, parse pass-through, unknown verb.
  */
class FilterCompilerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def verdicts(bodies: Seq[String], spec: FilterSpec): Seq[Boolean] = {
    val df = bodies.toDF("body")
    df.select(FilterCompiler.compile(spec, col("body")).as("v"))
      .collect().map(_.getBoolean(0)).toSeq
  }

  private def one(body: String, f: PayloadFilter, useOr: Boolean = false) =
    verdicts(Seq(body), FilterSpec(Seq(f), useOr)).head

  val doc = """{"user":{"type":"Admin"},"n":"42","s":"Hello"}"""

  test("Equals / Not Equals, case-sensitive and insensitive") {
    assert(one(doc, PayloadFilter("user.type", "Equals", "Admin")))
    assert(!one(doc, PayloadFilter("user.type", "Equals", "admin")))
    assert(one(doc, PayloadFilter("user.type", "Equals (Case Insensitive)", "ADMIN")))
    assert(one(doc, PayloadFilter("user.type", "Not Equals", "admin")))
    assert(!one(doc, PayloadFilter("user.type", "Not Equals (Case Insensitive)", "admin")))
  }

  test("Contains / Starts With / Ends With") {
    assert(one(doc, PayloadFilter("s", "Contains", "ell")))
    assert(!one(doc, PayloadFilter("s", "Contains", "ELL")))
    assert(one(doc, PayloadFilter("s", "Contains (Case Insensitive)", "ELL")))
    assert(one(doc, PayloadFilter("s", "Starts With", "He")))
    assert(one(doc, PayloadFilter("s", "Starts With (Case Insensitive)", "hE")))
    assert(one(doc, PayloadFilter("s", "Ends With", "llo")))
    assert(one(doc, PayloadFilter("s", "Ends With (Case Insensitive)", "LLO")))
  }

  test("ordering verbs are STRING comparisons (finding S1)") {
    // "9" > "1000" ordinal-string-wise — the reference's actual behavior
    // (KinesisThreadJobs.cs:778-801), despite README claiming numeric.
    val d = """{"v":"9"}"""
    assert(one(d, PayloadFilter("v", "Greater Than", "1000")))
    assert(!one(d, PayloadFilter("v", "Less Than", "1000")))
    assert(one(d, PayloadFilter("v", "Greater Than or Equal", "9")))
    assert(one(d, PayloadFilter("v", "Less Than or Equal", "9")))
    assert(one(doc, PayloadFilter("s", "Greater Than (Case Insensitive)", "GOODBYE")))
    assert(one(doc, PayloadFilter("s", "Less Than (Case Insensitive)", "hellp")))
    assert(one(doc, PayloadFilter("s", "Greater Than or Equal (Case Insensitive)", "HELLO")))
    assert(one(doc, PayloadFilter("s", "Less Than or Equal (Case Insensitive)", "HELLO")))
  }

  test("numeric JSON values compare as their string form") {
    val d = """{"k": 87}"""
    assert(one(d, PayloadFilter("k", "Equals", "87")))
    assert(one(d, PayloadFilter("k", "Greater Than", "50"))) // "87" > "50"
    assert(!one(d, PayloadFilter("k", "Greater Than", "9"))) // "87" < "9"
  }

  test("AND: all must match; first fail rejects (TJ:809-810)") {
    val spec = FilterSpec(Seq(
      PayloadFilter("s", "Starts With", "He"),
      PayloadFilter("n", "Equals", "42")))
    assert(verdicts(Seq(doc), spec) == Seq(true))
    val spec2 = FilterSpec(Seq(
      PayloadFilter("s", "Starts With", "He"),
      PayloadFilter("n", "Equals", "43")))
    assert(verdicts(Seq(doc), spec2) == Seq(false))
  }

  test("OR: any match accepts (TJ:807-808)") {
    val spec = FilterSpec(Seq(
      PayloadFilter("s", "Equals", "nope"),
      PayloadFilter("n", "Equals", "42")), useOr = true)
    assert(verdicts(Seq(doc), spec) == Seq(true))
    val spec2 = FilterSpec(Seq(
      PayloadFilter("s", "Equals", "nope"),
      PayloadFilter("n", "Equals", "43")), useOr = true)
    assert(verdicts(Seq(doc), spec2) == Seq(false))
  }

  test("missing property: AND rejects, OR skips (TJ:736-741)") {
    assert(!one(doc, PayloadFilter("missing", "Equals", "x")))
    // Not Equals on a missing property is ALSO a reject under AND — the
    // reference returns false before the verb is even evaluated.
    assert(!one(doc, PayloadFilter("missing", "Not Equals", "x")))
    val orSpec = FilterSpec(Seq(
      PayloadFilter("missing", "Equals", "x"),
      PayloadFilter("n", "Equals", "42")), useOr = true)
    assert(verdicts(Seq(doc), orSpec) == Seq(true))
    val orMiss = FilterSpec(Seq(
      PayloadFilter("missing", "Equals", "x")), useOr = true)
    assert(verdicts(Seq(doc), orMiss) == Seq(false))
  }

  test("parse failure passes the record through (P8, TJ:694-714)") {
    val bad = """{"k": 87"""
    val spec = FilterSpec(Seq(PayloadFilter("k", "Equals", "nomatch")))
    assert(verdicts(Seq(bad), spec) == Seq(true))   // delivered despite filter
    assert(verdicts(Seq(doc), spec) == Seq(false))  // valid JSON is filtered
  }

  test("empty filter list delivers everything regardless of useOr (TJ:694)") {
    assert(verdicts(Seq(doc), FilterSpec(Nil, useOr = false)) == Seq(true))
    assert(verdicts(Seq(doc), FilterSpec(Nil, useOr = true)) == Seq(true))
  }

  test("unknown verb fails at compile time (P9, TJ:802-804)") {
    val spec = FilterSpec(Seq(PayloadFilter("s", "Approximately", "x")))
    intercept[IllegalArgumentException] {
      FilterCompiler.compile(spec, col("body"))
    }
  }

  test("validation rejects empty property/verb/value (P10, MQ:459-470)") {
    assert(FilterValidation.validate(FilterSpec(Seq(
      PayloadFilter("", "Equals", "x")))).nonEmpty)
    assert(FilterValidation.validate(FilterSpec(Seq(
      PayloadFilter("p", "", "x")))).nonEmpty)
    assert(FilterValidation.validate(FilterSpec(Seq(
      PayloadFilter("p", "Equals", "")))).nonEmpty)
    assert(FilterValidation.validate(FilterSpec(Seq(
      PayloadFilter("p", "Equals", "x")))).isEmpty)
  }

  test("validation rejects malformed property paths (P4 grammar)") {
    for (p <- Seq("ids[", "a..b", "user.score]", ".a", "a.", "a[x]", "a[0]b"))
      assert(FilterValidation.validate(FilterSpec(Seq(
        PayloadFilter(p, "Equals", "x")))).nonEmpty, p)
    for (p <- Seq("k", "a.b.c", "ids[0]", "a.items[2].id", "m[0][1]"))
      assert(FilterValidation.validate(FilterSpec(Seq(
        PayloadFilter(p, "Equals", "x")))).isEmpty, p)
    // on the compile and consume paths too: one typo under AND would
    // otherwise silently filter out every record
    intercept[IllegalArgumentException] {
      FilterCompiler.compile(
        FilterSpec(Seq(PayloadFilter("ids[", "Equals", "x"))), col("body"))
    }
  }

  test("nested JSON path with arbitrary depth") {
    val deep = """{"a":{"b":{"c":"leaf"}}}"""
    assert(one(deep, PayloadFilter("a.b.c", "Equals", "leaf")))
  }

  private def oneTyped(body: String, f: PayloadFilter): Boolean =
    Seq(body).toDF("body")
      .select(FilterCompiler.compileTyped(FilterSpec(Seq(f)), col("body"))
        .as("v")).head().getBoolean(0)

  test("typed extension compares numerically where S1 compares ordinally") {
    val d9 = """{"n":"9"}"""
    // the locked-in reference semantics: "9" > "10" ordinally
    assert(one(d9, PayloadFilter("n", "Greater Than", "10")))
    // the typed extension: 9 > 10 is false, 9 < 10 is true
    assert(!oneTyped(d9, PayloadFilter("n", "Greater Than", "10")))
    assert(oneTyped(d9, PayloadFilter("n", "Less Than", "10")))
    // bare JSON numbers work the same as quoted ones
    assert(oneTyped("""{"n":42}""", PayloadFilter("n", "Equals", "42")))
  }

  test("typed extension keeps P7/P8: missing→non-match, non-object→deliver") {
    assert(!oneTyped("""{"other":1}""", PayloadFilter("n", "Equals", "1")))
    assert(!oneTyped("""{"n":"abc"}""", PayloadFilter("n", "Equals", "1")))
    assert(oneTyped("not json", PayloadFilter("n", "Equals", "1")))
    assert(oneTyped("[1,2]", PayloadFilter("n", "Equals", "1")))
  }

  test("typed extension rejects substring verbs and non-numeric values") {
    intercept[IllegalArgumentException] {
      FilterCompiler.compileTyped(
        FilterSpec(Seq(PayloadFilter("n", "Contains", "1"))), col("body"))
    }
    intercept[IllegalArgumentException] {
      FilterCompiler.compileTyped(
        FilterSpec(Seq(PayloadFilter("n",
          "Greater Than (Case Insensitive)", "1"))), col("body"))
    }
    intercept[IllegalArgumentException] {
      FilterCompiler.compileTyped(
        FilterSpec(Seq(PayloadFilter("n", "Equals", "abc"))), col("body"))
    }
  }

  // ---- truth table ---------------------------------------------------

  /** One (body, spec, expected verdict) row; `typed` runs it through
    * [[FilterCompiler.compileTyped]] instead of [[FilterCompiler.compile]].
    */
  private case class Row(body: String, spec: FilterSpec, expect: Boolean,
      typed: Boolean = false)

  private def and(fs: PayloadFilter*) = FilterSpec(fs)
  private def or(fs: PayloadFilter*) = FilterSpec(fs, useOr = true)
  private def f(p: String, verb: String, v: String) = PayloadFilter(p, verb, v)

  private val adminIs = and(f("user.type", "Equals", "Admin"))
  private val arrays = """{"ids":["purchase","backup"],"ks":[7,5]}"""
  private val eventNot = and(f("event.type", "Not Equals", "refund"))

  private val table = Seq(
    // object, missing property, composition
    Row(doc, adminIs, true),
    Row(doc, and(f("n", "Greater Than", "100")), true),  // S1: "42" > "100"
    Row(doc, and(f("user.type", "Equals", "Admin"),
      f("missing", "Equals", "x")), false),                // P7 under AND
    Row(doc, or(f("user.type", "Equals", "nope"),
      f("s", "Starts With (Case Insensitive)", "hel")), true),
    Row("""{"s":"Hello"}""", adminIs, false),
    Row("""{"s":"Hello"}""", or(f("missing", "Equals", "x"),
      f("s", "Equals", "Hello")), true),                   // P7 under OR
    Row(doc, FilterSpec(Nil), true),                       // TJ:694 guard
    Row(doc, FilterSpec(Nil, useOr = true), true),
    // P8: not a JSON object ⇒ delivered unfiltered
    Row("[1,2,3]", adminIs, true),
    Row("42", adminIs, true),
    Row("\"just a string\"", adminIs, true),
    Row("not json at all", adminIs, true),
    Row("""{"k": 87""", adminIs, true),
    Row("null", adminIs, true),
    Row(null, adminIs, true),
    // array-index paths; out of range is missing
    Row(arrays, and(f("ids[0]", "Equals", "purchase")), true),
    Row("""{"ids":["refund"]}""", and(f("ids[0]", "Equals", "purchase")),
      false),
    Row("""{"ids":[]}""", and(f("ids[0]", "Equals", "purchase")), false),
    Row(arrays, and(f("ks[1]", "Equals", "5")), true),
    Row(arrays, and(f("ks[0]", "Greater Than", "10")), true), // "7" > "10"
    Row("""{"a":{"items":[{"id":"x"},{"id":"y"}]}}""",
      and(f("a.items[1].id", "Equals", "y")), true),
    // an intermediate key that is not an object: the path is missing
    Row("""{"event":{"type":"click"}}""", eventNot, true),
    Row("""{"event":"click"}""", eventNot, false),
    Row("""{"event":["click"]}""", eventNot, false),
    Row("""{"event":5}""", eventNot, false),
    // parser details shared with get_json_object
    Row("{\"k\":\"a\nb\"}", and(f("k", "Equals", "a\nb")), true),
    Row("{\"k\":\"a\nb\"}", and(f("k", "Equals", "x")), false),
    Row("""{"k":"87","z":NaN}""", and(f("k", "Equals", "x")), true),
    Row("""{"k":"87","z":007}""", and(f("k", "Equals", "x")), true),
    Row("""{'k':'87'}""", and(f("k", "Equals", "87")), true),
    Row("""{'k':'87'}""", and(f("k", "Equals", "x")), false),
    Row("""{"k":"87"} trailing""", and(f("k", "Equals", "x")), false),
    Row("""{"k":"87"} trailing""", and(f("k", "Equals", "87")), true),
    Row("""{"k":"a\"b"}""", and(f("k", "Equals", "a\"b")), true),
    Row("{\"k\":\"caf" + '\\' + "u00e9\"}", and(f("k", "Equals", "café")),
      true),
    Row("""{"K":"87"}""", and(f("k", "Equals", "87")), false),
    Row("""{"k":1.50,"o":{"a" : 1}}""", and(f("k", "Equals", "1.5"),
      f("o", "Equals", "{\"a\":1}")), true),               // compact forms
    Row("""{"e":{"t":"a","t":"b"}}""", and(f("e.t", "Equals", "a")), true),
    Row("""{"e":{"t":"a","t":"b"}}""", and(f("e.t", "Equals", "b")), false),
    // keys that differ only in case are different keys, in one spec too
    Row("""{"k":"a","K":"b"}""", and(f("k", "Equals", "a"),
      f("K", "Equals", "b")), true),
    Row("""{"k":"a","K":"b"}""", or(f("k", "Equals", "b"),
      f("K", "Equals", "a")), false),
    // a string whose text is a JSON object is a string: a path through it
    // is missing (P7), as for any other string
    Row("""{"event":"{\"type\":\"refund\"}"}""",
      and(f("event.type", "Equals", "refund")), false),
    Row("""{"event":"{\"type\":\"click\"}"}""", eventNot, false),
    Row("""{"ids":"[\"purchase\"]"}""", and(f("ids[0]", "Equals", "purchase")),
      false),
    // the one verdict that differs from a whole-body get_json_object: a
    // duplicate top-level key reads its LAST value
    Row("""{"k":"a","k":"b"}""", and(f("k", "Equals", "b")), true),
    // typed extension: numeric verbs, same P7/P8
    Row(doc, and(f("n", "Greater Than", "100")), false, typed = true),
    Row("""{"n":"9"}""", and(f("n", "Less Than or Equal", "42")), true,
      typed = true),
    Row("""{"n":"9"}""", and(f("n", "Greater Than or Equal", "9"),
      f("n", "Less Than", "50")), true, typed = true),
    Row("""{"n":"abc"}""", and(f("n", "Equals", "1")), false, typed = true),
    Row("""{"s":"Hello"}""", and(f("n", "Equals", "42")), false,
      typed = true),
    Row(doc, or(f("n", "Equals", "42"), f("missing", "Not Equals", "5")),
      true, typed = true),
    Row(arrays, and(f("ks[0]", "Greater Than", "10")), false, typed = true),
    Row("""{"event":"5"}""", and(f("event.type", "Less Than", "10")), false,
      typed = true),
    Row("[1,2,3]", and(f("n", "Greater Than", "100")), true, typed = true),
    Row("not json at all", and(f("n", "Equals", "1")), true, typed = true),
    Row("null", and(f("n", "Equals", "1")), true, typed = true),
    Row(null, and(f("n", "Equals", "1")), true, typed = true))

  test("truth table: compile and compileTyped verdicts per (body, spec)") {
    // one job: every row's predicate is a column over every body, and
    // each row reads its own cell
    val cols = table.zipWithIndex.map { case (r, i) =>
      val c = if (r.typed) FilterCompiler.compileTyped(r.spec, col("body"))
        else FilterCompiler.compile(r.spec, col("body"))
      c.as(s"v$i")
    }
    val got = table.map(_.body).toDF("body").select(cols: _*).collect()
    for ((r, i) <- table.zipWithIndex)
      assert(got(i).getBoolean(i) == r.expect,
        s"row $i: body=${r.body} spec=${r.spec} typed=${r.typed}")
  }
}
