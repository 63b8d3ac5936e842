package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filters.{FilterCompiler, FilterSpec, FilterVerbs, PayloadFilter}

/** Differential property test for the filter compiler: the compiled
  * Catalyst predicate must agree with an INDEPENDENT Scala interpreter of
  * the reference semantics (`KinesisThreadJobs.cs:694-814`) on randomized
  * (document, spec) pairs — ordinal string comparisons, case-insensitive
  * variants, missing-property non-match, AND/OR composition, and
  * non-object/malformed pass-through, and a nested path whose
  * intermediate key holds an object in some docs and a string (plain, or
  * an object's JSON text) or an array in others (missing, P7). 60 random
  * specs × 48 random docs evaluate as ONE Spark job (each spec compiled
  * as a column), so the 2,880-cell matrix costs a single collect.
  */
class FilterPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  // --- deterministic generators -------------------------------------
  private val rnd = new scala.util.Random(42)
  private val keys = Seq("a", "b", "cc")
  /** Properties specs draw from: the flat keys and a path through `o`. */
  private val props = keys :+ "o.p"
  private def randToken(): String = {
    val alphabet = "abcABC019 _-"
    val n = 1 + rnd.nextInt(6)
    (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      .trim match { case "" => "x"; case s => s }
  }

  /** A field value: a string, a flat object of strings, or an array. */
  private sealed trait Value { def render: String }
  private case class Str(s: String) extends Value {
    def render: String = "\"" + s + "\""
  }
  private case class Obj(fields: Map[String, String]) extends Value {
    def render: String = fields.map { case (k, v) =>
      "\"" + k + "\":" + Str(v).render }.mkString("{", ",", "}")
  }
  private case class Arr(items: Seq[String]) extends Value {
    def render: String = items.map(Str(_).render).mkString("[", ",", "]")
  }
  /** A string whose text is a JSON object: still a string to a path. */
  private case class ObjText(o: Obj) extends Value {
    def render: String = "\"" + o.render.replace("\"", "\\\"") + "\""
  }

  /** A doc is either a known object or a non-object/malformed body. */
  private sealed trait Doc { def render: String }
  private case class ObjDoc(fields: Map[String, Value]) extends Doc {
    def render: String = fields.map { case (k, v) =>
      "\"" + k + "\":" + v.render }.mkString("{", ",", "}")
  }
  private case class RawDoc(body: String) extends Doc {
    def render: String = body
  }

  /** An object doc: a random subset of the flat keys, and `o` absent or
    * holding a string, an array, an object with some of `p`, `q`, or such
    * an object's JSON text as a string.
    */
  private def randObj(value: () => String): ObjDoc = {
    def obj = Obj(Seq("p", "q").filter(_ => rnd.nextBoolean())
      .map(_ -> value()).toMap)
    val o: Seq[(String, Value)] = rnd.nextInt(5) match {
      case 0 => Nil
      case 1 => Seq("o" -> Str(value()))
      case 2 => Seq("o" -> Arr(Seq(value())))
      case 3 => Seq("o" -> ObjText(obj))
      case _ => Seq("o" -> obj)
    }
    ObjDoc((keys.filter(_ => rnd.nextBoolean())
      .map(k => k -> (Str(value()): Value)) ++ o).toMap)
  }

  private def randDoc(): Doc = rnd.nextInt(10) match {
    case 0 => RawDoc(Seq("[1,2,3]", "42", "\"str\"", "{broken",
      "not json at all")(rnd.nextInt(5)))
    case _ => randObj(() => randToken())
  }

  private val allVerbs = {
    import FilterVerbs._
    val base = Seq(Equals, NotEquals, Contains, StartsWith, EndsWith,
      GreaterThan, LessThan, GreaterThanOrEqual, LessThanOrEqual)
    base ++ base.map(_ + CaseInsensitiveSuffix)
  }

  private def randSpec(): FilterSpec = FilterSpec(
    (0 until (1 + rnd.nextInt(3))).map { _ =>
      PayloadFilter(props(rnd.nextInt(props.length)),
        allVerbs(rnd.nextInt(allVerbs.length)), randToken())
    }, useOr = rnd.nextBoolean())

  // --- independent reference interpreter (C# semantics) --------------
  /** `SelectToken`: a path that runs through a non-object is missing. */
  private def lookup(fields: Map[String, Value],
      property: String): Option[String] =
    property.split('.').toList match {
      case k :: Nil => fields.get(k).collect { case Str(v) => v }
      case k :: p :: Nil => fields.get(k).collect { case Obj(m) => m.get(p) }
        .flatten
      case _ => None
    }

  private def refVerb(v: String, verb: String, fv: String): Boolean = {
    import FilterVerbs._
    val ci = verb.endsWith(CaseInsensitiveSuffix)
    val base = if (ci) verb.dropRight(CaseInsensitiveSuffix.length) else verb
    val (l, r) =
      if (ci) (v.toLowerCase(java.util.Locale.ROOT),
        fv.toLowerCase(java.util.Locale.ROOT))
      else (v, fv)
    base match {
      case Equals             => l == r
      case NotEquals          => l != r
      case Contains           => l.contains(r)
      case StartsWith         => l.startsWith(r)
      case EndsWith           => l.endsWith(r)
      case GreaterThan        => l.compareTo(r) > 0 // ordinal (finding S1)
      case LessThan           => l.compareTo(r) < 0
      case GreaterThanOrEqual => l.compareTo(r) >= 0
      case LessThanOrEqual    => l.compareTo(r) <= 0
    }
  }

  private def refDeliver(doc: Doc, spec: FilterSpec): Boolean = doc match {
    case _ if spec.filters.isEmpty => true // TJ:694 guard
    case RawDoc(_) => true                 // JObject.Parse throws ⇒ deliver
    case ObjDoc(fields) =>
      val verdicts = spec.filters.map { f =>
        lookup(fields, f.property) match {
          case None => false // P7: missing ⇒ non-match
          case Some(v) => refVerb(v, f.verb, f.value)
        }
      }
      if (spec.useOr) verdicts.exists(identity)
      else verdicts.forall(identity)
  }

  // --- typed-extension reference interpreter ---------------------------
  private def refTypedVerb(v: String, verb: String, fv: String): Boolean = {
    import FilterVerbs._
    val l = try Some(v.toDouble) catch { case _: Throwable => None }
    val r = fv.toDouble
    l match {
      case None => false // unparseable ⇒ non-match, like missing (P7)
      case Some(x) => verb match {
        case Equals             => x == r
        case NotEquals          => x != r
        case GreaterThan        => x > r
        case LessThan           => x < r
        case GreaterThanOrEqual => x >= r
        case LessThanOrEqual    => x <= r
      }
    }
  }

  private def refDeliverTyped(doc: Doc, spec: FilterSpec): Boolean =
    doc match {
      case _ if spec.filters.isEmpty => true
      case RawDoc(_) => true
      case ObjDoc(fields) =>
        val verdicts = spec.filters.map { f =>
          lookup(fields, f.property) match {
            case None => false
            case Some(v) => refTypedVerb(v, f.verb, f.value)
          }
        }
        if (spec.useOr) verdicts.exists(identity)
        else verdicts.forall(identity)
    }

  private val typedVerbs = {
    import FilterVerbs._
    Seq(Equals, NotEquals, GreaterThan, LessThan, GreaterThanOrEqual,
      LessThanOrEqual)
  }

  private def randNumericish(): String =
    Seq("0", "7", "42", "-3", "3.5", "1000", "9", "10", "abc")(rnd.nextInt(9))

  private def randTypedSpec(): FilterSpec = FilterSpec(
    (0 until (1 + rnd.nextInt(3))).map { _ =>
      PayloadFilter(props(rnd.nextInt(props.length)),
        typedVerbs(rnd.nextInt(typedVerbs.length)),
        // filter value must be numeric (validated); field values may not
        Seq("0", "7", "42", "-3", "3.5", "1000", "9",
          "10")(rnd.nextInt(8)))
    }, useOr = rnd.nextBoolean())

  private def randNumDoc(): Doc = rnd.nextInt(10) match {
    case 0 => RawDoc(Seq("[1,2,3]", "42", "{oops")(rnd.nextInt(3)))
    case _ => randObj(() => randNumericish())
  }

  test("typed compiler == numeric reference interpreter on 40×40 matrix") {
    import spark.implicits._
    val docs = (0 until 40).map(_ => randNumDoc())
    val specs = (0 until 40).map(_ => randTypedSpec())
    val df = docs.zipWithIndex.map { case (d, i) => (i, d.render) }
      .toDF("i", "body")
    val predCols = specs.zipWithIndex.map { case (sp, j) =>
      FilterCompiler.compileTyped(sp, col("body")).as(s"p$j") }
    val got = df.select(col("i") +: predCols: _*).collect()
      .map(r => r.getInt(0) -> (0 until specs.length).map(j =>
        r.getBoolean(j + 1))).toMap
    for ((d, i) <- docs.zipWithIndex; (sp, j) <- specs.zipWithIndex) {
      val expect = refDeliverTyped(d, sp)
      assert(got(i)(j) == expect,
        s"doc=${d.render} spec=$sp: spark=${got(i)(j)} ref=$expect")
    }
    val flat = got.values.flatten
    assert(flat.exists(identity) && flat.exists(!_))
  }

  test("compiled predicate == reference interpreter on 60×48 random matrix") {
    import spark.implicits._
    val docs = (0 until 48).map(_ => randDoc())
    val specs = (0 until 60).map(_ => randSpec())

    val df = docs.zipWithIndex.map { case (d, i) => (i, d.render) }
      .toDF("i", "body")
    val predCols = specs.zipWithIndex.map { case (sp, j) =>
      FilterCompiler.compile(sp, col("body")).as(s"p$j") }
    val got = df.select(col("i") +: predCols: _*).collect()
      .map(r => r.getInt(0) -> (0 until specs.length).map(j =>
        r.getBoolean(j + 1))).toMap

    var checked = 0
    for ((d, i) <- docs.zipWithIndex; (sp, j) <- specs.zipWithIndex) {
      val expect = refDeliver(d, sp)
      assert(got(i)(j) == expect,
        s"doc=${d.render} spec=$sp: spark=${got(i)(j)} ref=$expect")
      checked += 1
    }
    assert(checked == docs.length * specs.length)
    // sanity: the matrix must exercise both outcomes
    val flat = got.values.flatten
    assert(flat.exists(identity) && flat.exists(!_))
  }
}
