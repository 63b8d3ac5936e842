package graft.filters

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GetStructField
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Compiles a [[FilterSpec]] into a Catalyst `Column` predicate tree.
  *
  * This is the Spark-native re-expression of the reference's query core,
  * `ApplyPayloadFilters` (`Decisions.Kinesis/KinesisThreadJobs.cs:731-814`).
  * Instead of a per-record interpreter loop, the spec compiles once into a
  * declarative predicate that runs inside whole-stage codegen, with ONE
  * `from_json` parse per record ([[parse]]) whose schema is derived from
  * the spec: a STRING field for each distinct top-level property (a bare
  * key, no `.` or `[`), plus a corrupt-record field.
  *
  * Semantics reproduced deliberately (SURVEY §2.3):
  *   - P4: a property is a `SelectToken` path, `name([n])*` segments
  *     joined by `.` (grammar checked by [[FilterValidation]]). A top-level
  *     property is read from the parse; a nested one (`event.type`,
  *     `ids[0]`, `a.items[2].id`) by `get_json_object` from the body.
  *     Either way the value is a string, matching
  *     `JObject.SelectToken(...).ToString()` (`KinesisThreadJobs.cs:736,743`):
  *     a STRING field holds a string value's text and any other value's
  *     compact JSON, exactly what `get_json_object` returns. A STRING field
  *     cannot tell a string from an object, so a nested path is not read
  *     from its first key's field: `event.type` on `{"event":"{\"type\":
  *     \"a\"}"}` would read `a`, where `SelectToken` finds nothing.
  *   - P5/S1: ALL comparisons are string comparisons, even
  *     Greater/Less Than — `string.Compare(..., Ordinal)`
  *     (`KinesisThreadJobs.cs:778-801`): `"9" > "1000"` is TRUE.
  *     Spark's UTF8String binary ordering matches ordinal for ASCII.
  *   - P6: AND = all match, OR = any matches; an empty list delivers
  *     everything regardless of `useOr`, because the reference only calls
  *     `ApplyPayloadFilters` when `PayloadFilters?.Length > 0`
  *     (`KinesisThreadJobs.cs:694,807-813`).
  *   - P7: missing property ⇒ non-match for that filter (AND rejects the
  *     record, OR skips the filter; `KinesisThreadJobs.cs:736-741`). A path
  *     that runs through a non-object (`event.type` where `event` is a
  *     string, number or array) is missing too. Under Spark 3-valued logic
  *     `null <op> x` is null; `coalesce(pred, false)` makes it a real false.
  *   - P8: a body that is not a JSON object BYPASSES the filters and is
  *     delivered (`KinesisThreadJobs.cs:694-714`: `JObject.Parse` throws,
  *     the catch falls through to dispatch) — malformed text, a top-level
  *     array, a bare scalar or string, `null`, a null body. Every declared
  *     field is a STRING, so no value can mismatch its type: the corrupt
  *     field is non-null exactly when the body is not an object, and a
  *     null body parses to a null struct. The parser options are
  *     `get_json_object`'s: unquoted control characters are accepted,
  *     `NaN` and leading-zero numbers are malformed.
  *   - P9: unknown verb ⇒ error at compile time
  *     (`KinesisThreadJobs.cs:802-804` logs + rejects per-record; we fail
  *     fast instead, which is strictly safer).
  *
  * One document reads differently from a whole-body `get_json_object`: a
  * duplicate top-level key resolves to its last value (`from_json`), not
  * its first.
  */
object FilterCompiler {
  import FilterVerbs._

  /** Parse field that is non-null exactly when the body is not a JSON
    * object (see P8 above); the last field of every [[parse]].
    */
  private val CorruptField = "_graft_corrupt"

  private val ParseOptions = java.util.Map.of(
    "columnNameOfCorruptRecord", CorruptField,
    "allowUnquotedControlChars", "true",
    "allowNonNumericNumbers", "false")

  private def isTopLevel(property: String): Boolean =
    !property.exists(c => c == '.' || c == '[')

  /** The keys [[parse]] declares for `spec`, in field order. */
  private def keys(spec: FilterSpec): Seq[String] =
    spec.filters.map(_.property).filter(isTopLevel).distinct

  /** The ONE parse of `body` for `spec`: a STRING field per distinct
    * top-level property of the spec, then [[CorruptField]].
    */
  def parse(body: Column, spec: FilterSpec): Column =
    from_json(body,
      StructType((keys(spec) :+ CorruptField).map(StructField(_, StringType))),
      ParseOptions)

  /** Field `i` of a [[parse]], by position: two keys that differ only in
    * case (`userId`, `UserId`) are different JSON keys, but a by-name
    * lookup under case-insensitive resolution would find both.
    */
  private def field(parsed: Column, i: Int): Column =
    Bridge.column(GetStructField(Bridge.expression(parsed), i))

  /** P4: `property` as a string. A top-level property must be one of
    * `spec`'s and is read from `parsed`, a [[parse]] for `spec`; a nested
    * one is read by `get_json_object` from `body`.
    */
  def extract(spec: FilterSpec, body: Column, parsed: Column,
      property: String): Column =
    if (isTopLevel(property)) keys(spec).indexOf(property) match {
      case -1 => throw new IllegalArgumentException(
        s"Property '$property' is not declared by the parse for $spec")
      case i => field(parsed, i)
    }
    else get_json_object(body, "$." + property)

  /** P5: one verb applied to an already-extracted string value. */
  def verbPredicate(extracted: Column, verb: String, value: String): Column = {
    val ci = verb.endsWith(CaseInsensitiveSuffix)
    val baseVerb = if (ci) verb.dropRight(CaseInsensitiveSuffix.length) else verb
    // Case-insensitive variants lower both sides
    // (`KinesisThreadJobs.cs:748-801` uses OrdinalIgnoreCase / IndexOf CI).
    val l = if (ci) lower(extracted) else extracted
    val v = if (ci) value.toLowerCase(java.util.Locale.ROOT) else value
    baseVerb match {
      case Equals             => l === lit(v)
      case NotEquals          => l =!= lit(v)
      case Contains           => l.contains(lit(v))
      case StartsWith         => l.startsWith(v)
      case EndsWith           => l.endsWith(v)
      case GreaterThan        => l > lit(v)  // string compare — finding S1
      case LessThan           => l < lit(v)
      case GreaterThanOrEqual => l >= lit(v)
      case LessThanOrEqual    => l <= lit(v)
      case other =>
        throw new IllegalArgumentException(s"Unknown filter verb '$other'")
    }
  }

  /** EXTENSION — deliberately NOT reference behavior: numeric comparison
    * verbs. The reference compares everything as ordinal strings (finding
    * S1: `"9" > "1000"` is TRUE, `KinesisThreadJobs.cs:778-801`), which is
    * locked in above; this is the documented typed variant users of
    * numeric JSON fields actually want. Both the extracted value and the
    * filter value cast to double; an unparseable or missing value yields
    * null ⇒ non-match, mirroring P7. Only ordering/equality verbs make
    * sense on numbers — substring verbs and case-insensitive variants are
    * rejected at compile time (P9 discipline).
    */
  def typedVerbPredicate(extracted: Column, verb: String,
      value: String): Column = {
    val v = try value.toDouble catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"Typed comparison needs a numeric value, got '$value'")
    }
    // try_cast, not cast: under ANSI semantics a malformed numeric string
    // must mean "no match" (null ⇒ coalesce false), never a query error
    val l = extracted.try_cast(org.apache.spark.sql.types.DoubleType)
    verb match {
      case Equals             => l === lit(v)
      case NotEquals          => l =!= lit(v)
      case GreaterThan        => l > lit(v)
      case LessThan           => l < lit(v)
      case GreaterThanOrEqual => l >= lit(v)
      case LessThanOrEqual    => l <= lit(v)
      case other => throw new IllegalArgumentException(
        s"Verb '$other' is not a typed (numeric) comparison")
    }
  }

  /** The delivery verdict of `spec` over `body` and its [[parse]] — the
    * form for callers that also [[extract]] from the same parse.
    */
  def verdict(spec: FilterSpec, body: Column, parsed: Column): Column =
    compose(spec, body, parsed, verbPredicate)

  /** The delivery predicate of `spec` over the JSON `body` column. */
  def compile(spec: FilterSpec, body: Column): Column =
    compose(spec, body, parse(body, spec), verbPredicate)

  /** Typed twin of [[compile]]: same parse and composition, numeric verbs. */
  def compileTyped(spec: FilterSpec, body: Column): Column =
    compose(spec, body, parse(body, spec), typedVerbPredicate)

  /** The delivery-critical P6/P7/P8 composition in ONE place: per-filter
    * null ⇒ false (P7), AND/OR reduce (P6), non-objects delivered
    * unfiltered (P8), an empty spec delivers all.
    */
  private def compose(spec: FilterSpec, body: Column, parsed: => Column,
      verb: (Column, String, String) => Column): Column = {
    // by-name `parsed`: an invalid spec fails here, before [[parse]] reads it
    FilterValidation.requireValid(spec)
    if (spec.filters.isEmpty) lit(true)
    else {
      val p = parsed
      val preds = spec.filters.map(f => coalesce(
        verb(extract(spec, body, p, f.property), f.verb, f.value),
        lit(false)))
      val all = if (spec.useOr) preds.reduce(_ || _) else preds.reduce(_ && _)
      val isObject = p.isNotNull && field(p, keys(spec).length).isNull
      when(isObject, all).otherwise(lit(true))
    }
  }
}
