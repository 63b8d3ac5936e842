package graft.filters

/** One payload-filter predicate: (JSON-path property, verb, literal value).
  *
  * Reference: `Decisions.Kinesis/KinesisPayloadFilter.cs:13-65` — an ORM
  * entity with `property` (PF:22-25), `filterverb` (PF:27-31), `value`
  * (PF:33-36). The value is always a string; every comparison in the
  * reference is a string comparison (`KinesisThreadJobs.cs:743`).
  */
final case class PayloadFilter(property: String, verb: String, value: String)

/** A full filter specification: conjunctive (`useOr=false`, all must match)
  * or disjunctive (`useOr=true`, any may match).
  *
  * Reference: `Decisions.Kinesis/KinesisMessageQueue.cs:70-88`
  * (`PayloadFilters[]` + `UseOr`, default AND).
  */
final case class FilterSpec(filters: Seq[PayloadFilter], useOr: Boolean = false)

object FilterVerbs {
  val CaseInsensitiveSuffix = " (Case Insensitive)"

  val Equals = "Equals"
  val NotEquals = "Not Equals"
  val Contains = "Contains"
  val StartsWith = "Starts With"
  val EndsWith = "Ends With"
  val GreaterThan = "Greater Than"
  val LessThan = "Less Than"
  val GreaterThanOrEqual = "Greater Than or Equal"
  val LessThanOrEqual = "Less Than or Equal"

  /** The nine base verbs (`KinesisPayloadFilter.cs:39-65`); each also has a
    * " (Case Insensitive)" variant — 18 total.
    */
  val base: Seq[String] = Seq(Equals, NotEquals, Contains, StartsWith,
    EndsWith, GreaterThan, LessThan, GreaterThanOrEqual, LessThanOrEqual)

  val all: Seq[String] = base ++ base.map(_ + CaseInsensitiveSuffix)

  def isKnown(verb: String): Boolean = all.contains(verb)
}

/** Config-time validation of a filter spec.
  *
  * Reference: `Decisions.Kinesis/KinesisMessageQueue.cs:459-470`
  * (`GetAdditionalValidationIssues` — non-empty property/verb/value) and
  * `KinesisThreadJobs.cs:802-804` (unknown verb rejected). A property
  * must also parse as a path: `ids[`, `a..b` or `user.score]` would
  * otherwise compile to a lookup that never matches, which under AND
  * silently filters out every record.
  */
object FilterValidation {
  /** One segment of a property path (P4): a name, then any `[n]` indices. */
  private val Segment = "[^\\[\\]]+(\\[\\d+\\])*".r

  def validate(spec: FilterSpec): Seq[String] = {
    // json4s maps {"filters": null} to FilterSpec(null) — report it like
    // any other issue instead of NPEing out of the validator
    if (spec.filters == null)
      return Seq("Payload filter list must not be null")
    spec.filters.flatMap { f =>
    val issues = Seq.newBuilder[String]
    if (f.property == null || f.property.trim.isEmpty)
      issues += s"Payload filter property must not be empty: $f"
    else if (!f.property.split("\\.", -1).forall(Segment.matches))
      issues += s"Malformed payload filter property path '${f.property}': " +
        "expected name([n])* segments joined by '.'"
    if (f.verb == null || f.verb.trim.isEmpty)
      issues += s"Payload filter verb must not be empty: $f"
    else if (!FilterVerbs.isKnown(f.verb))
      issues += s"Unknown filter verb '${f.verb}'"
    if (f.value == null || f.value.isEmpty)
      issues += s"Payload filter value must not be empty: $f"
    issues.result()
    }
  }

  def requireValid(spec: FilterSpec): Unit = {
    val issues = validate(spec)
    if (issues.nonEmpty)
      throw new IllegalArgumentException(issues.mkString("; "))
  }
}
