package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.filters._

/** The reference's query core expressed as oracle-checkable batch queries
  * over the `events` fixture (`props` = the JSON message body, SURVEY §2.3).
  *
  * Each query compiles a [[FilterSpec]] with [[FilterCompiler]] — the same
  * code path, one parse per body, that `QueueRuntime` runs on the consume
  * path — so the DuckDB differential check locks in the reference's
  * semantics: string-only comparisons (finding S1,
  * `KinesisThreadJobs.cs:743,778-801`), AND/OR composition (`:807-813`),
  * missing-property handling (`:736-741`), parse-failure pass-through
  * (`:694-714`). No query declares a parse schema: the compiler derives it
  * from the spec, and a query that also projects a property reads it with
  * the compiler's `extract`.
  */
object FilterQueries {
  type Q = (SparkSession, String) => DataFrame

  private def events(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)

  /** The events whose JSON `body` passes `spec`, as ordered ids. */
  private def passing(spec: FilterSpec, body: Column = col("props"),
      compile: (FilterSpec, Column) => Column = FilterCompiler.compile): Q =
    (s, d) => events(s, d).filter(compile(spec, body))
      .select(col("event_id")).orderBy("event_id")

  /** Spark side of a query whose `spec` filters on `props.$.k` and that
    * also projects `k`: the verdict and the projection read the same parse.
    */
  private def onK(spec: FilterSpec): Q = (s, d) => {
    val (body, parsed) = (col("props"), col("parsed"))
    events(s, d)
      .withColumn("parsed", FilterCompiler.parse(body, spec))
      .filter(FilterCompiler.verdict(spec, body, parsed))
      .select(col("event_id"),
        FilterCompiler.extract(spec, body, parsed, "k").as("k"))
      .orderBy("event_id")
  }

  /** A one-verb query on `props.$.k` (case-sensitive family). */
  private def verbOnK(verb: String, value: String): Q =
    onK(FilterSpec(Seq(PayloadFilter("k", verb, value))))

  private def verbOnKSql(op: String, value: String): String =
    s"""SELECT event_id, json_extract_string(props, '$$.k') AS k
       |FROM events
       |WHERE json_extract_string(props, '$$.k') $op '$value'
       |ORDER BY event_id""".stripMargin

  /** Case-insensitive family runs against a JSON body synthesized from
    * `event_type` (identical text in both engines) so that case actually
    * varies: `{"t":"purchase"}` etc.
    */
  private def ciBody = concat(lit("{\"t\":\""), col("event_type"), lit("\"}"))
  private val ciBodySql = """concat('{"t":"', event_type, '"}')"""

  private def verbOnTypeCi(baseVerb: String, value: String): Q = (s, d) => {
    val spec = FilterSpec(Seq(
      PayloadFilter("t", baseVerb + FilterVerbs.CaseInsensitiveSuffix, value)))
    events(s, d)
      .filter(FilterCompiler.compile(spec, ciBody))
      .select(col("event_id"), col("event_type"))
      .orderBy("event_id")
  }

  private def verbOnTypeCiSql(predicate: String): String =
    s"""SELECT event_id, event_type
       |FROM (SELECT event_id, event_type,
       |        lower(json_extract_string($ciBodySql, '$$.t')) AS t
       |      FROM events)
       |WHERE $predicate
       |ORDER BY event_id""".stripMargin

  val queries: Map[String, Q] = Map(
    // ---- the nine case-sensitive verbs (string semantics, finding S1) ----
    "f_eq" -> verbOnK(FilterVerbs.Equals, "87"),
    "f_neq" -> verbOnK(FilterVerbs.NotEquals, "87"),
    "f_contains" -> verbOnK(FilterVerbs.Contains, "7"),
    "f_starts" -> verbOnK(FilterVerbs.StartsWith, "8"),
    "f_ends" -> verbOnK(FilterVerbs.EndsWith, "3"),
    // "9" > "50" and "100" < "50" under ordinal string compare — the oracle
    // (string-typed in DuckDB too) locks in that the engine does NOT
    // numerically coerce, same as the reference.
    "f_gt" -> verbOnK(FilterVerbs.GreaterThan, "50"),
    "f_lt" -> verbOnK(FilterVerbs.LessThan, "50"),
    "f_gte" -> verbOnK(FilterVerbs.GreaterThanOrEqual, "50"),
    "f_lte" -> verbOnK(FilterVerbs.LessThanOrEqual, "50"),
    // ---- the nine case-insensitive variants ----
    "f_eq_ci" -> verbOnTypeCi(FilterVerbs.Equals, "PURCHASE"),
    "f_neq_ci" -> verbOnTypeCi(FilterVerbs.NotEquals, "ERROR"),
    "f_contains_ci" -> verbOnTypeCi(FilterVerbs.Contains, "IGN"),
    "f_starts_ci" -> verbOnTypeCi(FilterVerbs.StartsWith, "Pur"),
    "f_ends_ci" -> verbOnTypeCi(FilterVerbs.EndsWith, "UP"),
    "f_gt_ci" -> verbOnTypeCi(FilterVerbs.GreaterThan, "ERROR"),
    "f_lt_ci" -> verbOnTypeCi(FilterVerbs.LessThan, "Purchase"),
    "f_gte_ci" -> verbOnTypeCi(FilterVerbs.GreaterThanOrEqual, "SIGNUP"),
    "f_lte_ci" -> verbOnTypeCi(FilterVerbs.LessThanOrEqual, "click"),
    // ---- composition (P6) ----
    "f_and" -> onK(FilterSpec(Seq(
      PayloadFilter("k", FilterVerbs.GreaterThan, "2"),
      PayloadFilter("k", FilterVerbs.LessThan, "6"),
      PayloadFilter("k", FilterVerbs.Contains, "3")))),
    "f_or" -> onK(FilterSpec(Seq(
      PayloadFilter("k", FilterVerbs.Equals, "87"),
      PayloadFilter("k", FilterVerbs.Equals, "12"),
      PayloadFilter("k", FilterVerbs.StartsWith, "99")), useOr = true)),
    // ---- missing property (P7): AND rejects, OR skips ----
    "f_missing_and" -> passing(FilterSpec(Seq(
      PayloadFilter("k", FilterVerbs.GreaterThan, "1"),
      PayloadFilter("nope", FilterVerbs.Equals, "x")))),
    "f_missing_or" -> passing(FilterSpec(Seq(
      PayloadFilter("nope", FilterVerbs.Equals, "x"),
      PayloadFilter("k", FilterVerbs.Equals, "87")), useOr = true)),
    // ---- parse-failure pass-through (P8) ----
    // Deterministically corrupt every 10th body, then filter k=87: the
    // corrupt records must be DELIVERED (reference catch falls through to
    // dispatch, `KinesisThreadJobs.cs:705-714`).
    "f_parse_passthrough" -> passing(
      FilterSpec(Seq(PayloadFilter("k", FilterVerbs.Equals, "87"))),
      when(col("event_id") % 10 === 0, substring(col("props"), 1, 3))
        .otherwise(col("props"))),
    // ---- typed-comparison EXTENSION: numeric verbs over JSON fields.
    // Not reference behavior (S1 string semantics stay the default);
    // gate-checked so the extension surface is as hard-verified as the
    // ported one. ft_gt_typed vs f_gt differ on ~800 rows at sf0.01
    // ("9" > "10" string-wise but not numerically). ----
    "ft_gt_typed" -> passing(FilterSpec(Seq(
      PayloadFilter("k", FilterVerbs.GreaterThan, "10"))),
      compile = FilterCompiler.compileTyped),
    "ft_range_typed" -> passing(FilterSpec(Seq( // 25 ≤ k < 75, numerically
      PayloadFilter("k", FilterVerbs.GreaterThanOrEqual, "25"),
      PayloadFilter("k", FilterVerbs.LessThan, "75"))),
      compile = FilterCompiler.compileTyped),
    // ---- P8 object-shape: top-level arrays / bare scalars are NOT
    // JObjects — JObject.Parse throws and the record is delivered
    // unfiltered, exactly like malformed JSON ----
    "f_object_only" -> passing(
      FilterSpec(Seq(PayloadFilter("k", FilterVerbs.GreaterThan, "5"))),
      when(col("event_id") % 4 === 1, lit("[1,2,3]"))
        .when(col("event_id") % 4 === 2,
          get_json_object(col("props"), "$.k")) // bare numeric scalar
        .when(col("event_id") % 4 === 3, lit("\"just a string\""))
        .otherwise(col("props"))), // a real object: filters apply
    // ---- empty filter list: everything delivered (TJ:694 guard) ----
    "f_empty_spec" -> passing(FilterSpec(Nil, useOr = true)),
    // ---- JSON array paths: SelectToken supports indexing ("items[0].id");
    // the filter and both projections read paths the same way ----
    "f_array_path" -> { (s, d) =>
      val spec = FilterSpec(Seq(
        PayloadFilter("ids[0]", FilterVerbs.Equals, "purchase")))
      val (body, parsed) = (col("body"), col("parsed"))
      events(s, d)
        .withColumn("body", concat(lit("{\"ids\":[\""), col("event_type"),
          lit("\",\"backup\"],\"ks\":["),
          get_json_object(col("props"), "$.k"), lit(",5]}")))
        .withColumn("parsed", FilterCompiler.parse(body, spec))
        .filter(FilterCompiler.verdict(spec, body, parsed))
        .select(col("event_id"),
          FilterCompiler.extract(spec, body, parsed, "ks[0]").as("k0"),
          FilterCompiler.extract(spec, body, parsed, "ids[1]").as("backup"))
        .orderBy("event_id")
    },
    // ---- metadata/data projections (P1-P3, KinesisUtils.cs:146-183) ----
    "f_projection" -> { (s, d) =>
      Tables.events(s, d).select(
        col("event_id").cast("string").as("sequence_number"),
        col("user_id").cast("string").as("partition_key"),
        date_format(date_trunc("second", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("arrival"),
        // P3 analog: null-defaulting projection (EncryptionType ?? "None")
        coalesce(nullif(col("event_type"), lit("error")), lit("None"))
          .as("encryption_type"))
        .orderBy(col("sequence_number"))
    })

  val oracles: Map[String, String] = Map(
    "f_eq" -> verbOnKSql("=", "87"),
    "f_neq" -> verbOnKSql("<>", "87"),
    "f_contains" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k
        |FROM events
        |WHERE contains(json_extract_string(props, '$.k'), '7')
        |ORDER BY event_id""".stripMargin,
    "f_starts" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k
        |FROM events
        |WHERE starts_with(json_extract_string(props, '$.k'), '8')
        |ORDER BY event_id""".stripMargin,
    "f_ends" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k
        |FROM events
        |WHERE ends_with(json_extract_string(props, '$.k'), '3')
        |ORDER BY event_id""".stripMargin,
    "f_gt" -> verbOnKSql(">", "50"),
    "f_lt" -> verbOnKSql("<", "50"),
    "f_gte" -> verbOnKSql(">=", "50"),
    "f_lte" -> verbOnKSql("<=", "50"),
    "f_eq_ci" -> verbOnTypeCiSql("t = lower('PURCHASE')"),
    "f_neq_ci" -> verbOnTypeCiSql("t <> lower('ERROR')"),
    "f_contains_ci" -> verbOnTypeCiSql("contains(t, lower('IGN'))"),
    "f_starts_ci" -> verbOnTypeCiSql("starts_with(t, lower('Pur'))"),
    "f_ends_ci" -> verbOnTypeCiSql("ends_with(t, lower('UP'))"),
    "f_gt_ci" -> verbOnTypeCiSql("t > lower('ERROR')"),
    "f_lt_ci" -> verbOnTypeCiSql("t < lower('Purchase')"),
    "f_gte_ci" -> verbOnTypeCiSql("t >= lower('SIGNUP')"),
    "f_lte_ci" -> verbOnTypeCiSql("t <= lower('click')"),
    "f_and" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k
        |FROM events
        |WHERE json_extract_string(props, '$.k') > '2'
        |  AND json_extract_string(props, '$.k') < '6'
        |  AND contains(json_extract_string(props, '$.k'), '3')
        |ORDER BY event_id""".stripMargin,
    "f_or" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k
        |FROM events
        |WHERE json_extract_string(props, '$.k') = '87'
        |   OR json_extract_string(props, '$.k') = '12'
        |   OR starts_with(json_extract_string(props, '$.k'), '99')
        |ORDER BY event_id""".stripMargin,
    "f_missing_and" ->
      """SELECT event_id FROM events
        |WHERE json_extract_string(props, '$.k') > '1'
        |  AND json_extract_string(props, '$.nope') = 'x'
        |ORDER BY event_id""".stripMargin,
    "f_missing_or" ->
      """SELECT event_id FROM events
        |WHERE json_extract_string(props, '$.nope') = 'x'
        |   OR json_extract_string(props, '$.k') = '87'
        |ORDER BY event_id""".stripMargin,
    "f_parse_passthrough" ->
      """SELECT event_id FROM (
        |  SELECT event_id,
        |         CASE WHEN event_id % 10 = 0 THEN substr(props, 1, 3)
        |              ELSE props END AS body
        |  FROM events)
        |WHERE CASE WHEN coalesce(
        |             CASE WHEN json_valid(body) THEN json_type(body) END
        |               = 'OBJECT', FALSE)
        |           THEN json_extract_string(body, '$.k') = '87'
        |           ELSE TRUE END
        |ORDER BY event_id""".stripMargin,
    // the oracles mirror compileTyped's full semantics INCLUDING the
    // non-object deliver branch (every fixture props row happens to be a
    // valid object, but the oracle must not rely on that staying true)
    "ft_gt_typed" ->
      """SELECT event_id FROM events
        |WHERE CASE WHEN coalesce(
        |        CASE WHEN json_valid(props) THEN json_type(props) END
        |          = 'OBJECT', FALSE)
        |      THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
        |             > 10
        |      ELSE TRUE END
        |ORDER BY event_id""".stripMargin,
    "ft_range_typed" ->
      """SELECT event_id FROM events
        |WHERE CASE WHEN coalesce(
        |        CASE WHEN json_valid(props) THEN json_type(props) END
        |          = 'OBJECT', FALSE)
        |      THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
        |             >= 25
        |       AND TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
        |             < 75
        |      ELSE TRUE END
        |ORDER BY event_id""".stripMargin,
    "f_object_only" ->
      """SELECT event_id FROM (
        |  SELECT event_id,
        |         CASE WHEN event_id % 4 = 1 THEN '[1,2,3]'
        |              WHEN event_id % 4 = 2
        |                THEN json_extract_string(props, '$.k')
        |              WHEN event_id % 4 = 3 THEN '"just a string"'
        |              ELSE props END AS body
        |  FROM events)
        |WHERE NOT coalesce(
        |        CASE WHEN json_valid(body) THEN json_type(body) END
        |          = 'OBJECT', FALSE)
        |   OR json_extract_string(body, '$.k') > '5'
        |ORDER BY event_id""".stripMargin,
    "f_empty_spec" ->
      "SELECT event_id FROM events ORDER BY event_id",
    "f_array_path" ->
      """SELECT event_id,
        |       json_extract_string(body, '$.ks[0]') AS k0,
        |       json_extract_string(body, '$.ids[1]') AS backup
        |FROM (
        |  SELECT event_id,
        |    concat('{"ids":["', event_type, '","backup"],"ks":[',
        |           json_extract_string(props, '$.k'), ',5]}') AS body
        |  FROM events)
        |WHERE json_extract_string(body, '$.ids[0]') = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "f_projection" ->
      """SELECT CAST(event_id AS VARCHAR) AS sequence_number,
        |       CAST(user_id AS VARCHAR) AS partition_key,
        |       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
        |         AS arrival,
        |       coalesce(nullif(event_type, 'error'), 'None')
        |         AS encryption_type
        |FROM events
        |ORDER BY sequence_number""".stripMargin)
}
