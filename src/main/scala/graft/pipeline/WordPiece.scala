package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** WordPiece merge learning — the BERT-family tokenizer trainer, the
  * likelihood-scored sibling of [[Bpe.learnMerges]]. Two things change
  * versus BPE, both semantic:
  *
  *  1. **Scoring.** A candidate pair is ranked by the likelihood gain
  *     `count(a,b) / (count(a) · count(b))` — merging the pair that most
  *     exceeds its unigram-independence expectation — not by raw pair
  *     count. On the engine's integer discipline the score lives on a
  *     1e-9 grid: `cnt · 10⁹ DIV (cₐ · c_b)`, with ties broken by count
  *     desc then pair lexicographic (a total, engine-portable order).
  *     The grid changes which near-tied pair wins versus exact rational
  *     comparison — the documented micro-grid trade (the
  *     [[CorpusOps.doremiWeights]] precedent) that buys an exact DuckDB
  *     replay.
  *  2. **The `##` continuation convention.** A word's first character is
  *     a plain symbol; every later character is `##`-prefixed, and a
  *     merge of (a, b) names the new symbol `a + b.stripPrefix("##")` —
  *     so learned word-initial pieces and word-internal pieces never
  *     collide, exactly the BERT vocabulary shape.
  *
  * **Why there is no batched-round optimization here** (BPE accepts a
  * provably-sequential-equivalent batch per driver round,
  * [[Bpe.learnMerges]]): BPE's argument bounds a CREATED pair's count by
  * the overlapping old pairs' counts, all ranked below the accepted
  * prefix. WordPiece ranks by a RATIO — a pair created by an accepted
  * merge has the brand-new merged symbol in its denominator, whose
  * unigram count can be arbitrarily small, so its score can exceed any
  * later prefix member's. No count bound survives the division; the
  * trainer therefore runs exactly one merge per driver round.
  *
  * Scale shape (identical to BPE): pair and unigram statistics live on
  * the DISTINCT-WORD vocabulary weighted by word frequency — every
  * round aggregates a vocabulary-sized frame, never the corpus; the
  * corpus is touched once (the word count). The score grid bounds the
  * integer products: `cnt · 10⁹` and `cₐ · c_b` must stay under 2⁶³, so
  * the trainer require-guards total symbol mass ≤ 2·10⁹ — past that,
  * train on a deterministic sample (the [[Classifier]] MaxSample
  * discipline) or coarsen the grid.
  *
  * Oracle-backed from birth: the DuckDB twin replays the loop unrolled
  * one merge per round — unigram counts, pair counts, the integer-grid
  * argmax, then the greedy non-overlapping merge application as the
  * island-parity window [[Bpe]] introduced (`a + strip(b)` is strictly
  * longer than `a`, so a merged symbol never re-matches as the left side
  * within the same scan — the parity rule holds unchanged).
  * WordPieceSpec additionally pins the result against an independent
  * in-memory sequential reference and a hand-computed fixture.
  */
object WordPiece {
  type Q = (SparkSession, String) => DataFrame

  /** Score grid: 1e-9. `cnt · Grid DIV (cₐ · c_b)` — see the class doc
    * for the overflow contract that fixes this value.
    */
  val Grid = 1000000000L

  /** Greedy left-to-right single-merge application with an explicit
    * merged-symbol name (WordPiece's `a + b.stripPrefix("##")` differs
    * from BPE's plain concatenation). Same non-overlapping fold as
    * [[Bpe.applyMerge]].
    */
  def applyMergeAs(symbols: Column, a: String, b: String,
      merged: String): Column =
    aggregate(symbols, array().cast("array<string>"), (acc, s) =>
      when(try_element_at(acc, lit(-1)) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(s))))

  /** Initial symbol state: first char plain, later chars `##`-prefixed. */
  def initialSymbols(word: Column): Column = {
    val chars = filter(split(word, ""), c => length(c) > 0)
    zip_with(chars, sequence(lit(1), size(chars)), (c, i) =>
      when(i === 1, c).otherwise(concat(lit("##"), c)))
  }

  /** The sequential trainer on the collected vocabulary (the driver
    * fast path's loop — WordPieceSpec's independent reference,
    * promoted): one merge per round, exactly the distributed
    * round's statistics. Unigram counts are "every occurrence is
    * someone's left exactly once" (the same single-pass accounting as
    * the distributed pc frame: the last position's pair is (sym, null)
    * and feeds only the unigram side); score is the identical
    * cnt·10⁹ DIV (cₐ·c_b) integer grid (all operands positive, so
    * Long `/` truncation ≡ Spark's DIV); tie-break score desc, count
    * desc, then pair in binary UTF-8 order.
    */
  private def learnMergesLocal(vocab: Array[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, Long, Long)] = {
    def init(w: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val n = Character.charCount(cp)
        b += (if (i == 0) w.substring(0, n)
        else "##" + w.substring(i, i + n))
        i += n
      }
      b.result()
    }
    var syms: Map[Vector[String], Long] = vocab.iterator
      .map { case (w, f) => (init(w), f) }
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    val mass = syms.iterator.map { case (s, f) => f * s.length }.sum
    require(mass <= 2000000000L,
      s"$mass weighted symbols: cnt·10⁹ and cₐ·c_b must stay under " +
        "2⁶³ — train on a deterministic sample or coarsen the grid")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    var exhausted = false
    while (out.size < nMerges && !exhausted) {
      val pairCnt = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      val uniCnt = scala.collection.mutable.HashMap.empty[String, Long]
      for ((s, f) <- syms) {
        var i = 0
        while (i < s.length) {
          uniCnt.update(s(i), uniCnt.getOrElse(s(i), 0L) + f)
          if (i + 1 < s.length) {
            val k = (s(i), s(i + 1))
            pairCnt.update(k, pairCnt.getOrElse(k, 0L) + f)
          }
          i += 1
        }
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        var bA: String = null; var bB: String = null
        var bC = 0L; var bS = 0L
        for (((a, b), c) <- pairCnt) {
          val s = c * Grid / (uniCnt(a) * uniCnt(b))
          val better = bA == null || s > bS || (s == bS && (c > bC ||
            (c == bC && {
              val ca = Bpe.Utf8Order.compare(a, bA)
              ca < 0 || (ca == 0 && Bpe.Utf8Order.compare(b, bB) < 0)
            })))
          if (better) { bA = a; bB = b; bC = c; bS = s }
        }
        out += ((out.size + 1, bA, bB, bC, bS))
        val (a, b) = (bA, bB)
        val merged = a + b.stripPrefix("##")
        def apply1(s: Vector[String]): Vector[String] = {
          val r = Vector.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
              r += merged; i += 2
            } else { r += s(i); i += 1 }
          }
          r.result()
        }
        syms = syms.toSeq
          .groupMapReduce { case (s, _) => apply1(s) }(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  /** Learn `nMerges` WordPiece merges from (word, freq) vocabulary rows.
    * Returns (rank, left, right, pair_count, score_nano) in learned
    * order — score_nano is the 1e-9-grid likelihood score the argmax
    * ranked by.
    */
  def learnMerges(vocab0: DataFrame,
      nMerges: Int): Seq[(Int, String, String, Long, Long)] = {
    // Size-gated driver fast path (r17, the [[Bpe.learnMerges]] rule):
    // WordPiece is one merge per round by necessity (see the class
    // doc), so the distributed loop paid ~4 jobs per round (pair-count
    // materialization, unigram materialization, two broadcast builds +
    // the argmax collect) for alphabet-bounded arithmetic. Under the
    // gate, ONE collect of the vocabulary feeds the identical
    // sequential loop; WordPieceSpec pins both paths to the same
    // reference. Above the gate the distributed rounds run unchanged.
    Bpe.collectVocab(vocab0, Bpe.driverMaxVocab(vocab0.sparkSession)) match {
      case Some(v) => return learnMergesLocal(v, nMerges)
      case None => ()
    }
    // ONE persisted base state; each round's vocabulary view folds the
    // accepted merges so far as a COMPOSED EXPRESSION over it (exactly
    // the [[encode]] shape) instead of re-materializing the vocabulary
    // per round with an eager localCheckpoint. r16 profiling: the
    // checkpoint job + its AQE stages made each round ~11 Spark jobs
    // for a vocabulary-sized frame; the fold-chain view needs ~half —
    // the re-applied fold per round is CPU over distinct words, the
    // same fixed |vocab|·|merges| cost class encode already pays.
    val base = vocab0
      .select(col("freq"), initialSymbols(col("w")).as("sym"))
      .persist()
    val mass = base.select(
      coalesce(sum(col("freq") * size(col("sym"))), lit(0L))
        .cast("long").as("m"))
      .collect()(0).getLong(0)
    require(mass <= 2000000000L,
      s"$mass weighted symbols: cnt·10⁹ and cₐ·c_b must stay under " +
        "2⁶³ — train on a deterministic sample or coarsen the grid")
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val symNow = graft.functions.SubwordFold.subword_fold(col("sym"),
        merges.toSeq.map { case (_, a, b, _, _) =>
          (a, b, a + b.stripPrefix("##")) })
      val vocab = base.select(col("freq"), symNow.as("sym"))
      // ONE vocabulary pass feeds both statistics: every position i is
      // emitted exactly once as (sym_i, sym_{i+1} | NULL-at-the-end), so
      // the (a, b) count frame holds the pair counts (b non-null) AND
      // the unigram counts (Σ_b cnt over each a — every occurrence of a
      // symbol is someone's left exactly once). The second aggregation
      // runs on the already-tiny distinct-pair frame, not the vocabulary.
      val pc = vocab.select(col("freq"), explode(zip_with(
          col("sym"),
          concat(slice(col("sym"), lit(2),
            greatest(size(col("sym")) - 1, lit(0))),
            array(lit(null).cast("string"))),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .persist()
      // uni persisted (r16): BOTH score-join broadcasts build from it,
      // and AQE does not reuse the duplicate aggregation (OPTIMIZATION_r16.md);
      // symbol-alphabet-sized, released with pc below
      val uni = pc.groupBy("a").agg(sum(col("cnt")).as("c"))
        .select(col("a").as("s"), col("c")).persist()
      // the unigram table is symbol-alphabet-sized (a few thousand rows
      // at any corpus size) — broadcast both sides of the score join so
      // the argmax plan is one shuffle (the pair count), not three
      val top = pc.filter(col("b").isNotNull)
        .join(broadcast(uni.select(col("s").as("a"), col("c").as("ca"))),
          "a")
        .join(broadcast(uni.select(col("s").as("b"), col("c").as("cb"))),
          "b")
        .select(col("a"), col("b"), col("cnt"),
          expr(s"cnt * $Grid DIV (ca * cb)").as("score"))
        .orderBy(col("score").desc, col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      uni.unpersist()
      pc.unpersist()
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        merges += ((merges.size + 1, r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3)))
      }
    }
    base.unpersist()
    merges.toSeq
  }

  /** WordPiece ENCODING — the inference twin of [[learnMerges]]
    * ([[Bpe.encode]]'s sibling): each distinct word starts from the
    * `##` initial state and folds through the merge table in rank
    * order; docs join the word → n_subwords table back on the word.
    * Same dedupe-then-weight shape: the fold chain evaluates per
    * DISTINCT word, the corpus is scanned, never folded per occurrence.
    */
  def encode(docs: DataFrame,
      merges: Seq[(Int, String, String, Long, Long)]): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    // r17 (guide §4): native one-expression merge application — see
    // [[Bpe.encode]]; the `##`-stripped merged name is precomputed per
    // rank exactly as applyMergeAs spelled it.
    val sym = graft.functions.SubwordFold.subword_fold(
      initialSymbols(col("w")),
      merges.sortBy(_._1).map { case (_, a, b, _, _) =>
        (a, b, a + b.stripPrefix("##")) })
    val encodedVocab = words.select("w").distinct()
      .select(col("w"), size(sym).cast("long").as("n_sub"))
    words.join(encodedVocab, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
  }

  val queries: Map[String, Q] = Map(
    "t_wordpiece_merges" -> { (s, d) =>
      val merges = learnMerges(
        Bpe.vocabulary(Tables.spread(Tables.documents(s, d))), 10)
      s.createDataFrame(merges)
        .toDF("rank", "left", "right", "pair_count", "score_nano")
        .orderBy("rank")
    },
    // train 10 merges, then encode the same corpus with them; the
    // oracle rides the shared training replay — the round-10 vocabulary
    // state IS every word's encoding (the t_bpe_encode argument)
    "t_wordpiece_encode" -> { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      val merges = learnMerges(Bpe.vocabulary(docs), 10)
      encode(docs, merges).orderBy("doc_id")
    })

  /** One unrolled WordPiece round for the DuckDB twin: unigram counts,
    * likelihood-scored pair argmax (score desc, count desc, pair
    * lexicographic), then the island-parity greedy merge application
    * with the `a || strip(b)` merged name.
    */
  private def wpRound(r: Int): String =
    s"""u$r AS MATERIALIZED (
       |  SELECT s, CAST(sum(freq) AS BIGINT) AS c FROM (
       |    SELECT freq, unnest(sym) AS s FROM v${r - 1}) t
       |  GROUP BY 1),
       |p$r AS MATERIALIZED (
       |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq, sym[i] AS a, sym[i + 1] AS b
       |    FROM v${r - 1}, unnest(range(1, len(sym))) u(i)) t
       |  GROUP BY 1, 2),
       |m$r AS MATERIALIZED (
       |  SELECT p.a, p.b, p.cnt,
       |    CAST((p.cnt * ${Grid}) // (ua.c * ub.c) AS BIGINT) AS score
       |  FROM p$r p
       |  JOIN u$r ua ON ua.s = p.a
       |  JOIN u$r ub ON ub.s = p.b
       |  ORDER BY score DESC, p.cnt DESC, p.a, p.b LIMIT 1),
       |mn$r AS MATERIALIZED (
       |  SELECT a || regexp_replace(b, '^##', '') AS nm FROM m$r),
       |pos$r AS MATERIALIZED (
       |  SELECT w, freq, i, sym[i] AS s,
       |    coalesce(sym[i] = (SELECT a FROM m$r)
       |      AND sym[i + 1] = (SELECT b FROM m$r), FALSE) AS m
       |  FROM v${r - 1}, unnest(range(1, len(sym) + 1)) u(i)),
       |sel$r AS MATERIALIZED (
       |  SELECT w, i FROM (
       |    SELECT w, i,
       |      row_number() OVER (PARTITION BY w, g ORDER BY i) AS rn
       |    FROM (
       |      SELECT w, i,
       |        i - row_number() OVER (PARTITION BY w ORDER BY i) AS g
       |      FROM pos$r WHERE m))
       |  WHERE rn % 2 = 1),
       |v$r AS MATERIALIZED (
       |  SELECT p.w, min(p.freq) AS freq,
       |    list(CASE WHEN s.i IS NOT NULL THEN (SELECT nm FROM mn$r)
       |      ELSE p.s END ORDER BY p.i) AS sym
       |  FROM pos$r p
       |  LEFT JOIN sel$r s ON s.w = p.w AND s.i = p.i
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM sel$r s2 WHERE s2.w = p.w AND s2.i = p.i - 1)
       |  GROUP BY p.w)""".stripMargin

  private val v0Cte =
    """v0 AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
      |    list_transform(range(1, len(w) + 1), i ->
      |      CASE WHEN i = 1 THEN w[i] ELSE '##' || w[i] END) AS sym
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w
      |        FROM documents WHERE text IS NOT NULL) t
      |  WHERE len(w) > 0
      |  GROUP BY w)""".stripMargin

  private def trainCtes(n: Int): String =
    s"$v0Cte,\n${(1 to n).map(wpRound).mkString(",\n")}"

  val oracles: Map[String, String] = Map(
    "t_wordpiece_merges" -> {
      val union = (1 to 10).map(r =>
        s"""SELECT CAST($r AS INTEGER) AS rank, a AS "left",
           |  b AS "right", cnt AS pair_count, score AS score_nano
           |  FROM m$r""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
      s"""WITH ${trainCtes(10)}
         |SELECT * FROM (
         |  $union)
         |ORDER BY rank""".stripMargin
    },
    "t_wordpiece_encode" ->
      s"""WITH ${trainCtes(10)},
         |enc AS MATERIALIZED (
         |  SELECT w, CAST(len(sym) AS BIGINT) AS n_sub FROM v10),
         |dw AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sub) AS BIGINT) AS n_subwords
         |FROM (SELECT * FROM dw WHERE len(w) > 0) JOIN enc USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
