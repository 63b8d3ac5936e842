package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.TextAnalysis.round4HalfUp

/** Lexical ranked retrieval (Okapi BM25) over the documents table —
  * the query side of a corpus engine: eval-set mining, dedup triage
  * ("what else scores like this doc"), and the lexical leg of hybrid
  * search. North-star operator (the reference has no query surface).
  *
  * Shape at 100 TB: the query term set broadcasts (it is human-sized);
  * the corpus token stream is FILTERED to query terms map-side before
  * any aggregation, so tf/df tables are |terms|-bounded, not
  * vocabulary-bounded. Corpus-wide scalars (N, avgdl) are one
  * map-side-combined aggregate riding a one-row broadcast cross join.
  * Per-query ranking runs on the engine's bounded-heap
  * [[graft.plans.TopKPerKey]] — no per-query sort of the hit list.
  *
  * Float contract: idf/tf-norm terms use the same literal constants
  * and evaluation shapes as the DuckDB twin (2.2 and 0.25 are spelled
  * as literals — `1.2 + 1` and `1 - 0.75` produce DIFFERENT doubles);
  * per-doc score sums can differ in the last ulp across
  * engines/partitionings (float adds associate in partial-aggregation
  * order), so BOTH the rank-k cut and the output happen on the
  * half-up-rounded 1e-4 grid — grid ties break by doc_id identically
  * on both sides, and a cross-engine cut difference would need the
  * true score within float noise of a grid boundary (~1e-11/value).
  */
object Retrieval {
  type Q = (SparkSession, String) => DataFrame

  /** Top-k docs per query by BM25 (k1 = 1.2, b = 0.75). `queries` is
    * (query_id, whitespace-tokenized terms); duplicate terms within a
    * query count ONCE (classic BM25 has no query-term-frequency factor
    * — without the dedup a repeated term would silently double its
    * contribution).
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, Seq[String])],
      k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (id, ws) => ws.distinct.map((id, _)) }
      .toDF("query_id", "w")
    val qWords = qt.select("w").distinct()
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    // map-side term filter: only query-term tokens survive the scan
    val tf = toks.join(broadcast(qWords), "w")
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dft = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    // corpus scalars derive from the dl projection — one tokenize
    // expression, not a third spelled-out copy
    val scal = dl.agg(
      count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    // The rank-k CUT happens on the ROUNDED score: raw per-doc sums can
    // differ in the last ulp across engines/partitionings (float adds
    // associate in partial-aggregation order), and a cut on raw floats
    // would let two docs straddling rank k swap membership between this
    // plan and the twin. On the 1e-4 grid both engines see the same
    // number unless the true score sits within float noise of a grid
    // boundary (~1e-11 per value); grid ties break by doc_id
    // identically on both sides.
    val scores = qt.join(tf, "w")
      .join(broadcast(dft), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(scal))
      .groupBy("query_id", "doc_id")
      .agg(round4HalfUp(sum(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf") * 2.2 /
          (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
        .as("score"))
    graft.plans.TopKPerKey.topKPerKey(scores,
      Seq("query_id"), Seq(("score", true), ("doc_id", false)), k)
  }

  /** nDCG@10 of the BM25 ranking against a graded relevance law — the
    * EVAL step of a retrieval pipeline (is the ranker any good, per
    * query?), computed so a SQL twin hash-checks it. Relevance is the
    * deterministic term-coverage grade rel = min(#distinct query terms
    * present, 3) — crude but real (coverage IS the first-order
    * relevance signal), integer-exact, and derivable by both engines
    * from the corpus alone. DCG@10 = Σ (2^rel − 1)/log₂(r+1) over the
    * BM25 top-10 (the registered operator's own machinery, so the eval
    * can never disagree with the ranking it grades); IDCG@10 the same
    * sum over the corpus-wide ideal top-10 by (rel desc, doc_id);
    * nDCG = their ratio, computed from the two grid-ROUNDED sums so
    * both engines divide identical inputs.
    *
    * Shape at scale: relevance is one distinct-gram pass joined to the
    * broadcast query terms (|terms|-bounded, like the BM25 tf table);
    * both rankings run through the bounded-heap TopKPerKey; the gain
    * sums touch 10·|queries| rows. Float contract: ≤10-term sums under
    * the s_bm25 precedent (partial-order ulp noise sits ~7 digits
    * below the 1e-4 grid).
    */
  def ndcgAt10(docs: DataFrame,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (id, ws) => ws.distinct.map((id, _)) }
      .toDF("query_id", "w")
    // rel persisted (r17): the DCG join and the ideal-top-10 heap both
    // consume it, and AQE does not reuse the duplicate distinct-gram
    // pass (OPTIMIZATION_r16.md). |queries|·|docs-with-terms| rows,
    // tiny; lazy, harness-released.
    val rel = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .join(broadcast(qt), "w")
      .groupBy("query_id", "doc_id")
      .agg(least(count(lit(1)), lit(3L)).as("rel"))
      .persist()
    def gain(relCol: org.apache.spark.sql.Column,
        rCol: org.apache.spark.sql.Column) =
      (pow(lit(2.0), relCol.cast("double")) - 1.0) / log2(rCol + 1.0)
    val ranked = bm25TopK(docs, queries, 10)
      .withColumn("r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))))
    val dcg = ranked.join(rel, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"),
        gain(coalesce(col("rel"), lit(0L)), col("r")).as("g"))
      .groupBy("query_id").agg(round4HalfUp(sum(col("g"))).as("dcg"))
    val idcg = graft.plans.TopKPerKey.topKPerKey(rel,
        Seq("query_id"), Seq(("rel", true), ("doc_id", false)), 10)
      .withColumn("r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("doc_id"))))
      .select(col("query_id"), gain(col("rel"), col("r")).as("g"))
      .groupBy("query_id").agg(round4HalfUp(sum(col("g"))).as("idcg"))
    dcg.join(idcg, "query_id")
      .select(col("query_id"), col("dcg"), col("idcg"),
        round4HalfUp(col("dcg") / col("idcg")).as("ndcg"))
  }

  /** MRR@10 + precision/recall@10 of the BM25 ranking — the remaining
    * standard retrieval-eval trio member next to [[ndcgAt10]] (nDCG
    * grades the whole ranked list; MRR grades time-to-first-hit — the
    * RAG metric — and P/R@10 grade the cutoff set). Binary relevance is
    * the graded relevance's rel ≥ 2 (≥2 distinct query terms present:
    * rel ≥ 1 would mark any single-term doc relevant and saturate
    * precision on a shared-vocabulary corpus).
    *
    * Exact-integer contract throughout: first_rel_rank is a BIGINT
    * rank, rr_micro = 10⁶ DIV rank, prec10_micro = hits·10⁶ DIV 10,
    * recall10_micro = hits·10⁶ DIV |relevant| — so unlike the
    * grid-rounded nDCG sums the whole result hash-matches with no
    * float boundary. Same scale shape as nDCG: everything after the
    * |terms|-bounded BM25 leg touches 10·|queries| rows.
    */
  def mrrAt10(docs: DataFrame,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (id, ws) => ws.distinct.map((id, _)) }
      .toDF("query_id", "w")
    val relevant = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .join(broadcast(qt), "w")
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("nterms"))
      .filter(col("nterms") >= 2)
      .select(col("query_id"), col("doc_id"), lit(1L).as("relv"))
      // persisted (r17): feeds the rank join AND the per-query relevant
      // count — same diamond rationale as [[ndcgAt10]]'s rel frame
      .persist()
    val ranked = bm25TopK(docs, queries, 10)
      .withColumn("r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))))
    val perQ = ranked.join(relevant, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(min(when(col("relv") === 1L, col("r"))).as("fr"),
        sum(when(col("relv") === 1L, 1L).otherwise(0L)).as("hits"))
    val nRel = relevant.groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"))
    queries.map(_._1).toDF("query_id")
      .join(perQ, Seq("query_id"), "left")
      .join(nRel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("fr"), lit(0L)).cast("long").as("first_rel_rank"),
        when(col("fr").isNotNull, expr("1000000 DIV fr")).otherwise(0L)
          .as("rr_micro"),
        (coalesce(col("hits"), lit(0L)) * 100000L).as("prec10_micro"),
        when(coalesce(col("n_rel"), lit(0L)) > 0L,
          expr("coalesce(hits, 0) * 1000000 DIV n_rel")).otherwise(0L)
          .as("recall10_micro"))
      .orderBy("query_id")
  }

  /** Fixture queries built from the synthetic corpus's vocabulary. */
  val FixtureQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("table", "scan", "merge"),
    2 -> Seq("hash", "join", "spark"),
    3 -> Seq("window", "sort", "batch"))

  /** Top-k docs per query by Dirichlet-smoothed query likelihood
    * (Zhai & Lafferty 2001, μ = 100) — the second classic lexical
    * ranker, and the second leg of [[rrfFuse]]. Scored rank-equivalent
    * to full QL over candidate docs (docs containing ≥ 1 query term,
    * the inverted-index candidate set):
    *
    *   score(q,d) = Σ_present ln(1 + tf / (μ·cf_w/|C|)) − |q|·ln(dl + μ)
    *
    * (the per-query constant Σ_w ln(μ·cf_w/|C|) is dropped — it shifts
    * every candidate equally). Plan shape is [[bm25TopK]]'s: broadcast
    * query terms filter the token stream map-side, so tf and corpus
    * frequency cf stay |terms|-bounded; |C| rides a one-row broadcast
    * cross join; the cut runs on the bounded-heap TopKPerKey. Same
    * float contract: rank cut and output on the half-up 1e-4 grid.
    */
  def qlTopK(docs: DataFrame, queries: Seq[(Int, Seq[String])],
      k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (id, ws) => ws.distinct.map((id, _)) }
      .toDF("query_id", "w")
    val nq = queries.map { case (id, ws) =>
      (id, ws.distinct.size.toDouble) }.toDF("query_id", "nq")
    val qWords = qt.select("w").distinct()
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = toks.join(broadcast(qWords), "w")
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).cast("double").as("tf"))
    // corpus frequency of the query terms only — folded from the already
    // term-filtered tf table, no second corpus scan
    val cf = tf.groupBy("w").agg(sum("tf").as("cf"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val tot = dl.agg(sum("dl").as("ctoks"))
    val present = qt.join(tf, "w")
      .join(broadcast(cf), "w")
      .crossJoin(broadcast(tot))
      .groupBy("query_id", "doc_id")
      .agg(sum(log(lit(1.0) +
        col("tf") / (lit(100.0) * (col("cf") / col("ctoks"))))).as("s"))
    val scores = present.join(dl, "doc_id")
      .join(broadcast(nq), "query_id")
      .select(col("query_id"), col("doc_id"),
        round4HalfUp(col("s") - col("nq") * log(col("dl") + lit(100.0)))
          .as("score"))
    graft.plans.TopKPerKey.topKPerKey(scores,
      Seq("query_id"), Seq(("score", true), ("doc_id", false)), k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    * ranked top-k lists: each leg contributes 1/(60 + rank) per doc,
    * summed across legs. Kept EXACT cross-engine by scaling to integer
    * micro-units — `1e12 DIV (60 + rank)` is pure BIGINT division, so
    * the fused score is an associative integer sum no float
    * re-association can perturb. Leg ranks come off each leg's already
    * grid-rounded scores (ties by doc_id), so every input to the fusion
    * is engine-stable. The per-leg rank window runs over top-k lists
    * (human-sized: k rows per query), not the corpus.
    */
  def rrfFuse(legs: Seq[DataFrame], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = legs.map { leg =>
      leg.select(col("query_id"), col("doc_id"),
          row_number().over(Window.partitionBy("query_id")
            .orderBy(col("score").desc, col("doc_id"))).as("rn"))
        .select(col("query_id"), col("doc_id"),
          expr("CAST(1000000000000 AS BIGINT) DIV CAST(60 + rn AS BIGINT)")
            .as("contrib"))
    }
    val fused = ranked.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("rrf"))
    graft.plans.TopKPerKey.topKPerKey(fused,
      Seq("query_id"), Seq(("rrf", true), ("doc_id", false)), k)
  }

  /** One retrieval candidate carried into the MMR fold: its relevance
    * rank, id, and distinct-token set.
    */
  case class MmrCand(rel_rank: Int, doc_id: Long, ts: Seq[String])

  /** MMR re-ranking (Carbonell & Goldstein, SIGIR 1998 — Maximal
    * Marginal Relevance): greedily re-order a retrieval top-k so each
    * pick balances relevance against redundancy with what is already
    * picked — the diversification step between "top-k by score" and a
    * result list (or a training batch) that covers the topic instead of
    * repeating its best-scoring phrasing five times:
    *
    *   next = argmax_d  λ·rel(d) − (1−λ)·max_{s∈Sel} sim(d, s)
    *
    * INTEGER-EXACT contract (λ = 0.3, the classic diversity-leaning
    * setting, spelled as integer weights 3/7 with the common factor 10
    * scaled out — λ = ½ would be DEGENERATE here: rank-based relevance
    * steps in exact 10⁶ strides while sim spans [0, 10⁶], so redundancy
    * could only ever TIE a one-rank gap, never beat it): rel(d) = k+1 −
    * BM25 rank (the grid-rounded, doc_id-tie-broken rank — every input
    * is engine-stable), sim = distinct-token Jaccard in micro-units via
    * integer division, so each greedy score is `3·rel·10⁶ − 7·max_sim`
    * — a BIGINT both engines order identically, ties by doc_id. The DuckDB
    * twin unrolls the m−1 greedy rounds as chained CTEs (the unrolled-
    * kmeans discipline) and the whole selection hash-matches.
    *
    * Shape at scale: the candidate lists are k-bounded (human-sized) —
    * after [[bm25TopK]]'s broadcast-filtered scoring, ONE row per query
    * reaches the greedy fold, which runs as a typed map over the
    * grouped k-candidate array (the documented per-row-imperative
    * exception, bounded by k² token-set intersections per query — never
    * a corpus-sized loop; the corpus-scale work all happened inside the
    * retrieval leg).
    */
  def mmrDiversify(docs: DataFrame, queries: Seq[(Int, Seq[String])],
      k: Int = 10, m: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val top = bm25TopK(docs, queries, k)
      .withColumn("rel_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id"))))
    val dt = docs.select(col("doc_id"),
      array_sort(array_distinct(split(col("text"), " "))).as("ts"))
    val grouped = top.join(dt, "doc_id")
      .select(col("query_id"), col("rel_rank"), col("doc_id"), col("ts"))
      .groupBy("query_id")
      .agg(collect_list(struct(col("rel_rank"), col("doc_id"), col("ts")))
        .as("cs"))
      .select(col("query_id").as("_1"), col("cs").as("_2"))
      .as[(Int, Seq[MmrCand])]
    grouped.flatMap { case (q, cs) =>
      def sim(a: Seq[String], b: Seq[String]): Long = {
        val sa = a.toSet
        val inter = b.count(sa)
        val union = sa.size + b.size - inter
        if (union == 0) 0L else 1000000L * inter / union
      }
      val out = Seq.newBuilder[(Int, Long, Int)]
      var selected = Vector.empty[MmrCand]
      var remaining = cs.sortBy(_.doc_id)
      var r = 1
      while (r <= m && remaining.nonEmpty) {
        val best = remaining.minBy { c =>
          val maxSim =
            if (selected.isEmpty) 0L
            else selected.map(s => sim(c.ts, s.ts)).max
          (3L * (k + 1 - c.rel_rank) * 1000000L - 7L * maxSim) * -1L ->
            c.doc_id
        }
        out += ((q, best.doc_id, r))
        selected :+= best
        remaining = remaining.filterNot(_.doc_id == best.doc_id)
        r += 1
      }
      out.result()
    }.toDF("query_id", "doc_id", "mmr_rank")
      .orderBy("query_id", "mmr_rank")
  }

  val queries: Map[String, Q] = Map(
    "s_mmr_diversify" -> { (s, d) =>
      mmrDiversify(Tables.spread(Tables.documents(s, d)), FixtureQueries)
    },
    "s_bm25" -> { (s, d) =>
      bm25TopK(Tables.spread(Tables.documents(s, d)), FixtureQueries, 10)
        .orderBy(col("query_id"), col("score").desc, col("doc_id"))
    },
    "s_ql" -> { (s, d) =>
      qlTopK(Tables.spread(Tables.documents(s, d)), FixtureQueries, 10)
        .orderBy(col("query_id"), col("score").desc, col("doc_id"))
    },
    // retrieval eval: nDCG@10 of the BM25 ranking vs term-coverage
    // relevance — the "is the ranker any good" audit
    "a_retrieval_ndcg" -> { (s, d) =>
      ndcgAt10(Tables.spread(Tables.documents(s, d)), FixtureQueries)
        .orderBy("query_id")
    },
    "a_retrieval_mrr" -> { (s, d) =>
      mrrAt10(Tables.spread(Tables.documents(s, d)), FixtureQueries)
    },
    // rank fusion of the two lexical rankers' top-10 lists — the fused
    // score is an exact BIGINT, so the whole query hash-matches even
    // though both legs score with floats
    "s_rrf" -> { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      rrfFuse(Seq(bm25TopK(docs, FixtureQueries, 10),
        qlTopK(docs, FixtureQueries, 10)), 10)
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    })

  /** The MMR twin: replay the BM25 ranking (the s_bm25/s_rrf CTE block),
    * then unroll the greedy selection — round 1 is the rank-1 doc, each
    * later round scores the not-yet-selected candidates as
    * `rel·10⁶ − max(sim to selected)` (exact BIGINTs: micro-unit Jaccard
    * via integer division) and picks the (score DESC, doc_id) winner —
    * the unrolled-kmeans discipline, so the whole selection hash-matches.
    */
  private def mmrOracle: String = {
    val rounds = (2 to 5).map { r =>
      val prev = (1 until r).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      s""",
         |u$r AS ($prev),
         |m$r AS (
         |  SELECT c.query_id, c.doc_id,
         |    3 * (11 - c.rel_rank) * 1000000 - 7 * max(p.sim) AS score
         |  FROM cand c
         |  JOIN u$r s ON s.query_id = c.query_id
         |  JOIN pairs p ON p.query_id = c.query_id AND p.da = c.doc_id
         |    AND p.db = s.doc_id
         |  WHERE NOT EXISTS (SELECT 1 FROM u$r sx
         |    WHERE sx.query_id = c.query_id AND sx.doc_id = c.doc_id)
         |  GROUP BY c.query_id, c.doc_id, c.rel_rank),
         |s$r AS (
         |  SELECT query_id, doc_id, $r AS r FROM (
         |    SELECT query_id, doc_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, doc_id) rn
         |    FROM m$r) WHERE rn = 1)""".stripMargin
    }.mkString
    val all = (1 to 5).map(i => s"SELECT * FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH q(query_id, w) AS (VALUES
       |  (1,'table'),(1,'scan'),(1,'merge'),
       |  (2,'hash'),(2,'join'),(2,'spark'),
       |  (3,'window'),(3,'sort'),(3,'batch')),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) w
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) tf
       |  FROM toks JOIN (SELECT DISTINCT w FROM q) USING (w)
       |  GROUP BY 1, 2),
       |dft AS (SELECT w, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY 1),
       |dl AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) dl
       |  FROM documents),
       |scal AS (
       |  SELECT CAST(count(*) AS DOUBLE) n_docs,
       |    avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) avgdl
       |  FROM documents),
       |sc AS (
       |  SELECT q.query_id, tf.doc_id,
       |    floor(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * tf * 2.2
       |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
       |      * 10000 + 0.5) / 10000.0 score
       |  FROM q JOIN tf USING (w) JOIN dft USING (w)
       |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN scal
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) rn
       |  FROM sc),
       |cand AS (
       |  SELECT query_id, doc_id, CAST(rn AS INT) AS rel_rank
       |  FROM rk WHERE rn <= 10),
       |dt AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) ts
       |  FROM documents),
       |pr AS (
       |  SELECT c1.query_id, c1.doc_id da, c2.doc_id db,
       |    len(list_filter(a.ts, x -> list_contains(b.ts, x))) it,
       |    len(a.ts) ua, len(b.ts) ub
       |  FROM cand c1 JOIN cand c2 ON c1.query_id = c2.query_id
       |    AND c1.doc_id <> c2.doc_id
       |  JOIN dt a ON a.doc_id = c1.doc_id
       |  JOIN dt b ON b.doc_id = c2.doc_id),
       |pairs AS (
       |  SELECT query_id, da, db,
       |    CASE WHEN ua + ub - it = 0 THEN 0
       |         ELSE (1000000 * it) // (ua + ub - it) END AS sim
       |  FROM pr),
       |s1 AS (SELECT query_id, doc_id, 1 AS r FROM cand WHERE rel_rank = 1)
       |$rounds
       |SELECT query_id, doc_id, CAST(r AS INT) AS mmr_rank
       |FROM ($all)
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  // Shared BM25 ranking CTEs (q → toks → tf/dft/dl/scal → sc → rk):
  // the s_bm25 oracle and the nDCG eval oracle reuse them verbatim so
  // the eval can never disagree with the ranking it grades.
  private val bm25Ctes =
    """WITH q(query_id, w) AS (VALUES
      |  (1,'table'),(1,'scan'),(1,'merge'),
      |  (2,'hash'),(2,'join'),(2,'spark'),
      |  (3,'window'),(3,'sort'),(3,'batch')),
      |toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) w
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) tf
      |  FROM toks JOIN (SELECT DISTINCT w FROM q) USING (w)
      |  GROUP BY 1, 2),
      |dft AS (SELECT w, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY 1),
      |dl AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) dl
      |  FROM documents),
      |scal AS (
      |  SELECT CAST(count(*) AS DOUBLE) n_docs,
      |    avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) avgdl
      |  FROM documents),
      |sc AS (
      |  SELECT q.query_id, tf.doc_id,
      |    floor(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * tf * 2.2
      |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
      |      * 10000 + 0.5) / 10000.0 score
      |  FROM q JOIN tf USING (w) JOIN dft USING (w)
      |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN scal
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY score DESC, doc_id) rn
      |  FROM sc)""".stripMargin

  val oracles: Map[String, String] = Map(
    "a_retrieval_ndcg" -> (bm25Ctes +
      """,
        |rel AS (
        |  SELECT query_id, doc_id, least(count(*), 3) rel
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(string_split(text, ' '))) w
        |        FROM documents)
        |  JOIN q USING (w) GROUP BY 1, 2),
        |act AS (
        |  SELECT rk.query_id, rk.rn r, coalesce(rel.rel, 0) rel
        |  FROM rk LEFT JOIN rel
        |    ON rel.query_id = rk.query_id AND rel.doc_id = rk.doc_id
        |  WHERE rk.rn <= 10),
        |dcg AS (
        |  SELECT query_id,
        |    floor(sum((power(2.0, rel) - 1.0) / log2(r + 1.0))
        |      * 10000 + 0.5) / 10000.0 dcg
        |  FROM act GROUP BY 1),
        |irk AS (
        |  SELECT query_id, rel, row_number() OVER (
        |    PARTITION BY query_id ORDER BY rel DESC, doc_id) r
        |  FROM rel),
        |idcg AS (
        |  SELECT query_id,
        |    floor(sum((power(2.0, rel) - 1.0) / log2(r + 1.0))
        |      * 10000 + 0.5) / 10000.0 idcg
        |  FROM irk WHERE r <= 10 GROUP BY 1)
        |SELECT query_id, dcg, idcg,
        |  floor(dcg / idcg * 10000 + 0.5) / 10000.0 AS ndcg
        |FROM dcg JOIN idcg USING (query_id)
        |ORDER BY query_id""".stripMargin),
    "s_mmr_diversify" -> mmrOracle,
    // binary relevance = graded rel >= 2; all-integer outputs so the
    // whole row set hash-matches with no float boundary
    "a_retrieval_mrr" -> (bm25Ctes +
      """,
        |rel AS (
        |  SELECT query_id, doc_id, least(count(*), 3) rel
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(string_split(text, ' '))) w
        |        FROM documents)
        |  JOIN q USING (w) GROUP BY 1, 2),
        |rl AS (SELECT query_id, doc_id FROM rel WHERE rel >= 2),
        |hits AS (
        |  SELECT rk.query_id,
        |    min(CASE WHEN rl.doc_id IS NOT NULL THEN rk.rn END) fr,
        |    count(rl.doc_id) h
        |  FROM rk LEFT JOIN rl
        |    ON rl.query_id = rk.query_id AND rl.doc_id = rk.doc_id
        |  WHERE rk.rn <= 10 GROUP BY 1),
        |nr AS (SELECT query_id, count(*) n_rel FROM rl GROUP BY 1),
        |qs AS (SELECT DISTINCT query_id FROM q)
        |SELECT qs.query_id,
        |  CAST(coalesce(fr, 0) AS BIGINT) AS first_rel_rank,
        |  CAST(CASE WHEN fr IS NOT NULL THEN 1000000 // fr
        |       ELSE 0 END AS BIGINT) AS rr_micro,
        |  CAST(coalesce(h, 0) * 100000 AS BIGINT) AS prec10_micro,
        |  CAST(CASE WHEN coalesce(n_rel, 0) > 0
        |       THEN coalesce(h, 0) * 1000000 // n_rel
        |       ELSE 0 END AS BIGINT) AS recall10_micro
        |FROM qs
        |LEFT JOIN hits USING (query_id)
        |LEFT JOIN nr USING (query_id)
        |ORDER BY query_id""".stripMargin),
    "s_bm25" -> (bm25Ctes +
      """
        |SELECT query_id, doc_id, score
        |FROM rk WHERE rn <= 10
        |ORDER BY query_id, score DESC, doc_id""".stripMargin),
    "s_ql" ->
      """WITH q(query_id, w) AS (VALUES
        |  (1,'table'),(1,'scan'),(1,'merge'),
        |  (2,'hash'),(2,'join'),(2,'spark'),
        |  (3,'window'),(3,'sort'),(3,'batch')),
        |nq AS (
        |  SELECT query_id, CAST(count(DISTINCT w) AS DOUBLE) nq
        |  FROM q GROUP BY 1),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) tf
        |  FROM toks JOIN (SELECT DISTINCT w FROM q) USING (w)
        |  GROUP BY 1, 2),
        |cf AS (SELECT w, sum(tf) cf FROM tf GROUP BY 1),
        |dl AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) dl
        |  FROM documents),
        |tot AS (SELECT sum(dl) ctoks FROM dl),
        |ps AS (
        |  SELECT query_id, tf.doc_id,
        |    sum(ln(1.0 + tf / (100.0 * (cf / ctoks)))) s
        |  FROM q JOIN tf USING (w) JOIN cf USING (w) CROSS JOIN tot
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT query_id, ps.doc_id,
        |    floor((s - nq * ln(dl + 100.0)) * 10000 + 0.5) / 10000.0 score
        |  FROM ps JOIN dl ON dl.doc_id = ps.doc_id JOIN nq USING (query_id)),
        |rk AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) rn
        |  FROM sc)
        |SELECT query_id, doc_id, score
        |FROM rk WHERE rn <= 10
        |ORDER BY query_id, score DESC, doc_id""".stripMargin,
    "s_rrf" ->
      """WITH q(query_id, w) AS (VALUES
        |  (1,'table'),(1,'scan'),(1,'merge'),
        |  (2,'hash'),(2,'join'),(2,'spark'),
        |  (3,'window'),(3,'sort'),(3,'batch')),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) tf
        |  FROM toks JOIN (SELECT DISTINCT w FROM q) USING (w)
        |  GROUP BY 1, 2),
        |dft AS (SELECT w, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY 1),
        |cf AS (SELECT w, sum(tf) cf FROM tf GROUP BY 1),
        |dl AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) dl
        |  FROM documents),
        |scal AS (
        |  SELECT CAST(count(*) AS DOUBLE) n_docs,
        |    avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) avgdl
        |  FROM documents),
        |tot AS (SELECT sum(dl) ctoks FROM dl),
        |nq AS (
        |  SELECT query_id, CAST(count(DISTINCT w) AS DOUBLE) nq
        |  FROM q GROUP BY 1),
        |bm_sc AS (
        |  SELECT q.query_id, tf.doc_id,
        |    floor(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |      * tf * 2.2
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        |      * 10000 + 0.5) / 10000.0 score
        |  FROM q JOIN tf USING (w) JOIN dft USING (w)
        |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN scal
        |  GROUP BY 1, 2),
        |bm_top AS (
        |  SELECT query_id, doc_id, rn FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY score DESC, doc_id) rn
        |    FROM bm_sc) WHERE rn <= 10),
        |ql_ps AS (
        |  SELECT query_id, tf.doc_id,
        |    sum(ln(1.0 + tf / (100.0 * (cf / ctoks)))) s
        |  FROM q JOIN tf USING (w) JOIN cf USING (w) CROSS JOIN tot
        |  GROUP BY 1, 2),
        |ql_sc AS (
        |  SELECT query_id, ql_ps.doc_id,
        |    floor((s - nq * ln(dl + 100.0)) * 10000 + 0.5) / 10000.0 score
        |  FROM ql_ps JOIN dl ON dl.doc_id = ql_ps.doc_id
        |    JOIN nq USING (query_id)),
        |ql_top AS (
        |  SELECT query_id, doc_id, rn FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY score DESC, doc_id) rn
        |    FROM ql_sc) WHERE rn <= 10),
        |contrib AS (
        |  SELECT query_id, doc_id, 1000000000000 // (60 + rn) c
        |  FROM bm_top
        |  UNION ALL
        |  SELECT query_id, doc_id, 1000000000000 // (60 + rn) c
        |  FROM ql_top),
        |fused AS (
        |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) rrf
        |  FROM contrib GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, doc_id, rrf,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rrf DESC, doc_id) rn
        |  FROM fused)
        |SELECT query_id, doc_id, rrf
        |FROM rk WHERE rn <= 10
        |ORDER BY query_id, rrf DESC, doc_id""".stripMargin)
}
