package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.TextAnalysis.round4HalfUp

/** Corpus-level curation operators the reference has no analog for
  * (north-star, SURVEY §2.8): statistical quality scoring with a bigram
  * language model, canonical text normalization, and seeded
  * deterministic shard assignment. All three are the standard front half
  * of a web-scale training-data pipeline (CCNet-style LM filtering,
  * normalize-before-dedup, reproducible shuffling into training shards).
  */
object CorpusOps {
  type Q = (SparkSession, String) => DataFrame

  private def toks(c: Column) = split(c, " ")

  /** Per-doc cross-entropy under an add-one-smoothed bigram LM trained
    * on the corpus itself — the CCNet/KenLM-shaped quality signal
    * (boilerplate and gibberish score high, fluent text low), minus the
    * external model file: the "LM" is two count tables built in-plan.
    *
    * Shape at 100 TB: one explode+groupBy per count table (map-side
    * combined longs), then two equi-joins of the doc-bigram stream
    * against vocabulary-sized count tables — every shuffle is keyed and
    * bounded by vocabulary, not corpus, size. The vocab-size scalar
    * rides a broadcast cross join, so the whole thing is ONE lazy DAG
    * (no driver action inside the operator).
    *
    * logp(w₂|w₁) = log₂((c₂(w₁w₂)+1) / (c₁(w₁)+V)); output is
    * -avg(logp) over the doc's bigrams (docs with <2 tokens have no
    * bigrams and drop out, same as the twin). Rounded with the explicit
    * half-up form: the avg's partial-order ulp noise sits 11 digits
    * below the 1e-4 step.
    */
  def bigramCrossEntropy(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    // one explode produces (w1, bigram) pairs: zip tokens with their tail
    val bi = docs.select(col("doc_id"),
      explode(zip_with(slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("b"))))
        .as("z"))
      .select(col("doc_id"), col("z.w1").as("w1"), col("z.b").as("b"))
    val uni = docs.select(explode(toks(col("text"))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val big = bi.groupBy("b").agg(count(lit(1)).as("c2"))
    val vdf = uni.agg(count(lit(1)).as("vsz"))
    bi.join(big, "b")
      .join(uni, "w1")
      .crossJoin(broadcast(vdf))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        round4HalfUp(-avg(log2((col("c2") + 1.0) / (col("c1") + col("vsz")))))
          .as("ce"))
  }

  /** The CCNet deployment shape of the bigram LM: count tables trained
    * on a TARGET slice (the high-quality/in-domain corpus), every doc
    * scored against them — in-domain text scores low cross-entropy,
    * out-of-domain high, and the score RANKS the crawl for filtering.
    * Differs from [[bigramCrossEntropy]] (self-trained) in the joins:
    * a scored doc's n-gram may be absent from the target tables, so
    * both lookups are left joins with add-one smoothing absorbing the
    * zero (log2(1/(0+vsz)) for a fully-unseen bigram — finite, large).
    *
    * Same scale shape as the self-trained form: count tables are
    * vocabulary-bounded aggregations of the TARGET (typically the small
    * side — a curated corpus), the crawl is scanned once and joined on
    * the bigram/unigram keys; the vocab-size scalar rides a one-row
    * broadcast cross join.
    */
  def bigramCrossEntropyAgainst(target: DataFrame,
      docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    def bigrams(df: DataFrame) = df.select(col("doc_id"),
      explode(zip_with(slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("b"))))
        .as("z"))
      .select(col("doc_id"), col("z.w1").as("w1"), col("z.b").as("b"))
    val uni = target.select(explode(toks(col("text"))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val big = bigrams(target).groupBy("b").agg(count(lit(1)).as("c2"))
    val vdf = uni.agg(count(lit(1)).as("vsz"))
    bigrams(docs)
      .join(big, Seq("b"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vdf))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        round4HalfUp(-avg(log2(
          (coalesce(col("c2"), lit(0L)) + 1.0) /
            (coalesce(col("c1"), lit(0L)) + col("vsz")))))
          .as("ce"))
  }

  /** Interpolated Kneser–Ney bigram probabilities for the corpus's most
    * frequent bigrams — the smoothing every count-based n-gram LM ships
    * with (KenLM's default), and the quality/perplexity scorer one step
    * up from [[bigramCrossEntropy]]'s add-one model. For an observed
    * bigram (w₁,w₂) with discount D = 0.75:
    *
    *   P_KN(w₂|w₁) = (c(w₁w₂) − D)/c(w₁)
    *               + (D·N₊(w₁·)/c(w₁)) · (N₊(·w₂)/N₊(··))
    *
    * where N₊(w₁·) = distinct continuations of w₁, N₊(·w₂) = distinct
    * histories of w₂ (the "how many contexts has this word completed"
    * signal that makes KN beat Good–Turing on novel contexts), and
    * N₊(··) = distinct bigram types. c(w₁w₂) ≥ 1 > D so the max(·,0)
    * clamp is vacuous on observed bigrams and omitted.
    *
    * Shape at 100 TB: ONE bigram-count shuffle off one token pass; every
    * derived table (history counts + distinct continuations in a single
    * groupBy over the count table, continuation counts in another) is
    * VOCABULARY-bounded, not corpus-bounded; the distinct-bigram-types
    * scalar rides a one-row broadcast cross join; top-N lands as
    * TakeOrderedAndProject (no global sort materializes). Cross-engine
    * discipline: the probability is spelled as an explicit parenthesized
    * double expression (both engines build the identical IEEE tree from
    * exact integer inputs) and rounded on the 1e-6 grid with the
    * spelled-out half-up form.
    */
  def kneserNeyTop(docs: DataFrame, topN: Int = 200): DataFrame = {
    val t = toks(col("text"))
    val bi = docs.select(
      explode(zip_with(slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("z"))
      .select(col("z.w1").as("w1"), col("z.w2").as("w2"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // history mass c(w1) and distinct continuations N+(w1·) in ONE pass
    val hist = big.groupBy("w1")
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("nf"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("nb"))
    val types = big.agg(count(lit(1)).as("nbb"))
    val p =
      (col("c2").cast("double") - 0.75) / col("c1") +
        ((lit(0.75) * col("nf")) / col("c1")) *
          (col("nb").cast("double") / col("nbb"))
    big.join(hist, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c2"),
        TextAnalysis.roundHalfUp(p, 6).as("pkn"))
      .orderBy(desc("c2"), asc("w1"), asc("w2"))
      .limit(topN)
  }

  /** Canonical normal form: lowercase, strip non-alphanumerics, collapse
    * runs of spaces, trim. Pure per-row codegen'd expressions — the
    * pass every text pipeline runs before fingerprinting/dedup so that
    * "The cat." and "the cat" collapse. Kept to character classes both
    * regex dialects (Java here, RE2 in the twin) define identically.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Seeded deterministic shard assignment — the reproducible global
    * shuffle in front of training-shard writes. shard = low nibble of
    * md5(doc_id:seed) (16 shards here; a corpus-sized deployment raises
    * `nShards` so one shard ≈ one executor's worth), pos = rank of the
    * full hash within the shard. Any two runs — any engine — produce
    * the identical (shard, pos) layout, which is what makes training
    * order auditable. The window-per-shard is the oracle-visible twin
    * of the production write (`repartition(n, h)` +
    * `sortWithinPartitions(h)` — same layout, no global window).
    */
  def shardAssign(docs: DataFrame, seed: String): DataFrame = {
    val h = DetDraw.hash(col("doc_id"), lit(seed))
    docs.select(col("doc_id"), h.as("h"))
      .withColumn("shard",
        conv(substring(col("h"), 32, 1), 16, 10).cast("long"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy("shard").orderBy("h", "doc_id"))
        .cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** Temperature-based multilingual sampling — the multilingual-mix
    * problem: proportional sampling drowns low-resource languages,
    * uniform over-samples them; the standard compromise makes the
    * SAMPLE's language shares ∝ n^α (α<1). Per-doc iid keep rates that
    * achieve it: rate_l ∝ n_l^(α−1) (low-resource languages keep MORE
    * of their docs), normalized so the expected sample is
    * `targetFrac` of the corpus and capped at 1.
    *
    * Selection is a DETERMINISTIC hash threshold: keep doc iff the
    * first 48 bits of md5(doc_id:seed) fall under floor(rate·2⁴⁸),
    * compared as fixed-width lowercase hex strings (lexicographic ==
    * numeric for fixed width, and 48 bits stay inside double-exact
    * range on both engines). Per-row expression + one broadcast of the
    * per-language rate table: scan throughput at any corpus size,
    * reproducible across runs, engines, and partitionings.
    *
    * α=0.5 is spelled with `sqrt` (correctly-rounded by IEEE on both
    * engines, giving bit-identical rates); other α go through `pow`,
    * whose last-ulp behavior is not cross-engine-pinned — the
    * oracle-checked configuration is the sqrt one.
    */
  def temperatureSample(docs: DataFrame, alpha: Double, seed: String,
      targetFrac: Double = 0.25): DataFrame = {
    def wCol(c: Column): Column =
      if (alpha == 0.5) sqrt(c) else pow(c, alpha)
    val counts = docs.groupBy("lang")
      .agg(count(lit(1)).cast("double").as("c"))
    val scal = counts.agg(
      sum(wCol(col("c"))).as("z"), sum(col("c")).as("n"))
    // rate_l = min(1, frac·N·n_l^(α−1)/Z) with Z = Σ n^α, written as
    // frac·N / ((n/n^α)·Z) so every arithmetic step is the same
    // correctly-rounded op in the SQL twin (n/n^α = n^(1−α) without pow).
    // The rate is then PINNED to the 1e-9 half-up grid: Z is a float
    // SUM whose association order is partial-aggregation-dependent, so
    // the raw rate can differ in the last ulp across
    // engines/partitionings and floor(rate·2⁴⁸) could shift by one —
    // the same ulp class the k-means centroid rounding pins, handled
    // the same way.
    // rate ≥ 1 means keep-all: its threshold is the sentinel "g", which
    // sorts above every hex digit — floor(1·2⁴⁸) needs 13 hex digits
    // and lpad-to-12 would TRUNCATE it into a nearly-keep-none gate.
    val rawRate = lit(targetFrac) * col("n") /
      (col("c") / wCol(col("c")) * col("z"))
    val rate = floor(rawRate * 1e9 + 0.5) / 1e9
    val rates = counts.crossJoin(broadcast(scal))
      .select(col("lang"),
        when(rate >= 1.0, lit("g")).otherwise(
          lower(lpad(hex(floor(rate * lit(281474976710656.0))
            .cast("long")), 12, "0"))).as("thr"))
    docs.join(broadcast(rates), "lang")
      .filter(substring(
        DetDraw.hash(col("doc_id"), lit(seed)), 1, 12) < col("thr"))
      .select("doc_id", "lang")
  }

  /** Context-window chunking with stride — long docs become overlapping
    * token windows (window `w`, stride `s` < w ⇒ w−s tokens of overlap),
    * the preprocessing in front of embedding models and long-context
    * training. Pure per-row explode of O(len/s) chunk descriptors: scan
    * throughput, no shuffle, no state. Every non-null doc emits ≥1
    * chunk (a short doc is its own chunk; null text emits nothing), and
    * no chunk is a strict suffix of its predecessor — a window that
    * already covered the doc end suppresses the trailing grid starts.
    * Chunk text is emitted as an md5 so
    * the result stays id-sized however long the docs are — the text
    * itself is re-derivable from (doc_id, start, n_tokens).
    */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"window=$window stride=$stride: need 0 < stride <= window")
    val t = toks(col("text"))
    // Emit grid starts only while the PREVIOUS window hasn't already
    // reached the doc end (start < len − window + stride): a start whose
    // predecessor covered through the end would emit a chunk that is a
    // strict SUFFIX of the previous one — zero new tokens, pure
    // duplicate storage/compute for every downstream consumer. Null
    // text is dropped (no tokens, no chunks — same as the twin).
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), t.as("t"),
        explode(sequence(lit(0),
          greatest(size(t) - lit(window) + lit(stride) - 1, lit(0)),
          lit(stride))).as("start"))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        slice(col("t"), col("start") + 1, lit(window)).as("ct"))
      .select(col("doc_id"), col("start"),
        size(col("ct")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("ct"))).as("chunk_md5"))
  }

  /** DoReMi-style iterative domain reweighting (Xie et al. 2023,
    * deterministic engine twin): the data-mixing answer to "how much of
    * each source should the training set draw?" learned from the data
    * instead of hand-tuned. Each round trains the bigram reference LM
    * on a weight-proportional deterministic sample of the corpus,
    * scores EVERY doc against it, and multiplicatively boosts domains
    * with above-average cross-entropy (excess loss — the domains the
    * current mixture models worst get more weight, DoReMi's
    * group-DRO step); the returned mixture is the round-average, as in
    * the paper. Simplifications vs the paper, documented: the proxy /
    * reference models are the engine's bigram LM rather than trained
    * transformers, and the baseline is the cross-domain mean loss.
    *
    * Deterministic end to end AND engine-portable (the integer-micro-
    * grid discipline that graduated `s_pca_top` and `t_classifier_train`
    * to oracle-backed): the weight state lives on the 1e-6 integer grid
    * (`w_micro` BIGINT summing to ~1e6), sampling is a portable 5-md5-
    * nibble threshold per (doc, round) — membership is the exact integer
    * comparison `h5·1e6 < rate_micro·16⁵` with `rate_micro =
    * clamp(w_micro·|domains|, 5e4, 1e6)` (the 5% floor keeps every
    * domain's sample alive) — per-doc cross-entropy lands on the proven
    * 1e-4 grid as an integer, per-domain means and the cross-domain
    * baseline are exact integer floor-divisions, and the one float step
    * (the group-DRO boost `exp(η·excess)`, excess clamped to a ±2
    * eta-scaled trust region so the later products stay in BIGINT) is
    * immediately re-quantized to the 1e-6 grid — both engines resume
    * from identical integers, so a DuckDB twin replays the whole loop
    * UNROLLED (one CTE block per round) and hash-matches. Driver state
    * is |domains|-sized per round (`require`-guarded), the BPE-loop
    * discipline.
    *
    * Shape at 100 TB: the corpus is tokenized/exploded ONCE — the
    * persisted (doc, source, gram, h₁..h_R) frame serves every round's
    * sample (an integer filter on the per-round hash column computed in
    * the same single pass) and every round's scoring joins, so per-round
    * cost is the count shuffles and the scoring join, not a repeated
    * parquet scan + explode; domain count and round count are constants,
    * persists released on exit.
    */
  def doremiWeights(docs: DataFrame, rounds: Int = 3,
      eta: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val domains = docs.select("source").distinct()
      .as[String].collect().sorted
    require(domains.length <= 1000,
      s"${domains.length} domains: driver-side weight state is only " +
        "domain-sized if the domain column is coarse (source, not URL)")
    val ndom = domains.length.toLong
    // per-round portable sample hash: first 5 md5 nibbles of
    // (doc_id, round) — computed once per doc in the single explode
    // pass and carried through, so each round's membership test on the
    // persisted frames is one integer compare, not a per-row digest
    def h5(r: Int): Column =
      DetDraw.draw(5, col("doc_id"), lit(s"$r:doremi")).as(s"h$r")
    val hCols = (1 to rounds).map(r => col(s"h$r"))
    val withH = docs.select(col("doc_id") +: col("source") +:
      col("text") +: (1 to rounds).map(h5): _*)
    // one explode for all rounds: every per-round frame below is a
    // filter/aggregate of this (identical arithmetic to deriving the
    // sample's bigrams from the sampled docs — a doc's bigrams are a
    // function of the doc alone)
    val t = toks(col("text"))
    // both frames are persisted PRE-PARTITIONED on their per-round
    // aggregation/join key (r16): InMemoryTableScan preserves the
    // cached child's hash partitioning, so each round's `big`/`uni`
    // aggregation AND the CE join's bigram side read the cache with NO
    // exchange — the round loop re-shuffled the corpus-sized bigram
    // frame on `b` every round (3 rounds × 2 consumers). One shuffle at
    // materialization, amortized over all rounds.
    val bi = withH.select(col("doc_id") +: col("source") +:
        explode(zip_with(slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("b"))))
          .as("z") +: hCols: _*)
      .select(col("doc_id") +: col("source") +: col("z.w1").as("w1") +:
        col("z.b").as("b") +: hCols: _*)
      .repartition(col("b"))
      .persist()
    val tok = withH.select(col("doc_id") +: col("source") +:
      explode(t).as("w1") +: hCols: _*)
      .repartition(col("w1"))
      .persist()
    // uniform start, rounded UP so the first round's rate saturates at
    // 1.0 exactly (full-sample first round, as in the paper's init)
    var w = domains.map(_ -> (1000000L + ndom - 1L) / ndom).toMap
    val acc = scala.collection.mutable.Map(domains.map(_ -> 0L).toSeq: _*)
    for (r <- 1 to rounds) {
      val rate = domains.map(d =>
        d -> math.max(50000L, math.min(1000000L, w(d) * ndom))).toMap
      val rateCol = domains.foldLeft(lit(0L)) { (acc0, dm) =>
        when(col("source") === dm, lit(rate(dm))).otherwise(acc0) }
      val inSample = col(s"h$r") * lit(1000000L) < rateCol * lit(1048576L)
      // uni persisted per round (r16): it feeds the vocabulary-size
      // count AND the CE join, and AQE does not reuse the duplicate
      // aggregation (OPTIMIZATION_r16.md) — sampled-vocab-sized,
      // released below
      val uni = tok.filter(inSample)
        .groupBy("w1").agg(count(lit(1)).as("c1")).persist()
      val big = bi.filter(inSample)
        .groupBy("b").agg(count(lit(1)).as("c2"))
      val vdf = uni.agg(count(lit(1)).as("vsz"))
      // per-doc CE as a 1e-4-grid INTEGER (the t_ngram_lm spelling with
      // the floor(...*1e4+0.5) kept integral), then exact integer
      // per-domain sums — one |domains|-row collect per round
      val ce = bi
        .join(big, Seq("b"), "left")
        .join(uni, Seq("w1"), "left")
        .crossJoin(broadcast(vdf))
        .groupBy("doc_id", "source").agg(
          floor(-avg(log2(
            (coalesce(col("c2"), lit(0L)) + 1.0) /
              (coalesce(col("c1"), lit(0L)) + col("vsz")))) * 10000 + 0.5)
            .cast("long").as("ce4"))
        .groupBy("source")
        .agg(sum(col("ce4")).as("s"), count(lit(1)).as("n"))
        .collect().map(x => x.getString(0) ->
          (x.getLong(1), x.getLong(2))).toMap
      uni.unpersist()
      // domain mean CE on the 1e-6 grid, baseline = cross-domain mean —
      // all floor-divisions over non-negative integers (Scala / = SQL //)
      val dceU = domains.map { d =>
        val (s0, n0) = ce.getOrElse(d, (0L, 0L))
        d -> (if (n0 == 0L) 0L else (s0 * 100L) / n0)
      }.toMap
      val baseU = dceU.values.sum / ndom
      // the one float step: exp of the eta-scaled excess, clamped to
      // ±2 (trust region — also bounds boosted = w·f·1e6 under 2⁶³),
      // re-quantized to the 1e-6 grid so both engines resume integral
      val f = domains.map { d =>
        val x = math.min(2.0, math.max(-2.0,
          ((dceU(d) - baseU).toDouble * eta) / 1000000.0))
        d -> math.floor(math.exp(x) * 1000000.0 + 0.5).toLong
      }.toMap
      val boosted = domains.map(d => d -> w(d) * f(d)).toMap
      val z = boosted.values.sum
      w = domains.map(d => d -> boosted(d) * 1000000L / z).toMap
      domains.foreach(d => acc(d) += w(d))
    }
    bi.unpersist()
    tok.unpersist()
    domains.toSeq.map(d => (d, acc(d) / rounds))
      .toDF("source", "weight_micro")
      .select(col("source"), col("weight_micro"),
        (col("weight_micro").cast("double") / 1000000.0).as("weight"))
  }

  /** Deterministic source-interleaved global ordering: doc at
    * within-source hash rank r (0-based) of source with alphabetical
    * index i sits at position r·|sources| + i — consecutive positions
    * cycle through the sources until one exhausts (its later slots stay
    * empty gaps; a loader sorts by pos, gaps are harmless). The
    * anti-clumping guarantee: any prefix of k·|sources| positions holds
    * AT MOST k docs of any single source. Shape at scale: one
    * source-keyed rank window (the p_shard_assign shape — production
    * twin is repartition + sortWithinPartitions on the hash), the
    * source index a driver-collected |sources|-bounded literal map.
    */
  def interleaveSources(docs: DataFrame, seed: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val sources = docs.select("source").distinct()
      .as[String].collect().sorted
    require(sources.length <= 1000,
      s"${sources.length} sources: the interleave index is only " +
        "driver-sized for a coarse source column")
    val idx = sources.zipWithIndex.toMap
    val idxCol = sources.foldLeft(lit(-1L)) { (acc, s0) =>
      when(col("source") === s0, lit(idx(s0).toLong)).otherwise(acc) }
    val h = DetDraw.hash(col("doc_id"), lit(seed))
    docs.select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")))
      .select(col("doc_id"), col("source"),
        ((col("r") - 1) * lit(sources.length.toLong) + idxCol)
          .cast("long").as("pos"))
  }

  val queries: Map[String, Q] = Map(
    "t_ngram_lm" -> { (s, d) =>
      bigramCrossEntropy(Tables.spread(Tables.documents(s, d)))
        .orderBy("doc_id")
    },
    // interpolated Kneser–Ney over the corpus's top bigrams — the
    // count-based-LM smoothing tier above t_ngram_lm's add-one model
    "t_kneser_ney" -> { (s, d) =>
      kneserNeyTop(Tables.spread(Tables.documents(s, d)))
    },
    // iterative trainer (multi-round sample→train→score loop) on the
    // integer micro grid — oracle-backed: the DuckDB twin replays the
    // loop UNROLLED, one CTE block per round; DoremiSpec additionally
    // pins an exact single-round reference + multi-round invariants
    "p_doremi_weights" -> { (s, d) =>
      doremiWeights(Tables.spread(Tables.documents(s, d)))
        .orderBy("source")
    },
    // domain-LM filtering, the CCNet deployment: target = the English
    // slice, every doc scored against ITS statistics — the in-domain/
    // out-of-domain ranking signal
    "p_lm_domain_score" -> { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      bigramCrossEntropyAgainst(docs.filter(col("lang") === "en"), docs)
        .orderBy("doc_id")
    },
    // Curriculum ordering: per-language LM cross-entropy deciles —
    // bucket 0 is the "easiest" (lowest-perplexity) tenth, the order a
    // curriculum-learning schedule feeds data in. percent_rank ties on
    // the grid-rounded ce collapse identically on both engines; the
    // per-lang window shares p_quality_gate's scale caveat (the
    // sampled/approx cutoff tier is the 100 TB path, a_gate_agreement
    // measures the drift).
    "p_curriculum" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.spread(Tables.documents(s, d))
      val ce = bigramCrossEntropy(docs).select(col("doc_id"), col("ce"))
      val w = Window.partitionBy("lang").orderBy("ce")
      docs.select(col("doc_id"), col("lang")).join(ce, "doc_id")
        .withColumn("bucket",
          least(floor(percent_rank().over(w) * 10), lit(9)).cast("int"))
        .orderBy("lang", "bucket", "ce", "doc_id")
    },
    "t_normalize" -> { (s, d) =>
      val n = normalize(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"), n.as("norm"),
        when(n === "", 0L).otherwise(size(split(n, " ")))
          .cast("long").as("n_tokens_norm"))
        .orderBy("doc_id")
    },
    "p_shard_assign" -> { (s, d) =>
      shardAssign(Tables.documents(s, d), "graft42").orderBy("doc_id")
    },
    // source-interleaved training order (anti-clumping): global
    // position r·|sources| + source_index round-robins the sources, so
    // no shard prefix is a long run of one domain — the training-order
    // diversity knob next to p_shard_assign's pure hash shuffle
    "p_interleave_sources" -> { (s, d) =>
      interleaveSources(Tables.spread(Tables.documents(s, d)), "wv7")
        .orderBy("doc_id")
    },
    "p_temperature_sample" -> { (s, d) =>
      temperatureSample(Tables.documents(s, d), 0.5, "temp")
        .orderBy("doc_id")
    },
    // window 48 / stride 32: fixture docs run ~100 tokens, so every
    // doc exercises the MULTI-chunk path — overlap, end clipping, and
    // suffix suppression are all cross-engine-checked (a 128-token
    // window would collapse the gate to one chunk per doc: vacuous)
    "p_chunk_docs" -> { (s, d) =>
      chunkDocs(Tables.documents(s, d), 48, 32)
        .orderBy("doc_id", "start")
    })

  /** 5-md5-nibble sample hash of (doc_id, round) as an integer in
    * [0, 16⁵) — the a_preference_ci nibble idiom.
    */
  private def doremiH5(r: Int): String = {
    val dig = s"md5(CAST(doc_id AS VARCHAR) || ':$r:doremi')"
    (0 until 5).map { i =>
      val p = math.pow(16, 4 - i).toLong
      s"(strpos('0123456789abcdef', substr($dig, ${i + 1}, 1)) - 1) * $p"
    }.mkString(" +\n    |    ")
  }

  /** One unrolled DoReMi round: rate from the previous round's integer
    * weights, portable-hash sample, add-one bigram LM counts, 1e-4-grid
    * per-doc CE, integer domain means and baseline, clamped+quantized
    * exponential boost, integer renormalization. Mirrors the engine's
    * loop body statement for statement (see [[doremiWeights]]).
    */
  private def doremiRound(r: Int, prevW: String): String =
    s"""rate$r AS MATERIALIZED (
       |  SELECT source,
       |    greatest(50000, least(1000000, w * (SELECT n FROM nd)))
       |      AS rate
       |  FROM $prevW),
       |samp$r AS MATERIALIZED (
       |  SELECT doc_id FROM dh JOIN rate$r USING (source)
       |  WHERE h$r * 1000000 < rate * 1048576),
       |uni$r AS MATERIALIZED (
       |  SELECT w1, count(*) c1 FROM tok JOIN samp$r USING (doc_id)
       |  GROUP BY 1),
       |big$r AS MATERIALIZED (
       |  SELECT b, count(*) c2 FROM bg JOIN samp$r USING (doc_id)
       |  GROUP BY 1),
       |v$r AS MATERIALIZED (SELECT count(*) vsz FROM uni$r),
       |ce$r AS MATERIALIZED (
       |  SELECT bg.doc_id, bg.source,
       |    CAST(floor(-avg(log2((coalesce(c2, 0) + 1.0)
       |      / (coalesce(c1, 0) + vsz))) * 10000 + 0.5) AS BIGINT) ce4
       |  FROM bg LEFT JOIN big$r USING (b) LEFT JOIN uni$r USING (w1)
       |  CROSS JOIN v$r
       |  GROUP BY 1, 2),
       |dce$r AS MATERIALIZED (
       |  SELECT d.source,
       |    CASE WHEN count(c.ce4) = 0 THEN 0
       |         ELSE (CAST(sum(c.ce4) AS BIGINT) * 100) // count(c.ce4)
       |    END AS dce
       |  FROM dom d LEFT JOIN ce$r c USING (source) GROUP BY 1),
       |base$r AS MATERIALIZED (
       |  SELECT CAST(sum(dce) AS BIGINT) // (SELECT n FROM nd) AS bs
       |  FROM dce$r),
       |f$r AS MATERIALIZED (
       |  SELECT source, CAST(floor(exp(least(greatest(
       |    (CAST(dce - (SELECT bs FROM base$r) AS DOUBLE) * 0.5)
       |      / 1000000.0, -2.0), 2.0)) * 1000000.0 + 0.5) AS BIGINT) f
       |  FROM dce$r),
       |bo$r AS MATERIALIZED (
       |  SELECT source, w * f AS bo FROM $prevW JOIN f$r USING (source)),
       |z$r AS MATERIALIZED (SELECT CAST(sum(bo) AS BIGINT) z FROM bo$r),
       |w$r AS MATERIALIZED (
       |  SELECT source, (bo * 1000000) // (SELECT z FROM z$r) AS w
       |  FROM bo$r)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the engine's 3-round loop unrolled: integer weight state on the
    // 1e-6 grid, portable 5-nibble sample hash, every float step either
    // on a proven grid (per-doc CE, 1e-4) or immediately re-quantized
    // (the exp boost) — see doremiWeights's portability argument
    "p_doremi_weights" ->
      s"""WITH dom AS MATERIALIZED (SELECT DISTINCT source FROM documents),
         |nd AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) n FROM dom),
         |dh AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(${doremiH5(1)} AS BIGINT) AS h1,
         |    CAST(${doremiH5(2)} AS BIGINT) AS h2,
         |    CAST(${doremiH5(3)} AS BIGINT) AS h3
         |  FROM documents),
         |toks AS MATERIALIZED (
         |  SELECT doc_id, source, string_split(text, ' ') t
         |  FROM documents WHERE text IS NOT NULL),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, source, unnest(t) w1 FROM toks),
         |bg AS MATERIALIZED (
         |  SELECT doc_id, source, t[i] AS w1, t[i] || ' ' || t[i + 1] AS b
         |  FROM toks, unnest(range(1, len(t))) u(i)),
         |w0 AS MATERIALIZED (
         |  SELECT source,
         |    (1000000 + (SELECT n FROM nd) - 1) // (SELECT n FROM nd) AS w
         |  FROM dom),
         |${doremiRound(1, "w0")},
         |${doremiRound(2, "w1")},
         |${doremiRound(3, "w2")},
         |fin AS (
         |  SELECT w1.source, (w1.w + w2.w + w3.w) // 3 AS weight_micro
         |  FROM w1 JOIN w2 USING (source) JOIN w3 USING (source))
         |SELECT source, weight_micro,
         |  CAST(weight_micro AS DOUBLE) / 1000000.0 AS weight
         |FROM fin ORDER BY source""".stripMargin,
    "t_kneser_ney" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
        |bg AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, unnest(range(1, len(t))) u(i)),
        |big AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) c2
        |  FROM bg GROUP BY 1, 2),
        |hist AS (
        |  SELECT w1, CAST(sum(c2) AS BIGINT) c1,
        |    CAST(count(*) AS BIGINT) nf
        |  FROM big GROUP BY 1),
        |cont AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) nb FROM big GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) nbb FROM big)
        |SELECT w1, w2, c2,
        |  floor(((CAST(c2 AS DOUBLE) - 0.75) / c1
        |    + ((0.75 * nf) / c1) * (CAST(nb AS DOUBLE) / nbb))
        |    * 1000000 + 0.5) / 1000000.0 AS pkn
        |FROM big JOIN hist USING (w1) JOIN cont USING (w2) CROSS JOIN v
        |ORDER BY c2 DESC, w1, w2 LIMIT 200""".stripMargin,
    "t_ngram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS b
        |  FROM toks, unnest(range(1, len(t))) u(i)),
        |uni AS (
        |  SELECT w1, count(*) c1
        |  FROM (SELECT unnest(t) w1 FROM toks) GROUP BY 1),
        |big AS (SELECT b, count(*) c2 FROM bg GROUP BY 1),
        |v AS (SELECT count(*) vsz FROM uni)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  floor(-avg(log2((c2 + 1.0) / (c1 + vsz))) * 10000 + 0.5)
        |    / 10000.0 AS ce
        |FROM bg JOIN big USING (b) JOIN uni USING (w1) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p_lm_domain_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
        |ttoks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents
        |  WHERE lang = 'en'),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS b
        |  FROM toks, unnest(range(1, len(t))) u(i)),
        |tbg AS (
        |  SELECT t[i] || ' ' || t[i + 1] AS b
        |  FROM ttoks, unnest(range(1, len(t))) u(i)),
        |uni AS (
        |  SELECT w1, count(*) c1
        |  FROM (SELECT unnest(t) w1 FROM ttoks) GROUP BY 1),
        |big AS (SELECT b, count(*) c2 FROM tbg GROUP BY 1),
        |v AS (SELECT count(*) vsz FROM uni)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  floor(-avg(log2((coalesce(c2, 0) + 1.0)
        |    / (coalesce(c1, 0) + vsz))) * 10000 + 0.5)
        |    / 10000.0 AS ce
        |FROM bg LEFT JOIN big USING (b) LEFT JOIN uni USING (w1)
        |CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p_curriculum" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS b
        |  FROM toks, unnest(range(1, len(t))) u(i)),
        |uni AS (
        |  SELECT w1, count(*) c1
        |  FROM (SELECT unnest(t) w1 FROM toks) GROUP BY 1),
        |big AS (SELECT b, count(*) c2 FROM bg GROUP BY 1),
        |v AS (SELECT count(*) vsz FROM uni),
        |ce AS (
        |  SELECT doc_id,
        |    floor(-avg(log2((c2 + 1.0) / (c1 + vsz))) * 10000 + 0.5)
        |      / 10000.0 AS ce
        |  FROM bg JOIN big USING (b) JOIN uni USING (w1) CROSS JOIN v
        |  GROUP BY doc_id)
        |SELECT doc_id, lang, ce,
        |  CAST(least(floor(percent_rank() OVER (
        |    PARTITION BY lang ORDER BY ce) * 10), 9) AS INT) AS bucket
        |FROM ce JOIN documents USING (doc_id)
        |ORDER BY lang, bucket, ce, doc_id""".stripMargin,
    "t_normalize" ->
      """SELECT doc_id, norm,
        |  CAST(CASE WHEN norm = '' THEN 0
        |       ELSE len(string_split(norm, ' ')) END AS BIGINT)
        |    AS n_tokens_norm
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text),
        |          '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // range(0, greatest(len-48+32, 1), 32) and
    // sequence(0, greatest(len-48+32-1, 0), 32) generate the same
    // start set (grid points whose previous window hasn't covered the
    // end); list slicing is 1-based inclusive on both engines, clipped.
    // text IS NOT NULL mirrors the Spark-side filter — DuckDB's
    // greatest() IGNORES nulls, so a null len would otherwise become
    // bound 1 and emit a phantom (doc_id, 0, NULL, NULL) row
    "p_chunk_docs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents
        |  WHERE text IS NOT NULL),
        |st AS (
        |  SELECT doc_id, t, CAST(i AS BIGINT) AS start
        |  FROM toks,
        |       unnest(range(0, greatest(len(t) - 48 + 32, 1), 32)) u(i)),
        |ch AS (
        |  SELECT doc_id, start,
        |    t[start + 1 : start + 48] AS ct
        |  FROM st)
        |SELECT doc_id, start,
        |  CAST(len(ct) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(ct, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, start""".stripMargin,
    "p_temperature_sample" ->
      """WITH cnt AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) c
        |  FROM documents GROUP BY 1),
        |s AS (SELECT sum(sqrt(c)) z, sum(c) n FROM cnt),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN rate >= 1.0 THEN 'g'
        |    ELSE lower(lpad(to_hex(CAST(floor(
        |      rate * 281474976710656.0) AS BIGINT)), 12, '0')) END AS thr
        |  FROM (SELECT lang,
        |          floor(0.25 * n / (c / sqrt(c) * z)
        |            * 1000000000.0 + 0.5) / 1000000000.0 AS rate
        |        FROM cnt CROSS JOIN s) pinned)
        |SELECT doc_id, lang
        |FROM documents JOIN r USING (lang)
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':temp'), 1, 12)
        |  < thr
        |ORDER BY doc_id""".stripMargin,
    "p_interleave_sources" ->
      """WITH si AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1
        |    AS src_idx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT count(*) AS ns FROM si),
        |r AS (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':wv7'), doc_id) AS r
        |  FROM documents)
        |SELECT r.doc_id, r.source,
        |  CAST((r.r - 1) * n.ns + si.src_idx AS BIGINT) AS pos
        |FROM r JOIN si USING (source) CROSS JOIN n
        |ORDER BY doc_id""".stripMargin,
    "p_shard_assign" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || ':graft42') AS h
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, h,
        |    CAST(strpos('0123456789abcdef', substr(h, 32, 1)) - 1
        |      AS BIGINT) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS BIGINT) AS pos
        |FROM a ORDER BY doc_id""".stripMargin)
}
