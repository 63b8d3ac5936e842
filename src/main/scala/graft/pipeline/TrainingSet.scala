package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end training-set materialization (north star): the composition a
  * real LLM data pipeline runs — near-dup clustering → keep-list anti-join
  * → language gate → quality gate — as ONE declarative query, so Catalyst
  * sees the whole plan (the quality/lang predicates prune before anything
  * wide, the anti-join broadcasts when the drop-list is small).
  *
  * Plan shape at scale: pair generation + clustering bound by the capped
  * LSH machinery; the final pass is one scan of `documents` with a
  * (usually broadcast) anti-join and codegen'd per-row predicates.
  */
object TrainingSet {
  type Q = (SparkSession, String) => DataFrame

  /** Quality threshold with measured margin at the fixture (nearest value
    * 2.15e-4 away at sf0.01; the natural-looking 0.65 sits 1 ulp from real
    * data values — see oracle-compare notes).
    */
  val QualityThreshold = 0.66

  def trainingSet(docs: DataFrame): DataFrame = {
    // production tier: the df-capped jaccard (bounded per-shingle buckets)
    // feeds clustering — identical to the exact tier on the fixture (max
    // df << cap, proven by d_ngram_jaccard_capped's oracle), bounded at
    // any scale
    val pairs = Dedup.jaccardPairs(docs, 0.8, maxDf = 20)
      .select(col("da").as("ida"), col("db").as("idb"))
    val dropList = Dedup.dupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster"))
      .select("doc_id")
    // quality computed ONCE: filter and projection are separate codegen
    // stages with no cross-operator subexpression elimination, so
    // compiling qualityScore into both would tokenize every surviving
    // row twice
    docs.join(dropList, Seq("doc_id"), "left_anti")
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .filter(col("lang") === "en" && col("q") >= QualityThreshold)
      .select(col("doc_id"),
        TextAnalysis.round4HalfUp(col("q")).as("quality"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Epoch oversampling: materialize the repeated training stream with
    * per-source epoch factors (the "repeat high-quality sources for
    * multiple epochs" lever of LLM data mixing — e.g. the per-dataset
    * epoch column of LLaMA's pre-training mix, Touvron et al. 2023).
    * Each doc appears `epochs(source)` times tagged with its epoch index
    * 1..n; unlisted sources default to one epoch. Materializing (vs a
    * loader-side repeat) is what makes the training order auditable —
    * feed the output to [[graft.pipeline.CorpusOps]]' shard assignment
    * for the physical layout.
    *
    * Shape at 100 TB: the factor table is a human-written config —
    * broadcast; the explode is bounded by the max epoch factor (a small
    * constant), so output is a constant multiple of the input with zero
    * shuffles.
    */
  def epochMix(docs: DataFrame, factors: Seq[(String, Int)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val f = factors.toDF("source", "epochs")
    docs.join(broadcast(f), Seq("source"), "left")
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), coalesce(col("epochs"), lit(1))))
          .as("epoch"))
  }

  /** Contrastive triplet mining — the data-prep step of embedding/
    * retriever training (SimCSE/DPR-style): (anchor, positive) pairs
    * are the corpus's exact near-dup pairs (the lossless PPJoin prefix
    * tier, so positives are REAL paraphrase-grade neighbors, not
    * hash-approximate ones), and each anchor draws a deterministic
    * pseudo-random NEGATIVE via bucketed hashing: doc ids bucket by
    * `mixHash mod nb`; an anchor's negative is the smallest candidate
    * in bucket `(mixHash(anchor)+offset) mod nb` that is neither
    * endpoint of the pair. Everything re-derives from ids alone —
    * partition-independent, retry-stable, engine-portable.
    *
    * Shape at 100 TB: the pair tier is the prefix filter's bounded
    * candidate join; the bucket table is 3 rows per bucket via the
    * bounded-heap [[graft.plans.TopKPerKey]] (never a per-bucket
    * collect) and broadcasts. Triplets whose negative bucket cannot
    * supply a distinct doc (only when a bucket holds < 3 docs that all
    * collide with the pair) drop, deterministically — at corpus scale
    * buckets hold n/nb docs and this never fires.
    */
  def contrastiveTriplets(docs: DataFrame, threshold: Double = 0.8,
      nb: Int = 16, offset: Int = 7): DataFrame = {
    val pairs = Dedup.prefixJaccardPairs(docs, threshold)
      .select(col("da").as("anchor"), col("db").as("positive"))
    val bucketed = docs.select(col("doc_id"),
      pmod(mixHash(col("doc_id")), lit(nb.toLong)).as("bk"))
    val mins = graft.plans.TopKPerKey
      .topKPerKey(bucketed, Seq("bk"), Seq(("doc_id", false)), 3)
      .groupBy("bk").agg(sort_array(collect_list("doc_id")).as("cand"))
    pairs
      .withColumn("bk",
        pmod(mixHash(col("anchor")) + lit(offset.toLong), lit(nb.toLong)))
      .join(broadcast(mins), Seq("bk"), "left")
      .withColumn("negative", try_element_at(
        filter(col("cand"),
          c => c =!= col("anchor") && c =!= col("positive")), lit(1)))
      .filter(col("negative").isNotNull)
      .select("anchor", "positive", "negative")
  }

  /** Deterministic stratified sampling: k docs per stratum, chosen by
    * ranking on a content-independent hash (md5 of the id) — stable across
    * runs, retries, and partitionings, unlike `sample()` whose output
    * depends on partition layout. One shuffle on the stratum key; the
    * rank-k cutoff is a per-key top-k shape.
    */
  def stratifiedSample(docs: DataFrame, stratum: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratum))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col(stratum))
  }

  /** Sequence packing for context-window training: concatenate docs in
    * doc_id order within each language and assign each doc the index of
    * the `budget`-token context window its first token lands in (standard
    * concat-then-chunk packing). A running-sum window per stratum — one
    * shuffle; at scale the stratum is whatever bounds a packing shard
    * (language × date × source file), never a global ordering.
    */
  def packSequences(docs: DataFrame, budget: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / budget).cast("long")
          .as("pack_id"))
  }

  /** Corpus-RELATIVE quality gate: keep docs at or above their
    * language's 25th quality percentile. Absolute thresholds (the
    * [[QualityThreshold]] gate) drift as the corpus mix shifts;
    * rank-based gates self-calibrate. percent_rank = (rank-1)/(n-1) is
    * the same IEEE division in any engine, so the 0.25 boundary needs no
    * measured margin — ties share a rank in both. Partitioning by lang
    * bounds each sort; at 100 TB swap the window for approx_percentile
    * cutoffs per language (same keep set up to sketch error).
    */
  def qualityPercentileGate(docs: DataFrame, p: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("quality"))
    docs
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= p)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.round4HalfUp(col("quality")).as("quality"))
  }

  /** Deterministic pseudo-random ordering/splitting hash: Knuth
    * multiplicative hashing, (id · 2654435761) mod 2³². Content- and
    * partition-independent (stable across runs, retries, repartitions —
    * the property `rand()` lacks), and pure BIGINT arithmetic so any
    * engine recomputes it bit-identically. Exact while id < ~3.4e9
    * (the product must stay under 2⁶³); shard the id space first at
    * larger scales.
    */
  def mixHash(id: Column): Column =
    (id * lit(2654435761L)) % lit(4294967296L)

  /** Deterministic train/val/test split: bucket = mixHash(id) mod 100,
    * train < 90 ≤ val < 95 ≤ test. The assignment is a per-row codegen'd
    * expression — no shuffle, no state, and a doc keeps its split when
    * the corpus around it changes (re-crawls don't leak val docs into
    * train). The query aggregates per (split, lang) to audit the mix.
    */
  def hashSplit(docs: DataFrame): DataFrame = {
    val bucket = mixHash(col("doc_id")) % lit(100L)
    docs.select(col("lang"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
  }

  /** Domain-weighted token-budget mixture: each source contributes docs —
    * in mixHash pseudo-random order, so the selection is an unbiased
    * sample, not a doc_id-prefix artifact — until its token budget is
    * exhausted (the doc that crosses the line is kept: standard greedy
    * fill). This is the mix-shaping step of corpus assembly ("20 B tokens
    * web, 5 B code, 2 B books") downstream of dedup/quality gates.
    *
    * One shuffle on `source`, then a bounded per-source running-sum
    * window. At 100 TB a single hot source would serialize into one
    * partition, so the production variant splits each source's budget
    * across (source, mixHash mod S) sub-shards — same greedy fill, S-way
    * parallel, budget/S per shard — which this query models with S=1.
    */
  def tokenMixture(docs: DataFrame, baseBudget: Long): DataFrame = {
    // per-source budget: base + (source number mod 3)·base/2 — a stand-in
    // for the real per-domain budget table (which would broadcast-join in)
    val budget = lit(baseBudget) +
      (regexp_extract(col("source"), "([0-9]+)$", 1).cast("long") %
        lit(3L)) * lit(baseBudget / 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(mixHash(col("doc_id")), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") - col("n_tokens") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum"))
  }

  /** Two-phase anneal schedule constants, shared verbatim with the
    * generated oracle (the MixTargets discipline): per-source phase-1
    * and phase-2 token budgets, the eligibility divisor (top 1/5 of
    * each source's docs by quality), and the fail-loud epoch cap.
    */
  private[graft] val AnnealB1 = 3000L
  private[graft] val AnnealB2 = 2500L
  private[graft] val AnnealTopDiv = 5L
  private[graft] val AnnealMaxEpochs = 64L

  /** Two-phase training-data schedule — the modern "anneal on the best
    * data" recipe (Llama 3 / MiniCPM style: after the bulk phase, the
    * final learning-rate decay consumes a small, heavily-oversampled
    * high-quality slice): phase 1 greedily fills each source's `b1`
    * token budget over ALL docs in deterministic [[mixHash]] order (the
    * tokenMixture fill, crossing doc kept); phase 2 restricts to each
    * source's top `1/topDiv` docs by quality — the grid-rounded integer
    * `q_micro` both engines compute identically (the t_quality_score
    * contract), doc_id ties — and cycles them in full epochs
    * (`b2 DIV t2` many, fail-loud past [[AnnealMaxEpochs]] — a
    * mis-sized budget over a tiny elite set means quality collapse,
    * not more loops) plus a greedy remainder prefix, so phase-2 rows
    * materialize the oversampling with auditable epoch indices (the
    * p_epoch_mix discipline). Every window is per-source (the bounded-
    * stratum rule: no global running sum serializes the corpus into
    * one partition); the schedule row count is docs + elig·epochs.
    */
  def annealMix(docs: DataFrame, b1: Long = AnnealB1, b2: Long = AnnealB2,
      topDiv: Long = AnnealTopDiv): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(b1 >= 0 && b2 >= 0 && topDiv >= 1,
      s"anneal budgets must be non-negative, topDiv >= 1; " +
        s"got ($b1, $b2, $topDiv)")
    val base = docs.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        floor(TextAnalysis.qualityScore(col("text")) * 10000 + 0.5)
          .cast("long").as("q"),
        mixHash(col("doc_id")).as("h"))
      .persist() // three consumers: phase-1 fill, eligibility, phase-2
    val wOrd = Window.partitionBy("source").orderBy("h", "doc_id")
    val p1 = base
      .withColumn("cum", sum(col("n_tokens")).over(wOrd))
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .filter(col("cum") - col("n_tokens") < b1) // prefix → pos survives
      .select(col("source"), lit(1L).as("phase"), lit(0L).as("epoch"),
        col("pos"), col("doc_id"), col("n_tokens"))
    val wQ = Window.partitionBy("source")
      .orderBy(col("q").desc, col("doc_id").asc)
    val elig = base
      .withColumn("rk", row_number().over(wQ).cast("long"))
      .withColumn("ndocs", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("rk") <= expr(s"ndocs DIV $topDiv"))
      .select("source", "doc_id", "n_tokens", "h")
    val st = elig.groupBy("source").agg(sum(col("n_tokens")).as("t2"))
      .select(col("source"), expr(s"$b2 DIV t2").as("e0"),
        expr(s"$b2 % t2").as("rem"))
      .select(col("source"),
        when(col("e0") <= AnnealMaxEpochs, col("e0"))
          .otherwise(raise_error(lit(
            s"annealMix: phase-2 budget $b2 cycles a source's elite " +
              s"set more than $AnnealMaxEpochs times - the set is too " +
              "small for the budget (quality collapse, not more " +
              "coverage); shrink b2 or widen eligibility")))
          .as("e"),
        col("rem"))
    val el = elig.join(broadcast(st), "source")
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .withColumn("cum2", sum(col("n_tokens")).over(wOrd))
    val full = el.filter(col("e") > 0)
      .select(col("source"), lit(2L).as("phase"),
        explode(sequence(lit(0L), col("e") - 1)).as("epoch"),
        col("pos"), col("doc_id"), col("n_tokens"))
    val remRows = el.filter(col("cum2") - col("n_tokens") < col("rem"))
      .select(col("source"), lit(2L).as("phase"), col("e").as("epoch"),
        col("pos"), col("doc_id"), col("n_tokens"))
    p1.union(full).union(remRows)
      .orderBy("source", "phase", "epoch", "pos")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis): rank
    * docs by key = u^(1/w) where u is a DETERMINISTIC uniform from
    * [[mixHash]] and w the doc's weight; the top-k per stratum is then
    * an exact weighted sample — a doc with twice the weight has twice
    * the inclusion odds, yet the draw is reproducible across runs,
    * retries, and partitionings (the property `sample()` and `rand()`
    * lack). Quality-weighted mixture sampling is the production use:
    * keep k docs per language, preferring — not hard-gating — quality.
    *
    * One shuffle on the stratum; the rank-k cut is the same per-key
    * top-k shape as [[stratifiedSample]]. At scale swap the window for
    * TopKPerKey exactly as `p_domain_cap` does.
    */
  def weightedSample(docs: DataFrame, stratum: String, weight: Column,
      k: Int): DataFrame = {
    // u in (0, 1]: (mixHash + 1) / 2^32 — never 0, so pow is defined
    val u = (mixHash(col("doc_id")) + lit(1L)).cast("double") /
      lit(4294967296.0)
    val key = pow(u, lit(1.0) / weight)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratum)).orderBy(key.desc, col("doc_id"))
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col(stratum))
  }

  /** Corpus snapshot diff: classify every doc across two crawl versions
    * as added / removed / changed by full-outer-joining content HASHES —
    * the text itself never ships through the join, only (id, 16-byte
    * digest), so the shuffle is id-sized regardless of doc length. On
    * bucketed-by-id layouts the join plans with zero exchanges. This is
    * the incremental-ingest front door: `changed ∪ added` is exactly the
    * slice the incremental dedup/quality tiers re-process.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def hashed(df: DataFrame, as: String) =
      df.select(col("doc_id"), md5(col("text")).as(as))
    corpusDiffHashed(hashed(oldDocs, "oh"), hashed(newDocs, "nh"))
  }

  /** The diff-classification core on PRE-HASHED frames (doc_id, oh) /
    * (doc_id, nh) — one definition of the added/removed/changed rule,
    * shared by the batch query and the snapshot-ingest stream
    * ([[graft.streaming.CrawlDiffStream]], which maintains its own
    * persisted hash table and must not re-derive the rule).
    */
  def corpusDiffHashed(oldHashes: DataFrame,
      newHashes: DataFrame): DataFrame =
    oldHashes.join(newHashes, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("oh").isNull, "added")
          .when(col("nh").isNull, "removed")
          .when(col("oh") =!= col("nh"), "changed")
          .otherwise("unchanged").as("status"))

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every raw
    * doc by how much its hashed-n-gram profile looks like a TARGET
    * distribution versus the raw corpus — the data-selection step that
    * upsamples "looks like the domain I care about" without training a
    * classifier. Features are unigrams + bigrams hashed into
    * `16^nibbles` buckets; per-bucket log-likelihood ratios
    * `λ_b = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))` (add-one smoothing)
    * are scaled to INTEGER micro-units, so each doc's score
    * `Σ c_db · λ_b` is exact BIGINT arithmetic — associative, engine-
    * independent, oracle-checkable bit-for-bit (the t_hash_classifier
    * discipline; ln itself is correctly rounded in both engines on
    * identical double inputs).
    *
    * Scale shape: the feature stream is ~2× the token stream, folded to
    * per-(doc, bucket) counts behind one map-side-combined shuffle; the
    * bucket aggregations and the λ table are BUCKET-bounded (65536 rows
    * at the default — broadcast, never a corpus shuffle), and the final
    * score is one doc-keyed aggregation. The bucket hash is the
    * engine-portable md5-nibble idiom shared with [[CorpusOps]]'
    * shardAssign; a throughput deployment can swap xxhash64 in since
    * bucket IDENTITY never enters the score, only collision structure.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
      nibbles: Int = 4): DataFrame = {
    require(nibbles >= 1 && nibbles <= 8,
      s"nibbles=$nibbles: bucket space 16^nibbles must fit a broadcast")
    val buckets = math.pow(16, nibbles).toLong
    def bucketOf(feat: Column): Column =
      conv(substring(md5(feat), 1, nibbles), 16, 10).cast("long")
    val base = graft.Tables.spread(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), isTarget.as("tgt"),
        split(col("text"), " ").as("t"))
    val uni = base
      .select(col("doc_id"), col("tgt"), explode(col("t")).as("w"))
      .select(col("doc_id"), col("tgt"), bucketOf(col("w")).as("b"))
    val bi = base.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("tgt"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(col("doc_id"), col("tgt"),
        bucketOf(concat(element_at(col("t"), col("i")), lit(" "),
          element_at(col("t"), col("i") + 1))).as("b"))
    // feats persisted (r17): FOUR consumers (raw, tgtC, totals, and the
    // scoring join) each re-ran the explode + per-occurrence md5 union
    // pipeline — AQE does not reuse the duplicate subtrees
    // (OPTIMIZATION_r16.md).
    // Narrow (doc, tgt, bucket, count) rows; lazy MEMORY_AND_DISK,
    // harness owns release.
    val feats = uni.union(bi)
      .groupBy(col("doc_id"), col("tgt"), col("b"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = feats.groupBy("b").agg(sum(col("c")).as("r"))
    val tgtC = feats.filter(col("tgt"))
      .groupBy("b").agg(sum(col("c")).as("tc"))
    val totals = feats.agg(sum(col("c")).as("rTot"),
      sum(when(col("tgt"), col("c")).otherwise(lit(0L))).as("tTot"))
    val lam = raw.join(tgtC, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor((
          log((coalesce(col("tc"), lit(0L)) + lit(1.0)) /
            (col("tTot") + lit(buckets.toDouble))) -
          log((col("r") + lit(1.0)) /
            (col("rTot") + lit(buckets.toDouble)))
        ) * lit(1e6) + lit(0.5)).cast("long").as("lam_micro"))
    feats.join(broadcast(lam), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c") * col("lam_micro")).as("score_micro"))
  }

  /** Packing-efficiency audit over [[packSequences]]' concatenate-then-
    * chunk layout — the economics report of the packing step: per
    * language, how many context windows the stream fills
    * (`util_micro` = 10⁶·tokens DIV (packs·budget); the only slack in
    * this scheme is the final partial window) and how many documents
    * STRADDLE a window boundary (`straddled` — split docs lose context
    * coherence, the real cost knob of chunked packing vs padded
    * packing; a doc straddles iff its first and last token land in
    * different windows). Integer-exact end to end: token counts,
    * running sums, window ids and the DIV utilization are all BIGINTs.
    * One lang-keyed window over id-sized rows — the packSequences plan
    * plus a per-lang aggregate; nothing touches document text beyond
    * the token count.
    */
  def packEfficiency(docs: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, s"budget=$budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .withColumn("cum", sum(col("n")).over(w))
      .select(col("lang"), col("n"),
        expr(s"(cum - n) DIV $budget").as("startp"),
        // greatest(…, 0) pins the degenerate all-zero-token prefix:
        // Spark DIV truncates toward zero but DuckDB // floors, so an
        // unguarded (cum - 1) at cum = 0 would read 0 here and -1 in
        // the oracle
        expr(s"greatest(cum - 1, 0) DIV $budget").as("endp"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        (max(col("endp")) + 1L).as("n_packs"),
        sum(when(col("n") > 0 && col("endp") > col("startp"), 1L)
          .otherwise(0L)).as("straddled"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        col("n_packs"), col("straddled"),
        expr(s"(1000000 * total_tokens) DIV (n_packs * $budget)")
          .as("util_micro"))
  }

  /** SFT training-pair extraction from conversation transcripts — the
    * data-prep step of every instruction-tuning pipeline: parse a chat
    * JSON (`{"messages": [{role, content}, …]}`), drop system turns,
    * and pair each assistant turn with the user turn immediately
    * before it into (prompt, response) examples. The JSON leg is REAL
    * engine surface (`to_json` → `from_json` with a typed schema →
    * `posexplode` → a doc-keyed lag window), exercised end to end; the
    * fixture corpus has no transcripts, so (the t_pii_redact planting
    * discipline) the query synthesizes a deterministic conversation
    * from each doc's own tokens — alternating 10-token user/assistant
    * turns under a system header — which is also what makes the result
    * ORACLE-CHECKABLE without DuckDB's JSON extension: the oracle
    * re-derives the identical pairs from `string_split` arithmetic, so
    * a Spark-side JSON parsing bug (wrong schema binding, turn-order
    * loss, dropped partial turn) breaks the hash. Per-row work is one
    * JSON round-trip plus a bounded explode; the lag window is
    * doc-keyed over ≤ #turns rows.
    */
  def sftPairs(docs: DataFrame, turnTokens: Int = 10,
      maxRounds: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val toks = split(col("text"), " ")
    def slice0(k: Int, off: Int) =
      slice(toks, k * 2 * turnTokens + off * turnTokens + 1, turnTokens)
    // build the transcript: system + up to maxRounds (user, assistant)
    // turn pairs from consecutive token windows; empty turns dropped
    val turns = (0 until maxRounds).flatMap { k =>
      Seq(struct(lit("user").as("role"),
          concat_ws(" ", slice0(k, 0)).as("content")),
        struct(lit("assistant").as("role"),
          concat_ws(" ", slice0(k, 1)).as("content")))
    }
    val msgs = filter(
      array(struct(lit("system").as("role"),
        lit("you are a helpful assistant").as("content")) +: turns: _*),
      m => length(m.getField("content")) > 0)
    val schema = ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("content", StringType))))
    val parsed = docs
      .select(col("doc_id"),
        to_json(struct(msgs.as("messages"))).as("j"))
      .select(col("doc_id"),
        from_json(col("j"), StructType(Seq(
          StructField("messages", schema)))).getField("messages")
          .as("messages"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    parsed
      .select(col("doc_id"), posexplode(col("messages")))
      .select(col("doc_id"), col("pos"),
        col("col.role").as("role"), col("col.content").as("content"))
      .filter(col("role") =!= "system")
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("prev_content", lag(col("content"), 1).over(w))
      .filter(col("role") === "assistant" && col("prev_role") === "user")
      .withColumn("pair_idx", row_number().over(w))
      .select(col("doc_id"), col("pair_idx"),
        col("prev_content").as("prompt"), col("content").as("response"))
  }

  /** The curated target mix the report audits against — the same
    * human-written factor-table shape as `p_epoch_mix`'s config; ONE
    * constant feeds both the engine query and the generated oracle so
    * the two can never drift.
    */
  private[graft] val MixTargets: Seq[(String, Long)] =
    (0 until 20).map(i => (s"src$i", 1L + i % 3))

  /** Mix-deviation audit — the acceptance check of corpus assembly:
    * per source, ACHIEVED token share vs the TARGET share the curation
    * config promised, and the absolute deviation, all on the exact
    * 1e-6 integer grid (shares are `10⁶·x DIV total` — no float ever).
    * A full outer join surfaces both failure modes: a configured
    * source that contributed nothing (target > 0, achieved 0) and an
    * unconfigured source that leaked in (achieved > 0, target 0). One
    * map-side-partial token aggregate, a one-row total broadcast, and
    * a full outer join between two source-cardinality aggregates —
    * nothing corpus-sized shuffles twice.
    */
  def mixReport(docs: DataFrame,
      targets: Seq[(String, Long)]): DataFrame =
    mixReportFromAch(
      docs.groupBy("source")
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long"))
          .as("tokens")),
      targets)

  /** The deviation arithmetic over an already-aggregated
    * (source, tokens) frame — shared verbatim by the batch operator
    * and [[graft.streaming.MixReportStream]]'s cumulative view, so
    * stream ≡ batch is equality of the token sums plus THIS one
    * function (token counts are additive across micro-batches; the
    * DIV grid is applied only here, after the final sum).
    */
  def mixReportFromAch(ach: DataFrame,
      targets: Seq[(String, Long)]): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0),
      "targets must be non-empty with positive weights")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate source in targets")
    val tw = targets.map(_._2).sum
    val spark = ach.sparkSession
    import spark.implicits._
    val tgt = targets.toDF("source", "w")
      .select(col("source"),
        expr(s"(1000000 * w) DIV $tw").as("target_micro"))
    val tot = ach.agg(sum(col("tokens")).as("N"))
    val a = col("achieved_micro")
    val t = col("target_micro")
    ach.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        expr("(1000000 * tokens) DIV N").as("achieved_micro"))
      // no broadcast hint: Spark cannot broadcast either side of a
      // FULL OUTER join (the hint would be silently dropped with a
      // HintErrorLogger warning). Both inputs are already
      // source-cardinality aggregates, so the shuffle is over a
      // handful of rows regardless of corpus size.
      .join(tgt, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("tokens"), lit(0L)).as("tokens"),
        coalesce(a, lit(0L)).as("achieved_micro"),
        coalesce(t, lit(0L)).as("target_micro"))
      .withColumn("dev_micro", abs(a - t))
      .orderBy("source")
  }

  val queries: Map[String, Q] = Map(
    "p_training_set" -> { (s, d) => trainingSet(Tables.documents(s, d)) },
    "a_mix_report" -> { (s, d) =>
      mixReport(Tables.spread(Tables.documents(s, d)), MixTargets)
    },
    "a_pack_efficiency" -> { (s, d) =>
      packEfficiency(Tables.documents(s, d), 2048).orderBy("lang")
    },
    "p_sft_pairs" -> { (s, d) =>
      sftPairs(Tables.spread(Tables.documents(s, d)))
        .orderBy("doc_id", "pair_idx")
    },
    // Soft dedup — the dedupe-then-WEIGHT alternative to dropping: every
    // doc keeps weight 10⁶ // |its near-dup cluster| (singletons 10⁶), so
    // a 4-way duplicated page contributes once in expectation under
    // weighted sampling instead of 4× (hard-drop loses the evidence that
    // duplication ~ importance; downweighting keeps the distribution the
    // dedup literature's repetition ablations actually want). Rides the
    // SAME production cluster machinery as d_dup_clusters (df-capped
    // jaccard pairs → connected components) plus one cluster-size
    // aggregate and a doc-keyed left join — integer micro-units, so the
    // recursive-CTE oracle extends to an exact weight hash.
    "p_soft_dedup_weights" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val clusters = Dedup.dupClusters(
        Dedup.jaccardPairs(docs, 0.8, maxDf = 20)
          .select(col("da").as("ida"), col("db").as("idb")))
      val sizes = clusters.groupBy("cluster")
        .agg(count(lit(1)).as("csize"))
      docs.select(col("doc_id"))
        .join(clusters.join(sizes, "cluster").select("doc_id", "csize"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("csize"), lit(1L)).as("cluster_size"),
          expr("1000000 DIV coalesce(csize, CAST(1 AS BIGINT))")
            .as("weight_micro"))
        .orderBy("doc_id")
    },
    "p_contrastive_triplets" -> { (s, d) =>
      contrastiveTriplets(Tables.documents(s, d))
        .orderBy("anchor", "positive")
    },
    // DSIR scoring with English docs as the target distribution: the
    // integer micro-unit scores are engine-exact, so the oracle is a
    // full independent recomputation, hash-compared
    "p_dsir_weights" -> { (s, d) =>
      dsirWeights(Tables.documents(s, d), col("lang") === "en")
        .orderBy("doc_id")
    },
    // two synthetic crawl versions from one fixture: the "old" crawl
    // lacks doc_id ≡ 3 (mod 13) and carries a mutated text for
    // doc_id ≡ 0 (mod 5); the "new" crawl lacks doc_id ≡ 0 (mod 11)
    "p_corpus_diff" -> { (s, d) =>
      val base = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))
      val old = base.filter(col("doc_id") % 13 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" legacy")))
            .otherwise(col("text")).as("text"))
      val neu = base.filter(col("doc_id") % 11 =!= 0)
      corpusDiff(old, neu)
        .filter(col("status") =!= "unchanged")
        .orderBy("doc_id")
    },
    // SCD2 content history over crawl snapshots — the lakehouse
    // materialization downstream of p_corpus_diff's change feed: one row
    // per (doc, content run) with [valid_from, valid_to] version bounds
    // and a current flag, so "what did the corpus look like at version
    // v" and "which docs changed between crawls" are plain filters over
    // the history table instead of N-way snapshot joins. Three synthetic
    // versions from the fixture (v1 edits doc_id≡0 (mod 7), v2
    // additionally edits ≡0 (mod 5) and DELETES ≡2 (mod 17) — deletions
    // close a run below the latest version, so is_current goes false
    // without any tombstone special-case). Runs are lag-change windows +
    // a running change-count — per-doc windows over 3 rows, one hash
    // exchange; at scale versions arrive incrementally and the window
    // spans each doc's run tail only.
    "p_scd2_history" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))
      val e1 = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" edit1"))).otherwise(col("text"))
      val e2 = when(col("doc_id") % 5 === 0, concat(e1, lit(" edit2")))
        .otherwise(e1)
      val snaps =
        base.select(lit(0).as("version"), col("doc_id"),
          md5(col("text")).as("h"))
          .unionByName(base.select(lit(1).as("version"), col("doc_id"),
            md5(e1).as("h")))
          .unionByName(base.filter(col("doc_id") % 17 =!= 2)
            .select(lit(2).as("version"), col("doc_id"), md5(e2).as("h")))
      val w = Window.partitionBy("doc_id").orderBy("version")
      val runs = snaps
        .withColumn("chg", when(lag(col("h"), 1).over(w).isNull ||
          lag(col("h"), 1).over(w) =!= col("h"), 1).otherwise(0))
        .withColumn("run", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      runs.groupBy(col("doc_id"), col("run"), col("h").as("content_md5"))
        .agg(min(col("version")).as("valid_from"),
          max(col("version")).as("valid_to"))
        .select(col("doc_id"), col("content_md5"), col("valid_from"),
          col("valid_to"), (col("valid_to") === 2).as("is_current"))
        .orderBy("doc_id", "valid_from")
    },
    // Multi-signal quality ENSEMBLE — the FineWeb/Dolma gating pattern:
    // independent heuristic families VOTE and the gate keeps docs with a
    // supermajority, so no single family's blind spot decides alone.
    // Four signals, every one already integer-exact: the Gopher
    // battery's LENGTH/SHAPE core over the RAW text (word-count bounds,
    // mean-word-length band, alphabetic fraction — the symbol/bullet/
    // stopword rules are web-junk detectors that are constant on the
    // clean fixture, so they carry no vote information here; a web
    // deployment swaps the full `keep` back in), the hashed-feature
    // model score's sign, a repetition screen (duplicated-trigram mass ≤ 4%
    // AND top-trigram mass ≤ 8%, cross-multiplied), and a corpus-
    // relative informativeness screen (mean distinct-trigram df ≤ 2 —
    // boilerplate shared corpus-wide fails it). keep = votes ≥ 3.
    // Shape: three per-row signal columns + one df-join signal, all
    // joined on the doc spine — the df build is the only vocabulary
    // shuffle, shared with t_informativeness's plan.
    "p_quality_ensemble" -> { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      val structural = TextAnalysis.gopherRules(docs)
        .select(col("doc_id"),
          (col("ok_word_count") && col("ok_mean_word_len") &&
            col("ok_alpha_words")).as("v_structural"))
      val model = docs.select(col("doc_id"),
        (TextAnalysis.hashClassifierWeightSum(col("text")) >= 0L)
          .as("v_model"))
      val rep = docs
        .select(col("doc_id"),
          explode(TextAnalysis.trigramOccurrences(col("text")))
            .as("ngram"))
        .groupBy("doc_id", "ngram").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(sum("n").as("s"),
          count(lit(1)).as("dst"), max("n").as("mx"))
        .select(col("doc_id"),
          (lit(25) * (col("s") - col("dst")) <= col("s") &&
            lit(25) * col("mx") <= lit(2) * col("s")).as("v_repetition"))
      // sh persisted (r17): it feeds the df aggregation AND the probe
      // side of the df join, and AQE does not reuse the duplicate
      // explode across consumers (OPTIMIZATION_r16.md) — profiled as two
      // ~equal ~11-taskSec shingle passes. The jaccardPairsFrom diamond
      // rule; harness owns release (clearCache per query/sample).
      val sh = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"))).as("ngram"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfr = sh.groupBy("ngram").agg(count(lit(1)).as("c"))
      val info = sh.join(dfr, "ngram").groupBy("doc_id")
        .agg(sum("c").as("dsum"), count(lit(1)).as("nd"))
        .select(col("doc_id"),
          (col("dsum") <= lit(2) * col("nd")).as("v_informative"))
      structural.join(model, "doc_id").join(rep, "doc_id")
        .join(info, "doc_id")
        .withColumn("votes", col("v_structural").cast("int") +
          col("v_model").cast("int") + col("v_repetition").cast("int") +
          col("v_informative").cast("int"))
        .withColumn("keep", col("votes") >= 3)
        .orderBy("doc_id")
    },
    "p_hash_split" -> { (s, d) =>
      hashSplit(Tables.spread(Tables.documents(s, d)))
        .orderBy("split", "lang")
    },
    "p_token_mixture" -> { (s, d) =>
      tokenMixture(Tables.spread(Tables.documents(s, d)), 400L)
        .orderBy("doc_id")
    },
    // two-phase anneal schedule: bulk fill then oversampled elite slice
    "p_anneal_mix" -> { (s, d) =>
      annealMix(Tables.spread(Tables.documents(s, d)))
    },
    "p_quality_gate" -> { (s, d) =>
      qualityPercentileGate(Tables.documents(s, d), 0.25)
        .orderBy("doc_id")
    },
    // The 100 TB path for the same gate: per-language approx_percentile
    // cutoffs (one map-side-combined sketch aggregation, no per-language
    // sort) broadcast back against the corpus. Rows-only — the sketch is
    // implementation-defined — with agreement vs the GREEN exact sibling
    // p_quality_gate measured in PipelineSpec (a_gate_agreement is the
    // registered, oracle-backed form of that measurement).
    "p_quality_gate_approx" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val cuts = docs.groupBy("lang")
        .agg(percentile_approx(col("quality"), lit(0.25), lit(10000))
          .as("cut"))
      docs.join(broadcast(cuts), "lang")
        .filter(col("quality") >= col("cut"))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.round4HalfUp(col("quality")).as("quality"))
        .orderBy("doc_id")
    },
    // Train/eval decontamination: flag corpus docs sharing any 8-token
    // span with the benchmark slice (doc_id % 7 == 0 plays the eval
    // set). Standard n-gram membership check: benchmark grams are a
    // SMALL distinct set (eval suites are tiny next to the corpus), so
    // they broadcast and the corpus-side scan never shuffles; grams are
    // 64-bit multi-arg hashes, no n-token strings materialize. The
    // oracle recomputes with literal string grams — hash-vs-string
    // equality also re-proves the no-collision assumption the blocking
    // joins rely on.
    "p_decontaminate" -> { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      def grams(df: DataFrame) = df.select(col("doc_id"),
        explode(Dedup.shingleHashes(col("text"), 8)).as("g"))
      // The benchmark set is a BOUNDED versioned artifact (eval suites
      // do not grow with the corpus), modeled as the base-copy slice:
      // id % 7 = 0 below the ScaleSmoke copy stride. Every other doc is
      // scored. Keeps the broadcast side constant as the corpus scales
      // — the r7 smoke read 18x at 10x data when the bench side was
      // allowed to scale with it (a shape no deployment has).
      val isBench = pmod(col("doc_id"), lit(7)) === 0 &&
        col("doc_id") < 10000000L
      val bench = grams(docs.filter(isBench)).select("g").distinct()
      grams(docs.filter(!isBench))
        .join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_ngrams"))
        .orderBy("doc_id")
    },
    // Same decontamination result through the TWO-PHASE scale path:
    // a Bloom filter of the benchmark grams pre-filters the corpus-side
    // scan (no join, no shuffle — one codegen'd predicate per gram), and
    // only the ~fpp survivors pay the exact confirm join. At 100 TB the
    // broadcast shrinks from an 8-byte-per-gram hash relation to ~1.2
    // BYTES per gram (1% fpp), and the corpus side never shuffles. The
    // bloom has no false negatives and the confirm join removes the
    // false positives, so the result is EXACTLY the single-phase
    // p_decontaminate — which is what the shared oracle checks.
    "p_decontaminate_bloom" -> { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
      def grams(df: DataFrame) = df.select(col("doc_id"),
        explode(Dedup.shingleHashes(col("text"), 8)).as("g"))
      // same bounded-benchmark definition as the single-phase tier —
      // which is also what makes the 1M bloom capacity right-sized at
      // ANY corpus scale (the sketch sizes to the suite, not the corpus)
      val isBench = pmod(col("doc_id"), lit(7)) === 0 &&
        col("doc_id") < 10000000L
      // bench persisted (r17): it feeds the bloom build's treeAggregate
      // AND the exact-confirm broadcast join (the diamond rule; AQE does
      // not reuse the duplicate distinct, OPTIMIZATION_r16.md). Distinct 64-bit
      // grams of the benchmark slice only — broadcast-sized by the same
      // argument as the sketch; harness owns release.
      val bench = grams(docs.filter(isBench)).select("g").distinct()
        .persist()
      // distributed build (treeAggregate under stat.bloomFilter); the
      // sketch itself is broadcast-sized by construction
      val bf = bench.stat.bloomFilter("g", 1000000L, 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val mightContain = udf((g: Long) => bfB.value.mightContainLong(g))
      grams(docs.filter(!isBench))
        .filter(mightContain(col("g")))
        .join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_ngrams"))
        .orderBy("doc_id")
    },
    "p_stratified_sample" -> { (s, d) =>
      stratifiedSample(Tables.documents(s, d), "lang", 20)
        .orderBy("lang", "doc_id")
    },
    // per-source epoch factors 1..3 (srcN → 1 + N mod 3), the
    // curated-mix config a human would write
    "p_epoch_mix" -> { (s, d) =>
      epochMix(Tables.spread(Tables.documents(s, d)),
        (0 until 20).map(i => (s"src$i", 1 + i % 3)))
        .orderBy("doc_id", "epoch")
    },
    // weight = n_chars: longer docs preferred proportionally. Oracle:
    // the E-S key's integer hash part is exact in both engines and the
    // only cross-engine noise is <=2 pow ulps (~1e-16), which can flip
    // membership only when the rank-20/21 keys are that close —
    // MixtureSpec's boundary-gap guard asserts the fixture keeps every
    // stratum's boundary gap > 1e-12, so a regeneration that created a
    // dangerous boundary fails the SPEC loudly instead of flaking the
    // oracle.
    "p_weighted_sample" -> { (s, d) =>
      weightedSample(Tables.spread(Tables.documents(s, d)), "lang",
        col("n_chars").cast("double"), 20)
        .orderBy("lang", "doc_id")
    },
    // Per-domain cap, the mix-balancing gate (no source may dominate the
    // training mix): first 15 docs per source in doc_id order, via the
    // engine's bounded-heap TopKPerKey — one shuffle on `source`, heap
    // memory O(k) per key regardless of how many billions of docs the
    // hottest domain contributes (a row_number window would sort the
    // whole hot partition just to discard it).
    "p_domain_cap" -> { (s, d) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.spread(Tables.documents(s, d)).select("doc_id", "source"),
        Seq("source"), Seq(("doc_id", false)), 15)
        .orderBy("source", "doc_id")
    },
    "p_pack_sequences" -> { (s, d) =>
      packSequences(Tables.documents(s, d), 2048)
        .orderBy("doc_id")
    },
    // Fill-in-middle transformation (Bavarian et al. 2022) — the code-
    // model pretraining transform: each doc's token stream splits at two
    // deterministic md5-drawn cuts into (prefix, middle, suffix) and
    // re-serializes in PSM sentinel order, so the model learns infilling
    // from the same corpus. Cuts guarantee a NON-EMPTY middle (prefix/
    // suffix may be empty, as in the paper's uniform spans); docs under 3
    // tokens pass through unsplit with fim_applied = 0. Pure per-row
    // codegen'd arrays — zero exchanges at any corpus size; all split
    // arithmetic integer, so the oracle re-derives the exact strings.
    "p_fim_split" -> { (s, d) =>
      val t = filter(split(col("text"), " "), w => length(w) > 0)
      val n = size(t).cast("long")
      def h(tag: String): Column = DetDraw.draw(4, col("doc_id"), lit(tag))
      val lo = when(n >= 3, least(h("fim1") % n, h("fim2") % n))
        .otherwise(0L)
      val hi = when(n >= 3, greatest(h("fim1") % n, h("fim2") % n) + 1L)
        .otherwise(n)
      def joined(c: Column): Column = concat_ws(" ", c)
      Tables.spread(Tables.documents(s, d))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), n.as("n_tokens"),
          when(n >= 3, 1L).otherwise(0L).as("fim_applied"),
          joined(slice(t, lit(1), lo.cast("int"))).as("fim_prefix"),
          joined(slice(t, (lo + 1L).cast("int"), (hi - lo).cast("int")))
            .as("fim_middle"),
          joined(slice(t, (hi + 1L).cast("int"), (n - hi).cast("int")))
            .as("fim_suffix"))
        .withColumn("psm_text", concat(
          lit("<fim_prefix>"), col("fim_prefix"),
          lit("<fim_suffix>"), col("fim_suffix"),
          lit("<fim_middle>"), col("fim_middle")))
        .orderBy("doc_id")
    },
    // T5-style span corruption (Raffel et al. 2020 §3.1.4) — the
    // denoising-objective transform: masked spans replaced by ordered
    // <extra_id_K> sentinels in the input, targets the sentinel-prefixed
    // masked spans. The classic sampler is sequential; this is the
    // DETERMINISTIC block-local replay: positions partition into 8-token
    // blocks, each block masks (gate ~60%) one md5-drawn span of 1-3
    // tokens fully inside itself — no span overlap by construction, no
    // sequential dependence, ~15% expected token mask rate (0.6 · 2/8),
    // and every draw replayable in any engine. Pure per-row array
    // expressions (the transform/filter/flatten family) — zero exchanges;
    // sentinel numbering is the block's rank among the doc's masked
    // blocks via array_position on the precomputed masked-block list.
    "p_span_corruption" -> { (s, d) =>
      val t = filter(split(col("text"), " "), w => length(w) > 0)
      val n = size(t)
      val nb = ceil(n.cast("double") / 8.0).cast("int")
      def hBlock(k: Column): Column =
        DetDraw.draw(4, col("doc_id"), k, lit("t5"))
      // h < 65536, so double-floor division is exact
      def idiv(a: Column, b: Int): Column =
        floor(a.cast("double") / b).cast("long")
      def startOff(k: Column): Column = hBlock(k) % 6   // 0..5
      def spanLen(k: Column): Column = idiv(hBlock(k), 6) % 3 + 1 // 1..3
      def gated(k: Column): Column = idiv(hBlock(k), 18) % 10 < 6
      // masked blocks: gated AND their span starts inside the doc
      val mblocks = when(n >= 1, filter(sequence(lit(0), nb - 1),
          k => gated(k) && (k * 8 + startOff(k) + 1 <= n)))
        .otherwise(array().cast("array<int>"))
      // input: per position — kept token, sentinel at a span's first
      // position, null inside the rest of a masked span
      val inputRaw = transform(sequence(lit(1), n), i => {
        val k = ((i - 1).cast("long") / 8).cast("int")
        val o = (i - 1) % 8
        val inMasked = array_contains(mblocks, k) &&
          o >= startOff(k) && o < startOff(k) + spanLen(k)
        val sent = concat(lit("<extra_id_"),
          (array_position(mblocks, k) - 1).cast("string"), lit(">"))
        when(!inMasked, element_at(t, i))
          .otherwise(when(o === startOff(k), sent)
            .otherwise(lit(null).cast("string")))
      })
      val inputToks = filter(
        when(n >= 1, inputRaw).otherwise(array().cast("array<string>")),
        x => x.isNotNull)
      // target: <extra_id_K> + the K-th masked block's span tokens
      val targetToks = flatten(transform(mblocks, k =>
        concat(
          array(concat(lit("<extra_id_"),
            (array_position(mblocks, k) - 1).cast("string"), lit(">"))),
          slice(t, (k * 8 + startOff(k) + 1).cast("int"),
            spanLen(k).cast("int")))))
      Tables.spread(Tables.documents(s, d))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), n.cast("long").as("n_tokens"),
          size(mblocks).cast("long").as("n_spans"),
          concat_ws(" ", inputToks).as("input_text"),
          concat_ws(" ", targetToks).as("target_text"))
        .orderBy("doc_id")
    })

  private val DecontaminateSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(t) - 7 + 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |      || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
      |      || ' ' || t[i+7]))) AS s
      |  FROM toks WHERE len(t) >= 8),
      |bench AS (SELECT DISTINCT s FROM g
      |  WHERE doc_id % 7 = 0 AND doc_id < 10000000)
      |SELECT doc_id, count(*) AS n_shared_ngrams
      |FROM g JOIN bench USING (s)
      |WHERE NOT (doc_id % 7 = 0 AND doc_id < 10000000)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Generated from [[MixTargets]] so the oracle's factor table is the
    * same constant the engine query uses.
    */
  private def mixReportOracleSql: String = {
    val values = MixTargets
      .map { case (s, w) => s"('$s', CAST($w AS BIGINT))" }
      .mkString(",\n    ")
    val tw = MixTargets.map(_._2).sum
    s"""WITH tgt(source, w) AS (VALUES
       |    $values),
       |ach AS (
       |  SELECT source,
       |    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT sum(tokens) AS n FROM ach)
       |SELECT coalesce(a.source, t.source) AS source,
       |  CAST(coalesce(a.tokens, 0) AS BIGINT) AS tokens,
       |  CAST(coalesce((1000000 * a.tokens) // (SELECT n FROM tot), 0)
       |    AS BIGINT) AS achieved_micro,
       |  CAST(coalesce((1000000 * t.w) // $tw, 0) AS BIGINT)
       |    AS target_micro,
       |  CAST(
       |    abs(coalesce((1000000 * a.tokens) // (SELECT n FROM tot), 0)
       |      - coalesce((1000000 * t.w) // $tw, 0)) AS BIGINT)
       |    AS dev_micro
       |FROM ach a FULL JOIN tgt t ON a.source = t.source
       |ORDER BY source""".stripMargin
  }

  private val FimSql: String = {
    // the cut draws replay through the SAME fragment builder the
    // column side's DetDraw.draw(4, ...) pairs with
    val h1 = DetDraw.sqlDraw(4, "doc_id", "'fim1'")
    val h2 = DetDraw.sqlDraw(4, "doc_id", "'fim2'")
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> len(w) > 0) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |cut AS (
       |  SELECT doc_id, t, len(t) AS n,
       |    CASE WHEN len(t) >= 3
       |         THEN least($h1 % len(t), $h2 % len(t)) ELSE 0 END AS lo,
       |    CASE WHEN len(t) >= 3
       |         THEN greatest($h1 % len(t), $h2 % len(t)) + 1
       |         ELSE len(t) END AS hi
       |  FROM tk)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(CASE WHEN n >= 3 THEN 1 ELSE 0 END AS BIGINT) AS fim_applied,
       |  coalesce(array_to_string(list_slice(t, 1, lo), ' '), '')
       |    AS fim_prefix,
       |  coalesce(array_to_string(list_slice(t, lo + 1, hi), ' '), '')
       |    AS fim_middle,
       |  coalesce(array_to_string(list_slice(t, hi + 1, n), ' '), '')
       |    AS fim_suffix,
       |  '<fim_prefix>'
       |    || coalesce(array_to_string(list_slice(t, 1, lo), ' '), '')
       |    || '<fim_suffix>'
       |    || coalesce(array_to_string(list_slice(t, hi + 1, n), ' '), '')
       |    || '<fim_middle>'
       |    || coalesce(array_to_string(list_slice(t, lo + 1, hi), ' '), '')
       |    AS psm_text
       |FROM cut ORDER BY doc_id""".stripMargin
  }

  private val SpanCorruptionSql: String = {
    val hb = DetDraw.sqlDraw(4, "doc_id", "k", "'t5'")
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> len(w) > 0) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |base AS (SELECT doc_id, t, len(t) AS n FROM tk),
       |blk AS (
       |  SELECT doc_id, n, k, $hb % 6 AS so,
       |    ($hb // 6) % 3 + 1 AS sl, ($hb // 18) % 10 AS g
       |  FROM base, unnest(range(0, (n + 7) // 8)) u(k)
       |  WHERE n >= 1),
       |mb AS (
       |  SELECT doc_id, k, so, sl,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS sid
       |  FROM blk WHERE g < 6 AND k * 8 + so + 1 <= n),
       |pos AS (
       |  SELECT doc_id, i, t[CAST(i AS INTEGER)] AS tok,
       |    (i - 1) // 8 AS k, (i - 1) % 8 AS o
       |  FROM base, unnest(range(1, n + 1)) u(i)),
       |inp AS (
       |  SELECT p.doc_id,
       |    string_agg(
       |      CASE WHEN m.k IS NULL OR p.o < m.so OR p.o >= m.so + m.sl
       |             THEN p.tok
       |           WHEN p.o = m.so
       |             THEN '<extra_id_' || CAST(m.sid AS VARCHAR) || '>'
       |           ELSE NULL END, ' ' ORDER BY p.i) AS input_text
       |  FROM pos p LEFT JOIN mb m ON m.doc_id = p.doc_id AND m.k = p.k
       |  GROUP BY p.doc_id),
       |tgt AS (
       |  SELECT m.doc_id, count(*) AS n_spans,
       |    string_agg(
       |      array_to_string(list_prepend(
       |        '<extra_id_' || CAST(m.sid AS VARCHAR) || '>',
       |        list_slice(b.t, CAST(m.k * 8 + m.so + 1 AS INTEGER),
       |          CAST(m.k * 8 + m.so + m.sl AS INTEGER))), ' '),
       |      ' ' ORDER BY m.sid) AS target_text
       |  FROM mb m JOIN base b ON b.doc_id = m.doc_id
       |  GROUP BY m.doc_id)
       |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
       |  CAST(coalesce(tgt.n_spans, 0) AS BIGINT) AS n_spans,
       |  coalesce(inp.input_text, '') AS input_text,
       |  coalesce(tgt.target_text, '') AS target_text
       |FROM base b
       |LEFT JOIN inp ON inp.doc_id = b.doc_id
       |LEFT JOIN tgt ON tgt.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "a_mix_report" -> mixReportOracleSql,
    // the FIM cut arithmetic replayed with the 4-nibble md5 heads —
    // exact string equality end to end
    "p_fim_split" -> FimSql,
    // block-local T5 masking replayed: per-block draws, masked-block
    // ranks, ordered string_agg reconstruction of input and target
    "p_span_corruption" -> SpanCorruptionSql,
    // the packSequences windows replayed, then one per-lang aggregate;
    // every quantity is BIGINT arithmetic (// == the engine's DIV)
    "a_pack_efficiency" ->
      """SELECT lang, n_docs, CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(n_packs AS BIGINT) AS n_packs,
        |  CAST(straddled AS BIGINT) AS straddled,
        |  CAST((1000000 * total_tokens) // (n_packs * 2048) AS BIGINT)
        |    AS util_micro
        |FROM (
        |  SELECT lang, count(*) AS n_docs, sum(n) AS total_tokens,
        |    max(endp) + 1 AS n_packs,
        |    sum(CASE WHEN n > 0 AND endp > startp THEN 1 ELSE 0 END)
        |      AS straddled
        |  FROM (
        |    SELECT lang, n, (cum - n) // 2048 AS startp,
        |      greatest(cum - 1, 0) // 2048 AS endp
        |    FROM (
        |      SELECT lang,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |        sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
        |          PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum
        |      FROM documents))
        |  GROUP BY lang)
        |ORDER BY lang""".stripMargin,
    // the conversation the engine synthesizes, JSON-roundtrips and
    // re-pairs is a pure function of the token array, so the oracle
    // re-derives the pairs from string_split arithmetic — pair k
    // exists iff the response window has at least one token
    "p_sft_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ks AS (SELECT unnest(range(0, 4)) AS k),
        |pairs AS (
        |  SELECT doc_id, k,
        |    array_to_string(
        |      t[20 * k + 1 : least(20 * k + 10, len(t))], ' ')
        |      AS prompt,
        |    array_to_string(
        |      t[20 * k + 11 : least(20 * k + 20, len(t))], ' ')
        |      AS response
        |  FROM toks, ks WHERE len(t) >= 20 * k + 11)
        |SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY k)
        |    AS pair_idx,
        |  prompt, response
        |FROM pairs ORDER BY doc_id, pair_idx""".stripMargin,
    // the d_dup_clusters recursive-CTE component oracle, extended by a
    // cluster-size aggregate and a doc-keyed left join; integer DIV makes
    // the weights hash-exact
    "p_soft_dedup_weights" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) s
        |  FROM toks WHERE len(t) >= 3),
        |dfc AS (SELECT s, count(*) c FROM sh0 GROUP BY s),
        |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfc USING(s)
        |       WHERE c <= 20),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, count(*) i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |edges AS (
        |  SELECT da AS s, db AS t FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM edges
        |  UNION
        |  SELECT e.t, reach.r FROM reach JOIN edges e ON reach.id = e.s),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster
        |       FROM reach GROUP BY id),
        |cs AS (SELECT cluster, count(*) csize FROM cl GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(cs.csize, 1) AS BIGINT) AS cluster_size,
        |  1000000 // CAST(coalesce(cs.csize, 1) AS BIGINT) AS weight_micro
        |FROM documents d
        |LEFT JOIN cl ON cl.doc_id = d.doc_id
        |LEFT JOIN cs ON cs.cluster = cl.cluster
        |ORDER BY d.doc_id""".stripMargin,
    // pair tier = the prefix-jaccard oracle's CTEs; negatives re-derived
    // from ids by the same Knuth-hash bucket arithmetic
    "p_contrastive_triplets" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) s
        |  FROM toks WHERE len(t) >= 3),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, count(*) i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS anchor, db AS positive FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |mins AS (
        |  SELECT bk, list_sort(list(doc_id)) AS cand FROM (
        |    SELECT doc_id,
        |      ((doc_id * 2654435761) % 4294967296) % 16 AS bk,
        |      row_number() OVER (
        |        PARTITION BY ((doc_id * 2654435761) % 4294967296) % 16
        |        ORDER BY doc_id) AS rn
        |    FROM documents)
        |  WHERE rn <= 3 GROUP BY bk)
        |SELECT anchor, positive, negative FROM (
        |  SELECT anchor, positive,
        |    list_filter(cand,
        |      c -> c <> anchor AND c <> positive)[1] AS negative
        |  FROM pairs LEFT JOIN mins
        |    ON mins.bk = (((anchor * 2654435761) % 4294967296) + 7) % 16)
        |WHERE negative IS NOT NULL
        |ORDER BY anchor, positive""".stripMargin,
    // Full independent DSIR recomputation. The md5-nibble bucket hash is
    // replayed per nibble (strpos over the hex alphabet — the
    // shardAssign idiom), so hash COLLISIONS land in the same buckets in
    // both engines; λ is floor(x*1e6 + 0.5) half-up micro-units and the
    // doc score is pure BIGINT arithmetic — associative, so partial-agg
    // order can't drift it.
    "p_dsir_weights" ->
      """WITH base AS (
        |  SELECT doc_id, lang = 'en' AS tgt, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |uni AS (
        |  SELECT doc_id, tgt, unnest(t) AS w FROM base),
        |bi AS (
        |  SELECT doc_id, tgt, t[i] || ' ' || t[i + 1] AS w
        |  FROM base, unnest(range(1, len(t))) u(i)
        |  WHERE len(t) >= 2),
        |fb AS (
        |  SELECT doc_id, tgt,
        |    (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096 +
        |    (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256 +
        |    (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1) AS b
        |  FROM (SELECT doc_id, tgt, w FROM uni
        |        UNION ALL SELECT doc_id, tgt, w FROM bi)),
        |feats AS (
        |  SELECT doc_id, tgt, b, count(*) AS c FROM fb GROUP BY 1, 2, 3),
        |raw AS (SELECT b, sum(c) AS r FROM feats GROUP BY b),
        |tgtc AS (SELECT b, sum(c) AS tc FROM feats WHERE tgt GROUP BY b),
        |tot AS (SELECT sum(c) AS rTot,
        |  sum(CASE WHEN tgt THEN c ELSE 0 END) AS tTot FROM feats),
        |lam AS (
        |  SELECT raw.b,
        |    CAST(floor((ln((COALESCE(tc, 0) + 1.0) / (tTot + 65536.0)) -
        |                ln((r + 1.0) / (rTot + 65536.0)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS lam_micro
        |  FROM raw LEFT JOIN tgtc ON raw.b = tgtc.b CROSS JOIN tot)
        |SELECT feats.doc_id,
        |  CAST(sum(c * lam_micro) AS BIGINT) AS score_micro
        |FROM feats JOIN lam ON feats.b = lam.b
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "p_corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' legacy'
        |             ELSE text END) AS oh
        |  FROM documents WHERE doc_id % 13 != 3),
        |new AS (
        |  SELECT doc_id, md5(text) AS nh
        |  FROM documents WHERE doc_id % 11 != 0)
        |SELECT doc_id,
        |  CASE WHEN oh IS NULL THEN 'added'
        |       WHEN nh IS NULL THEN 'removed'
        |       WHEN oh != nh THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM old FULL OUTER JOIN new USING (doc_id)
        |WHERE oh IS NULL OR nh IS NULL OR oh != nh
        |ORDER BY doc_id""".stripMargin,
    // all four vote families recomputed verbatim (Gopher flags over RAW
    // text, classifier integer sum, cross-multiplied repetition screens,
    // the df-join informativeness bound) — every vote is exact
    "p_quality_ensemble" ->
      """WITH m AS (
        |  SELECT doc_id, text AS t,
        |    list_filter(string_split_regex(text, '[ \n]'), x -> x <> '')
        |      AS words,
        |    list_filter(string_split_regex(text, '\n'), x -> x <> '')
        |      AS lines
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS w,
        |    CAST(greatest(1, len(lines)) AS BIGINT) AS l,
        |    CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0)
        |      AS BIGINT) AS sumlen,
        |    CAST(len(t) - len(replace(t, '#', '')) AS BIGINT) AS n_hash,
        |    CAST(len(regexp_extract_all(t, '\.\.\.')) AS BIGINT) AS n_ell,
        |    CAST(len(list_filter(lines, x -> substr(x, 1, 2) = '- '))
        |      AS BIGINT) AS n_bul,
        |    CAST(len(list_filter(lines, x -> len(x) >= 3
        |      AND substr(x, len(x) - 2, 3) = '...')) AS BIGINT) AS n_ell2,
        |    CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(words, s))) AS BIGINT) AS n_stop
        |  FROM m),
        |vs AS (
        |  SELECT doc_id,
        |    ((w >= 50 AND w <= 100000)
        |     AND (3 * w <= sumlen AND sumlen <= 10 * w)
        |     AND (10 * n_alpha >= 8 * w)) AS v_structural
        |  FROM g),
        |vm AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(string_split(text, ' '), w ->
        |      ((((length(w) * 31 + ascii(substr(w, 1, 1)) * 7
        |          + ascii(substr(w, -1, 1))) * 2654435761)
        |        % 1048576) * 40503) % 2001 - 1000)) AS BIGINT) >= 0
        |      AS v_model
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, len(t) - 2 + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ngram
        |  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
        |  WHERE len(t) >= 3),
        |rc AS (
        |  SELECT doc_id, sum(n) s, count(*) d, max(n) mx FROM (
        |    SELECT doc_id, ngram, count(*) n FROM occ GROUP BY 1, 2)
        |  GROUP BY 1),
        |vr AS (
        |  SELECT doc_id,
        |    (25 * (s - d) <= s AND 25 * mx <= 2 * s) AS v_repetition
        |  FROM rc),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) ngram
        |  FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
        |  WHERE len(t) >= 3),
        |dfc AS (SELECT ngram, count(*) c FROM sh GROUP BY 1),
        |vi AS (
        |  SELECT doc_id, (sum(c) <= 2 * count(*)) AS v_informative
        |  FROM sh JOIN dfc USING (ngram) GROUP BY doc_id)
        |SELECT doc_id, v_structural, v_model, v_repetition, v_informative,
        |  CAST(v_structural AS INT) + CAST(v_model AS INT)
        |    + CAST(v_repetition AS INT) + CAST(v_informative AS INT)
        |    AS votes,
        |  (CAST(v_structural AS INT) + CAST(v_model AS INT)
        |    + CAST(v_repetition AS INT) + CAST(v_informative AS INT) >= 3)
        |    AS keep
        |FROM vs JOIN vm USING (doc_id) JOIN vr USING (doc_id)
        |  JOIN vi USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // identical synthesized versions, identical lag/run windows; md5 and
    // the integer version bounds make the history hash-exact
    "p_scd2_history" ->
      """WITH v1 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' edit1' ELSE text END t
        |  FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN t || ' edit2' ELSE t END t
        |  FROM v1 WHERE doc_id % 17 <> 2),
        |snaps AS (
        |  SELECT 0 AS version, doc_id, md5(text) h FROM documents
        |  UNION ALL SELECT 1, doc_id, md5(t) FROM v1
        |  UNION ALL SELECT 2, doc_id, md5(t) FROM v2),
        |r AS (
        |  SELECT *, CASE WHEN lag(h) OVER w IS NULL
        |                   OR lag(h) OVER w <> h THEN 1 ELSE 0 END chg
        |  FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY version)),
        |runs AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY doc_id ORDER BY version
        |    ROWS UNBOUNDED PRECEDING) run
        |  FROM r)
        |SELECT doc_id, h AS content_md5,
        |  CAST(min(version) AS INT) AS valid_from,
        |  CAST(max(version) AS INT) AS valid_to,
        |  max(version) = 2 AS is_current
        |FROM runs GROUP BY doc_id, run, h
        |ORDER BY doc_id, valid_from""".stripMargin,
    // mixHash spelled out as the same BIGINT arithmetic; DuckDB's
    // count/sum widths cast back to Spark's LONG
    "p_hash_split" ->
      """SELECT split, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM (
        |  SELECT lang,
        |    CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90
        |           THEN 'train'
        |         WHEN (doc_id * 2654435761) % 4294967296 % 100 < 95
        |           THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin,
    // the two-phase schedule replayed: identical base table (integer
    // q_micro via the t_quality_score float contract, Knuth hash),
    // identical per-source windows, DIV/% epoch math, greedy crossing-
    // doc convention in both fills
    "p_anneal_mix" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(len(t) AS BIGINT) AS n_tokens,
         |    CAST(floor((0.4 * (len(list_distinct(t)) / (len(t) * 1.0))
         |      + 0.3 * (1.0 - len(list_filter(t,
         |          x -> list_contains(['the','a','of','and','to'], x)))
         |        / (len(t) * 1.0))
         |      + 0.3 * least(len(t) / 100.0, 1.0)) * 10000 + 0.5)
         |      AS BIGINT) AS q,
         |    (doc_id * 2654435761) % 4294967296 AS h
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t
         |        FROM documents)),
         |p1 AS (
         |  SELECT source, doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER w AS BIGINT) AS cum,
         |    CAST(row_number() OVER w AS BIGINT) AS pos
         |  FROM base
         |  WINDOW w AS (PARTITION BY source ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |p1r AS (
         |  SELECT source, CAST(1 AS BIGINT) AS phase,
         |    CAST(0 AS BIGINT) AS epoch, pos, doc_id, n_tokens
         |  FROM p1 WHERE cum - n_tokens < $AnnealB1),
         |el AS (
         |  SELECT source, doc_id, n_tokens, h FROM (
         |    SELECT source, doc_id, n_tokens, h,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY q DESC, doc_id) AS rk,
         |      count(*) OVER (PARTITION BY source) AS ndocs
         |    FROM base)
         |  WHERE rk <= ndocs // $AnnealTopDiv),
         |sx AS (
         |  SELECT source, $AnnealB2 // t2 AS e, $AnnealB2 % t2 AS rem
         |  FROM (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t2
         |        FROM el GROUP BY 1)),
         |elo AS (
         |  SELECT el.source, doc_id, n_tokens, e, rem,
         |    CAST(row_number() OVER w AS BIGINT) AS pos,
         |    CAST(sum(n_tokens) OVER w AS BIGINT) AS cum2
         |  FROM el JOIN sx ON el.source = sx.source
         |  WINDOW w AS (PARTITION BY el.source ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |fullr AS (
         |  SELECT source, CAST(2 AS BIGINT) AS phase,
         |    CAST(u.epoch AS BIGINT) AS epoch, pos, doc_id, n_tokens
         |  FROM elo, unnest(range(0, e)) u(epoch)),
         |remr AS (
         |  SELECT source, CAST(2 AS BIGINT) AS phase,
         |    CAST(e AS BIGINT) AS epoch, pos, doc_id, n_tokens
         |  FROM elo WHERE cum2 - n_tokens < rem)
         |SELECT * FROM (
         |  SELECT * FROM p1r UNION ALL
         |  SELECT * FROM fullr UNION ALL
         |  SELECT * FROM remr)
         |ORDER BY source, phase, epoch, pos""".stripMargin,
    "p_token_mixture" ->
      """SELECT doc_id, source, n_tokens, cum FROM (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (
        |      PARTITION BY source
        |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM (
        |    SELECT doc_id, source,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |    FROM documents))
        |WHERE cum - n_tokens <
        |  400 + (CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT)
        |         % 3) * 200
        |ORDER BY doc_id""".stripMargin,
    "p_quality_gate" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang,
        |    0.4 * (len(list_distinct(t)) / (len(t) * 1.0)) +
        |    0.3 * (1.0 - len(list_filter(t,
        |      x -> list_contains(['the','a','of','and','to'], x))) /
        |      (len(t) * 1.0)) +
        |    0.3 * least(len(t) / 100.0, 1.0) AS quality
        |  FROM toks)
        |SELECT doc_id, lang,
        |  floor(quality * 10000 + 0.5) / 10000.0 AS quality
        |FROM (
        |  SELECT doc_id, lang, quality, percent_rank() OVER (
        |    PARTITION BY lang ORDER BY quality) AS pr
        |  FROM q)
        |WHERE pr >= 0.25
        |ORDER BY doc_id""".stripMargin,
    "p_decontaminate" -> DecontaminateSql,
    // the bloom pre-filter is exact end-to-end (no false negatives +
    // exact confirm), so the two-phase path shares the oracle
    "p_decontaminate_bloom" -> DecontaminateSql,
    "p_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20
        |ORDER BY lang, doc_id""".stripMargin,
    // same mixHash + u^(1/w) formula; only (doc_id, lang) is emitted, so
    // pow-ulp noise matters only at the rank boundary, which the
    // MixtureSpec gap guard keeps provably wide on the fixture
    "p_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang,
        |    pow((((doc_id * 2654435761) % 4294967296) + 1)
        |          / 4294967296.0,
        |        1.0 / n_chars) AS k
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY k DESC, doc_id) AS rk
        |  FROM keyed)
        |SELECT doc_id, lang FROM r WHERE rk <= 20
        |ORDER BY lang, doc_id""".stripMargin,
    "p_epoch_mix" ->
      """WITH f(source, epochs) AS (VALUES
        |  ('src0',1),('src1',2),('src2',3),('src3',1),('src4',2),
        |  ('src5',3),('src6',1),('src7',2),('src8',3),('src9',1),
        |  ('src10',2),('src11',3),('src12',1),('src13',2),('src14',3),
        |  ('src15',1),('src16',2),('src17',3),('src18',1),('src19',2))
        |SELECT doc_id, d.source,
        |       unnest(generate_series(1, coalesce(epochs, 1))) AS epoch
        |FROM documents d LEFT JOIN f USING (source)
        |ORDER BY doc_id, epoch""".stripMargin,
    "p_domain_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15
        |ORDER BY source, doc_id""".stripMargin,
    "p_pack_sequences" ->
      """SELECT doc_id, lang, n_tokens,
        |       CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT)
        |         AS pack_id
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
        |      PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "p_training_set" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') t FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) s
        |  FROM toks WHERE len(t) >= 3),
        |df AS (SELECT s, count(*) c FROM sh GROUP BY s),
        |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING(s)
        |        WHERE c <= 20),
        |sizes AS (SELECT doc_id, count(*) n FROM shc GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, count(*) i
        |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |edges AS (
        |  SELECT da AS s, db AS t FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM edges
        |  UNION
        |  SELECT e.t, reach.r FROM reach JOIN edges e ON reach.id = e.s),
        |drops AS (
        |  SELECT id AS doc_id FROM reach GROUP BY id
        |  HAVING id <> min(r)),
        |meta AS (
        |  SELECT doc_id, lang,
        |    len(t) * 1.0 AS n,
        |    len(list_distinct(t)) / (len(t) * 1.0) AS ttr,
        |    len(list_filter(t, x ->
        |      list_contains(['the','a','of','and','to'], x)))
        |      / (len(t) * 1.0) AS stop
        |  FROM toks)
        |SELECT doc_id,
        |       floor((0.4 * ttr + 0.3 * (1.0 - stop)
        |              + 0.3 * least(n / 100.0, 1.0)) * 10000 + 0.5)
        |         / 10000.0 AS quality,
        |       CAST(len(t) AS INT) AS n_tokens
        |FROM meta JOIN toks USING (doc_id)
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |  AND meta.lang = 'en'
        |  AND 0.4 * ttr + 0.3 * (1.0 - stop)
        |      + 0.3 * least(n / 100.0, 1.0) >= 0.66
        |ORDER BY doc_id""".stripMargin)
}
