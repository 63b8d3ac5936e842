package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for LLM training-data pipelines (north star;
  * the reference has no dedup — its only duplicate handling is at-least-once
  * redelivery collapse, SURVEY §2.6 ST8).
  *
  * Four tiers, in increasing scale-friendliness:
  *   - exact: hash-groupBy on content — one shuffle on the content hash;
  *   - fingerprint: md5 over the normalized token set — order/multiplicity
  *     invariant, still one shuffle, catches shuffled/duplicated-token docs;
  *   - n-gram Jaccard: shingle blocking self-join — exact similarity, the
  *     oracle-checkable ground truth for the approximate tiers;
  *   - MinHash+LSH (and SimHash in [[Fingerprints]]): the 100 TB path —
  *     signature size is constant per doc, candidate generation is an
  *     equi-join on band keys, never an all-pairs product.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct word-trigram shingles per doc: `sequence`/`transform` higher-
    * order functions — all codegen, no UDF.
    *
    * Docs shorter than `n` tokens yield an EMPTY array: without the guard,
    * `concat_ws` silently skips the null out-of-range `element_at` slots
    * and emits a truncated shingle ("a b" for a 2-token doc), which both
    * diverges from the SQL-oracle formulation (whose `||` yields NULL) and
    * invites false Jaccard matches between short fragments.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct 64-bit shingle hashes per doc — the hot-path twin of
    * [[shingles]]: multi-arg xxhash64 over the n tokens directly, so no
    * intermediate shingle STRING is ever allocated (measured ~15% off the
    * sf0.1 jaccard wall-clock). Token boundaries survive because xxhash64
    * chains per-value hashes, not a concatenation. Same short-doc guard.
    */
  def shingleHashes(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => xxhash64((0 until n).map(j => element_at(toks, i + j + 1)): _*))))
      .otherwise(array().cast("array<long>"))
  }

  /** Normalized content fingerprint: md5 over the sorted distinct token
    * set — invariant to token order and repetition.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(text, " ")))))

  /** Doc pairs with trigram-shingle Jaccard ≥ threshold, via shingle
    * blocking (shared-shingle equi-join → per-pair intersection counts).
    *
    * `maxDf` > 0 drops shingles whose document frequency exceeds it BEFORE
    * the self-join — the skew guard for scale. The blocking join is
    * quadratic per shingle bucket, so one boilerplate shingle shared by a
    * million docs is an O(n²) straggler; capping df bounds every bucket.
    * Semantics of the capped variant: Jaccard over the RARE-shingle space
    * (df-filtered shingles feed both the intersection and the sizes), a
    * well-defined deterministic metric. Pairs are missed only when ALL
    * their shared shingles are ubiquitous — at which point the similarity
    * signal is boilerplate, not content; exact-dup tiers (which run before
    * this in a dedup pipeline) catch identical docs regardless.
    * `maxDf` = 0 keeps every shingle: the exact ground-truth tier,
    * documented as NOT the 100 TB path.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
      maxDf: Int = 0): DataFrame = {
    // Posting-list formulation: ONE explode+shuffle builds the per-shingle
    // doc list; candidate pairs are enumerated from each list (no
    // self-join, so the expensive shingle explode is evaluated once, not
    // once per join side), and per-doc shingle counts come from
    // size(shingles(text)) directly — a map-side projection, zero shuffle.
    // Block on the 64-bit shingle hash, not the ~30-char string: same
    // semantics (collision odds ~1e-10 at this cardinality), 4× narrower
    // shuffle rows.
    val spreadDocs = graft.Tables.spread(docs) // small-file parallelism
    val exploded = spreadDocs
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("s"))
    // sizes from the exploded frame (count ≡ size: shingleHashes is
    // array_distinct'd; zero-shingle docs drop out, but sizes only meet
    // pairs through inner joins on paired ids) — under a cap the seam
    // persists `exploded`, so this reads the cache instead of paying
    // the split+hash CPU a second time (r16)
    val rawSizes = exploded.groupBy("doc_id")
      .agg(count(lit(1)).as("n0"))
    jaccardPairsFrom(exploded, rawSizes, threshold, maxDf)
  }

  /** [[jaccardPairs]] over PRE-COMPUTED (doc_id, s) shingle rows and
    * (doc_id, n0) raw sizes — the composition seam that lets a caller
    * running several tiers over the same survivor set (the cascade
    * report) shingle ONCE and persist, instead of each tier re-deriving
    * the explode from text.
    */
  private[pipeline] def jaccardPairsFrom(exploded: DataFrame,
      rawSizes: DataFrame, threshold: Double, maxDf: Int,
      retain: DataFrame => Unit = _ => ()): DataFrame = {
    // Under a cap, compute df FIRST with a count-only aggregation
    // (map-side combined longs) and drop hot-shingle ROWS before any
    // collect_list: filtering posting lists by their size after building
    // them would still materialize a 10M-doc boilerplate shingle's list
    // in one aggregation buffer — the exact OOM the cap exists to
    // prevent. The hot set is tiny by construction, so the anti-join
    // broadcasts; per-doc drop counts reuse it for the size adjustment.
    //
    // DIAMONDS (the round-11 weak class): under a cap the shingle frame
    // feeds THREE consumers (hot-df count, per-doc drop counts, kept
    // rows) and the drop-adjusted sizes feed both final pair joins — so
    // both are lazily persisted here, shingle mass at MEMORY_AND_DISK,
    // exactly the seam dedupReport already threads (caller/harness owns
    // release, the registry-builder contract). In the uncapped tier the
    // shingle frame has ONE consumer, but the sizes frame still feeds
    // both join sides, so it persists in both branches (doc_id + long —
    // narrow at any corpus size).
    //
    // `retain` receives every frame persisted INSIDE this seam so a
    // MULTI-TIER caller (dedupReport) can release them once its result
    // is materialized — without it the seam-internal caches outlive the
    // report (the round-12 advice leak). Registered single-query
    // callers keep the default no-op: there the harness owns release
    // (clearCache per query/sample — the registry-builder contract).
    val (keptRows, sizes) =
      if (maxDf <= 0) {
        val szs = rawSizes.withColumnRenamed("n0", "n").persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        retain(szs)
        (exploded, szs)
      } else {
        val ex = exploded.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        retain(ex)
        // hot is persisted too (r16): it feeds the drop-count join AND
        // the anti-join, and AQE does not reuse the duplicate df
        // aggregation across consumers (OPTIMIZATION_r16.md) — each consumer
        // re-shuffled the full shingle cache. Rows = over-cap shingles
        // only: tiny by construction at any corpus size.
        val hot = ex.groupBy("s").agg(count(lit(1)).as("dfc"))
          .filter(col("dfc") > maxDf).select("s").persist()
        retain(hot)
        val drops = ex.join(hot, Seq("s"))
          .groupBy("doc_id").agg(count(lit(1)).as("dropped"))
        val szs = rawSizes.join(drops, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("n0") - coalesce(col("dropped"), lit(0L))).as("n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        retain(szs)
        (ex.join(hot, Seq("s"), "left_anti"), szs)
      }
    val inter = keptRows
      .groupBy("s").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2) // df=1 (most shingles) pairs nothing
      .select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("da") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        (col("i") / (col("sa.n") + col("sb.n") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(A→B) = |∩|/|shingles(A)|
    * ≥ threshold — the detector Jaccard structurally misses: a wire
    * story, boilerplate notice, or quoted document EMBEDDED in a larger
    * page has tiny Jaccard (the wrapper dilutes the union) but
    * containment ≈ 1. Broder's original resemblance/containment pairing
    * (Broder 1997) — dedup pipelines need both directions.
    *
    * Same posting-list formulation and df-cap discipline as
    * [[jaccardPairs]] (ONE explode+shuffle, pairs from posting lists,
    * hot shingles dropped rows-first with per-doc size adjustment), but
    * pairs are ORDERED (da=contained, db=container) and the filter
    * cross-multiplies against the CONTAINED side's size only:
    * `100·i ≥ pct·n(A)`, integer-exact. Docs under `minShingles` are
    * excluded — every 4-shingle fragment is "contained" in everything
    * at threshold 0.9, which is noise, not signal.
    */
  def containmentPairs(docs: DataFrame, pct: Int = 90, maxDf: Int = 0,
      minShingles: Int = 5): DataFrame = {
    val spreadDocs = graft.Tables.spread(docs)
    val exploded = spreadDocs
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("s"))
    // sizes from the exploded frame — see [[jaccardPairs]] (r16)
    val rawSizes = exploded.groupBy("doc_id")
      .agg(count(lit(1)).as("n0"))
    containmentPairsFrom(exploded, rawSizes, pct, maxDf, minShingles)
  }

  /** [[containmentPairs]] over pre-computed shingle rows / sizes — the
    * same composition seam as [[jaccardPairsFrom]].
    */
  private[pipeline] def containmentPairsFrom(exploded: DataFrame,
      rawSizes: DataFrame, pct: Int, maxDf: Int, minShingles: Int,
      retain: DataFrame => Unit = _ => ()): DataFrame = {
    // same diamond discipline as [[jaccardPairsFrom]]: capped shingle
    // frame ×3 consumers, sizes ×2 — lazily persisted; `retain` hands
    // the seam-internal persists to a multi-tier caller for release
    // (single-query callers keep the no-op, harness owns release)
    val (keptRows, sizes) =
      if (maxDf <= 0) {
        val szs = rawSizes.withColumnRenamed("n0", "n").persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        retain(szs)
        (exploded, szs)
      } else {
        val ex = exploded.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        retain(ex)
        // hot persisted — same two-consumer rationale as
        // [[jaccardPairsFrom]] (AQE does not reuse the duplicate df
        // aggregation); over-cap shingles only, tiny at any scale
        val hot = ex.groupBy("s").agg(count(lit(1)).as("dfc"))
          .filter(col("dfc") > maxDf).select("s").persist()
        retain(hot)
        val drops = ex.join(hot, Seq("s"))
          .groupBy("doc_id").agg(count(lit(1)).as("dropped"))
        val szs = rawSizes.join(drops, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("n0") - coalesce(col("dropped"), lit(0L))).as("n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        retain(szs)
        (ex.join(hot, Seq("s"), "left_anti"), szs)
      }
    // enumerate each UNORDERED pair once (half the shuffle of emitting
    // both directions through the heavy groupBy), then test containment
    // in both directions on the joined row — |∩| is symmetric
    val inter = keptRows
      .groupBy("s").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    val sa = sizes.select(col("doc_id").as("ida"), col("n").as("na"))
    val sb = sizes.select(col("doc_id").as("idb"), col("n").as("nb"))
    val both = inter.join(sa, col("da") === col("ida"))
      .join(sb, col("db") === col("idb"))
    // both directions in ONE pass (a union of filtered branches would
    // evaluate the whole pair subtree twice): a bounded 2× explode per
    // joined pair row, then the direction-specific containment test
    both
      .select(col("i"), explode(array(
        struct(col("da").as("contained"), col("db").as("container"),
          col("na").as("n")),
        struct(col("db").as("contained"), col("da").as("container"),
          col("nb").as("n")))).as("x"))
      .filter(col("x.n") >= minShingles &&
        col("i") * 100 >= lit(pct) * col("x.n"))
      .select(col("x.contained").as("contained"),
        col("x.container").as("container"),
        expr("(1000000 * i) DIV x.n").as("containment_micro"))
  }

  /** Exact Jaccard pairs via PREFIX FILTERING — the AllPairs/PPJoin
    * family (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    * WWW 2007; Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW 2008): the scale-exact alternative to
    * both [[jaccardPairs]] tiers. Shingles get a global rarest-first
    * total order (document frequency asc, hash asc); a pair with
    * Jaccard ≥ t must share a shingle inside BOTH docs' first
    * `n − ⌈t·n⌉ + 1` ordered shingles (pigeonhole on the minimum
    * overlap `⌈t·n⌉` each side needs with any eligible partner), so
    * only those PREFIX shingles feed the blocking join — ~(1−t) of the
    * rows the posting-list formulation shuffles — and, unlike the
    * `maxDf` cap, the pruning provably loses nothing: every surviving
    * candidate is verified against the FULL shingle sets.
    *
    * Scale shape: df is one count-only aggregation; per-doc ordering is
    * one groupBy whose buffer is doc-sized; hot boilerplate shingles
    * sort to the END of every doc's order, so they enter a prefix only
    * when a doc has nothing rarer — the quadratic hot-shingle bucket
    * the df cap fights never forms from boilerplate. Candidate pairs
    * also carry a size filter (`min(na,nb) ≥ ⌈t·max(na,nb)⌉`, valid
    * because J ≤ min/max) before the distinct. Verification fetches
    * each candidate's full hash array by doc_id (two hash joins) and
    * intersects in place (`array_intersect` over 64-bit hashes,
    * codegen) — the shingle stream is never re-shuffled.
    *
    * Float safety: prefix lengths and the size filter use
    * `⌈t·n − 1e-9⌉` — an ulp error in `t·n` can only WIDEN a prefix
    * (a few extra candidates, same answer), never narrow it; the exact
    * final Jaccard filter decides membership.
    */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val spreadDocs = graft.Tables.spread(docs)
    // diamond persists: the shingle frame feeds the df count AND the
    // ordering join; the ordered per-doc arrays feed the prefix explode
    // AND both full-set verification joins — without the caches the
    // dominant explode runs twice and the doc-sized sort-aggregate three
    // times (the round-11 weak class; caller/harness owns release)
    val exploded = spreadDocs
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prefixJaccardPairsFrom(exploded, threshold)
  }

  /** [[prefixJaccardPairs]] over a PRE-COMPUTED (and caller-persisted)
    * (doc_id, s) shingle frame — the [[jaccardPairsFrom]] seam, so an
    * audit running the prefix-exact tier NEXT TO the capped tier
    * (a_capped_pair_drift) shingles the corpus once, not per tier (r16).
    */
  private[pipeline] def prefixJaccardPairsFrom(exploded: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold: prefix length n - ceil(t*n) + 1 needs " +
        "0 < t <= 1 (t = 0 degenerates to all-pairs)")
    def safeCeil(x: Column): Column = ceil(x - lit(1e-9))
    val dfc = exploded.groupBy("s").agg(count(lit(1)).as("dfc"))
    // per-doc shingles sorted by the global (df, hash) order; struct
    // sort is lexicographic by field position, and the hash tiebreak
    // makes the order total, so every doc agrees on it
    val ordered = exploded.join(dfc, Seq("s"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("dfc"), col("s")))).as("p"))
      .select(col("doc_id"),
        transform(col("p"), x => x.getField("s")).as("os"),
        size(col("p")).cast("long").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // prefixes persisted (r16): both self-join sides consume it, and
    // AQE does not reuse the duplicate explode-over-cache subtrees
    // (OPTIMIZATION_r16.md); rows ≈ (1−t)·shingle mass, narrow (two
    // longs + id)
    val prefixes = ordered.select(col("doc_id"), col("n"),
      explode(slice(col("os"), lit(1),
        (col("n") - safeCeil(lit(threshold) * col("n")) + 1)
          .cast("int"))).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >=
            safeCeil(lit(threshold) * greatest(col("a.n"), col("b.n"))))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    cands
      .join(ordered.as("fa"), col("da") === col("fa.doc_id"))
      .join(ordered.as("fb"), col("db") === col("fb.doc_id"))
      .select(col("da"), col("db"),
        size(array_intersect(col("fa.os"), col("fb.os")))
          .cast("long").as("i"),
        col("fa.n").as("na"), col("fb.n").as("nb"))
      .select(col("da"), col("db"),
        (col("i") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup: Jaccard pairs where at least one side is in
    * the NEW batch — the production dedup shape. A pipeline ingesting a
    * daily slice against a 100 TB index must never enumerate index×index
    * pairs (the quadratic bulk it already resolved in prior runs); only
    * new×index and new×new candidates matter. Same posting-list blocking
    * as [[jaccardPairs]], but each bucket enumerates only pairs touching
    * a batch doc, so per-bucket cost is O(|new|·df) instead of O(df²).
    * Sizes still come from both sides (Jaccard is over full shingle
    * sets); `maxDf` caps hot buckets exactly as in the full variant.
    */
  def incrementalJaccardPairs(index: DataFrame, batch: DataFrame,
      threshold: Double, maxDf: Int = 0): DataFrame = {
    val tagged = graft.Tables.spread(
      index.select(col("doc_id"), col("text"), lit(false).as("is_new"))
        .union(batch.select(col("doc_id"), col("text"),
          lit(true).as("is_new"))))
    val exploded = tagged
      .select(col("doc_id"), col("is_new"),
        explode(shingleHashes(col("text"))).as("s"))
    // sizes from the exploded frame — see [[jaccardPairs]] (r16)
    val rawSizes = exploded.groupBy("doc_id")
      .agg(count(lit(1)).as("n0"))
    // df FIRST, hot rows dropped BEFORE collect_list — same memory-bound
    // rationale as jaccardPairs: a hot shingle's posting list must never
    // materialize in an aggregation buffer just to be discarded. Same
    // diamond persists too (capped shingle frame ×3, sizes ×2).
    val (keptRows, sizes) =
      if (maxDf <= 0)
        (exploded, rawSizes.withColumnRenamed("n0", "n").persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else {
        val ex = exploded.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // hot persisted — the jaccardPairsFrom two-consumer rationale
        val hot = ex.groupBy("s").agg(count(lit(1)).as("dfc"))
          .filter(col("dfc") > maxDf).select("s").persist()
        val drops = ex.join(hot, Seq("s"))
          .groupBy("doc_id").agg(count(lit(1)).as("dropped"))
        val szs = rawSizes.join(drops, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("n0") - coalesce(col("dropped"), lit(0L))).as("n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (ex.join(hot, Seq("s"), "left_anti"), szs)
      }
    val inter = keptRows
      .groupBy("s").agg(
        collect_list(struct(col("doc_id"), col("is_new"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      // enumerate from the NEW members only — O(|new|·df) per bucket, not
      // O(df²); a bucket with no batch doc generates zero rows. A
      // new-new pair would surface from both endpoints, so keep it only
      // from its smaller one; then canonicalize (da, db) by id order.
      .select(explode(filter(col("ids"), m => m.getField("is_new")))
        .as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a.doc_id") =!= col("b.doc_id") &&
        (!col("b.is_new") || col("a.doc_id") < col("b.doc_id")))
      .groupBy(
        least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("da") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        (col("i") / (col("sa.n") + col("sb.n") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-dup pairs → (doc_id, cluster) where
    * `cluster` is the component's minimum doc_id (the canonical keeper).
    * The missing last step of every dedup pipeline: pair lists don't
    * dedupe anything until transitively-linked docs collapse to one
    * representative.
    *
    * Min-label propagation: each round every node takes the min of its
    * own label and its neighbors' labels; converged when the (monotone
    * non-increasing) label sum stops changing — one cheap aggregate
    * action per round, rounds = graph diameter ≤ `maxIter`. Each round's
    * labels are persisted and the previous round unpersisted, the
    * standard iterative-DataFrame pattern (otherwise the lineage doubles
    * per round). Near-dup graphs are shallow (dup clusters are cliques or
    * short chains), so rounds stay small at any corpus size; the per-round
    * cost is one shuffle join on `src` + one aggregate.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
      driverMaxPairs: Long = -1L): DataFrame = {
    val prs = pairs.persist()
    val spark = prs.sparkSession
    // Gate constant is config-exposed (the driver collect is the same
    // size class as a broadcast side, and ops teams tune those): explicit
    // argument wins, then `graft.dedup.driverMaxPairs`, then 1M pairs
    // (~1M Rows + a 2M-entry primitive-keyed map — tens of MB with
    // boxing counted).
    val maxPairs =
      if (driverMaxPairs >= 0L) driverMaxPairs
      else spark.conf.getOption("graft.dedup.driverMaxPairs")
        .map(_.toLong).getOrElse(1L << 20)
    // Size-gated fast path, the same engineering rule as the broadcast
    // join threshold: a pair list under `maxPairs` is a driver-trivial
    // union-find; each label-propagation round below costs a full Spark
    // job, so driving a 25-edge fixture graph through 4 rounds of joins
    // is pure overhead. Larger graphs (or non-long id types) take the
    // distributed path unchanged (PipelineSpec pins both paths to
    // identical output).
    //
    // The gate is ONE full-parallel count() over the persisted pairs —
    // every partition scans at once and lands in the cache. (An earlier
    // version probed with limit(maxPairs+1).collect(); CollectLimitExec
    // executes INCREMENTALLY — a 1-partition job, then 4, then 16 —
    // and those serial low-parallelism job barriers made the gate the
    // most contention-sensitive step of the whole bench. The count is
    // not wasted work at any size: on the small side the collect below
    // reads the now-hot cache, and on the large side the distributed
    // path needs nPairs anyway to size its partitioning. Either path
    // materializes every pair exactly once.)
    val longIds = prs.schema.fields.take(2).forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val nPairs = prs.count()
    if (longIds && nPairs > 0 && nPairs <= maxPairs) {
      // id pairs only — 16 bytes/row, so maxPairs bounds driver memory
      // the same way a broadcast threshold does; these rows ARE the
      // union-find input
      val out = driverClusters(spark,
        prs.select(col("ida"), col("idb")).collect()
          .map(r => (r.getLong(0), r.getLong(1))))
      prs.unpersist()
      return out
    }
    // Distributed path: size the iteration's partitioning to the GRAPH,
    // not the corpus — the dup graph is orders of magnitude smaller than
    // its input, and each propagation round pays per-partition scheduling
    // overhead times the round count. One partition per ~500k edges,
    // floor 2.
    val parts = math.max(2, math.min(
      spark.sparkContext.defaultParallelism,
      (nPairs / 500000L).toInt + 1))
    val edges = prs.select(col("ida").as("src"), col("idb").as("dst"))
      .union(prs.select(col("idb").as("src"), col("ida").as("dst")))
      .repartition(parts, col("src"))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).persist()
    // sum over ZERO rows is null (a pair-free corpus is normal — clean
    // slice, high threshold); treat it as converged-at-0
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum("label")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = labelSum(labels)
    var i = 0
    var converged = nPairs == 0L // empty graph: nothing to propagate
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nlabel"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
        .persist()
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    // Silent non-convergence would leak duplicate representatives into the
    // training set (two "keepers" in one transitive cluster). Refuse —
    // but unpersist FIRST: in a long-lived session each failed attempt
    // would otherwise pin three cached DataFrames forever.
    if (!converged) {
      edges.unpersist()
      prs.unpersist()
      labels.unpersist()
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter rounds — the dup graph " +
          "has a connected component of diameter > maxIter (unusual for " +
          "near-dup data; raise maxIter or pre-collapse exact dups)")
    }
    edges.unpersist()
    prs.unpersist()
    // Truncate the iterative lineage: without this, losing a cached block
    // at scale replays EVERY round against already-unpersisted parents.
    // (Cluster deployments should set a reliable checkpoint dir and use
    // checkpoint(); localCheckpoint is the single-node equivalent.)
    val out = labels
      .select(col("id").as("doc_id"), col("label").as("cluster"))
      .localCheckpoint(true)
    labels.unpersist()
    out
  }

  /** Min-root union-find over a collected pair list. The union rule
    * (larger root points at smaller) keeps every tree's root equal to
    * the component's minimum id, so `find` IS the cluster label.
    */
  private def driverClusters(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    // LongMap: primitive keys, no per-entry box on the hot find() path
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val rows = parent.keysIterator
      .map(id => (id, find(id))).toSeq
    spark.createDataFrame(rows).toDF("doc_id", "cluster")
  }

  /** Keeper SELECTION, the step after clustering: given docs and a
    * (doc_id, cluster) assignment, keep the best doc per cluster —
    * "best" = highest `scoreCol`, ties to the smallest doc_id. Docs
    * absent from `clusters` are their own singleton cluster.
    *
    * One shuffle on the cluster key; partitions are cluster-sized (dup
    * clusters are small by construction — a million-member "cluster" is
    * boilerplate that exact tiers collapse first), so the per-key sort
    * is bounded at any corpus size.
    */
  def keepBest(docs: DataFrame, clusters: DataFrame,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = docs
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val byCluster = Window.partitionBy(col("cluster"))
    assigned
      .withColumn("rn", row_number().over(
        byCluster.orderBy(col(scoreCol).desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("keeper"), col("n_members"))
  }

  /** Cross-document duplicated-SPAN coverage — the measurement core of
    * exact-substring dedup (the C4/"Deduplicating Training Data Makes
    * Language Models Better" preprocessing step): for each doc, the
    * number of token positions covered by at least one `n`-token span
    * that also appears verbatim in ANOTHER document. Within-doc
    * repetition does not count (that is [[TextAnalysis]]'s repetition
    * signal); this is the cross-doc memorization surface.
    *
    * Shape at scale: spans are 64-bit position-free hashes (no n-token
    * strings materialize); the duplicated-span set comes from one
    * count-distinct-docs aggregation; coverage is an 8× bounded explode
    * of only the DUPLICATED positions (rare by construction in a clean
    * corpus) — never of the corpus. All shuffles key on the span hash or
    * doc_id; nothing is quadratic.
    */
  def spanDupTokens(docs: DataFrame, n: Int = 8): DataFrame = {
    val base = graft.Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= n)
    // positions are kept (no array_distinct): coverage needs every start
    val grams = base
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("t")) - n)).as("pos"), col("t"))
      .select(col("doc_id"), col("pos"),
        xxhash64((0 until n).map(j =>
          element_at(col("t"), col("pos") + j + 1)): _*).as("g"))
    val dup = grams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("dc"))
      .filter(col("dc") >= 2).select("g")
    grams.join(dup, Seq("g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tokens"))
  }

  /** The REMOVAL step over [[spanDupTokens]]'s measurement: every token
    * position covered by a cross-doc duplicated `n`-token span is dropped
    * and the remaining tokens re-joined in order — exact-substring dedup
    * as a transformation, not just a metric. Docs with nothing to strip
    * pass through unchanged; a (pathological) fully-covered doc vanishes,
    * which is the correct degenerate output for a verbatim re-paste.
    *
    * Scale shape: the only additions over the measurement are the
    * token posexplode (linear, one shuffle on doc_id) and the ordered
    * re-assembly (array_sort over ONE doc's tokens — bounded by doc
    * length, never by corpus size).
    */
  def stripDupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val withToks = graft.Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val grams = withToks
      .filter(size(col("t")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("t")) - n)).as("pos"), col("t"))
      .select(col("doc_id"), col("pos"),
        xxhash64((0 until n).map(j =>
          element_at(col("t"), col("pos") + j + 1)): _*).as("g"))
    val dup = grams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("dc"))
      .filter(col("dc") >= 2).select("g")
    val covered = grams.join(dup, Seq("g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val toks = withToks
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p", "tok")))
    toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("text_stripped"))
  }

  /** Per-SOURCE boilerplate removal — the C4/RefinedWeb preprocessing
    * step that strips navigation banners, cookie notices, and footers: a
    * token position is dropped when it sits inside an `n`-token span
    * whose verbatim content appears in at least
    * `max(minDocs, ceil(minFrac · |docs(source)|))` DISTINCT documents
    * of the SAME source. Differs from [[stripDupSpans]] on both axes
    * that matter for web corpora: the frequency bar scales with the
    * domain (a chrome line on 50% of a site's pages is boilerplate; two
    * pages quoting each other are near-dups, not chrome), and the span
    * universe is partitioned by source, so one site's template never
    * bleeds into another's.
    *
    * Shape at 100 TB: grams are position-free 64-bit hashes keyed
    * (source, hash) — the df aggregation is one shuffle on that compound
    * key; the qualifying ("hot") set is tiny by construction (only spans
    * on ≥ minFrac of a domain's pages); the coverage explode is n×
    * bounded and touches only hot occurrences. Per-doc reassembly sorts
    * one doc's tokens. Nothing is quadratic in corpus or domain size.
    *
    * Every input doc_id appears in the output: a document whose entire
    * token range is boilerplate-covered comes back with `text_clean = ""`
    * rather than being dropped.
    */
  def stripBoilerplate(docs: DataFrame, n: Int = 4, minFrac: Double = 0.5,
      minDocs: Int = 2): DataFrame = {
    val base = graft.Tables.spread(docs)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
    val nd = base.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val grams = base.filter(size(col("t")) >= n)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0), size(col("t")) - n)).as("pos"), col("t"))
      .select(col("doc_id"), col("source"), col("pos"),
        xxhash64((0 until n).map(j =>
          element_at(col("t"), col("pos") + j + 1)): _*).as("g"))
    val hot = grams.select("source", "g", "doc_id").distinct()
      .groupBy("source", "g").agg(count(lit(1)).as("dc"))
      .join(nd, Seq("source"))
      .filter(col("dc") >=
        greatest(lit(minDocs.toLong), ceil(col("n_docs") * minFrac)))
      .select("source", "g")
    val covered = grams.join(hot, Seq("source", "g"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val toks = base
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p", "tok")))
    val cleaned = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("text_clean"))
    // A doc whose every position is boilerplate-covered has no surviving
    // token row — rejoin the doc_id universe so it yields an empty
    // text_clean instead of silently vanishing from the output.
    base.select("doc_id").join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** The full dedup CASCADE as one attrition report — the funnel every
    * production pipeline runs and every data card publishes: raw →
    * exact (md5 keep-min) → near-dup (capped-jaccard clusters,
    * keep-min per component) → containment (embedded-document drops).
    * Each stage runs on the PREVIOUS stage's survivors (shingle dfs
    * are survivor-relative, matching how a real cascade re-profiles
    * after each cut), and each stage's machinery is the registered
    * operator's own (jaccardPairs / dupClusters / containmentPairs) —
    * the report can't disagree with the tiers it summarizes. Output:
    * (stage, n_docs), 4 rows.
    */
  def dedupReport(docs0: DataFrame): DataFrame = {
    val spark = docs0.sparkSession
    import spark.implicits._
    // AQE off for the cascade's own actions (r17, conf-gated): the
    // report runs ~60 sequential jobs whose inputs are seam-persisted
    // frames with sizes known at plan time, joins explicitly broadcast/
    // size-gated, and skew bounded STRUCTURALLY by the df caps (the
    // posting-list tiers exist precisely so no hot bucket forms) — AQE
    // re-plans every exchange without ever changing a decision here,
    // and its per-stage materialization latency is ~16% of the wall
    // (ConfAb interleaved A/B: 6.01 -> 5.05 s). Scoped to this builder
    // only (every action runs inside it; the returned frame is local),
    // restored in finally; graft.cascade.aqe=true re-enables.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val aqeOff = !spark.conf.getOption("graft.cascade.aqe")
      .map(_.toBoolean).getOrElse(false)
    if (aqeOff) spark.conf.set("spark.sql.adaptive.enabled", "false")
    try dedupReportBody(docs0)
    finally if (aqeOff)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  private def dedupReportBody(docs0: DataFrame): DataFrame = {
    val spark = docs0.sparkSession
    import spark.implicits._
    val raw = Tables.spread(docs0).select("doc_id", "text")
    // planted enrichment (the d_exact_dup / d_containment_dup injection
    // discipline — the raw fixture has no exact copies or embedded
    // docs, so the cascade's first and third cuts would be vacuous):
    // exact copies of docs < 50, and WRAPPED copies of docs 50..99
    // padded with 40 doc-unique tokens — unique so the df cap keeps
    // them and jaccard drops below 0.8 (not caught at stage 2) while
    // the original stays ≥ 90% contained (caught at stage 3)
    // persist the 3-branch union (it feeds the raw count, the exact
    // keep-list AND s1's semi join — unpersisted, each rebuilds the
    // parquet scan + planted-text transform), then shingle the exact
    // survivors ONCE into narrow persisted frames both pair tiers
    // share (the jaccardPairsFrom seam). A narrow-cache variant that
    // re-scanned text instead of caching it measured SLOWER (the
    // union+concat transform costs more per pass than the cache
    // write), so wide caches stay — see SCALING.md's cascade anatomy.
    val base = raw
      .union(raw.filter(col("doc_id") < 50)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .union(raw.filter(col("doc_id") >= 50 && col("doc_id") < 100)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" "), concat_ws(" ",
            transform(sequence(lit(1), lit(40)), k =>
              concat(lit("w"), col("doc_id"), lit("x"), k))))
            .as("text")))
      // the 3-branch union stacks 3× the spread width in mostly-empty
      // partitions (two branches hold ≤50 docs each); coalesce back to
      // the raw width — narrow (no shuffle), and every downstream job
      // over the cache schedules ⅓ the tasks (r16: ~30 jobs read this
      // cache). At scale raw's own width dominates and nothing shrinks.
      .coalesce(math.max(raw.rdd.getNumPartitions,
        spark.sparkContext.defaultParallelism))
      .persist()
    val keep1 = base.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s1 = base.join(keep1, Seq("doc_id"), "left_semi").persist()
    val ex1 = s1.select(col("doc_id"),
      explode(shingleHashes(col("text"))).as("s")).persist()
    // per-doc shingle counts from the exploded CACHE, not a second
    // size(shingleHashes(text)) pass over s1 — the explode already paid
    // the split+hash CPU once (r16; the two agree because shingleHashes
    // is array_distinct'd, and zero-shingle docs — absent here, present
    // as 0 before — only ever meet the pair frames through INNER joins
    // on paired ids, which zero-shingle docs cannot be)
    val sz1 = ex1.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n0")).persist()
    // the seams persist frames of their own (drop-adjusted sizes, the
    // semi-joined shingle frame) — collect them for release below, or
    // they outlive the report (the round-12 advice leak; harness
    // clearCache masked it, a long-lived user session would not)
    val seamCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val pairs = jaccardPairsFrom(ex1, sz1, 0.8, maxDf = 20,
        retain = seamCaches += _)
      .select(col("da").as("ida"), col("db").as("idb"))
    val drop2 = dupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster")).select("doc_id")
    val s2 = s1.join(drop2, Seq("doc_id"), "left_anti").persist()
    val s2ids = s2.select("doc_id")
    val drop3 = containmentPairsFrom(
        ex1.join(s2ids, Seq("doc_id"), "left_semi"),
        sz1.join(s2ids, Seq("doc_id"), "left_semi"), 90, 20, 5,
        retain = seamCaches += _)
      .select(col("contained").as("doc_id")).distinct()
    val s3 = s2.join(drop3, Seq("doc_id"), "left_anti")
    // stage counts in DEPENDENCY order: each action materializes the
    // cache the next one's lineage reads, so the four jobs never
    // re-execute an uncached stage
    val out = Seq(
      ("0_raw", base.count()), ("1_exact", s1.count()),
      ("2_near", s2.count()), ("3_containment", s3.count()))
      .toDF("stage", "n_docs")
    base.unpersist(); s1.unpersist(); ex1.unpersist(); sz1.unpersist()
    s2.unpersist()
    seamCaches.foreach(_.unpersist())
    out
  }

  val queries: Map[String, Q] = Map(
    "p_dedup_report" -> { (s, d) =>
      dedupReport(Tables.documents(s, d)).orderBy("stage")
    },
    // Exact dedup: duplicated delivery (doc_id < 100 re-ingested) collapses
    // on content; keeper = min doc_id. Hash-groupBy — single shuffle.
    "d_exact_dup" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      docs.union(docs.filter(col("doc_id") < 100))
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
        .select(col("keeper"), col("copies"))
        .orderBy("keeper")
    },
    // Fingerprint dedup: the fixture plants token-permuted near-dups, so
    // normalized fingerprints genuinely collide (≈12% of docs).
    "d_fingerprint_dup" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("members"))
        .filter(col("members") > 1)
        .select(col("keeper"), col("members"))
        .orderBy("keeper")
    },
    // Keeper selection over fingerprint clusters: the doc with the most
    // content (n_chars, ties to min id) represents each normalized-token
    // group — dedup that PICKS QUALITY instead of blindly keeping the
    // first-seen copy. Cluster label = min doc_id of the fingerprint
    // group (one aggregation), then keepBest's single cluster-key window.
    "d_keep_best" -> { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d))
        .select("doc_id", "text", "n_chars")
      val clusters = docs
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .withColumn("cluster",
          min(col("doc_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .select("doc_id", "cluster")
      keepBest(docs.select("doc_id", "n_chars"), clusters, "n_chars")
        .orderBy("cluster")
    },
    // Exact n-gram Jaccard near-dup pairs (threshold 0.8 — nearest fixture
    // pair is >0.08 away on both sides, so float-safe).
    "d_ngram_jaccard" -> { (s, d) =>
      jaccardPairs(Tables.documents(s, d), 0.8)
        .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("da", "db")
    },
    // Prefix-filtered EXACT tier: the same pair set as d_ngram_jaccard
    // (literally the same oracle SQL) produced from only each doc's
    // rarest-first prefix shingles — the oracle equality PROVES the
    // prefix pruning loses nothing, which is the property that lets it
    // replace the recall-losing df cap at scale.
    "d_jaccard_prefix" -> { (s, d) =>
      prefixJaccardPairs(Tables.documents(s, d), 0.8)
        .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("da", "db")
    },
    // Scale-path variant: identical blocking join but shingles with
    // document frequency > 20 are dropped first, bounding every join
    // bucket (see jaccardPairs maxDf note). At sf0.01 no shingle exceeds
    // df 7, so the capped result provably equals the exact tier here —
    // the oracle mirrors the cap, making the guard itself hash-gated.
    "d_ngram_jaccard_capped" -> { (s, d) =>
      jaccardPairs(Tables.documents(s, d), 0.8, maxDf = 20)
        .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("da", "db")
    },
    // Order-aware verification of the production pair tier: each
    // df-capped Jaccard pair additionally scored by token-LCS ratio over
    // the docs' first-64-token prefixes (the custom codegen'd
    // [[graft.functions.LcsLength]]). Jaccard is bag-of-shingles — a doc
    // with SHUFFLED paragraphs of another scores nearly as high as a true
    // near-dup; LCS collapses on reordering, so lcs_micro separates
    // same-content-same-order (keep one) from same-content-reordered
    // (often a legitimate re-edit worth keeping). The 64-token prefix is
    // the oracle-tractability cap AND the production sampling discipline
    // (alignment on a bounded prefix, not O(doc²) on full docs). Shape:
    // the pair tier's own posting-list lineage + two prefix re-fetch
    // joins + a per-row expression — nothing new shuffles at scale.
    "d_lcs_verify" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = jaccardPairs(docs, 0.8, maxDf = 20).select("da", "db")
      val pre = Tables.spread(docs).select(col("doc_id"),
        slice(split(col("text"), " "), 1, 64).as("p"))
      pairs
        .join(pre.select(col("doc_id").as("da"), col("p").as("pa")), "da")
        .join(pre.select(col("doc_id").as("db"), col("p").as("pb")), "db")
        .select(col("da"), col("db"),
          graft.functions.LcsLength.lcs_length(col("pa"), col("pb"))
            .cast("long").as("lcs"),
          size(col("pa")).cast("long").as("len_a"),
          size(col("pb")).cast("long").as("len_b"))
        .withColumn("lcs_micro",
          expr("lcs * 1000000 DIV greatest(len_a, len_b)"))
        .orderBy("da", "db")
    },
    // Incremental dedup: docs with doc_id % 5 == 0 play the NEW batch,
    // the rest the already-resolved index; only pairs touching the batch
    // are produced (and index×index pairs are never even enumerated).
    // The oracle is the full capped pair set filtered to batch-touching
    // pairs — equality proves the incremental path loses nothing.
    "d_incremental_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      incrementalJaccardPairs(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        0.8, maxDf = 20)
        .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("da", "db")
    },
    // Connected-components clustering of the near-dup pairs:
    // (doc_id, cluster=min id of the component). Runs on the PRODUCTION
    // pair tier (df-capped blocking — the only one that exists at
    // 100 TB); the oracle is a DuckDB recursive CTE over the same
    // df-capped pair set.
    "d_dup_clusters" -> { (s, d) =>
      dupClusters(
        jaccardPairs(Tables.documents(s, d), 0.8, maxDf = 20)
          .select(col("da").as("ida"), col("db").as("idb")))
        .orderBy("doc_id")
    },
    // Semantic (embedding) dup CLUSTERS: the cosine pair set fed through
    // the same connected-components keeper selection as the text tier —
    // near-dup handling is one machinery, whatever produced the pairs.
    "d_embedding_dup_clusters" -> { (s, d) =>
      val e = graft.Tables.spread(Tables.embeddings(s, d))
        .select(col("vec_id"),
          VectorOps.normalized(VectorOps.asDouble(col("embedding"))).as("v"))
      val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
          VectorOps.dot(col("a.v"), col("b.v")).as("c"))
        .filter(col("c") > 0.47)
        .select("ida", "idb")
      dupClusters(pairs)
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy("vec_id")
    },
    // Asymmetric containment pairs — the embedded-document detector.
    // The fixture corpus has no planted wrappers, so the query re-ingests
    // the first 50 docs WRAPPED (verbatim text + appended chrome tail,
    // the m_binary_dup re-ingest pattern): each original is then fully
    // contained (10⁶ micro) in its wrapper while their Jaccard is
    // diluted. Runs the production df-capped tier; integer cross-
    // multiplied threshold and micro-unit output → exact oracle.
    "d_containment_dup" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val wrapped = Tables.documents(s, d).filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"),
            lit(" wrapper chrome navigation footer columns appended"))
            .as("text"))
      containmentPairs(docs.unionByName(wrapped), 90, maxDf = 20)
        .orderBy("contained", "container")
    },
    // Exact-substring (span) dedup measurement: per-doc count of token
    // positions inside an 8-token span shared verbatim with another doc.
    // The hash-vs-string oracle equality re-proves the no-collision
    // assumption (as for p_decontaminate).
    "d_span_dup" -> { (s, d) =>
      spanDupTokens(Tables.documents(s, d), 8).orderBy("doc_id")
    },
    // The removal operator over the same span machinery: duplicated-span
    // token positions dropped, text re-joined in order.
    "d_span_strip" -> { (s, d) =>
      stripDupSpans(Tables.documents(s, d), 8).orderBy("doc_id")
    },
    // Boilerplate strip, exercised as a ROUND TRIP: the fixture has no
    // natural per-source boilerplate (max per-source 4-gram df is 2), so
    // the query synthesizes the web reality — every doc of a source gets
    // that source's 6-token banner prepended and 6-token footer appended
    // (same template within a source, different across sources), then
    // [[stripBoilerplate]] runs at minFrac=0.5. A per-doc UNIQUE sentinel
    // token is placed at each banner→body and body→footer seam, so every
    // 4-gram crossing a seam contains a df-1 token BY CONSTRUCTION — the
    // round trip no longer depends on the fixture's body-edge tokens
    // being diverse within a source. The oracle is the original text
    // wrapped in the same sentinels: a hash match proves the strip
    // removed every banner/footer token (on 100% > 50% of the source's
    // docs) and not one body or sentinel token (the fixture's real
    // near-dup pairs sit far under the 50% bar).
    "d_boilerplate_strip" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val injected = docs.select(col("doc_id"), col("source"),
        concat_ws(" ",
          col("source"), lit("portal home nav menu search"),
          concat(lit("s"), col("doc_id")),
          col("text"),
          concat(lit("e"), col("doc_id")),
          col("source"), lit("footer terms privacy contact copyright"))
          .as("text"))
      stripBoilerplate(injected, n = 4, minFrac = 0.5, minDocs = 2)
        .orderBy("doc_id")
    },
    // Embedding cosine near-dup pairs: brute-force on the checkable scale;
    // the LSH-bucketed variant in Similarity is the 100 TB path.
    "d_embedding_dup" -> { (s, d) =>
      // normalize each side once (linear), so each of the O(n²) pairs is a
      // single codegen'd primitive dot product
      val e = graft.Tables.spread(Tables.embeddings(s, d))
        .select(col("vec_id"),
          VectorOps.normalized(VectorOps.asDouble(col("embedding"))).as("v"))
      e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          VectorOps.dot(col("a.v"), col("b.v")).as("c"))
        .filter(col("c") > 0.47)
        .select(col("va"), col("vb"))
        .orderBy("va", "vb")
    })

  val oracles: Map[String, String] = Map(
    // the cascade replayed stage for stage: exact keep-min, then the
    // d_dup_clusters pipeline on stage-1 survivors, then the
    // d_containment_dup test on stage-2 survivors — survivor-relative
    // dfs, same caps/thresholds as the Spark operators
    "p_dedup_report" ->
      """WITH RECURSIVE
        |base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    text || ' ' || array_to_string(list_transform(range(1, 41),
        |      k -> 'w' || doc_id || 'x' || k), ' ')
        |  FROM documents WHERE doc_id >= 50 AND doc_id < 100),
        |m AS (SELECT md5(text) h, min(doc_id) k FROM base
        |      GROUP BY 1),
        |s1 AS (
        |  SELECT d.doc_id, d.text FROM base d
        |  JOIN m ON md5(d.text) = m.h AND d.doc_id = m.k),
        |toks AS (SELECT doc_id, string_split(text, ' ') t FROM s1),
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
        |clus AS (SELECT id AS doc_id, min(r) AS cluster
        |         FROM reach GROUP BY id),
        |s2 AS (
        |  SELECT s1.doc_id, s1.text FROM s1
        |  WHERE s1.doc_id NOT IN (
        |    SELECT doc_id FROM clus WHERE doc_id <> cluster)),
        |toks2 AS (SELECT doc_id, string_split(text, ' ') t FROM s2),
        |sh20 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) s
        |  FROM toks2 WHERE len(t) >= 3),
        |dfc2 AS (SELECT s, count(*) c FROM sh20 GROUP BY s),
        |sh2 AS (SELECT doc_id, s FROM sh20 JOIN dfc2 USING (s)
        |        WHERE c <= 20),
        |drops2 AS (
        |  SELECT doc_id, count(*) dropped FROM sh20 JOIN dfc2 USING (s)
        |  WHERE c > 20 GROUP BY doc_id),
        |sizes20 AS (SELECT doc_id, count(*) n0 FROM sh20 GROUP BY doc_id),
        |sizes2 AS (
        |  SELECT doc_id, n0 - coalesce(dropped, 0) AS n
        |  FROM sizes20 LEFT JOIN drops2 USING (doc_id)),
        |inter2 AS (
        |  SELECT a.doc_id da, b.doc_id db, count(*) i
        |  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cont AS (
        |  SELECT da AS contained FROM inter2
        |  JOIN sizes2 sa ON sa.doc_id = da
        |  WHERE sa.n >= 5 AND 100 * i >= 90 * sa.n
        |  UNION
        |  SELECT db FROM inter2
        |  JOIN sizes2 sb ON sb.doc_id = db
        |  WHERE sb.n >= 5 AND 100 * i >= 90 * sb.n),
        |s3 AS (
        |  SELECT doc_id FROM s2
        |  WHERE doc_id NOT IN (SELECT contained FROM cont))
        |SELECT stage, n_docs FROM (
        |  SELECT '0_raw' AS stage,
        |    (SELECT count(*) FROM base) AS n_docs
        |  UNION ALL SELECT '1_exact', (SELECT count(*) FROM s1)
        |  UNION ALL SELECT '2_near', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT '3_containment', (SELECT count(*) FROM s3))
        |ORDER BY stage""".stripMargin,
    // the round-trip contract: injected per-source banner/footer out,
    // per-doc seam sentinels + body text byte-identical
    "d_boilerplate_strip" ->
      """SELECT doc_id,
        |  concat_ws(' ', 's' || doc_id, text, 'e' || doc_id) AS text_clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_exact_dup" ->
      """SELECT min(doc_id) AS keeper, count(*) AS copies FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100)
        |GROUP BY text ORDER BY keeper""".stripMargin,
    "d_fingerprint_dup" ->
      """SELECT min(doc_id) AS keeper, count(*) AS members
        |FROM (SELECT doc_id,
        |        md5(array_to_string(list_sort(list_distinct(
        |          string_split(text, ' '))), ' ')) AS fp
        |      FROM documents)
        |GROUP BY fp HAVING count(*) > 1 ORDER BY keeper""".stripMargin,
    "d_keep_best" ->
      """WITH fp AS (
        |  SELECT doc_id, n_chars,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(text, ' '))), ' ')) AS f
        |  FROM documents),
        |assigned AS (
        |  SELECT doc_id, n_chars,
        |    min(doc_id) OVER (PARTITION BY f) AS cluster
        |  FROM fp),
        |rk AS (
        |  SELECT cluster, doc_id, n_chars,
        |    row_number() OVER (
        |      PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY cluster) AS n_members
        |  FROM assigned)
        |SELECT cluster, doc_id AS keeper, n_members
        |FROM rk WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "d_ngram_jaccard" ->
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
        |  GROUP BY 1, 2)
        |SELECT da, db,
        |       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
        |ORDER BY da, db""".stripMargin,
    // Same SQL as d_ngram_jaccard on purpose: the prefix-filtered path
    // must reproduce the exact tier bit-for-bit.
    "d_jaccard_prefix" ->
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
        |  GROUP BY 1, 2)
        |SELECT da, db,
        |       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
        |ORDER BY da, db""".stripMargin,
    "d_ngram_jaccard_capped" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
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
        |  GROUP BY 1, 2)
        |SELECT da, db,
        |       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
        |ORDER BY da, db""".stripMargin,
    // the capped pair derivation verbatim, then the SAME token-LCS DP the
    // custom Expression runs, replayed per pair as a recursive CTE via
    // the prefix-max row recurrence (the a_rouge_l oracle idiom) over
    // 64-token prefixes
    "d_lcs_verify" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
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
        |prs AS (
        |  SELECT da, db FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
        |pre AS (SELECT doc_id,
        |  list_slice(string_split(text, ' '), 1, 64) p FROM documents),
        |pair AS MATERIALIZED (
        |  SELECT da, db, a.p AS c, b.p AS r
        |  FROM prs JOIN pre a ON a.doc_id = da
        |  JOIN pre b ON b.doc_id = db),
        |dp AS (
        |  SELECT da, db, c, r, 0 AS i,
        |    list_transform(range(0, len(r) + 1),
        |      x -> CAST(0 AS BIGINT)) AS dprow
        |  FROM pair
        |  UNION ALL
        |  SELECT da, db, c, r, i + 1,
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(r) + 1), j ->
        |        greatest(dprow[j + 1],
        |          list_max(list_transform(range(1, j + 1), k ->
        |            CASE WHEN r[k] = c[i + 1] THEN dprow[k] + 1
        |                 ELSE CAST(0 AS BIGINT) END)))))
        |  FROM dp WHERE i < len(c)),
        |fin AS (
        |  SELECT da, db, dprow[len(r) + 1] AS lcs,
        |    CAST(len(c) AS BIGINT) AS len_a,
        |    CAST(len(r) AS BIGINT) AS len_b
        |  FROM dp WHERE i = len(c))
        |SELECT da, db, lcs, len_a, len_b,
        |  lcs * 1000000 // greatest(len_a, len_b) AS lcs_micro
        |FROM fin ORDER BY da, db""".stripMargin,
    "d_incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
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
        |  GROUP BY 1, 2)
        |SELECT da, db,
        |       round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
        |  AND (da % 5 = 0 OR db % 5 = 0)
        |ORDER BY da, db""".stripMargin,
    "d_dup_clusters" ->
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
        |  SELECT e.t, reach.r FROM reach JOIN edges e ON reach.id = e.s)
        |SELECT id AS doc_id, min(r) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // string shingles stand in for the engine's 64-bit hashes (the
    // no-collision assumption the jaccard oracles already prove); the
    // wrapped re-ingest, the df cap with per-doc size adjustment, and
    // the integer containment test are replayed verbatim
    "d_containment_dup" ->
      """WITH docs0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    text || ' wrapper chrome navigation footer columns appended'
        |  FROM documents WHERE doc_id < 50),
        |toks AS (SELECT doc_id, string_split(text, ' ') t FROM docs0),
        |sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) s
        |  FROM toks WHERE len(t) >= 3),
        |dfc AS (SELECT s, count(*) c FROM sh0 GROUP BY s),
        |sh AS (SELECT doc_id, s FROM sh0 JOIN dfc USING (s)
        |       WHERE c <= 20),
        |drops AS (
        |  SELECT doc_id, count(*) dropped FROM sh0 JOIN dfc USING (s)
        |  WHERE c > 20 GROUP BY doc_id),
        |sizes0 AS (SELECT doc_id, count(*) n0 FROM sh0 GROUP BY doc_id),
        |sizes AS (
        |  SELECT doc_id, n0 - coalesce(dropped, 0) AS n
        |  FROM sizes0 LEFT JOIN drops USING (doc_id)),
        |inter AS (
        |  SELECT a.doc_id da, b.doc_id db, count(*) i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS contained, db AS container,
        |  (1000000 * i) // n AS containment_micro
        |FROM inter JOIN sizes sa ON sa.doc_id = da
        |WHERE n >= 5 AND i * 100 >= 90 * n
        |ORDER BY contained, container""".stripMargin,
    "d_span_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |      || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
        |      || ' ' || t[i+7] AS s
        |  FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
        |  WHERE len(t) >= 8),
        |dup AS (
        |  SELECT s FROM (
        |    SELECT s, count(DISTINCT doc_id) dc FROM g GROUP BY s)
        |  WHERE dc >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, p
        |  FROM g JOIN dup USING (s), unnest(range(g.i, g.i + 8)) AS c(p))
        |SELECT doc_id, count(*) AS n_dup_tokens
        |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d_span_strip" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') t FROM documents),
        |tok AS (
        |  SELECT doc_id, i AS p, t[i] AS w
        |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        |g AS (
        |  SELECT doc_id, i,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |      || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
        |      || ' ' || t[i+7] AS s
        |  FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
        |  WHERE len(t) >= 8),
        |dup AS (
        |  SELECT s FROM (
        |    SELECT s, count(DISTINCT doc_id) dc FROM g GROUP BY s)
        |  WHERE dc >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, p
        |  FROM g JOIN dup USING (s), unnest(range(g.i, g.i + 8)) AS c(p)),
        |kept AS (
        |  SELECT tok.doc_id, tok.p, tok.w FROM tok
        |  ANTI JOIN cov USING (doc_id, p))
        |SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS text_stripped
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d_embedding_dup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.embedding, b.embedding) > 0.47),
        |edges AS (
        |  SELECT ida AS s, idb AS t FROM pairs
        |  UNION ALL SELECT idb, ida FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM edges
        |  UNION
        |  SELECT e.t, reach.r FROM reach JOIN edges e ON reach.id = e.s)
        |SELECT id AS vec_id, min(r) AS cluster
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    "d_embedding_dup" ->
      """SELECT a.vec_id AS va, b.vec_id AS vb
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) > 0.47
        |ORDER BY va, vb""".stripMargin)
}
