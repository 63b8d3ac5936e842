package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate near-dup machinery: MinHash+LSH banding and SimHash — the
  * operators that replace the quadratic Jaccard join at 100 TB (north star;
  * no reference analog).
  *
  * Everything is deterministic: hash seeds are literals, no RNG state, so
  * task retries and the resume path see identical results. Approximate ⇒ no
  * SQL oracle; PipelineSpec asserts recall against the exact
  * [[Dedup.jaccardPairs]] ground truth.
  */
object Fingerprints {
  type Q = (SparkSession, String) => DataFrame

  val MinHashFunctions = 32 // k
  val Bands = 8             // b; rows per band r = k/b = 4
  val RowsPerBand: Int = MinHashFunctions / Bands

  /** Skew guard for every LSH band join: buckets larger than this switch
    * from all-pairs to a star join (see [[cappedPairs]]). 1000² /2 pairs
    * is the largest per-bucket fan-out we accept on an executor.
    */
  val DefaultBucketCap = 1000

  /** [[embeddingDupLsh]] design point for [[Similarity.lshPlan]]: the
    * fixture's true near-dups sit at cosine ≈ 0.47-0.51, target ~0.90
    * expected recall — at the fixture sizes this yields the historical
    * 4 bits × 12 tables.
    */
  val EmbDupCos = 0.47
  val EmbDupRecall = 0.90

  /** Vector-corpus row bound under which the exact-verify re-fetch
    * joins broadcast the (id, vector) frame instead of shuffling the
    * candidate-pair mass through two sort-merge joins: 500k × 64 dims
    * × 8 B ≈ 256 MB, the usual executor broadcast ceiling.
    *
    * PAST the dial the fetch is CANDIDATE-BOUNDED (r15 verdict #1),
    * never a join against the full payload table: the distinct ids any
    * candidate pair can touch are semi-joined (as a broadcast of bare
    * longs) against the vector table BEFORE the payload join, so the
    * payload mass that shuffles is bounded by the candidate-touched
    * set — for a streaming micro-batch, by the batch's bucket
    * visits — not by the index size. The id KEY set itself broadcasts
    * (8 B/row — 1.2M ids ≈ 10 MB); a corpus where even the touched-id
    * set outgrows an executor is the regime where the bucketed layout
    * ([[graft.sources.Bucketing]], vecs bucketed by vec_id) replaces
    * the in-memory prune — storage co-location, the same answer every
    * dimension-fetch takes at that scale.
    */
  val BroadcastFetchMaxRows = 500000L

  /** The dial, conf-overridable (`graft.broadcastFetchMaxRows`) so the
    * past-dial candidate-bounded path is exercisable — and its plan
    * shape auditable — at fixture scale (ExplainAudit forces 0; specs
    * assert past-dial output ≡ broadcast-path output).
    */
  def broadcastFetchMaxRows(s: SparkSession): Long =
    s.conf.getOption("graft.broadcastFetchMaxRows").map(_.toLong)
      .getOrElse(BroadcastFetchMaxRows)

  /** Candidate id-pairs from banded/bucketed rows, with a per-bucket skew
    * cap — the piece that keeps LSH linear when a bucket degenerates.
    *
    * A self-equi-join on bucket keys is quadratic in the bucket size: one
    * hot key (a boilerplate-heavy crawl slice, a run of near-identical
    * docs) turns a linear candidate step into an O(n²) straggler at
    * 100 TB. Buckets with ≤ `cap` members do the normal all-pairs join;
    * larger buckets emit only (representative = min id, member) pairs —
    * linear fan-out, and for the degenerate case that CAUSES oversized
    * buckets (near-identical members) the star still connects every member
    * to the representative, so downstream connected-components dedup sees
    * the whole cluster. Recall loss is confined to non-dup pairs that
    * share ONLY an oversized bucket and are each far from its
    * representative — measured in PipelineSpec's skew fixture.
    *
    * Output: (ida, idb) with ida < idb — distinct when `dedup` (the
    * default). A caller that VERIFIES candidates with a cheap exact
    * predicate before using them passes `dedup = false` and dedups the
    * (much smaller) survivor set instead: the pre-verify dropDuplicates
    * is a full shuffle of the raw candidate mass, the dominant cost at
    * 10× data, and a pair colliding in k tables merely verifies k times
    * (k is small — random pairs collide in ~1 table). The bucket-size
    * aggregation shuffles on the same keys as the join itself, so AQE
    * reuses the exchange rather than adding a full extra pass.
    */
  /** Optional `homeCol` (multi-probe LSH): when set, the frame carries
    * both HOME rows (a vector's true bucket) and PROBE rows (low-margin
    * bit-flip buckets it additionally visits), and a small-bucket pair
    * requires at least one side to be home — probe×probe pairs would be
    * candidates neither side actually indexes under, inflating the
    * candidate mass ~(1+L)²/(1+2L)× for no modeled recall. The star
    * tier ignores the flag: its (min-id representative, member) pairs
    * are linear in the bucket either way, and for the degenerate
    * near-identical buckets it exists for, connectivity matters more
    * than probe provenance. Bucket sizes count ALL rows (home + probe) —
    * probe fan-out is real join fan-out, so it must be what the cap
    * measures. All deterministic, replayed in the d_embedding_dup_mp
    * oracle.
    */
  def cappedPairs(banded: DataFrame, bucketCols: Seq[String], idCol: String,
      cap: Int = -1, dedup: Boolean = true,
      homeCol: Option[String] = None,
      retain: DataFrame => Unit = _ => ()): DataFrame = {
    // Config-exposed skew dial: explicit argument wins, then
    // `graft.lsh.bucketCap`, then [[DefaultBucketCap]] — the cap trades
    // recall (all-pairs inside a bucket) against the worst single-task
    // fan-out, exactly the kind of knob that gets tuned per corpus.
    val effCap =
      if (cap >= 0) cap
      else banded.sparkSession.conf.getOption("graft.lsh.bucketCap")
        .map(_.toInt).getOrElse(DefaultBucketCap)
    val keys = bucketCols.map(col)
    val sizes = banded.groupBy(keys: _*).agg(count(lit(1)).as("bn"))
    // PERSISTED seam (r16): the size-annotated frame feeds FOUR
    // consumers (both sides of the small-bucket self-join, the star
    // tier's rows, and its reps aggregation). The original comment here
    // assumed AQE would reuse the sizes exchange across consumers;
    // runtime profiling (OPTIMIZATION_r16.md) showed Spark 4.1 under AQE
    // does NOT reuse structurally-identical stages across self-join
    // sides, so each consumer re-evaluated `banded` and re-aggregated
    // the bucket sizes. Rows are id + bucket keys + one long — narrow
    // at any corpus size; lazy persist keeps lineage and evictability.
    // `retain` hands the cache to a caller that manages release
    // (EmbeddingDedupStream's per-micro-batch lifecycle); registered
    // single-query callers keep the no-op (harness owns release).
    val withN = banded.join(sizes, bucketCols).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    retain(withN)
    val small = withN.filter(col("bn") <= effCap).drop("bn")
    val joinCond0 = bucketCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
    val joinCond = homeCol match {
      case Some(h) => joinCond0 && (col(s"a.$h") || col(s"b.$h"))
      case None => joinCond0
    }
    val smallPairs = small.as("a").join(small.as("b"), joinCond)
      .select(col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"))
    val big = withN.filter(col("bn") > effCap)
    val reps = big.groupBy(keys: _*).agg(min(col(idCol)).as("rep"))
    val bigPairs = big.join(reps, bucketCols)
      .filter(col(idCol) =!= col("rep"))
      .select(col("rep").as("ida"), col(idCol).as("idb")) // rep=min ⇒ ida<idb
    val all = smallPairs.union(bigPairs)
    if (dedup) all.dropDuplicates("ida", "idb") else all
  }

  /** (doc_id, simhash) for every document — over trigram SHINGLES, not
    * single tokens: the fixture (and much crawl data) draws from a small
    * shared vocabulary, so token-level simhashes collapse together;
    * shingles are near-unique per doc and keep unrelated hamming ≈ 32.
    *
    * One `groupBy` on the native [[graft.functions.SimHashSketch]]
    * TypedImperativeAggregate — ObjectHashAggregate with map-side partial
    * aggregation and a mutable 64-counter buffer; the previous
    * `groupByKey + Aggregator` route deserialized every row through a
    * Dataset encoder.
    */
  def simhashes(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs)
      .select(col("doc_id"),
        explode(Dedup.shingleHashes(col("text"))).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.SketchAggregates.simhash_sketch(col("h"))
        .as("simhash"))

  /** (doc_id, sig: array<long>) MinHash signatures — single pass: one
    * base hash per (doc, distinct shingle), k per-function variants
    * derived INSIDE the aggregation buffer (no k-way row explosion; an
    * explode(seeds) formulation materialized 19 M rows at sf0.1).
    * Native [[graft.functions.MinHashSketch]] aggregate, same plan
    * shape as [[simhashes]].
    *
    * ENGINE-PORTABLE since round 16 (graduating d_minhash_lsh to a
    * full oracle — r15 verdict #6): the base hash is the md5-60-bit
    * BIGINT the green d_simhash_portable twin already replays, and the
    * buffer's k variants are the Carter–Wegman affine family
    * `(a_j·h + b_j) mod (2^61−1)` — modular arithmetic DuckDB computes
    * exactly in HUGEINT. What did NOT change is the tier's identity
    * vs d_minhash_portable: ONE aggregation pass with a mutable
    * k-slot buffer and map-side partials — no per-function row
    * explosion, no distinct-shingle join, no 16-md5s-per-shingle.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs)
      .select(col("doc_id"),
        explode(transform(Dedup.shingles(col("text")), s =>
          conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.SketchAggregates
        .minhash_sketch(col("h"), MinHashFunctions).as("sig"))

  /** LSH banding: equal band slice ⇒ candidate pair. Estimated similarity =
    * fraction of matching signature positions; keep pairs ≥ threshold.
    *
    * The band join carries ID PAIRS ONLY (the sf0.1-measured rule: 256-byte
    * signatures through a fan-out join cost seconds; ids cost nothing) and
    * goes through [[cappedPairs]] so a degenerate band bucket can't go
    * quadratic. Signatures are re-fetched with two narrow joins for the
    * estimate step.
    */
  def minhashCandidates(signatures: DataFrame, threshold: Double,
      cap: Int = -1): DataFrame = {
    // persisted (r16): the signature frame feeds the banding AND both
    // estimate re-fetch joins, and AQE does not collapse the duplicate
    // subtrees (OPTIMIZATION_r16.md) — without the cache the full corpus
    // md5+sketch aggregation pass ran once per consumer. One 128-byte
    // array per doc; lazy, harness/caller owns release.
    val sigsP = signatures.persist()
    // the band KEY is the raw signature slice (array<long> equality —
    // joins and shuffles hash arrays natively), not a hash of it: one
    // less seed-dependent step, and the oracle replays the slice as
    // `list(m ORDER BY j)` verbatim
    val banded = sigsP.select(col("doc_id"),
      explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"),
          slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)
            .as("bkey"))): _*)).as("bb"))
      .select(col("doc_id"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    cappedPairs(banded, Seq("band", "bkey"), "doc_id", cap)
      .join(sigsP.select(col("doc_id").as("da"), col("sig").as("siga")),
        col("ida") === col("da"))
      .join(sigsP.select(col("doc_id").as("db"), col("sig").as("sigb")),
        col("idb") === col("db"))
      .select(col("da"), col("db"),
        (aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x)
          .cast("double") / MinHashFunctions).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every token `k`-gram, slide a
    * window of `w` consecutive hashes, and in each full window select the
    * RIGHTMOST minimal hash. The guarantees that make this the standard
    * local fingerprinting scheme: any shared substring of ≥ w+k−1 tokens
    * contributes at least one IDENTICAL selected fingerprint in both docs
    * (detection), and the expected density is 2/(w+1) — a fixed-rate
    * sample of the corpus that is position-robust, unlike a fixed-stride
    * pick.
    *
    * Engine-portable by construction: the gram hash is `md5` (present in
    * both engines) compared as its fixed-width hex string — lexicographic
    * order on 32 lowercase hex chars IS numeric order on the 128-bit
    * value, the p_temperature_sample discipline. The rightmost-minimum
    * pick is an ORDER-INDEPENDENT fold over the window's (hash, pos)
    * structs (smaller hash wins, equal hash → larger pos), so no
    * assumption about collect_list frame order ever enters; the oracle
    * reproduces the same pick as a band-join + argmax, and the hash
    * compare is exact.
    *
    * Shape at scale: one hash exchange on doc_id for the per-doc window
    * (the only shuffle), a w-element array per row during selection,
    * DISTINCT on the (doc, pos)-keyed selection output — ~2n/(w+1) rows,
    * never the gram stream. Docs with fewer than k+w−1 tokens have no
    * full window and are absent (standard winnowing domain).
    */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= k)
    val grams = base
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("t")) - k)).as("pos"), col("t"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", (0 until k).map(j =>
          element_at(col("t"), col("pos") + j + 1)): _*)).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), 0)
    // zero element "g" sorts above every hex hash (hex alphabet ends 'f')
    val zero = struct(lit("g").as("h"), lit(-1).as("pos"))
    grams
      .withColumn("lst", collect_list(struct(col("h"), col("pos"))).over(win))
      .filter(col("pos") >= w - 1) // positions are contiguous ⇒ full window
      .withColumn("best", aggregate(col("lst"), zero, (acc, x) =>
        when(x.getField("h") < acc.getField("h") ||
          (x.getField("h") === acc.getField("h") &&
            x.getField("pos") > acc.getField("pos")), x).otherwise(acc)))
      .select(col("doc_id"), col("best").getField("pos").as("pos"),
        col("best").getField("h").as("fp"))
      .distinct()
  }

  /** ENGINE-PORTABLE MinHash-LSH near-dup pairs — the EXACT-VERIFIED
    * member of the MinHash family. Since round 16 BOTH tiers are
    * oracle-backed (the fast [[minhashSignatures]] tier graduated via
    * the affine-mod-Mersenne family); the split that remains is
    * shape + contract: the fast tier is one buffer-aggregate pass
    * emitting ESTIMATES, this tier explodes 16 hash rows per distinct
    * shingle and VERIFIES every candidate against exact Jaccard, so
    * its emitted pairs are true ≥-threshold pairs: 16 hash functions are
    * 12-hex-char md5 prefixes under integer seeds, kept AS STRINGS so
    * "min" is lexicographic on lowercase hex — identical in any engine
    * with no hex→int conversion anywhere; signatures band 4×4; band
    * equality (a plain equi-join on the 4-value band vector) yields
    * candidates; every candidate is VERIFIED against the exact shingle
    * Jaccard, so the emitted pairs are true ≥-threshold pairs and the
    * whole result hash-matches a SQL replay. Scale shape: per-shingle
    * hashes ride the dedupe-then-weight rule (16 md5s per DISTINCT
    * shingle, not per occurrence), signatures are one (doc, j) min
    * aggregation, the band join is the standard LSH bucket equi-join,
    * and verification touches candidate pairs only.
    *
    * The shingle stream is PERSISTED once (lazy `persist()`, the
    * diamond-reuse rule): four consumers read it (hash derivation,
    * signature join, both sides of the intersection count) and without
    * the cache the diamond re-ran the scan+explode per consumer
    * (measured 4.3 → 3.5 s at sf0.1). persist, not localCheckpoint:
    * the cache is columnar-compressed MEMORY_AND_DISK, blocks are
    * evictable under pressure, and LINEAGE IS KEPT — a lost executor
    * recomputes its partitions instead of failing the job, which is
    * what a corpus-scale frame needs at 100 TB (checkpointing's
    * truncated lineage is reserved for the iterative trainers, whose
    * per-round state is vocabulary-bounded). persist is also lazy, so
    * building this frame launches no job — the builder contract every
    * registry consumer (bench plan-hash, audits, conditional
    * registration) relies on.
    */
  def minhashPortablePairs(docs: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val sh = graft.Tables.spread(docs)
      .select(col("doc_id"),
        explode(graft.pipeline.Dedup.shingles(col("text"))).as("s"))
      .persist()
    // 16 hash functions as 16 WIDE columns, not 16 exploded rows (r17,
    // guide §2.3): the previous shape joined the shingle stream against
    // a 16-rows-per-shingle hash frame and shuffled |occurrences|·16
    // (j, h) rows into a (doc_id, j) min aggregation — profiled as the
    // query's hottest pair of jobs (~26 executor task-seconds, 24 MB
    // shuffled at sf0.1). With one row per distinct shingle carrying
    // h0..h15, the signature is 16 map-side-combined min() columns over
    // the same join — identical minima (same values, same lexicographic
    // min), 16× fewer aggregation rows, and the per-doc shuffle is one
    // 16-column row.
    val hs = sh.select("s").distinct()
      .select(col("s") +: (0 until 16).map(j =>
        substring(md5(concat(lit(s"$j:"), col("s"))), 1, 12)
          .as(s"h$j")): _*)
    val mins = (0 until 16).map(j => min(col(s"h$j")).as(s"m$j"))
    val sigs = sh.join(hs, "s")
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
    // the band frame feeds BOTH sides of the candidate self-join, and
    // runtime profiling (r16) showed the whole shingle→16-md5→min-agg
    // signature pipeline executing twice — AQE's stage reuse did not
    // collapse the two structurally-identical subtrees. Persist per the
    // diamond rule: 4 narrow rows/doc (band key + 4 hex12 strings),
    // bounded at any corpus size; lazy, caller/harness owns release.
    // Band vectors are built in ascending-j order — exactly what the
    // previous sort_array(collect_list(struct(j, m))) produced, so the
    // band-equality join sees identical keys.
    val bands = sigs.select(col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b.toLong).as("band"),
            array((0 until 4).map(k =>
              struct(lit(4 * b + k).as("j"),
                col(s"m${4 * b + k}").as("m"))): _*).as("sig"))): _*))
          .as("x"))
      .select(col("doc_id"), col("x.band").as("band"),
        col("x.sig").as("sig"))
      .persist()
    val cands = bands
      .select(col("doc_id").as("da"), col("band"), col("sig"))
      .join(bands.select(col("doc_id").as("db"), col("band"),
        col("sig")), Seq("band", "sig"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    val inter = cands
      .join(sh.select(col("doc_id").as("da"), col("s")), "da")
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** ENGINE-PORTABLE SimHash near-dup pairs — the oracle-backed member
    * of the SimHash family, completing the portable-twin split
    * (`d_minhash_portable` / `t_cms_portable` precedent: the fast
    * [[simhashes]] tier keeps its xxhash64-fed native aggregate and
    * recall spec; THIS tier trades hash throughput for cross-engine
    * determinism). Each DISTINCT shingle contributes a 60-bit value —
    * its md5's first 15 hex nibbles as one BIGINT — and a doc's
    * fingerprint bit b is 1 iff Σ±1 votes over its shingles at bit b
    * are positive (ties → 0): all INTEGER arithmetic, so any engine
    * reproduces the fingerprint bit-for-bit. 60 bits band 4×15
    * (pigeonhole: hamming ≤ 3 cannot touch all four bands, so band
    * equality is COMPLETE for the radius — the Manku WWW'07 design on
    * a 32k-value band keyspace); candidates verify on exact
    * `bit_count(xor)`.
    *
    * Scale shape: hashing rides the dedupe-then-weight rule (one md5
    * per DISTINCT shingle), the 60 vote counters are ONE
    * map-side-combined aggregate (declarative twin of the
    * SimHashSketch buffer — no explode-by-bit), the band join is the
    * standard LSH bucket equi-join carrying id pairs only, and the
    * verify re-fetches two BIGINT fingerprints per candidate. The
    * production-skew bucket cap stays on the fast tier; this tier's
    * contract is cross-engine replayability, and its plain band join
    * is what the oracle mirrors.
    */
  /** (doc_id, fp) 60-bit portable fingerprints — the state
    * [[simhashPortablePairs]] bands; public so the completeness spec
    * can brute-force the hamming ground truth over it.
    */
  def simhashPortableFingerprints(docs: DataFrame): DataFrame = {
    val bits = 60
    // sh deliberately NOT persisted (r17): the duplicate scan+explode
    // across its two consumers costs ~8 executor task-seconds at sf0.1,
    // but caching the widest frame here (doc_id + shingle strings)
    // serializes a third cache build under the f/banded persists and
    // measured WORSE on wall in paired A-B-A bench runs (6.4 vs 6.8-7.5
    // normalized for the d_simhash_portable + a_simhash_cap_drift
    // pair) — the diamond rule pays only when the duplicated subtree is
    // CPU-dense relative to the cached bytes.
    val sh = graft.Tables.spread(docs)
      .select(col("doc_id"),
        explode(graft.pipeline.Dedup.shingles(col("text"))).as("s"))
    val hs = sh.select("s").distinct()
      .select(col("s"),
        conv(substring(md5(col("s")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val counters = (0 until bits).map(b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1)
        .as(s"c$b"))
    val sigs = sh.join(hs, "s").groupBy("doc_id")
      .agg(counters.head, counters.tail: _*)
    val fp = (0 until bits).map(b =>
      when(col(s"c$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sigs.select(col("doc_id"), fp.as("fp"))
  }

  /** The 4×15-bit band blocking of [[simhashPortableFingerprints]]. */
  private def simhashBands(f: DataFrame): DataFrame =
    f.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("fp"), b * 15)
          .bitwiseAND(lit(0x7FFFL)).as("bkey"))): _*)).as("bb"))
      .select(col("doc_id"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  /** Hamming verify of candidate id pairs against the fingerprints. */
  private def simhashVerify(cands: DataFrame, f: DataFrame,
      maxHamming: Int): DataFrame =
    cands
      .join(f.select(col("doc_id").as("da"), col("fp").as("fa")), "da")
      .join(f.select(col("doc_id").as("db"), col("fp").as("fb")), "db")
      .select(col("da"), col("db"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Candidates go through [[cappedPairs]] — the 15-bit band keyspace
    * is only 32k values, so at ~10⁹ docs every bucket holds ~30k
    * members and an uncapped per-bucket self-join is quadratic pair
    * mass exactly where the skew guard exists to prevent it. The cap is
    * REPLAYED by the oracle (bucket counts + small all-pairs + big
    * star are all deterministic SQL), so capping costs no oracle
    * coverage; its recall cost is MEASURED, not asserted, by
    * [[simhashCapDrift]] / `a_simhash_cap_drift`.
    */
  def simhashPortablePairs(docs: DataFrame,
      maxHamming: Int = 3, cap: Int = -1): DataFrame = {
    // persist the (doc_id, fp) frame — 16 bytes/doc at ANY corpus
    // size — so the bands + two verify joins read the cache instead of
    // re-running the shingle/counter pass per consumer (2.9 → 1.8 s
    // at sf0.1). Lazy persist keeps lineage (executor loss recomputes)
    // and launches no build-time job — see minhashPortablePairs.
    val f = simhashPortableFingerprints(docs).persist()
    val cands = cappedPairs(simhashBands(f), Seq("band", "bkey"),
        "doc_id", cap)
      .select(col("ida").as("da"), col("idb").as("db"))
    simhashVerify(cands, f, maxHamming)
  }

  /** Drift audit for the SimHash band cap (the `a_capped_pair_drift`
    * mold): every ≤-maxHamming pair the UNCAPPED band enumeration finds
    * that the capped tier loses, at a deliberately tiny audit cap so
    * the star path is exercised at fixture scale. Capped candidates are
    * a subset of uncapped ones (small buckets are identical; star pairs
    * share a bucket), so drift is one anti-join — "gained" pairs cannot
    * exist. Fingerprints are computed once and shared by both tiers.
    */
  def simhashCapDrift(docs: DataFrame, cap: Int,
      maxHamming: Int = 3): DataFrame = {
    // same 16-byte/doc persist as simhashPortablePairs — here the
    // diamond is even wider (two candidate tiers + verify; 4.7 → 2.1 s)
    val f = simhashPortableFingerprints(docs).persist()
    // banded persisted too (r16): FOUR consumers (uncapped self-join
    // ×2, cappedPairs' size agg + join) each re-ran the band explode
    // over the fingerprint cache — AQE does not collapse the duplicate
    // subtrees (OPTIMIZATION_r16.md); 4 narrow rows/doc
    val banded = simhashBands(f).persist()
    val uncapped = banded.select(col("doc_id").as("da"),
        col("band"), col("bkey"))
      .join(banded.select(col("doc_id").as("db"), col("band"),
        col("bkey")), Seq("band", "bkey"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    val capped = cappedPairs(banded, Seq("band", "bkey"), "doc_id", cap)
      .select(col("ida").as("da"), col("idb").as("db"))
    simhashVerify(uncapped.join(capped, Seq("da", "db"), "left_anti"),
      f, maxHamming)
  }

  val queries: Map[String, Q] = Map(
    // the oracle-backed SimHash tier — candidates through cappedPairs
    // (the 32k band keyspace would go quadratic uncapped at ~10⁹ docs),
    // with the cap REPLAYED by the oracle. The cap is pinned to the
    // DefaultBucketCap LITERAL here, not the graft.lsh.bucketCap conf
    // the library call resolves: the oracle SQL interpolates the same
    // constant, and a session conf silently desynchronizing the two
    // would turn a tuning knob into a spurious red row (library users
    // tune via simhashPortablePairs(docs, cap = …) directly)
    "d_simhash_portable" -> { (s, d) =>
      simhashPortablePairs(Tables.documents(s, d),
        cap = DefaultBucketCap).orderBy("da", "db")
    },
    // the band cap's recall cost at a tiny audit cap — drift is LOST
    // pairs only (capped candidates are a subset of uncapped ones)
    "a_simhash_cap_drift" -> { (s, d) =>
      simhashCapDrift(Tables.documents(s, d), 2).orderBy("da", "db")
    },
    // Winnowing document-fingerprint index: the local-fingerprinting
    // counterpart to the global [[RollingHash]] content fingerprint —
    // full oracle (md5 grams, band-join argmax twin).
    "d_winnow_fingerprint" -> { (s, d) =>
      winnow(Tables.documents(s, d)).orderBy("doc_id", "pos")
    },
    // the oracle-backed MinHash tier (see minhashPortablePairs)
    "d_minhash_portable" -> { (s, d) =>
      minhashPortablePairs(Tables.documents(s, d), 0.8)
        .orderBy("da", "db")
    },
    // MinHash-LSH near-dup candidates (est. Jaccard ≥ 0.5). FULL
    // oracle since round 16 ([[minhashLshOracle]]): the portable base
    // hash + affine variant family replay integer-exactly in DuckDB,
    // while the tier keeps its identity — ONE buffer-aggregate pass,
    // no per-function row explosion (d_minhash_portable's contrast).
    // Recall vs exact Jaccard stays spec-pinned in PipelineSpec.
    "d_minhash_lsh" -> { (s, d) =>
      minhashCandidates(minhashSignatures(Tables.documents(s, d)), 0.5)
        .select(col("da"), col("db"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
        .orderBy("da", "db")
    },
    // SimHash near-dup pairs: 4×16-bit band blocking (pigeonhole: hamming
    // ≤ 3 ⇒ ≥1 identical band), popcount(xor) ≤ 3 verify — the Manku
    // (WWW'07) radius-3 design, same as the m_phash_pairs operator. The
    // earlier 8×8-bit/radius-7 variant was complete for looser matches
    // but its 256-value band keyspace SATURATES: bucket size grows as
    // n/256, so the per-bucket all-pairs step grows quadratically with
    // the corpus (the sf1 smoke measured 16× at 10× data — ~39M
    // candidate pairs from band collisions alone). A 65536-value
    // keyspace keeps buckets O(1) in corpus growth; radius-3 is the
    // standard near-dup operating point for 64-bit fingerprints.
    // Oracle coverage for the family lives in the GREEN sibling
    // d_simhash_portable; this tier stays for its xxhash64-fed native
    // aggregate throughput (rows-only, spec-pinned completeness).
    "d_simhash" -> { (s, d) =>
      val sh = simhashes(Tables.documents(s, d))
      val banded = sh.select(col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("simhash"), b * 16)
              .bitwiseAND(lit(0xFFFFL)).as("bkey"))): _*)).as("bb"))
        .select(col("doc_id"),
          col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      cappedPairs(banded, Seq("band", "bkey"), "doc_id")
        .join(sh.select(col("doc_id").as("da"), col("simhash").as("ha")),
          col("ida") === col("da"))
        .join(sh.select(col("doc_id").as("db"), col("simhash").as("hb")),
          col("idb") === col("db"))
        .select(col("da"), col("db"),
          bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("da", "db")
    })

  /** Embedding near-dup via hyperplane-LSH bucketing — the 100 TB path
    * replacing the O(n²) [[Dedup]] "d_embedding_dup": candidates from
    * (table, bucket) equi-joins, exact dot verify. Added to the map below.
    *
    * Signature width/table count come from [[Similarity.lshPlan]] at the
    * 0.47-cosine / 0.90-recall design point (the fixture's near-dups sit
    * at cosine ≈ 0.47-0.51): at the fixture sizes that is the historical
    * 4 bits × 12 tables (~0.19 per-table collision, ~0.92 expected
    * recall); at 10× vectors the width grows to 8 bits so buckets hold
    * O(targetOccupancy) members instead of saturating the `cappedPairs`
    * star tier. `widthOverride` lets SimilaritySpec pin recall at a
    * FORCED width (with the uncapped [[Similarity.lshTables]] count) so
    * adaptivity cannot silently trade recall. The sizing count reads
    * parquet footer metadata, not data.
    */
  def embeddingDupLsh(s: org.apache.spark.sql.SparkSession, d: String,
      widthOverride: Option[(Int, Int)] = None,
      probeOverride: Option[Int] = None,
      screenSigmas: Option[Double] = None): DataFrame = {
    val n = Tables.embeddings(s, d).count()
    val auto = Similarity.lshParams(n, EmbDupCos, EmbDupRecall)
    val (bits, tables) = widthOverride.getOrElse((auto.bits, auto.tables))
    // a forced width defaults to probe-0 (the width-recall specs pin
    // table compensation in isolation); the adaptive path takes the
    // plan's probe depth — 0 at every fixture size, >0 once maxTables
    // caps the uncapped count (sf1's 4, sf10's 8)
    val probes = probeOverride.getOrElse(
      if (widthOverride.isDefined) 0 else auto.probes)
    val step = probes + 1
    // persisted: the normalized-vector frame feeds the signature
    // explode AND both verify re-fetch joins (input-table-sized; lazy
    // persist keeps lineage + evictability — see minhashPortablePairs;
    // 4.0 → 3.5 s at sf0.1)
    val e = Tables.spread(Tables.embeddings(s, d))
      .select(col("vec_id"),
        VectorOps.normalized(VectorOps.asDouble(col("embedding"))).as("v"))
      .persist()
    // all per-table signatures — home + multi-probe bit-flip variants —
    // in ONE native expression (HyperplaneProbeSigs; the composed
    // per-table column form fell out of codegen at adaptive widths:
    // 11 s to sign 20k×16 rows at sf1), persisted as a bare (id, t,
    // sig, home) frame because cappedPairs consumes its input from
    // multiple branches (sizes + both join sides) — the diamond rule;
    // 3 ints + a bool × n·tables·(1+probes) rows, the cheapest frame
    // in the query. Layout: pos DIV (1+probes) is the table, pos ≡ 0
    // (mod 1+probes) marks the home row; probes = 0 reduces to the
    // round-14 (id, t, sig) frame exactly.
    val sigs = e.select(col("vec_id"),
      posexplode(graft.functions.HyperplaneSigs.hyperplane_probe_sigs(
        col("v"), tables, bits, 64, probes)).as(Seq("pos", "sig")))
      .select(col("vec_id"),
        expr(s"pos DIV $step").cast("int").as("t"),
        col("sig"),
        (pmod(col("pos"), lit(step)) === 0).as("home"))
      .persist()
    // candidates carry ID PAIRS ONLY through the bucket join (shuffling
    // 64-double vectors per candidate cost 23 s at sf0.1); vectors are
    // re-fetched for the exact verify. cappedPairs guards against a
    // degenerate (table, sig) bucket; its homeCol rule keeps probe rows
    // from pairing with each other. dedup = false: the exact-dot
    // verify runs BEFORE the pair dedup, so the full-candidate-mass
    // dropDuplicates shuffle (the sf1 bottleneck) collapses to a
    // dedup of the tiny survivor set — same output set, a pair
    // colliding in k tables just verifies k times.
    val candidates = cappedPairs(sigs, Seq("t", "sig"), "vec_id",
      dedup = false, homeCol = Some("home"))
      .select(col("ida").as("va"), col("idb").as("vb"))
    // the verify re-fetch: broadcast while the vector corpus fits an
    // executor (n·dims·8B — 10 MB at 20k×64; the id-pair mass is 100×
    // the corpus here, so shuffling the SMALL side is backwards).
    // PAST the dial the fetch is candidate-bounded (see
    // [[BroadcastFetchMaxRows]]): only ids that can appear in a
    // candidate pair — members of (t, sig) buckets holding ≥ 2 rows —
    // are semi-pruned into the payload join, so the payload shuffle is
    // bounded by the candidate-touched set, never the full corpus. The
    // touched-id set derives from the PERSISTED sigs frame (two
    // id-only aggregations over cache), not from the candidate pair
    // mass, so the pair join never runs twice.
    val dial = broadcastFetchMaxRows(s)
    lazy val touched = {
      val busy = sigs.groupBy("t", "sig").agg(count(lit(1)).as("bn"))
        .filter(col("bn") >= 2).select("t", "sig")
      sigs.join(busy, Seq("t", "sig")).select("vec_id").distinct()
    }
    // past-dial fetch sides are HINTED shuffle_hash: a sort-merge join
    // would SORT the candidate stream (and, on the second fetch, its
    // attached first-side payloads) — the disk-filling spill the 1.2M
    // streaming tier measured; a shuffled hash join builds from the
    // candidate-bounded fetch side and streams the candidates sort-free
    def fetch(as: String): DataFrame = {
      val sel = e.select(col("vec_id").as(as), col("v").as(s"x$as"))
      if (n <= dial) broadcast(sel)
      else sel.join(
        broadcast(touched.select(col("vec_id").as(as))), Seq(as),
        "left_semi").hint("shuffle_hash")
    }
    // the sketch screen (optional): candidates first fetch the packed
    // HOME signature arrays (tables × 4 B vs dims × 8 B per side) and
    // pairs whose stored-bit Hamming distance exceeds the calibrated
    // budget never reach the vector fetch — see
    // [[Similarity.screenMaxHamming]] for the calculus and
    // [[graft.functions.SigHamming]] for the native distance. Screen
    // bits are the home signatures regardless of probe depth (probing
    // widens the CANDIDATE set; the stored estimator is unchanged).
    val screened = screenSigmas match {
      case None => candidates
      case Some(sig) =>
        val maxHam = Similarity.screenMaxHamming(EmbDupCos, tables, bits,
          sig)
        // the packed-signature frame is computed ONCE and persisted
        // (the diamond rule): both join sides read the cache instead of
        // each re-running the full tables×bits×dims dot pass over e —
        // and past the broadcast dial one shared frame also shuffles
        // once per side instead of being recomputed per side (r15
        // ADVICE). Lazy persist: lineage kept, no build-time job.
        val hs = e.select(col("vec_id"),
          graft.functions.HyperplaneSigs.hyperplane_sigs(col("v"),
            tables, bits, 64).as("hs")).persist()
        def fetchSig(as: String): DataFrame = {
          val sel = hs.select(col("vec_id").as(as), col("hs").as(s"hs$as"))
          if (n <= dial) broadcast(sel)
          else sel.join(
            broadcast(touched.select(col("vec_id").as(as))), Seq(as),
            "left_semi").hint("shuffle_hash")
        }
        candidates
          .join(fetchSig("va"), "va")
          .join(fetchSig("vb"), "vb")
          // screen_pass (null distance ⇒ fall through to the exact
          // verify), never a bare <= filter — SigHamming's contract
          .filter(graft.functions.SigHamming.screen_pass(col("hsva"),
            col("hsvb"), maxHam))
          .select(col("va"), col("vb"))
    }
    screened
      .join(fetch("va"), "va")
      .join(fetch("vb"), "vb")
      .filter(graft.functions.ArrayDot.array_dot(col("xva"), col("xvb"))
        > 0.47)
      .select(col("va"), col("vb"))
      // collapses cross-table candidate duplicates (dedup = false
      // above) and any fan-out from a non-unique vec_id in the source
      .dropDuplicates("va", "vb")
      .orderBy("va", "vb")
  }

  /** d_embedding_dup_mp's FORCED plan: a deliberately narrow
    * (6 bits × 4 tables) shape whose home-only recall is ~28% by the
    * collision model, probed at depth 2 — the multi-probe machinery
    * (probe rows, the home-or-home pair rule, the probe replay in
    * DuckDB) exercised AND oracle-checked at fixture scale, where the
    * adaptive production plan's probe depth is 0 by construction
    * (probes only engage once maxTables caps the uncapped count,
    * n ≳ 100k at the dedup design point).
    */
  val MpBits = 6
  val MpTables = 4
  val MpProbes = 2

  /** d_embedding_dup_screened's screen margin: 2.5σ above the
    * design-point mean Hamming distance ([[Similarity.screenMaxHamming]]
    * — ≈0.6% boundary recall tax for a candidate-mass cut that grows
    * with signature width; ~17× at the sf10 plan, deliberately weak at
    * the 48-bit fixture plan where the verify is cheap anyway).
    */
  val ScreenSigmas = 2.5

  /** a_screen_drift's FORCED austerity margin: 2.5σ BELOW the
    * design-point mean, so the screen visibly drops true pairs at
    * fixture scale and the audit is non-vacuous — the
    * a_simhash_cap_drift move (that audit forces cap = 2 for the same
    * reason). The production margin's drift at the sf10 plan is
    * measured in `EMB_RECALL_r15.json` (155 of 361,454 pairs at 2.5σ).
    */
  val ScreenDriftSigmas = -2.5

  val allQueries: Map[String, Q] = queries ++ Map[String, Q](
    "d_embedding_dup_lsh" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        embeddingDupLsh(s, d)),
    "d_embedding_dup_mp" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        embeddingDupLsh(s, d, widthOverride = Some((MpBits, MpTables)),
          probeOverride = Some(MpProbes))),
    "d_embedding_dup_screened" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        embeddingDupLsh(s, d, screenSigmas = Some(ScreenSigmas))),
    "a_emb_dup_recall" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        embDupRecall(s, d)),
    "a_screen_drift" ->
      ((s: org.apache.spark.sql.SparkSession, d: String) =>
        screenDrift(s, d)))

  /** Embedding-dedup recall AUDIT (the a_ann_recall move for the dedup
    * tier): exact-tier pair count, production-LSH pair count, and their
    * overlap as ONE oracle-checkable row — the r14 verdict asked for
    * recall "measured in the artifacts (pairs found vs exact tier, not
    * prose)". Rides the quadratic exact tier, so it inherits that
    * tier's ScaleSmoke exclusion (run one-off at sf1 for the round
    * artifact; at sf10 the exact tier is infeasible by design and the
    * probe ablation stands in).
    */
  def embDupRecall(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    // both pair sets feed a count AND the overlap join — diamonds;
    // caller/harness releases (the registered-query persist convention)
    val exact = Dedup.queries("d_embedding_dup")(s, d)
      .select("va", "vb").persist()
    val lsh = embeddingDupLsh(s, d).select("va", "vb").persist()
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(exact.join(lsh, Seq("va", "vb"))
        .agg(count(lit(1)).as("n_common")))
  }

  /** Screen drift AUDIT (a_screen_drift): what the sketch screen loses,
    * as oracle-checkable rows — the [[Agreement.pairDrift]] convention
    * ((ids, metric, side)) applied to the screened embedding tier at
    * the FORCED [[ScreenDriftSigmas]] austerity margin, since the
    * production margin drops nothing at the 48-bit fixture plan
    * (measured: screened ≡ unscreened) and a vacuous audit pins
    * nothing. Each lost pair carries its exact cosine, so the rows
    * SHOW the loss is boundary-similarity mass, not random. "gained"
    * rows are impossible by construction (the screen only filters the
    * same candidate set) — the audit emitting one would expose a
    * wiring bug, which is why the direction is kept.
    *
    * Deliberately rides the tier's lineage twice (the
    * a_capped_pair_drift discipline: the audit cost IS the product).
    */
  def screenDrift(s: SparkSession, d: String): DataFrame = {
    val un = embeddingDupLsh(s, d).persist()
    val scr = embeddingDupLsh(s, d,
      screenSigmas = Some(ScreenDriftSigmas)).persist()
    val n = Tables.embeddings(s, d).count()
    val e = Tables.spread(Tables.embeddings(s, d))
      .select(col("vec_id"),
        VectorOps.normalized(VectorOps.asDouble(col("embedding"))).as("v"))
      .persist()
    def fetch(as: String): DataFrame = {
      val sel = e.select(col("vec_id").as(as), col("v").as(s"x$as"))
      if (n <= BroadcastFetchMaxRows) broadcast(sel) else sel
    }
    def minus(a: DataFrame, b: DataFrame, tag: String): DataFrame =
      a.join(b, Seq("va", "vb"), "left_anti")
        .join(fetch("va"), "va")
        .join(fetch("vb"), "vb")
        .select(col("va"), col("vb"),
          round(graft.functions.ArrayDot.array_dot(col("xva"),
            col("xvb")), 4).as("cos_sim"), lit(tag).as("side"))
    minus(un, scr, "lost").union(minus(scr, un, "gained"))
      .orderBy("va", "vb", "side")
  }

  /** DuckDB twin of the FULL embedding-LSH dedup tier — graduated from
    * rows-only in round 14. Why this is replayable: the hyperplanes
    * are deterministic plan literals (a_ann_recall's twin replays the
    * family), the normalize CTE is the s_ann_ivf oracle's — whose
    * green argmax over dots of normalized vectors proves the
    * normalized arrays and their left-to-right dots are BIT-identical
    * across engines — and the [[cappedPairs]] step is the
    * deterministic SQL the d_simhash_portable twin already replays
    * (bucket counts, all-pairs ≤ cap, min-id star above). Width/tables
    * are [[Similarity.lshPlan]] at the oracle contract's 500-vector
    * corpus (4 bits × 12 tables), like the s_ann_lsh twin.
    */
  /** The SQL corpus-size guard (r14 ADVICE): this file's static LSH
    * oracles replay [[Similarity.lshPlan]] evaluated at the 500-vector
    * oracle contract, which coincides with the live engine plan for
    * every n ≤ 2048 (the 4-bit, probe-0 regime — width clamps to
    * minBits and the uncapped table count fits maxTables). Pointing
    * Verify at a bigger corpus would silently replay the WRONG plan
    * and surface as a baffling hash mismatch; this guard turns that
    * into an explicit, named failure instead (CASE short-circuits, so
    * error() only fires outside the regime).
    */
  private val RegimeGuard: String =
    "CASE WHEN (SELECT count(*) FROM embeddings) <= 2048 THEN TRUE " +
      "ELSE error('lshPlan regime mismatch: static oracle SQL assumes " +
      "n <= 2048 (4-bit, probe-0 plan); regenerate for this corpus') END"

  /** Shared CTE block of the embedding-LSH dedup twins: normalize →
    * signatures → capped candidate pairs → exact-dot verify, emitting
    * `e(vec_id, v)` and `vpairs(va, vb)`. ONE definition behind the
    * d_embedding_dup_lsh oracle and [[embDupRecallOracle]] so the audit
    * can never disagree with the tier it measures (the annLshCtes
    * pattern).
    */
  private def embDupLshCtes: String = {
    val (bits, tables) =
      Similarity.lshPlan(500, EmbDupCos, EmbDupRecall)
    val dims = 64
    val sigSelects = (0 until tables).map { t =>
      val bitTerms = (0 until bits).map { b =>
        s"${1 << b}*(CASE WHEN list_dot_product(v, " +
          s"${Similarity.planeSqlLit(t, b, dims)}) > 0 THEN 1 ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT vec_id, $t AS t, $bitTerms AS sig FROM e"
    }.mkString("\n  UNION ALL\n")
    s"""e AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> x /
       |      sqrt(list_dot_product(embedding::DOUBLE[],
       |                            embedding::DOUBLE[]))) AS v
       |  FROM embeddings),
       |sigs AS (
       |$sigSelects),
       |bsz AS (SELECT t, sig, count(*) AS bn FROM sigs GROUP BY 1, 2),
       |bsm AS (SELECT vec_id, t, sig FROM sigs JOIN bsz USING (t, sig)
       |  WHERE bn <= $DefaultBucketCap),
       |bbg AS (SELECT vec_id, t, sig FROM sigs JOIN bsz USING (t, sig)
       |  WHERE bn > $DefaultBucketCap),
       |reps AS (SELECT t, sig, min(vec_id) AS rep FROM bbg
       |  GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT va, vb FROM (
       |    SELECT a.vec_id AS va, b.vec_id AS vb
       |    FROM bsm a JOIN bsm b
       |      ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
       |    UNION ALL
       |    SELECT r.rep AS va, g.vec_id AS vb
       |    FROM bbg g JOIN reps r ON g.t = r.t AND g.sig = r.sig
       |    WHERE g.vec_id <> r.rep)
       |  WHERE $RegimeGuard),
       |vpairs AS (
       |  SELECT DISTINCT va, vb
       |  FROM cands
       |  JOIN e x ON x.vec_id = va
       |  JOIN e y ON y.vec_id = vb
       |  WHERE list_dot_product(x.v, y.v) > 0.47)""".stripMargin
  }

  private def embDupLshOracle: String =
    s"""WITH $embDupLshCtes
       |SELECT va, vb FROM vpairs
       |ORDER BY va, vb""".stripMargin

  /** DuckDB twin of the sketch-screened tier: the shared
    * [[embDupLshCtes]] candidates, the screen replayed as the per-table
    * `bit_count(xor(...))` sum against the SAME
    * [[Similarity.screenMaxHamming]] integer the engine computes, then
    * the exact-dot verify. Signatures are integers both engines derive
    * from the same plane literals (the green d_embedding_dup_lsh twin
    * proves bit identity), so the screen is hash-exact.
    */
  private def embDupScreenedOracle: String = {
    val (bits, tables) = Similarity.lshPlan(500, EmbDupCos, EmbDupRecall)
    val maxHam = Similarity.screenMaxHamming(EmbDupCos, tables, bits,
      ScreenSigmas)
    s"""WITH $embDupLshCtes,
       |scr AS (
       |  SELECT va, vb FROM cands c
       |  JOIN sigs sa ON sa.vec_id = c.va
       |  JOIN sigs sb ON sb.vec_id = c.vb AND sb.t = sa.t
       |  GROUP BY va, vb
       |  HAVING SUM(bit_count(xor(CAST(sa.sig AS BIGINT),
       |    CAST(sb.sig AS BIGINT)))) <= $maxHam)
       |SELECT DISTINCT va, vb
       |FROM scr
       |JOIN e x ON x.vec_id = va
       |JOIN e y ON y.vec_id = vb
       |WHERE list_dot_product(x.v, y.v) > 0.47
       |ORDER BY va, vb""".stripMargin
  }

  /** DuckDB twin of [[embDupRecall]]: the exact quadratic pair set, the
    * shared [[embDupLshCtes]] production-tier pairs, and the overlap —
    * three scalar counts on one row.
    */
  private def embDupRecallOracle: String =
    s"""WITH $embDupLshCtes,
       |ex AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < b.vec_id
       |    AND list_cosine_similarity(a.embedding, b.embedding) > 0.47)
       |SELECT
       |  (SELECT count(*) FROM ex) AS n_exact,
       |  (SELECT count(*) FROM vpairs) AS n_lsh,
       |  (SELECT count(*) FROM ex JOIN vpairs USING (va, vb))
       |    AS n_common""".stripMargin

  /** DuckDB twin of the multi-probe tier (d_embedding_dup_mp): the
    * probe expansion replayed the way the star tier already is — per
    * (vector, table), the per-bit dots rank by (|dot|, bit), the
    * [[MpProbes]] lowest flip one bit each into probe bucket keys, and
    * the capped pair step requires at least one HOME side
    * ([[cappedPairs]]' homeCol rule). Width/tables/probes are the
    * FORCED [[MpBits]]×[[MpTables]]×[[MpProbes]] plan, so no corpus
    * regime guard is needed — the plan is n-independent by
    * construction.
    */
  private def embDupMpOracle: String = {
    val dims = 64
    val dotSelects = (0 until MpTables).flatMap { t =>
      (0 until MpBits).map { b =>
        s"  SELECT vec_id, $t AS t, $b AS b, list_dot_product(v, " +
          s"${Similarity.planeSqlLit(t, b, dims)}) AS d FROM e"
      }
    }.mkString("\n  UNION ALL\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> x /
       |      sqrt(list_dot_product(embedding::DOUBLE[],
       |                            embedding::DOUBLE[]))) AS v
       |  FROM embeddings),
       |dots AS (
       |$dotSelects),
       |hsigs AS (
       |  SELECT vec_id, t,
       |    CAST(SUM(CASE WHEN d > 0 THEN (1 << b) ELSE 0 END) AS BIGINT)
       |      AS sig
       |  FROM dots GROUP BY 1, 2),
       |pr AS (
       |  SELECT vec_id, t, b, row_number() OVER (
       |      PARTITION BY vec_id, t ORDER BY abs(d), b) AS rk
       |  FROM dots),
       |frame AS (
       |  SELECT vec_id, t, sig, TRUE AS home FROM hsigs
       |  UNION ALL
       |  SELECT s.vec_id, s.t,
       |    xor(s.sig, CAST(1 << p.b AS BIGINT)) AS sig, FALSE AS home
       |  FROM hsigs s JOIN pr p ON p.vec_id = s.vec_id AND p.t = s.t
       |  WHERE p.rk <= $MpProbes),
       |bsz AS (SELECT t, sig, count(*) AS bn FROM frame GROUP BY 1, 2),
       |bsm AS (SELECT vec_id, t, sig, home FROM frame
       |  JOIN bsz USING (t, sig) WHERE bn <= $DefaultBucketCap),
       |bbg AS (SELECT vec_id, t, sig FROM frame
       |  JOIN bsz USING (t, sig) WHERE bn > $DefaultBucketCap),
       |reps AS (SELECT t, sig, min(vec_id) AS rep FROM bbg
       |  GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT va, vb FROM (
       |    SELECT a.vec_id AS va, b.vec_id AS vb
       |    FROM bsm a JOIN bsm b
       |      ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
       |        AND (a.home OR b.home)
       |    UNION ALL
       |    SELECT r.rep AS va, g.vec_id AS vb
       |    FROM bbg g JOIN reps r ON g.t = r.t AND g.sig = r.sig
       |    WHERE g.vec_id <> r.rep))
       |SELECT DISTINCT va, vb
       |FROM cands
       |JOIN e x ON x.vec_id = va
       |JOIN e y ON y.vec_id = vb
       |WHERE list_dot_product(x.v, y.v) > 0.47
       |ORDER BY va, vb""".stripMargin
  }

  // The LSH/SimHash operators are approximate — deliberately no SQL oracle
  // (driver records rows-only checks); accuracy is asserted against exact
  // ground truth in PipelineSpec instead. Winnowing IS deterministic
  // arithmetic, so it gets a full oracle: the rightmost-minimum pick is
  // re-derived as min-over-trailing-window + a 4-wide band join taking the
  // max position among hash matches — order-independent in both engines,
  // md5 hex strings compare identically.
  /** Shared CTE prefix of the portable-SimHash twins: the 60-bit value
    * is the same md5-nibble sum (t_cms_portable idiom), the 60 vote
    * counters are 60 explicit SUM columns, the fingerprint reassembles
    * from CAST-to-BIGINT power-of-two literals (an INTEGER chain would
    * overflow at bit 31), bands shift/mask the fingerprint.
    */
  /** The md5-60-bit BIGINT base hash as DuckDB SQL over column `arg` —
    * the integer-exact twin of Spark's
    * `conv(substring(md5(·), 1, 15), 16, 10)` (15 nibbles reassembled
    * by integer arithmetic; proven green in the d_simhash_portable
    * twin since round 13, reused verbatim by the minhash-LSH twin).
    */
  private def md5Nib60Sql(arg: String): String =
    (1 to 15).map { i =>
      val mul = 1L << (4 * (15 - i))
      s"(strpos('0123456789abcdef', substr(md5($arg), $i, 1)) - 1) * " +
        s"CAST($mul AS BIGINT)"
    }.mkString("\n    + ")

  private def simhashFpCtes: String = {
    val nibSum = md5Nib60Sql("s")
    val counters = (0 until 60).map(b =>
      s"SUM(((h >> $b) & 1) * 2 - 1) AS c$b").mkString(",\n    ")
    val reassemble = (0 until 60).map(b =>
      s"(CASE WHEN c$b > 0 THEN CAST(${1L << b} AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END)").mkString("\n    + ")
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(t) - 2, 1) + 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
       |  FROM toks WHERE len(t) >= 3),
       |ds AS (SELECT DISTINCT s FROM sh),
       |hv AS (
       |  SELECT s, $nibSum AS h
       |  FROM ds),
       |cnt AS (
       |  SELECT sh.doc_id,
       |    $counters
       |  FROM sh JOIN hv USING (s) GROUP BY 1),
       |fps AS (
       |  SELECT doc_id,
       |    $reassemble AS fp
       |  FROM cnt),
       |bands AS (
       |  SELECT doc_id, u.b AS band, (fp >> (u.b * 15)) & 32767 AS bkey
       |  FROM fps, unnest(range(0, 4)) u(b))""".stripMargin
  }

  /** The [[cappedPairs]] candidate step replayed in SQL: bucket counts,
    * all-pairs inside ≤cap buckets, (min-id representative, member)
    * star inside larger ones — deterministic, so capping the production
    * path costs no oracle coverage. Emits CTE `cands(da, db)`.
    */
  private def simhashCappedCandCtes(cap: Int): String =
    s"""bsz AS (SELECT band, bkey, count(*) AS bn FROM bands
       |  GROUP BY 1, 2),
       |bsm AS (
       |  SELECT doc_id, band, bkey FROM bands JOIN bsz
       |  USING (band, bkey) WHERE bn <= $cap),
       |bbg AS (
       |  SELECT doc_id, band, bkey FROM bands JOIN bsz
       |  USING (band, bkey) WHERE bn > $cap),
       |reps AS (SELECT band, bkey, min(doc_id) AS rep FROM bbg
       |  GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT da, db FROM (
       |    SELECT a.doc_id AS da, b.doc_id AS db
       |    FROM bsm a JOIN bsm b
       |      ON a.band = b.band AND a.bkey = b.bkey
       |        AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT r.rep AS da, g.doc_id AS db
       |    FROM bbg g JOIN reps r
       |      ON g.band = r.band AND g.bkey = r.bkey
       |    WHERE g.doc_id <> r.rep))""".stripMargin

  private def simhashVerifySql(pairs: String): String =
    s"""SELECT da, db,
       |  CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
       |FROM $pairs
       |JOIN fps x ON x.doc_id = da
       |JOIN fps y ON y.doc_id = db
       |WHERE bit_count(xor(x.fp, y.fp)) <= 3
       |ORDER BY da, db""".stripMargin

  /** DuckDB twin of [[screenDrift]]: the shared [[embDupLshCtes]]
    * unscreened pairs, the screened twin at the FORCED
    * [[ScreenDriftSigmas]] budget, EXCEPT in both directions, each
    * drift row re-joined to the normalize CTE for its exact cosine.
    */
  private def screenDriftOracle: String = {
    val (bits, tables) = Similarity.lshPlan(500, EmbDupCos, EmbDupRecall)
    val maxHam = Similarity.screenMaxHamming(EmbDupCos, tables, bits,
      ScreenDriftSigmas)
    s"""WITH $embDupLshCtes,
       |scrc AS (
       |  SELECT va, vb FROM cands c
       |  JOIN sigs sa ON sa.vec_id = c.va
       |  JOIN sigs sb ON sb.vec_id = c.vb AND sb.t = sa.t
       |  GROUP BY va, vb
       |  HAVING SUM(bit_count(xor(CAST(sa.sig AS BIGINT),
       |    CAST(sb.sig AS BIGINT)))) <= $maxHam),
       |spairs AS (
       |  SELECT DISTINCT va, vb FROM scrc
       |  JOIN e x ON x.vec_id = va
       |  JOIN e y ON y.vec_id = vb
       |  WHERE list_dot_product(x.v, y.v) > 0.47),
       |drift AS (
       |  SELECT va, vb, 'lost' AS side FROM
       |    (SELECT va, vb FROM vpairs EXCEPT SELECT va, vb FROM spairs)
       |  UNION ALL
       |  SELECT va, vb, 'gained' AS side FROM
       |    (SELECT va, vb FROM spairs EXCEPT SELECT va, vb FROM vpairs))
       |SELECT va, vb,
       |  round(list_dot_product(x.v, y.v), 4) AS cos_sim, side
       |FROM drift
       |JOIN e x ON x.vec_id = va
       |JOIN e y ON y.vec_id = vb
       |ORDER BY va, vb, side""".stripMargin
  }

  /** DuckDB twin of the FAST MinHash-LSH tier — graduated from
    * rows-only in round 16 (the last approximate-dedup no_oracle row
    * with a writable twin). Every step is integer-exact across
    * engines: the base hash is [[md5Nib60Sql]]'s proven 60-bit md5
    * BIGINT, the k per-function variants are the affine family
    * `(a_j·h + b_j) mod (2^61−1)` with the IDENTICAL coefficient
    * literals the engine's [[graft.functions.MinHashSketch]] caches
    * (HUGEINT does the 121-bit product exactly), band keys are the
    * raw signature slices (`list(m ORDER BY j)` ≡ the engine's
    * `slice`), the [[cappedPairs]] step replays as in every LSH twin,
    * and est_jaccard = eq/32 is an exact dyadic rational in both
    * engines.
    */
  private def minhashLshOracle: String = {
    val coeffRows = (0 until MinHashFunctions).map(j =>
      s"($j, ${graft.functions.MinHashSketch.coeffA(j)}, " +
        s"${graft.functions.MinHashSketch.coeffB(j)})")
      .mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(t) - 2, 1) + 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
       |  FROM toks WHERE len(t) >= 3),
       |ds AS (SELECT DISTINCT s FROM sh),
       |hv AS (
       |  SELECT s, ${md5Nib60Sql("s")} AS h
       |  FROM ds),
       |coeffs(j, a, b) AS (VALUES
       |    $coeffRows),
       |sigs AS (
       |  SELECT sh.doc_id, c.j,
       |    min(CAST(((hv.h::HUGEINT * c.a + c.b) % 2305843009213693951)
       |      AS BIGINT)) AS m
       |  FROM sh JOIN hv USING (s) CROSS JOIN coeffs c
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, j // $RowsPerBand AS band,
       |    list(m ORDER BY j) AS bkey
       |  FROM sigs GROUP BY doc_id, band),
       |bsz AS (SELECT band, bkey, count(*) AS bn FROM bands
       |  GROUP BY 1, 2),
       |bsm AS (SELECT doc_id, band, bkey FROM bands
       |  JOIN bsz USING (band, bkey) WHERE bn <= $DefaultBucketCap),
       |bbg AS (SELECT doc_id, band, bkey FROM bands
       |  JOIN bsz USING (band, bkey) WHERE bn > $DefaultBucketCap),
       |reps AS (SELECT band, bkey, min(doc_id) AS rep FROM bbg
       |  GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT da, db FROM (
       |    SELECT a.doc_id AS da, b.doc_id AS db
       |    FROM bsm a JOIN bsm b
       |      ON a.band = b.band AND a.bkey = b.bkey
       |        AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT r.rep AS da, g.doc_id AS db
       |    FROM bbg g JOIN reps r
       |      ON g.band = r.band AND g.bkey = r.bkey
       |    WHERE g.doc_id <> r.rep)),
       |est AS (
       |  SELECT c.da, c.db, count(*) AS eq
       |  FROM cands c
       |  JOIN sigs x ON x.doc_id = c.da
       |  JOIN sigs y ON y.doc_id = c.db AND y.j = x.j AND y.m = x.m
       |  GROUP BY 1, 2)
       |SELECT da, db,
       |  round(eq / $MinHashFunctions.0, 4) AS est_jaccard
       |FROM est WHERE eq / $MinHashFunctions.0 >= 0.5
       |ORDER BY da, db""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d_minhash_lsh" -> minhashLshOracle,
    "d_embedding_dup_lsh" -> embDupLshOracle,
    "a_screen_drift" -> screenDriftOracle,
    "d_embedding_dup_mp" -> embDupMpOracle,
    "d_embedding_dup_screened" -> embDupScreenedOracle,
    "a_emb_dup_recall" -> embDupRecallOracle,
    "d_simhash_portable" ->
      s"""WITH $simhashFpCtes,
         |${simhashCappedCandCtes(DefaultBucketCap)}
         |${simhashVerifySql("cands")}""".stripMargin,
    // the cap's recall cost, measured: uncapped band pairs the capped
    // tier loses at the tiny audit cap, hamming-verified
    "a_simhash_cap_drift" ->
      s"""WITH $simhashFpCtes,
         |cands_u AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey
         |      AND a.doc_id < b.doc_id),
         |${simhashCappedCandCtes(2)},
         |lost AS (
         |  SELECT da, db FROM cands_u u
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM cands c WHERE c.da = u.da AND c.db = u.db))
         |${simhashVerifySql("lost")}""".stripMargin,
    // the portable MinHash replayed: lexicographic min over 12-hex
    // md5 prefixes, 4×4 banding, band-vector equality, exact verify
    "d_minhash_portable" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 2, 1) + 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ds AS (SELECT DISTINCT s FROM sh),
        |js AS (SELECT unnest(range(0, 16)) AS j),
        |hs AS (
        |  SELECT s, j,
        |    substr(md5(CAST(j AS VARCHAR) || ':' || s), 1, 12) AS h
        |  FROM ds, js),
        |sigs AS (
        |  SELECT sh.doc_id, hs.j, min(hs.h) AS m
        |  FROM sh JOIN hs USING (s) GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, j // 4 AS band, list(m ORDER BY j) AS sig
        |  FROM sigs GROUP BY doc_id, band),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.sig = b.sig
        |      AND a.doc_id < b.doc_id),
        |inter AS (
        |  SELECT c.da, c.db, count(*) AS i
        |  FROM cands c
        |  JOIN sh x ON x.doc_id = c.da
        |  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
        |SELECT da, db,
        |  round(i / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE i / (sa.n + sb.n - i) >= 0.8
        |ORDER BY da, db""".stripMargin,
    "d_winnow_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |    md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
        |      AS h
        |  FROM toks, unnest(range(1, len(t) - 4 + 2)) AS u(i)
        |  WHERE len(t) >= 4),
        |w AS (
        |  SELECT * FROM (
        |    SELECT doc_id, pos AS e,
        |      min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        |    FROM g)
        |  WHERE e >= 3),
        |sel AS (
        |  SELECT w.doc_id, w.e, w.wmin, max(g.pos) AS pos
        |  FROM w JOIN g ON g.doc_id = w.doc_id AND g.pos >= w.e - 3
        |    AND g.pos <= w.e AND g.h = w.wmin
        |  GROUP BY 1, 2, 3)
        |SELECT DISTINCT doc_id, pos, wmin AS fp
        |FROM sel ORDER BY doc_id, pos""".stripMargin)
}
