package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design (the whole point at 100 TB):
  *  - exact dedup is a hash-groupBy on a 128-bit content hash — one shuffle keyed
  *    by `md5(text)`, never by the text itself (shuffle bytes ∝ hashes, not corpus);
  *  - MinHash/SimHash signatures are computed by *exploding shingles/tokens and
  *    hash-aggregating*, not by per-row higher-order lambdas: `min(hash_j)` /
  *    `sum(±bit_j)` are plain codegen'd aggregates with map-side partial
  *    aggregation, so the signature stage runs at scan speed and shuffles only
  *    (id, 64·8 bytes) per document. Higher-order-function variants of the same
  *    math exist for per-pair verification where the input is already tiny;
  *  - LSH banding turns O(n²) near-dup search into an equi-join on
  *    (band index, band hash): only documents sharing a bucket ever meet, and
  *    bucket sizes are small by construction, so the join is skew-safe;
  *  - SimHash near-dup = Hamming distance over one BIGINT; block-matching
  *    (pigeonhole over `maxDistance+1` blocks) gives an equi-joinable index with
  *    zero false negatives;
  *  - LSH/blocks only *propose*; every candidate pair is verified with exact
  *    n-gram Jaccard / Hamming before anything is dropped.
  */
/** Engine-portable hash family: 60 bits of `md5` reinterpreted as an integer,
  * then affine maps modulo a Mersenne prime. Every step (md5, hex slice,
  * hex→int, `(a·h + b) mod p`) is computable bit-identically in any SQL engine,
  * so MinHash/SimHash pipelines built on it can be verified end-to-end against
  * an independent engine — unlike `xxhash64`, whose seeded variant is
  * Spark-specific. Costs one md5 per input vs one xxhash64: measurably slower
  * per byte, so the xxhash64 pipelines in [[Dedup]] remain the scale default;
  * these are the *auditable* variants. */
object PortableHash {
  /** 2^31 − 1 (Mersenne prime): products `a·h` with `a, h < P` stay under 2^62,
    * so the affine family never overflows a 64-bit long (ANSI-safe). */
  val P: Long = 2147483647L

  /** First 60 bits of md5 as a non-negative BIGINT (15 hex chars < 2^60).
    * Computed by the codegen'd [[graft.functions.Md5Prefix60]] — bit-identical
    * to the SQL form `conv(substring(md5(s), 1, 15), 16, 10)` the oracle
    * replays (equality asserted in ExtSpec), but without the three per-row
    * string allocations that form made (hex, substring, conv parse). */
  def hash60(s: Column): Column =
    graft.functions.HashFunctions.md5Prefix60(s)

  /** The pre-round-4 SQL formulation of [[hash60]] — kept as the reference
    * point for the equivalence spec. */
  def hash60Sql(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Affine family coefficients (a_j ∈ [1, P), b_j ∈ [0, P)), deterministic in
    * `seed` — the same values are inlined into oracle SQL by the verify side. */
  def coeffs(n: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(n)((1L + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }
}

object Dedup {

  /** Shared defaults for the portable MinHash pipeline — referenced by the
    * oracle-SQL builder so both engines always agree on the family. */
  val PortableNumHashes = 32
  val PortableBands = 8
  val PortableSeed = 42L

  /** Exact dedup: one surviving doc id per distinct (normalized) text, plus the
    * duplicate count. `min(doc_id)` keeps the earliest id — deterministic, unlike
    * dropDuplicates. */
  def exactDuplicateGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Canonical text form for normalization-insensitive dedup: lowercase,
    * non-alphanumerics → space, whitespace runs collapsed, trimmed. Exact
    * (byte-level) dedup misses the web's cheapest duplicate class — the same
    * page re-crawled with different casing, punctuation, or whitespace — and
    * near-dup MinHash is overkill for it; canonicalization catches it with
    * one deterministic scalar expression (all codegen'd built-ins). */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Dedup groups under [[canonicalText]] equivalence: one row per canonical
    * form with >1 member — `(rep_id = min id, n_members, n_raw_variants)`,
    * where `n_raw_variants` counts how many DISTINCT raw texts collapsed
    * (1 ⇒ byte-identical copies, >1 ⇒ normalization did real work).
    *
    * Scale: identical shape to [[exactDuplicateGroups]] — one map-side
    * combinable groupBy on the canonical form (hash it upstream if text is
    * large); the count-distinct is over the group's variants, bounded by
    * group size. */
  def canonicalDuplicateGroups(docs: DataFrame, idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame =
    docs.groupBy(canonicalText(col(textCol)).as("canonical"))
      .agg(min(col(idCol)).as("rep_id"),
        count(lit(1)).as("n_members"),
        countDistinct(col(textCol)).as("n_raw_variants"))
      .filter(col("n_members") > 1L)
      .select(col("rep_id"), col("n_members"), col("n_raw_variants"))


  /** Temporal windowed dedup: keep ONE row per key per tumbling time window —
    * the standard log/event compaction step (retries, at-least-once producers,
    * and crawler revisits emit near-identical rows minutes apart; an unbounded
    * key-level dedup would collapse legitimately recurring events).
    *
    * The window is `tsMicros DIV windowMicros` (tumbling, epoch-aligned) and
    * the survivor is the row with the smallest `(tsMicros, tieCol)` in its
    * (keys, window) cell — a total order, so the kept set is deterministic
    * (dropDuplicates is not) and an independent engine replays it.
    *
    * Scale: one map-side-combinable `groupBy(keys, window)` whose state is a
    * single min-struct per cell — no row lists, no window function, and the
    * shuffle key includes the time bucket so a hot key spreads over its
    * windows instead of one reducer. */
  def dedupWithinWindow(df: DataFrame, keyCols: Seq[String], tsMicros: Column,
                        tieCol: String, windowMicros: Long): DataFrame = {
    require(windowMicros > 0, "dedupWithinWindow: windowMicros must be positive")
    // tieCol first among payload fields so the struct-min order is
    // (ts, tie, <arbitrary-but-unused rest>); (ts, tie) is unique per row in
    // every caller, making min(struct) a total order regardless of the rest.
    val keep = struct(tsMicros.as("__ts") +:
      df.columns.sortBy(c => if (c == tieCol) 0 else 1).map(col): _*)
    // `expr(.. DIV ..)` not `/`: Column./ on longs is DOUBLE division, whose
    // rounding can land a boundary timestamp in the wrong bucket.
    df.withColumn("__ts_us", tsMicros.cast("long"))
      .withColumn("time_bucket", expr(s"__ts_us DIV ${windowMicros}L"))
      .groupBy((keyCols.map(col) :+ col("time_bucket")): _*)
      .agg(min(keep).as("__keep"), count(lit(1)).as("n_collapsed"))
      .select(col("time_bucket") +: col("n_collapsed") +:
        df.columns.map(c => col(s"__keep.$c").as(c)): _*)
  }

  /** Shingle projection shared by signatures and verification: (idCol, sh). */
  def shingleSets(docs: DataFrame, k: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), Shingles.wordShingles(col(textCol), k).as("sh"))

  /** MinHash signatures over a precomputed (idCol, sh) shingle projection
    * ([[shingleSets]]), one row per document: `sig[j] = min over shingles s of
    * xxhash64(j, xxhash64(s))`. Each shingle string is hashed ONCE; the family
    * members rehash the resulting long with the family index — fixed-width long
    * hashing, no per-family string building (an earlier `xxhash64(j ‖ s)` form
    * allocated 32 concat strings per shingle and its churn dominated the whole
    * near-dup query). Implemented explode→hash-agg: `numHashes` parallel `min`
    * aggregates — all codegen, partial-agg'd map-side.
    * Output: (idCol, sig: array<bigint>). */
  def minhashSignaturesFromShingles(shingles: DataFrame, numHashes: Int,
                                    idCol: String = "doc_id"): DataFrame = {
    val exploded = shingles
      .select(col(idCol), explode(col("sh")).as("shingle"))
      .select(col(idCol), xxhash64(col("shingle")).as("h"))
    val minCols = (0 until numHashes).map(j =>
      min(xxhash64(lit(j), col("h"))).as(s"h$j"))
    exploded.groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** LSH band hashes of a MinHash signature: `bands` hashes, each over
    * `numHashes / bands` consecutive signature slots. */
  def bandHashes(signature: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(signature, b * lit(rows) + lit(1), lit(rows))))
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * signature (explode→agg) → explode to (band, bandHash, id) → self-equi-join on
    * the bucket → distinct candidate pairs → exact shingle-Jaccard ≥ `threshold`.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Hot-bucket skew: a cluster of m near-identical documents (boilerplate,
    * templated pages) collapses into ONE bucket per band, so the self-join
    * emits m² candidate rows from a single join key — the classic skewed-join
    * shape. That is inherent to LSH (those m² pairs genuinely are candidates);
    * what must not happen is all m² rows landing on one reducer. Spark's AQE
    * skew-join (`spark.sql.adaptive.skewJoin.enabled`, on by default) splits
    * the oversized bucket partition at runtime, so the join parallelizes
    * without any salting here. ExtSpec's "LSH survives a hot bucket" test
    * plants a 10% hot bucket over 10k docs and proves the pipeline under AQE.
    * At corpus scale, ALSO cap pathological clusters upstream (drop exact
    * duplicates first — [[exactDuplicates]] — so m counts distinct variants,
    * not copies).
    */
  def minhashNearDuplicates(docs: DataFrame, threshold: Double,
                            idCol: String = "doc_id", textCol: String = "text",
                            k: Int = 3, numHashes: Int = 32, bands: Int = 8,
                            cacheShingles: Boolean = true): DataFrame = {
    // Shingling is the expensive projection (interpreted array build per doc) and
    // is needed by both the signature stage and the verification joins — persist
    // it once instead of recomputing it three times. The cache entry is keyed by
    // the logical plan (repeat calls on the same corpus reuse it, they don't
    // stack), but it lives until session end: the returned frame is lazy, so
    // there is no safe point to unpersist here. Long-lived sessions calling this
    // per batch should pass cacheShingles=false (recompute) or
    // spark.catalog.clearCache() between batches.
    val shRaw = shingleSets(docs, k, idCol, textCol)
    val sh = if (cacheShingles)
      shRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else shRaw
    val sigs = minhashSignaturesFromShingles(sh, numHashes, idCol)
    val buckets = sigs.select(col(idCol),
      posexplode(bandHashes(col("sig"), numHashes, bands)).as(Seq("band", "band_hash")))
    val a = buckets.as("a"); val b = buckets.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    pairJaccardFromShingles(pairs, sh, idCol).filter(col("jaccard") >= threshold)
  }

  /** Corpus-level near-dedup: drop every document that is the *larger-id* member
    * of a verified near-duplicate pair (keep-lowest-id policy, the standard
    * greedy rule in training-data dedup — for chains a→b→c both b and c drop
    * even if (a,c) alone falls under the threshold, which errs toward removing
    * more near-duplicates). One anti-join against the distinct loser set;
    * deterministic. */
  def removeNearDuplicates(docs: DataFrame, threshold: Double,
                           idCol: String = "doc_id", textCol: String = "text",
                           k: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val losers = minhashNearDuplicates(docs, threshold, idCol, textCol, k, numHashes, bands)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact Jaccard similarity of two string arrays (treated as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** n-gram Jaccard between explicit (id_a, id_b) pairs — the verification
    * primitive, exposed standalone (oracle-checkable in plain SQL). Shingle arrays
    * are joined to the pair list, so the set math runs only on candidates. */
  def pairJaccard(pairs: DataFrame, docs: DataFrame, k: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    pairJaccardFromShingles(pairs, shingleSets(docs, k, idCol, textCol), idCol)

  /** Pair verification over a precomputed (idCol, sh) projection. */
  def pairJaccardFromShingles(pairs: DataFrame, shingles: DataFrame,
                              idCol: String = "doc_id"): DataFrame = {
    pairs
      .join(shingles.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(shingles.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .select("id_a", "id_b", "jaccard")
  }

  /** Portable-family MinHash signatures: `sig[j] = min over shingles s of
    * (a_j · (hash60(s) mod P) + b_j) mod P`. One md5 per shingle, then pure
    * integer arithmetic — all codegen, map-side partial-agg'd, and reproducible
    * verbatim in an independent SQL engine (the correctness oracle). */
  def minhashSignaturesPortable(shingles: DataFrame, numHashes: Int = PortableNumHashes,
                                seed: Long = PortableSeed, idCol: String = "doc_id"): DataFrame = {
    val p = PortableHash.P
    val exploded = shingles
      .select(col(idCol), explode(col("sh")).as("shingle"))
      .select(col(idCol), (PortableHash.hash60(col("shingle")) % p).as("h"))
    val minCols = PortableHash.coeffs(numHashes, seed).zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % p).as(s"h$j")
    }
    exploded.groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** Multiplier for the band-key polynomial fold: prime, small enough that
    * `k·A + v < 2^52` for `k, v < P` — no 64-bit overflow in any ANSI engine. */
  val BandFoldA: Long = 1048573L

  /** LSH band keys as a polynomial fold of the band's signature slots modulo
    * [[PortableHash.P]]: `k ← (k·A + v) mod P` per slot. 8-byte integer
    * join/shuffle keys instead of ~40-byte decimal strings (the r1–r3 form) —
    * at corpus scale the band keys ARE the shuffle, so this is a ~4×
    * shuffle-byte cut on the candidate join. Identical signature slices still
    * give identical keys, so recall is unchanged; a fold collision (~2^-31
    * per key pair) only adds a candidate that exact-Jaccard verification
    * prunes. Unlike an engine-specific rehash (xxhash64), the fold is exactly
    * replayable in portable SQL — SparkEntry's oracle builder generates the
    * same fold from the same constants. */
  def bandKeys(signature: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    val p = PortableHash.P
    transform(sequence(lit(0), lit(bands - 1)), b =>
      (0 until rows).foldLeft(lit(0L)) { (k, j) =>
        (k * BandFoldA + element_at(signature, (b * lit(rows) + lit(j + 1)).cast("int"))) % p
      })
  }

  /** [[minhashNearDuplicates]] on the portable hash family — identical shape
    * (signature → band buckets → candidate equi-join → exact Jaccard ≥
    * `threshold`), every stage reproducible in the oracle engine. */
  def minhashNearDuplicatesPortable(docs: DataFrame, threshold: Double,
                                    idCol: String = "doc_id", textCol: String = "text",
                                    k: Int = 3, numHashes: Int = PortableNumHashes,
                                    bands: Int = PortableBands, seed: Long = PortableSeed,
                                    cacheShingles: Boolean = true): DataFrame = {
    val shRaw = shingleSets(docs, k, idCol, textCol)
    val sh = if (cacheShingles)
      shRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else shRaw
    val sigs = minhashSignaturesPortable(sh, numHashes, seed, idCol)
    val buckets = sigs.select(col(idCol),
      posexplode(bandKeys(col("sig"), numHashes, bands)).as(Seq("band", "band_key")))
    val a = buckets.as("a"); val b = buckets.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    pairJaccardFromShingles(pairs, sh, idCol).filter(col("jaccard") >= threshold)
  }

  /** Benchmark-contamination report: train documents sharing at least
    * `minOverlap` distinct k-word shingles with any benchmark document.
    *
    * The standing eval-hygiene check for a training corpus: n-gram overlap
    * against held-out benchmarks (the methodology GPT-3/PaLM-style dataset
    * papers describe) rather than exact match, so paraphrased or partially
    * quoted leakage is caught too. Shingles are compared through
    * [[PortableHash.hash60]], so the whole report replays in the oracle
    * engine; a hash collision (~2⁻⁶⁰ per pair) could only add one phantom
    * shingle to an overlap count, identically in both engines.
    *
    * Scale shape: each side reduces to distinct (doc, shingle-hash) pairs —
    * shuffle ∝ shingle count, never corpus bytes. The benchmark side is
    * small by nature (eval sets, not corpora) and is broadcast, so the probe
    * is a map-side hash join against the train side's scan; the only
    * aggregation is per (train, bench) pair on the matches. Output:
    * (train_id, n_bench_hits, max_overlap). */
  def contaminationReport(train: DataFrame, bench: DataFrame, minOverlap: Long,
                          k: Int = 3, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    def shingleHashes(docs: DataFrame, as: String) =
      shingleSets(docs, k, idCol, textCol)
        .select(col(idCol).as(as), explode(col("sh")).as("s"))
        .select(col(as), PortableHash.hash60(col("s")).as("h"))
    shingleHashes(train, "train_id")
      .join(broadcast(shingleHashes(bench, "bench_id")), "h")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_bench_hits"), max("overlap").as("max_overlap"))
  }

  /** Per-document novelty vs a reference corpus: how much of each candidate
    * document's content already exists in the reference — the decontamination
    * / near-verbatim-memorization check run on eval sets and fresh crawls
    * (inverse framing of [[contaminationReport]]: per-DOC coverage, not
    * per-PAIR overlap). Returns `(idCol, n_shingles, n_seen)` — distinct
    * word-k-shingle count and how many of those appear anywhere in the
    * reference. The novelty ratio `1 − n_seen/n_shingles` is the consumer's
    * division; shipping the integers keeps the output exact (q92 policy).
    *
    * Scale: the reference collapses to a DISTINCT 60-bit shingle-hash set —
    * one hash-agg — and candidates probe it with a shuffle semi-join on the
    * hash key (deliberately NOT broadcast: the reference is corpus-sized;
    * AQE may still choose broadcast when it measures small). Cost is the
    * same equi-join shape as the LSH band join, never all-pairs. */
  def shingleNovelty(candidates: DataFrame, reference: DataFrame, k: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val candSets = shingleSets(candidates, k, idCol, textCol)
    val candH = candSets.select(col(idCol), explode(col("sh")).as("s"))
      .select(col(idCol), PortableHash.hash60(col("s")).as("h"))
    val refH = shingleSets(reference, k, idCol, textCol)
      .select(explode(col("sh")).as("s"))
      .select(PortableHash.hash60(col("s")).as("h"))
      .distinct()
    val seen = candH.join(refH, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_seen"))
    candSets.select(col(idCol), size(col("sh")).cast("long").as("n_shingles"))
      .join(seen, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
  }

  /** Incremental (cross-corpus) near-dedup: find the NEW-batch documents that
    * are near-duplicates of an EXISTING corpus — the shape every growing
    * training corpus needs (each crawl/delivery is deduped against what is
    * already kept, without re-deduping the corpus against itself).
    *
    * Same portable MinHash machinery as [[minhashNearDuplicatesPortable]],
    * but the band-bucket join is CROSS-SET (corpus bands × batch bands), so
    * candidate count ∝ |batch|'s collisions, not |corpus|²: the corpus side
    * contributes one scan for signatures and the equi-join. At scale the
    * corpus band table is the thing to precompute and store sorted/bucketed
    * by band key, making each new batch an append-only probe — this function
    * takes the two corpora as DataFrames so callers can pass exactly that
    * persisted band table workflow through it.
    *
    * Returns (corpus_id, batch_id, jaccard) with jaccard ≥ `threshold`; ids
    * come from the two sides' own `idCol` and may overlap numerically (they
    * are different namespaces). */
  def crossCorpusNearDuplicatesPortable(corpus: DataFrame, batch: DataFrame,
                                        threshold: Double,
                                        idCol: String = "doc_id", textCol: String = "text",
                                        k: Int = 3, numHashes: Int = PortableNumHashes,
                                        bands: Int = PortableBands,
                                        seed: Long = PortableSeed): DataFrame = {
    val shC = shingleSets(corpus, k, idCol, textCol)
    val shB = shingleSets(batch, k, idCol, textCol)
    def buckets(sh: DataFrame) =
      minhashSignaturesPortable(sh, numHashes, seed, idCol).select(col(idCol),
        posexplode(bandKeys(col("sig"), numHashes, bands)).as(Seq("band", "band_key")))
    val pairs = buckets(shC).as("a").join(buckets(shB).as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key"))
      .select(col(s"a.$idCol").as("corpus_id"), col(s"b.$idCol").as("batch_id"))
      .distinct()
    pairs
      .join(shC.select(col(idCol).as("corpus_id"), col("sh").as("sh_a")), "corpus_id")
      .join(shB.select(col(idCol).as("batch_id"), col("sh").as("sh_b")), "batch_id")
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .select("corpus_id", "batch_id", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Persistent LSH dedup index — the INCREMENTAL sibling of
    * [[crossCorpusNearDuplicatesPortable]], which re-signs the whole corpus
    * on every batch. Here the corpus's band buckets and shingle sets are
    * materialized ONCE ([[lshIndexBuild]]) into batch-partitioned parquet
    * (`buckets/batch=N`, `shingles/batch=N`); each arriving batch is signed
    * once, appended as its own partition, and probed against the index
    * ([[lshIndexProbeAppend]]) — per-batch cost ∝ batch size + matched
    * buckets, never ∝ corpus. This is how a 100 TB dedup service actually
    * runs: the index outlives the job, and at that scale the bucket table
    * would additionally be bucketed-by-band_key on disk so the probe join
    * co-locates without a shuffle of the index side.
    *
    * Probe semantics: every near-dup pair is reported exactly once, by the
    * batch that COMPLETED it — the candidate join orders members by
    * `(batch, id)`: a pair is emitted when its later member (by batch, then
    * id within a batch) lands, regardless of how the raw ids compare across
    * batches. Output pairs are normalized `index_id < delta_id` (smallest id
    * first), so the result matches a full-corpus recompute's `id_a < id_b`
    * convention even when a new batch carries ids below already-indexed ones.
    * Within-batch duplicates are included; previously-reported pairs never
    * re-emit. The `batch <= n` guard on the probe side makes the result
    * independent of WHEN the lazy frame executes relative to later appends. */
  def lshIndexBuild(docs: DataFrame, indexDir: String, batch: Int = 0,
                    idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 3, numHashes: Int = PortableNumHashes,
                    bands: Int = PortableBands, seed: Long = PortableSeed): Unit = {
    val sh = shingleSets(docs, k, idCol, textCol)
    minhashSignaturesPortable(sh, numHashes, seed, idCol)
      .select(col(idCol),
        posexplode(bandKeys(col("sig"), numHashes, bands)).as(Seq("band", "band_key")))
      .write.mode("overwrite").parquet(s"$indexDir/buckets/batch=$batch")
    sh.write.mode("overwrite").parquet(s"$indexDir/shingles/batch=$batch")
  }

  /** Append `delta` to the index as partition `batch=n`, then probe: verified
    * near-dup pairs `(index_id, delta_id, jaccard ≥ threshold)` completed by
    * this batch. See [[lshIndexBuild]] for the contract. */
  def lshIndexProbeAppend(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                          delta: DataFrame, n: Int, threshold: Double,
                          idCol: String = "doc_id", textCol: String = "text",
                          k: Int = 3, numHashes: Int = PortableNumHashes,
                          bands: Int = PortableBands, seed: Long = PortableSeed): DataFrame = {
    lshIndexBuild(delta, indexDir, n, idCol, textCol, k, numHashes, bands, seed)
    // probe the WRITTEN tables (partition-discovered `batch` column): the
    // signatures are computed exactly once, above
    val allB = spark.read.parquet(s"$indexDir/buckets").filter(col("batch") <= n)
    val dB = allB.filter(col("batch") === n)
    // (batch, id) ordering: the pair completes when its later member arrives
    // — correct even when delta ids are not monotone across batches.
    val cand = dB.as("b").join(allB.as("a"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          (col("a.batch") < col("b.batch") ||
            (col("a.batch") === col("b.batch") && col(s"a.$idCol") < col(s"b.$idCol"))))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("index_id"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("delta_id"))
      .distinct()
    val allS = spark.read.parquet(s"$indexDir/shingles").filter(col("batch") <= n)
    cand
      .join(allS.select(col(idCol).as("index_id"), col("sh").as("sh_a")), "index_id")
      .join(allS.select(col(idCol).as("delta_id"), col("sh").as("sh_b")), "delta_id")
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("index_id"), col("delta_id"), col("jaccard"))
  }

  /** STREAMING LSH index maintenance: drive [[lshIndexProbeAppend]] from a
    * Structured Streaming source via `foreachBatch` so the dedup index
    * advances with the ingest stream instead of waiting for a batch driver.
    * Micro-batch `b` is signed ONCE, appended as index partition
    * `batch = firstBatch + b`, and the near-dup pairs it completes are
    * written to `pairsDir/batch=<n>`.
    *
    * Exactly-once across restarts: the checkpoint replays an unacknowledged
    * micro-batch with the SAME batchId, and every write keyed by it (index
    * partitions and the pairs partition) is mode-overwrite — replay
    * overwrites its own partial output, never duplicates it. Round12Spec
    * proves index-after-N-ticks ≡ one-shot rebuild over the union; q335
    * hash-pins the drained pairs against the full-corpus MinHash oracle.
    *
    * Scale: per-tick cost ∝ delta (sign + bucket equi-join against the
    * accumulated index), the q173 contract; state is the on-disk index, not
    * streaming memory. */
  def streamingLshMaintain(docsStream: DataFrame, indexDir: String,
                           pairsDir: String, checkpointDir: String,
                           threshold: Double, firstBatch: Int = 1,
                           idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val query = docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val n = firstBatch + batchId.toInt
          lshIndexProbeAppend(batch.sparkSession, indexDir, batch, n, threshold,
              idCol, textCol)
            .write.mode("overwrite").parquet(s"$pairsDir/batch=$n")
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** The FULL production ingest tick in one `AvailableNow` pass: raw
    * document stream → medallion clean/validate (the engine's silver
    * discipline — [[graft.engine.Silver.errorString]] error accumulation,
    * `is_valid` flag, quarantine rows KEPT with their reasons, never
    * dropped silently) → silver parquet write → LSH dedup-index maintain →
    * near-dup pair emit. Composes [[streamingLshMaintain]] with the
    * bronze→silver clean and write of
    * [[graft.engine.Incremental.drainBronzeToSilver]], so one micro-batch does clean → validate → index-maintain → pair-emit,
    * instead of a silver stream and a separate index stream re-reading it.
    *
    * Validation: `idCol` non-null and trimmed `textCol` of at least
    * `minChars` chars (shorter fragments carry too few shingles to sign —
    * indexing them would emit noise pairs). Only VALID rows reach the
    * index; every row (with `validation_errors`) reaches silver.
    *
    * Exactly-once across restarts, the [[streamingLshMaintain]] contract:
    * all three writes of tick `n` — silver partition, index partitions,
    * pairs partition — are keyed by the checkpointed batchId and
    * mode-overwrite, so a replayed micro-batch overwrites its own partial
    * output. Per-tick cost ∝ delta; state is the on-disk index. */
  def streamingMedallionLshTick(docsStream: DataFrame, silverDir: String,
                                indexDir: String, pairsDir: String,
                                checkpointDir: String, threshold: Double,
                                minChars: Int = 30, firstBatch: Int = 1,
                                idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val query = docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val n = firstBatch + batchId.toInt
          val errors = graft.engine.Silver.errorString(
            required = Seq(idCol),
            domainChecks = Seq(
              (length(trim(col(textCol))) < minChars, s"SHORT_TEXT:$textCol")))
          val silver = batch
            .select(col(idCol), trim(col(textCol)).as(textCol))
            .withColumn("validation_errors", errors)
            .withColumn("is_valid", col("validation_errors") === "")
          silver.write.mode("overwrite").parquet(s"$silverDir/batch=$n")
          val valid = silver.where(col("is_valid"))
            .select(col(idCol), col(textCol))
          lshIndexProbeAppend(batch.sparkSession, indexDir, valid, n, threshold,
              idCol, textCol)
            .write.mode("overwrite").parquet(s"$pairsDir/batch=$n")
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** Streaming curation-funnel tick — q363's batch funnel as the
    * PRODUCTION ingest loop ([[streamingMedallionLshTick]]'s sibling with
    * the quality stages and the exact-dedup LEDGER as the cross-tick
    * state): per micro-batch, the stateless per-doc stages (language-ID,
    * minimum tokens, composite quality) run as cumulative flags, then
    * exact dedup keeps a doc iff its `md5(lower(trim(text)))` fingerprint
    * (a) is the batch's MINIMAL-id holder and (b) has never been admitted
    * by a PRIOR tick — the on-disk fingerprint ledger, read filtered to
    * `batch < n` so a replayed micro-batch never sees its own partial
    * write. All three writes of tick `n` (silver survivors, ledger
    * fingerprints, stage counts) are batch-id-keyed overwrite partitions:
    * exactly-once across restarts, the [[streamingLshMaintain]] contract.
    *
    * Scale: per-tick cost ∝ delta for every stage except the ledger
    * anti-join, which is delta × ledger on the fingerprint key — the
    * ledger is a fingerprint-only table (16 bytes a row), so at 100 TB it
    * stays orders of magnitude under the corpus and the join broadcasts or
    * buckets on `fp`. Summed across ticks the counts equal the batch
    * funnel whenever ids arrive in keep-first order (min-id == first-seen
    * — the oracle's replay condition). */
  def streamingFunnelTick(docsStream: DataFrame, ledgerDir: String,
                          silverDir: String, countsDir: String,
                          checkpointDir: String, minTokens: Long,
                          stopwords: Seq[String],
                          idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val query = docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val n = batchId
          val T = graft.ext.TextAnalysis
          val flags = batch.select(col(idCol), col(textCol))
            .withColumn("pass1", T.langId(col(textCol)) === "en")
            .withColumn("pass2",
              col("pass1") && T.tokenCount(col(textCol)) >= minTokens)
            .withColumn("pass3", col("pass2")
              && T.qualityScore(col(textCol), stopwords) >= 0.5)
            .withColumn("fp", md5(lower(trim(col(textCol)))))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val prior =
            try s.read.parquet(ledgerDir).where(col("batch") < lit(n))
              .select(col("fp")).distinct()
            catch {
              case _: org.apache.spark.sql.AnalysisException =>
                s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                  new org.apache.spark.sql.types.StructType().add("fp", "string"))
            }
          val batchFirst = flags.where(col("pass3"))
            .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
            .withColumn("__first", lit(true))
          // f4 persisted (round 17): the tick's three outputs (silver,
          // ledger, counts) each consumed it — three ledger parquet reads
          // and three replays of the dedup joins per tick; now the joins
          // and the prior-ledger read run once per tick
          val f4 = flags
            .join(batchFirst, Seq("fp", idCol), "left")
            .join(prior.withColumn("__seen", lit(true)), Seq("fp"), "left")
            .withColumn("pass4", col("pass3")
              && coalesce(col("__first"), lit(false))
              && col("__seen").isNull)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val kept = f4.where(col("pass4")).select(col(idCol), col(textCol),
            col("fp"))
          kept.select(col(idCol), col(textCol))
            .write.mode("overwrite").parquet(s"$silverDir/batch=$n")
          kept.select(col("fp")).distinct()
            .write.mode("overwrite").parquet(s"$ledgerDir/batch=$n")
          f4.agg(
              count(lit(1)).as("c0"),
              sum(col("pass1").cast("long")).as("c1"),
              sum(col("pass2").cast("long")).as("c2"),
              sum(col("pass3").cast("long")).as("c3"),
              sum(col("pass4").cast("long")).as("c4"))
            .write.mode("overwrite").parquet(s"$countsDir/batch=$n")
          f4.unpersist(blocking = false)
          flags.unpersist(blocking = false)
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** The COMPOSED production ingest tick (round-16 item 4):
    * [[streamingFunnelTick]]'s heuristic gates + exact-dedup ledger with
    * the LEARNED quality stage ([[graft.ext.Classify.naiveBayesScore]])
    * inline as the final gate — one tick instead of two pipelines. Stage
    * order is cheapest-first, the production rationale: per-doc flag
    * arithmetic, then the ledger anti-join, then NB scoring over only the
    * documents that survived everything else (scoring is the expensive
    * stage — explode + model join). `pass5` keeps a document iff its NB
    * argmax equals `keepLabel`; documents with NO in-vocabulary token
    * have no score and FAIL the gate (deterministic, and the
    * conservative choice for a quality filter).
    *
    * The fingerprint LEDGER records PASS4 (post-dedup, pre-NB)
    * fingerprints: an NB-rejected document must still block future
    * duplicates of itself, or summed ticks would double-count `pass4`
    * relative to the one-shot batch replay (Round16cSpec pins the
    * equivalence). All writes are batch-id-keyed overwrite partitions —
    * exactly-once across restarts, the established tick contract.
    * `model`/`classes` must be PRE-MATERIALIZED metadata-sized frames.
    *
    * Scale: the heuristic stages are per-doc column arithmetic; the
    * ledger join is delta × fingerprint-table on `fp`; NB scoring is
    * explode → broadcast model join → (doc, class) aggregate — nothing
    * all-pairs, per-tick cost ∝ delta. */
  def streamingFunnelNbTick(docsStream: DataFrame, model: DataFrame,
                            classes: DataFrame, keepLabel: String,
                            ledgerDir: String, silverDir: String,
                            countsDir: String, checkpointDir: String,
                            minTokens: Long, stopwords: Seq[String],
                            idCol: String = "doc_id",
                            textCol: String = "text"): Unit = {
    val query = docsStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val n = batchId
          val T = graft.ext.TextAnalysis
          val flags = batch.select(col(idCol), col(textCol))
            .withColumn("pass1", T.langId(col(textCol)) === "en")
            .withColumn("pass2",
              col("pass1") && T.tokenCount(col(textCol)) >= minTokens)
            .withColumn("pass3", col("pass2")
              && T.qualityScore(col(textCol), stopwords) >= 0.5)
            .withColumn("fp", md5(lower(trim(col(textCol)))))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val prior =
            try s.read.parquet(ledgerDir).where(col("batch") < lit(n))
              .select(col("fp")).distinct()
            catch {
              case _: org.apache.spark.sql.AnalysisException =>
                s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                  new org.apache.spark.sql.types.StructType().add("fp", "string"))
            }
          val batchFirst = flags.where(col("pass3"))
            .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
            .withColumn("__first", lit(true))
          val f4 = flags
            .join(batchFirst, Seq("fp", idCol), "left")
            .join(prior.withColumn("__seen", lit(true)), Seq("fp"), "left")
            .withColumn("pass4", col("pass3")
              && coalesce(col("__first"), lit(false))
              && col("__seen").isNull)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // nbKeep persisted (round 17): both the silver write and the
          // counts aggregate consume f5, whose nbKeep side is the tick's
          // expensive stage (explode + model join) — previously scored
          // twice per tick. The cache sits on the SLIM (id, flag) score
          // table, not on f5 itself: a cached f5 would pin its join plan
          // (cached plans skip AQE), trading the broadcast of the
          // metadata-sized score table for a full text-column exchange.
          val nbKeep = graft.ext.Classify.naiveBayesScore(model, classes,
              f4.where(col("pass4")).select(col(idCol), col(textCol)),
              idCol = idCol, textCol = textCol)
            .where(col("pred_label") === keepLabel)
            .select(col(idCol), lit(true).as("__nb"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val f5 = f4.join(nbKeep, Seq(idCol), "left")
            .withColumn("pass5",
              col("pass4") && coalesce(col("__nb"), lit(false)))
          f5.where(col("pass5")).select(col(idCol), col(textCol))
            .write.mode("overwrite").parquet(s"$silverDir/batch=$n")
          f4.where(col("pass4")).select(col("fp")).distinct()
            .write.mode("overwrite").parquet(s"$ledgerDir/batch=$n")
          f5.agg(
              count(lit(1)).as("c0"),
              sum(col("pass1").cast("long")).as("c1"),
              sum(col("pass2").cast("long")).as("c2"),
              sum(col("pass3").cast("long")).as("c3"),
              sum(col("pass4").cast("long")).as("c4"),
              sum(col("pass5").cast("long")).as("c5"))
            .write.mode("overwrite").parquet(s"$countsDir/batch=$n")
          nbKeep.unpersist(blocking = false)
          f4.unpersist(blocking = false)
          flags.unpersist(blocking = false)
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** SEQUENCE-LEVEL dedup over PACKED training sequences (round-16
    * stretch): the last dedup class the funnel doesn't exercise —
    * duplication measured at the granularity the TRAINER actually
    * consumes. [[graft.ext.Packing.packByBudget]] assigns documents to
    * fixed-budget bins; each bin's documents concatenate (id order,
    * newline-joined — so windows may legitimately span document
    * boundaries: that IS the sequence the model sees) into one sequence
    * row; [[duplicateSubstringSpansKeepFirst]] then runs at sequence
    * granularity, so per sequence the corpus-first copy of every
    * duplicated region survives and later copies accumulate REMOVAL
    * mass. Output, one row per sequence:
    * `(bucket, bin, seq_chars, dup_chars, dup_permille, keep)` with
    * `dup_permille = dup_chars·1000 DIV seq_chars` and
    * `keep = dup_permille ≤ maxDupPermille` — the drop decision a
    * pipeline applies before shipping sequences to the trainer.
    *
    * Keep-first order is `(seq_id, pos)` with
    * `seq_id = bucket·2⁴⁰ + bin` (requires `bin < 2⁴⁰` — at budget ≥ 256
    * that is a 10²⁸-token corpus per bucket before it binds), so earlier
    * buckets/bins win ties deterministically.
    *
    * Scale: sequence rows are BUDGET-BOUNDED by construction (a bin
    * overflows its budget by at most one document), so the concat
    * aggregate is safe at any corpus size; the window explode carries the
    * same total char mass as the document-level q341 pass, with the same
    * two-pass hash-then-verify exchange diet and hub-skew note. */
  def packedSequenceDedup(docs: DataFrame, budget: Long, buckets: Int,
                          minLen: Int, maxDupPermille: Long,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val packed = graft.ext.Packing.packByBudget(
      docs.select(col(idCol), col(textCol)), col(idCol),
      graft.ext.TextAnalysis.tokenCount(col(textCol)), budget, buckets)
    val seqs = packed.groupBy(col("bucket"), col("bin"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(idCol), col(textCol)))),
        x => x.getField(textCol)), "\n").as("seq_text"))
      .select((col("bucket") * lit(1L << 40) + col("bin")).as("seq_id"),
        col("bucket"), col("bin"), col("seq_text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mass = duplicateSubstringSpansKeepFirst(seqs, "seq_id", "seq_text",
        minLen)
      .groupBy(col("doc").as("seq_id"))
      .agg(sum(col("span_end") - col("span_start") + 1L).as("dup_chars"))
    seqs.join(mass, Seq("seq_id"), "left")
      .select(col("bucket"), col("bin"),
        length(col("seq_text")).cast("long").as("seq_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_permille",
        expr("dup_chars * 1000 DIV seq_chars"))
      .withColumn("keep", col("dup_permille") <= maxDupPermille)
  }

  /** Recall/coverage audit of a candidate-pair scheme against a ground-truth
    * pair set — the EVALUATION harness for blocking parameter choices
    * (bands × rows, SimHash radius, prefix length): how many of the true
    * pairs does the scheme surface? Output is one row
    * `(n_true, n_found, n_hit, n_missed, recall_milli)` with
    * `recall_milli = ⌊1000·hit/true⌋` (NULL when there are no true pairs).
    *
    * This is how a 100 TB dedup configuration gets tuned in practice: run
    * the exact join on a sampled slice as ground truth, audit the cheap
    * scheme's recall on that slice, then ship the scheme corpus-wide.
    *
    * Scale: one semi-join on the pair keys + three one-row aggregates
    * (broadcast re-wrap); output is metadata-sized. */
  def recallAudit(truth: DataFrame, found: DataFrame, keyCols: Seq[String]): DataFrame = {
    val t = truth.select(keyCols.map(col): _*).distinct()
    val f = found.select(keyCols.map(col): _*).distinct()
    val hit = t.join(f, keyCols, "left_semi")
    t.agg(count(lit(1)).as("n_true"))
      .crossJoin(broadcast(f.agg(count(lit(1)).as("n_found"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_true"), col("n_found"), col("n_hit"),
        (col("n_true") - col("n_hit")).as("n_missed"),
        expr("CASE WHEN n_true = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE 1000 * n_hit DIV n_true END").as("recall_milli"))
  }

  /** Deterministic corpus slice for sampled recall auditing — the 100 TB
    * mode of [[recallAudit]] as CODE, not scaladoc: keep documents whose
    * portable hash of `salt:id` lands under `keepPermille` of 1000, run the
    * EXACT ground-truth pair join on the slice only (pair-join cost drops
    * by frac², e.g. 400‰ → 16% of the full cost), estimate the blocking
    * scheme's recall there, then ship the scheme corpus-wide. The slice is
    * a pure hash predicate — engine-portable (an oracle replays it
    * verbatim), stable across runs/partitionings, and pushdown-friendly
    * (a plain filter above the scan). Pair-level caveat: a truth pair
    * survives only when BOTH endpoints are kept (≈ frac² of pairs), so
    * size `keepPermille` to leave enough surviving pairs for the estimate —
    * Round11bSpec pins slice-vs-full agreement on the planted corpus. */
  def sampleSlice(docs: DataFrame, idCol: String, keepPermille: Long,
                  salt: String): DataFrame = {
    require(keepPermille >= 1 && keepPermille <= 1000,
      s"Dedup.sampleSlice: keepPermille must be in [1, 1000], got $keepPermille")
    docs.filter(PortableHash.hash60(
      concat_ws(":", lit(salt), col(idCol).cast("string"))) % 1000L < keepPermille)
  }

  /** Novelty-DECAY curve across ingest batches: for each batch, how many of
    * its distinct word-k-shingles were already seen in any EARLIER batch —
    * the curation-loop signal that a crawl source is going stale (novelty
    * decays toward zero as the corpus saturates). Composes q143's
    * seen/total counting with q140's integer EWMA, but in ONE pass: instead
    * of B reference joins (batch b vs union of batches < b — O(B·corpus)),
    * the first-seen batch per 60-bit shingle hash is computed with a single
    * hash-agg, and a shingle occurrence in batch b counts as seen iff its
    * first-seen batch is strictly earlier. Per-doc shingles are DISTINCT
    * ([[graft.ext.Shingles.wordShingles]] sets), so the counts match the
    * q143 semantics doc-by-doc.
    *
    * Output, one row per batch: `(batch, n_shingles, n_seen,
    * novelty_permille, ewma_permille)` with `novelty_permille =
    * ⌊1000·(n_shingles − n_seen)/n_shingles⌋` and `ewma_permille` the
    * running `(decay·acc + (1000−decay)·x) DIV 1000` fold over the
    * batch-ordered novelty series (q140's engine-exact integer EWMA).
    *
    * Scale: one shuffle on the shingle hash (first-seen agg + the join
    * back), one batch-grain aggregate; the EWMA fold runs on the collected
    * batch series, which is ingest-calendar-sized (days/weeks of batches),
    * never corpus-sized — same boundedness class as the q239 risk table. */
  def noveltyDecayByBatch(docs: DataFrame, batchCol: String, k: Int = 3,
                          idCol: String = "doc_id", textCol: String = "text",
                          decayPerMille: Long = 700L): DataFrame = {
    require(decayPerMille >= 0 && decayPerMille <= 1000,
      s"Dedup.noveltyDecayByBatch: decay must be in [0, 1000], got $decayPerMille")
    val cand = docs
      .select(col(idCol), col(batchCol).cast("long").as("batch"),
        explode(Shingles.wordShingles(col(textCol), k)).as("s"))
      .select(col("batch"), PortableHash.hash60(col("s")).as("h"))
    val firstSeen = cand.groupBy(col("h")).agg(min(col("batch")).as("fs"))
    val perBatch = cand.join(firstSeen, Seq("h"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fs") < col("batch"), 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty_permille",
        expr("(1000 * (n_shingles - n_seen)) DIV n_shingles"))
    val d = decayPerMille; val u = 1000L - decayPerMille
    // Running EWMA over the batch-ordered series: collected to ONE
    // batch-calendar-sized array (bounded by construction), prefix-folded
    // per element, re-exploded. No global window, no data-sized collect.
    perBatch
      .agg(array_sort(collect_list(struct(col("batch"), col("n_shingles"),
        col("n_seen"), col("novelty_permille")))).as("__s"))
      .select(explode(expr(
        s"""transform(__s, (r, i) -> named_struct(
           |  'batch', r.batch, 'n_shingles', r.n_shingles,
           |  'n_seen', r.n_seen, 'novelty_permille', r.novelty_permille,
           |  'ewma_permille',
           |  aggregate(slice(__s, 2, i), __s[0].novelty_permille,
           |    (acc, x) -> ($d * acc + $u * x.novelty_permille) DIV 1000)))"""
          .stripMargin)).as("r"))
      .select(col("r.batch").as("batch"), col("r.n_shingles").as("n_shingles"),
        col("r.n_seen").as("n_seen"),
        col("r.novelty_permille").as("novelty_permille"),
        col("r.ewma_permille").as("ewma_permille"))
  }

  /** [[removeNearDuplicates]] on the portable family (keep-lowest-id policy). */
  def removeNearDuplicatesPortable(docs: DataFrame, threshold: Double,
                                   idCol: String = "doc_id", textCol: String = "text",
                                   k: Int = 3, numHashes: Int = PortableNumHashes,
                                   bands: Int = PortableBands, seed: Long = PortableSeed): DataFrame = {
    val losers = minhashNearDuplicatesPortable(docs, threshold, idCol, textCol, k, numHashes, bands, seed)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Portable-family SimHash (60-bit — the full width of [[PortableHash.hash60]]):
    * same Charikar explode→agg construction as [[simhashSignatures]], oracle-reproducible.
    * Width matters at scale: a 32-bit variant with 8-bit blocks collided so often
    * at 10k docs that the candidate join went quadratic (500k+ pairs); 60 bits /
    * 15-bit blocks keeps block-collision probability at 1/32768 per block. */
  def simhashSignaturesPortable(docs: DataFrame, idCol: String = "doc_id",
                                textCol: String = "text", bits: Int = 60): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col(idCol), PortableHash.hash60(col("tok")).as("h"))
    val sumCols = (0 until bits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$j"))
    val packed = (0 until bits).map(j =>
        when(col(s"b$j") > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << j))
      .reduce(_ + _)
    exploded.groupBy(col(idCol))
      .agg(sumCols.head, sumCols.tail: _*)
      .select(col(idCol), packed.as("sig"))
  }

  /** [[simhashNearDuplicates]] on the portable 60-bit family: block matching over
    * `maxDistance + 1` blocks (pigeonhole — no false negatives), Hamming verify. */
  def simhashNearDuplicatesPortable(docs: DataFrame, maxDistance: Int = 3,
                                    idCol: String = "doc_id", textCol: String = "text",
                                    bits: Int = 60): DataFrame =
    hammingNearDuplicates(simhashSignaturesPortable(docs, idCol, textCol, bits),
      idCol, "sig", maxDistance, bits)

  /** 64-bit SimHash signatures, one row per document, packed into a BIGINT.
    * Charikar construction, explode→agg form: per token, bit j contributes
    * `±1` (`2·bit_j(xxhash64(token)) − 1`); 64 parallel `sum` aggregates per doc;
    * bit j of the signature is set iff its sum is positive (⟺ more than half the
    * tokens set bit j). All codegen'd, map-side combinable. */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("h"))
    val sumCols = (0 until 64).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$j"))
    val packed = (0 until 64).map(j =>
        when(col(s"b$j") > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << j))
      .reduce(_ + _)
    exploded.groupBy(col(idCol))
      .agg(sumCols.head, sumCols.tail: _*)
      .select(col(idCol), packed.as("sig"))
  }

  /** Hamming distance between two packed 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  /** Generic Hamming near-dup join over ANY packed `bits`-wide signature
    * column (text SimHash, image aHash/dHash, …): split the signature into
    * `maxDistance + 1` equal blocks — a pair within distance d must agree on
    * ≥ 1 block (pigeonhole, zero false negatives), so candidates come from
    * an equi-join on (block index, block value) and are then Hamming
    * verified. The shared engine under [[simhashNearDuplicates]] /
    * [[simhashNearDuplicatesPortable]] and the image perceptual-hash join
    * (q333). Scale: the join is equi on 8-byte keys; block width
    * `bits/(d+1)` sets candidate density — hub block values (constant image
    * regions) fan out quadratically, cap upstream if a corpus has them. */
  def hammingNearDuplicates(sigs: DataFrame, idCol: String, sigCol: String,
                            maxDistance: Int, bits: Int): DataFrame = {
    val nBlocks = maxDistance + 1
    require(bits % nBlocks == 0,
      s"hammingNearDuplicates: bits=$bits must divide into ${nBlocks} blocks " +
        "(an uncovered remainder bit would break the pigeonhole guarantee)")
    val width = bits / nBlocks
    val blocks = sigs.select(col(idCol), col(sigCol).as("__sig"),
      posexplode(transform(sequence(lit(0), lit(nBlocks - 1)),
        b => call_function("shiftright", col(sigCol), b * lit(width))
          .bitwiseAND(lit(if (width == 64) -1L else (1L << width) - 1))))
        .as(Seq("block", "block_val")))
    val a = blocks.as("a"); val b = blocks.as("b")
    a.join(b,
        col("a.block") === col("b.block") &&
          col("a.block_val") === col("b.block_val") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hamming(col("a.__sig"), col("b.__sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** SimHash near-duplicates with Hamming ≤ maxDistance, found by block matching:
    * split 64 bits into `maxDistance + 1` blocks — any pair within distance d must
    * agree on ≥ 1 block (pigeonhole), so candidates come from an equi-join on
    * (block index, block value). Zero false negatives, no cross join. */
  def simhashNearDuplicates(docs: DataFrame, maxDistance: Int = 3,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hammingNearDuplicates(simhashSignatures(docs, idCol, textCol),
      idCol, "sig", maxDistance, bits = 64)

  /** Non-overlapping `width`-word chunks of `text`, in order — the
    * "paragraph" unit for sub-document dedup when a corpus has no hard
    * paragraph breaks. A trailing remainder shorter than `width` words is its
    * own chunk, so every word belongs to exactly one chunk. */
  def textChunks(text: Column, width: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    // Column./ is DOUBLE division — cast back so `sequence` gets integers.
    transform(sequence(lit(0), ((size(toks) - 1) / width).cast("int")),
      i => array_join(slice(toks, i * width + 1, lit(width)), " "))
  }

  /** OVERLAPPING `width`-word windows every `stride` words — the chunking
    * unit of embedding/RAG pipelines, where overlap preserves context across
    * boundaries (vs [[textChunks]]' partition for dedup). Window starts are
    * 0, stride, 2·stride, … strictly below the token count, each window
    * takes up to `width` tokens; `stride < width` ⇒ consecutive windows
    * share `width − stride` tokens. Pure per-row expression — explodes to
    * ~n/stride chunk rows at scan speed, no shuffle. */
  def slidingChunks(text: Column, width: Int, stride: Int): Column = {
    require(width > 0 && stride > 0, "slidingChunks: width and stride must be positive")
    val toks = TextAnalysis.tokens(text)
    transform(sequence(lit(0), ((size(toks) - 1) / stride).cast("int")),
      i => array_join(slice(toks, i * stride + 1, lit(width)), " "))
  }

  /** Sub-document (paragraph-level) dedup, CCNet/Gopher-style: a chunk seen
    * in more than `maxDocFreq` DISTINCT documents is boilerplate (headers,
    * navigation, license blurbs) and is dropped from EVERY document; the
    * survivors are re-joined in original order.
    *
    * Whole-document dedup ([[minhashNearDuplicatesPortable]]) can't catch
    * this — boilerplate-heavy pages differ pairwise but share the template.
    * Returns (id, n_chunks, n_kept, clean_text).
    *
    * Scale: explode → distinct-doc count per chunk (map-side combinable word
    * count economics) → join back on the chunk string → re-assemble with one
    * doc-keyed aggregation. Three shuffles total, all on hash keys, no
    * windows and no driver state. The frequency table is corpus-global; at
    * 100 TB the heavy chunk keys are exactly the boilerplate ones — their
    * count rows are tiny (count ∝ distinct chunks) and AQE's skew handling
    * covers the join-back.
    */
  def dropBoilerplateChunks(docs: DataFrame, width: Int, maxDocFreq: Long,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = docs.select(col(idCol),
        posexplode(textChunks(col(textCol), width)).as(Seq("pos", "chunk")))
    val freq = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col(idCol)).as("__df"))
    chunks.join(freq, "chunk")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__df") <= maxDocFreq, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls `when` leaves for boilerplate chunks;
        // array_sort orders the survivor structs by pos (first field), so the
        // rebuilt text preserves original chunk order deterministically.
        array_join(transform(
            array_sort(collect_list(
              when(col("__df") <= maxDocFreq, struct(col("pos"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("clean_text"))
  }

  /** Survivorship / golden record: collapse every dedup GROUP to one
    * canonical row — the step after [[graft.ext.Graph.connectedComponents]]
    * turns near-dup pairs into groups. The winner per group maximizes
    * `(priority, id)` — e.g. longest text, ties to the highest id — via
    * `max(struct(priority, id, record))`: struct ordering is lexicographic
    * by field, so one map-side-combined AGGREGATE picks the winner and
    * carries its whole record, with no window function and no second join
    * back to the data. Records absent from `labels` (never in any pair) are
    * their own singleton component.
    *
    * Output: `(component, n_members, winner_<every record column>)`.
    *
    * Scale: one left join on the id (labels is ∝ matched ids, typically a
    * small fraction of the corpus — broadcastable) and one hash aggregate
    * on the component key; shuffle payload is one struct per record. */
  def goldenRecords(records: DataFrame, labels: DataFrame, idCol: String,
                    priority: Column): DataFrame = {
    val recCols = records.columns.toSeq
    val lab = labels.select(col("id").as("__lid"), col("component"))
    records.join(lab, col(idCol) === col("__lid"), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(priority.as("__p") +: col(idCol).as("__tie") +:
          recCols.map(c => col(c)): _*)).as("__w"))
      .select(col("component") +: col("n_members") +:
        recCols.map(c => col(s"__w.$c").as(s"winner_$c")): _*)
  }

  /** Column-level survivorship — the standard MDM step beyond
    * [[goldenRecords]]'s whole-row argmax: each OUTPUT COLUMN picks its own
    * winner, so the golden record can take its segment from the most
    * recently updated source, its free-text from the longest non-null
    * value, and its balance from a third rule — merging fields across
    * source rows instead of electing one row wholesale.
    *
    * Each policy is `(outputName, valueCol, orderBy)`: the output column is
    * `valueCol` from the group row maximizing
    * `(valueCol IS NOT NULL, orderBy, id)` — non-null always beats null,
    * then the policy's order decides, then the id breaks ties (total order
    * ⇒ deterministic). All-null groups yield NULL. Common policies are just
    * order expressions: most-recent non-null → `col("updated_at")`; longest
    * non-null → `length(col(c))`; greatest → `col(c)` itself.
    *
    * Scale: identical shape to [[goldenRecords]] — one left join on the id
    * plus ONE map-side-combinable aggregate; every policy is a `max(struct)`
    * in the same pass, no windows, no per-column self-joins (the naive MDM
    * formulation runs one ranked window per column — N shuffles where this
    * does one). */
  def goldenRecordsByColumn(records: DataFrame, labels: DataFrame, idCol: String,
                            policies: Seq[(String, String, Column)]): DataFrame = {
    require(policies.nonEmpty, "goldenRecordsByColumn: need at least one policy")
    val lab = labels.select(col("id").as("__lid"), col("component"))
    val grouped = records.join(lab, col(idCol) === col("__lid"), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .groupBy(col("component"))
    val aggs = count(lit(1)).as("n_members") +: policies.map { case (out, vc, ord) =>
      max(struct(col(vc).isNotNull.as("nn"), ord.as("o"),
        col(idCol).as("tie"), col(vc).as("v"))).getField("v").as(out)
    }
    grouped.agg(aggs.head, aggs.tail: _*)
  }

  /** Prefix-containment dedup: flag every document whose text is a PREFIX of
    * another document's text (truncated re-crawls, partial mirrors, cut-off
    * exports) — containment that shingle-Jaccard under-scores when the
    * lengths differ a lot, and that exact-hash dedup misses entirely.
    *
    * The trick that makes this one sorted pass instead of all-pairs: if
    * A ≤ B ≤ C lexicographically and A is a prefix of C, then A is a prefix
    * of B. So A is a prefix of SOME other doc iff A is a prefix of its
    * immediate lexicographic successor — a neighbor test, not a join.
    * (Successor equality ⇔ A has an exact copy; strict-prefix and exact-dup
    * are reported separately.)
    *
    * Distributed WITHOUT a global sort (the q97/Rank discipline): range-
    * partition by (text, id), freeze the layout to scratch parquet (range
    * boundary sampling is re-drawn per action otherwise), take the
    * per-partition successor with a PARTITION-LOCAL `lead()`, and close the
    * partition seams with each partition's first (text, id) — partition-count
    * METADATA rows, collected and broadcast back (the same license as the
    * Rank/IVF metadata collects). EAGER like [[graft.ext.Rank.valueAtRanks]]:
    * `consume` must drain the flagged frame inside the scope (the scratch
    * files are deleted on exit).
    *
    * Output columns: the input's, plus `succ_starts_with` (successor exists
    * and starts with this text) and `succ_equal` (successor IS this text —
    * an exact duplicate). */
  def prefixDuplicates[T](docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", numPartitions: Int = 32)
                         (consume: DataFrame => T): T = {
    val spark = docs.sparkSession
    graft.engine.Scratch.withTempDir("graft-prefix-") { tmp =>
      docs.repartitionByRange(numPartitions, col(textCol), col(idCol))
        .withColumn("__pid", spark_partition_id())
        .write.mode("overwrite").parquet(s"$tmp/t")
      val parts = spark.read.parquet(s"$tmp/t")

      // First (text, id) of each partition — one row per partition.
      val firsts = parts.groupBy(col("__pid"))
        .agg(min(struct(col(textCol).as("t"), col(idCol).as("i"))).as("f"))
        .collect().map(r => (r.getInt(0), r.getStruct(1).getString(0)))
        .sortBy(_._1)
      // Successor partition's first text, for each partition's LAST row.
      // Empty partitions never appear in `firsts`, so the lookup naturally
      // skips them.
      val nextFirst = firsts.map { case (pid, _) =>
        (pid, firsts.collectFirst { case (p2, t2) if p2 > pid => t2 }.orNull)
      }
      val nextDf = spark.createDataFrame(nextFirst.toList)
        .toDF("__pid", "__next_text")

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__pid")).orderBy(col(textCol), col(idCol))
      val flagged = parts
        .withColumn("__succ_local", lead(col(textCol), 1).over(w))
        .join(broadcast(nextDf), Seq("__pid"))
        .withColumn("__succ", coalesce(col("__succ_local"), col("__next_text")))
        .withColumn("succ_starts_with",
          col("__succ").isNotNull && col("__succ").startsWith(col(textCol)))
        .withColumn("succ_equal",
          col("__succ").isNotNull && col("__succ") === col(textCol))
        .drop("__pid", "__succ_local", "__next_text", "__succ")
      consume(flagged)
    }
  }

  /** EXACT set-similarity self-join by prefix filtering — all document pairs
    * with shingle-Jaccard ≥ τ, with GUARANTEED complete recall (the
    * deterministic counterpart to MinHash banding, whose recall is
    * probabilistic). Implemented from the published prefix-filter principle
    * (Chaudhuri et al. 2006 / PPJoin, Xiao et al. 2008 — the pigeonhole
    * argument, no reference code):
    *
    * order every document's shingles by a GLOBAL total order (corpus
    * frequency ascending, then shingle — rarest first, fewest candidates) and
    * keep only the first `|x| − ⌈τ·|x|⌉ + 1` as the document's PREFIX. If
    * Jaccard(x,y) ≥ τ then `|x∩y| ≥ τ·|x∪y| ≥ τ·max(|x|,|y|)`, so fewer than
    * `|x| − ⌈τ·|x|⌉ + 1` of x's tokens lie outside the intersection — every
    * qualifying pair therefore shares at least one PREFIX token, and the
    * candidate set from the prefix-token equi-join is complete. Candidates
    * additionally pass the length filter (`1000·min(n) ≥ τ‰·max(n)` — a
    * Jaccard ≥ τ pair cannot differ in size by more than τ) before the exact
    * integer verify `1000·|x∩y| ≥ τ‰·|x∪y|`.
    *
    * Scale shape: the prefix join is an EQUI-join on shingle strings whose
    * left/right sizes are prefix-token rows (≈ (1−τ)·corpus shingles), never
    * an all-pairs product; frequency ordering puts the rarest shingles in
    * prefixes, so candidate fan-out per token is small; the verify runs set
    * intersection ONLY on surviving candidates. The oracle is the naive
    * quadratic join, so completeness is hash-PROVEN each round, not argued
    * (the q129 discipline). All comparisons integer — τ in per-mille.
    *
    * Output: `(id_a, id_b, inter_size, union_size)` for every pair with
    * `id_a < id_b` and Jaccard ≥ τ. */
  def prefixFilterJaccardPairs(docs: DataFrame, k: Int, tauMilli: Long,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    require(tauMilli >= 1 && tauMilli <= 1000,
      s"prefixFilterJaccardPairs: tau must be in (0, 1] per-mille, got $tauMilli")
    // The shingle projection feeds the frequency table, the prefixes, and the
    // verify joins; recomputing it per consumer measured FASTER than a
    // persisted copy here (columnar cache of short array<string> rows broke
    // join codegen for no scan savings — the parquet scan is trivial).
    val sh = shingleSets(docs, k, idCol, textCol)
    val toks = sh.select(col(idCol), explode(col("sh")).as("s"))
    val freq = toks.groupBy(col("s")).agg(count(lit(1)).as("f"))
    // Rarest-first sorted shingles per doc, cut to the prefix length
    // n − ceil(τ·n) + 1 (integer ceil: (τ‰·n + 999) DIV 1000).
    val prefixes = toks.join(freq, Seq("s"))
      .groupBy(col(idCol))
      .agg(expr("transform(array_sort(collect_list(struct(f, s))), r -> r.s)")
        .as("__ord"))
      .select(col(idCol), size(col("__ord")).as("n"),
        explode(expr(s"slice(__ord, 1, " +
          s"size(__ord) - CAST(($tauMilli * size(__ord) + 999) DIV 1000 AS INT) + 1)"))
          .as("s"))
    val candidates = prefixes.select(col(idCol).as("id_a"), col("n").as("na"), col("s"))
      .join(prefixes.select(col(idCol).as("id_b"), col("n").as("nb"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("na"), col("nb")) * 1000L
        >= greatest(col("na"), col("nb")) * tauMilli)
      .select(col("id_a"), col("id_b"))
      .distinct()
    candidates
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter_size"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("union_size"))
      .filter(col("inter_size") * 1000L >= col("union_size") * tauMilli)
  }

  /** Seed-and-extend overlap-span forensics: for every candidate document
    * pair, the LENGTH of the longest contiguous run of shared word 3-grams —
    * the evidence a contamination/plagiarism review needs after set-level
    * dedup (q24/q61) says "these overlap": set Jaccard cannot distinguish
    * 50 scattered shared shingles from one 50-shingle verbatim span.
    *
    * The genomics/plagiarism seed-and-extend shape (BLAST's strategy, here
    * over word shingles), each stage bounded:
    *   1. POSITIONED 3-gram shingles per doc (one explode pass);
    *   2. document-frequency cap `dfCap`: stop-shingles that occur in many
    *     places join quadratically and carry no span evidence — dropped,
    *     same license as the graph ops' hub-degree cap;
    *   3. ANCHOR seeds: shingles with `hash % anchorMod == 0` — candidate
    *     pairs come from the sparse anchor equi-join, cost ∝ corpus/anchorMod,
    *     at the price of missing pairs whose overlap contains no anchor
    *     (run ≥ anchorMod shingles ⇒ an anchor is expected inside; shorter
    *     runs may be missed — the documented recall/cost dial);
    *   4. EXTEND: full (df-capped) shingle equi-join restricted to candidate
    *     pairs (semi-join), emitting (posA, posB) matches;
    *   5. matches on one DIAGONAL (posA − posB) that are consecutive form a
    *     run — the island trick (posA − row_number per (pair, diagonal)),
    *     keyed windows only.
    *
    * Output per pair: `(id_a, id_b, n_shared, max_run_grams, max_run_words)`
    * with `max_run_words = max_run_grams + 2` (a run of r 3-grams spans r+2
    * words). All counts over df-capped shingles (documented). */
  def overlapSpans(docs: DataFrame, idCol: String, textCol: String,
                   anchorMod: Int = 8, dfCap: Int = 10): DataFrame = {
    require(anchorMod >= 1 && dfCap >= 1, s"bad anchorMod=$anchorMod dfCap=$dfCap")
    val toks = docs
      .select(col(idCol).as("doc"), split(trim(col(textCol)), "\\s+").as("tk"))
      .where(size(col("tk")) >= 3)
    val psh = toks.select(col("doc"), expr(
      "explode(transform(sequence(1, size(tk) - 2), " +
        "i -> struct(CAST(i AS BIGINT) AS pos, concat_ws(' ', slice(tk, i, 3)) AS g)))"))
      .select(col("doc"), col("col.pos").as("pos"),
        PortableHash.hash60(col("col.g")).as("h"))
    val df = psh.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .where(col("n") <= dfCap).select(col("h"))
    val capped = psh.join(df, Seq("h"))
    val anchors = capped.where(pmod(col("h"), lit(anchorMod.toLong)) === 0)
    val cand = anchors.as("a")
      .join(anchors.as("b"), expr("a.h = b.h AND a.doc < b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b")).distinct()
    val matches = capped.as("a")
      .join(capped.as("b"), expr("a.h = b.h AND a.doc < b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .join(cand, Seq("id_a", "id_b"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("diag")).orderBy(col("pa"))
    val runs = matches
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
    runs.groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("run")).as("n_shared"), max(col("run")).as("max_run_grams"))
      .withColumn("max_run_words", col("max_run_grams") + 2L)
  }

  /** EXACT substring dedup, suffix-array class (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — public
    * literature): find every maximal character span that lies inside some
    * substring of length ≥ `minLen` occurring ≥ 2 times ANYWHERE in the
    * corpus (other docs or elsewhere in the same doc). The canonical
    * operator a curation pipeline runs right after MinHash: set-level dedup
    * keeps one copy per near-dup GROUP; this removes the verbatim boilerplate
    * (licenses, headers, quoted chain-mail) that repeats inside otherwise
    * distinct documents.
    *
    * Window equivalence (why no suffix array is needed): a character
    * position is inside a repeated substring of length ≥ L iff one of the
    * length-L windows covering it is repeated — every length-≥L repeat is a
    * union of repeated length-L windows, and every repeated window IS a
    * length-L repeat. So corpus-wide duplicate detection reduces to an
    * EXACT duplicate test over the length-L windows, and maximal spans
    * fall out of the gaps-and-islands merge over covered positions.
    *
    * The duplicate test runs in TWO passes so the full-corpus exchange never
    * carries the window string (the round-13 shuffle diet):
    *   1. positions `1..len−L+1` exploded per doc; the row shuffled for the
    *      corpus-wide test is `(doc, pos, Md5Prefix60(window))` — a fixed
    *      24-byte row keyed by the 8-byte hash, not the L-char string
    *      (~46 bytes/row at L=30). The window string is computed and
    *      consumed INSIDE the map stage (generate+project+hash fuse under
    *      whole-stage codegen); it never reaches an exchange. Hash groups
    *      with count ≥ 2 yield CANDIDATE positions — a superset of the true
    *      duplicates (equal strings hash equal: zero false negatives).
    *   2. exactness license: candidate positions are re-joined to their doc
    *      texts (positions packed per doc — ONE row per doc crosses that
    *      exchange, the text shuffled once, not once per window), the
    *      window re-derived, and the final test is string equality among
    *      candidates: count-over-window on the STRING key ≥ 2. A 60-bit
    *      collision can only ADD candidates to pass 1; pass 2 discards
    *      them, so the answer equals the all-string-keyed form exactly
    *      (Round12Spec certifies completeness against a naive
    *      all-substrings oracle). Pass 2's exchange is duplicate-mass
    *      sized, not corpus sized.
    *   3. maximal spans: per-DOC window (never global), islands split where
    *      the gap exceeds L (adjacent windows `pos₂ = pos₁ + L` merge —
    *      their char coverage is contiguous).
    *
    * Skew note (shared with the keep-first variant): an ULTRA-frequent
    * window — license boilerplate, a repeated header, exactly the target
    * corpus — funnels all its occurrences into ONE hash partition in pass 1
    * and one string partition in pass 2, a single-task hotspot (the
    * [[hammingNearDuplicates]] hub problem in window form). count() is
    * cheap per row, so the hotspot is bandwidth-bound, not compute-bound;
    * if one window approaches a task's row budget at 100 TB, pre-aggregate
    * `groupBy(h).count` with a frequency sketch and divert the top keys to
    * a dedicated pass. The keep-first path used to additionally SORT inside
    * the hot partition for a row_number; it now takes an unordered
    * min(struct) over the same partition — O(m) in the hub window instead
    * of m·log m, no secondary sort.
    *
    * Output one row per maximal span: `(doc, span_start, span_end)`
    * (1-based, inclusive). Span mass per doc = Σ(span_end − span_start + 1).
    * Docs shorter than `minLen` never participate. */
  def duplicateSubstringSpans(docs: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text",
                              minLen: Int = 30): DataFrame = {
    require(minLen >= 2, s"duplicateSubstringSpans: minLen must be >= 2, got $minLen")
    val candG = verifiedCandidateWindows(docs, idCol, textCol, minLen)
    // duplicate test as ONE count-over-window keyed by the window string:
    // a groupBy + join-back would shuffle the keys TWICE (most windows are
    // unique, so map-side partial aggregation buys nothing); the window
    // form shuffles them once (measured 8.5s → ~3s at sf0.1)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val covered = candG
      .withColumn("__n", count(lit(1)).over(wg))
      .where(col("__n") >= 2L).select(col("doc"), col("pos"))
    mergeSpans(covered, minLen)
  }

  /** KEEP-FIRST variant of [[duplicateSubstringSpans]] — the REMOVAL plan
    * rather than the audit: per duplicated window, the globally FIRST
    * occurrence (smallest `(doc, pos)`) survives and every LATER occurrence
    * is marked for removal, so each repeated region keeps exactly one copy
    * corpus-wide (the Lee et al. 2022 dedup action). Same two-pass
    * hash-then-verify exchange as the audit — the corpus-first occurrence
    * is an unordered `min(struct(doc, pos))` window over the verified
    * candidate set, keyed by the exact window string, so keep-first costs
    * nothing extra (and no per-window sort — see the audit's skew note).
    * The choice is EXACT: the corpus-first occurrence of any duplicated
    * string is itself a pass-1 candidate (its hash group has ≥ 2 members),
    * so the struct minimum is always the true corpus-first copy, never a
    * collision artifact.
    *
    * Output: `(doc, span_start, span_end)` maximal REMOVAL spans. The
    * removal mass is always ≤ the audit's span mass, and a doc whose
    * duplicated content is the corpus-first copy loses nothing. */
  def duplicateSubstringSpansKeepFirst(docs: DataFrame, idCol: String = "doc_id",
                                       textCol: String = "text",
                                       minLen: Int = 30): DataFrame = {
    require(minLen >= 2,
      s"duplicateSubstringSpansKeepFirst: minLen must be >= 2, got $minLen")
    val candG = verifiedCandidateWindows(docs, idCol, textCol, minLen)
    // corpus-first occurrence as an UNORDERED min(struct) window rather
    // than a row_number over ORDER BY (doc, pos): the answer is identical
    // ((doc, pos) is unique, so rank 1 ⟺ equals the struct minimum), but
    // the window needs no secondary sort — inside an ULTRA-frequent
    // window's partition (license boilerplate; the hub-skew note above)
    // that was an m·log m sort in one task, now a single O(m) min pass.
    // "later than the minimum" alone IS the duplicate test: a string
    // unique in the corpus (a candidate only via hash collision) equals
    // its own minimum and never marks anything.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val covered = candG
      .withColumn("__first", min(struct(col("doc"), col("pos"))).over(wg))
      .where(struct(col("doc"), col("pos")) =!= col("__first"))
      .select(col("doc"), col("pos"))
    mergeSpans(covered, minLen)
  }

  /** All length-`minLen` character windows of every doc ≥ `minLen` chars:
    * `(doc, pos, g)`, 1-based positions — the shared explode under the
    * substring-dedup family. */
  private def positionedWindows(docs: DataFrame, idCol: String,
                                textCol: String, minLen: Int): DataFrame =
    docs.select(col(idCol).as("doc"), col(textCol).as("__t"))
      .where(length(col("__t")) >= minLen)
      .select(col("doc"), col("__t"),
        explode(expr(s"sequence(1L, CAST(length(__t) - ${minLen - 1} AS BIGINT))"))
          .as("pos"))
      .select(col("doc"), col("pos"),
        expr(s"substring(__t, CAST(pos AS INT), $minLen)").as("g"))

  /** Shared two-pass candidate machinery of the substring-dedup family:
    * returns `(doc, pos, g)` for every window position whose 60-bit window
    * hash occurs ≥ 2 times corpus-wide, with the window string `g`
    * RE-DERIVED from the doc text for those positions only. Pass 1's
    * corpus-wide exchange carries `(doc, pos, Md5Prefix60(g))` — 8-byte key,
    * no string; pass 2 packs candidate positions per doc (one row per doc
    * crosses the join exchange) and recomputes the substring beside the
    * text. Callers apply the exact string-keyed duplicate test / rank on
    * the result — a superset of the true duplicates, so the final
    * string-equality test makes the whole pipeline collision-safe. */
  private def verifiedCandidateWindows(docs: DataFrame, idCol: String,
                                       textCol: String, minLen: Int): DataFrame = {
    val hashed = hashedWindows(docs, idCol, textCol, minLen)
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    val cand = hashed
      .withColumn("__n", count(lit(1)).over(wh))
      .where(col("__n") >= 2L)
      .select(col("doc"), col("pos"))
    rederiveWindows(docs, idCol, textCol, minLen, cand)
  }

  /** Pass-1 hash rows of the substring family: `(doc, pos, __h)` with
    * `__h = Md5Prefix60(window)` — the 24-byte row that is the ONLY thing
    * the corpus-wide exchange ever carries. */
  private def hashedWindows(docs: DataFrame, idCol: String,
                            textCol: String, minLen: Int): DataFrame = {
    import graft.functions.HashFunctions.md5Prefix60
    positionedWindows(docs, idCol, textCol, minLen)
      .select(col("doc"), col("pos"), md5Prefix60(col("g")).as("__h"))
  }

  /** Pass-2 string re-derivation: join candidate positions back to the doc
    * texts (packed — ONE row per doc crosses the exchange) and recompute
    * each window string beside its text. */
  private def rederiveWindows(docs: DataFrame, idCol: String, textCol: String,
                              minLen: Int, cand: DataFrame): DataFrame = {
    val candByDoc = cand.groupBy(col("doc"))
      .agg(collect_list(col("pos")).as("__ps"))
    docs.select(col(idCol).as("doc"), col(textCol).as("__t"))
      .join(candByDoc, Seq("doc"))
      .select(col("doc"), col("__t"), explode(col("__ps")).as("pos"))
      .select(col("doc"), col("pos"),
        expr(s"substring(__t, CAST(pos AS INT), $minLen)").as("g"))
  }

  /** HUB-CAPPED keep-first substring dedup — the skew note of
    * [[duplicateSubstringSpans]] built instead of documented: an
    * ultra-frequent window (license boilerplate, a repeated header) with
    * 10⁹ occurrences would otherwise funnel every occurrence into ONE hash
    * partition in pass 1 and one string partition in pass 2 — a single
    * task owning the hub regardless of cluster size. Here the pass-1
    * per-hash count comes from `groupBy(hash).count` (map-side combinable:
    * each task contributes ONE partial row for the hub key, so the hub
    * never lands in one partition even to be counted), over-cap hash keys
    * — a tiny set, broadcast — are removed with a map-only anti join, and
    * only then does the windowed duplicate test run. Over-cap windows are
    * DROPPED from the removal plan (conservative: their occurrences are
    * kept, never mis-removed) and reported via [[substringHubAudit]] so
    * the dropped mass is visible, the [[hammingNearDuplicates]] /
    * basket-cap discipline (count on the narrow key, divert over-cap,
    * report).
    *
    * The cap key is the 60-bit HASH, not the string: the true hub is
    * always caught (its hash group is at least as large as its string
    * group), and a collision can only push an innocent window over the
    * cap — dropping it is the same conservative under-removal, and the
    * audit row makes it visible. Deterministic either way, so the oracle
    * replays the cap exactly. `maxOccurrences` must be ≥ 2. */
  def duplicateSubstringSpansKeepFirstCapped(docs: DataFrame,
                                             idCol: String = "doc_id",
                                             textCol: String = "text",
                                             minLen: Int = 30,
                                             maxOccurrences: Long = 100000L): DataFrame = {
    require(minLen >= 2 && maxOccurrences >= 2L,
      s"duplicateSubstringSpansKeepFirstCapped: bad args ($minLen, $maxOccurrences)")
    // ONE per-hash count serves both the cap and the duplicate test
    // (round 17, guide §2.4): the cap's map-side-combinable
    // groupBy(hash).count already exists, so the windowed count-over-
    // partition the uncapped variants use — a second full exchange AND
    // sort of every window row — is redundant here. Candidates are the
    // rows whose hash counts in [2, cap], fetched with a semi join
    // against the duplicate-mass-sized key set (AQE broadcasts it at
    // small scale, sort-merges at 100 TB); identical output: the old
    // anti-join-then-window kept exactly the keys with 2 ≤ total ≤ cap.
    // The hashed rows (24 bytes each — never the window string) are
    // CACHED: the count and the probe both consume them, and the
    // broadcast build otherwise SERIALIZES two full explode+md5
    // generation passes that the old two-exchange shape ran concurrently
    // (measured 7.2→10.7s before the cache; the generation is the
    // query's CPU cost and now runs once).
    val hashed = hashedWindows(docs, idCol, textCol, minLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = hashed.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2L && col("__n") <= maxOccurrences)
      .select(col("__h"))
    val cand = hashed.join(dup, Seq("__h"), "left_semi")
      .select(col("doc"), col("pos"))
    val candG = rederiveWindows(docs, idCol, textCol, minLen, cand)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val covered = candG
      .withColumn("__first", min(struct(col("doc"), col("pos"))).over(wg))
      .where(struct(col("doc"), col("pos")) =!= col("__first"))
      .select(col("doc"), col("pos"))
    mergeSpans(covered, minLen)
  }

  /** The cap's AUDIT side: one row per over-cap window hash —
    * `(window_hash, n_occurrences)` — so the mass the capped dedup
    * declines to process is reported, never silently vanished. Same
    * map-side-combinable `groupBy(hash).count` as the cap itself; output
    * is hub-count-sized (tiny by definition of "hub"). The 60-bit hash is
    * the portable md5-60 family, so an oracle replays the audit rows
    * exactly. */
  def substringHubAudit(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", minLen: Int = 30,
                        maxOccurrences: Long = 100000L): DataFrame = {
    require(minLen >= 2 && maxOccurrences >= 2L,
      s"substringHubAudit: bad args ($minLen, $maxOccurrences)")
    hashedWindows(docs, idCol, textCol, minLen)
      .groupBy(col("__h")).agg(count(lit(1)).as("n_occurrences"))
      .where(col("n_occurrences") > maxOccurrences)
      .select(col("__h").as("window_hash"), col("n_occurrences"))
  }

  /** Gaps-and-islands merge of covered `(doc, pos)` windows into maximal
    * spans `(doc, span_start, span_end)` — islands split where the gap
    * exceeds `minLen` (adjacent windows' char coverage is contiguous). */
  private def mergeSpans(covered: DataFrame, minLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
    covered
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__island",
        sum(when(col("__prev").isNull || col("pos") - col("__prev") > minLen, 1L)
          .otherwise(0L)).over(w))
      .groupBy(col("doc"), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (minLen - 1).toLong).as("span_end"))
      .select(col("doc"), col("span_start"), col("span_end"))
  }
}
