package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * Rationale: `df.sample()` draws from partition-local RNG streams, so the
  * selected set changes with partitioning, task retries, and engine — a
  * training-corpus sample must instead be a pure FUNCTION of the row, so the
  * same corpus always yields the same sample (reproducible ablations,
  * diffable reruns, cross-engine audits). The standard trick: keep a row iff
  * `hash(salt ‖ id) mod 1000 < rate_per_mille`, here on the portable md5
  * family ([[PortableHash]]) so an independent SQL engine selects the
  * IDENTICAL rows (SparkEntry's oracle replays it).
  *
  * Scale: a scan + codegen'd filter — no shuffle, no RNG state, trivially
  * parallel; changing `salt` draws an independent sample.
  */
object Sampling {

  /** Per-stratum keep rates (per-mille) used by the q50 driver query — shared
    * with the oracle-SQL builder so both engines use identical constants. */
  val LangRatesPerMille: Map[String, Long] =
    Map("en" -> 500L, "de" -> 300L, "es" -> 300L, "fr" -> 300L, "zh" -> 200L)
  val DefaultRatePerMille: Long = 100L
  val SampleSalt: String = "sample"

  /** Keep each row iff `hash60(salt:id) mod 1000 < ratesPerMille(stratum)`
    * (falling back to `defaultPerMille` for unlisted strata). Rates are exact
    * in expectation per stratum and the decision is per-row deterministic. */
  /** Greedy maximum-coverage selection: pick `rounds` documents, each round
    * taking the doc that covers the most word-3-shingles NOT yet covered by
    * earlier picks (ties → smallest doc_id). The classical (1−1/e)-
    * approximation to max-coverage — the "select a maximally-DIVERSE eval /
    * annotation subset" step, where top-k-by-length would pick near-clones.
    *
    * Output: `(round, doc_id, n_new, n_covered)` — the winner per round, its
    * marginal gain, and the cumulative covered-shingle count.
    *
    * Scale per round: one anti-join of the (doc, shingle) table against the
    * covered set (shuffle on the shingle — covered is picks-sized, tiny) +
    * one map-side-combined count + a TakeOrdered(1); the driver holds one
    * winner row per round. `rounds` is small by construction (a human-sized
    * shortlist), so the loop is bounded; the covered set is persisted
    * per round and bounded by `rounds · shingles-per-doc`. */
  def greedyCoverage(docs: DataFrame, rounds: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(rounds >= 1, s"greedyCoverage: rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    val f = Frames.scope()
    val shd = f.persist(Dedup.shingleSets(docs, 3, idCol, textCol)
      .select(col(idCol), explode(col("sh")).as("g")).distinct())
    // each round's `covered` supersedes the previous one; materialize the new
    // frame, then release the old — otherwise cached partitions + lineage
    // accumulate across rounds (and leak past the call).
    var covered = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g",
          org.apache.spark.sql.types.StringType))))
    try {
      var nCovered = 0L
      val picks = (1 to rounds).map { round =>
        val winner = shd.join(covered, Seq("g"), "left_anti")
          .groupBy(col(idCol)).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col(idCol).asc).limit(1)
          .collect().headOption.map(r => (r.getLong(0), r.getLong(1)))
          .getOrElse((-1L, 0L)) // all shingles covered: sentinel, gain 0
        nCovered += winner._2
        val prev = covered
        covered = f.keep(covered.unionAll(
            shd.filter(col(idCol) === winner._1).select(col("g")))
          .distinct()) // materialize before cutting the predecessor loose
        f.release(prev) // round 1's empty seed is not the scope's: a no-op
        (round, winner._1, winner._2, nCovered)
      }
      spark.createDataFrame(picks.toList)
        .toDF("round", "doc_id", "n_new", "n_covered")
    } finally {
      f.release(shd)
      f.release(covered)
    }
  }

  /** Iterative proportional fitting (RAKING) of cell weights to target
    * marginals, in integer milli-weights — the mixture-balancing pass for
    * "reweight the corpus so language shares hit the target AND quality-
    * bucket shares hit theirs simultaneously". Classic IPF alternates
    * row-step and column-step; every update is
    * `w ← ⌊w · t · N / M⌋` (t = target per-mille share, N = row count,
    * M = current weighted mass of the stratum, all in DECIMAL(38,0) with
    * truncation toward zero), so any engine replays the same integers —
    * float IPF converges to the same place but never to the same bits.
    *
    * `iters` full row+column rounds; targets must cover every observed
    * level (a missing level raises loudly rather than silently zeroing).
    * A cell whose weight truncates to 0 stays 0 (absorbing — standard IPF
    * behavior on structural zeros); with targets ≥ ~100‰ and the 1000-milli
    * starting weight this needs pathological skew to occur.
    * Output: one row per observed (row, col) cell —
    * `(rowv, colv, n_rows, w_milli)`; Σ n·w/1000 per stratum approaches
    * `target·N/1000` to integer precision.
    *
    * Scale: the cell table is a map-side-combined aggregate at
    * levels×levels (alphabet-sized); each step is a broadcast-joined
    * re-weighting of that metadata-sized frame — `iters` is a literal
    * constant, never data-driven. */
  def rakeWeights(df: DataFrame, rowCol: Column, colCol: Column,
                  rowTargetPermille: Seq[(String, Long)],
                  colTargetPermille: Seq[(String, Long)],
                  iters: Int): DataFrame = {
    require(iters >= 1, s"rakeWeights: iters must be >= 1, got $iters")
    require(rowTargetPermille.map(_._2).sum == 1000L && colTargetPermille.map(_._2).sum == 1000L,
      "rakeWeights: each target marginal must sum to 1000 per-mille")
    def targetExpr(c: Column, targets: Seq[(String, Long)], axis: String): Column = {
      val folded = targets.foldLeft(lit(null).cast("long")) {
        case (acc, (k, v)) => when(c === k, lit(v)).otherwise(acc)
      }
      when(folded.isNotNull, folded).otherwise(raise_error(
        concat(lit(s"rakeWeights: no $axis target for level "), c)))
    }
    val cells0 = df.groupBy(rowCol.as("rowv"), colCol.as("colv"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("w_milli", lit(1000L))
      .withColumn("__rt", targetExpr(col("rowv"), rowTargetPermille, "row"))
      .withColumn("__ct", targetExpr(col("colv"), colTargetPermille, "column"))
    val tot = cells0.agg(sum(col("n_rows")).as("__n"))
    def step(cells: DataFrame, axis: String, t: String): DataFrame = {
      val mass = cells.groupBy(col(axis))
        .agg(sum(col("n_rows") * col("w_milli")).as("__mass"))
      cells.join(broadcast(mass), axis)
        .crossJoin(broadcast(tot))
        .withColumn("w_milli", expr(
          s"CAST((CAST(w_milli AS DECIMAL(38,0)) * $t * __n) DIV __mass AS BIGINT)"))
        .drop("__mass", "__n")
    }
    val raked = (1 to iters).foldLeft(cells0) { (c, _) =>
      step(step(c, "rowv", "__rt"), "colv", "__ct")
    }
    raked.select(col("rowv"), col("colv"), col("n_rows"), col("w_milli"))
  }

  /** Largest-remainder (Hamilton) quota allocation: split a `total` budget
    * across groups proportionally to their row counts, EXACTLY — each group
    * gets `⌊total·c/C⌋`, and the `total − Σ⌊·⌋` leftover seats go to the
    * largest remainders (ties to the smaller group key). The "how many docs
    * per source for the target mixture" computation: float shares rounded
    * per-group never sum back to the budget; this always does, and it's
    * deterministic.
    *
    * Output: `(group, n_rows, quota)` with Σquota = total exactly.
    *
    * Scale: one map-side-combined count aggregate; the leftover-seat pick is
    * a TakeOrdered over the GROUP table (group-cardinality-sized, not data-
    * sized) against a broadcast one-row total — no window over data, no
    * global sort. The one `collect` is the leftover count k (one row). */
  def largestRemainderQuotas(df: DataFrame, groupCol: Column, total: Long): DataFrame = {
    require(total >= 0, s"largestRemainderQuotas: total must be >= 0, got $total")
    val counts = df.groupBy(groupCol.as("group"))
      .agg(count(lit(1)).as("n_rows"))
    mixtureQuotas(counts, "group", "n_rows", total)
  }

  /** [[largestRemainderQuotas]] generalized to an EXPLICIT target weight per
    * group: `weights` holds one row per group with a non-negative integer
    * weight (a target-mixture permille, a priority score — anything
    * proportional to the group's intended share), and the `total` budget is
    * split `⌊total·w/Σw⌋` + largest-remainder top-up (ties to the smaller
    * group key). This is the quality-reweighting primitive: proportional-
    * to-COUNT allocation is the `weight = n_rows` special case the method
    * above delegates here.
    *
    * Output: `(group, <weightCol>, quota)` with Σquota = total exactly.
    * Same scale shape as [[largestRemainderQuotas]]: all work is over the
    * group-cardinality table; the one collect is the leftover count. */
  def mixtureQuotas(weights: DataFrame, groupCol: String, weightCol: String,
                    total: Long): DataFrame = {
    require(total >= 0, s"mixtureQuotas: total must be >= 0, got $total")
    val w = weights.select(col(groupCol).as("group"),
      col(weightCol).cast("long").as("__w"))
    // Enforce the scaladoc's weight contract IN the plan: a negative weight
    // or an all-zero sum would make the DIV/% arithmetic yield NULL and
    // surface only as an opaque NPE at the leftover-count collect. The guard
    // rides the same one-row aggregate the total already needs.
    val withTot = w.crossJoin(
      broadcast(w.agg(sum(col("__w")).as("__tot"), min(col("__w")).as("__wmin"))
        .select(
          when(col("__wmin") < 0L, expr(
            "raise_error('mixtureQuotas: negative weight')").cast("long"))
            .when(col("__tot").isNull || col("__tot") <= 0L, expr(
              "raise_error('mixtureQuotas: weight sum must be > 0')").cast("long"))
            .otherwise(col("__tot")).as("__tot"))))
      .withColumn("__floor", expr(s"(${total}L * __w) DIV __tot"))
      .withColumn("__rem", expr(s"(${total}L * __w) % __tot"))
    val k = total - withTot.agg(sum(col("__floor"))).head().getLong(0)
    val topUp = withTot.orderBy(col("__rem").desc, col("group").asc)
      .limit(k.toInt).select(col("group"), lit(1L).as("__bump"))
    withTot.join(topUp, Seq("group"), "left")
      .select(col("group"), col("__w").as(weightCol),
        (col("__floor") + coalesce(col("__bump"), lit(0L))).as("quota"))
  }

  def stratifiedSample(df: DataFrame, idCol: Column, stratum: Column,
                       ratesPerMille: Map[String, Long], defaultPerMille: Long,
                       salt: String = SampleSalt): DataFrame = {
    // Sorted fold => deterministic plan regardless of Map iteration order.
    val rate = ratesPerMille.toSeq.sortBy(_._1).foldLeft(lit(defaultPerMille)) {
      case (acc, (k, v)) => when(stratum === k, lit(v)).otherwise(acc)
    }
    df.filter(
      PortableHash.hash60(concat_ws(":", lit(salt), idCol.cast("string"))) % 1000L < rate)
  }

  /** Domain balancing: keep at most `cap` rows per group (e.g. source
    * domain), chosen by deterministic hash priority instead of "whichever
    * rows a scan happens to meet first".
    *
    * Web corpora are power-law distributed over domains; without a cap the
    * top domains drown the tail. Ranking by `hash60(salt:id)` (ties by id)
    * makes the kept set a pure function of the data — stable under
    * repartitioning, retries, and engines (the oracle replays it as a
    * ROW_NUMBER window). One shuffle on the group key; the per-group state is
    * the rank counter. With a heavy-hitter domain the window partition is
    * skewed — for that shape, pre-filter with [[stratifiedSample]] at an
    * estimated rate first so the exact cap only trims the remainder. */
  def capPerGroup(df: DataFrame, groupCol: Column, idCol: Column, cap: Int,
                  salt: String = SampleSalt): DataFrame = {
    val pri = PortableHash.hash60(concat_ws(":", lit(salt), idCol.cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(pri, idCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Balanced (temperature-flattened) sampling: keep each row with probability
    * `min(1, target / n_stratum)`, so every stratum lands ~`target` rows in
    * expectation regardless of its raw share — the α→0 limit of the
    * `p_s ∝ count_s^α` temperature-sampling family used to stop a dominant
    * language/domain from drowning the tail. (Intermediate α needs float
    * `pow`; this limit keeps the keep decision in exact integer arithmetic:
    * `(hash60(salt:id) mod 2^20) · n_stratum < target · 2^20`, products
    * < 2^62 for strata under ~4×10^12 rows, so an independent engine selects
    * the IDENTICAL rows.)
    *
    * Versus [[capPerGroup]] (exact cap, window shuffle over ALL rows): this
    * is a tiny stratum-count aggregate broadcast back onto a scan-speed
    * filter — no full-data shuffle, the right trade when "~target in
    * expectation" is acceptable and the corpus is huge. */
  def balancedSample(df: DataFrame, stratum: Column, idCol: Column, target: Long,
                     salt: String = SampleSalt): DataFrame = {
    require(target >= 0, "balancedSample: target must be non-negative")
    val counts = df.groupBy(stratum.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
    val h = PortableHash.hash60(concat_ws(":", lit(salt), idCol.cast("string")))
    df.join(broadcast(counts), stratum === col("__stratum"))
      .filter((h % 1048576L) * col("__n") < lit(target) * 1048576L)
      .drop("__stratum", "__n")
  }

  val MixSalt: String = "mix"

  /** Weighted corpus mixing with fractional EPOCHS: replicate or subsample
    * each group (source/corpus) to hit a target mixing weight, the way a
    * training-data recipe specifies "2.5 epochs of src0, 0.25 of src1".
    *
    * `weightsPerMillion(group) = w` keeps/creates `w / 1e6` copies of each
    * row in expectation: `w DIV 1e6` guaranteed full copies, plus one more
    * iff `hash60(salt:id) mod 1e6 < w mod 1e6` — the same portable-hash
    * Bernoulli draw as [[stratifiedSample]], so the realized mixture is a
    * pure function of the data (reproducible across engines, retries, and
    * partitionings; the oracle replays it row-for-row). Copies are numbered
    * by an `epoch` column (0-based) so downstream shuffling/sharding can
    * decorrelate them.
    *
    * Scale: a scan + codegen'd filter + generator — NO shuffle; output size
    * ∝ Σ w_g·|g|. The generate (explode) is row-local, and upsampled rows
    * carry distinct (id, epoch) pairs so a later [[shardForExport]] spreads
    * copies across shards. */
  def mixtureUpsample(df: DataFrame, groupCol: Column, idCol: Column,
                      weightsPerMillion: Map[String, Long], defaultPerMillion: Long,
                      salt: String = MixSalt): DataFrame = {
    require(defaultPerMillion >= 0, "mixtureUpsample: default weight must be non-negative")
    require(weightsPerMillion.values.forall(_ >= 0), "mixtureUpsample: weights must be non-negative")
    // Sorted fold => deterministic plan regardless of Map iteration order.
    val w = weightsPerMillion.toSeq.sortBy(_._1).foldLeft(lit(defaultPerMillion)) {
      case (acc, (k, v)) => when(groupCol === k, lit(v)).otherwise(acc)
    }
    val h = PortableHash.hash60(concat_ws(":", lit(salt), idCol.cast("string")))
    df.withColumn("__w", w)
      // hash60 is non-negative (60-bit), so % == pmod here.
      .withColumn("__copies",
        expr("__w DIV 1000000") +
          when(h % 1000000L < col("__w") % 1000000L, lit(1L)).otherwise(lit(0L)))
      .filter(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__w", "__copies")
  }

  /** Deterministic global shuffle + sharding for training export.
    *
    * Training ingestion wants the corpus (a) split into N roughly-equal
    * shards and (b) in an order UNCORRELATED with ingestion order (crawl
    * order clusters domains/dates; training on sorted data biases early
    * steps) — yet fully REPRODUCIBLE, so a re-export after an upstream fix
    * yields the identical shard layout. `df.repartition + rand` gives
    * neither: partition-local RNG changes with task retries and parallelism.
    *
    * Here both the shard id and the within-shard order are pure functions of
    * the row: `shard = hash60(salt:id) mod numShards`, order by the SAME
    * hash (ties by id). Adds `shard` and `sort_key` columns; callers write
    * with `.repartition(numShards, col("shard")).sortWithinPartitions("sort_key")`
    * — ONE shuffle, each shard a single partition, no skew (md5 is uniform).
    * Changing `salt` re-deals the corpus into an independent permutation
    * (epoch reshuffling at export time). */
  def shardForExport(df: DataFrame, idCol: Column, numShards: Int,
                     salt: String = "shard"): DataFrame = {
    require(numShards > 0, "shardForExport: numShards must be positive")
    val h = PortableHash.hash60(concat_ws(":", lit(salt), idCol.cast("string")))
    df.withColumn("sort_key", h)
      .withColumn("shard", pmod(col("sort_key"), lit(numShards.toLong)))
  }

  /** Salt for [[groupAwareSplit]], shared with the oracle-SQL builder. */
  val SplitSalt: String = "split"

  /** Leakage-safe train/val/test assignment: the split is a pure function of
    * the GROUP key (source domain, near-dup cluster id, author…), so every
    * row of a group lands in the same split by construction — the standard
    * guard against train/test contamination through near-duplicates or
    * same-source documents that a row-level split would scatter across
    * splits.
    *
    * `bounds` are cumulative per-mille fences over `hash60(salt:group) mod
    * 1000`: `Seq("train" -> 800, "val" -> 900, "test" -> 1000)` sends a
    * group to the first split whose fence exceeds its hash bucket. Adds a
    * `split` column; deterministic across engines, partitionings, and
    * retries ([[PortableHash]]), so the oracle replays the exact assignment.
    *
    * Scale: a per-row codegen'd expression — NO shuffle, no group-list
    * materialization; the group key is hashed in place on each row. */
  def groupAwareSplit(df: DataFrame, groupCol: Column,
                      bounds: Seq[(String, Long)],
                      salt: String = SplitSalt): DataFrame = {
    require(bounds.nonEmpty && bounds.last._2 == 1000L,
      "groupAwareSplit: bounds must be cumulative per-mille fences ending at 1000")
    require(bounds.map(_._2) == bounds.map(_._2).sorted,
      "groupAwareSplit: bounds must be non-decreasing")
    val h = PortableHash.hash60(concat_ws(":", lit(salt), groupCol.cast("string"))) % 1000L
    // Reverse fold so earlier fences take precedence: the first fence whose
    // bound exceeds the hash bucket wins.
    val split = bounds.reverse.foldLeft(lit(null).cast("string")) {
      case (acc, (name, bound)) => when(h < bound, lit(name)).otherwise(acc)
    }
    df.withColumn("split", split)
  }

  /** Salt for [[weightedSample]], shared with the oracle-SQL builder. */
  val WeightedSalt: String = "wsample"

  /** Weighted sampling WITHOUT replacement, deterministic and
    * engine-portable: draw the `k` rows with the smallest race key
    * `r(row) = min over j in 1..w of hash60(salt:id:j)` where `w` is the
    * row's positive INTEGER weight.
    *
    * Why this is the real thing, not a heuristic: the minimum of `w` i.i.d.
    * uniforms is distributionally an exponential race at rate `w`
    * (`P(min > x) = (1-x)^w`), which is exactly the Efraimidis–Spirakis
    * weighted-reservoir construction — a weight-2 row is precisely twice as
    * likely to beat a weight-1 row to any prefix of the order. Running the
    * race on raw 60-bit hashes keeps every comparison in INTEGER space: no
    * `pow(u, 1/w)` floats whose last-ulp rounding could disagree across
    * engines, so an independent SQL engine replays the identical sample
    * (the q115 oracle does).
    *
    * Scale: per-row cost is `w` hash evaluations — weights are quality
    * TIERS (1..10), not scores; re-scale large weights down first. The
    * top-k itself is `orderBy(race, id).limit(k)` which Spark plans as
    * TakeOrderedAndProject: per-partition heaps then a k-row merge — no
    * global sort, the q85 pattern. */
  def weightedSample(df: DataFrame, idCol: Column, weightCol: Column, k: Int,
                     salt: String = WeightedSalt): DataFrame = {
    require(k > 0, "weightedSample: k must be positive")
    // Explicit +1 step: a weight < 1 makes sequence() throw instead of
    // silently generating a DESCENDING [1, 0] range (the default step is
    // direction-inferred), so bad weights fail loudly, not probabilistically.
    val race = array_min(transform(
      sequence(lit(1L), weightCol.cast("long"), lit(1L)),
      j => PortableHash.hash60(
        concat_ws(":", lit(salt), idCol.cast("string"), j.cast("string")))))
    df.withColumn("race", race)
      .orderBy(col("race"), idCol)
      .limit(k)
  }

  /** Deterministic half-sample bootstrap replica table — the "error bars on
    * a 100 TB mean" primitive: `replicas` pseudo-independent half-samples,
    * membership of row `id` in replica `r` decided by the portable hash
    * `hash60(salt:r:id) % 2 = 0` (expected half the rows, reproducible on
    * ANY engine — the oracle replays the same md5 arithmetic). The spread of
    * replica means estimates the sampling error of the full-data mean
    * without any second pass over history.
    *
    * Shape: ONE scan computing `2·replicas` conditional aggregates
    * (map-side combined — no per-replica pass, no row×replica explode; the
    * oracle's cross-join form is the semantic spec, not the plan), then a
    * metadata-sized `stack` unpivot. Integer-exact: per replica
    * `(replica, n, sum_v)` — consumers form means/variance downstream.
    * Driver/shuffle state is 2·replicas longs. */
  def bootstrapReplicas(df: DataFrame, idCol: Column, valueCol: Column,
                        replicas: Int, salt: String): DataFrame = {
    require(replicas >= 2, s"bootstrapReplicas: need >= 2 replicas, got $replicas")
    val aggs = (0 until replicas).flatMap { r =>
      val member = PortableHash.hash60(concat_ws(":", lit(salt), lit(r.toString),
        idCol.cast("string"))) % 2L === 0L
      Seq(sum(when(member, 1L).otherwise(0L)).as(s"__n_$r"),
        sum(when(member, valueCol.cast("long")).otherwise(0L)).as(s"__s_$r"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack($replicas, " +
        (0 until replicas).map(r => s"CAST($r AS BIGINT), __n_$r, __s_$r")
          .mkString(", ") + ") AS (replica, n, sum_v)"))
  }

  /** Deterministic negative sampling for contrastive / two-tower training:
    * for each positive `(user, item)` pair, draw `k` pseudo-uniform negative
    * items the user has NO positive for — without ever materializing the
    * user × item complement (which is the naive formulation and is
    * |users|·|items| at 100 TB).
    *
    * The bucket-join draw: items are hashed into `buckets` groups; each
    * `(u, i, j)` draw hashes to ONE target bucket and takes the item
    * minimizing a per-draw hash rank within it (packed as
    * `rank·2³¹ + item` so `min` resolves ties by item id — a single BIGINT
    * `min`, no argmin struct). Work is `k·|pos|·(|items|/buckets)` candidate
    * rows — constant per draw once `buckets` scales with the catalog — and
    * every join is an equi-join on the bucket key or the (u, item) key.
    *
    * True-positive collisions are dropped by the final anti join (≈
    * `k·|pos|·density` draws lost — callers needing exactly k re-draw with
    * a second salt). All coins are [[PortableHash.hash60]] draws, so the
    * sample is replayable arithmetically by an independent engine (q247's
    * oracle) — and swapping a real RNG in at training time changes no
    * Spark-side shape. Uniformity caveat: draws are uniform over BUCKETS,
    * then hash-ranked within one; with `buckets ≪ |items|` every bucket is
    * populated and the within-bucket rank re-randomizes per draw, giving
    * per-draw marginals close to uniform (exactly uniform over bucket
    * choice). Output: `(u, i, j, neg)`. */
  def negativeSample(positives: DataFrame, userCol: String, itemCol: String,
                     items: DataFrame, itemsItemCol: String,
                     k: Int, buckets: Int, salt: String): DataFrame = {
    require(k >= 1 && buckets >= 1, s"need k >= 1 and buckets >= 1, got $k, $buckets")
    // The argmin pack below is `rank·2³¹ + item`, so an item id outside
    // [0, 2³¹) would silently bleed into the rank bits and emit a corrupted
    // `neg` — guard loudly in-data (a require can't see data; this is the
    // same discipline as quantileBuckets' overflow raise_error).
    val idGuard = when(
      col("__raw").isNull || col("__raw") < 0L || col("__raw") >= 2147483648L,
      raise_error(concat(lit("negativeSample: item id outside [0, 2^31) " +
        "breaks the rank*2^31+item argmin pack: "), col("__raw").cast("string"))))
      .otherwise(col("__raw"))
    val it = items.select(col(itemsItemCol).cast("long").as("__raw"))
      .select(idGuard.as("item")).distinct()
      .withColumn("bucket",
        pmod(PortableHash.hash60(concat_ws(":", lit(s"$salt:item"), col("item"))),
          lit(buckets.toLong)))
    val pos = positives
      .select(col(userCol).cast("long").as("u"), col(itemCol).cast("long").as("i"))
      .distinct()
    val draws = pos
      .withColumn("j", explode(expr(s"sequence(1, $k)")))
      .withColumn("bucket",
        pmod(PortableHash.hash60(concat_ws(":", lit(s"$salt:draw"),
          col("u"), col("i"), col("j"))), lit(buckets.toLong)))
    val picked = draws.join(it, Seq("bucket"))
      .withColumn("rnk",
        pmod(PortableHash.hash60(concat_ws(":", lit(s"$salt:rank"),
          col("u"), col("i"), col("j"), col("item"))), lit(1048576L))
          * lit(2147483648L) + col("item"))
      .groupBy(col("u"), col("i"), col("j"))
      .agg(min(col("rnk")).as("mr"))
      .withColumn("neg", col("mr") % lit(2147483648L))
    picked
      .join(pos.select(col("u"), col("i").as("neg")), Seq("u", "neg"), "left_anti")
      .select(col("u"), col("i"), col("j"), col("neg"))
  }

  /** Default hashed-feature bucket count for [[dsirLogRatioMicros]]. DSIR's
    * published configuration uses 10⁴ hashed n-gram buckets; 64 keeps the
    * bench-SF table human-auditable while exercising the identical shape. */
  val DsirBuckets = 64

  /** Hashed-unigram feature bucket on the portable family — the DSIR feature
    * map. Pure row function; the oracle replays `h60('dsir:'‖token) % B`. */
  def dsirBucket(token: Column, buckets: Int = DsirBuckets): Column =
    pmod(PortableHash.hash60(concat(lit("dsir:"), token)), lit(buckets.toLong))

  /** DSIR (Data Selection via Importance Resampling — Xie et al. 2023,
    * public literature) per-bucket importance table: for each hashed feature
    * bucket, the add-one-smoothed log-likelihood ratio
    * `ln((n_t+1)/(T+B)) − ln((n_s+1)/(S+B))` between the TARGET token
    * distribution (rows where `isTarget`) and the SOURCE distribution (all
    * rows), rendered as exact integer MICROS so downstream per-doc sums are
    * order-independent and engine-exact (the established ROUND(ln·1e6)
    * contract from the TF-IDF/BM25 oracles).
    *
    * Scale: one groupBy to B rows (B ≤ 10⁴ — metadata-sized), broadcast of a
    * one-row total; the table itself is then broadcast to score any corpus
    * width. `tokens` must carry one row per token OCCURRENCE. */
  def dsirLogRatioMicros(tokens: DataFrame, tokenCol: String, isTarget: Column,
                         buckets: Int = DsirBuckets): DataFrame = {
    val per = tokens
      .select(dsirBucket(col(tokenCol), buckets).as("b"), isTarget.cast("long").as("is_t"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_s"), sum(col("is_t")).as("n_t"))
    val tot = per.agg(sum(col("n_s")).as("tot_s"), sum(col("n_t")).as("tot_t"))
    per.crossJoin(broadcast(tot))
      .withColumn("ratio_micros",
        expr(s"CAST(ROUND(1e6 * (ln((n_t + 1e0) / (tot_t + $buckets)) - " +
          s"ln((n_s + 1e0) / (tot_s + $buckets)))) AS BIGINT)"))
      .select(col("b"), col("n_t"), col("n_s"), col("ratio_micros"))
  }

  /** Per-document DSIR importance weight: Σ over token occurrences of the
    * bucket's `ratio_micros` — the unigram log importance weight in integer
    * micros (exact, order-independent). High-weight docs look like the
    * target slice; resample by weight to shift the corpus mixture.
    *
    * Scale: the B-row ratio table is broadcast, so scoring is one map-side
    * join + one groupBy(doc) — linear, no skew (buckets are hash-uniform). */
  def dsirDocWeights(tokens: DataFrame, docIdCol: String, tokenCol: String,
                     ratioTable: DataFrame, buckets: Int = DsirBuckets): DataFrame =
    tokens
      .select(col(docIdCol), dsirBucket(col(tokenCol), buckets).as("b"))
      .join(broadcast(ratioTable.select(col("b"), col("ratio_micros"))), Seq("b"))
      .groupBy(col(docIdCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("ratio_micros")).as("weight_micros"))
}
