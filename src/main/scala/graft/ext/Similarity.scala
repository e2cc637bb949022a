package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dotProduct

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Vector math runs through [[graft.functions.DotProduct]], a codegen'd Catalyst
  * expression (tight primitive loop inside whole-stage codegen) — the
  * higher-order-function formulation benchmarked ~40s for 500k 64-dim pairs,
  * the expression form is orders of magnitude cheaper, with bit-identical
  * left-to-right summation. Norms are computed once per row *before* any join, so
  * a pairwise comparison costs exactly one dot product.
  *
  * Two search paths:
  *  - brute-force top-k / all-pairs: O(n·d) / O(n²·d), embarrassingly parallel —
  *    the correctness baseline, broadcast-joined so only the small side replicates;
  *  - random-hyperplane LSH buckets for the 100 TB path: deterministic
  *    hash-derived hyperplanes → sign-bit bucket id; neighbor search becomes an
  *    equi-join on the bucket. Recall is tunable by bits/tables; candidates are
  *    re-scored exactly before anything is reported.
  */
object Similarity {

  /** Elementwise promotion to array<double> (float→double is exact). */
  def toDoubleArray(c: Column): Column = transform(c, x => x.cast("double"))

  /** Dot product (codegen'd); inputs must be array<double> — see [[toDoubleArray]]. */
  def dot(a: Column, b: Column): Column = dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Cosine similarity of two array<double> columns; 0.0 when either is all-zero.
    * For joins, prefer precomputing norms per side (see [[neardupPairs]]) so each
    * pair costs one dot, not three. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0, lit(0.0)).otherwise(dotProduct(a, b) / denom)
  }

  /** id + double vector + precomputed norm — the join-ready projection. */
  private def withNorm(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    embeddings.select(col(idCol), toDoubleArray(col(vecCol)).as("v"))
      .withColumn("norm", sqrt(dotProduct(col("v"), col("v"))))

  private def pairCosine(aNorm: Column, bNorm: Column, aVec: Column, bVec: Column): Column = {
    val denom = aNorm * bNorm
    round(when(denom === 0, lit(0.0)).otherwise(dotProduct(aVec, bVec) / denom), 6)
  }

  /** Brute-force top-k by cosine against the embedding with id `queryId`.
    * Output: (id, cos_sim rounded to 6dp), ties broken by id — fully deterministic. */
  def cosineTopK(embeddings: DataFrame, queryId: Long, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = withNorm(embeddings, idCol, vecCol)
    val query = base.filter(col(idCol) === queryId)
      .select(col("v").as("qv"), col("norm").as("qnorm"))
    base.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(query))
      .select(col(idCol),
        pairCosine(col("norm"), col("qnorm"), col("v"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** All pairs (id_a < id_b) with cosine ≥ threshold — embedding-space near-dup
    * detection, brute force. Quadratic: the *baseline*; [[lshNeardupPairs]] is the
    * scale path. Broadcasts one side; one codegen'd dot per pair. */
  def neardupPairs(embeddings: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = withNorm(embeddings, idCol, vecCol)
    // The stream side drives the nested-loop parallelism; a single-file parquet
    // scan is one partition, which would serialize the whole O(n²) loop onto one
    // core. Spread it across the cluster before the join.
    val spread = base.repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
    val a = spread.as("a"); val b = base.as("b")
    a.join(broadcast(b), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        pairCosine(col("a.norm"), col("b.norm"), col("a.v"), col("b.v")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Deterministic random hyperplanes, seeded per plane index — regenerated
    * identically on every executor (they travel as plan literals, nothing to
    * broadcast or keep in sync). Public so the correctness oracle can inline the
    * same literals into independent-engine SQL. */
  def hyperplanes(bits: Int, dim: Int, salt: Long = 0L): Array[Seq[Double]] =
    Array.tabulate(bits) { p =>
      // salt shifts the whole plane FAMILY (an independent LSH table — the
      // multi-table recall lever); salt=0 is the original family, so every
      // existing bucket assignment and oracle literal is unchanged.
      val rnd = new java.util.Random(1000003L * p + 17 + 7919L * salt)
      Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    }

  /** Random-hyperplane LSH bucket id: `bits` sign bits packed into a BIGINT.
    * Each bit is one codegen'd dot against a literal plane array — an earlier
    * per-row higher-order formulation (hash-derived components rebuilt per
    * element) was interpreted and dominated the whole LSH query (~22s of a 22s
    * plan at sf0.1); literal planes + [[graft.functions.DotProduct]] remove it
    * from the profile entirely. */
  def lshBucket(vec: Column, bits: Int = 16, dim: Int = 64, salt: Long = 0L): Column =
    hyperplanes(bits, dim, salt).foldLeft(lit(0L)) { (acc, plane) =>
      acc * 2 + when(dotProduct(vec, typedlit(plane)) >= 0, lit(1L)).otherwise(lit(0L))
    }

  /** Batch k-NN join: for every query vector, its `k` nearest corpus vectors by
    * cosine. Brute force (|Q|·|C| dots) with the corpus broadcast — right when Q
    * is small or C fits a broadcast; at scale, bucket both sides with
    * [[lshBucket]] first and run this within buckets. Deterministic: 6-dp
    * rounding + id tie-break. Output: (query_id, neighbor_id, rank, cos_sim). */
  def knnJoin(queries: DataFrame, corpus: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val c = withNorm(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("v").as("cv"), col("norm").as("cnorm"))
    topKPerQuery(
      q.repartition(queries.sparkSession.sparkContext.defaultParallelism)
        .crossJoin(broadcast(c))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          pairCosine(col("qnorm"), col("cnorm"), col("qv"), col("cv")).as("cos_sim")),
      k)
  }

  /** LSH-bucketed near-dup pairs: equi-join on the bucket id, then exact cosine
    * re-score. Same output shape as [[neardupPairs]] but the join degree is the
    * bucket occupancy, not n — this is the 100 TB variant (recall < 1 by design;
    * raise recall with fewer bits or multiple tables). */
  def lshNeardupPairs(embeddings: DataFrame, threshold: Double, bits: Int = 16,
                      dim: Int = 64, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = withNorm(embeddings, idCol, vecCol)
      .withColumn("bucket", lshBucket(col("v"), bits, dim))
    val a = base.as("a"); val b = base.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        pairCosine(col("a.norm"), col("b.norm"), col("a.v"), col("b.v")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): remove documents whose EMBEDDINGS are near-identical,
    * catching paraphrases and re-renderings that lexical MinHash/SimHash miss.
    * The published recipe clusters embeddings (k-means) and drops
    * within-cluster pairs above a cosine threshold; here the clusters are
    * deterministic hyperplane-LSH buckets ([[lshBucket]]) — no training pass,
    * no driver-held centroids, and an independent engine reproduces the exact
    * same partition of the corpus from the seeded plane literals.
    *
    * Within each bucket, every pair with cosine ≥ `threshold` marks the
    * HIGHER id a loser (the keep-lowest-id convention shared with
    * [[graft.ext.Dedup.removeNearDuplicatesPortable]]); survivors are the
    * anti-join against the distinct loser set. Like any single-table LSH,
    * recall < 1 by design — near-dup pairs split across buckets survive;
    * raise recall with fewer bits or a second salted table.
    *
    * Scale: bucket assignment is scan-speed codegen (bits × dim
    * multiply-adds per row); the self-join degree is bucket occupancy
    * (corpus/2^bits expected), not corpus size; the anti-join is one key
    * shuffle ∝ losers. The full-corpus shapes (no broadcast ceiling). */
  def semanticDedup(embeddings: DataFrame, threshold: Double, bits: Int = 16,
                    dim: Int = 64, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val losers = lshNeardupPairs(embeddings, threshold, bits, dim, idCol, vecCol)
      .select(col("id_b").as(idCol))
      .distinct()
    embeddings.join(losers, Seq(idCol), "left_anti")
  }

  /** Top-k rows per query_id by (cos_sim DESC, neighbor_id) — the shared
    * rank stage under the graph-ANN builders. Per-QUERY window, never
    * global.
    *
    * Round 16: the SELECTION runs through the [[graft.plans.GroupedTopK]]
    * physical operator instead of a row_number window over every candidate
    * — bounded per-group heaps, streamed once, with the PARTIAL pass before
    * the exchange, so the shuffle carries ≤ k rows per (partition, query)
    * and nothing ever sorts the full candidate list (knnJoin's |Q|·|C|
    * cross product, the LSH bucket pairs, NN-descent's (2k)² fan-out). The
    * long rank key is exact: cos_sim is 6-dp rounded by construction, so
    * `round(cos_sim·10⁶)` is an order-preserving integer; ties break on
    * the smaller neighbor_id (`-neighbor_id` under the operator's
    * DESCENDING contract — the same total order as the window it
    * replaces). The residual row_number window only ranks the ≤ k
    * survivors per query (rank 1..k for the output column), over the hash
    * partitioning the final GroupedTopK pass already established. Falls
    * back to the plain window when neighbor_id is not LongType (the
    * operator's key contract). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val nbLong = scored.schema.find(_.name == "neighbor_id")
      .exists(_.dataType == org.apache.spark.sql.types.LongType)
    if (!nbLong)
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
    else {
      val spark = scored.sparkSession
      import graft.plans.GroupedTopKStrategy
      if (!spark.experimental.extraStrategies.exists(_ eq GroupedTopKStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ GroupedTopKStrategy
      val keyed = scored
        .withColumn("__simk", round(col("cos_sim") * 1e6, 0).cast("long"))
        .withColumn("__tie", -col("neighbor_id"))
      graft.plans.GroupedTopK
        .topKPerGroup(keyed, Seq("query_id"), "__simk", "__tie", k)
        .drop("__simk", "__tie")
        .withColumn("rank", row_number().over(w).cast("long"))
    }
  }

  /** INITIAL approximate kNN graph from LSH buckets: candidates are
    * same-bucket pairs (join degree = bucket occupancy) over one or more
    * salted tables, exact-rescored and cut to top-k per node. Recall < 1 by
    * design, and note the closure property: a SINGLE table's graph is
    * bucket-closed (every path stays inside one bucket), so
    * [[nnDescentRound]] can only repair it when the seed has ≥ 2 tables —
    * the NoN step then composes an edge from table A with an edge from
    * table B to reach neighbors neither table bucketed together. Output:
    * `(query_id, neighbor_id, cos_sim, rank)`. */
  def lshKnnGraph(embeddings: DataFrame, k: Int, bits: Int = 6, dim: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  salts: Seq[Long] = Seq(0L)): DataFrame = {
    require(salts.nonEmpty, "lshKnnGraph: need at least one table salt")
    val base = withNorm(embeddings, idCol, vecCol)
    val scored = salts.map { salt =>
      val bk = base.withColumn("bucket", lshBucket(col("v"), bits, dim, salt))
      val a = bk.as("a"); val b = bk.as("b")
      a.join(b, col("a.bucket") === col("b.bucket")
          && col(s"a.$idCol") =!= col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("query_id"), col(s"b.$idCol").as("neighbor_id"),
          pairCosine(col("a.norm"), col("b.norm"), col("a.v"), col("b.v"))
            .as("cos_sim"))
    }.reduce(_ unionByName _).distinct() // a pair found by both tables scores identically
    topKPerQuery(scored, k)
  }

  /** ONE NN-descent refinement round (Dong, Moses & Li 2011, WWW — public
    * literature): "a neighbor of my neighbor is probably my neighbor".
    * Candidates = the current graph, its REVERSE edges, and all
    * neighbor-of-neighbor pairs over the undirected neighbor lists; each
    * candidate is exact-rescored and every node keeps its new top-k. Applied
    * to an LSH-seeded graph this recovers cross-bucket neighbors without
    * ever forming an all-pairs join — the graph-ANN recall repair.
    *
    * Scale: all stages are keyed equi-joins (neighbor-of-neighbors joins the
    * k-bounded edge list to itself on the shared endpoint — fan-out ≤ (2k)²
    * per node), two hash joins fetch vectors by id, and the rank window
    * partitions by node. One round is the q331-style tuning unit; iterate to
    * convergence by re-applying. Output: `(query_id, neighbor_id, cos_sim,
    * rank)`. */
  def nnDescentRound(graph: DataFrame, embeddings: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val und = graph.select(col("query_id").as("q"), col("neighbor_id").as("n"))
      .unionByName(graph.select(col("neighbor_id").as("q"), col("query_id").as("n")))
      .distinct()
    val non = und.as("x").join(und.as("y"), col("x.n") === col("y.q"))
      .select(col("x.q").as("q"), col("y.n").as("n"))
      .filter(col("q") =!= col("n"))
    val cand = und.unionByName(non).distinct()
    val base = withNorm(embeddings, idCol, vecCol)
    topKPerQuery(
      cand
        .join(base.select(col(idCol).as("q"), col("v").as("__qv"),
          col("norm").as("__qn")), Seq("q"))
        .join(base.select(col(idCol).as("n"), col("v").as("__nv"),
          col("norm").as("__nn")), Seq("n"))
        .select(col("q").as("query_id"), col("n").as("neighbor_id"),
          pairCosine(col("__qn"), col("__nn"), col("__qv"), col("__nv"))
            .as("cos_sim")),
      k)
  }

  /** One stage of [[nnDescentConverge]]'s output: the round index (0 = LSH
    * seed), the materialized graph at that round, its edge count, and how
    * many of its edges are NEW versus the previous round (round 0 reports
    * all edges new). */
  final case class NnDescentStage(round: Int, graph: DataFrame,
                                  nEdges: Long, nNew: Long)

  /** NN-DESCENT TO CONVERGENCE — the production index-build loop around
    * [[nnDescentRound]]: seed with a multi-table [[lshKnnGraph]], then
    * re-apply refinement rounds until the round's UPDATE RATE drops below
    * `minNewPermille`/1000 of the graph's edges, or `maxRounds` is hit.
    * The update count is Dong, Moses & Li 2011's own termination signal
    * (their δ parameter): at index-BUILD time there is no ground truth to
    * measure recall against, but every recall gain requires changed edges,
    * so "almost no edges changed" bounds the remaining recall improvement —
    * and because each round rescores candidates exactly and keeps the
    * per-node top-k over a superset that includes the current neighbors,
    * per-node neighbor quality only improves; recall versus the exact
    * top-k is MONOTONE non-decreasing across rounds (anything that evicts
    * an exact-top-k member outranks it in the same total order, hence is
    * itself exact-top-k — Round13Spec proves both monotonicity and
    * termination).
    *
    * Returns the full per-round curve, seed first — `nNew` per stage is the
    * engineering artifact (the diminishing-returns curve that tells a
    * corpus how many rounds its index build buys), and the last stage's
    * graph is the built index. Each stage's graph is persisted and
    * lineage-truncated (the q321/q336 discipline: the loop would otherwise
    * stack an exponential plan), and the per-round driver-side scalars are
    * two metadata-sized counts — nothing data-sized ever collects.
    *
    * Scale: inherits [[nnDescentRound]]'s shape — every stage is a keyed
    * equi-join with fan-out ≤ (2k)² per node; the loop adds one anti-join
    * per round (edge-list sized, k·n rows) for the update count. */
  def nnDescentConverge(embeddings: DataFrame, k: Int, bits: Int = 6,
                        dim: Int = 64, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        salts: Seq[Long] = Seq(0L, 1L), maxRounds: Int = 8,
                        minNewPermille: Long = 10L): Seq[NnDescentStage] = {
    require(maxRounds >= 0, s"nnDescentConverge: maxRounds must be >= 0, got $maxRounds")
    require(minNewPermille >= 0 && minNewPermille <= 1000,
      s"nnDescentConverge: minNewPermille must be in [0, 1000], got $minNewPermille")
    val f = Frames.scope()
    val g0C = f.persist(lshKnnGraph(embeddings, k, bits, dim, idCol, vecCol, salts)
      .select(col("query_id"), col("neighbor_id")))
    val n0 = g0C.count()
    val g0 = Frames.rebind(g0C)
    val stages = scala.collection.mutable.ArrayBuffer(NnDescentStage(0, g0, n0, n0))
    var r = 1
    var converged = false
    while (!converged && r <= maxRounds) {
      val prev = stages.last.graph
      // ONE action per round (round 17, guide §2 loop economics — the CC
      // discipline): the round frame carries a `__new` marker (left
      // anti-join replaced by a left join null-probe, same keys and the
      // same exchange), so the (n, nNew) convergence scalars come from a
      // single aggregate over the just-persisted cache — the aggregate IS
      // the materializing action. The round-16 shape paid two extra jobs
      // per round (a count() to fill the cache, then a separate anti-join
      // count for nNew).
      val c = f.persist(nnDescentRound(prev, embeddings, k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"))
        .join(prev.select(col("query_id"), col("neighbor_id"),
          lit(true).as("__seen")), Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"), col("neighbor_id"),
          col("__seen").isNull.as("__new")))
      val row = c.agg(count(lit(1)).as("n"),
        count(when(col("__new"), lit(1))).as("n_new")).head()
      val n = row.getLong(0)
      val nNew = row.getLong(1)
      val g = Frames.rebind(c.select(col("query_id"), col("neighbor_id")))
      stages += NnDescentStage(r, g, n, nNew)
      converged = nNew * 1000L <= minNewPermille * n
      r += 1
    }
    stages.toSeq
  }

  /** Corpus/source similarity map from per-group centroid embeddings — the
    * mixture-design question "which sources cover the same embedding space"
    * answered without any vector-to-vector join: ONE pass over the data
    * reduces each group to its centroid SUM vector, and all pairwise
    * similarity runs on the groups×dims table (metadata-sized — 10 sources ×
    * 64 dims here, still driver-trivial at thousands of sources).
    *
    * Exactness discipline: float means are association-order-dependent, so
    * sums are computed over PRE-QUANTIZED integers (`round(x·scale)` per
    * element, double arithmetic, round-half-away — the q91 convention DuckDB
    * mirrors bit-exactly) — integer sums commute, so the centroid table is
    * engine- and partition-order-exact. Cosine is emitted as its integer
    * ingredients `(dot_ab, dot_aa, dot_bb)` (cos² = dot_ab²/(aa·bb)); no
    * square root ever taken, so the output hash-compares.
    *
    * Scale shape: posexplode multiplies rows ×dims but partial-aggregates
    * map-side, so the shuffle carries groups×dims rows; the pairwise stage is
    * a broadcast join over the group table only. Overflow bound: each sum
    * component ≤ scale·n·max|x|, and dots square that — with scale 10³,
    * |x| ≤ ~4 and 64 dims, safe to ~10⁷ rows per group; raise partitions
    * or drop scale for more.
    *
    * Output: one row per unordered group pair (a < b):
    * `(label_a, label_b, n_a, n_b, dot_ab, dot_aa, dot_bb)`. */
  def centroidSimilarityMap(emb: DataFrame, labelCol: String, vecCol: String,
                            scale: Long = 1000L): DataFrame = {
    val q = emb.select(col(labelCol).cast("long").as("__lab"),
      expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale.0) AS BIGINT))")
        .as("__q"))
    val sums = q.select(col("__lab"), posexplode(col("__q")).as(Seq("__i", "__x")))
      .groupBy(col("__lab"), col("__i"))
      .agg(sum(col("__x")).as("__s"))
    val cents = sums.groupBy(col("__lab"))
      .agg(expr("transform(array_sort(collect_list(struct(__i, __s))), r -> r.__s)")
        .as("__c"))
      .join(q.groupBy(col("__lab")).agg(count(lit(1)).as("__n")), Seq("__lab"))
    val a = cents.select(col("__lab").as("label_a"), col("__c").as("__ca"),
      col("__n").as("n_a"))
    val b = cents.select(col("__lab").as("label_b"), col("__c").as("__cb"),
      col("__n").as("n_b"))
    // groups×groups pair table — metadata-sized, so the loop join is fine.
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        expr("aggregate(zip_with(__ca, __cb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
          .as("dot_ab"),
        expr("aggregate(transform(__ca, x -> x * x), 0L, (acc, v) -> acc + v)")
          .as("dot_aa"),
        expr("aggregate(transform(__cb, x -> x * x), 0L, (acc, v) -> acc + v)")
          .as("dot_bb"))
  }

  /** Mutual top-1 neighbor pairs ACROSS two corpora — the bitext /
    * paraphrase mining shape (each left vector's best right neighbor where
    * the choice is reciprocal; forward-AND-backward agreement is the
    * standard high-precision filter). Blocking is [[lshBucket]] on both
    * sides (candidates exist only within a bucket — the 100 TB path:
    * |A|·|B| never materializes, the join is equi on the bucket id, and
    * the per-side top-1 windows partition by vector id). Deterministic
    * and oracle-replayable end to end: literal hyperplanes, 6-dp cosine
    * rounding, id tie-breaks. `bits = 0` disables blocking (one bucket —
    * the exact small-side mode). Output: `(a_id, b_id, cos_sim)`. */
  def mutualTopOne(left: DataFrame, right: DataFrame, bits: Int = 6,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = withNorm(left, idCol, vecCol)
      .select(col(idCol).as("a_id"), col("v").as("av"), col("norm").as("an"))
      .withColumn("bucket", lshBucket(col("av"), bits, dim))
    val b = withNorm(right, idCol, vecCol)
      .select(col(idCol).as("b_id"), col("v").as("bv"), col("norm").as("bn"))
      .withColumn("bucket", lshBucket(col("bv"), bits, dim))
    val cand = a.join(b, Seq("bucket"))
      .select(col("a_id"), col("b_id"),
        pairCosine(col("an"), col("bn"), col("av"), col("bv")).as("cos_sim"))
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("cos_sim").desc, col("b_id"))
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("cos_sim").desc, col("a_id"))
    val bestA = cand.withColumn("__rn", row_number().over(wa))
      .filter(col("__rn") === 1).drop("__rn")
    val bestB = cand.withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") === 1).select(col("a_id"), col("b_id"))
    bestA.join(bestB, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), col("cos_sim"))
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein
    * 1998 — public literature): greedily pick the candidate maximizing
    * `λ·rel − (1−λ)·max_sim_to_selected`, so results are relevant AND
    * mutually diverse — the retrieval-augmented-data and eval-set
    * curation staple.
    *
    * Scale shape: the candidate POOL is bounded first (top `poolSize` by
    * relevance — a TakeOrdered, no global sort), pairwise similarities are
    * computed once distributed (poolSize² rows, poolSize ≤ 10³ by
    * contract), and only then does the driver run the O(poolSize·k)
    * greedy fold over that metadata-sized table — the standard MMR-at-
    * scale decomposition (pool bound ≍ IVF probe lists). All mixing is
    * integer micros (`λ` in permille), so the selection is deterministic
    * and the oracle unrolls the same k steps arithmetically.
    *
    * Step 1 carries `mmr = rel` (no redundancy term yet — the
    * conventional initialization). Ties break (mmr DESC, id ASC).
    * Output: `(step, vec_id, rel_micros, mmr_micros)`, one row per pick. */
  def mmrSelect(embeddings: DataFrame, queryId: Long, poolSize: Int, k: Int,
                lambdaPermille: Long, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(poolSize >= k && k >= 1, s"mmrSelect: need poolSize >= k >= 1")
    require(poolSize <= 1000, s"mmrSelect: pool is driver-collected; cap 1000, got $poolSize")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000, "mmrSelect: lambda in [0,1000]")
    val spark = embeddings.sparkSession
    val base = embeddings.select(col(idCol).as("id"),
        toDoubleArray(col(vecCol)).as("v"))
      .withColumn("norm", sqrt(graft.functions.VectorFunctions.dotProduct(col("v"), col("v"))))
    val query = base.filter(col("id") === queryId)
      .select(col("v").as("qv"), col("norm").as("qn"))
    val micros = (a: Column, b: Column, an: Column, bn: Column) => {
      val denom = an * bn
      (round(when(denom === 0, lit(0.0))
        .otherwise(graft.functions.VectorFunctions.dotProduct(a, b) / denom) * lit(1e6)))
        .cast("long")
    }
    val cand = base.filter(col("id") =!= queryId)
      .crossJoin(broadcast(query))
      .select(col("id"), col("v"), col("norm"),
        micros(col("v"), col("qv"), col("norm"), col("qn")).as("rel"))
      .orderBy(col("rel").desc, col("id"))
      .limit(poolSize)
    val sims = cand.select(col("id").as("ia"), col("v").as("va"), col("norm").as("na"))
      .join(cand.select(col("id").as("ib"), col("v").as("vb"), col("norm").as("nb")),
        col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        micros(col("va"), col("vb"), col("na"), col("nb")).as("s"))
    // driver greedy over the bounded pool (poolSize rows + poolSize² sims)
    val pool = cand.select(col("id"), col("rel")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val simMap = sims.collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)) -> r.getLong(2),
        (r.getLong(1), r.getLong(0)) -> r.getLong(2))).toMap
    val lam = lambdaPermille
    var selected = Vector.empty[(Int, Long, Long, Long)] // step, id, rel, mmr
    var remaining = pool.toVector
    for (step <- 1 to k if remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel) =>
        val mmr =
          if (selected.isEmpty) rel
          else {
            val maxSim = selected.map(s => simMap.getOrElse((id, s._2), 0L)).max
            // truncating division matches the oracle's `//` (verified: DuckDB
            // -7 // 1000 = 0, i.e. toward zero — same as Scala Long division)
            (lam * rel - (1000 - lam) * maxSim) / 1000L
          }
        (id, rel, mmr)
      }
      val best = scored.minBy { case (id, _, mmr) => (-mmr, id) }
      selected = selected :+ ((step, best._1, best._2, best._3))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    import spark.implicits._
    selected.toDF("step", "vec_id", "rel_micros", "mmr_micros")
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022's deployment
    * question answered with data): if retrieval ran on only the FIRST
    * `prefixDim` components — half the storage, half the dot-product cost
    * — how much of each query's full-dimension top-`k` would survive? One
    * pair pass computes BOTH cosines (full and prefix-sliced, rounded to
    * 6dp with id tie-breaks — fully deterministic), two rank windows
    * partitioned by the query id score them, and the overlap per query is
    * the recall. Output: `(query_id, n_hit, recall_permille)`.
    *
    * Scale: the query set broadcasts (it is a sample — `queryMod` thins
    * it); candidates stream once, each pair costing two codegen'd dots;
    * the rank windows partition by query id with per-partition state
    * bounded by the candidate count. This is the decision audit run
    * BEFORE re-embedding a 100 TB corpus at a lower dimension. */
  def matryoshkaRecall(embeddings: DataFrame, prefixDim: Int, k: Int,
                       queryMod: Long, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(prefixDim >= 1 && k >= 1 && queryMod >= 1,
      s"matryoshkaRecall: bad args ($prefixDim, $k, $queryMod)")
    val base = embeddings
      .select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("v"))
    val q = base.where(pmod(col("id"), lit(queryMod)) === 0)
      .select(col("id").as("q"), col("v").as("qv"))
    val pairs = base.join(broadcast(q), col("id") =!= col("q"))
      .select(col("q"), col("id"),
        round(cosine(col("v"), col("qv")), 6).as("cf"),
        round(cosine(slice(col("v"), 1, prefixDim),
          slice(col("qv"), 1, prefixDim)), 6).as("ct"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("cf").desc, col("id"))
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("ct").desc, col("id"))
    pairs
      .withColumn("rf", row_number().over(wf))
      .withColumn("rt", row_number().over(wt))
      .groupBy(col("q").as("query_id"))
      .agg(sum(when(col("rf") <= k && col("rt") <= k, 1L).otherwise(0L))
        .as("n_hit"))
      .withColumn("recall_permille", expr(s"1000 * n_hit div $k"))
  }

  /** Label-retrieval MRR / hit@k — the standard embedding-quality probe
    * (kNN label agreement): per sampled query, rank every other vector by
    * full cosine (ROUND 6dp, id tie-break — deterministic), find the FIRST
    * neighbor sharing the query's `labelCol`, and report its rank, the
    * reciprocal rank in exact micros (`1_000_000 DIV rank`), and whether a
    * same-label neighbor landed in the top `k`. Queries with no same-label
    * neighbor anywhere report rank NULL, rr 0, hit 0 — they count against
    * the averages downstream, never silently drop.
    *
    * Scale: same shape as [[matryoshkaRecall]] — broadcast query sample,
    * one candidate pass, one codegen'd dot per pair, one rank window per
    * query partition; the first-relevant pick is a `min(struct(rank))`
    * over same-label rows, map-side combinable. */
  def labelMrr(embeddings: DataFrame, k: Int, queryMod: Long,
               idCol: String = "vec_id", vecCol: String = "embedding",
               labelCol: String = "label"): DataFrame = {
    require(k >= 1 && queryMod >= 1, s"labelMrr: bad args ($k, $queryMod)")
    val base = embeddings.select(col(idCol).as("id"),
      toDoubleArray(col(vecCol)).as("v"), col(labelCol).cast("long").as("lab"))
    val q = base.where(pmod(col("id"), lit(queryMod)) === 0)
      .select(col("id").as("q"), col("v").as("qv"), col("lab").as("qlab"))
    val ranked = base.join(broadcast(q), col("id") =!= col("q"))
      .select(col("q"), col("qlab"), col("id"), col("lab"),
        round(cosine(col("v"), col("qv")), 6).as("cs"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("q")).orderBy(col("cs").desc, col("id"))))
    ranked
      .groupBy(col("q").as("query_id"))
      .agg(min(when(col("lab") === col("qlab"), col("rank")))
        .as("first_rel_rank"))
      .select(col("query_id"), col("first_rel_rank").cast("long")
          .as("first_rel_rank"),
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)).as("rr_micros"),
        when(coalesce(col("first_rel_rank"), lit(Long.MaxValue)) <= k, 1L)
          .otherwise(0L).as(s"hit_at_$k"))
  }

  /** Hubness audit (Radovanović et al. 2010) — the ANN-quality diagnostic
    * high-dimensional corpora fail: how unevenly does "being someone's
    * nearest neighbor" distribute? Build the exact k-NN lists over the
    * sampled query set (same deterministic ranking as [[labelMrr]]), count
    * each vector's k-OCCURRENCE (how many queries list it), and emit the
    * occurrence histogram: `(n_k_occurrences, n_vectors)` — a heavy right
    * tail (hubs) predicts poor ANN recall and skewed retrieval. Vectors
    * never retrieved appear in the 0-occurrence row, computed from the
    * corpus count minus the retrieved-distinct count, never by scanning.
    *
    * Scale: one pair pass over the broadcast query sample, the rank
    * window, then two node-sized aggregates; the histogram is
    * metadata-sized. */
  def hubnessHistogram(embeddings: DataFrame, k: Int, queryMod: Long,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && queryMod >= 1,
      s"hubnessHistogram: bad args ($k, $queryMod)")
    val base = embeddings
      .select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("v"))
    val q = base.where(pmod(col("id"), lit(queryMod)) === 0)
      .select(col("id").as("q"), col("v").as("qv"))
    val topk = base.join(broadcast(q), col("id") =!= col("q"))
      .select(col("q"), col("id"),
        round(cosine(col("v"), col("qv")), 6).as("cs"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("q")).orderBy(col("cs").desc, col("id"))))
      .where(col("rank") <= k)
    val occ = topk.groupBy(col("id")).agg(count(lit(1)).as("n_occ"))
    val hist = occ.groupBy(col("n_occ").as("n_k_occurrences"))
      .agg(count(lit(1)).as("n_vectors"))
    val zeroRow = base.agg(count(lit(1)).as("__n"))
      .crossJoin(broadcast(occ.agg(count(lit(1)).as("__r"))))
      .select(lit(0L).as("n_k_occurrences"),
        (col("__n") - col("__r")).as("n_vectors"))
      .where(col("n_vectors") > 0)
    hist.unionByName(zeroRow)
  }
}
