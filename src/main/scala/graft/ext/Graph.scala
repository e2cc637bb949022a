package graft.ext

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Iterative graph primitives over edge DataFrames.
  *
  * The dedup pipelines produce PAIRS (q24/q39); turning pairs into dedup
  * groups correctly needs the transitive closure — A~B and B~C put A,C in one
  * group even when (A,C) itself fell below threshold. Connected components is
  * the standard formulation (and what MapReduce-era dedup systems ran as the
  * final stage).
  */
object Graph {

  /** Default row gate for broadcasting a node-sized label table into an
    * equi-join ([[louvainContract]], the SCC condensation lookup): 10⁷
    * two-long rows ≈ 160 MB serialized — under Spark's 8 GB broadcast hard
    * cap and a size a 1000-executor fleet replicates without driver
    * distress. Above it the same lookups run as node-keyed shuffles (same
    * output). Deliberately NOT 10⁸: a forced broadcast of 10⁸ rows fails
    * on its own before any gate can help. */
  val BroadcastLabelRowLimit: Long = 10000000L

  /** Hash-min label propagation: every vertex converges to the smallest
    * vertex id reachable from it. Returns (id, component).
    *
    * Each iteration is ONE shuffle job (neighbor join + min-aggregate);
    * rounds needed = graph diameter, and near-dup graphs are shallow (dup
    * clusters are cliques or near-cliques, diameter ≤ 2-3), so 3-5 rounds
    * close most corpora. The driver only orchestrates — per-round work is
    * fully distributed.
    *
    * Two costs that earlier versions paid are gone:
    *   - symmetrization is one `explode` pass over `edges` instead of a
    *     two-branch union: `edges` is typically an unpersisted candidate-pair
    *     pipeline (MinHash verify), and a union of two selects over it ran
    *     that whole upstream pipeline twice in the materializing job;
    *   - convergence detection needs no labels×next join: the round carries
    *     a one-boolean `__chg` flag and the changed-count is a scan of the
    *     round's own just-cached blocks. (An `observe` side-metric variant
    *     was tried and REVERTED: observations complete through the
    *     Dataset-action listener, which the RDD-level materialization below
    *     does not drive — the metric read stale and converged wrongly.)
    *
    * Each round's labels are `localCheckpoint`ed — blocks cached AND the
    * RDD lineage truncated, so round N's task binary is a flat scan of
    * round N−1's blocks no matter how many rounds run (SQL persist alone
    * keeps the object-graph chain, and past ~30 rounds — a diameter-30+
    * component — task DESERIALIZATION overflows the task thread's stack;
    * reproduced round 15). The SUPERSEDED round is unpersisted as soon as
    * the next one materializes — an earlier localCheckpoint version leaked
    * every round's blocks for the JVM's lifetime, inflating unrelated
    * queries 3-6× (PERF.md); this one releases eagerly. At cluster scale,
    * `df.checkpoint()` to reliable storage also survives executor loss.
    * `maxIter` bounds the worst case; since the round-16 pointer jump the
    * loop converges in O(log diameter) rounds (hop+jump), and it exits
    * early on convergence — a bound sized to the diameter is now simply
    * generous, never binding.
    *
    * `requireConverged = true` makes an exhausted `maxIter` FAIL LOUDLY
    * instead of returning the still-moving labels. Callers that only
    * TRANSITIVELY close candidate pairs tolerate an early cut (labels are
    * a refinement — groups merge later ticks); callers that build
    * structure ON the labels (bridges' spanning forest roots, 2ECC) must
    * set it: unconverged labels mean several self-labeled roots inside one
    * component, and everything downstream silently computes on a forest
    * with the wrong root set (round-16 ADVICE item).
    *
    * Ownership: the returned frame reads this call's final-round
    * localCheckpoint blocks, which the Dataset API cannot release — the
    * caller owns them (Bench sweeps `getPersistentRDDs` between queries;
    * bridges/2ECC diff-and-release around their inner calls). */
  def connectedComponents(edges: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20,
                          requireConverged: Boolean = false): DataFrame = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    // Plan-truncating rebind. persist() short-circuits EXECUTION but leaves the
    // full LOGICAL plan in place, so round N's tree would embed the entire
    // edge-producing pipeline (for q65: the whole MinHash candidate+verify
    // plan, thousands of expression nodes) ~2^N times — and
    // analysis/canonicalization, which runs over the whole tree on every
    // action, doubles in cost per round. Measured on the q65 pipeline: rounds
    // went 4.8s → 10.1s while touching only ~12k cached rows; with the rebind
    // each round is <1s. createDataFrame(df.rdd, schema) wraps the *physical*
    // RDD (which still reads the persisted blocks, and can still recompute
    // from RDD lineage if evicted) in a constant-size LogicalRDD plan.
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    // dst-partitioned above the rebind (round 13): every round joins the
    // labels on dst, so the ONE explicit exchange here (hashpartitioning(dst)
    // also satisfies the (src,dst) dedup) replaces a per-round |E| exchange —
    // rounds exchange only the node-sized label table. The rebind UNDER the
    // repartition keeps the upstream plan (q65: the whole MinHash
    // candidate+verify tree) out of every round's analysis, as before.
    val symC = truncated(edges.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
      .repartition(col("dst")).dropDuplicates("src", "dst")
      .persist(level)
    // Materialize eagerly: folding the (possibly expensive) upstream build
    // into round 0's join job serializes cache construction behind the join's
    // stage scheduling — measured 5-10× slower than giving it its own job.
    symC.count()
    val sym = symC
    // 1-hop init: label(id) = min(id, neighbors) — exactly what a first
    // loop round over identity labels would compute, but as ONE map-side
    // combinable aggregation instead of a join round. Saves one full
    // iteration (join + union + agg + action + codegen) per CC call; on
    // the overhead-bound small-graph regime (bench sf0.1) that is ~0.5s
    // per call across every CC consumer (q65/q220/q283/q321).
    // (Reference the child column `src` inside agg, not the groupBy alias
    // `id`: resolving the alias there depends on Spark's implicit
    // lateral-column-alias resolution, off-by-default before 3.4.)
    val labelsC = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("component"))
      .select(col("src").as("id"), col("component"))
      .persist(level)
    labelsC.count()
    var labels = truncated(labelsC)
    // last round's checkpointed label RDD (null while labels still reads
    // the SQL-persisted round-0 table) — superseded rounds release eagerly
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaNeighbor = sym
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .select(col("src").as("id"), col("component"), lit(false).as("orig"))
      // Every id appears exactly once with orig=true (labels is keyed by id),
      // so min(when(orig)) recovers the round's incoming label and the
      // changed-count is computable inside the same aggregation.
      val merged = labels.select(col("id"), col("component"), lit(true).as("orig"))
        .unionByName(viaNeighbor)
        .groupBy("id")
        .agg(min("component").as("component"),
          min(when(col("orig"), col("component"))).as("prev"))
      // POINTER JUMP (round 16): lab'(x) = min(hop(x), labels(hop(x))) —
      // one extra node-keyed lookup into the ALREADY-PINNED previous-round
      // label table (so the hop aggregate is not recomputed), turning the
      // one-edge-per-round propagation into hop+jump with doubling reach:
      // rounds drop from O(diameter) to O(log diameter) (measured on the
      // 10×5-cycle chain, diameter ~29: 29 → 7 rounds). Soundness: label
      // values are node ids of the SAME component and labels(y) only ever
      // holds component members ≥ the true min, so the jump preserves the
      // invariant (monotone non-increasing, bounded by the component min);
      // the fixpoint test is unchanged — at a fixpoint the jump adds
      // nothing, and the emitted labels are the identical per-component
      // min-member table. The lookup is keyed on the jump target
      // (node-sized join, broadcast at small scale, hash at large), never
      // |E|. Jump only from round 3: the 1-hop init + two hop rounds
      // already close diameter ≤ 3 (most bench consumers), so shallow
      // graphs keep their round-15 plans and never pay the extra join;
      // deep ones pick up the doubling two rounds late, still O(log d).
      val next =
        if (iter < 2) merged.select(col("id"), col("component"),
          (col("component") =!= col("prev")).as("__chg"))
        else merged
          .join(labels.select(col("id").as("__jid"),
            col("component").as("__jc")),
            col("component") === col("__jid"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("__jc"), col("component")))
              .as("component"),
            (least(col("component"), coalesce(col("__jc"), col("component")))
              =!= col("prev")).as("__chg"))
      // RDD-level lineage cut (round 15): the plan-truncating rebind keeps
      // round N's LOGICAL plan constant, but its RDD still references round
      // N−1's RDD object through narrow deps — Java task serialization
      // walks that object graph, and past ~30 rounds (a diameter-30+
      // component at local[32]) the task binary's nested object graph
      // overflows the task thread's stack on DESERIALIZATION (reproduced:
      // tools/ScratchProbe on a 10×5-cycle chain; bench-scale consumers
      // converge in ≤ ~15 rounds and never hit it). localCheckpoint() +
      // the materializing count clears the checkpointed RDD's deps, so
      // every round's task binary is a flat scan of the previous round's
      // blocks — constant size at ANY iteration count.
      //
      // The changed-count moved OFF the Observation API in the same change:
      // observations complete through the Dataset-action listener, which a
      // raw RDD count does not drive (measured on a diameter-48 fixture:
      // the metric surfaced stale and declared convergence after round 1 —
      // WRONG labels, not just slow). The changed-count is ALSO the
      // materializing action (round 16): a filtered count over the
      // checkpoint-marked RDD scans every partition, so the blocks land
      // and the lineage cut finalizes in the same job — the separate
      // rdd.count() was one redundant job per round in every CC consumer.
      val nextRdd = next.rdd
      nextRdd.localCheckpoint()
      val nextDf = spark.createDataFrame(nextRdd, next.schema)
      val changed = nextDf.where(col("__chg")).count()
      if (prevRdd == null) labelsC.unpersist(blocking = false)
      else prevRdd.unpersist(blocking = false)
      prevRdd = nextRdd
      labels = nextDf.select(col("id"), col("component"))
      converged = changed == 0L
      iter += 1
    }
    symC.unpersist(blocking = false)
    require(!requireConverged || converged,
      s"connectedComponents: labels still changing after maxIter=$maxIter " +
        "— raise the bound (bridges/2ECC callers: maxRounds) to at least " +
        "the graph diameter")
    labels
  }

  /** INCREMENTAL connected components: fold one new edge batch into an
    * existing label table without recomputing history — the O(delta)-per-tick
    * maintenance shape for a dedup index that grows with every ingest batch.
    *
    * `prevLabels` is a `(id, component)` table whose labels canonicalize to
    * the component's MIN id (what [[connectedComponents]] produces). The new
    * batch's endpoints CONTRACT through those labels (each prior component
    * becomes one super-node, ids never seen before pass through unchanged),
    * components run over the contracted graph only, and the composed result
    * again labels every node — old and new — with its merged component's min
    * id. Contraction preserves connectivity, so the fold equals the one-shot
    * run node for node (Round12Spec proves it; q321 pins the node-level
    * label checksum against a one-shot DuckDB oracle).
    *
    * Scale: the CC loop touches ONLY the contracted delta graph (|batch|
    * edges over super-nodes), never the accumulated history; the label joins
    * are equi-joins keyed by id / super-node. At 100 TB the label table is a
    * bucketed lakehouse table and each tick is batch-sized. */
  def incrementalComponents(prevLabels: DataFrame, newEdges: DataFrame,
                            idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val l1 = prevLabels.select(col("id"), col("component"))
    val contracted = newEdges
      .join(l1.select(col("id").as(idA), col("component").as("__la")), Seq(idA), "left")
      .join(l1.select(col("id").as(idB), col("component").as("__lb")), Seq(idB), "left")
      .select(coalesce(col("__la"), col(idA)).as("id_a"),
        coalesce(col("__lb"), col(idB)).as("id_b"))
    val l2 = connectedComponents(contracted)
    val nodes = l1.select(col("id"))
      .unionByName(newEdges.select(explode(array(col(idA), col(idB))).as("id")))
      .distinct()
    nodes.join(l1, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("__s"))
      .join(l2.select(col("id").as("__s"), col("component").as("__c2")),
        Seq("__s"), "left")
      .select(col("id"), coalesce(col("__c2"), col("__s")).as("component"))
  }

  /** Triangle count over an undirected edge set — the standard clustering
    * diagnostic for a near-dup graph: true duplicate clusters are
    * near-cliques (triangle-dense), while chains of borderline matches are
    * triangle-free, so triangles/edges separates "real dup groups" from
    * "threshold artifacts" before any dedup is applied.
    *
    * The edge-iterator formulation with canonical orientation: edges are
    * deduplicated as (a < b), wedges join on the shared middle vertex with
    * the a < b < c order enforced, and a third join closes them — each
    * triangle counted exactly once. Output: one row
    * (n_edges, n_wedges, n_triangles). `n_wedges` counts ORDERED wedges —
    * open paths x–y–z with x < y < z through the middle vertex y — the
    * denominator matching the once-per-triangle numerator; the classic
    * Σ C(deg(v), 2) "all wedges" figure is larger and NOT what this reports.
    *
    * Scale: two equi-joins shuffling on vertex keys. The wedge join's output
    * is bounded above by Σ deg(v)² over canonical out-degrees, so one hub
    * vertex (a boilerplate document in more near-dup pairs than any
    * plausible clique) quadratizes the job — pass `maxDegree` to DROP
    * vertices above the cap (with all their edges) before wedge formation,
    * the same mitigation every production triangle counter uses. The degree
    * pass and the anti-joins shuffle on the same vertex keys as the wedge
    * join. Counts then describe the capped subgraph, which is the right
    * diagnostic: hub structure is noise for clique-density questions. */
  def triangleStats(edges: DataFrame, idA: String = "id_a",
                    idB: String = "id_b",
                    maxDegree: Option[Long] = None): DataFrame = {
    // The edge list is referenced 4–7 times below (wedge self-joins, the
    // closure join, counts, and the cap's degree pass). Materialize it ONCE
    // — persist + count + plan-truncating rebind, the connectedComponents
    // idiom — or an expensive upstream producer (q94 feeds the whole MinHash
    // near-dup pipeline in here) re-executes per reference: the cap's
    // anti-joins make the subplans non-identical, which defeats Spark's
    // ReusedExchange and cost a measured ~10× on q94 before this persist.
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val allC = edges
      .select(least(col(idA), col(idB)).as("a"), greatest(col(idA), col(idB)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().persist(level)
    allC.count()
    val all = truncated(allC)
    val e = maxDegree match {
      case None => all
      case Some(cap) =>
        require(cap >= 1L, s"triangleStats: maxDegree must be >= 1, got $cap")
        val hubs = all.select(col("a").as("v"))
          .unionAll(all.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("__deg"))
          .filter(col("__deg") > cap)
          .select(col("v"))
        val cappedC = all.join(hubs, col("a") === col("v"), "left_anti")
          .join(hubs, col("b") === col("v"), "left_anti")
          .persist(level)
        cappedC.count()
        allC.unpersist(blocking = false)
        truncated(cappedC)
    }
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val closed = wedges.join(e.as("e3"),
      col("x") === col("e3.a") && col("z") === col("e3.b"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** Fixed-point PageRank over a directed edge list, `iters` power
    * iterations — node importance for link graphs, citation networks, and
    * dedup-cluster diagnostics.
    *
    * All arithmetic is INTEGER micro-units: ranks start at 1e6 per node,
    * each node sends `rank DIV out_degree` along every out-edge, and the
    * update is `(1000 − d)·1000 + (d · Σ incoming) DIV 1000` with damping
    * `d` in per-mille. Floating-point PageRank is NOT reproducible on a
    * cluster (a double sum over incoming contributions depends on reduce
    * order); the integer form is commutative, so the result is bit-stable
    * across partitionings, retries, and engines — an independent SQL engine
    * replays it exactly (q127's oracle unrolls the iterations). Truncation
    * loses < 1 micro-unit per edge per round: diagnostic-irrelevant, and a
    * price worth paying for a deterministic fixpoint.
    *
    * Nodes with no in-edges keep the teleport mass; nodes with no OUT-edges
    * (dangling) leak their damped mass — standard simplified PageRank;
    * symmetrize the edge list first if mass conservation matters.
    *
    * Scale: per iteration, one (join on src) + one (groupBy dst) shuffle
    * over the edge list — the textbook distributed PageRank step. Only the
    * frames REUSED across iterations (edges, out-degrees, the node set) are
    * persisted; each rank frame is consumed exactly once by the next round,
    * so the iterations chain lazily into ONE action — no per-round
    * materialization (which measured ~2× slower here). The logical plan is
    * still REBOUND each round (see [[connectedComponents]]'s truncation
    * note), keeping analysis cost O(1) in `iters`; on a real cluster,
    * `df.checkpoint()` every ~10 rounds bounds the RDD lineage for
    * executor-loss tolerance. */
  def pageRankIterations(edges: DataFrame, iters: Int,
                         dampingPerMille: Long = 850L,
                         srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"pageRankIterations: iters must be >= 1, got $iters")
    require(dampingPerMille >= 0 && dampingPerMille <= 1000,
      s"pageRankIterations: damping must be in [0, 1000] per-mille, got $dampingPerMille")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    // One exchange by src (above a plan-truncating rebind of the upstream,
    // so per-action analysis stays constant) serves the dedup
    // (hashpartitioning(src) satisfies ClusteredDistribution(src,dst)), the
    // outdeg aggregate, AND the rank-contribution join of EVERY iteration —
    // the partitioning stays visible on the cache, so each round exchanges
    // only the node-sized rank table, never the edges (q127: 59.8 → 29.2 MB
    // measured, PERF.md round 13).
    val eC = truncated(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      .repartition(col("src")).dropDuplicates("src", "dst").persist(level)
    eC.count()
    val e = eC
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outd")).persist(level)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist(level)
    val teleport = (1000L - dampingPerMille) * 1000L

    var ranks = nodes.select(col("node"), lit(1000000L).as("rank_micros"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        // expr(DIV), not `/`: Column./ on longs is double division.
        .select(col("dst"), expr("rank_micros DIV outd").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      ranks = truncated(nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"$dampingPerMille * coalesce(in_sum, 0L) DIV 1000"))
            .as("rank_micros")))
    }
    ranks
  }

  /** Personalized (topic-sensitive) PageRank — [[pageRankIterations]] with
    * the teleport mass restricted to a SEED set (Haveliwala 2002): rank
    * flows out from the seeds through the link structure, so the result
    * ranks nodes by proximity-weighted connectivity TO THE SEEDS rather
    * than globally. Same exact integer micro arithmetic (truncating DIV on
    * both engines' positive values), same one-join-one-aggregate loop per
    * iteration; the only changes are the initial vector (10⁶ micros on
    * seeds, 0 elsewhere) and the per-round teleport term (seeds only).
    * Seeds not present in the graph contribute nothing (inner-join
    * flagging); output: `(node, rank_micros)` for every graph node. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           dampingPerMille: Long = 850L,
                           srcCol: String = "src", dstCol: String = "dst",
                           seedCol: String = "node"): DataFrame = {
    require(iters >= 1, s"personalizedPageRank: iters must be >= 1, got $iters")
    require(dampingPerMille >= 0 && dampingPerMille <= 1000,
      s"personalizedPageRank: damping must be in [0, 1000] per-mille, got $dampingPerMille")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    // same src-partitioned cached edge table as pageRankIterations (rebind
    // below the repartition): the per-iteration contribution join exchanges
    // only the rank side
    val eC = truncated(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      .repartition(col("src")).dropDuplicates("src", "dst").persist(level)
    eC.count()
    val e = eC
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outd")).persist(level)
    val nodesF = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(seeds.select(col(seedCol).as("node"), lit(1L).as("__s")).distinct(),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("is_seed"))
      .persist(level)
    nodesF.count()
    val nodes = truncated(nodesF)
    val teleport = (1000L - dampingPerMille) * 1000L

    var ranks = nodes.select(col("node"),
      (col("is_seed") * 1000000L).as("rank_micros"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst"), expr("rank_micros DIV outd").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      ranks = truncated(nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (col("is_seed") * teleport +
            expr(s"$dampingPerMille * coalesce(in_sum, 0L) DIV 1000"))
            .as("rank_micros")))
    }
    ranks
  }

  /** Breadth-first k-hop neighborhood from a seed set: every node reachable
    * in at most `hops` directed steps, labeled with its exact hop distance
    * (0 = seed). The expansion primitive behind "everything within 2 links
    * of these domains", blast-radius queries, and semi-supervised label
    * spreading.
    *
    * Per hop: one equi-join frontier→edges (shuffle on the edge key), one
    * distinct, one anti-join against the visited set — BFS costed as hash
    * joins, never per-node iteration. Visited/frontier are persisted and the
    * plan REBOUND each hop ([[connectedComponents]]'s truncation note), so
    * plan size is O(1) in `hops`; `df.checkpoint()` is the cluster-grade
    * swap for executor loss. Frontiers are node-sets (≤ |V| rows); `hops` is
    * expected small (1–4) — at social-graph diameters the frontier IS the
    * graph and a connected-components formulation fits better. */
  def kHopDistances(edges: DataFrame, seeds: DataFrame, hops: Int,
                    srcCol: String = "src", dstCol: String = "dst",
                    seedCol: String = "node"): DataFrame = {
    require(hops >= 0, s"kHopDistances: hops must be >= 0, got $hops")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    // src-partitioned above the rebind (round 13, pageRankIterations'
    // shape): the per-round src-keyed join exchanges only the small side,
    // never the cached edge table.
    val eC = truncated(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      .repartition(col("src")).dropDuplicates("src", "dst").persist(level)
    eC.count()
    val e = eC

    var visitedC = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).persist(level)
    visitedC.count()
    var visited = truncated(visitedC)
    var frontier = visited
    for (h <- 1 to hops) {
      val nextC = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        .persist(level)
      nextC.count()
      val grownC = visited.union(truncated(nextC)).persist(level)
      grownC.count()
      visitedC.unpersist(blocking = false)
      visitedC = grownC
      visited = truncated(grownC)
      frontier = truncated(nextC)
    }
    visited
  }

  /** Semi-supervised label propagation: seed nodes carry hard labels; each
    * round, every still-unlabeled node adjacent to labeled ones adopts the
    * MAJORITY label among its labeled neighbors (ties → smallest label), and
    * is then frozen. The classic cheap classifier over a similarity / dup /
    * citation graph — label 1% of a corpus by hand, spread over near-dup
    * edges to label the rest. Freezing makes the process monotone (no
    * oscillation) and each round's output deterministic. Output:
    * `(node, label, round)` with round 0 = seeds.
    *
    * Per round: one frontier equi-join labeled→edges, one anti-join to keep
    * only unlabeled adoptees, one (node,label) vote count, one
    * `max(struct)` argmax — all shuffles on node keys, no per-node driver
    * iteration. Iterative-DataFrame hygiene as [[connectedComponents]]:
    * persisted rounds, plan-truncating rebind, superseded-round unpersist;
    * swap `df.checkpoint()` in for executor-loss tolerance at cluster
    * scale. `iters` is expected small (graph diameter-ish). */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, iters: Int,
                       srcCol: String = "src", dstCol: String = "dst",
                       nodeCol: String = "node", labelCol: String = "label"): DataFrame = {
    require(iters >= 0, s"labelPropagation: iters must be >= 0, got $iters")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    // src-partitioned above the rebind (round 13, pageRankIterations'
    // shape): the per-round src-keyed join exchanges only the small side,
    // never the cached edge table.
    val eC = truncated(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      .repartition(col("src")).dropDuplicates("src", "dst").persist(level)
    eC.count()
    val e = eC

    var labeledC = seeds
      .select(col(nodeCol).as("node"), col(labelCol).cast("long").as("label"))
      .distinct().withColumn("round", lit(0L)).persist(level)
    labeledC.count()
    var labeled = truncated(labeledC)
    for (i <- 1 to iters) {
      // The already-labeled anti-join runs AFTER the vote aggregates: votes
      // for a labeled dst are computed and then discarded, which is
      // semantically identical (labels only ever grow) but moves the
      // anti-join from the EDGE-sized join output to the node-sized vote
      // table — the per-round exchange drops from |E|+votes to the
      // map-side-combined votes alone (measured at sf0.1: q148 34.1→?, see
      // PERF.md).
      val adoptedC = e
        .join(labeled.select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("votes"))
        // Majority label, ties to the SMALLEST label: argmax over
        // (votes, -label) — one aggregate, no rank window.
        .groupBy(col("dst"))
        .agg(max(struct(col("votes"), (-col("label")).as("nl"))).as("w"))
        .join(labeled.select(col("node").as("dst")), Seq("dst"), "left_anti")
        .select(col("dst").as("node"), (-col("w.nl")).as("label"),
          lit(i.toLong).as("round"))
        .persist(level)
      adoptedC.count()
      val grownC = labeled.union(truncated(adoptedC)).persist(level)
      grownC.count()
      labeledC.unpersist(blocking = false)
      labeledC = grownC
      labeled = truncated(grownC)
    }
    labeled
  }

  /** Newman modularity of a vertex partition over an undirected simple graph,
    * micro-scaled and integer-exact: `Q = Σ_c (e_c/m − (d_c/2m)²)` computed
    * as `Σ_c ⌊10⁶·(4m·e_c − d_c²)/(4m²)⌋` (per-cluster truncation toward
    * zero, identical on any engine; DECIMAL(38,0) — exact to m ≈ 10¹⁵
    * edges). The clustering-quality readout for a dedup/linkage partition:
    * Q near 1 = many tight clusters, Q ≤ 0 = the partition explains nothing
    * (one giant hairball scores 0: e_c = m and d_c = 2m cancel).
    *
    * `edges` are distinct undirected pairs (idA < idB); `labels` must assign
    * every endpoint a cluster label — an unlabeled endpoint raises
    * `raise_error` at execution (silently dropping its edges would skew m
    * and every d_c). Output one row:
    * `(m, n_clusters, intra_edges, q_micro)`.
    *
    * Scale: two label-lookup joins on the edge list (shuffle on vertex id),
    * then strict key-coarsening aggregates to cluster granularity and a
    * broadcast one-row combine — no quadratic term anywhere. */
  def modularityMicro(edges: DataFrame, labels: DataFrame,
                      idA: String = "id_a", idB: String = "id_b",
                      nodeCol: String = "node", labelCol: String = "label"): DataFrame = {
    val e = edges.select(col(idA).as("__a"), col(idB).as("__b")).distinct()
      .join(labels.select(col(nodeCol).as("__a"), col(labelCol).as("__la")),
        Seq("__a"), "left")
      .join(labels.select(col(nodeCol).as("__b"), col(labelCol).as("__lb")),
        Seq("__b"), "left")
      .withColumn("__la",
        when(col("__la").isNotNull, col("__la")).otherwise(raise_error(
          concat(lit("Graph.modularityMicro: unlabeled endpoint "), col("__a")))))
      .withColumn("__lb",
        when(col("__lb").isNotNull, col("__lb")).otherwise(raise_error(
          concat(lit("Graph.modularityMicro: unlabeled endpoint "), col("__b")))))
    val m1 = e.agg(count(lit(1)).as("m"))
    // degree mass per cluster: each edge adds 1 to each endpoint's cluster
    val dC = e.select(explode(array(col("__la"), col("__lb"))).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__d"))
    // intra-cluster edge count per cluster
    val eC = e.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("__c")).agg(count(lit(1)).as("__e"))
    dC.join(eC, Seq("__c"), "left").na.fill(0L, Seq("__e"))
      .crossJoin(broadcast(m1))
      .select(col("__c"),
        expr("CAST(__e AS DECIMAL(38,0))").as("ed"),
        expr("CAST(__d AS DECIMAL(38,0))").as("dd"),
        expr("CAST(m AS DECIMAL(38,0))").as("md"),
        col("m"))
      .withColumn("__term",
        expr("(1000000 * (4 * md * ed - dd * dd)) DIV (4 * md * md)"))
      .agg(max(col("m")).as("m"),
        count(lit(1)).as("n_clusters"),
        sum(expr("CAST(ed AS BIGINT)")).as("intra_edges"),
        sum(col("__term")).as("q_micro"))
  }

  /** Weighted single-source(-set) shortest paths, bounded to `rounds` edges —
    * distributed Bellman–Ford with frontier-only relaxation.
    *
    * Each round relaxes ONLY the nodes whose distance improved last round
    * (the classic frontier optimization — full-table relaxation re-scans
    * every settled node every round, which at 100 TB is `rounds × |V|` of
    * wasted join input), takes the per-node `min` of the candidates (a
    * map-side-combinable groupBy), and merges improvements back. The loop
    * exits early once a round improves nothing.
    *
    * Semantics: exact minimum WEIGHT over walks of ≤ `rounds` edges from the
    * seed set — with non-negative weights this equals the minimum over
    * simple paths of ≤ `rounds` edges (removing a cycle from a walk never
    * increases weight or edge count), which is what q242's recursive-CTE
    * oracle enumerates. All-integer weights keep the min exact.
    *
    * Same iterative-plan discipline as [[connectedComponents]] /
    * [[pageRankIterations]]: persisted round state with a plan-truncating
    * rebind per round (bounded plan depth), superseded states unpersisted;
    * at cluster scale, checkpoint every ~10 rounds against executor loss.
    *
    * One aggregation per round (the [[connectedComponents]] `orig`-flag
    * fold): the relaxation candidates UNION the current table with an
    * origin flag, and a single groupBy(node) yields the new distance
    * (`min(dist)`), the incoming distance (`min(when(orig))`, exact because
    * the table is keyed by node), and therefore the improved-flag — so each
    * round is ONE exchange and ONE materializing action, where the previous
    * shape paid three persist+count cycles (candidates, improvements,
    * merge). The next frontier and the live check read the persisted round
    * state. At bench scale this halves the loop's fixed costs (the q65
    * class); at 100 TB it removes two full exchanges per round. */
  def boundedShortestPaths(
      edges: DataFrame, seeds: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst", wCol: String = "w",
      seedCol: String = "node"): DataFrame = {
    require(rounds >= 0, s"boundedShortestPaths: rounds must be >= 0, got $rounds")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    // Truncate the (possibly huge) upstream plan FIRST, then pre-partition
    // by the join key and cache the RESULTING DataFrame: the LogicalRDD
    // rebind keeps per-action analysis cost constant, and because the
    // repartition sits ABOVE the rebind the cache's outputPartitioning
    // stays visible to Catalyst — so every round's frontier⋈edges join
    // exchanges only the (small) frontier side. rounds×|E| shuffle becomes
    // |E| once — the dominant byte cost of this operator at any scale
    // (q242: 90.5 → 45.4 MB measured, PERF.md round 13).
    val eC = truncated(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w")))
      .repartition(col("src")).persist(level)
    eC.count()
    val e = eC

    var roundC = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
      .withColumn("__improved", lit(true)).persist(level)
    roundC.count()
    var state = truncated(roundC)
    def frontierOf(df: DataFrame): DataFrame =
      df.where(col("__improved")).select(col("node"), col("dist"))
    var r = 0
    var live = true
    while (r < rounds && live) {
      r += 1
      val cand = frontierOf(state).join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
          lit(false).as("__orig"))
      // every node appears at most once with __orig=true (the state is keyed
      // by node), so min(when(__orig)) is the round's incoming distance and
      // the improved flag falls out of the same aggregation
      val mergedC = state.select(col("node"), col("dist"), lit(true).as("__orig"))
        .unionByName(cand)
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"),
          min(when(col("__orig"), col("dist"))).as("__old"))
        .withColumn("__improved",
          col("__old").isNull || col("dist") < col("__old"))
        .select(col("node"), col("dist"), col("__improved"))
        .persist(level)
      mergedC.count()
      live = mergedC.where(col("__improved")).limit(1).count() > 0L
      roundC.unpersist(blocking = false)
      roundC = mergedC
      state = truncated(mergedC)
    }
    val out = state.select(col("node"), col("dist"))
    out
  }

  /** k-core pruning: iteratively delete vertices of degree < k (with their
    * edges) until fixpoint or `maxRounds` — the standard "dense part of the
    * graph" extraction (Seidman 1983, "Network structure and minimum
    * degree"): near-dup cliques, fraud rings, and co-purchase communities
    * survive; chains and stars of borderline matches dissolve.
    *
    * Each round is one degree aggregate + two semi-joins of the live edge
    * set against the surviving-vertex set — all keyed shuffles, with the
    * usual persisted-state + plan-truncating-rebind discipline. Early exit
    * at fixpoint. IF `maxRounds` is hit first the result is the
    * partially-pruned graph of exactly `maxRounds` rounds — deterministic
    * either way, which is what lets q252's oracle UNROLL the same rounds as
    * chained CTEs (a converged run equals the unrolled form because the
    * fixpoint is idempotent).
    *
    * Input edges are canonicalized (undirected, deduplicated, self-loops
    * dropped). Output: `(node, deg)` over the surviving subgraph. */
  def kCore(edges: DataFrame, k: Long, maxRounds: Int,
            idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    require(k >= 1 && maxRounds >= 1, s"need k >= 1, maxRounds >= 1; got $k, $maxRounds")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    // src-partitioned ABOVE the rebind and re-established on every round's
    // pruned survivor set (the round-13 graph-loop pattern): the per-round
    // degree aggregate and the src-side semi-join then reuse the cached
    // partitioning, so each round exchanges the live set ONCE (the dst-side
    // semi) instead of three times. The dedup exchange below rides the same
    // repartition.
    var liveC = truncated(edges.where(col(idA) =!= col(idB))
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
      .repartition(col("src")).dropDuplicates("src", "dst").persist(level)
    liveC.count()
    var live = liveC
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val strong = live.groupBy(col("src")).agg(count(lit(1)).as("n"))
        .where(col("n") >= k).select(col("src"))
      val prunedC = truncated(live
        .join(strong, Seq("src"), "left_semi")
        .join(strong.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
        .repartition(col("src"))
        .persist(level)
      val before = liveC.count()
      val after = prunedC.count()
      liveC.unpersist(blocking = false)
      liveC = prunedC
      // prunedC already carries the rebind BELOW its repartition — binding
      // `live` straight to it keeps the partitioning visible next round
      // (a second truncation here would blindfold it again).
      live = prunedC
      converged = before == after
    }
    // the final live set stays persisted (the returned plan reads it);
    // same convention as connectedComponents/kHopDistances — the harness
    // clears caches per query
    live.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** HITS hubs & authorities (Kleinberg 1999 — public literature) on a
    * directed edge set (`src` = hub side, `dst` = authority side): `iters`
    * mutual-reinforcement rounds in exact integer micros, MAX-normalized
    * after every half-step (`a′ = 10⁶·a DIV max a`) so scores stay bounded
    * and the truncating-DIV arithmetic replays identically in the oracle.
    * Output: `(node, auth_micros)` for the authority side after `iters`
    * rounds (the top authority always lands exactly at 10⁶).
    *
    * Scale: each half-step is one equi-join on the edge key + one groupBy,
    * plus a one-row max broadcast; lineage is truncated per round like
    * [[pageRankIterations]]. Overflow note: the normalize step computes
    * `raw·10⁶` with raw ≤ 10⁶·maxdeg, so int64 holds to maxdeg ≈ 9·10⁶;
    * past that lift the products to DECIMAL per the spearman discipline. */
  def hitsAuthorities(edges: DataFrame, iters: Int,
                      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"hitsAuthorities: iters must be >= 1, got $iters")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    // src-partitioned above the rebind: the hub->authority join reuses it
    // every round; the authority->hub join keys on dst and still exchanges
    // the edge side — a dst-partitioned SECOND cached copy would remove
    // that too at 2x memory (worth it at cluster scale; not at bench scale).
    val eC = truncated(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      .repartition(col("src")).dropDuplicates("src", "dst").persist(level)
    eC.count()
    val e = eC
    var hubs = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("h"))
    var auths: DataFrame = hubs // placeholder; iters >= 1 always overwrites
    for (_ <- 1 to iters) {
      val aRaw = e.join(hubs.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst")).agg(sum(col("h")).as("raw"))
      val a = truncated(aRaw
        .crossJoin(broadcast(aRaw.agg(max(col("raw")).as("__m"))))
        .select(col("dst").as("node"), expr("raw * 1000000 DIV __m").as("a")))
      val hRaw = e.join(a.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src")).agg(sum(col("a")).as("raw"))
      hubs = truncated(hRaw
        .crossJoin(broadcast(hRaw.agg(max(col("raw")).as("__m"))))
        .select(col("src").as("node"), expr("raw * 1000000 DIV __m").as("h")))
      auths = a
    }
    auths.select(col("node"), col("a").as("auth_micros"))
  }

  /** Bounded k-truss peel ([[kCore]]'s edge-support sibling — Cohen 2008):
    * repeatedly drop every edge lying on fewer than `k−2` triangles, the
    * community primitive that is strictly stronger than k-core (every edge
    * of a k-truss connects two (k−1)-core members, but not vice versa).
    * Each round computes per-edge SUPPORT (common-neighbor count via two
    * adjacency joins — the q94 triangle shape, never all-pairs) and peels;
    * `maxRounds` bounds the rounds exactly like [[kCore]]'s contract (a
    * converged graph makes further rounds idempotent no-ops). Returns the
    * surviving edges with the support that justified their survival (the
    * value measured in the LAST executed round).
    *
    * Scale: the round's exchanges are the symmetrized adjacency keyed on
    * its endpoint (twice) and the (a,b) support aggregate — all edge-keyed;
    * the live edge set is re-repartitioned on `a` above the plan-truncating
    * rebind each round (the round-13 graph-loop pattern) so the per-round
    * joins reuse the cached partitioning. Support counting fan-out is
    * Σ_e min(deg(a), deg(b)) — cap hub degrees upstream (the q241/q252
    * basket-cap discipline) exactly as any distributed truss
    * decomposition must. */
  def kTruss(edges: DataFrame, k: Long, maxRounds: Int,
             idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    require(k >= 3 && maxRounds >= 1,
      s"kTruss: need k >= 3, maxRounds >= 1; got $k, $maxRounds")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    var curC = truncated(edges.where(col(idA) =!= col(idB))
      .select(least(col(idA), col(idB)).cast("long").as("a"),
        greatest(col(idA), col(idB)).cast("long").as("b")))
      .repartition(col("a")).dropDuplicates("a", "b").persist(level)
    curC.count()
    var cur = curC
    var lastSup: DataFrame = null
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .union(cur.select(col("b").as("u"), col("a").as("v")))
      val sup = cur
        .join(sym.select(col("u").as("a"), col("v").as("c")), Seq("a"))
        .join(sym.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      val withSup = cur.join(sup, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
      lastSup = withSup
      val prunedC = truncated(
          withSup.where(col("support") >= k - 2).select(col("a"), col("b")))
        .repartition(col("a")).persist(level)
      val nAfter = prunedC.count()
      val nBefore = cur.count()
      cur.unpersist(blocking = false)
      cur = prunedC
      converged = nAfter == nBefore
    }
    cur.join(lastSup, Seq("a", "b"))
      .select(col("a").as(idA), col("b").as(idB), col("support"))
  }

  /** Deterministic random-walk table (the DeepWalk/node2vec input stage):
    * from every start node (`node % startMod = 0`), take `steps` steps
    * where step `t` at node `u` picks neighbor index
    * `hash60("rw:<walk>:<t>:<u>") mod deg(u)` over the id-ORDERED adjacency
    * — the portable md5-60 family, so the "randomness" replays
    * arithmetically in any engine (the same contract as the generators and
    * MinHash seeds). Output: one row per visited position,
    * `(walk_id, step, node)`, step 0 = the start node.
    *
    * Scale: the adjacency (with per-source `idx` rank and degree) is
    * computed once and persisted partitioned by its source key; each step
    * is ONE equi-join of the walk frontier (walk-count-sized, tiny vs |E|)
    * against it on `(node, idx)` — never a per-walk driver loop, and the
    * walk count scales with `startMod`, not the graph. This is how a
    * 100 TB embedding pipeline materializes its corpus of walks. */
  def randomWalks(edges: DataFrame, steps: Int, startMod: Long,
                  idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    require(steps >= 1 && startMod >= 1,
      s"randomWalks: bad args ($steps, $startMod)")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    val sym = truncated(edges.where(col(idA) =!= col(idB))
      .select(explode(array(
        struct(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst")),
        struct(col(idB).cast("long").as("src"), col(idA).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")).distinct())
      .repartition(col("src")).persist(level)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val adj = sym.withColumn("idx", row_number().over(w) - 1).persist(level)
    adj.count()
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))

    // Each step's frontier is rebound (plan-truncated) and persisted, so
    // the step-t branch of the unioned output reads the cached frontier
    // instead of replaying steps 1..t — without this the union is
    // O(steps²) joins with a plan that deepens every step (the same
    // graph-loop discipline as kTruss / louvainSweeps). Frontiers are
    // walk-count-sized (tiny vs |E|), so keeping all `steps` of them
    // cached until the output is consumed costs nodes/startMod × steps
    // rows total.
    var cur = truncated(adj.select(col("src").as("node")).distinct()
        .where(pmod(col("node"), lit(startMod)) === 0)
        .select(col("node").as("walk_id"), col("node")))
      .persist(level)
    cur.count()
    var out = cur.select(col("walk_id"), lit(0L).as("step"), col("node"))
    for (t <- 1 to steps) {
      val choice = pmod(graft.ext.PortableHash.hash60(
        concat(lit("rw:"), col("walk_id").cast("string"), lit(s":$t:"),
          col("node").cast("string"))), col("deg"))
      cur = truncated(cur
          .join(deg.withColumnRenamed("src", "node"), Seq("node"))
          .withColumn("idx", choice)
          .join(adj.withColumnRenamed("src", "node"), Seq("node", "idx"))
          .select(col("walk_id"), col("dst").as("node")))
        .persist(level)
      cur.count()
      out = out.unionByName(
        cur.select(col("walk_id"), lit(t.toLong).as("step"), col("node")))
    }
    out
  }

  /** Strongly connected components of a DIRECTED edge table — the directed
    * sibling the CC family lacks, by bounded forward-backward COLORING
    * (the Fleischer-et-al FB idea in the distributed min-label form of
    * Orzan-style coloring; implemented from the published argument):
    *
    * each OUTER round over the still-active subgraph
    *  1. colors every node with the smallest node id that can REACH it
    *     (forward min-label propagation to a fixed point — bounded by
    *     `maxPropRounds` with a convergence check);
    *  2. every color class contains exactly one PIVOT (the node that is
    *     its own color); the class's SCC is the set of members that reach
    *     the pivot, found by BACKWARD frontier propagation restricted to
    *     same-color edges. Correctness of the restriction: if c(n) = p and
    *     n reaches p, every intermediate x on any n→p path satisfies
    *     p→n→x and x→p, so x ∈ SCC(p) and c(x) = p — no qualifying path
    *     ever leaves the color class. The pivot is provably the SCC's
    *     MINIMUM member (a smaller member would be a smaller self-ancestor),
    *     so the emitted `scc` label is canonical: min member id.
    *  3. found SCCs (every class yields at least its pivot) are emitted
    *     and deactivated; the next round recurses on the remainder —
    *     outer progress ≥ 1 SCC per class per round, so `maxRounds` of
    *     the condensation-DAG depth suffices.
    *
    * ALL color classes are processed simultaneously — the per-round work
    * is whole-graph keyed joins (label lookup on src/dst, node-keyed
    * aggregates), never per-pivot jobs; active edges/labels persist
    * repartitioned above the plan-truncating rebind (the graph-loop
    * discipline). Min-label propagation is FRONTIER-LIMITED: min over a
    * monotone lattice means a node's color can only improve through an
    * in-neighbor whose color improved last round, so each inner round
    * joins only the CHANGED nodes' out-edges (the q133 BFS frontier
    * discipline) — per-round cost tracks the moving boundary, not
    * rounds×|E|. Since round 16 every hop is followed by a POINTER JUMP
    * through the round's pinned label table (reach 2^p − 1 after p
    * rounds), so inner rounds scale with the LOG of the active subgraph's
    * directed diameter; `maxPropRounds` ≥ log₂(diameter) + slack
    * suffices, and the backward phase runs the same jumped propagation
    * over the reversed same-color edges.
    *
    * Honest bound: output is `(id, scc)` for every endpoint node resolved
    * within the bounds — unresolved actives are ABSENT, never mislabeled.
    * Concretely, a round EMITS only when BOTH inner loops reached their
    * fixed points (forward coloring converged AND the backward frontier
    * drained); if either hits `maxPropRounds` while still moving, the
    * round emits nothing and the remaining active nodes stay absent
    * (emitting a partially-propagated class could split one true SCC
    * across labels — a wrong answer, not a smaller one). */
  /** One frontier-limited forward-coloring round of
    * [[stronglyConnectedComponents]], exposed for the spec pin: candidate
    * colors come ONLY from `front`'s out-edges (min-label is monotone, so a
    * node not downstream of a changed node cannot improve), then the full
    * color table takes the pointwise min. Output: `(id, c, __chg)` with
    * `__chg` true iff the color improved this round — rows with `__chg`
    * are the next frontier. Per-round exchange: the frontier-out-edge
    * aggregate + the node-keyed rewrite; the |E|-proportional aggregate
    * input of the pre-frontier form is gone (measured −30% total shuffle
    * on a fanout-8 lattice, PERF r15). */
  private[graft] def sccColorStep(e: DataFrame, colors: DataFrame,
                                  front: DataFrame): DataFrame = {
    val viaIn = e
      .join(front.select(col("id").as("src"), col("c").as("cs")), Seq("src"))
      .groupBy(col("dst").as("id")).agg(min(col("cs")).as("cin"))
    colors.join(viaIn, Seq("id"), "left")
      .select(col("id"),
        least(col("c"), coalesce(col("cin"), col("c"))).as("c"),
        (coalesce(col("cin"), col("c")) < col("c")).as("__chg"))
  }

  def stronglyConnectedComponents(edges: DataFrame, maxRounds: Int,
                                  maxPropRounds: Int = 30,
                                  srcCol: String = "src",
                                  dstCol: String = "dst"): DataFrame = {
    require(maxRounds >= 1 && maxPropRounds >= 1,
      s"stronglyConnectedComponents: bad args ($maxRounds, $maxPropRounds)")
    val store = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    var e = truncated(edges
        .select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .where(col("src") =!= col("dst")).distinct())
      .repartition(col("src")).persist(store)
    e.count()
    var nodes = truncated(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
      .repartition(col("id")).persist(store)
    var nActive = nodes.count()
    var out: Option[DataFrame] = None
    var round = 0
    var boundHit = false
    // superseded edge table whose blocks the CURRENT (lazy) e still reads;
    // released once the next forward phase materializes e
    var staleE: DataFrame = null
    while (round < maxRounds && nActive > 0 && !boundHit) {
      round += 1
      // Shared inner loop (round 16): frontier-limited min-label propagation
      // WITH POINTER JUMPING over an edge table — one [[sccColorStep]] hop
      // (candidates from the changed nodes' out-edges only) followed by one
      // node-keyed jump through the CURRENT pinned label table,
      // lab'(x) = min(hop(x), lab(hop(x))). The jump is sound for directed
      // reachability labels (lab(x) = y means y reaches x; lab(y) = z means
      // z reaches y, hence z reaches x), labels stay monotone non-increasing
      // and bounded by the true minimum, and the fixed point is unchanged —
      // but reach now DOUBLES per round (2^p − 1 after p rounds), so inner
      // rounds drop from O(directed diameter) to O(log diameter). ONE
      // pinned frame + one changed-count job per round (the 5c3be1e
      // discipline); the frontier is a filter over the round's cache.
      // Returns the pinned label table and whether a fixed point was
      // REACHED (changed == 0) — the honest-bound emission guard.
      def jumpedPropagate(et: DataFrame, init: DataFrame,
                          initChanged: Long): (DataFrame, Boolean) = {
        // One hop+jump round as an UNEXECUTED plan over the current label
        // table: tbl may be the round's pinned frame or the first half of
        // an unrolled pair. Jump only from round 3: a shallow class
        // (diameter ≤ 3 — the common case once the condensation peels)
        // converges on the pure-hop path and never pays the extra join; a
        // deep one picks up the doubling two rounds late, still O(log d)
        // total. Jumping through tbl (the freshest table in scope) keeps
        // the round-16 invariant: c-values are class members ≥ the true
        // min, so lab'(x) = min(hop(x), tbl(hop(x))) stays monotone with
        // the fixed point unchanged.
        def step(tbl: DataFrame, front: DataFrame, pIdx: Int): DataFrame = {
          val hopped = sccColorStep(et, tbl.select(col("id"), col("c")),
            front.select(col("id"), col("c")))
          if (pIdx < 3) hopped
          else hopped
            .join(tbl.select(col("id").as("__jid"), col("c").as("__jc")),
              col("c") === col("__jid"), "left")
            .select(col("id"),
              least(col("c"), coalesce(col("__jc"), col("c"))).as("c"),
              (col("__chg")
                || coalesce(col("__jc"), col("c")) < col("c")).as("__chg"))
        }
        // No eager init count (round 17 resume): the rebind runs the init
        // projection's stages at construction either way (AQE finalizes at
        // .rdd); the separate final-stage count job bought nothing — the
        // first round's changed count fills the cache.
        var labP = truncated(init).repartition(col("id")).persist(store)
        var front = labP // at init every node's label just "changed"
        var changed = initChanged
        var p = 0
        while (changed > 0 && p < maxPropRounds) {
          p += 1
          var cur = step(labP, front, p)
          // From the SECOND jump round on (p ≥ 4), pair a second hop+jump
          // into the same action (round 17 resume): deep classes halve
          // their action count — at bench scale the per-action driver
          // work dominates this family's wall — and the convergence test
          // is unchanged (the count observes the LAST step; a no-change
          // last step is a full round at a fixed point). Starting at 4,
          // not 3, keeps the common shallow case (diameter ≤ 2, fixed
          // point observed at round 3) byte-identical: it never pays a
          // wasted half-step. Deep classes can waste at most ONE trailing
          // half-step, and it is frontier-limited: an empty front costs
          // an empty hop aggregate + the node-keyed rewrite — O(|V|),
          // never O(|E|), which is why this pairing is applied here and
          // deliberately NOT to connectedComponents (whose round is a
          // full |E| neighbor join — a wasted round there is real work
          // at 100 TB, not just a barrier).
          var lazyPin: DataFrame = null
          if (p >= 4 && p < maxPropRounds) {
            p += 1
            // the intermediate half-round is referenced three times by the
            // second half (table, frontier, jump) — a lazy persist is the
            // plan-tree dedup point (fills inside this round's one count
            // job, no extra action), released right after it
            lazyPin = cur.persist(store)
            cur = step(lazyPin, lazyPin.where(col("__chg")), p)
          }
          val stepped = truncated(cur)
            .repartition(col("id")).persist(store)
          changed = stepped.where(col("__chg")).count()
          if (lazyPin != null) lazyPin.unpersist(blocking = false)
          labP.unpersist(blocking = false)
          labP = stepped
          front = stepped.where(col("__chg"))
        }
        (labP, changed == 0L)
      }

      // 1. forward min-label coloring to a fixed point
      val (colorsP, fwdConverged) =
        jumpedPropagate(e, nodes.select(col("id"), col("id").as("c")), nActive)
      // the forward phase's first count scanned e (= last round's lazy
      // nextE), so its cache is now filled and the superseded edge table
      // can finally release
      if (staleE != null) { staleE.unpersist(blocking = false); staleE = null }
      val colors = colorsP.select(col("id"), col("c"))
      if (!fwdConverged) {
        // maxPropRounds hit while colors were still moving: the coloring is
        // NOT a fixed point, so a class may hold >1 would-be pivot and any
        // emission could split a true SCC across labels. Emit nothing for
        // the remaining actives (honest-bound contract) and stop.
        colorsP.unpersist(blocking = false)
        boundHit = true
      } else {
        // 2. backward reach within color classes — the SAME jumped
        // propagation over the REVERSED same-color edges: bm(x) = the min
        // id x REACHES via same-color edges (backward propagation along an
        // edge src→dst hands dst's label to src, i.e. forward propagation
        // on the reversed table). Same-color walks never leave the class,
        // the class minimum is its pivot p, and every member id ≥ p, so
        // x ∈ SCC(p) ⟺ x reaches p ⟺ bm(x) = p = c(x). Replaces the
        // round-15 frontier-SET BFS (which paid O(class height) rounds and
        // pinned TWO frames per round — the growing marked set and the
        // frontier) with O(log height) rounds at one pinned frame each;
        // the emitted member set is identical.
        // No eager count (round 17 resume): the cache fills inside the
        // backward phase's first changed-count job — one action instead
        // of two for a table scanned once per backward round.
        val sameColorE = truncated(e
            .join(colors.select(col("id").as("src"), col("c").as("cs")),
              Seq("src"))
            .join(colors.select(col("id").as("dst"), col("c").as("cd")),
              Seq("dst"))
            .where(col("cs") === col("cd"))
            .select(col("dst").as("src"), col("src").as("dst")))
          .repartition(col("src")).persist(store)
        val (bmP, bwdConverged) = jumpedPropagate(sameColorE,
          colors.select(col("id"), col("id").as("c")), nActive)
        if (!bwdConverged) {
          // maxPropRounds hit while backward labels were still moving:
          // bm under-covers at least one SCC; emitting and deactivating it
          // would relabel the remainder next round — a split, not a miss.
          // Emit nothing and stop (rows stay absent).
          sameColorE.unpersist(blocking = false)
          bmP.unpersist(blocking = false)
          colorsP.unpersist(blocking = false)
          boundHit = true
        } else {
          // 3. emit and deactivate. ONE bookkeeping action per outer round
          // (round 17 resume): nActive (the loop-control scalar) is the
          // only count — found's cache fills inside it (the anti-join
          // scans found). Note the plan-truncating rebind still executes
          // nextE's SHUFFLE stages eagerly (AQE finalizes at .rdd); what
          // the dropped count saved is the separate final-stage action +
          // full scan per round — measured 230 → 224 jobs on q386.
          val found = truncated(bmP.select(col("id"), col("c").as("bm"))
              .join(colors, Seq("id"))
              .where(col("bm") === col("c"))
              .select(col("id"), col("c").as("scc")))
            .persist(store)
          out = Some(out.fold(found: DataFrame)(_.unionByName(found)))
          val nextNodes = truncated(
              nodes.join(found.select(col("id")), Seq("id"), "left_anti"))
            .repartition(col("id")).persist(store)
          nActive = nextNodes.count()
          sameColorE.unpersist(blocking = false)
          bmP.unpersist(blocking = false)
          nodes.unpersist(blocking = false)
          nodes = nextNodes
          val nextE = truncated(e
              .join(found.select(col("id").as("src")), Seq("src"), "left_anti")
              .join(found.select(col("id").as("dst")), Seq("dst"), "left_anti"))
            .repartition(col("src")).persist(store)
          // nextE is LAZY now, and its plan reads the old e's blocks —
          // release the old table only after the next round's forward
          // phase has scanned nextE (staleE below), not here, or the
          // fill job would recompute the whole e chain from lineage.
          staleE = e
          e = nextE
          colorsP.unpersist(blocking = false)
        }
      }
    }
    if (staleE != null) staleE.unpersist(blocking = false)
    out.getOrElse(
      e.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("scc",
            org.apache.spark.sql.types.LongType, nullable = false)))))
  }

  /** BRIDGES (cut edges) of an undirected graph — the edge-biconnectivity
    * sibling the family gains after SCC (round-15 stretch item): one row
    * per undirected input edge `(a, b, is_bridge)`. Built from the
    * textbook covering argument (Tarjan's bridge characterization via
    * spanning-tree subtree sums — the Euler-tour/±1 trick), realized in
    * bounded keyed-join rounds:
    *
    *  1. spanning FOREST: per-component BFS from the component's min node
    *     ([[connectedComponents]] labels are min-member, so roots are
    *     free); `parent(x)` = min neighbor one level up — deterministic;
    *  2. every NON-TREE edge {u, v} covers the tree path u→lca(u,v)→v.
    *     BFS layering bounds |level(u) − level(v)| ≤ 1, so ONE conditional
    *     lift brings both walkers to equal levels; the LCA itself then
    *     comes from BINARY LIFTING (round 17, [[ancestorTables]] /
    *     [[lcaDescend]]): ⌈log₂ h⌉ clamped 2^j-ancestor jump tables and a
    *     fixed-length descent that jumps both walkers by 2^j exactly when
    *     their 2^j-ancestors differ — O(log h) pair-keyed joins in ONE
    *     action, replacing the round-16 one-parent-step-per-round walk
    *     (rounds ≤ tree height, one pinned frame + one job each);
    *  3. the ±1 trick: `w(y) = #non-tree endpoints at y − 2·#non-tree
    *     LCAs at y`; the subtree sum `S(x) = Σ_{y∈sub(x)} w(y)` counts
    *     exactly the non-tree edges CROSSING sub(x)'s boundary (both
    *     endpoints inside ⇒ lca inside ⇒ net 0; one inside ⇒ +1; none ⇒
    *     0), computed by JUMP DOUBLING over the same ancestor tables
    *     ([[subtreeAggDoubling]]): D_{j+1}(x) = D_j(x) + Σ D_j(y) over the
    *     nodes y exactly 2^j below x — O(log h) node-keyed rounds,
    *     replacing the round-16 one-level-per-round bottom-up loop;
    *  4. tree edge (parent(x), x) is a bridge iff S(x) = 0; non-tree
    *     edges are never bridges (they close a cycle by construction).
    *
    * MULTIGRAPH semantics (round-16 item 5): duplicate undirected input
    * edges are counted, not silently merged — a doubled edge is a
    * 2-cycle, so it is NEVER a bridge, and the covering machinery gets
    * that for free: each extra copy of a tree edge enters the walk as a
    * weight-(mult−1) non-tree covering of its own 1-edge path, and
    * non-tree multiplicities weight the endpoint/LCA counts. Output stays
    * one row per DISTINCT undirected edge `(a, b, is_bridge)`.
    *
    * Honest bound: `maxRounds` caps the inner CC (which must CONVERGE —
    * `requireConverged`, else several self-labeled roots inside one
    * component would silently drop cross-tree coverings and mark cycle
    * edges as bridges), the BFS depth, the LCA walk, and the subtree
    * accumulation (all ≤ forest height). An undersized bound FAILS
    * LOUDLY (require) — a partial bridge set is a wrong answer, so unlike
    * the SCC contract there is no safe "absent rows" shape to return.
    *
    * ONE job per loop round (round-16 item 1, the SCC 5c3be1e
    * discipline): each BFS round pins a single stepped frame whose
    * materializing action IS the progress count — the frontier is a
    * filter over that frame's cache, never separately pinned. Round 17
    * removed the per-round LOOPS of phases 2 and 3 outright (guide §2:
    * fewer rounds beats cheaper rounds): the LCA descent and the subtree
    * doubling are O(log h) rounds against cached hashpartitioned jump
    * tables, so only the BFS still pays one pinned frame per tree level
    * (level-exact by definition; q393 paid 808 jobs round 15, 415 round
    * 16, and the log-round rework removes the two other height-
    * proportional terms).
    *
    * Scale: every step is a node-, edge-, or pair-keyed join/aggregate —
    * nothing all-pairs, no data-sized driver state (the only scalars are
    * the per-phase counts and the forest height). Deep-diameter graphs
    * pay rounds ∝ height, the same trade as every loop in this file. */
  /** Frame bookkeeping for the multi-phase forest operators (bridges,
    * biconnectivity) — two persistence disciplines, used deliberately:
    *
    *  - RDD-level lineage cut ([[pinned]]/[[pinnedWhere]]): these operators
    *    COMPOSE several bounded-round phases (CC → BFS → LCA walk →
    *    aggregation), and the plan-truncating rebind alone leaves each
    *    round's RDD referencing its predecessor's cached RDD object —
    *    ~100 stacked rounds serialize a >1000-deep object graph into every
    *    task binary and overflow the task thread's stack during Java
    *    deserialization (hit at exactly this composition depth).
    *    localCheckpoint() drops the checkpointed RDD's dependencies, so
    *    every pinned frame is a flat scan of its own blocks. pinnedWhere
    *    is the ONE-JOB-PER-ROUND primitive: no separate materializing
    *    count — the returned (frame, n) comes from one filtered count
    *    whose full-partition scan is itself the action that writes the
    *    checkpoint blocks.
    *  - SQL persist ([[keepSql]]) for loop INVARIANTS: an RDD-pinned frame
    *    FORGETS its outputPartitioning, which made every BFS round
    *    re-exchange the |E|-sized sym table — SQL cache advertises
    *    hashpartitioning, so per-round joins against these exchange only
    *    the node-/pair-sized moving side. Their plans sit above a pinned
    *    frame's constant-size LogicalRDD, so lineage stays flat without
    *    the RDD cut.
    *
    * Superseded loop frames release eagerly; everything else frees in
    * [[finishKeeping]], so cached state never accumulates O(rounds) live
    * frames past the call. */
  private final class PinCtx(spark: org.apache.spark.sql.SparkSession) {
    private val store = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pinnedRdds = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]()
    private val rddOf = new java.util.IdentityHashMap[
      DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]()
    private val sqlPinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pinned(df: DataFrame): DataFrame = {
      val r = df.rdd
      r.localCheckpoint()
      r.count()
      pinnedRdds += r
      val out = spark.createDataFrame(r, df.schema)
      rddOf.put(out, r)
      out
    }
    def pinnedWhere(df: DataFrame,
                    pred: org.apache.spark.sql.Column): (DataFrame, Long) = {
      val r = df.rdd
      r.localCheckpoint()
      pinnedRdds += r
      val out = spark.createDataFrame(r, df.schema)
      rddOf.put(out, r)
      (out, out.where(pred).count())
    }
    def keepSql(df: DataFrame): DataFrame = {
      val p = df.persist(store)
      p.count()
      sqlPinned += p
      p
    }
    def release(df: DataFrame): Unit = {
      val r = rddOf.remove(df)
      if (r != null) { r.unpersist(blocking = false); pinnedRdds -= r }
    }
    // blocks cached by an inner call (CC) that its Dataset handle cannot
    // release: diff the persistent-RDD registry around it (round-16 ADVICE)
    def releaseForeignSince(before: Set[Int]): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (rid, rr) =>
        if (!before.contains(rid) && !pinnedRdds.exists(_.id == rid))
          rr.unpersist(blocking = false)
      }
    // the result keeps its own checkpointed blocks — everything else frees
    def finishKeeping(out: DataFrame): DataFrame = {
      val keep = rddOf.get(out)
      pinnedRdds.foreach(rd =>
        if (!(rd eq keep)) rd.unpersist(blocking = false))
      sqlPinned.foreach(_.unpersist(blocking = false))
      // phase labels (guide §1.5) are thread-local and would otherwise
      // stick to every later query's jobs in a shared session
      spark.sparkContext.setJobDescription(null)
      out
    }
  }

  /** The shared BFS spanning-forest phase of [[bridges]] and
    * [[biconnectedLabels]]: distinct undirected edges with multiplicity,
    * symmetrized adjacency, converged CC roots (min members), BFS levels
    * (ONE pinned frame + one job per round — the frontier is the `__new`
    * filter over the round's cache), min-neighbor parents, and the
    * weighted covering instances (non-tree edges with full multiplicity +
    * duplicated tree edges as weight-(mult−1) coverings of their own
    * 1-edge path). */
  private final case class Forest(und: DataFrame, sym: DataFrame,
                                  lev: DataFrame, parent: DataFrame,
                                  nontreeW: DataFrame, maxLev: Long)
  private def bfsForest(ctx: PinCtx, edges: DataFrame, maxRounds: Int,
                        idA: String, idB: String, op: String): Forest = {
    require(maxRounds >= 1, s"$op: maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    edges.sparkSession.sparkContext.setJobDescription(s"$op:prep")
    val und = ctx.pinned(edges
      .select(least(col(idA), col(idB)).cast("long").as("a"),
        greatest(col(idA), col(idB)).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("mult")))
    val sym = ctx.keepSql(und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src")))

    val preCc = spark.sparkContext.getPersistentRDDs.keySet.toSet
    edges.sparkSession.sparkContext.setJobDescription(s"$op:cc")
    val comp = connectedComponents(und, "a", "b", maxIter = maxRounds,
      requireConverged = true)
    var (levN, fN) = ctx.pinnedWhere(comp.where(col("id") === col("component"))
      .select(col("id"), lit(0L).as("lev"), lit(true).as("__new")),
      col("__new"))
    ctx.releaseForeignSince(preCc)
    var r = 0
    edges.sparkSession.sparkContext.setJobDescription(s"$op:bfs-levels")
    while (fN > 0 && r < maxRounds) {
      r += 1
      // one exchange per round (round 17): the old distinct + anti-join
      // spent two exchanges deduplicating the frontier's neighbors against
      // the visited set; a single min-level aggregate over (visited ∪
      // candidates) does both — an already-leveled node keeps its smaller
      // lev, a first-reached node surfaces with lev = r (and map-side
      // partial aggregation collapses the candidate fan-in pre-shuffle).
      // One pinned frame + one action per LEVEL is the measured floor
      // (round 17 resume): unrolling 2/4 levels per action was built and
      // REVERTED — each step references its predecessor twice (union base
      // + frontier filter), tree-shaped plans duplicate that subtree per
      // step (2^K copies, a 3.5× in-job regression), and the lazy-cache
      // dedup variant still read +8 jobs with no reproducible wall win on
      // this box while risking serialized cache-lock scans at scale.
      val grown = levN.select(col("id"), col("lev"))
        .unionByName(sym
          .join(levN.where(col("__new")).select(col("id").as("src")),
            Seq("src"))
          .select(col("dst").as("id"), lit(r.toLong).as("lev")))
        .groupBy(col("id")).agg(min(col("lev")).as("lev"))
        .select(col("id"), col("lev"), (col("lev") === r.toLong).as("__new"))
      val (g, n2) = ctx.pinnedWhere(grown, col("__new"))
      ctx.release(levN)
      levN = g
      fN = n2
    }
    require(fN == 0,
      s"$op: BFS did not drain within maxRounds=$maxRounds — " +
        "raise the bound to at least the graph diameter")
    edges.sparkSession.sparkContext.setJobDescription(s"$op:invariants")
    val lev = ctx.keepSql(levN.select(col("id"), col("lev"))
      .repartition(col("id")))
    ctx.release(levN)
    val maxLev = Option(lev.agg(max(col("lev"))).head().get(0))
      .fold(0L)(_.asInstanceOf[Long])

    // parent(x) = min neighbor one level up; tree edges = (parent, id)
    val parent = ctx.keepSql(sym
      .join(lev.select(col("id").as("src"), col("lev").as("ls")), Seq("src"))
      .join(lev.select(col("id").as("dst"), col("lev").as("ld")), Seq("dst"))
      .where(col("ls") === col("ld") - 1)
      .groupBy(col("dst").as("id")).agg(min(col("src")).as("parent"))
      .repartition(col("id")))
    val treeKey = parent.select(
      least(col("parent"), col("id")).as("a"),
      greatest(col("parent"), col("id")).as("b"))
    val nontreeW = ctx.keepSql(
      und.join(treeKey, Seq("a", "b"), "left_anti")
        .select(col("a"), col("b"), col("mult").as("w"))
        .unionByName(und.join(treeKey, Seq("a", "b"), "left_semi")
          .where(col("mult") >= 2L)
          .select(col("a"), col("b"), (col("mult") - 1L).as("w")))
        .repartition(col("a")))
    Forest(und, sym, lev, parent, nontreeW, maxLev)
  }

  /** J = ⌈log₂(maxLev+1)⌉ CLAMPED binary-lift jump tables over the BFS
    * forest (round 17, guide §2 — the doubling discipline proven on
    * CC/SCC applied to the forest phases): `anc(j)` maps every node to
    * its ancestor at level `max(lev − 2^j, 0)` — roots are fixed points,
    * so a jump past the root compares equal instead of dangling (the
    * clamp composes: anc_{j+1} = anc_j ∘ anc_j exactly). Each table is
    * one node-keyed self-composition of the previous one, SQL-persisted
    * hashpartitioned on `id` so the LCA descent and the subtree-doubling
    * rounds join against it without re-exchanging the table side. */
  private def ancestorTables(ctx: PinCtx, lev: DataFrame, parent: DataFrame,
                             maxLev: Long): IndexedSeq[DataFrame] = {
    val J = (64 - java.lang.Long.numberOfLeadingZeros(maxLev)).toInt
    if (J == 0) return IndexedSeq.empty
    val spark = lev.sparkSession
    // Plan-truncating rebind UNDER each level's cache: anc_{j+1}'s plan
    // would otherwise nest anc_j's whole cached plan (which nests
    // anc_{j-1}'s, ...), and every downstream ACTION referencing the
    // tables — the descent references all of them twice, each doubling
    // round once — re-analyzes/canonicalizes that nested tree. Measured
    // (round 17): driver gaps between jobs were ~60% of
    // the family's wall before the rebind. The rebind keeps each level a
    // constant-size LogicalRDD; the repartition above it re-establishes
    // the hashpartitioning the cache advertises to the join sides.
    def flat(df: DataFrame): DataFrame = ctx.keepSql(
      spark.createDataFrame(df.rdd, df.schema).repartition(col("id")))
    lev.sparkSession.sparkContext.setJobDescription("anc-tables")
    var cur = flat(lev.select(col("id"))
      .join(parent, Seq("id"), "left")
      .select(col("id"), coalesce(col("parent"), col("id")).as("anc")))
    val out = scala.collection.mutable.ArrayBuffer(cur)
    var j = 1
    while (j < J) {
      val hop = cur.select(col("id").as("__h_id"), col("anc").as("__h_anc"))
      cur = flat(cur.join(hop, col("anc") === col("__h_id"))
        .select(col("id"), col("__h_anc").as("anc")))
      out += cur
      j += 1
    }
    out.toIndexedSeq
  }

  /** LCA of SAME-LEVEL walker pairs by descending the jump tables: for
    * j = J−1..0 both walkers jump 2^j exactly when their 2^j-ancestors
    * differ (differ ⟹ the LCA is strictly above the jump target, so the
    * jump never overshoots; equal ⟹ the LCA is within 2^j, so skip).
    * Standard invariant: dist(u, lca) ≤ 2^{j+1} − 1 before bit j — either
    * the bit jumps (dist − 2^j ≤ 2^j − 1) or dist ≤ 2^j and every lower
    * bit then fires, ending at dist = 1 — so after bit 0, `parent(u) =
    * parent(v) = lca` for every pair that entered with u ≠ v. Pairs
    * already resolved at the lift (u = v = lca) pass through unchanged
    * (their ancestors coincide at every j). The ENTIRE descent is one
    * unexecuted plan — 2J pair-keyed joins whose table side is a cached
    * hashpartitioned anc frame — so the caller pays ONE action for the
    * whole LCA phase instead of one pinned frame per tree level.
    * `carry` columns ride along untouched; output appends `lca`. */
  private def lcaDescend(pairs: DataFrame, anc: IndexedSeq[DataFrame],
                         parent: DataFrame, carry: Seq[String]): DataFrame = {
    var cur = pairs
    var j = anc.length - 1
    while (j >= 0) {
      val au = anc(j).select(col("id").as("u"), col("anc").as("__au"))
      val av = anc(j).select(col("id").as("v"), col("anc").as("__av"))
      cur = cur.join(au, Seq("u")).join(av, Seq("v"))
        .select(carry.map(col) ++ Seq(
          when(col("__au") =!= col("__av"), col("__au"))
            .otherwise(col("u")).as("u"),
          when(col("__au") =!= col("__av"), col("__av"))
            .otherwise(col("v")).as("v")): _*)
      j -= 1
    }
    cur.join(parent.select(col("id").as("u"), col("parent").as("__pu")),
        Seq("u"), "left")
      .select(carry.map(col) :+
        when(col("u") === col("v"), col("u")).otherwise(col("__pu"))
          .as("lca"): _*)
  }

  /** SUBTREE aggregation by jump doubling over the same tables:
    * `D_0(x) = val(x)`, `D_{j+1}(x) = combine(D_j(x), agg{D_j(y) :
    * anc_j(y) = x at exact distance 2^j})` — after J rounds `D_J(x)`
    * aggregates x's whole subtree, because the distance ranges
    * [0, 2^j−1] and [2^j, 2^{j+1}−1] partition and distinct contributors
    * at the same level have disjoint subtrees (exactness needs only a
    * commutative semigroup, so sum and min both qualify). The
    * exact-distance guard is `lev ≥ 2^j`: clamped rows are the only ones
    * whose jump is shorter than 2^j. O(log h) node-keyed pinned rounds,
    * replacing the one-level-per-round bottom-up wavefront.
    * `init` is `(id, val)`; nodes absent from it enter as null val
    * (callers' combine must treat null as the identity). */
  private def subtreeAggDoubling(ctx: PinCtx, lev: DataFrame,
      anc: IndexedSeq[DataFrame], init: DataFrame,
      agg: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      combine: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): DataFrame = {
    var d = ctx.pinned(lev.join(init, Seq("id"), "left")
      .select(col("id"), col("lev"), col("val")))
    var j = 0
    while (j < anc.length) {
      val contrib = d.where(col("lev") >= (1L << j))
        .join(anc(j), Seq("id"))
        .groupBy(col("anc").as("id")).agg(agg(col("val")).as("__add"))
      val d2 = ctx.pinned(d.join(contrib, Seq("id"), "left")
        .select(col("id"), col("lev"),
          combine(col("val"), col("__add")).as("val")))
      ctx.release(d)
      d = d2
      j += 1
    }
    d
  }

  def bridges(edges: DataFrame, maxRounds: Int, idA: String = "id_a",
              idB: String = "id_b"): DataFrame = {
    val ctx = new PinCtx(edges.sparkSession)
    val f = bfsForest(ctx, edges, maxRounds, idA, idB, "bridges")
    import f.{und, lev, parent, nontreeW}

    // 2. LCA per covering edge: one conditional lift (BFS ⇒ |Δlevel| ≤ 1)
    // brings both walkers to one level, then the binary-lifting descent
    // resolves every pair in ONE pinned action (round 17 — the round-16
    // walk paid one pinned frame + one job per tree level). The lift's
    // parent join cannot drop rows: CC converged (one root per
    // component), so the deeper endpoint always has a parent.
    val anc = ancestorTables(ctx, lev, parent, f.maxLev)
    val parU = parent.select(col("id").as("u"), col("parent").as("pu"))
    val lifted = nontreeW
      .join(lev.select(col("id").as("a"), col("lev").as("la")), Seq("a"))
      .join(lev.select(col("id").as("b"), col("lev").as("lb")), Seq("b"))
      .select(col("a"), col("b"), col("w"),
        when(col("la") >= col("lb"), col("a")).otherwise(col("b")).as("u"),
        when(col("la") >= col("lb"), col("b")).otherwise(col("a")).as("v"),
        (col("la") - col("lb")).as("dl"))
      .join(parU, Seq("u"), "left")
      .select(col("a"), col("b"), col("w"),
        when(abs(col("dl")) === 1, col("pu")).otherwise(col("u")).as("u"),
        col("v"))
    edges.sparkSession.sparkContext.setJobDescription("bridges:lca")
    val lcaTbl = ctx.pinned(
      lcaDescend(lifted, anc, parent, Seq("a", "b", "w")))

    // 3. w(y) = Σ endpoint weights − 2·Σ lca weights; subtree sums by
    // jump doubling over the anc tables (O(log h) node-keyed rounds)
    val endp = nontreeW
      .select(explode(array(col("a"), col("b"))).as("id"), col("w"))
      .groupBy(col("id")).agg(sum(col("w")).as("ec"))
    val lcnt = lcaTbl.groupBy(col("lca").as("id")).agg(sum(col("w")).as("lc"))
    val w = lev.select(col("id"))
      .join(endp, Seq("id"), "left").join(lcnt, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("ec"), lit(0L)) - lit(2L) * coalesce(col("lc"), lit(0L)))
          .as("val"))
    edges.sparkSession.sparkContext.setJobDescription("bridges:subtree")
    val sTbl = subtreeAggDoubling(ctx, lev, anc, w, sum,
        (v, add) => v + coalesce(add, lit(0L)))
      .select(col("id"), col("val").as("s"))

    // 4. bridge ⟺ tree edge whose subtree sum is 0
    val bridgeKey = parent.join(sTbl, Seq("id")).where(col("s") === 0L)
      .select(least(col("parent"), col("id")).as("a"),
        greatest(col("parent"), col("id")).as("b"), lit(true).as("__br"))
    edges.sparkSession.sparkContext.setJobDescription("bridges:emit")
    ctx.finishKeeping(ctx.pinned(und.join(bridgeKey, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("__br"), lit(false)).as("is_bridge"))))
  }

  /** 2-EDGE-CONNECTED components: [[connectedComponents]] over the
    * non-bridge edges of [[bridges]], with bridge-only nodes kept as
    * singletons — labels canonicalize to the component's min member (the
    * CC convention). The consumption artifact of bridge analysis: every
    * pair inside a label survives any single edge failure.
    *
    * The result is pinned to its own localCheckpoint blocks and EVERY
    * cached block the composed inner calls created is released before
    * returning (persistent-RDD registry diff) — outside Bench's global
    * sweep, repeated calls previously accumulated the inner CC and
    * bridges frames for the JVM lifetime (round-16 ADVICE). The returned
    * frame's own blocks are caller-owned. */
  def twoEdgeConnectedComponents(edges: DataFrame, maxRounds: Int,
                                 idA: String = "id_a",
                                 idB: String = "id_b"): DataFrame = {
    val spark = edges.sparkSession
    val pre = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val br = bridges(edges, maxRounds, idA, idB)
    val keep = br.where(!col("is_bridge"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val cc = connectedComponents(keep, maxIter = maxRounds,
      requireConverged = true)
    val nodes = br.select(explode(array(col("a"), col("b"))).as("id")).distinct()
    val out = nodes.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    val rdd = out.rdd
    rdd.localCheckpoint()
    rdd.count()
    spark.sparkContext.getPersistentRDDs.foreach { case (rid, rr) =>
      if (!pre.contains(rid) && rid != rdd.id) rr.unpersist(blocking = false)
    }
    spark.createDataFrame(rdd, out.schema)
  }

  /** BICONNECTED components (blocks) — the VERTEX-biconnectivity sibling
    * of [[bridges]] (round-16 item 3): one row per distinct undirected
    * edge `(a, b, block_a, block_b)`, where `(block_a, block_b)` is the
    * lexicographically smallest EDGE of the block — the canonical
    * representative that is unique by construction (a min-NODE label is
    * not: blocks meeting at a cut vertex can share their smallest node —
    * a star's blocks all contain the hub). Tarjan–Vishkin's reduction
    * realized on the same BFS forest: blocks are the connected components
    * of an AUXILIARY graph
    * whose vertices are the tree edges (identified by their child node)
    * and whose edges are Tarjan & Vishkin 1985's LOCAL conditions
    * (round 17 — the round-16 version emitted each fundamental cycle's
    * chain links from a one-parent-step-per-round walk, paying one
    * pinned frame + one job per tree level; the TV conditions need no
    * walk at all):
    *
    *  - RULE 1 — for each proper non-tree edge {a, b}: aux edge
    *    (a, b) ties the two endpoint tree edges. Sound because both lie
    *    on the edge's fundamental cycle; in a BFS forest every non-tree
    *    edge joins UNRELATED vertices (|Δlevel| ≤ 1, and a level-1
    *    neighbor that were an ancestor would BE the parent, i.e. a tree
    *    edge), so TV's ancestor-pair case is vacuous and no non-tree
    *    edge touches a root (level-1 nodes all parent to the root);
    *  - RULE 2 — for each tree edge (v, u), v = parent(u): aux edge
    *    (u, v) iff some non-tree edge leaves subtree(u) AND escapes
    *    subtree(v). TV state this on preorder intervals (low/high); with
    *    LCA LEVELS it collapses to one subtree-min: a non-tree edge
    *    {y, x} with y ∈ subtree(v) escapes subtree(v) iff lca(y, x) is a
    *    PROPER ancestor of v (x outside ⟺ the lca sits above v on y's
    *    root path) — so the condition is `min over y ∈ subtree(u) of
    *    lev(lca of y's non-tree edges) < lev(v)`, computed by
    *    [[subtreeAggDoubling]] (min) over [[ancestorTables]], with the
    *    lca levels from [[lcaDescend]]. A root v fails the test
    *    trivially (no level is < 0), which is exactly TV's v ≠ root
    *    guard;
    *  - two tree edges are in one block iff connected through these aux
    *    edges (TV 1985, Theorem: valid for ANY rooted spanning tree),
    *    so one [[connectedComponents]] over the aux edges —
    *    `requireConverged`, bound `4·maxRounds + 8` ≥ the aux diameter
    *    (≤ 2·height + 1: rule-2 chains climb the tree, rule-1 edges
    *    shortcut); deeper chains fail LOUDLY and want a larger
    *    `maxRounds`;
    *  - a non-tree edge joins the block of its endpoint's tree edge
    *    (rule 1 puts both endpoints' tree edges in its block); an
    *    uncovered tree edge is its own block (exactly the bridges); a
    *    doubled TREE edge contributes no aux edge — its 2-cycle contains
    *    no second tree edge.
    *
    * Multigraph semantics follow [[bridges]]: the output is per DISTINCT
    * edge, and parallel copies belong to the block their single distinct
    * edge is in.
    *
    * Scale: the lca descent and the subtree-min are O(log h) rounds of
    * node-/pair-keyed joins against cached hashpartitioned jump tables;
    * aux edges total O(|E|) — one per non-tree edge + at most one per
    * tree edge (the round-16 chain emission was O(Σ cycle lengths));
    * every exchange is keyed on a node, pair, or aux vertex. */
  def biconnectedLabels(edges: DataFrame, maxRounds: Int,
                        idA: String = "id_a",
                        idB: String = "id_b"): DataFrame = {
    val spark = edges.sparkSession
    val ctx = new PinCtx(spark)
    val f = bfsForest(ctx, edges, maxRounds, idA, idB, "biconnectedLabels")
    import f.{lev, parent, nontreeW}

    val anc = ancestorTables(ctx, lev, parent, f.maxLev)
    val parU = parent.select(col("id").as("u"), col("parent").as("pu"))
    // PROPER non-tree distinct edges: nontreeW minus its doubled-tree
    // rows (those cover their own 1-edge path and merge nothing)
    val treeKey = parent.select(least(col("parent"), col("id")).as("a"),
      greatest(col("parent"), col("id")).as("b"))
    val nt = nontreeW.join(treeKey, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"))
    // lca LEVEL per non-tree edge: the same lift + descent as [[bridges]]
    val lifted = nt
      .join(lev.select(col("id").as("a"), col("lev").as("la")), Seq("a"))
      .join(lev.select(col("id").as("b"), col("lev").as("lb")), Seq("b"))
      .select(col("a"), col("b"),
        when(col("la") >= col("lb"), col("a")).otherwise(col("b")).as("u"),
        when(col("la") >= col("lb"), col("b")).otherwise(col("a")).as("v"),
        (col("la") - col("lb")).as("dl"))
      .join(parU, Seq("u"), "left")
      .select(col("a"), col("b"),
        when(abs(col("dl")) === 1, col("pu")).otherwise(col("u")).as("u"),
        col("v"))
    spark.sparkContext.setJobDescription("tv:lca")
    val lcaTbl = ctx.pinned(lcaDescend(lifted, anc, parent, Seq("a", "b")))
    val lcaLev = lcaTbl
      .join(lev.select(col("id").as("lca"), col("lev").as("llev")),
        Seq("lca"))
    // min lca level over each node's incident non-tree edges, then the
    // subtree-min — rule 2's test value
    val nodeMin = lcaLev
      .select(explode(array(col("a"), col("b"))).as("id"), col("llev"))
      .groupBy(col("id")).agg(min(col("llev")).as("val"))
    spark.sparkContext.setJobDescription("tv:stmin")
    val stMin = subtreeAggDoubling(ctx, lev, anc, nodeMin, min,
      (v, add) => least(v, add))
    // aux edges: rule 1 (the covering edge's endpoint tree edges) ∪
    // rule 2 (tree edge u–parent edge v where a covering edge from
    // subtree(u) escapes subtree(v): subtree-min lca level < lev(v))
    val rule1 = nt.select(col("a").as("x"), col("b").as("y"))
    val rule2 = parent
      .join(stMin.select(col("id"), col("val")), Seq("id"))
      .join(lev.select(col("id").as("parent"), col("lev").as("pl")),
        Seq("parent"))
      .where(col("val").isNotNull && col("val") < col("pl"))
      .select(col("id").as("x"), col("parent").as("y"))
    val aux = rule1.unionByName(rule2)

    // blocks = CC over the aux edges; uncovered tree edges are singletons
    val preCc = spark.sparkContext.getPersistentRDDs.keySet.toSet
    spark.sparkContext.setJobDescription("tv:auxcc")
    val auxLab = ctx.pinned(connectedComponents(aux, "x", "y",
      maxIter = 4 * maxRounds + 8, requireConverged = true))
    ctx.releaseForeignSince(preCc)
    val treeBlock = parent
      .join(auxLab.select(col("id"), col("component").as("blk")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("blk"), col("id")).as("blk"))
    val treeEdges = parent.join(treeBlock, Seq("id"))
      .select(least(col("parent"), col("id")).as("a"),
        greatest(col("parent"), col("id")).as("b"), col("blk"))
    // non-tree edges: rule 1 put both endpoints' tree edges in the
    // block, so either endpoint's tree edge labels the covering edge
    val ntEdges = nt
      .join(treeBlock.select(col("id").as("a"), col("blk")), Seq("a"))
      .select(col("a"), col("b"), col("blk"))
    // canonical label = the block's lexicographically smallest edge
    val all = treeEdges.unionByName(ntEdges)
    val labelMin = all.groupBy(col("blk"))
      .agg(min(struct(col("a"), col("b"))).as("be"))
    spark.sparkContext.setJobDescription("tv:emit")
    ctx.finishKeeping(ctx.pinned(all.join(labelMin, Seq("blk"))
      .select(col("a"), col("b"),
        col("be.a").as("block_a"), col("be.b").as("block_b"))))
  }

  /** ARTICULATION points (cut vertices): `(id, is_articulation)` for every
    * node with at least one edge — true iff the node lies in ≥ 2 blocks
    * of [[biconnectedLabels]] (the textbook block-cut-tree
    * characterization; tree-independent, so the BFS forest is fine where
    * the DFS low-link test would not be). Cleanup contract as
    * [[twoEdgeConnectedComponents]]: the result is pinned, every inner
    * block frees, the returned frame's blocks are caller-owned. */
  def articulationPoints(edges: DataFrame, maxRounds: Int,
                         idA: String = "id_a",
                         idB: String = "id_b"): DataFrame = {
    val spark = edges.sparkSession
    val pre = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val bl = biconnectedLabels(edges, maxRounds, idA, idB)
    val out = bl
      .select(explode(array(col("a"), col("b"))).as("id"),
        col("block_a"), col("block_b"))
      .distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("nb"))
      .select(col("id"), (col("nb") >= 2L).as("is_articulation"))
    val rdd = out.rdd
    rdd.localCheckpoint()
    rdd.count()
    spark.sparkContext.getPersistentRDDs.foreach { case (rid, rr) =>
      if (!pre.contains(rid) && rid != rdd.id) rr.unpersist(blocking = false)
    }
    spark.createDataFrame(rdd, out.schema)
  }

  /** Skip-gram co-occurrence counts + exact-PMI rationals over a walk
    * corpus — the stage AFTER [[randomWalks]] in the DeepWalk/node2vec
    * pipeline, and the last SQL-expressible one: Levy & Goldberg 2014
    * showed skip-gram-with-negative-sampling factorizes exactly this
    * (shifted) PMI matrix, so emitting it ends the pipeline at the
    * linear-algebra boundary (the factorization itself is out of scope,
    * stated).
    *
    * Pairs: every ordered (center, context) with `1 ≤ |Δstep| ≤ window`
    * inside one walk (both directions, the standard skip-gram emission).
    * PMI over the PAIR distribution in the q155 lift discipline — exact
    * integer rationals, no logs, no division:
    * `PMI(x,y) = ln(pmi_num / pmi_den)` with `pmi_num = n_pairs·n_total`,
    * `pmi_den = n_center·n_context`; every comparison/threshold downstream
    * cross-multiplies. Marginals are row/column sums of the pair table
    * itself.
    *
    * Scale: ONE walk-id-keyed self-join over the walk table (walk corpus
    * size = nodes/startMod × steps — tiny vs |E|; per-walk fan-out ≤
    * steps·2·window), a map-side-combinable (center, context) count, two
    * marginal aggregates keyed on pair-table columns, and a 1-row total
    * broadcast. Overflow: products ≤ n_total² — lift to DECIMAL(38,0)
    * past ~3·10⁹ pairs (declared precision, same plan). */
  def skipGramPmi(walks: DataFrame, window: Int, walkCol: String = "walk_id",
                  stepCol: String = "step", nodeCol: String = "node"): DataFrame = {
    require(window >= 1, s"skipGramPmi: window must be >= 1, got $window")
    val base = walks.select(col(walkCol).as("__w"), col(stepCol).as("__s"),
      col(nodeCol).as("center"))
    val ctx = walks.select(col(walkCol).as("__w"), col(stepCol).as("__s2"),
      col(nodeCol).as("context"))
    // The pair table feeds FOUR consumers (the output row set, both
    // marginals, and the 1-row total); without a dedup point each one
    // re-expands the walk self-join + count aggregate — the q384 plan
    // carried four identical HashAggregate+Exchange subtrees over the
    // walk corpus (round 17 resume, plans/r17/q384_*_before.txt). A lazy
    // persist makes all four read one InMemoryRelation; no extra action —
    // the caller's single action fills it once.
    val pc = base.join(ctx, Seq("__w"))
      .where(abs(col("__s2") - col("__s")).between(1, window))
      .groupBy(col("center"), col("context")).agg(count(lit(1)).as("n_pairs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mc = pc.groupBy(col("center")).agg(sum(col("n_pairs")).as("n_center"))
    val mx = pc.groupBy(col("context")).agg(sum(col("n_pairs")).as("n_context"))
    val nt = pc.agg(sum(col("n_pairs")).as("n_total"))
    pc.join(mc, "center").join(mx, "context").crossJoin(broadcast(nt))
      .select(col("center"), col("context"), col("n_pairs"), col("n_center"),
        col("n_context"), col("n_total"),
        (col("n_pairs") * col("n_total")).as("pmi_num"),
        (col("n_center") * col("n_context")).as("pmi_den"))
  }

  /** Shifted-positive-PMI top-k contexts per center — the artifact an
    * embedding trainer actually consumes off [[skipGramPmi]]'s full PMI
    * table (Levy & Goldberg 2014's SPPMI: `max(0, PMI − ln(shift))` with
    * `shift` = the SGNS negative-sample count, then the k strongest
    * contexts per center row of the factorized matrix).
    *
    * Log-free, the q155/q384 integer-rational discipline end to end:
    *  - the shift threshold `PMI > ln(shift)` cross-multiplies to the exact
    *    integer comparison `pmi_num > shift · pmi_den` (shift is the
    *    INTEGER negative-sample count, so no e^s approximation is needed);
    *  - the per-center ranking key is `⌊10⁶ · pmi_num / pmi_den⌋` — integer
    *    division, monotone in PMI (subtracting the constant ln(shift)
    *    never reorders within a center), quantized at the same 1e-6 grain
    *    as the repo's micro-log weights; ratio collisions at that grain
    *    break deterministically by the larger context id.
    *
    * The top-k itself runs through the [[graft.plans.GroupedTopK]] physical
    * operator (bounded per-group heaps, partial pass before the exchange —
    * the shuffle carries ≤ k rows per (partition, center) instead of every
    * positive pair), NOT a row_number window that would sort every center's
    * full context list. Caller must have [[graft.plans.GroupedTopKStrategy]]
    * installed (the operator fails loudly otherwise). Overflow: the rank
    * key multiplies `pmi_num ≤ n_total²` by 10⁶ and the shift threshold
    * multiplies `pmi_den` by `shift` — BOTH products are taken in
    * DECIMAL(38,0) unconditionally (declared precision, same plan shape;
    * the IntegralDivide result is back to LongType, so GroupedTopK's
    * long-rank contract holds up to a quantized ratio of ~9.2·10¹² — i.e.
    * n_total itself, not n_total², is the remaining bound). An earlier
    * version documented "lift past ~3·10⁶ total pairs" in scaladoc and
    * wrapped SILENTLY for callers who didn't — Round16Spec pins a fixture
    * whose `pmi_num · 10⁶` exceeds Long.MaxValue. */
  def sppmiTopKContexts(pmi: DataFrame, shift: Long, k: Int): DataFrame = {
    require(shift >= 1L && k >= 1,
      s"sppmiTopKContexts: bad args (shift=$shift, k=$k)")
    val pos = pmi
      .where(col("pmi_num").cast("decimal(38,0)") >
        lit(shift) * col("pmi_den").cast("decimal(38,0)"))
      .select(col("center"), col("context"), col("n_pairs"),
        col("pmi_num"), col("pmi_den"),
        expr("(CAST(pmi_num AS DECIMAL(38,0)) * 1000000) div pmi_den")
          .as("pmi_ratio_micros"))
    graft.plans.GroupedTopK.topKPerGroup(pos, Seq("center"),
      "pmi_ratio_micros", "context", k)
  }

  /** Multi-sweep synchronized Louvain ([[louvainMoveRound]] generalized
    * past singleton init): each sweep, every node weighs moving from its
    * CURRENT community `c_i` to each neighbor community `c`, with the full
    * removal+insertion modularity gain in exact integers:
    * `ΔQ·(2m)² = 2m·(k_{i,c} − k_{i,c_i}) − k_i·(tot_c − tot_{c_i} + k_i)`
    * where `k_{i,c}` counts i's neighbors labeled `c` and `tot_c` sums the
    * degrees of c's members — at singleton init this collapses to
    * [[louvainMoveRound]]'s `2m − k_i·k_j`. All decisions in a sweep read
    * the previous sweep's labels (synchronized — the only order every
    * engine replays identically); argmax ties break on the smaller
    * community id; non-positive best gain stays. Returns the same
    * per-community summary as [[louvainMoveRound]]: `(community,
    * n_members, tot_degree, internal_edges, q_contrib_scaled)`.
    *
    * Scale per sweep: one (node, neighbor-community) aggregate over the
    * symmetrized edges (map-side combinable; fan-in bounded by degree),
    * one community-degree aggregate (node-sized), one per-node argmax —
    * every exchange keyed on a node or community id. Labels persist
    * across sweeps above the plan-truncating rebind (the graph-loop
    * pattern), so sweep r exchanges node-sized state, not |E|. Same
    * overflow bound as [[louvainMoveRound]]. */
  def louvainSweeps(edges: DataFrame, sweeps: Int, idA: String = "id_a",
                    idB: String = "id_b"): DataFrame = {
    require(sweeps >= 1, s"louvainSweeps: sweeps must be >= 1, got $sweeps")
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    val e = truncated(edges
        .select(least(col(idA), col(idB)).cast("long").as("a"),
          greatest(col(idA), col(idB)).cast("long").as("b"))
        .where(col("a") =!= col("b")).distinct())
      .repartition(col("a")).persist(level)
    e.count()
    // src-partitioned for the one-time degree aggregate; the in-loop label
    // lookup on dst costs no sym exchange because the node-sized label
    // table BROADCASTS (measured: forcing a dst repartition instead added
    // an exchange and won back nothing — the sweep's honest exchange is
    // the map-side-combined (src, community) vote aggregate).
    val sym = truncated(e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst"))))
      .repartition(col("src")).persist(level)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("k"))
      .withColumnRenamed("src", "node").persist(level)
    deg.count()
    val m2 = deg.agg(sum(col("k")).as("m2")) // 2m, one row

    var labels = truncated(deg.select(col("node"), col("node").as("comm")))
      .repartition(col("node")).persist(level)
    labels.count()
    for (_ <- 1 to sweeps) {
      val tot = labels.join(deg, Seq("node"))
        .groupBy(col("comm")).agg(sum(col("k")).as("tot"))
      val nc = sym
        .join(labels.select(col("node").as("dst"), col("comm").as("cd")),
          Seq("dst"))
        .groupBy(col("src"), col("cd")).agg(count(lit(1)).as("kic"))
      val own = labels.join(deg, Seq("node"))
        .join(tot.withColumnRenamed("comm", "__c")
          .withColumnRenamed("tot", "tot_i"), col("comm") === col("__c"))
        .drop("__c")
        .join(nc.select(col("src").as("node"), col("cd").as("comm"),
          col("kic").as("kic_own")), Seq("node", "comm"), "left")
        .select(col("node"), col("comm"), col("k"),
          coalesce(col("kic_own"), lit(0L)).as("kic_own"), col("tot_i"))
      val cand = own
        .join(nc.select(col("src").as("node"), col("cd"), col("kic")),
          Seq("node"))
        .where(col("cd") =!= col("comm"))
        .join(tot.select(col("comm").as("cd"), col("tot").as("tot_c")),
          Seq("cd"))
        .crossJoin(broadcast(m2))
        .select(col("node"),
          struct((col("k") * (col("tot_c") - col("tot_i") + col("k"))
            - col("m2") * (col("kic") - col("kic_own"))).as("negGain"),
            col("cd")).as("cand"))
      val best = cand.groupBy(col("node")).agg(min(col("cand")).as("best"))
      val next = truncated(labels.join(best, Seq("node"), "left")
          .select(col("node"),
            when(col("best").isNotNull && col("best.negGain") < 0L,
              col("best.cd")).otherwise(col("comm")).as("comm")))
        .repartition(col("node")).persist(level)
      next.count()
      labels.unpersist(blocking = false)
      labels = next
    }
    // same partition summary as louvainMoveRound
    val tot = labels.join(deg, Seq("node"))
      .groupBy(col("comm").as("community"))
      .agg(count(lit(1)).as("n_members"), sum(col("k")).as("tot_degree"))
    val internal = e
      .join(labels.select(col("node").as("a"), col("comm").as("ca")),
        Seq("a"))
      .join(labels.select(col("node").as("b"), col("comm").as("cb")),
        Seq("b"))
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    tot.join(internal, Seq("community"), "left")
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_members"), col("tot_degree"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        (lit(2L) * col("m2") * coalesce(col("internal_edges"), lit(0L))
          - col("tot_degree") * col("tot_degree")).as("q_contrib_scaled"))
  }

  /** FULL multi-level Louvain (Blondel et al. 2008, both phases): each
    * LEVEL runs `sweepsPerLevel` synchronized weighted move sweeps
    * ([[louvainSweeps]]' gain rule generalized to edge weights and
    * self-loops), then CONTRACTS the accepted partition into a weighted
    * community graph — inter-community edge weights summed, intra-community
    * weight (including prior self-loops) becoming the community's
    * self-loop — and repeats on the coarser graph. Contraction preserves
    * modularity EXACTLY (the contracted singletons partition has the same
    * `Q·(2m)²` as the partition it came from, with the same global `2m`),
    * which is what makes multi-level detection meaningful: each level can
    * only refine the previous level's structure.
    *
    * Monotone guard: a synchronized sweep — unlike sequential Louvain —
    * can OSCILLATE (two adjacent nodes adopting each other's communities
    * simultaneously can lower Q), so every sweep's proposal is accepted
    * only if it strictly raises the exact integer `Q·(2m)²`; otherwise the
    * labels stand and further sweeps of the level are idempotent no-ops.
    * This makes per-level modularity NON-DECREASING by construction
    * (Round14bSpec asserts it), the property the sequential algorithm gets
    * for free and a distributed synchronized variant must enforce.
    *
    * Weighted-graph conventions (adjacency-matrix form): `A_ij = w_ij` for
    * `i ≠ j`, `A_ii = 2·w_self(i)`, so `k_i = Σ_j A_ij`, `2m = Σ_i k_i`
    * (invariant across levels), gain of i moving `c_i → c` is
    * `2m·(k_{i,c} − k_{i,c_i}) − k_i·(tot_c − tot_{c_i} + k_i)` with
    * weighted `k_{i,c}` (self-loops excluded — they move with the node),
    * and a community's modularity term is `2m·A_c − tot_c²` with
    * `A_c = 2·(intra-community weight incl. self-loops)`.
    *
    * Returns one row per level, computed on the partition carried into
    * contraction: `(level, n_nodes, n_communities, internal_weight,
    * q_scaled)` where `q_scaled = Σ_c (2m·A_c − tot_c²) = Q·(2m)²`.
    *
    * Scale: every per-sweep exchange is the weighted (src, community) vote
    * aggregate or a node-keyed join (the [[louvainSweeps]] shape); the
    * guard reads the proposal's Q off the sweep's own vote table as ONE
    * 1-row aggregate `head()` per sweep (the established metadata license
    * — one scalar per sweep crosses the driver, never data) and carries
    * q_old as a scalar; contraction goes through [[louvainContract]]'s
    * size-gated label lookup (broadcast under the row limit, node-keyed
    * equi-joins over it), so its only guaranteed exchange is the
    * (comm_a, comm_b)-keyed weight aggregate; each level's graph is
    * strictly no larger than the last and is persisted repartitioned on
    * its source key above the plan-truncating rebind (the round-13
    * graph-loop discipline). */
  def louvainMultiLevel(edges: DataFrame, sweepsPerLevel: Int, levels: Int,
                        idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    require(sweepsPerLevel >= 1 && levels >= 1,
      s"louvainMultiLevel: bad args ($sweepsPerLevel, $levels)")
    val store = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)

    var wedges = truncated(edges
        .select(least(col(idA), col(idB)).cast("long").as("a"),
          greatest(col(idA), col(idB)).cast("long").as("b"))
        .where(col("a") =!= col("b")).distinct()
        .select(col("a"), col("b"), lit(1L).as("w")))
      .repartition(col("a")).persist(store)
    if (wedges.count() == 0L) {
      // edge-free input: return the empty per-level summary cleanly — the
      // level constants below are null-sum aggregates on an empty table
      // and would otherwise surface as an opaque NullPointerException.
      wedges.unpersist(blocking = false)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(
          Seq("level", "n_nodes", "n_communities", "internal_weight",
            "q_scaled").map(n => org.apache.spark.sql.types.StructField(
            n, org.apache.spark.sql.types.LongType, nullable = false))))
    }

    var out: Option[DataFrame] = None
    for (lvl <- 1 to levels) {
      val e = wedges.where(col("a") =!= col("b"))
      val symW = e.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(e.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val deg = symW.select(col("src"), col("w"))
        .unionByName(wedges.where(col("a") === col("b"))
          .select(col("a").as("src"), (col("w") * 2L).as("w")))
        .groupBy(col("src")).agg(sum(col("w")).as("k"))
        .withColumnRenamed("src", "node").persist(store)
      val nNodes0 = deg.count()
      // level-constant scalars, collected once (1-row metadata license):
      // 2m (level-invariant by contraction), the singleton-init Σtot², and
      // the total self-loop weight — ONE action for all three (round 17:
      // the two separate head() jobs per level folded into a crossJoin of
      // the 1-row aggregates)
      val degRow = deg.agg(sum(col("k")).as("__m2"),
          sum(col("k") * col("k")).as("__t2"))
        .crossJoin(wedges.where(col("a") === col("b"))
          .agg(sum(col("w")).as("__ws")))
        .head()
      val m2Val = Option(degRow.get(0)).fold(0L)(_.asInstanceOf[Long])
      val totSq0 = Option(degRow.get(1)).fold(0L)(_.asInstanceOf[Long])
      val wselfVal = Option(degRow.get(2)).fold(0L)(_.asInstanceOf[Long])

      def ncOf(lab: DataFrame): DataFrame = symW
        .join(lab.select(col("node").as("dst"), col("comm").as("cd")),
          Seq("dst"))
        .groupBy(col("src"), col("cd")).agg(sum(col("w")).as("kic"))

      var labels = truncated(deg.select(col("node"), col("node").as("comm")))
        .repartition(col("node")).persist(store)
      // (node, community) votes under the CURRENT labels — carried across
      // sweeps (an accepted proposal's votes are next sweep's votes, so
      // each sweep pays for ONE edge-sized aggregate, not three)
      var ncCur = truncated(ncOf(labels)).repartition(col("src")).persist(store)
      // Q·(2m)² of the CURRENT labels, carried as a scalar: at singleton
      // init the intra weight is just the self-loops (no node shares its
      // community), so q = 2m·2·w_self − Σk². Each accepted sweep replaces
      // it with the proposal's q, so the guard never recomputes q_old.
      var qCur = 2L * m2Val * wselfVal - totSq0
      for (_ <- 1 to sweepsPerLevel) {
        val tot = labels.join(deg, Seq("node"))
          .groupBy(col("comm")).agg(sum(col("k")).as("tot"))
        val own = labels.join(deg, Seq("node"))
          .join(tot.withColumnRenamed("comm", "__c")
            .withColumnRenamed("tot", "tot_i"), col("comm") === col("__c"))
          .drop("__c")
          .join(ncCur.select(col("src").as("node"), col("cd").as("comm"),
            col("kic").as("kic_own")), Seq("node", "comm"), "left")
          .select(col("node"), col("comm"), col("k"),
            coalesce(col("kic_own"), lit(0L)).as("kic_own"), col("tot_i"))
        // min-label anchor convention: a node may only JOIN a community
        // with a SMALLER id than its current one. The smallest node of any
        // neighborhood is then a fixed anchor that never leaves, so a
        // synchronized sweep produces real merges (i→anchor while the
        // anchor stays) instead of label chases (i adopting the label of a
        // j that simultaneously moved away — which leaves near-zero
        // internal weight and stalls the guard).
        val cand = own
          .join(ncCur.select(col("src").as("node"), col("cd"), col("kic")),
            Seq("node"))
          .where(col("cd") < col("comm"))
          .join(tot.select(col("comm").as("cd"), col("tot").as("tot_c")),
            Seq("cd"))
          .select(col("node"),
            struct((col("k") * (col("tot_c") - col("tot_i") + col("k"))
              - lit(m2Val) * (col("kic") - col("kic_own"))).as("negGain"),
              col("cd")).as("cand"))
        val best = cand.groupBy(col("node")).agg(min(col("cand")).as("best"))
        val proposed = truncated(labels.join(best, Seq("node"), "left")
            .select(col("node"),
              when(col("best").isNotNull && col("best.negGain") < 0L,
                col("best.cd")).otherwise(col("comm")).as("comm")))
          .repartition(col("node")).persist(store)
        val ncNew = truncated(ncOf(proposed))
          .repartition(col("src")).persist(store)
        // monotone guard, ONE job: Q·(2m)² without an edge pass — the
        // intra-community weight is Σ_n k_{n,c_n}/2 + w_self (every
        // same-community non-self edge lands in both endpoints'
        // own-community vote), so the proposal's q reads its own vote
        // table: one node-keyed join + two nested aggregates (measured:
        // the two |E|-join q evaluations per sweep were q380's whole
        // overhang — see PERF round 14). q_old is the carried scalar.
        val statsNew = proposed.join(deg, Seq("node"))
          .join(ncNew.select(col("src").as("node"), col("cd").as("comm"),
            col("kic").as("kic_own")), Seq("node", "comm"), "left")
          .groupBy(col("comm"))
          .agg(sum(col("k")).as("tot"),
            sum(coalesce(col("kic_own"), lit(0L))).as("kico"))
          .agg(sum(col("tot") * col("tot")), sum(col("kico"))).head()
        val qNew = 2L * m2Val * (statsNew.getLong(1) / 2L + wselfVal) -
          statsNew.getLong(0)
        if (qNew > qCur) {
          labels.unpersist(blocking = false)
          ncCur.unpersist(blocking = false)
          labels = proposed
          ncCur = ncNew
          qCur = qNew
        } else {
          proposed.unpersist(blocking = false)
          ncNew.unpersist(blocking = false)
        }
      }

      // per-level summary on the partition carried into contraction
      val la = labels.select(col("node").as("a"), col("comm").as("ca"))
      val lb = labels.select(col("node").as("b"), col("comm").as("cb"))
      val win = wedges.join(la, Seq("a")).join(lb, Seq("b"))
        .where(col("a") === col("b") || col("ca") === col("cb"))
        .agg(coalesce(sum(col("w")), lit(0L)).as("internal_weight"))
      val commStats = labels.join(deg, Seq("node"))
        .groupBy(col("comm")).agg(sum(col("k")).as("tot"))
        .agg(count(lit(1)).as("n_communities"),
          sum(col("tot") * col("tot")).as("tot2"))
      val nNodes = labels.agg(count(lit(1)).as("n_nodes"))
      val row = truncated(nNodes.crossJoin(commStats).crossJoin(win)
          .select(lit(lvl.toLong).as("level"), col("n_nodes"),
            col("n_communities"), col("internal_weight"),
            (lit(2L) * lit(m2Val) * col("internal_weight") - col("tot2"))
              .as("q_scaled")))
        .persist(store)
      row.count()
      out = Some(out.fold(row)(_.unionByName(row)))

      // phase 2: contract the accepted partition into a weighted graph
      // (label count = this level's node count, already known from
      // deg.count() — skips the gate's own count job)
      if (lvl < levels) {
        val contracted = truncated(
            louvainContract(wedges, labels, knownLabelRows = Some(nNodes0)))
          .repartition(col("a")).persist(store)
        contracted.count()
        wedges.unpersist(blocking = false)
        wedges = contracted
      }
    }
    out.get
  }

  /** Blondel phase 2 in isolation: contract a weighted undirected edge
    * table `(a, b, w)` (a ≤ b; a = b is a self-loop) under a label table
    * `(node, comm)` into the community graph — inter-community weights
    * summed, intra-community weight (including prior self-loops) becoming
    * the community's self-loop. Modularity-preserving by construction.
    *
    * Scale — SIZE-GATED join strategy: the label table is node-sized, so a
    * forced broadcast is a data-sized driver collect + per-executor copy
    * at 10⁹ nodes. Under `broadcastLabelLimit` rows (one cheap count on
    * the caller-persisted label table) the labels broadcast into the two
    * endpoint lookups and the ONLY exchange is the (comm_a, comm_b)-keyed
    * weight aggregate; over the limit the lookups become plain node-keyed
    * equi-joins (two exchanges + the aggregate) — same output, the plan a
    * 1000-executor cluster actually survives. PlanSpec pins both modes.
    * The default is [[BroadcastLabelRowLimit]] — a row count a forced
    * broadcast actually survives (an earlier 10⁸ default exceeded Spark's
    * broadcast size limits long before the gate could route to the shuffle
    * path, so the gate protected nobody at the default). */
  def louvainContract(wedges: DataFrame, labels: DataFrame,
                      broadcastLabelLimit: Long = BroadcastLabelRowLimit,
                      knownLabelRows: Option[Long] = None): DataFrame = {
    // callers that already materialized the label table pass its row count
    // (round 17) — the gate then costs no extra count job
    val small = knownLabelRows.getOrElse(labels.count()) <= broadcastLabelLimit
    def look(n: String, c: String): DataFrame = {
      val l = labels.select(col("node").as(n), col("comm").as(c))
      if (small) broadcast(l) else l
    }
    wedges
      .join(look("a", "ca"), Seq("a"))
      .join(look("b", "cb"), Seq("b"))
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
  }

  /** One SYNCHRONIZED Louvain move phase from singleton init (Blondel et
    * al. 2008's phase-1 first sweep, the community-detection primitive the
    * modularity SCORE ([[modularityMicro]]) only measures): with every node
    * its own community, the modularity gain of node `i` adopting neighbor
    * `j`'s community is `ΔQ ∝ 2m·A_ij − k_i·k_j` — for an unweighted edge,
    * `2m − k_i·k_j`, EXACT in integers (the float ΔQ differs by the
    * positive constant `1/(2m)²`, so every comparison is preserved). Each
    * node moves to the neighbor with the maximal positive gain — i.e. the
    * SMALLEST-degree neighbor with `k_i·k_j < 2m`, ties broken by the
    * smaller neighbor id — or stays put. All decisions read the OLD labels
    * (synchronized, deterministic; sequential Louvain is order-dependent,
    * which no distributed oracle could replay).
    *
    * Returns one row per resulting community: `(community, n_members,
    * tot_degree, internal_edges, q_contrib_scaled)` where
    * `q_contrib_scaled = 4m·e_c − tot_c²` — the community's term of
    * `Q·(2m)²` — so `Q = Σ q_contrib_scaled / (2m)²` exactly.
    *
    * Scale: one degree aggregate over the symmetrized edges, one edge-keyed
    * join of the two endpoint degrees with the 1-row `2m` broadcast, one
    * per-node argmax (`min(struct(-gain, dst))`, a map-side-combinable
    * aggregate), and two label joins for the partition stats — every
    * exchange is keyed on a node or edge endpoint, nothing is ever
    * all-pairs, and per-node state is one (gain, neighbor) pair. Overflow:
    * `2m·e_c` and `tot_c²` stay under 2⁶³ through ~2·10⁹ edges; past that,
    * take the two products in DECIMAL(38,0) (same plan, declared
    * precision). */
  def louvainMoveRound(edges: DataFrame, idA: String = "id_a",
                       idB: String = "id_b"): DataFrame = {
    val e = edges
      .select(least(col(idA), col(idB)).cast("long").as("a"),
        greatest(col(idA), col(idB)).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct()
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("k"))
    val m2 = deg.agg(sum(col("k")).as("m2")) // = 2m
    val cand = sym
      .join(deg.select(col("src"), col("k").as("ki")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("k").as("kj")), Seq("dst"))
      .crossJoin(broadcast(m2))
      .select(col("src"),
        struct((col("ki") * col("kj") - col("m2")).as("negGain"),
          col("dst")).as("cand"))
    val labels = cand.groupBy(col("src")).agg(min(col("cand")).as("best"))
      .select(col("src").as("node"),
        when(col("best.negGain") < 0L, col("best.dst"))
          .otherwise(col("src")).as("community"))
    val tot = labels.join(deg.select(col("src").as("node"), col("k")),
        Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"), sum(col("k")).as("tot_degree"))
    val internal = e
      .join(labels.select(col("node").as("a"), col("community").as("ca")),
        Seq("a"))
      .join(labels.select(col("node").as("b"), col("community").as("cb")),
        Seq("b"))
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    tot.join(internal, Seq("community"), "left")
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_members"), col("tot_degree"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        (lit(2L) * col("m2") * coalesce(col("internal_edges"), lit(0L))
          - col("tot_degree") * col("tot_degree")).as("q_contrib_scaled"))
  }
}
