package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, ResolvedHint, Window}

/** Suite-wide NEGATIVE plan guard: every query in [[SparkEntry.queries]] is
  * planned against real testdata and asserted free of the scale-killer
  * classes most likely to creep in as the suite grows — unconditioned
  * (cartesian) joins between data-sized sides, and global (empty
  * partition-by) windows that funnel the whole input through one reducer.
  * PlanSpec pins ~80 individual plans positively; this spec is the blanket
  * "nothing anywhere regressed into a cartesian" check for all of them.
  *
  * Mechanics: a join with no condition is allowed only when one side is
  * provably tiny at plan time (`maxRows` ≤ 100 — the broadcast 1-row
  * aggregate re-wrap idiom every fixture query uses); a global window is
  * allowed only on the named allowlist below, each entry justified. The
  * walk is over the ANALYZED plan (CollectMetrics/observe nodes make some
  * queries reject `optimizedPlan` access through AQE; analysis is enough —
  * the optimizer only ever REMOVES join conditions it can prove true, which
  * `maxRows` still catches on the analyzed shape).
  *
  * Planning only — no query executes here beyond the side effects of
  * building its fixtures; sf0.001 keeps those cheap.
  */
class PlanGuardSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries allowed to carry an unconditioned data×data join, each with the
    * reason it is a deliberate, labeled exception. */
  private val cartesianAllowed: Map[String, String] = Map(
    "q28_embedding_neardup" ->
      "the documented brute-force all-pairs BASELINE; q29/q36/q78/q83 are the scale paths")

  /** Queries allowed to expose a DecimalType column in their FINAL schema,
    * each with the reason. Decimal at the query boundary is the driver-hash
    * trap that bit three rounds (4, 8, 10): Spark `sum(decimal)` is
    * DECIMAL(38,0) while a DuckDB oracle's bare `SUM(BIGINT)` is HUGEINT —
    * the driver's type-sensitive hash fails even when every value matches
    * bit-for-bit. The rule: reduce to BIGINT (or render digits as STRING
    * when the value exceeds int64, q249/q260) in the final projection on
    * BOTH sides; DECIMAL internals (Rank.spearmanStats, Profile
    * .tableFingerprint) stay — only the query boundary is banned. */
  private val decimalAllowed: Map[String, String] = Map.empty

  /** Queries allowed to carry a global (empty partition-by) window whose
    * boundedness is semantic rather than plan-provable, with the
    * group-cardinality justification for each. */
  private val globalWindowAllowed: Map[String, String] = Map(
    "q59_range_window" ->
      "windows run over the per-DAY revenue aggregate — calendar-sized (~2.4k rows at sf1), not data-sized",
    "q98_cumulative_distinct" ->
      "cumulative sum over the per-MONTH first-seen aggregate — months-sized",
    "q99_mom_delta" ->
      "lag over the per-MONTH revenue aggregate — months-sized",
    "q114_percentile_sketch" ->
      "cumulative count over the value-HISTOGRAM buckets (fixed bucket grid), not rows",
    "q239_kaplan_meier" ->
      "suffix sum over the per-DAY-duration risk table — calendar-sized, not subject-sized",
    "q244_isotonic_calibration" ->
      "prefix sums over the ≤100-row score-bucket grid — grid-sized, not observation-sized",
    "q329_cusum_changepoint" ->
      "CUSUM prefix sum over the per-DAY revenue aggregate — calendar-sized, not order-sized")

  /** A join side that is provably or assertedly small: plan-level `maxRows`
    * ≤ 100 (global aggregates, literal relations, limits), or an explicit
    * `broadcast()` hint — the `crossJoin(broadcast(oneRowAgg))` re-wrap
    * idiom, where the author asserts metadata-size (a wrong assertion OOMs
    * the broadcast loudly at scale rather than silently going quadratic). */
  private def tinySide(p: LogicalPlan): Boolean = p match {
    case h: ResolvedHint =>
      h.hints.strategy.contains(org.apache.spark.sql.catalyst.plans.logical.BROADCAST) ||
        tinySide(h.child)
    case _ => p.maxRows.exists(_ <= 100)
  }

  private def offenses(plan: LogicalPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    plan.foreach {
      case j: Join if j.condition.isEmpty
          && !tinySide(j.left) && !tinySide(j.right) =>
        out += s"unconditioned join of data-sized sides: ${j.simpleString(60)}"
      // a global window is fine when its input is provably bounded (top-k
      // limits upstream give the child a maxRows); otherwise it funnels the
      // input through one reducer and must be allowlisted with a reason
      case w: Window if w.partitionSpec.isEmpty
          && !w.child.maxRows.exists(_ <= 10000) =>
        out += s"global window (empty PARTITION BY): ${w.simpleString(60)}"
      case _ =>
    }
    out.toSeq
  }

  test("no query plans a cartesian join or a global window outside the allowlist") {
    // The 398 query constructions are independent and many EXECUTE work
    // when built (streaming drains, incremental folds) — serially this one
    // test spent 472s of the round-16 suite (the wall that budget-killed
    // the driver's test run). They now build from a small thread pool
    // (guide §2.6: one Spark scheduler runs concurrent jobs fine; temp
    // views re-register identical content, sink/scratch names are
    // per-query). Cache cleanup runs ONCE at the end instead of per query:
    // a concurrent sweep would unpersist another thread's in-flight
    // localCheckpointed loop frames, which cannot recompute.
    def check(name: String, fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): Seq[String] =
      try {
        val df = fn(spark, sfDir)
        val bad = offenses(df.queryExecution.analyzed)
        val planBad =
          if (bad.nonEmpty && !cartesianAllowed.contains(name)
              && !globalWindowAllowed.contains(name))
            Seq(s"$name: ${bad.mkString("; ")}")
          else Seq.empty
        // Final-schema decimal ban (same pass — fixtures are built once):
        // see decimalAllowed for why DecimalType at the query boundary is
        // the recurring driver-hash type-mismatch class.
        val dec = df.schema.fields.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
        val decBad =
          if (dec.nonEmpty && !decimalAllowed.contains(name))
            Seq(s"$name: DecimalType in final schema: " +
              dec.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
              " — reduce to BIGINT or render as STRING on both sides (see decimalAllowed scaladoc)")
          else Seq.empty
        planBad ++ decBad
      } catch {
        case e: Throwable =>
          Seq(s"$name: query construction failed at $sfDir: ${e.getMessage}")
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) => scala.concurrent.Future(check(name, fn)) }
    val failures =
      try {
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration(30, "min")).flatten
      } finally {
        pool.shutdown()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    assert(failures.isEmpty,
      s"\n${failures.size} queries violate the plan guard:\n${failures.mkString("\n")}")
  }

  test("the allowlists only name queries that still exist and still need the exception") {
    val all = SparkEntry.queries.keySet
    (cartesianAllowed.keySet ++ globalWindowAllowed.keySet
      ++ decimalAllowed.keySet).foreach { name =>
      assert(all.contains(name), s"allowlist entry $name no longer exists")
    }
  }

  test("every query carries an oracle and every oracle names a query — 100% hash coverage, pinned") {
    // Round 10 reached oracleSql ≡ queries (no rows-only entries left);
    // this guard makes any future regression — a query landing without an
    // oracle, or an oracle orphaned by a rename — a test failure instead of
    // a silently weaker correctness artifact.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted.mkString(", ")}")
    assert((o -- q).isEmpty, s"orphaned oracles: ${(o -- q).toSeq.sorted.mkString(", ")}")
  }
}
