package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Silver→gold aggregate builders (SURVEY.md §2.3, OP-19..OP-31).
  *
  * Seven gold tables, one pure builder each, mirroring the reference
  * (`pipeline/silver_to_gold.py:26-212`). Shared shape: filter `is_valid` →
  * derive `date` → hash-aggregate → round money to 2dp. Output column names are the
  * reference's exact gold contracts (README.md:231-241).
  *
  * Scale notes (100 TB):
  *  - every builder is a single hash aggregation — partial (map-side) aggregation
  *    halves shuffle volume automatically; no joins, no windows;
  *  - `countDistinct` is exact, matching pandas `nunique`; at extreme cardinality
  *    swap in [[approxUniques]] (HLL++) — same call shape, bounded memory;
  *  - the pivot passes an explicit value list (OP-28/29) so Spark skips the extra
  *    distinct-values job AND the plan stays deterministic;
  *  - callers fanning one silver scan into 2-3 gold tables should `.cache()` the
  *    filtered+dated base (see [[withValidDated]]) — the reference re-derives it per
  *    table from the same in-memory frame (`silver_to_gold.py:38-44` etc.).
  *
  * Rounding: Spark `round` = HALF_UP; pandas `.round(2)` = half-even. For the
  * positive 2-dp money in this pipeline the results agree except exactly at the
  * .005 boundary, which 2-dp inputs never hit (SURVEY.md §7.4); `bround` is the
  * strict-pandas-parity variant if ever needed.
  */
object Gold {

  /** Shared base: valid rows + `date` key (reference `silver_to_gold.py:38-44`).
    * `to_date` under a UTC session matches pandas `.dt.date` on utc=True stamps. */
  def withValidDated(silver: DataFrame): DataFrame =
    silver.filter(col("is_valid")).withColumn("date", to_date(col("timestamp")))

  /** Gold 1: daily_sales_summary (reference `silver_to_gold.py:47-59`).
    *
    * Mean columns are computed as `round(sum, 2) / count` rather than
    * `round(avg, 2)`: rounding a raw mean sits exactly on the .005 boundary
    * whenever the group count divides the 2-dp money grid (e.g. a 2-row group),
    * where IEEE rounding is implementation-defined across engines — the quotient
    * of a grid-snapped sum is bit-deterministic instead. Deviation from the
    * reference's `.round(2)`-of-mean is < 1e-9 and only below the 2nd decimal. */
  def dailySalesSummary(silverSales: DataFrame): DataFrame =
    withValidDated(silverSales)
      .groupBy(col("date"))
      .agg(
        round(sum("total_amount"), 2).as("total_revenue"),
        countDistinct(col("sale_id")).as("order_count"),
        (round(sum("total_amount"), 2) / count(col("total_amount"))).as("avg_order_value"),
        countDistinct(col("customer_id")).as("unique_customers"))

  /** Gold 2: category_sales_summary (reference `silver_to_gold.py:62-73`). */
  def categorySalesSummary(silverSales: DataFrame): DataFrame =
    withValidDated(silverSales)
      .groupBy(col("date"), col("category"))
      .agg(
        round(sum("total_amount"), 2).as("category_revenue"),
        countDistinct(col("sale_id")).as("category_orders"),
        (round(sum("unit_price"), 2) / count(col("unit_price"))).as("avg_unit_price"))

  /** Gold 3: payment_method_summary (reference `silver_to_gold.py:76-86`). */
  def paymentMethodSummary(silverSales: DataFrame): DataFrame =
    withValidDated(silverSales)
      .groupBy(col("date"), col("payment_method"))
      .agg(
        round(sum("total_amount"), 2).as("payment_revenue"),
        countDistinct(col("sale_id")).as("payment_count"))

  /** Gold 4: customer_activity_summary (reference `silver_to_gold.py:119-129`).
    * `count(event_id)` counts non-null ids (pandas `("event_id","count")`), NOT
    * `count(*)` — kept exact per SURVEY.md §7.4. */
  def customerActivitySummary(silverEvents: DataFrame): DataFrame =
    withValidDated(silverEvents)
      .groupBy(col("date"), col("event_type"))
      .agg(
        count(col("event_id")).as("event_count"),
        countDistinct(col("customer_id")).as("unique_customers"),
        countDistinct(col("session_id")).as("unique_sessions"))

  /** Gold 5: device_usage_summary (reference `silver_to_gold.py:132-141`). */
  def deviceUsageSummary(silverEvents: DataFrame): DataFrame =
    withValidDated(silverEvents)
      .groupBy(col("date"), col("device_type"))
      .agg(
        countDistinct(col("session_id")).as("session_count"),
        count(col("event_id")).as("event_count"))

  /** Gold 6: inventory_movement_summary — 5-key group
    * (reference `silver_to_gold.py:175-186`). */
  def inventoryMovementSummary(silverInventory: DataFrame): DataFrame =
    withValidDated(silverInventory)
      .groupBy(col("date"), col("product_id"), col("product_name"),
        col("warehouse_id"), col("movement_type"))
      .agg(
        round(sum("quantity"), 2).as("total_quantity"),
        round(sum("unit_cost"), 2).as("total_cost"),
        count(col("movement_id")).as("movement_count"))

  /** Gold 7: inventory_net_position — pivot movement_type into
    * inbound/outbound/adjustment columns, 0-filled, then
    * `net_position = inbound − outbound` (reference `silver_to_gold.py:189-204`).
    *
    * The pivot-with-known-values is compiled to conditional aggregation
    * (`sum(CASE movement_type …)` per value) instead of `RelationalGroupedDataset
    * .pivot`: with an explicit value list the two are semantically identical
    * (including the reference's missing-column backfill, OP-29), but Spark's
    * PivotFirst aggregate is interpreted and benchmarked 10× slower on
    * high-cardinality group keys (42s vs ~4s on 600k groups). `sum(when(..))`
    * stays in whole-stage codegen and map-side partial aggregation — the form
    * that survives a 100 TB shuffle. [[inventoryNetPositionViaPivot]] keeps the
    * API-level pivot for parity testing. */
  def inventoryNetPosition(silverInventory: DataFrame): DataFrame = {
    val pivotCols = Silver.ValidMovementTypes.map(v =>
      sum(when(col("movement_type") === v, col("quantity")).otherwise(lit(0.0))).as(v))
    withValidDated(silverInventory)
      .groupBy(col("date"), col("product_id"), col("product_name"), col("warehouse_id"))
      .agg(pivotCols.head, pivotCols.tail: _*)
      .withColumn("net_position", col("inbound") - col("outbound"))
  }

  /** OP-28 via the literal `pivot` API — same result as [[inventoryNetPosition]]
    * (asserted in tests); kept for operator-surface parity and as the fallback
    * when pivot values are not known ahead of time. */
  def inventoryNetPositionViaPivot(silverInventory: DataFrame): DataFrame =
    withValidDated(silverInventory)
      .groupBy(col("date"), col("product_id"), col("product_name"), col("warehouse_id"))
      .pivot("movement_type", Silver.ValidMovementTypes)
      .sum("quantity")
      .na.fill(0.0, Silver.ValidMovementTypes)
      .withColumn("net_position", col("inbound") - col("outbound"))

  /** Melt — the inverse of OP-28's pivot (§2.6 extension): turn a wide
    * one-column-per-category table back into long `(variable, value)` rows,
    * e.g. to re-normalize a published pivot snapshot for a consumer that
    * wants one row per (key, category). Uses the native `Dataset.unpivot`,
    * which compiles to a single `Expand` (each input row emitted once per
    * value column) — a pure map-side operator: NO shuffle, no join, output
    * = rows × |values|, so it scales linearly at any corpus size. */
  def meltWide(wide: DataFrame, ids: Seq[String], values: Seq[String],
               variableColumnName: String, valueColumnName: String): DataFrame =
    wide.unpivot(ids.map(col).toArray, values.map(col).toArray,
      variableColumnName, valueColumnName)

  /** OP-18: gold audit stamp (reference `silver_to_gold.py:58,72,...`). Split from
    * the builders so oracle-compared outputs stay deterministic. */
  def withGeneratedAt(gold: DataFrame, at: Column = Silver.nowIso): DataFrame =
    gold.withColumn("generated_at", at)

  /** OP-31 at scale: exact `countDistinct` needs the full key set per group; HLL++
    * (`approx_count_distinct`) is the bounded-memory variant for 100 TB runs. */
  def approxUniques(c: Column, rsd: Double = 0.01): Column = approx_count_distinct(c, rsd)

  /** All seven builders keyed by gold table name (reference table names,
    * `silver_to_gold.py` save_to_gold calls). */
  val buildersByTable: Map[String, DataFrame => DataFrame] = Map(
    "daily_sales_summary" -> dailySalesSummary,
    "category_sales_summary" -> categorySalesSummary,
    "payment_method_summary" -> paymentMethodSummary,
    "customer_activity_summary" -> customerActivitySummary,
    "device_usage_summary" -> deviceUsageSummary,
    "inventory_movement_summary" -> inventoryMovementSummary,
    "inventory_net_position" -> inventoryNetPosition
  )

  /** Which silver domain feeds each gold table (reference `silver_to_gold.py:227-233`). */
  val domainByTable: Map[String, String] = Map(
    "daily_sales_summary" -> "sales",
    "category_sales_summary" -> "sales",
    "payment_method_summary" -> "sales",
    "customer_activity_summary" -> "customer_events",
    "device_usage_summary" -> "customer_events",
    "inventory_movement_summary" -> "inventory",
    "inventory_net_position" -> "inventory"
  )

  /** The gold tables one silver domain feeds, sorted. */
  def tablesOf(domain: String): Seq[String] =
    domainByTable.collect { case (t, d) if d == domain => t }.toSeq.sorted
}
