package graft.engine

import org.apache.spark.sql.types._

/** Explicit schemas for the three medallion fact domains.
  *
  * The reference declares no schema anywhere — `pd.read_csv` infers bronze types
  * (reference `pipeline/bronze_to_silver.py:207`) and Parquet footers carry silver/gold
  * types (`storage/local_storage.py:137`). Inference is a bug source at scale (a single
  * all-null CSV column flips a type); we declare every schema explicitly so CSV parsing,
  * null handling and downstream aggregate types are deterministic across 100k files.
  *
  * Column contracts come from the generators:
  *  - sales:            reference `generator/sales_generator.py:80-92`
  *  - customer_events:  reference `generator/customer_events_generator.py:59-68`
  *  - inventory:        reference `generator/inventory_generator.py:65-75`
  *
  * Bronze `timestamp` is kept as STRING: parsing with null-on-failure happens in the
  * silver transform (matching `pd.to_datetime(..., errors="coerce")`,
  * `bronze_to_silver.py:51,102,147`), so unparseable raw data lands in bronze verbatim.
  *
  * `quantity` is DoubleType: pandas promotes nullable int CSV columns to float64
  * (SURVEY.md §1.2); double end-to-end keeps aggregate results bit-compatible with the
  * reference and the DuckDB oracle.
  */
object Schemas {

  val salesBronze: StructType = StructType(Seq(
    StructField("sale_id", StringType),
    StructField("timestamp", StringType),
    StructField("customer_id", StringType),
    StructField("product_id", StringType),
    StructField("product_name", StringType),
    StructField("category", StringType),
    StructField("quantity", DoubleType),
    StructField("unit_price", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("payment_method", StringType),
    StructField("status", StringType)
  ))

  val customerEventsBronze: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("timestamp", StringType),
    StructField("customer_id", StringType),
    StructField("session_id", StringType),
    StructField("event_type", StringType),
    StructField("product_id", StringType),
    StructField("page_url", StringType),
    StructField("device_type", StringType)
  ))

  val inventoryBronze: StructType = StructType(Seq(
    StructField("movement_id", StringType),
    StructField("timestamp", StringType),
    StructField("product_id", StringType),
    StructField("product_name", StringType),
    StructField("warehouse_id", StringType),
    StructField("movement_type", StringType),
    StructField("quantity", DoubleType),
    StructField("unit_cost", DoubleType),
    StructField("supplier_id", StringType)
  ))

  /** Bronze schema per domain name (reference `config.py:28` DOMAINS list). */
  val bronzeByDomain: Map[String, StructType] = Map(
    "sales" -> salesBronze,
    "customer_events" -> customerEventsBronze,
    "inventory" -> inventoryBronze
  )

  /** Columns the silver transform appends to every domain
    * (reference `bronze_to_silver.py:76-78,119-121,167-169`). */
  val silverAuditColumns: Seq[StructField] = Seq(
    StructField("validation_errors", StringType, nullable = false),
    StructField("is_valid", BooleanType, nullable = false),
    StructField("processed_at", StringType, nullable = false)
  )

  /** Silver schema = bronze with `timestamp` parsed + audit columns. */
  def silverFor(domain: String): StructType = {
    val bronze = bronzeByDomain(domain)
    StructType(bronze.fields.map {
      case StructField("timestamp", _, _, m) => StructField("timestamp", TimestampType, nullable = true, m)
      case f => f
    } ++ silverAuditColumns)
  }

  /** Silver as it lies on disk: [[silverFor]] plus the Hive partition columns
    * the writer adds ([[Layout.partitionColumns]]). Reading silver with it
    * skips the footer-inference job a schema-less parquet read runs. */
  def silverOnDiskFor(domain: String): StructType =
    StructType(silverFor(domain).fields ++ Layout.partitionColumns.map(StructField(_, IntegerType)))
}
