package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Generators, Gold, Incremental, Layout, Silver, Sources}
import graft.ext.{Dedup, Frames, Similarity, TextAnalysis}

/** Driver contract: one runnable, DuckDB-oracle-checked query per operator family
  * from SURVEY.md §2, phrased over the driver testdata (TESTDATA.md), plus the
  * extension operators (dedup / similarity / text analysis) over
  * `documents`/`embeddings`.
  *
  * Query → operator-inventory map:
  *  - q01_daily_sales_summary       OP-19,20,22,31,15 (gold daily KPIs via [[Gold]])
  *  - q02_category_sales_summary    OP-23
  *  - q03_payment_method_summary    OP-24
  *  - q04_customer_activity_summary OP-25 (+ JSON session derivation)
  *  - q05_device_usage_summary      OP-26
  *  - q06_inventory_movement_summary OP-27 (+ broadcast dim join, OP-34)
  *  - q07_inventory_net_position    OP-28,29,30 (pivot + backfill + derived col)
  *  - q08_dedup_exact               OP-21 (keyless form; extension exact-dedup)
  *  - q09_validation_errors         OP-11,12,16,17 (full silver clean via [[Silver]])
  *  - q10_autofix_totals            OP-13,14,15 (conditional auto-correction)
  *  - q11_ts_parse_coercion         OP-10
  *  - q12_dedup_keep_first          OP-21 (order-faithful window variant)
  *  - q13_top_customers             sort/limit (§2.6 extension)
  *  - q14_region_revenue            multi-way broadcast join (OP-34 generalized)
  *  - q15_union_slices              OP-5
  *  - q16_window_running            window functions (§2.6 extension)
  *  - q17_month_rollup              OP-3 (date-partition derivation as columns)
  *  - q18_incremental_medallion     OP-9,35,36 (ledger-tracked bronze drain;
  *                                  hash-oracled via portable-hash generator replay)
  *  - q19_semi_anti_join            left-semi / left-anti joins (§2.6 extension)
  *  - q20..q30                      extension surface: tokens, quality, lang-id,
  *                                  fingerprints, MinHash/LSH, SimHash, n-gram
  *                                  Jaccard, cosine top-k, embedding near-dup, ANN
  *  - q31_rollup                    grouping sets / rollup (§2.6 extension)
  *  - q32_stream_windowed           event-time window + watermark (Structured
  *                                  Streaming, memory sink, oracle = batch rollup)
  *
  * Oracle rules (SURVEY.md §7.4): every Spark column aliased identically in the
  * DuckDB SQL; money sums rounded to 2dp only where inputs are 2dp (grid-safe);
  * float similarity rounded to 6dp; ORDER/LIMIT queries carry explicit tie-breaks.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped in two physical parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) — which Spark's vectorized reader only
    * accepts as a raw long via `nanosAsLong` — and plain TIMESTAMP(MICROS),
    * which arrives as TIMESTAMP_NTZ (footer has isAdjustedToUTC=false). A real
    * engine reads what the footer says rather than assuming one encoding
    * forever, so this branches on the REPORTED type:
    *  - LongType (nanos-as-long): truncate to µs with integer division
    *    (`ts DIV 1000`; a double division would lose precision above 2^53 ns);
    *  - TIMESTAMP / TIMESTAMP_NTZ (micros): cast to session-TZ timestamp — the
    *    session TZ is pinned UTC everywhere (Verify/Bench/specs), so the
    *    NTZ→LTZ cast is value-identical.
    * Either way the oracle side needs nothing: DuckDB reads NANOS truncated to
    * µs exactly like `ts DIV 1000` and MICROS as-is, so every `epoch_us`-based
    * oracle holds under both encodings (SURVEY.md §7.4). */
  private[graft] def eventsTsColumn(dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_micros(ts DIV 1000)")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        col("ts").cast("timestamp")
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — expected long " +
          "(nanos-as-long), timestamp, or timestamp_ntz")
    }

  /** Reads the events table with `ts` normalized to TimestampType(µs).
    *
    * Session prerequisite (NOT set here — query functions never mutate
    * session conf): `spark.sql.legacy.parquet.nanosAsLong=true` must be in
    * the session BUILDER config to read TIMESTAMP(NANOS) footers (harmless
    * for MICROS footers). Verify/Bench/SparkSpec all set it at session
    * build; a session without it fails loudly below if the footer is NANOS. */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    try t(spark, dir, "events")
    catch { case e: org.apache.spark.sql.AnalysisException
        if Option(e.getMessage).exists(_.contains("NANOS")) =>
      throw new IllegalStateException(
        "events.ts footer is TIMESTAMP(NANOS) but this session cannot read " +
          "it — set spark.sql.legacy.parquet.nanosAsLong=true in the " +
          "SparkSession builder config (see Verify/Bench session setup)", e)
    }

  private[graft] def eventsTable(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRaw(spark, dir)
    raw.withColumn("ts", eventsTsColumn(raw.schema("ts").dataType))
  }

  /** Streaming counterpart of [[eventsTable]] — the ONE reader every streaming
    * query over events goes through (q32/q45/q48/q121/q139), so a future
    * encoding drift is absorbed in one place instead of five. Streams
    * `streamPath` (defaults to the sf dir glob-filtered to the events file;
    * q139 points it at a replay directory) with `ts` normalized to
    * TimestampType(µs) — the type watermarks require. */
  private[graft] def eventsStream(spark: SparkSession, sfDir: String,
      streamPath: String = null,
      options: Map[String, String] = Map("pathGlobFilter" -> "events.parquet"))
      : DataFrame = {
    // same session prerequisite as eventsTable: nanosAsLong at session build
    val schema = eventsRaw(spark, sfDir).schema
    val reader = options.foldLeft(spark.readStream.schema(schema)) {
      case (r, (k, v)) => r.option(k, v)
    }
    reader.parquet(Option(streamPath).getOrElse(sfDir))
      .withColumn("ts", eventsTsColumn(schema("ts").dataType))
  }

  /** orders mapped to the sales silver shape (valid rows) — lets the medallion
    * gold builders run 1:1 over driver testdata. */
  private def ordersAsSales(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(
      col("o_orderkey").cast("string").as("sale_id"),
      col("o_orderdate").as("timestamp"),
      col("o_custkey").cast("string").as("customer_id"),
      col("o_orderpriority").as("payment_method"),
      col("o_totalprice").as("total_amount"))
      .withColumn("is_valid", lit(true))

  private def lineitemAsSales(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(
      concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("sale_id"),
      col("l_shipdate").as("timestamp"),
      col("l_returnflag").as("category"),
      col("l_extendedprice").as("total_amount"),
      col("l_extendedprice").as("unit_price"))
      .withColumn("is_valid", lit(true))

  /** events mapped to the customer_events silver shape. Session id is derived from
    * the JSON props payload — exercises JSON extraction alongside OP-25/26. */
  private def eventsAsCustomerEvents(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k")
    eventsTable(spark, dir).select(
      col("event_id").cast("string").as("event_id"),
      col("ts").as("timestamp"),
      col("user_id").cast("string").as("customer_id"),
      concat_ws("-", col("user_id"), k).as("session_id"),
      col("event_type"),
      element_at(array(lit("desktop"), lit("mobile"), lit("tablet")),
        pmod(k.cast("int"), lit(3)) + 1).as("device_type"))
      .withColumn("is_valid", lit(true))
  }

  /** lineitem ⋈ broadcast(part) mapped to the inventory silver shape:
    * returnflag N/R/A ↦ inbound/outbound/adjustment. */
  private def lineitemAsInventory(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part").select(col("p_partkey"), col("p_name"))
    t(spark, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("movement_id"),
        col("l_shipdate").as("timestamp"),
        col("l_partkey").cast("string").as("product_id"),
        col("p_name").as("product_name"),
        col("l_suppkey").cast("string").as("warehouse_id"),
        when(col("l_returnflag") === "N", "inbound")
          .when(col("l_returnflag") === "R", "outbound")
          .otherwise("adjustment").as("movement_type"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("unit_cost"))
      .withColumn("is_valid", lit(true))
  }

  /** Stopword list shared by the quality/lang queries and their oracles. */
  private val QualityStopwords = Seq("the", "a", "of", "and", "is")

  /** Temp working dir removed at JVM exit — the streaming demo query creates
    * bronze/silver/checkpoint state whose lifetime must outlast the (lazy)
    * returned frame, so cleanup hangs off a shutdown hook rather than a scope. */
  private def tempDirCleanedOnExit(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir)
    }))
    dir.getAbsolutePath
  }

  /** Recursive byte size of a file or directory — the scan-cost proxy the
    * streaming-state sizing below keys on (metadata only, no data read). */
  private def pathBytes(path: String): Long = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(sz).sum)
      else f.length()
    sz(new java.io.File(path))
  }

  /** Scale-adaptive streaming-state partitioning (round 17, guide §2.2):
    * a stateful streaming operator instantiates `spark.sql.shuffle.partitions`
    * state stores PER micro-batch (a stream-stream join keeps four per
    * partition), and that count is FIXED at the first batch of a
    * checkpoint — so the session-wide core-count default charges a toy
    * delta the full 32-way state-commit overhead every batch (q172:
    * 8.4s for 2 MB of input, and the 8-core driver run beat 32-core
    * 2.8×, the verdict's inverse-scaling evidence). Partitions are
    * derived from INPUT BYTES (~64 MB of state-partition input each,
    * floor 1) and capped at the session's own shuffle.partitions, so at
    * cluster scale the cap binds and nothing changes; the conf is set
    * only around the stream's start→drain and restored in a finally
    * (the batch plans before/after still see the session value).
    * Results are partitioning-invariant — only placement changes. */
  private def withStreamShuffle[T](s: SparkSession, inputBytes: Long)(body: => T): T =
    // synchronized on the session: the save/set/restore of the session conf
    // must not interleave when a test harness constructs queries from a
    // thread pool (PlanGuardSpec since round 17) — two racing drains would
    // otherwise restore each other's temporary value
    s.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      val target = math.max(1L, math.min(prev.toLong, inputBytes / (64L << 20) + 1L))
      s.conf.set("spark.sql.shuffle.partitions", target.toString)
      try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }

  /** documents ∪ a perturbed copy (first word dropped, id + 100000) — plants known
    * near-duplicates so LSH/SimHash queries return non-trivial, deterministic rows. */
  private[graft] def docsWithPlantedNearDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
  }

  /** embeddings (as double vectors) ∪ a uniformly shifted copy (+0.01 per
    * component, id + 100000) — plants cosine-near-duplicates. */
  private def embeddingsWithPlantedNearDups(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    emb.unionByName(emb.select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => x + 0.01).as("embedding")))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_daily_sales_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q01_daily_sales_summary" -> ((s, dir) =>
      Gold.dailySalesSummary(ordersAsSales(s, dir))),

    "q02_category_sales_summary" -> ((s, dir) =>
      Gold.categorySalesSummary(lineitemAsSales(s, dir))),

    "q03_payment_method_summary" -> ((s, dir) =>
      Gold.paymentMethodSummary(ordersAsSales(s, dir))),

    "q04_customer_activity_summary" -> ((s, dir) =>
      Gold.customerActivitySummary(eventsAsCustomerEvents(s, dir))),

    "q05_device_usage_summary" -> ((s, dir) =>
      Gold.deviceUsageSummary(eventsAsCustomerEvents(s, dir))),

    "q06_inventory_movement_summary" -> ((s, dir) =>
      Gold.inventoryMovementSummary(lineitemAsInventory(s, dir))),

    "q07_inventory_net_position" -> ((s, dir) =>
      Gold.inventoryNetPosition(lineitemAsInventory(s, dir))),

    "q08_dedup_exact" -> ((s, dir) =>
      Dedup.exactDuplicateGroups(t(s, dir, "documents"))),

    // Full silver validation pass (Silver.cleanEvents) over events with
    // deterministic defect injection: unparseable timestamps on cheap clicks,
    // null customer ids on cheap signups, and 'error' mapping outside the enum.
    "q09_validation_errors" -> { (s, dir) =>
      val mapped = eventsTable(s, dir).select(
        col("event_id").cast("string").as("event_id"),
        when(col("event_type") === "click" && col("value") < 20, lit("not-a-timestamp"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("timestamp"),
        when(col("event_type") === "signup" && col("value") < 50, lit(null))
          .otherwise(col("user_id").cast("string")).as("customer_id"),
        concat_ws("-", col("user_id"), get_json_object(col("props"), "$.k")).as("session_id"),
        when(col("event_type") === "view", "browse")
          .when(col("event_type") === "click", "login")
          .when(col("event_type") === "purchase", "checkout")
          .when(col("event_type") === "signup", "logout")
          .otherwise("UNKNOWN").as("event_type"))
      Silver.cleanEvents(mapped, processedAt = lit("fixed"))
        .groupBy(col("validation_errors"), col("is_valid"))
        .agg(count(lit(1)).as("n"))
    },

    // Silver.cleanSales auto-fix: totals carry a discount-induced mismatch which
    // the clean rewrites to round(quantity × unit_price, 2) when off by > 0.01.
    // (l_orderkey, l_linenumber) is NOT unique in the testdata, so the dedup key
    // is the full-row md5 — cleanSales' dropDuplicates then ≡ SELECT DISTINCT *.
    "q10_autofix_totals" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val fullRow = graft.functions.HashFunctions.md5Hex(concat_ws("|", li.columns.map(col): _*))
      val mapped = li.select(
        fullRow.as("sale_id"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("timestamp"),
        col("l_orderkey").cast("string").as("customer_id"),
        col("l_partkey").cast("string").as("product_id"),
        col("l_quantity").as("quantity"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("total_amount"),
        col("l_returnflag").as("category"))
      Silver.cleanSales(mapped, processedAt = lit("fixed"))
        .groupBy(col("category"))
        .agg(round(sum("total_amount"), 2).as("fixed_revenue"), count(lit(1)).as("n_rows"))
    },

    "q11_ts_parse_coercion" -> { (s, dir) =>
      val raw = when(col("o_orderstatus") === "P", lit("not-a-ts"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"))
      t(s, dir, "orders")
        .select(col("o_orderstatus"), try_to_timestamp(raw).as("parsed"))
        .groupBy(col("o_orderstatus"))
        .agg(count(col("parsed")).as("n_parsed"), count(lit(1)).as("n_total"))
    },

    // (l_orderkey, l_linenumber) is not unique, so the keep-first ordering
    // carries a full tie-break chain to stay a total order (SURVEY.md §7.4).
    "q12_dedup_keep_first" -> ((s, dir) =>
      Silver.dedupKeepFirst(t(s, dir, "lineitem"), "l_orderkey",
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))),

    "q13_top_customers" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)),

    "q14_region_revenue" -> { (s, dir) =>
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          countDistinct(col("c_custkey")).as("n_customers"))
    },

    "q15_union_slices" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O")
        .unionByName(o.filter(col("o_orderstatus") === "F"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
    },

    "q16_window_running" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"),
          round(sum("o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running"))
        .filter(col("rn") <= 3)
    },

    "q17_month_rollup" -> ((s, dir) =>
      Layout.withDatePartitions(t(s, dir, "orders"), col("o_orderdate"))
        .filter(col("year") >= 1998)
        .groupBy(col("year"), col("month"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))),

    // End-to-end incremental medallion: seeded PORTABLE generator batches land
    // as bronze CSV, a batch drain cleans them to silver and records each
    // drained file in its ledger, and the gold daily KPI builder runs on the
    // result. Filesystem side effects stay inside a fresh temp dir. The
    // drain ledger itself is invisible to values, so
    // the DuckDB oracle replays generator arithmetic (portable md5 hash
    // family, integer-cents money) + silver rules + the gold aggregate as
    // CTEs — the medallion spine is hash-verified, not just rows-only.
    // Two batches on different base days so the daily gold has real groups.
    "q18_incremental_medallion" -> { (s, _) =>
      val root = tempDirCleanedOnExit("graft-medallion-")
      val bronze = Layout.bronzeDir(root, "sales")
      (1 to 2).foreach { b =>
        Generators.salesBatch(s, 150, seed = 42 + b,
            baseTs = s"2026-01-0$b 00:00:00", injectDuplicate = b == 2)
          .coalesce(1)
          .write.option("header", "true").mode("append").csv(bronze)
      }
      Incremental.drainBronzeToSilver(s, "sales", bronze,
        Layout.silverDir(root, "sales"), Layout.checkpointDir(root, "sales"))
      Gold.dailySalesSummary(Sources.readSilver(s, Layout.silverDir(root, "sales")))
    },

    // Semi/anti joins (EXISTS / NOT EXISTS): customers with vs without orders,
    // rolled up per nation. (§2.6 noted these absent in the reference.)
    "q19_semi_anti_join" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey"))
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("with_orders"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("without_orders"))
      semi.unionByName(anti)
    },

    // Grouping-set hierarchy via rollup (year, priority) incl. grand total.
    "q31_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).as("year"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))),

    // Full grouping-set lattice via cube (adds the per-priority margin rollup lacks).
    "q40_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))),

    // Structured Streaming event-time window + watermark, driven to completion
    // with AvailableNow over the events parquet and collected from a memory sink —
    // equals the equivalent batch rollup, which the DuckDB oracle checks.
    "q32_stream_windowed" -> { (s, dir) =>
      // the streaming file source wants a directory: eventsStream streams the
      // sf dir itself, glob-filtered down to the events table
      val stream = eventsStream(s, dir)
      val agg = Incremental.windowedCounts(stream,
        ts = col("ts"), key = col("event_type"),
        windowDuration = "1 hour", watermarkDelay = "1 hour", valueCol = col("value"))
      val sinkName = "graft_stream_windowed"
      s.catalog.dropTempView(sinkName)
      withStreamShuffle(s, pathBytes(s"$dir/events.parquet")) {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(sinkName)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sinkName).select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
    },

    // SQL frontend over registered views — TPC-H Q1 shape (scan-filter pushdown
    // + multi-aggregate hash groupBy through spark.sql).
    "q33_sql_tpch_q1" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |       SUM(l_quantity) AS sum_qty,
          |       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
          |       ROUND(SUM(l_extendedprice), 2) / COUNT(l_extendedprice) AS avg_price,
          |       COUNT(*) AS count_order
          |FROM lineitem_v
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    },

    // Skew-safe two-phase (salted) aggregation: results equal the plain groupBy
    // (oracle), but hot keys fan over `salt` reducers in phase one.
    "q34_salted_agg" -> ((s, dir) =>
      engine.Skew.saltedSumCount(
        eventsTable(s, dir), key = col("event_type"), value = col("value"))
        .select(col("key").as("event_type"), round(col("total"), 2).as("total_value"), col("n"))),

    // Batch k-NN join: top-3 cosine neighbors for each of the first 10 vectors.
    "q35_knn_join" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.knnJoin(emb.filter(col("vec_id") < 10), emb, k = 3)
    },

    // Custom typed Aggregator: exact top-k per group with O(k) partial buffers
    // (vs the window idiom's full shuffle-sort) — top-3 orders per priority.
    "q37_topk_per_group" -> { (s, dir) =>
      val topk = graft.functions.TopKAggregator.topK(3)
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("tk"))
        .select(col("o_orderpriority"), explode(col("tk")).as("t"))
        .select(col("o_orderpriority"), col("t._1").as("price"), col("t._2").as("o_orderkey"))
    },

    // As-of (step-function) lookup against a dimension-sized daily-rate series:
    // per event, the latest rate dated ≤ 3 days before the event. The series
    // travels as plan-literal arrays (broadcast-style) and each probe is an
    // O(log n) binary search in codegen (functions.StepLookup) — no join, no
    // shuffle. Oracle: DuckDB ASOF LEFT JOIN.
    "q38_asof_rate" -> { (s, dir) =>
      val ev = eventsTable(s, dir)
      val series = ev.groupBy(to_date(col("ts")).as("d"))
        .agg(round(sum("value"), 2).as("rate"))
        .collect() // dimension-sized (one row per day) — an index, not data
        .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getDouble(1))).toSeq
      val key = datediff(date_sub(to_date(col("ts")), 3),
        to_date(lit("1970-01-01"))).cast("long")
      ev.withColumn("rate", graft.functions.StepLookup.asOfLookup(key, series))
        .groupBy(col("event_type"))
        .agg(round(sum("rate"), 2).as("total_rate"), count(col("rate")).as("n_matched"))
    },

    "q20_token_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_subword"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum("n_subword").as("total_subword_tokens"),
          round(avg("n_chars"), 2).as("avg_chars"))),

    "q21_quality_scores" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(col("text"), QualityStopwords), 6).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text"), QualityStopwords).as("quality"))),

    "q22_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("detected"))
        .groupBy(col("lang"), col("detected"))
        .agg(count(lit(1)).as("n"))),

    "q23_fingerprints" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique_fingerprints"))),

    // MinHash+LSH near-dup over documents + planted perturbed copies, on the
    // engine-portable md5-derived hash family — every stage (shingles →
    // signatures → band buckets → candidate join → exact Jaccard) is replayed
    // verbatim by the DuckDB oracle. The xxhash64 pipeline stays the scale
    // default (one xxhash64 vs one md5 per shingle) and is spec-verified to
    // find the same planted pairs.
    "q24_minhash_neardup" -> ((s, dir) =>
      Dedup.minhashNearDuplicatesPortable(docsWithPlantedNearDups(s, dir), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // Corpus-level near-dedup (keep-lowest-id): the planted perturbed copies
    // drop, the originals survive. Portable family → full oracle replay.
    "q39_dedup_corpus" -> ((s, dir) =>
      Dedup.removeNearDuplicatesPortable(docsWithPlantedNearDups(s, dir), threshold = 0.5)
        .orderBy(col("doc_id"))),

    // SimHash near-dup (Hamming ≤ 3 via 4×15-bit block match) on the portable
    // 60-bit family — oracle replays signatures, blocks, and Hamming verify.
    "q25_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDuplicatesPortable(docsWithPlantedNearDups(s, dir), maxDistance = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // Exact word-3-gram Jaccard between consecutive documents — oracle-checked.
    "q26_ngram_jaccard" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(docs.select(col("doc_id").as("id_b")), "id_b")
        .select("id_a", "id_b")
      Dedup.pairJaccard(pairs, docs, k = 3)
    },

    "q27_cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(t(s, dir, "embeddings"), queryId = 0, k = 10)),

    // Brute-force cosine near-dup pairs over embeddings + planted shifted copies —
    // the exactness baseline (oracle-checked); q29 is the LSH scale path.
    "q28_embedding_neardup" -> ((s, dir) =>
      Similarity.neardupPairs(embeddingsWithPlantedNearDups(s, dir), threshold = 0.9)),

    // Random-hyperplane LSH buckets + exact re-score — approximate by design
    // (bucket recall < 1), but fully deterministic: the plane literals are
    // seeded, so the oracle rebuilds the identical buckets (DuckDB's
    // list_dot_product is bit-identical to the codegen'd sequential fold —
    // verified over every vector × plane at sf0.01).
    "q29_ann_lsh" -> ((s, dir) =>
      Similarity.lshNeardupPairs(embeddingsWithPlantedNearDups(s, dir), threshold = 0.9, bits = 12)
        .orderBy(col("id_a"), col("id_b"))),

    // IVF (inverted-file) ANN: Lloyd-trained centroid cells, nProbe-limited
    // exact search — the clustered counterpart to q29's hyperplane LSH.
    // Lloyd centroid floats are engine- and partitioning-order-specific, so the
    // IVF hit list itself can't be hash-compared; what IS checkable is the ANN
    // accuracy contract. The query joins the IVF results against the exact
    // brute-force top-k (q27's deterministic form) and emits the contract
    // verdict: full result count and recall@10 ≥ 0.7 (observed 1.0; probing
    // 3/8 cells). The oracle asserts the contract, so a recall regression
    // hash-FAILS instead of hiding behind a rows-only check.
    "q36_ivf_ann" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val centroids = ext.IVF.train(emb, nCells = 8, iters = 2)
      val ivf = ext.IVF.search(emb, centroids, queryId = 0, k = 10, nProbe = 3)
      val brute = Similarity.cosineTopK(emb, queryId = 0, k = 10)
        .select(col("vec_id")).withColumn("__hit", lit(1))
      ivf.select(col("vec_id"))
        .join(broadcast(brute), Seq("vec_id"), "left_outer")
        .agg(count(lit(1)).as("n_results"),
          (sum(coalesce(col("__hit"), lit(0))) >= 7).as("recall_ok"))
        .select(lit(0L).as("query_id"), col("n_results"), col("recall_ok"))
    },

    // Rolling-hash document fingerprint (min shingle hash) on the portable
    // md5-derived hash — the oracle recomputes every fingerprint bit-for-bit.
    "q30_rolling_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.rollingFingerprintPortable(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // Gap-based sessionization (30-min gap): two-window lag + running-sum pass,
    // rolled up per user. The §2.6 list notes the reference has nothing that
    // *derives* sessions from event times — this is that operator.
    "q41_sessionize" -> { (s, dir) =>
      val ev = eventsTable(s, dir)
      graft.ext.Sessionize.sessionSummaries(ev,
          user = col("user_id"), tsMicros = unix_micros(col("ts")),
          gapSeconds = 1800L, orderCols = Seq(col("ts"), col("event_id")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("duration_s")).as("max_duration_s"))
    },

    // Range (inequality) join: events binned into value brackets from a
    // broadcast dimension — BroadcastNestedLoopJoin against 4 rows, so the
    // "nested loop" is 4 comparisons per event, fully parallel.
    "q42_range_join" -> { (s, dir) =>
      val brackets = s.createDataFrame(Seq(
        ("small", 0.0, 50.0), ("medium", 50.0, 200.0),
        ("large", 200.0, 400.0), ("huge", 400.0, 1.0e18)))
        .toDF("bracket", "lo", "hi")
      eventsTable(s, dir)
        .join(broadcast(brackets), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("bracket"))
        // Money sums accumulate as exact integer cents (value is on the 2-dp
        // grid, so round(value*100) is exactly integral): a long sum is
        // order-independent, so the result is identical across engines and
        // partition counts at any scale — unlike SUM(double), whose FP error
        // grows with group size and summation order (§7.4).
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / 100.0).as("total_value"))
    },

    // MERGE / upsert (Delta-style WHEN MATCHED/NOT MATCHED) as a full-outer
    // join: updates (every 3rd order, price+10) merged into base (even orders),
    // audited per merge action. The +10 perturbation stays on the 2-dp money
    // grid, keeping the rollup sum oracle-safe.
    "q43_merge_upsert" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val base = o.filter(col("o_orderkey") % 2 === 0)
      val updates = o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0)
      engine.Merge.upsert(base, updates, Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"), col("merge_action"))
        // Exact integer-cents accumulation (see q42): order-independent, so
        // identical across engines/partitionings at any group size.
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("total"))
    },

    // Multimodal plumbing over real binary payloads: text → binary column,
    // byte-length + base64-header stats per source. Column pruning keeps a
    // metadata-only projection from ever materializing payloads at scale
    // (proven for the media schema in MultimodalSpec).
    "q44_multimodal_meta" -> { (s, dir) =>
      val payload = encode(col("text"), "UTF-8")
      t(s, dir, "documents")
        .select(col("source"), payload.as("payload"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("payload"))).cast("long").as("total_bytes"),
          countDistinct(substring(base64(col("payload")), 1, 8)).as("n_headers"))
    },

    // Streaming deduplication: dropDuplicates over a keyed stream, then a
    // streaming aggregation — the streaming counterpart of OP-21, driven to
    // completion with AvailableNow. No watermark: the input is bounded and
    // fully drained, so unbounded dedup state is safe, and it makes the
    // batch-COUNT-DISTINCT oracle equivalence unconditional — with a
    // watermark, input split across micro-batches (maxFilesPerTrigger,
    // several files) could late-drop rows and diverge. On a truly unbounded
    // feed you'd add `.withWatermark("ts", <max disorder>)` and include `ts`'s
    // window in the dedup keys so state evicts; streamSessionSummaries shows
    // that bounded-state discipline.
    "q45_stream_dedup" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
        .dropDuplicates("event_type", "user_id")
      val agg = stream.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique_users"))
      val sinkName = "graft_stream_dedup"
      s.catalog.dropTempView(sinkName)
      withStreamShuffle(s, pathBytes(s"$dir/events.parquet")) {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(sinkName)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sinkName)
    },

    // Exact per-group median without an approximate sketch: row_number against
    // the group count picks the lower median deterministically (id tie-break).
    // percentile_approx is the documented 100 TB variant (sketch, one pass) but
    // its boundary behavior is engine-specific, so the exact form is what the
    // oracle checks.
    "q46_median" -> { (s, dir) =>
      val byPrice = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val byGroup = Window.partitionBy(col("o_orderpriority"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("rn", row_number().over(byPrice))
        .withColumn("n", count(lit(1)).over(byGroup))
        .filter(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("o_orderpriority"), col("o_totalprice").as("median_price"))
    },

    // OP-31's scale variant, made driver-checkable: HLL++ sketches are
    // engine-specific, so the two engines can never agree on the estimate
    // itself — but they CAN agree on the exact count plus a boolean verdict
    // that the estimate landed within its accuracy contract. approx_ok is
    // |approx − exact| ≤ 4·rsd·exact (rsd 0.05; >4σ misses are vanishingly
    // rare for HLL++), the oracle asserts literal TRUE, so an out-of-contract
    // sketch hash-FAILS visibly instead of being unverifiable.
    "q47_approx_distinct" -> { (s, dir) =>
      val rsd = 0.05
      eventsTable(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), rsd).as("__n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("__n_approx") - col("n_exact")) <=
            lit(4 * rsd) * col("n_exact")).as("approx_ok"))
    },

    // Stream-stream interval join — the remaining Structured Streaming join
    // shape: clicks joined to same-user purchases within 30 minutes, both
    // sides buffered in join state, driven to completion with AvailableNow
    // and batch-aggregated into a compact cents-exact summary. No watermark,
    // as in q45: the bounded input drains in one batch, so unbounded join
    // state is safe and the batch-join oracle equivalence is unconditional.
    // On an unbounded feed you'd `.withWatermark` BOTH sides — together with
    // the event-time bound below that lets Spark evict matched-out rows, the
    // canonical stream-stream join recipe.
    "q48_stream_stream_join" -> { (s, dir) =>
      def side(tpe: String, pfx: String) = eventsStream(s, dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pfx}_user"), col("ts").as(s"${pfx}_ts"),
          col("value").as(s"${pfx}_value"))
      val joined = side("click", "c").join(side("purchase", "p"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 30 minutes"))
      val sinkName = "graft_stream_stream_join"
      s.catalog.dropTempView(sinkName)
      withStreamShuffle(s, pathBytes(s"$dir/events.parquet")) {
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName(sinkName)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sinkName).agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("c_user")).as("n_users"),
        (sum(round(col("p_value") * 100).cast("long")) / 100.0).as("total_value"))
    },

    // Corpus TF-IDF: top-3 scoring terms per document (idf over the WHOLE
    // corpus; output restricted to 20 docs to stay compact). Word-count-shaped
    // shuffles; the oracle recomputes scores bit-for-bit at 6 dp.
    "q49_tfidf_topterms" -> { (s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), k = 3)
        .filter(col("doc_id") < 20)
        .orderBy(col("doc_id"), col("rank"))
    },

    // Deterministic stratified sampling: keep iff portable-hash(salt:doc_id)
    // mod 1000 < per-lang rate — a pure row function, so the sample is
    // identical across partitionings, reruns, AND engines (the oracle selects
    // the exact same rows; id_checksum pins membership, not just counts).
    "q50_stratified_sample" -> { (s, dir) =>
      ext.Sampling.stratifiedSample(t(s, dir, "documents"),
          col("doc_id"), col("lang"),
          ext.Sampling.LangRatesPerMille, ext.Sampling.DefaultRatePerMille)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_checksum"))
    },

    // End-to-end corpus preparation — THE training-data composition: quality
    // filter → exact dedup (keep-min-id) → MinHash near-dedup (portable) →
    // deterministic stratified sample, rolled up per lang. Every stage is the
    // already-proven operator; the pipeline is one lazy plan, and the oracle
    // replays all four stages in SQL, so the whole composition (not just its
    // parts) is hash-verified.
    "q51_corpus_prep" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val quality = docs.filter(
        TextAnalysis.qualityScore(col("text"), QualityStopwords) >= 0.5)
      val exact = quality.join(
        Dedup.exactDuplicateGroups(quality).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val near = Dedup.removeNearDuplicatesPortable(exact, threshold = 0.5)
      ext.Sampling.stratifiedSample(near, col("doc_id"), col("lang"),
          ext.Sampling.LangRatesPerMille, ext.Sampling.DefaultRatePerMille)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
    },

    // Exact per-group tail percentiles (p50/p95/p99) by rank index — q46's
    // median generalized: one window pass, conditional aggregation picks the
    // ceil(q·n)-th value under a total order. percentile_approx (t-digest
    // sketch, one scan, bounded memory) is the 100 TB variant; its boundary
    // behavior is engine-specific, so the exact rank form is what the oracle
    // pins.
    "q52_percentiles" -> { (s, dir) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      val wg = Window.partitionBy(col("event_type"))
      def pick(q: Double, name: String) =
        max(when(col("rn") === ceil(col("n") * q).cast("long"), col("value"))).as(name)
      eventsTable(s, dir)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wg))
        .groupBy(col("event_type"))
        .agg(pick(0.5, "p50"), pick(0.95, "p95"), pick(0.99, "p99"))
    },

    // Explicit GROUPING SETS (the general form behind q31's rollup / q40's
    // cube): chosen aggregation levels only, with grouping() disambiguating
    // real NULL keys from subtotal rows. One shuffle; Spark expands the sets
    // into a single Expand + hash aggregate.
    "q53_grouping_sets" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderstatus AS status, o_orderpriority AS priority,
          |       grouping(o_orderstatus) AS g_status,
          |       grouping(o_orderpriority) AS g_priority,
          |       COUNT(*) AS n_orders
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), (o_orderpriority))""".stripMargin)
    },

    // INTERSECT / EXCEPT set semantics (distinct-set ops, not joins): nations
    // having customers both with urgent and with low-priority orders, vs only
    // urgent. Spark plans these as aggregated semi/anti joins.
    "q54_set_ops" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, dir, "orders")
      def nationsWith(priority: String) =
        c.join(o.filter(col("o_orderpriority") === priority),
            col("c_custkey") === col("o_custkey"))
          .select(col("c_nationkey")).distinct()
      val both = nationsWith("1-URGENT").intersect(nationsWith("5-LOW"))
        .withColumn("kind", lit("both"))
      val urgentOnly = nationsWith("1-URGENT").except(nationsWith("5-LOW"))
        .withColumn("kind", lit("urgent_only"))
      both.unionByName(urgentOnly)
    },

    // Bloom-filtered semi join: lineitem probed against a sketch of the
    // selective order-key set before the exact semi join. False positives are
    // removed by the exact join, so the oracle is the plain IN-subquery; the
    // bloom probe's contribution is plan shape (scan-stage filter before the
    // exchange), asserted in PlanSpec. Money sums in exact integer cents.
    "q55_bloom_semi_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val sel = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
        .select(col("o_orderkey").as("l_orderkey"))
      graft.engine.Joins.bloomSemiJoin(li, sel, "l_orderkey", expectedItems = 1 << 16)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
    },

    // Z-order (Morton-curve) clustering: lineitem rewritten clustered on
    // (l_orderkey, l_partkey), then a two-dimensional box predicate over the
    // rewritten copy. The oracle runs the same box aggregate on the original
    // table — the curve must only reorder rows, never change content. The
    // data-skipping property itself (per-file span bounded on BOTH dims) is
    // asserted quantitatively in EngineExtraSpec.
    "q56_zorder_layout" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      graft.engine.Scratch.withTempDir("graft-zorder-") { tmp =>
        graft.engine.Layout.zorderBy(li, "l_orderkey", "l_partkey", 8)
          .write.mode("overwrite").parquet(s"$tmp/t")
        // Materialize the box aggregate eagerly so the rewritten copy can be
        // deleted before returning — Bench/Verify run this repeatedly, and
        // leaking a full lineitem copy to /tmp per run fills the disk.
        val r = s.read.parquet(s"$tmp/t")
          .filter(col("l_orderkey") <= 2000 && col("l_partkey") <= 400)
          .agg(
            count(lit(1)).as("n_rows"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
          .collect().head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1))).toDF("n_rows", "price_cents")
      }
    },

    // Sketch percentile with an in-tolerance contract (q47's pattern): the
    // scale path for q52's exact rank-index percentiles. percentile_approx
    // (KLL-style mergeable sketch, O(accuracy) state per group vs q52's full
    // sort) guarantees rank error ≤ 1/accuracy = 0.001; the verdict brackets
    // its p95 between the EXACT 0.94/0.96 percentiles — a 10× margin. The
    // exact percentile values themselves are hash-verified against DuckDB in
    // q52, so the bracket endpoints are independently trusted.
    "q57_approx_percentile" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(o_totalprice, 0.94)").as("__lo"),
          expr("percentile(o_totalprice, 0.96)").as("__hi"),
          percentile_approx(col("o_totalprice"), lit(0.95), lit(1000)).as("__p95"))
        .select(col("o_orderpriority"), col("n"),
          (col("__p95") >= col("__lo") && col("__p95") <= col("__hi")).as("approx_ok"))
    },

    // SCD type-2 dimension merge: customers become a versioned dimension;
    // an update batch (every 3rd key, with every 6th key actually changing
    // segment) closes superseded versions and inserts new current ones.
    // Exercises all three paths — changed (close+insert), identical update
    // (no-op), untouched key (keep). Literal second-precision timestamps keep
    // both engines hash-comparable; the oracle replays kept/closed/inserted
    // as three SQL branches.
    "q58_scd2_dimension" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val dim = cust.select(
        col("c_custkey"), col("c_mktsegment"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current"))
      val updates = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 6 === 0, lit("SEG_NEW"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"),
          lit("2024-06-01 00:00:00").cast("timestamp").as("eff_ts"))
      graft.engine.Merge.scd2Apply(dim, updates, "c_custkey", Seq("c_mktsegment"), "eff_ts")
    },

    // RANGE-frame moving window over the daily revenue series: 7-day sliding
    // sum/count (value-based frame, so calendar gaps shrink the window —
    // different from a ROWS frame), plus lag() day-over-day delta and
    // ntile(4). All on exact integer cents. The global (partition-less)
    // window is safe at any source scale because it runs over the *daily
    // aggregate* — one row per calendar day — not the fact table; a per-key
    // timeline at scale would add partitionBy.
    "q59_range_window" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
        .withColumn("d_days", datediff(col("d"), lit("1970-01-01").cast("date")))
      val range7 = Window.orderBy(col("d_days")).rangeBetween(-6, 0)
      val byDay = Window.orderBy(col("d"))
      daily.select(col("d"), col("rev_cents"),
          sum("rev_cents").over(range7).as("sum7_cents"),
          count(lit(1)).over(range7).as("n7"),
          (col("rev_cents") - lag("rev_cents", 1, 0).over(byDay)).as("delta_cents"),
          ntile(4).over(byDay).as("quartile"))
    },

    // Single-pass pipeline accounting via Dataset.observe: the data-quality
    // counters (row/invalid counts, revenue control total) ride the SAME job
    // that computes the downstream result — no second scan of the fact table.
    // At 100 TB this is the difference between metrics-for-free and doubling
    // the pipeline's IO; it also closes the reference's gap of logging row
    // counts by re-counting frames. A deterministic defect (every 50th part
    // key loses its customer_id) exercises the invalid path; the oracle
    // recomputes all four counters from the raw table.
    "q60_observed_metrics" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val fullRow = graft.functions.HashFunctions.md5Hex(
        concat_ws("|", li.columns.map(col): _*))
      val mapped = li.select(
        fullRow.as("sale_id"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("timestamp"),
        when(col("l_partkey") % 50 === 0, lit(null))
          .otherwise(col("l_orderkey").cast("string")).as("customer_id"),
        col("l_partkey").cast("string").as("product_id"),
        col("l_quantity").as("quantity"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("total_amount"),
        col("l_returnflag").as("category"))
      val obs = org.apache.spark.sql.Observation()
      val cleaned = Silver.cleanSales(mapped, processedAt = lit("fixed"))
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(when(col("is_valid"), 0L).otherwise(1L)).as("n_invalid"),
          sum(round(col("total_amount") * 100).cast("long")).as("revenue_cents"))
      // The action a real pipeline would run anyway (the gold-side count);
      // the metrics are harvested from its execution, not a second scan.
      val nValid = cleaned.filter(col("is_valid")).count()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("n_invalid").asInstanceOf[Long],
        m("revenue_cents").asInstanceOf[Long], nValid))
        .toDF("n_rows", "n_invalid", "revenue_cents", "n_valid")
    },

    // Benchmark-contamination report: every 100th original document plays the
    // benchmark; the planted perturbed copies of those documents are the
    // guaranteed leaks the check must find (≥5 shared 3-shingles). Portable
    // hash family → the whole report (shingles, hashes, overlap counts)
    // replays in DuckDB.
    "q61_contamination" -> { (s, dir) =>
      val corpus = docsWithPlantedNearDups(s, dir)
      val isBench = col("doc_id") % 100 === 0 && col("doc_id") < 100000
      Dedup.contaminationReport(
        corpus.filter(!isBench), corpus.filter(isBench), minOverlap = 5)
    },

    // PII scrub: deterministic injected emails/phones (every 7th / 11th doc),
    // redacted by the portable regex chain; per-language counts plus an
    // order-independent xor checksum of hash60(doc_id:redacted_text) proving
    // the redacted CONTENT (not just the counts) matches the oracle's replay
    // of the same scrub. bit_xor instead of sum keeps the checksum overflow-
    // free under ANSI at any corpus size.
    "q62_pii_redaction" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val withPii = docs.withColumn("text2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-123-4567")).otherwise(lit(""))))
      withPii
        .withColumn("redacted", TextAnalysis.redactPii(col("text2")))
        .withColumn("h", graft.ext.PortableHash.hash60(
          concat(col("doc_id").cast("string"), lit(":"), col("redacted"))))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("text2").rlike(TextAnalysis.EmailRe), 1L).otherwise(0L)).as("n_email"),
          sum(when(col("text2").rlike(TextAnalysis.PhoneRe), 1L).otherwise(0L)).as("n_phone"),
          expr("bit_xor(h)").as("checksum"))
    },

    // Domain balancing: cap documents per source at 30, selected by
    // deterministic hash priority (portable family), then summarize per
    // source with an id checksum proving the SAME rows were kept in both
    // engines — not just the same counts.
    "q63_domain_cap" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      graft.ext.Sampling.capPerGroup(docs, col("source"), col("doc_id"), cap = 30)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
    },

    // Distributed as-of join (large × large): every order picks up the
    // latest per-customer rate effective on or before its order date, via the
    // union-and-carry window — one key shuffle, no broadcast limit; the scale
    // path past q38's collected-series StepLookup. Two deterministic rate
    // epochs per customer; 1992-93 orders predate both → unmatched (nulls),
    // exercising the left-join edge. Oracle = DuckDB's native ASOF LEFT JOIN.
    "q64_asof_distributed" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val rates = cust.select(col("c_custkey").as("k"),
          lit("1994-01-01").cast("date").as("rd"),
          (col("c_custkey") % 500).as("rate_cents"))
        .unionByName(cust.select(col("c_custkey").as("k"),
          lit("1996-06-15").cast("date").as("rd"),
          ((col("c_custkey") * 7) % 500).as("rate_cents")))
      val orders = t(s, dir, "orders").select(col("o_custkey").as("k"),
        col("o_orderdate").cast("date").as("rd"), col("o_orderpriority"))
      graft.engine.Joins.asofJoin(orders, rates, "k", "rd", Seq("rate_cents"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          count(col("rate_cents")).as("n_matched"),
          sum(col("rate_cents")).as("rate_sum"))
    },

    // Near-dup pairs → dedup GROUPS via connected components (hash-min label
    // propagation): the transitive closure q39's pairwise keep-lowest-id
    // approximates — A~B and B~C must group A,C even if (A,C) fell below
    // threshold. Oracle replays the same closure as a recursive CTE over the
    // portable-family pairs.
    "q65_dedup_components" -> { (s, dir) =>
      val pairs = Dedup.minhashNearDuplicatesPortable(
          docsWithPlantedNearDups(s, dir), threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      graft.ext.Graph.connectedComponents(pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("n_members"))
    },

    // Large×large point-in-interval join, bucketized to an equi-join: events
    // against 120 synthetic 90-minute maintenance windows (one every 6h over
    // the events month), bucket width 2h ⇒ ≤2 buckets per interval, exactly
    // 1 per event. All arithmetic in epoch µs (matches DuckDB's NANOS→µs
    // truncation); inclusive bounds on both engines.
    "q66_interval_join" -> { (s, dir) =>
      val sixH = 21600000000L; val ninetyMin = 5400000000L; val twoH = 7200000000L
      val t0 = 1704067200000000L // epoch µs of 2024-01-01 00:00:00 UTC
      val wins = s.range(0, 120).select(
        col("id").as("win_id"),
        (lit(t0) + col("id") * sixH).as("start_us"),
        (lit(t0) + col("id") * sixH + ninetyMin).as("end_us"))
      val ev = eventsTable(s, dir)
        .select(unix_micros(col("ts")).as("us"), col("value"))
      graft.engine.Joins.bucketedIntervalJoin(ev, "us", wins, "start_us", "end_us", twoH)
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
    },

    // JSON scalar extraction over the events props column, with a deliberate
    // malformed-document path (every 13th event): extraction is null-safe on
    // bad JSON in both engines, and the per-type stats hash-match. The typed
    // from_json path (schema'd struct) is equivalence-tested in ExtSpec; the
    // query uses get_json_object, whose null-on-malformed semantics DuckDB's
    // json_valid guard mirrors exactly.
    "q67_json_extract" -> { (s, dir) =>
      val ev = eventsTable(s, dir)
      ev.withColumn("p2",
          when(col("event_id") % 13 === 0, lit("{broken")).otherwise(col("props")))
        .withColumn("k", get_json_object(col("p2"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"))
    },

    // File-level data skipping (engine.Skipping): z-order-cluster a lineitem
    // copy, record per-file min/max stats, then answer a range scan opening
    // only files the stats can't rule out. The pruned read must equal the
    // plain filtered scan — that equivalence is the oracle; the fact that
    // files actually get skipped is SkippingSpec's assertion. Like q56, the
    // rewritten copy is aggregated eagerly and deleted before returning.
    "q68_stats_pruned_scan" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      graft.engine.Scratch.withTempDir("graft-skip-") { tmp =>
        graft.engine.Layout.zorderBy(li, "l_orderkey", "l_partkey", 8)
          .write.mode("overwrite").parquet(s"$tmp/t")
        graft.engine.Skipping.writeStats(s, s"$tmp/t", Seq("l_orderkey", "l_partkey"))
        // coalesce: SUM over zero matching rows is null on both engines; pin
        // it to 0 here AND in the oracle so a smaller fixture can't NPE this.
        val r = graft.engine.Skipping.readRange(s, s"$tmp/t", "l_orderkey", 1000L, 3000L)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(round(col("l_extendedprice") * 100).cast("long")), lit(0L))
              .as("price_cents"))
          .collect().head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1))).toDF("n_rows", "price_cents")
      }
    },

    // Sequence packing (ext.Packing): route documents to hash buckets, pack
    // each bucket's id-ordered stream into 256-token bins by running total,
    // report per-bucket fill. One shuffle on the bucket key; the oracle
    // replays the identical window arithmetic.
    "q69_sequence_packing" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val packed = graft.ext.Packing.packByBudget(docs, col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(col("text")), budget = 256, buckets = 8)
      graft.ext.Packing.binFill(packed)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_bins"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("bin_tokens")).as("total_tokens"),
          max(col("bin_tokens")).as("max_bin_tokens"))
    },

    // Incremental corpus dedup: a NEW batch (perturbed near-dup copies of
    // every 10th doc, exact copies of every 7th≡3 doc) deduped AGAINST the
    // existing corpus via the cross-set band join — candidates ∝ batch, the
    // growing-corpus shape. Output: per batch doc, how many corpus docs it
    // near-duplicates and the best Jaccard.
    "q70_cross_corpus_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      Dedup.crossCorpusNearDuplicatesPortable(docs, batch, threshold = 0.5)
        .groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("best_jaccard"))
    },

    // Gopher-style repetition signals: duplicate-word mass and top-word
    // dominance per document, thresholded in EXACT integer arithmetic
    // (dup fraction > 1/5 ⟺ (n_words − n_distinct)·5 > n_words) so the
    // flagged sets match across engines bit-for-bit.
    "q71_repetition_quality" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      graft.ext.TextAnalysis.repetitionStats(docs)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when((col("n_words") - col("n_distinct_words")) * 5 > col("n_words"), 1L)
            .otherwise(0L)).as("n_repetitive"),
          sum(when(col("top_word_count") * 10 > col("n_words"), 1L)
            .otherwise(0L)).as("n_top_heavy"),
          sum(col("top_word_count")).as("top_count_sum"))
    },

    // Balanced (temperature-flattened) sampling: ~50 docs per language in
    // expectation, whatever each language's raw share — the α→0 temperature
    // limit with an integer-exact keep rule. The id checksum proves the SAME
    // rows were kept in both engines.
    "q72_balanced_sample" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.ext.Sampling.balancedSample(docs, col("lang"), col("doc_id"), target = 50)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
    },

    // Data profiling (engine.Profile): null/distinct/min/max per column in
    // ONE pass (multi-count-distinct via Expand, then stack to long format).
    // Only exactly-mirrorable column types go through the oracle; date/float
    // profiling rides ProfileSpec.
    "q73_profile_table" -> { (s, dir) =>
      graft.engine.Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    },

    // Bloom point lookup (engine.Skipping.writeBloomIndex/readPoint): the
    // needle query — files clustered by ship date, probed by a high-
    // cardinality UNCLUSTERED key that min/max stats cannot prune. Bloom
    // pruning assertions live in SkippingSpec; the oracle is result
    // equivalence with the plain filtered scan (coalesce-0 keeps the probe
    // key's absence at larger SFs well-defined).
    "q74_bloom_point_lookup" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("uniq_key"),
        col("l_shipdate"), col("l_extendedprice"))
      graft.engine.Scratch.withTempDir("graft-bloom-") { tmp =>
        li.repartitionByRange(8, col("l_shipdate"))
          .write.mode("overwrite").parquet(s"$tmp/t")
        graft.engine.Skipping.writeBloomIndex(s, s"$tmp/t", "uniq_key",
          expectedItemsPerFile = 100000)
        val r = graft.engine.Skipping.readPoint(s, s"$tmp/t", "uniq_key", 1001L)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(round(col("l_extendedprice") * 100).cast("long")), lit(0L))
              .as("price_cents"))
          .collect().head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1))).toDF("n_rows", "price_cents")
      }
    },

    // Snapshot CDC (engine.Cdc.snapshotDiff): row-level insert/delete/update
    // delta between two published versions of the orders table — one
    // full-outer key join, output ∝ churn. The two "versions" are derived
    // deterministically from orders (v_old drops keys ≡0 mod 5; v_new drops
    // ≡0 mod 7 and bumps every ≡0-mod-3 price by 10).
    "q75_snapshot_cdc" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val vOld = orders.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus").as("status"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val vNew = orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus").as("status"),
          round(when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10)
            .otherwise(col("o_totalprice")) * 100).cast("long").as("price_cents"))
      graft.engine.Cdc.snapshotDiff(vOld, vNew, Seq("o_orderkey"))
    },

    // Sub-document boilerplate dedup (Dedup.dropBoilerplateChunks): an
    // 8-word "terms of service" header is planted on every 4th document;
    // chunks appearing in > 10 distinct docs are dropped corpus-wide and
    // each document is re-assembled in original chunk order. Whole-document
    // dedup can't see this — the documents differ pairwise.
    "q76_chunk_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("terms of service apply to this page always "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.dropBoilerplateChunks(docs, width = 8, maxDocFreq = 10)
    },

    // Bigram language-model scoring (TextAnalysis.bigramModelScore): build a
    // bigram frequency table from the even-id half of the corpus, score each
    // odd-id document's bigrams against it — the distributed, integer-exact
    // stand-in for KenLM perplexity filtering.
    "q77_bigram_lm_score" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      TextAnalysis.bigramModelScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    },

    // Product-quantization ANN (ext.PQ): 64-dim floats → 4 byte-codes, ADC
    // lookup-table scan, exact re-rank of the top-50 candidates. Like q36
    // (IVF) the oracle pins the accuracy CONTRACT — 10 results, recall@10
    // ≥ 0.7 vs exact brute force — so a quantization regression hash-fails.
    "q78_pq_ann" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      // rerank=200: the ADC candidate pool before exact re-rank. At sf0.1
      // (5000 vecs) 50 was too tight for the ≥0.7 recall contract — 4-byte
      // codes blur within-cluster ranking; 200 (4% of the corpus) restores
      // recall 1.0 at every SF while keeping the exact pass candidate-bound.
      val books = ext.PQ.train(emb, m = 4, k = 16, iters = 2)
      val pq = ext.PQ.search(emb, books, queryId = 1, k = 10, rerank = 200)
      val brute = Similarity.cosineTopK(emb, queryId = 1, k = 10)
        .select(col("vec_id")).withColumn("__hit", lit(1))
      pq.select(col("vec_id"))
        .join(broadcast(brute), Seq("vec_id"), "left_outer")
        .agg(count(lit(1)).as("n_results"),
          (sum(coalesce(col("__hit"), lit(0))) >= 7).as("recall_ok"))
        .select(lit(1L).as("query_id"), col("n_results"), col("recall_ok"))
    },

    // Declarative expectations (engine.Expectations): four named rules over
    // events evaluated in ONE scan + aggregate — the DLT/Great-Expectations
    // shape. pass_rate is float-typed so it rides ExpectationsSpec; the
    // oracle checks the integer counts.
    "q79_expectations" -> { (s, dir) =>
      import graft.engine.Expectations.Rule
      val ev = eventsTable(s, dir)
      graft.engine.Expectations.report(ev, Seq(
          Rule("value_non_negative", col("value") >= 0.0),
          Rule("value_under_400", col("value") <= 400.0),
          Rule("known_event_type",
            col("event_type").isin("click", "view", "purchase", "signup")),
          Rule("first_half_of_month",
            col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))))
        .select(col("rule"), col("rows_checked"), col("violations"))
    },

    // Deterministic global shuffle + sharding (Sampling.shardForExport):
    // every document gets a pure-function shard id and sort key; per-shard
    // counts, bit_xor checksum (overflow-free) and key range prove both
    // engines dealt the identical permutation.
    "q80_shard_export" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.ext.Sampling.shardForExport(docs, col("doc_id"), numShards = 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          bit_xor(col("sort_key")).as("key_checksum"),
          min(col("sort_key")).as("min_key"),
          max(col("sort_key")).as("max_key"))
    },

    // Versioned-store time travel: three snapshot versions are committed
    // (base, segment relabel, balance bump) via Merge.upsert into the same
    // v=<n> layout streamingUpsert writes; the query then reads AS OF
    // version 1 — while v=2 is the latest — through
    // Incremental.latestUpsertStateBefore. The oracle replays base+update1
    // directly, so the time-traveled read must equal the version-1 state.
    "q81_time_travel" -> { (s, dir) =>
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.engine.Scratch.withTempDir("graft-tt-") { tmp =>
        val state = s"$tmp/state"
        graft.engine.Incremental.commitVersion(cust, state, 0L)
        val u1 = cust.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_mktsegment", lit("SEG_V1"))
        val v0 = graft.engine.Incremental.latestUpsertStateBefore(s, state, 1L).get
        graft.engine.Incremental.commitVersion(
          graft.engine.Merge.upsert(v0, u1, Seq("c_custkey")).drop("merge_action"),
          state, 1L)
        val u2 = cust.filter(col("c_custkey") % 5 === 0)
          .withColumn("bal_cents", col("bal_cents") + 777L)
        val v1 = graft.engine.Incremental.latestUpsertStateBefore(s, state, 2L).get
        graft.engine.Incremental.commitVersion(
          graft.engine.Merge.upsert(v1, u2, Seq("c_custkey")).drop("merge_action"),
          state, 2L)
        // Aggregate eagerly: the temp state dir is deleted on exit, so the
        // result must not be a lazy plan over it (q56/q68/q74 discipline).
        val rows = graft.engine.Incremental.latestUpsertStateBefore(s, state, 2L).get
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(col("bal_cents")).as("bal_sum_cents"))
          .collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        import s.implicits._
        rows.toDF("c_mktsegment", "n", "bal_sum_cents")
      }
    },

    // Weighted corpus mixing (ext.Sampling.mixtureUpsample): src0 at 2.5
    // epochs, src1 at 0.25, src2 dropped, everything else at 0.75. The
    // checksum weights each copy by (epoch+1) so a wrong copy-count or a
    // wrong epoch numbering is caught, not just a wrong row-count.
    "q82_mixture_sample" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      graft.ext.Sampling.mixtureUpsample(docs, col("source"), col("doc_id"),
          Map("src0" -> 2500000L, "src1" -> 250000L, "src2" -> 0L),
          defaultPerMillion = 750000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("epoch")).as("epoch_sum"),
          sum(col("doc_id") * (col("epoch") + 1L)).as("id_checksum"))
    },

    // Semantic dedup (ext.Similarity.semanticDedup) over embeddings ∪ planted
    // +0.01-shifted copies: LSH buckets from the q29 seeded planes, cosine
    // ≥ 0.9 within buckets, keep-lowest-id. The oracle replays the identical
    // plane literals, so survivors must match exactly.
    "q83_semantic_dedup" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val base = emb.unionByName(emb.select(
        (col("vec_id") + 100000).as("vec_id"), col("label"),
        transform(col("embedding"), x => x + 0.01).as("embedding")))
      graft.ext.Similarity.semanticDedup(base, threshold = 0.9, bits = 12)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("id_checksum"))
    },

    // Melt (engine.Gold.meltWide — native unpivot/Expand, §2.6): pivot orders
    // revenue wide by status via conditional aggregation, then unpivot back
    // to long (o_orderpriority, o_orderstatus, price_cents) rows.
    "q84_unpivot" -> { (s, dir) =>
      val wide = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_orderstatus") === "F",
            round(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("status_F"),
          sum(when(col("o_orderstatus") === "O",
            round(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("status_O"),
          sum(when(col("o_orderstatus") === "P",
            round(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("status_P"))
      graft.engine.Gold.meltWide(wide, Seq("o_orderpriority"),
        Seq("status_F", "status_O", "status_P"), "o_orderstatus", "price_cents")
    },

    // Corpus trigram vocabulary (ext.TextAnalysis.topNgrams): top 50 word
    // trigrams by frequency, count-desc / ngram-asc tie-break —
    // TakeOrderedAndProject, no global sort.
    "q85_top_ngrams" -> { (s, dir) =>
      graft.ext.TextAnalysis.topNgrams(
        t(s, dir, "documents"), col("text"), n = 3, k = 50)
    },

    // Winsorized robust stats (engine.Profile.winsorizedSums): clamp order
    // totals into each priority's exact [P1, P99] rank band (integer-ceiling
    // indices — no float interpolation) and sum the clamped cents.
    "q86_winsorized_stats" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      graft.engine.Profile.winsorizedSums(o, "o_orderpriority", "cents",
        "o_orderkey", pLowPct = 1, pHighPct = 99)
    },

    // Incremental aggregate maintenance (engine.Cdc.applyDeltaToSums): a
    // deterministic churn (delete %13, bump cents on %7, MOVE %11 to a new
    // group, insert clones of %17) is diffed with snapshotDiff, and the
    // delta is applied to the pre-churn gold. The oracle RECOMPUTES the
    // post-churn gold from scratch — so the maintained aggregate must equal
    // the full recompute, including cross-group moves and the new group.
    "q87_cdc_agg_maintenance" -> { (s, dir) =>
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val newDf = base.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("cents",
          when(col("o_orderkey") % 7 === 0, col("cents") + 555L).otherwise(col("cents")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit("9-MOVED")).otherwise(col("o_orderpriority")))
        .unionByName(base.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderpriority"), (col("cents") + 1L).as("cents")))
      val gold = base.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      val changes = graft.engine.Cdc.snapshotDiff(base, newDf, Seq("o_orderkey"))
      graft.engine.Cdc.applyDeltaToSums(changes = changes, goldAgg = gold,
        groupCol = "o_orderpriority", valueCol = "cents",
        nCol = "n", sumCol = "sum_cents")
    },

    // Equi-width histogram (engine.Profile.histogram): 16 integer-edged bins
    // over lineitem price cents; bin arithmetic is pure integer DIV so both
    // engines draw identical edges.
    "q88_histogram" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.engine.Profile.histogram(li, "cents", nBuckets = 16)
    },

    // Ordered conversion funnel (ext.Sessionize.funnelCounts): users whose
    // first view is after their first click, and first purchase after that
    // first ordered view — sequential-min semantics, one row per stage even
    // when empty.
    "q89_event_funnel" -> { (s, dir) =>
      val ev = eventsTable(s, dir)
      graft.ext.Sessionize.funnelCounts(ev, user = col("user_id"),
        tsMicros = unix_micros(col("ts")), stageCol = col("event_type"),
        stages = Seq("click", "view", "purchase"))
    },

    // Quantile binning (engine.Profile.rankBins): per-language length deciles
    // over documents; NTILE over the (n_chars, doc_id) total order is exact
    // and engine-portable.
    "q90_decile_bins" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      graft.engine.Profile.rankBins(docs, "lang", "n_chars", "doc_id", nBins = 10)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("doc_id")).as("id_checksum"))
    },

    // Embedding int8 quantization (functions.Int8Quantize — codegen): the
    // storage-compression pass before ANN indexing. The checksum aggregates
    // per-vector code sums/extremes, so one wrong code anywhere flips the
    // result; the oracle replays the identical x*127/max|x| IEEE arithmetic.
    "q91_int8_quantize" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      emb.select(col("label"),
          graft.functions.VectorFunctions.int8Quantize(col("v")).as("codes"))
        .select(col("label"),
          expr("aggregate(codes, 0L, (acc, x) -> acc + x)").as("code_sum"),
          array_min(col("codes")).cast("long").as("code_min"),
          array_max(col("codes")).cast("long").as("code_max"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("code_sum")).as("sum_codes"),
          min(col("code_min")).as("min_code"),
          max(col("code_max")).as("max_code"))
    },

    // One-pass correlation/regression sufficient stats
    // (engine.Profile.sufficientStats): (n, Σx, Σy, Σx², Σy², Σxy) per
    // return flag over (quantity, whole-dollar price) — Pearson r and OLS
    // derive downstream; the stored stats stay integer-exact.
    "q92_sufficient_stats" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      graft.engine.Profile.sufficientStats(li, "l_returnflag", "x", "y")
    },

    // Schema-evolving MERGE (engine.Merge.upsertEvolving): an update batch
    // arrives with a NEW loyalty_tier column plus inserts; pre-existing rows
    // take NULL for the new column, matched rows take the updated balance.
    // The oracle replays the same full-outer coalesce semantics.
    "q93_schema_evolution" -> { (s, dir) =>
      val base = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val upd = base.filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("bal_cents") + 1000L).as("bal_cents"),
          (col("c_custkey") % 5).as("loyalty_tier"))
        .unionByName(base.filter(col("c_custkey") % 9 === 0)
          .select((col("c_custkey") + 9000000L).as("c_custkey"),
            col("c_mktsegment"), col("bal_cents"),
            (col("c_custkey") % 5).as("loyalty_tier")))
      graft.engine.Merge.upsertEvolving(base, upd, Seq("c_custkey"))
        .groupBy(col("loyalty_tier"))
        .agg(count(lit(1)).as("n"),
          sum(col("bal_cents")).as("bal_sum_cents"),
          sum(when(col("merge_action") === "insert", 1L).otherwise(0L)).as("n_inserted"))
    },

    // Triangle stats (ext.Graph.triangleStats) over the q24 near-dup pair
    // graph: clique-density diagnostic separating real dup clusters from
    // borderline-match chains. The oracle replays the same canonical-edge
    // joins over the portable MinHash pairs. Runs WITH the hub-degree cap
    // engaged (the 100 TB posture — one boilerplate hub otherwise
    // quadratizes the wedge join); the cap is far above this graph's max
    // degree, so the counts equal the uncapped oracle while the degree
    // pass + anti-join path is hash-exercised. CorpusOpsSpec's star-graph
    // case proves the cap actually bounds wedges when exceeded.
    "q94_triangle_stats" -> { (s, dir) =>
      val pairs = graft.ext.Dedup.minhashNearDuplicatesPortable(
        docsWithPlantedNearDups(s, dir), threshold = 0.4)
      graft.ext.Graph.triangleStats(pairs, maxDegree = Some(1000000L))
    },

    // Null-aware anti join — ANSI `NOT IN (subquery)` three-valued logic,
    // which Spark plans as a NULL-aware anti join (a DIFFERENT operator from
    // q19's left_anti/NOT EXISTS): one NULL in the subquery makes `x NOT IN`
    // never-true, so the poisoned count collapses to 0 while the clean count
    // does not. Both engines implement the same standard, so the pair of
    // counts is the oracle.
    "q95_null_aware_anti" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT
          (SELECT COUNT(*) FROM orders_v WHERE o_custkey NOT IN
             (SELECT c_custkey FROM customer_v WHERE c_mktsegment = 'MACHINERY'))
            AS n_not_in,
          (SELECT COUNT(*) FROM orders_v WHERE o_custkey NOT IN
             (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END
              FROM customer_v WHERE c_mktsegment = 'MACHINERY'))
            AS n_null_poisoned""")
    },

    // Ordered string aggregation: per priority, the 5 smallest order keys as
    // a comma-joined string. collect_list is unordered by contract, so the
    // deterministic form is array_sort BEFORE join — mirroring DuckDB's
    // string_agg(... ORDER BY ...). Top-5 via per-group row_number keeps the
    // window shuffle the only exchange.
    "q96_ordered_string_agg" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 5)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          array_join(transform(array_sort(collect_list(col("o_orderkey"))),
            x => x.cast("string")), ",").as("keys_csv"))
    },

    // Time-to-convert distribution (ext.Sessionize.conversionLags): exact
    // rank-index min/median/p90/max of click→view lag over CONVERTERS, via
    // ext.Rank.valueAtRanks — distributed rank selection (range partition +
    // per-partition offsets), NOT a global `Window.orderBy`: converters grow
    // with users, so the former one-partition rank sort was the suite's last
    // single-reducer plan. min/max are just ranks 1 and n, so the whole
    // result is one selection pass; the oracle's rank arithmetic is
    // unchanged. PlanSpec asserts the selection plan stays partition-local.
    "q97_conversion_lag" -> { (s, dir) =>
      val lags = graft.ext.Sessionize.conversionLags(eventsTable(s, dir),
        user = col("user_id"), tsMicros = unix_micros(col("ts")),
        stageCol = col("event_type"), fromStage = "click", toStage = "view")
      graft.ext.Rank.valueAtRanks(lags, Seq("lag_us", "user_id"), "lag_us",
        n => Seq(
          "min_lag_us" -> 1L,
          "max_lag_us" -> n,
          "median_lag_us" -> ((n + 1L) / 2L),
          "p90_lag_us" -> ((9L * n + 9L) / 10L)),
        countName = "n_users")
    },

    // Cumulative distinct customers by month — the window-count-distinct
    // workaround (windows can't COUNT DISTINCT): mark each customer's FIRST
    // month via a min-aggregate, count news per month, running-sum over the
    // |months|-sized series. The heavy pass is the per-customer min (one key
    // shuffle); the global window runs over ~dozens of month rows.
    "q98_cumulative_distinct" -> { (s, dir) =>
      val first = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_date"))
      val monthly = first
        .groupBy(date_format(col("first_date"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_new"))
      monthly.withColumn("cum_customers",
        sum(col("n_new")).over(Window.orderBy(col("month"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },

    // Month-over-month revenue delta via lag(): the period-over-period
    // reporting staple. First month's prev is NULL on both engines.
    "q99_mom_delta" -> { (s, dir) =>
      val monthly = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      monthly
        .withColumn("prev_rev_cents",
          lag(col("rev_cents"), 1).over(Window.orderBy(col("month"))))
        .withColumn("delta_cents", col("rev_cents") - col("prev_rev_cents"))
    },

    // Export-side composition capstone: deterministic stratified sample →
    // token-budget sequence packing → per-bucket export report, one lazy
    // plan (q50 + q69 machinery chained; the oracle replays both stages, so
    // the COMPOSITION is hash-verified like q51 is for the filter side).
    "q100_export_prep" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val sampled = ext.Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
        ext.Sampling.LangRatesPerMille, ext.Sampling.DefaultRatePerMille)
      graft.ext.Packing.packByBudget(sampled, col("doc_id"),
          TextAnalysis.tokenCount(col("text")), budget = 256, buckets = 8)
        .groupBy(col("bucket"))
        .agg(countDistinct(col("bin")).as("n_bins"),
          count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("total_tokens"),
          sum(col("doc_id")).as("id_checksum"))
    },

    // Three-dimensional z-order (engine.Layout.zorderByN): cluster lineitem
    // on (orderkey, partkey, suppkey), collect per-file stats on all three,
    // then range-read the THIRD dimension — the column a 2-dim layout gives
    // zero pruning for. The oracle is a plain filtered scan; q56/q68
    // temp-dir and coalesce discipline.
    "q101_zorder3_scan" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"))
      graft.engine.Scratch.withTempDir("graft-z3-") { tmp =>
        graft.engine.Layout.zorderByN(li,
            Seq("l_orderkey", "l_partkey", "l_suppkey"), numFiles = 8)
          .write.mode("overwrite").parquet(s"$tmp/t")
        graft.engine.Skipping.writeStats(s, s"$tmp/t",
          Seq("l_orderkey", "l_partkey", "l_suppkey"))
        val r = graft.engine.Skipping.readRange(s, s"$tmp/t", "l_suppkey", 10L, 40L)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(round(col("l_extendedprice") * 100).cast("long")), lit(0L))
              .as("price_cents"))
          .collect().head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1))).toDF("n_rows", "price_cents")
      }
    },

    // Streaming incremental view maintenance, oracle-proven (upgrades the
    // CorpusOpsSpec proof): two CDC changesets (q87's churn, then a second
    // wave) stream through Incremental.streamingAggMaintenance as separate
    // micro-batches against a v=-1 seeded gold; the oracle RECOMPUTES the
    // final snapshot from scratch, so the twice-maintained gold must equal
    // it exactly. Eager collect before the temp dir dies (q81 discipline).
    "q102_streaming_ivm" -> { (s, dir) =>
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val snap1 = base.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("cents",
          when(col("o_orderkey") % 7 === 0, col("cents") + 555L).otherwise(col("cents")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit("9-MOVED")).otherwise(col("o_orderpriority")))
        .unionByName(base.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderpriority"), (col("cents") + 1L).as("cents")))
      val snap2 = snap1.filter(col("o_orderkey") % 19 =!= 0)
        .withColumn("cents",
          when(col("o_orderkey") % 23 === 0, col("cents") + 333L).otherwise(col("cents")))
      graft.engine.Scratch.withTempDir("graft-sivm-") { tmp =>
        val in = s"$tmp/in"; val gold = s"$tmp/gold"; val ckpt = s"$tmp/ckpt"
        graft.engine.Incremental.commitVersion(
          base.groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents")),
          gold, -1L)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("old_o_orderpriority",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("old_cents",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("new_o_orderpriority",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("new_cents",
            org.apache.spark.sql.types.LongType)))
        def drain(): Unit = graft.engine.Incremental.streamingAggMaintenance(s,
          s.readStream.schema(schema).parquet(in),
          groupCol = "o_orderpriority", valueCol = "cents",
          nCol = "n", sumCol = "sum_cents", goldDir = gold, checkpointDir = ckpt)
        graft.engine.Cdc.snapshotDiff(base, snap1, Seq("o_orderkey"))
          .coalesce(1).write.mode("append").parquet(in)
        drain()
        graft.engine.Cdc.snapshotDiff(snap1, snap2, Seq("o_orderkey"))
          .coalesce(1).write.mode("append").parquet(in)
        drain()
        val rows = graft.engine.Incremental.latestUpsertState(s, gold).get
          .collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        import s.implicits._
        rows.toDF("o_orderpriority", "n", "sum_cents")
      }
    },

    // Point-in-time (PIT) join: facts enriched with the dimension version
    // VALID AT fact time — the canonical consumer of an SCD2 dimension
    // (q58 builds one; this query joins against it). Each order matches
    // exactly one version because validity windows partition time per key.
    // Plan note: this stays a plain EQUI-join on the customer key with the
    // validity window as a post-join filter — per-key version counts are
    // small and bounded, so no interval-join machinery is needed; the
    // shuffle is the key join's, same as any fact-dim join at 100 TB.
    "q103_pit_join" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val dim0 = cust.select(col("c_custkey"), col("c_mktsegment"),
        lit("1990-01-01 00:00:00").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current"))
      val updates = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 6 === 0, lit("SEG_NEW"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"),
          lit("1995-06-01 00:00:00").cast("timestamp").as("eff_ts"))
      val dim = graft.engine.Merge.scd2Apply(dim0, updates, "c_custkey",
        Seq("c_mktsegment"), "eff_ts")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .join(dim, col("o_custkey") === col("c_custkey") &&
          col("o_orderdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
    },

    // Survivorship / golden records (ext.Dedup.goldenRecords): near-dup
    // pairs → connected components → one canonical row per group, winner =
    // longest text (ties to highest id), singletons included. Completes the
    // dedup story: q24 finds pairs, q65 forms groups, this emits the merged
    // record per group. The oracle replays the recursive-CTE components and
    // the same argmax.
    "q104_golden_records" -> { (s, dir) =>
      val corpus = docsWithPlantedNearDups(s, dir)
        .withColumn("len", length(col("text")).cast("long"))
      val pairs = Dedup.minhashNearDuplicatesPortable(
          docsWithPlantedNearDups(s, dir), threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val labels = graft.ext.Graph.connectedComponents(pairs)
      Dedup.goldenRecords(corpus.select(col("doc_id"), col("len")), labels,
          "doc_id", col("len"))
        .select(col("component"), col("n_members"),
          col("winner_doc_id"), col("winner_len"))
    },

    // Vacuum retention, oracle-proven (upgrades the CorpusOpsSpec-only proof
    // the round-7 verdict flagged): four committed versions of a
    // customer-derived upsert state (q81's update chain + one more wave),
    // vacuum keep-2, then report WHICH versions survived and time-travel-read
    // the OLDEST kept version (v=2). Retention destroys data, so the proof
    // must show both sides: the deleted set is exactly the pre-horizon ids
    // AND the kept snapshot is still bit-correct — the oracle recomputes the
    // v=2 state (base + u1 + u2) from scratch in SQL. Scale: vacuum is a
    // driver-side manifest walk + O(deleted) directory deletes; no data read.
    "q105_vacuum_retention" -> { (s, dir) =>
      val I = graft.engine.Incremental
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.engine.Scratch.withTempDir("graft-vac-") { tmp =>
        val state = s"$tmp/state"
        I.commitVersion(cust, state, 0L)
        val u1 = cust.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_mktsegment", lit("SEG_V1"))
        I.commitVersion(graft.engine.Merge.upsert(
          I.latestUpsertStateBefore(s, state, 1L).get, u1, Seq("c_custkey"))
          .drop("merge_action"), state, 1L)
        val u2 = cust.filter(col("c_custkey") % 5 === 0)
          .withColumn("bal_cents", col("bal_cents") + 777L)
        I.commitVersion(graft.engine.Merge.upsert(
          I.latestUpsertStateBefore(s, state, 2L).get, u2, Seq("c_custkey"))
          .drop("merge_action"), state, 2L)
        val u3 = cust.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_mktsegment", lit("SEG_V3"))
        I.commitVersion(graft.engine.Merge.upsert(
          I.latestUpsertStateBefore(s, state, 3L).get, u3, Seq("c_custkey"))
          .drop("merge_action"), state, 3L)

        val deleted = I.vacuumVersions(s, state, keep = 2)
        val kept = I.committedVersions(s, state)
        val r = I.latestUpsertStateBefore(s, state, 3L).get
          .agg(count(lit(1)).as("n_rows"),
            sum(col("bal_cents")).as("bal_sum_cents"),
            sum(when(col("c_mktsegment") === "SEG_V1", 1L).otherwise(0L))
              .as("n_seg_v1"))
          .collect().head
        import s.implicits._
        Seq((kept.mkString(","), deleted.length.toLong,
          r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("kept_versions_csv", "n_deleted", "n_rows", "bal_sum_cents", "n_seg_v1")
      }
    },

    // Column-level survivorship (ext.Dedup.goldenRecordsByColumn): the MDM
    // step beyond q104's whole-row winner — two derived "source systems" per
    // customer, then each golden column elects independently: segment from
    // the most RECENT non-null source, name from the LONGEST non-null,
    // balance greatest. One aggregate, all policies as max(struct) in the
    // same pass (no per-column windows); the oracle replays each policy as
    // a ranked window with the identical (non-null, order, id) key.
    "q106_column_survivorship" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val recA = cust.select(
        (col("c_custkey") * 2).cast("long").as("rec_id"),
        col("c_custkey").cast("long").as("entity"),
        when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("segment"),
        col("c_name").as("name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
        (col("c_custkey") % 100).cast("long").as("rec_ts"))
      val recB = cust.select(
        (col("c_custkey") * 2 + 1).cast("long").as("rec_id"),
        col("c_custkey").cast("long").as("entity"),
        when(col("c_custkey") % 4 === 0, lit("SEG_B"))
          .otherwise(lit(null).cast("string")).as("segment"),
        when(col("c_custkey") % 5 === 0, lit(null).cast("string"))
          .otherwise(substring(col("c_name"), 1, 10)).as("name"),
        (round(col("c_acctbal") * 100).cast("long") - 500L).as("bal_cents"),
        ((col("c_custkey") * 7) % 100).cast("long").as("rec_ts"))
      val records = recA.unionByName(recB)
      val labels = records.select(col("rec_id").as("id"), col("entity").as("component"))
      graft.ext.Dedup.goldenRecordsByColumn(records, labels, "rec_id", Seq(
        ("segment", "segment", col("rec_ts")),
        ("name", "name", length(col("name"))),
        ("bal_cents", "bal_cents", col("bal_cents"))))
    },

    // MIN/MAX-aware incremental view maintenance
    // (engine.Cdc.applyDeltaWithExtremes): q87's churn against a gold that
    // also stores per-group min/max — the non-additive aggregates a pure
    // delta can't maintain. Groups whose removals touch a stored extreme are
    // rebuilt from the new base behind a group semi-join (the %13 deletes
    // are sure to clip some group's extreme); everything else stays delta
    // arithmetic. The oracle recomputes the post-churn gold from scratch,
    // so the mixed maintain/rebuild result must equal the full recompute.
    "q107_minmax_ivm" -> { (s, dir) =>
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val newDf = base.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("cents",
          when(col("o_orderkey") % 7 === 0, col("cents") + 555L).otherwise(col("cents")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 11 === 0, lit("9-MOVED")).otherwise(col("o_orderpriority")))
        .unionByName(base.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderpriority"), (col("cents") + 1L).as("cents")))
      val gold = base.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      val changes = graft.engine.Cdc.snapshotDiff(base, newDf, Seq("o_orderkey"))
      graft.engine.Cdc.applyDeltaWithExtremes(gold, changes, newDf,
        groupCol = "o_orderpriority", valueCol = "cents",
        nCol = "n", sumCol = "sum_cents", minCol = "min_cents", maxCol = "max_cents")
    },

    // Bucketed co-located join (storage-level shuffle elimination): both
    // sides written bucketBy(8, <orderkey>) + sortBy, then joined on the
    // bucket key — each bucket pair reads co-located, so the join itself
    // needs NO exchange and no per-query sort on either side (PlanSpec
    // asserts the shuffle-free plan with broadcast disabled). The 100 TB
    // posture for a fact-fact join run repeatedly on one key: pay the
    // clustering once at write time, then every downstream join on that
    // key is exchange-free — the same contract Hive/Iceberg bucket
    // transforms carry. The oracle replays the plain join; content must be
    // identical, bucketing may only relocate rows.
    "q108_bucketed_join" -> { (s, dir) =>
      graft.engine.Scratch.withTempDir("graft-bkt-") { tmp =>
        s.sql("DROP TABLE IF EXISTS graft_q108_li")
        s.sql("DROP TABLE IF EXISTS graft_q108_ord")
        t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$tmp/li").saveAsTable("graft_q108_li")
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$tmp/ord").saveAsTable("graft_q108_ord")
        try {
          val rows = s.table("graft_q108_li")
            .join(s.table("graft_q108_ord"), col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
            .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          import s.implicits._
          rows.toDF("o_orderpriority", "n", "cents_sum")
        } finally {
          s.sql("DROP TABLE IF EXISTS graft_q108_li")
          s.sql("DROP TABLE IF EXISTS graft_q108_ord")
        }
      }
    },

    // Mergeable distinct-count sketch table (Datasketches HLL): per-day
    // hll_sketch_agg over the customer key, then hll_union_agg across days —
    // the pre-aggregation shape where each day stores a KB-sized sketch and
    // "distinct over any date range" becomes a sketch union instead of a
    // re-scan of raw data. The contract (q47's pattern): the union-of-daily-
    // sketches estimate AND the direct whole-table sketch estimate must both
    // sit within 5% of exact (lgConfigK=12 ⇒ ~1.6% rsd; HLL is RNG-free, so
    // the booleans are deterministic). Scale: the sketch column is the
    // canonical mergeable-state pattern — partial aggregation map-side,
    // union associative/commutative, so a 1000-executor rollup ships
    // sketches, never keys.
    "q109_hll_sketch_table" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val daily = o.groupBy(col("o_orderdate"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val merged = daily.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      val direct = o.agg(
        hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("est_direct"))
      o.agg(countDistinct(col("o_custkey")).as("n_exact"))
        .crossJoin(merged).crossJoin(direct)
        .select(col("n_exact"),
          (abs(col("est_merged") - col("n_exact")) <= lit(0.05) * col("n_exact"))
            .as("merged_ok"),
          (abs(col("est_direct") - col("n_exact")) <= lit(0.05) * col("n_exact"))
            .as("direct_ok"))
    },

    // Salted replicated join (engine.Skew.saltedJoin): lineitem joined to a
    // 3-row dimension on l_returnflag — a maximally hot key (a third of the
    // table per key). The big side salts on the unique line id, the dim
    // replicates 16×, the join key becomes (flag, salt): each hot key
    // spreads over 16 tasks instead of one. The oracle replays the PLAIN
    // join, so the salted form must lose/duplicate nothing — the exact
    // equivalence that makes salting a rewrite, not an approximation.
    "q110_salted_join" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val dim = li.select(col("l_returnflag")).distinct()
        .withColumn("flag_label", concat(lit("RF_"), col("l_returnflag")))
      graft.engine.Skew.saltedJoin(li, dim, Seq("l_returnflag"),
          discriminator = col("line_id"), salt = 16)
        .groupBy(col("flag_label"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"))
    },

    // Change feed (engine.Incremental.changeFeed): the row-level delta a
    // consumer that last saw version 0 must apply to reach version 2 —
    // derived on demand by diffing the two committed snapshots (upsert
    // deltas telescope, so the direct diff IS the net feed), the
    // versioned-parquet analog of Delta's change data feed. q81's update
    // chain supplies the versions; the oracle recomputes the expected net
    // updates (segment rewrites on %3 keys, +777-cent bumps on %5 keys)
    // straight from customer arithmetic.
    "q111_change_feed" -> { (s, dir) =>
      val I = graft.engine.Incremental
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.engine.Scratch.withTempDir("graft-feed-") { tmp =>
        val state = s"$tmp/state"
        // Fixture writes are KB-sized snapshots: coalesce(1) so the bench
        // measures the feed (one endpoint diff), not ~96 tiny setup files at
        // 32 shuffle partitions. The feed itself stays width-preserving — at
        // real scale the snapshots would be written wide and the diff would
        // shuffle on the key as usual (PERF.md known fixed costs).
        I.commitVersion(cust.coalesce(1), state, 0L)
        val u1 = cust.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_mktsegment", lit("SEG_V1"))
        I.commitVersion(graft.engine.Merge.upsert(
          I.latestUpsertStateBefore(s, state, 1L).get, u1, Seq("c_custkey"))
          .drop("merge_action").coalesce(1), state, 1L)
        val u2 = cust.filter(col("c_custkey") % 5 === 0)
          .withColumn("bal_cents", col("bal_cents") + 777L)
        I.commitVersion(graft.engine.Merge.upsert(
          I.latestUpsertStateBefore(s, state, 2L).get, u2, Seq("c_custkey"))
          .drop("merge_action").coalesce(1), state, 2L)
        val rows = I.changeFeed(s, state, Seq("c_custkey"), fromV = 0L, toV = 2L)
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("new_bal_cents"), lit(0L))
              - coalesce(col("old_bal_cents"), lit(0L))).as("bal_delta_cents"))
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        import s.implicits._
        rows.toDF("change_type", "n", "bal_delta_cents")
      }
    },

    // Small-file compaction (engine.Layout.compact, the OPTIMIZE analog):
    // orders scattered into 64 tiny files — the landing-zone pathology the
    // reference's 10-row generator batches create — compacted by narrow
    // coalesce into ~256 KB bins. Output: surviving file count (must
    // collapse) + content aggregates over the compacted copy; the oracle
    // computes the same aggregates from the original table, so compaction
    // provably only relocates rows. n_files is environment-deterministic:
    // ceil(scattered bytes / target) is fixed by the parquet encoding of
    // this slice, asserted < 64 in Round8Spec rather than pinned here —
    // the query returns the CONTENT proof plus the collapse boolean.
    "q112_compaction" -> { (s, dir) =>
      graft.engine.Scratch.withTempDir("graft-compact-") { tmp =>
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        o.repartition(64).write.mode("overwrite").parquet(s"$tmp/scattered")
        val n = graft.engine.Layout.compact(s, s"$tmp/scattered", s"$tmp/compact",
          targetFileBytes = 256L * 1024)
        val r = s.read.parquet(s"$tmp/compact")
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
            sum(col("o_orderkey")).as("key_checksum"))
          .collect().head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1), r.getLong(2), n < 64))
          .toDF("n_rows", "cents_sum", "key_checksum", "collapsed")
      }
    },

    // Merge-on-read row-level delete (engine.Tombstones): two overlapping
    // delete batches are appended as key-only tombstone logs (no data
    // rewrite), then compactApply folds them into a rewritten copy. The
    // aggregates are computed over the COMPACTED output, so the hash proves
    // the whole lifecycle — anti-join semantics (overlap counted once) AND
    // rewrite fidelity — against the oracle's plain WHERE NOT filter.
    "q113_merge_on_read_delete" -> { (s, dir) =>
      graft.engine.Scratch.withTempDir("graft-mor-") { tmp =>
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        o.write.parquet(s"$tmp/data")
        graft.engine.Tombstones.append(
          o.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"), s"$tmp/tomb", 0L)
        graft.engine.Tombstones.append( // overlaps batch 0 where key%7=0 too
          o.filter(col("o_orderstatus") === "F" && col("o_orderkey") % 10 < 3)
            .select("o_orderkey"), s"$tmp/tomb", 1L)
        graft.engine.Tombstones.compactApply(s, s"$tmp/data", s"$tmp/tomb",
          s"$tmp/compact", targetFileBytes = 1L << 20)
        val r = s.read.parquet(s"$tmp/compact") // eager: tmp dies with this block
          .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("cents_sum"),
            sum(col("o_orderkey")).as("key_checksum"))
          .collect().head
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("n_live", "cents_sum", "key_checksum")
      }
    },

    // Mergeable percentile table (engine.Profile.percentileSketchTable /
    // percentilesFromSketch — the HdrHistogram pattern): quantized bucket
    // counts are pre-aggregated PER PRIORITY, then p50/p90/p99 are answered
    // over a two-priority subset by merging bucket counts — no raw re-scan.
    // Exact to the declared $1000 bucket; the oracle replays the identical
    // integer quantization + ceiling-rank arithmetic.
    "q114_percentile_sketch" -> { (s, dir) =>
      val cents = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val sketch = graft.engine.Profile.percentileSketchTable(
        cents, Seq("o_orderpriority"), "cents", bucketWidth = 100000L)
      graft.engine.Profile.percentilesFromSketch(
        sketch.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
        Seq(50, 90, 99), bucketWidth = 100000L)
    },

    // Weighted sampling without replacement (ext.Sampling.weightedSample):
    // Efraimidis–Spirakis via integer exponential races — race key = min of
    // w portable hashes, top-200 smallest win. Weight = 1 + doc_id % 5
    // (deterministic quality-tier stand-in). The oracle replays the exact
    // race in DuckDB, so the SELECTED SET — not just its size — must match.
    "q115_weighted_sample" -> { (s, dir) =>
      ext.Sampling.weightedSample(t(s, dir, "documents"), col("doc_id"),
          lit(1L) + col("doc_id") % 5, k = 200)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_checksum"))
    },

    // Count-min frequency sketch table (ext.CountMin): per-event-type sketch
    // rows, merged over a two-type subset by cell summation, then per-user
    // frequency estimates = min over depth rows. The oracle rebuilds EVERY
    // cell with the same portable hashes, so est is bit-exact — and the
    // overestimates column re-proves the CM "never undercounts" guarantee
    // against the true counts.
    "q116_countmin_sketch" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val sketch = ext.CountMin.sketchTable(ev, Seq("event_type"), col("user_id"))
      val subset = sketch.filter(col("event_type").isin("click", "purchase"))
      val items = s.range(1, 11).select(col("id").as("user_id"))
      val exact = ev.filter(col("event_type").isin("click", "purchase") &&
          col("user_id").between(1, 10))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      ext.CountMin.estimate(subset, items, "user_id")
        .join(exact, Seq("user_id"), "left")
        .select(col("user_id"), col("est"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          (col("est") >= coalesce(col("n_exact"), lit(0L))).as("overestimates"))
    },

    // Vocabulary coverage (ext.Rank.weightedPrefixThreshold): how many
    // distinct tokens cover 50% / 90% of all token occurrences — the
    // vocab-sizing question of tokenizer training. The cumulative-share scan
    // over the frequency-sorted vocabulary is distributed with the q97 rank
    // machinery (weight-prefix variant): range-partition by (cnt DESC,
    // token), per-partition weight sums as metadata, local cumsum only in
    // the partition holding each threshold — no global sort anywhere.
    "q117_vocab_coverage" -> { (s, dir) =>
      val vocab = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .withColumn("neg_cnt", -col("cnt"))
      ext.Rank.weightedPrefixThreshold(vocab, Seq("neg_cnt", "token"), "cnt",
          totalW => Seq("50" -> (totalW * 50 + 99) / 100, "90" -> (totalW * 90 + 99) / 100))
        .select(col("tname").cast("int").as("pct"), col("k").as("k_tokens"),
          col("cum").as("cum_count"), col("total").as("total_tokens"))
    },

    // SCD2 delete (engine.Merge.scd2Delete) on top of q58's merge: keys
    // leaving the universe get their CURRENT version closed at the delete
    // timestamp — history intact, nothing inserted. Composes both SCD2
    // writers in one lineage; the oracle replays merge then delete as SQL
    // branches over the same literal timestamps.
    "q118_scd2_delete" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val dim = cust.select(
        col("c_custkey"), col("c_mktsegment"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current"))
      val updates = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 6 === 0, lit("SEG_NEW"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"),
          lit("2024-06-01 00:00:00").cast("timestamp").as("eff_ts"))
      val merged = graft.engine.Merge.scd2Apply(
        dim, updates, "c_custkey", Seq("c_mktsegment"), "eff_ts")
      val deletes = cust.filter(col("c_custkey") % 7 === 1)
        .select(col("c_custkey"),
          lit("2024-09-01 00:00:00").cast("timestamp").as("del_ts"))
      graft.engine.Merge.scd2Delete(merged, deletes, "c_custkey", "del_ts")
    },

    // Overlapping sliding-window chunking (ext.Dedup.slidingChunks — the
    // embedding/RAG unit, stride 20 < width 30 so consecutive chunks share
    // 10 tokens), rolled up per lang. Pure per-row expression at scan
    // speed; the oracle rebuilds every window with DuckDB list slicing.
    "q119_sliding_chunks" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          explode(graft.ext.Dedup.slidingChunks(col("text"), width = 30, stride = 20))
            .as("chunk"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk")).as("n_distinct_chunks"),
          sum(size(split(col("chunk"), " ")).cast("long")).as("chunk_tokens"))
    },

    // Leakage-safe target encoding (leave-one-out): each customer's segment
    // statistics EXCLUDING its own row — the standard categorical-feature
    // encode that must not leak the row's own label. Ships exact integer
    // sufficient stats (loo_n, loo_sum_cents) instead of a ratio, q92-style.
    // One segment aggregate (5 rows) broadcast back onto the scan.
    "q120_target_encoding" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val seg = cust.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("seg_n"), sum(col("bal_cents")).as("seg_sum"))
      cust.filter(col("c_custkey") <= 50)
        .join(broadcast(seg), Seq("c_mktsegment"))
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("seg_n") - 1L).as("loo_n"),
          (col("seg_sum") - col("bal_cents")).as("loo_sum_cents"))
    },

    // Stream-static enrichment join: the streaming events feed joined to a
    // STATIC customer dimension inside the micro-batch plan — the standard
    // streaming enrichment shape (static side re-resolved per batch,
    // broadcast into each micro-batch; no state store, unlike q48's
    // stream-stream join). Driven to completion with AvailableNow; the
    // oracle is the equivalent batch join, so enrichment must lose nothing.
    "q121_stream_static_join" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val agg = stream.join(broadcast(dim), Seq("user_id"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
      val sinkName = "graft_stream_static"
      s.catalog.dropTempView(sinkName)
      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName(sinkName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sinkName)
        .select(col("c_mktsegment"), col("event_type"), col("n"), col("value_cents"))
    },

    // Leakage-safe train/val/test split (ext.Sampling.groupAwareSplit): the
    // split is a pure function of the SOURCE key, so near-duplicate /
    // same-source docs can never straddle train and test. n_sources counted
    // per split proves groups stay whole (Σ n_sources over splits =
    // distinct sources — the oracle replays the hash, so the exact
    // assignment is pinned, not just the counts).
    "q122_group_split" -> { (s, dir) =>
      ext.Sampling.groupAwareSplit(t(s, dir, "documents"), col("source"),
          Seq("train" -> 800L, "val" -> 900L, "test" -> 1000L))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("doc_id")).as("id_checksum"))
    },

    // Majority-vote label aggregation (ext.Labels.majorityVote): items are
    // vec_id mod 200 (simulating ~25 annotations per item), gold label =
    // most-voted with smallest-label tie-break. Rolled up per winning label
    // with an item checksum + unanimity count, so the per-item winners are
    // membership-pinned.
    "q123_majority_vote" -> { (s, dir) =>
      val votes = t(s, dir, "embeddings")
        .select(pmod(col("vec_id"), lit(200L)).as("item"), col("label"))
      ext.Labels.majorityVote(votes, col("item"), col("label"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("item")).as("item_checksum"),
          sum(when(col("n_votes") === col("n_total"), 1L).otherwise(0L))
            .as("n_unanimous"))
    },

    // Rolling 7-row aggregates per user ordered by (ts, event_id) — the
    // moving-average feature staple. Cents-quantized so the rolling sum is
    // integer-exact; ships (sum, n) sufficient stats instead of an FP mean.
    // The window is per-user (key-partitioned, no global sort); state is the
    // 7-row frame.
    "q124_rolling_window" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val frame = w.rowsBetween(-6, Window.currentRow)
      eventsTable(s, dir)
        .filter(col("user_id") <= 10)
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("roll7_cents", sum(col("cents")).over(frame))
        .withColumn("roll7_n", count(lit(1)).over(frame))
        .withColumn("roll7_max", max(col("cents")).over(frame))
        .drop("cents", "ts")
    },

    // Temporal windowed dedup (ext.Dedup.dedupWithinWindow): one event per
    // (user, type) per 1-hour tumbling window, survivor = earliest
    // (ts, event_id). Kept event_ids are checksum-pinned per type, and
    // n_collapsed re-counts the input so nothing is silently dropped.
    "q125_windowed_dedup" -> { (s, dir) =>
      val kept = graft.ext.Dedup.dedupWithinWindow(
        eventsTable(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us")),
        keyCols = Seq("user_id", "event_type"), tsMicros = col("ts_us"),
        tieCol = "event_id", windowMicros = 3600L * 1000000L)
      kept.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_collapsed")).as("n_input"),
          sum(col("event_id")).as("id_checksum"))
    },

    // BM25 keyword retrieval (ext.TextAnalysis.bm25TopDocs): top-15 docs for
    // a 3-term query. Per-term contributions are micro-unit integers before
    // the per-doc sum, so the scores (not just the ranking) are bit-stable
    // and the oracle replays them exactly.
    "q126_bm25" -> { (s, dir) =>
      graft.ext.TextAnalysis.bm25TopDocs(t(s, dir, "documents"),
        Seq("scan", "merge", "vector"), k = 15)
    },

    // Fixed-point PageRank (ext.Graph.pageRankIterations), 3 power
    // iterations over the symmetrized supplier–part bipartite graph (part
    // nodes shifted by 1e6 to keep the id spaces disjoint). Integer
    // micro-unit ranks make the fixpoint reproducible on a cluster — the
    // oracle unrolls the same three iterations in SQL.
    "q127_pagerank" -> { (s, dir) =>
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("a"),
          (col("l_partkey").cast("long") + 1000000L).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      graft.ext.Graph.pageRankIterations(edges, iters = 3)
        .orderBy(col("rank_micros").desc, col("node"))
        .limit(20)
    },

    // Prefix-containment dedup (ext.Dedup.prefixDuplicates): planted 50-char
    // truncations must all be flagged as contained (or exact copies when the
    // original is already <= 50 chars). One range-partitioned sorted pass +
    // partition-seam metadata — no global sort, no all-pairs join; the
    // oracle replays the successor test with a plain window.
    "q128_prefix_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.union(docs.select(
        (col("doc_id") + 200000L).as("doc_id"),
        substring(col("text"), 1, 50).as("text")))
      graft.ext.Dedup.prefixDuplicates(corpus) { flagged =>
        val agg = flagged.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("succ_starts_with"), 1L).otherwise(0L)).as("n_contained"),
          sum(when(col("succ_equal"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("succ_starts_with"), col("doc_id")).otherwise(0L))
            .as("contained_id_checksum"))
        val rows = agg.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
      }
    },

    // Edit-distance similarity join (ext.Fuzzy.editDistanceJoin, PassJoin
    // signature scheme): a deterministically dirtied supplier list matched
    // back to the clean dimension at distance <= 2 via block-signature
    // EQUI-join candidates + Levenshtein verify — never all-pairs. The
    // DuckDB oracle IS the naive quadratic join, so the blocked plan is
    // proven complete (same pairs), not just plausible.
    "q129_fuzzy_join" -> { (s, dir) =>
      val clean = t(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("clean_id"), col("s_name"))
      val dirty = clean.select(col("clean_id").as("dirty_id"),
        when(pmod(col("clean_id"), lit(3L)) === 0,
            expr("replace(s_name, 'Supplier', 'Suplier')"))
          .when(pmod(col("clean_id"), lit(3L)) === 1,
            expr("replace(s_name, '#', '-#')"))
          .otherwise(col("s_name")).as("d_name"))
      graft.ext.Fuzzy.editDistanceJoin(dirty, clean,
          "dirty_id", "d_name", "clean_id", "s_name", maxDist = 2)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("dist")).as("dist_sum"),
          sum(col("dirty_id") * col("clean_id")).as("pair_checksum"),
          sum(when(col("dirty_id") === col("clean_id"), 1L).otherwise(0L))
            .as("n_self"))
    },

    // BFS k-hop neighborhood (ext.Graph.kHopDistances): exact hop distances
    // from a 3-supplier seed set over the symmetrized supplier–part graph —
    // hop 1 = their parts, hop 2 = co-suppliers of those parts. The oracle
    // unrolls both frontier expansions with NOT IN exclusions.
    "q130_k_hop" -> { (s, dir) =>
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("a"),
          (col("l_partkey").cast("long") + 1000000L).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      val seeds = s.range(1, 4).select(col("id").as("node"))
      graft.ext.Graph.kHopDistances(edges, seeds, hops = 2)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_checksum"))
    },

    // Cohort retention — the product-analytics staple: users cohorted by
    // first-active DAY (epoch-day index; the testdata spans one month),
    // activity counted per (cohort, day offset). Two keyed aggregations;
    // the (user, day) distinct is the only data-sized shuffle.
    "q131_cohort_retention" -> { (s, dir) =>
      val um = eventsTable(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("d", expr("us DIV 86400000000"))
        .drop("us")
        .distinct()
      val first = um.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      um.join(first, "user_id")
        .groupBy(col("d0").as("cohort_day"), (col("d") - col("d0")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
    },

    // Inverted-index build (posting lists) for the 10 highest-df tokens:
    // token -> first-15 sorted doc ids as CSV + document frequency — the
    // search-index construction step. Explode → df count → broadcast top
    // tokens back onto the postings; per-token truncation via a window over
    // only the 10 surviving tokens.
    "q132_posting_lists" -> { (s, dir) =>
      val td = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(lower(col("text"))))).as("token"))
      val dfreq = td.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val top = dfreq.orderBy(col("df").desc, col("token")).limit(10)
      td.join(broadcast(top), "token")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("token")).orderBy(col("doc_id"))))
        .filter(col("rn") <= 15)
        .groupBy(col("token"), col("df"))
        .agg(array_join(transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("posting_csv"))
    },

    // Referential-integrity audit (engine.Expectations.orphanCount): orphan
    // counts for two fk->pk relationships against deliberately PRUNED
    // dimensions (every 10th customer / 7th part removed), composed into one
    // audit row — each arm an independent 1-row aggregate, empty-safe.
    "q133_ri_audit" -> { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_custkey") % 10 =!= 0)
      val part = t(s, dir, "part").filter(col("p_partkey") % 7 =!= 0)
      graft.engine.Expectations.orphanCount(
          t(s, dir, "orders"), "o_custkey", cust, "c_custkey", "orders_cust")
        .crossJoin(graft.engine.Expectations.orphanCount(
          t(s, dir, "lineitem"), "l_partkey", part, "p_partkey", "lineitem_part"))
    },

    // Robust outliers via median/MAD (ext.Rank.madOutliers): |cents − median|
    // > 3·MAD over event value cents. Two distributed rank selections (the
    // naive plan is row_number() over a global ORDER BY — twice) plus one
    // aggregate; outlier ids are checksum-pinned.
    "q134_mad_outliers" -> { (s, dir) =>
      val e = eventsTable(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      graft.ext.Rank.madOutliers(e, "event_id", "cents", k = 3L)
    },

    // Group-median imputation (engine.Profile.imputeGroupMedian): every 10th
    // event's value is deterministically nulled, then repaired with the
    // per-type EXACT lower median of the surviving values. Per-type sums over
    // the filled column prove the repair itself, not just its row count.
    "q141_median_impute" -> { (s, dir) =>
      val e = eventsTable(s, dir)
        .select(col("event_id"), col("event_type"),
          when(pmod(col("event_id"), lit(10L)) === 0, lit(null).cast("long"))
            .otherwise(round(col("value") * 100).cast("long")).as("cents"))
      graft.engine.Profile.imputeGroupMedian(e, "event_type", "cents", "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("imputed_flag"), 1L).otherwise(0L)).as("n_imputed"),
          max(when(col("imputed_flag"), col("value_filled"))).as("imputed_value"),
          sum(col("value_filled")).as("filled_sum"))
    },

    // Time-series gap fill + forward fill (ext.TimeSeries.gapFillForwardFill):
    // per-user daily cents densified to every day in the user's observed span,
    // missing days carried forward (LOCF). The full filled grid is the
    // result — every generated row and fill value is hash-checked.
    "q135_gap_fill" -> { (s, dir) =>
      val daily = eventsTable(s, dir)
        .filter(col("user_id") < 20)
        .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("d"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"), col("d"))
        .agg(sum(col("cents")).as("day_cents"))
      graft.ext.TimeSeries.gapFillForwardFill(daily, "user_id", "d", "day_cents")
        .select(col("user_id"), col("d"), col("value_filled"), col("was_gap"))
    },

    // Integer-exact EWMA per user (ext.TimeSeries.ewmaPerKey): decay 850‰
    // folded over each user's cents in (ts, event_id) order, seeded with the
    // first value. The oracle replays the identical fold with list_reduce —
    // per-mille integer arithmetic is what makes the two engines agree
    // bit-for-bit (a float EWMA would drift in association order).
    "q140_ewma" -> { (s, dir) =>
      val e = eventsTable(s, dir)
        .filter(col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.ext.TimeSeries.ewmaPerKey(e, "user_id", Seq("us", "event_id"), "cents")
    },

    // Last-touch attribution (ext.Sessionize.lastTouchAttribution): every
    // purchase credited to the user's most recent preceding touch event
    // (click/view/signup), 'direct' when none precedes. One key-partitioned
    // window, no self-join; conversion ids are checksum-pinned per channel.
    "q138_attribution" -> { (s, dir) =>
      val e = eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      graft.ext.Sessionize.lastTouchAttribution(e, col("user_id"),
          col("event_type"), col("event_id"), Seq(col("us"), col("event_id")),
          touchStages = Seq("click", "view", "signup"), convStage = "purchase")
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_conversions"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("conv_id")).as("conv_id_checksum"))
    },

    // First-order Markov transition counts (ext.Sessionize.transitionCounts):
    // consecutive event-type pairs per user in (ts, event_id) order — the
    // empirical transition matrix. Ties between duplicate rows are harmless
    // by the q09 testdata invariant (dup event_ids share their type).
    "q142_transitions" -> { (s, dir) =>
      val e = eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      graft.ext.Sessionize.transitionCounts(e, col("user_id"),
        col("event_type"), Seq(col("us"), col("event_id")))
    },

    // Token-distribution drift (ext.TextAnalysis.tokenDrift) between the
    // even- and odd-numbered document sources: per token, occurrence counts
    // plus the integer-scaled proportion difference |cntA·totB − cntB·totA|
    // (cross-multiplied — never divides, so the drift ranking is exact),
    // top-20 drifted tokens. The corpus-mix check before a refreshed crawl
    // feeds training.
    "q136_token_drift" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.ext.TextAnalysis.tokenDrift(
        docs.filter(expr("CAST(substr(source, 4) AS INT) % 2 = 0")),
        docs.filter(expr("CAST(substr(source, 4) AS INT) % 2 = 1")),
        "text", k = 20)
    },

    // Exact join-output sizing WITHOUT executing the join
    // (engine.Joins.joinCardinalities): all four join types' output row
    // counts for the many-to-many events⋈orders user join, from two key
    // histograms. The "will this join explode" check before committing
    // cluster hours.
    "q137_join_size" -> { (s, dir) =>
      graft.engine.Joins.joinCardinalities(
        eventsTable(s, dir), "user_id", t(s, dir, "orders"), "o_custkey")
    },

    // Streaming bounded-state dedup (engine.Incremental.streamingDedup,
    // dropDuplicatesWithinWatermark): the events file is replayed as TWO
    // micro-batches (an at-least-once upstream redelivering the whole file);
    // the keyed state store drops every batch-2 row and every within-batch
    // duplicate, so the append-mode output is exactly one row per event_id.
    // Columns are projected to the (event_type, value) pair the testdata
    // guarantees is unique per event_id (the Verify precondition), making
    // the survivor row deterministic. Oracle = batch DISTINCT.
    "q139_streaming_dedup" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-sdedup-")
      val in = new java.io.File(root, "in"); in.mkdirs()
      val src = java.nio.file.Paths.get(s"$dir/events.parquet")
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(in.getPath, "replay1.parquet")): Unit
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(in.getPath, "replay2.parquet")): Unit
      val stream = eventsStream(s, dir, streamPath = in.getPath,
          options = Map("maxFilesPerTrigger" -> "1"))
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"),
          col("ts").as("__ts"))
      val deduped = graft.engine.Incremental.streamingDedup(
        stream, Seq("event_id"), "__ts", "3650 days")
      val sinkName = "graft_streaming_dedup"
      s.catalog.dropTempView(sinkName)
      withStreamShuffle(s, pathBytes(in.getPath)) {
        val q = deduped.writeStream.outputMode("append")
          .format("memory").queryName(sinkName)
          .option("checkpointLocation", new java.io.File(root, "ckpt").getPath)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sinkName)
        .select(col("event_id"), col("event_type"), col("value_cents"))
    },

    // Per-document novelty vs a reference corpus (ext.Dedup.shingleNovelty):
    // every 20th document scored against the rest — distinct shingles and
    // how many already exist anywhere in the reference. The decontamination
    // check run on eval sets and fresh crawls; integer counts, the ratio is
    // the consumer's division.
    "q143_novelty" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.ext.Dedup.shingleNovelty(
        docs.filter(col("doc_id") % 20 === 0),
        docs.filter(col("doc_id") % 20 =!= 0))
    },

    // Subject erasure audit (engine.Erasure.audit): every 50th customer files
    // a forget-me request; the audit reports, per table carrying the key,
    // how many rows the erasure removes vs keeps. Subjects broadcast; each
    // table pays one scan-speed semi-join — the accounting record a GDPR
    // erasure must produce before the purge runs.
    "q144_erasure_audit" -> { (s, dir) =>
      val subjects = t(s, dir, "customer")
        .filter(col("c_custkey") % 50 === 0).select(col("c_custkey"))
      graft.engine.Erasure.audit(subjects, "c_custkey", Seq(
        ("customer", t(s, dir, "customer"), "c_custkey"),
        ("orders", t(s, dir, "orders"), "o_custkey"),
        ("events", eventsTable(s, dir), "user_id")))
    },

    // Write-audit-publish gate (engine.Incremental.writeAuditPublish):
    // attempt 1 stages raw events against a "no error events" expectation —
    // the audit fails, the staged files stay uncommitted and invisible;
    // attempt 2 stages the filtered feed — audit passes, manifest publishes.
    // Output: both attempts' audit rows + published flag; the query also
    // asserts only v=2 is committed (fails loudly otherwise).
    "q145_wap" -> { (s, dir) =>
      import graft.engine.{Expectations, Incremental}
      graft.engine.Scratch.withTempDir("graft-wap-") { root =>
        val rules = Seq(Expectations.Rule("no_error_events",
          col("event_type") =!= "error"))
        val e = eventsTable(s, dir)
        val (pub1, rep1) = Incremental.writeAuditPublish(e, rules, root, 1L)
        val (pub2, rep2) = Incremental.writeAuditPublish(
          e.filter(col("event_type") =!= "error"), rules, root, 2L)
        require(Incremental.committedVersions(s, root) == Seq(2L),
          "q145: expected exactly v=2 committed")
        // Reports are driver-materialized; the union below survives the
        // temp dir's deletion (Scratch's eager-consumption discipline).
        rep1.select(lit(1L).as("attempt"), col("rule"), col("rows_checked"),
            col("violations"), lit(pub1).as("published"))
          .unionByName(rep2.select(lit(2L).as("attempt"), col("rule"),
            col("rows_checked"), col("violations"), lit(pub2).as("published")))
      }
    },

    // Numeric distribution drift (engine.Profile.histogramDrift): order
    // totals before vs after 1998, bucketed with SHARED equi-width integer
    // edges, proportion shift as the cross-multiplied integer — the
    // per-release "did the feature distribution move" monitoring gate,
    // numeric twin of q136.
    "q146_histogram_drift" -> { (s, dir) =>
      val o = t(s, dir, "orders").withColumn("cents",
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
      graft.engine.Profile.histogramDrift(
        o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        "cents", nBuckets = 16)
    },

    // Blocked record linkage (ext.Fuzzy.linkageScores): customers matched
    // against a deterministically perturbed copy (case-mangled names, swapped
    // email domains, drifted balances), blocked on nation, scored by weighted
    // null-safe field agreement (name 4, email 3, segment 2, balance 1),
    // keep score >= 6 — the Fellegi–Sunter scoring core as one block
    // equi-join + codegen arithmetic.
    "q147_record_linkage" -> { (s, dir) =>
      def base(df: DataFrame) = df.select(
        col("c_custkey"), col("c_nationkey"), col("c_name"),
        concat(lit("u"), col("c_custkey").cast("string"), lit("@x.com"))
          .as("email"),
        col("c_mktsegment").as("seg"),
        expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
      val l = base(t(s, dir, "customer"))
      val r = base(t(s, dir, "customer")).select(
        (col("c_custkey") + 100000L).as("c_custkey"), col("c_nationkey"),
        when(col("c_custkey") % 3 === 0, upper(col("c_name")))
          .otherwise(col("c_name")).as("c_name"),
        when(col("c_custkey") % 5 === 0,
            concat(lit("u"), col("c_custkey").cast("string"), lit("@y.com")))
          .otherwise(col("email")).as("email"),
        col("seg"),
        (col("bal_cents") + when(col("c_custkey") % 2 === 0, 1L).otherwise(0L))
          .as("bal_cents"))
      graft.ext.Fuzzy.linkageScores(l, "c_custkey", r, "c_custkey",
        "c_nationkey",
        Seq(("c_name", 4L), ("email", 3L), ("seg", 2L), ("bal_cents", 1L)),
        threshold = 6L)
    },

    // Semi-supervised label propagation (ext.Graph.labelPropagation) over
    // the supplier–part bipartite graph (q127/q130's edges): every 10th
    // supplier seeds one of 3 classes; two rounds of frozen majority-vote
    // spreading (ties → smallest label). Output aggregated per (label,
    // round) — counts + node checksum pin the exact assignment.
    "q148_label_propagation" -> { (s, dir) =>
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("a"),
          (col("l_partkey").cast("long") + 1000000L).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 10 === 0)
        .select(col("s_suppkey").cast("long").as("node"),
          (col("s_suppkey") % 3).cast("long").as("label"))
      graft.ext.Graph.labelPropagation(edges, seeds, iters = 2)
        .groupBy(col("label"), col("round"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_checksum"))
    },

    // BPE merge learning (ext.TextAnalysis.bpeMerges) — 4 rounds of the
    // tokenizer-training loop over the UNIQUE-WORD frequency table
    // (vocabulary-sized, not corpus-sized): per round one pair explode +
    // map-side-combined count, one TakeOrdered top-1 (count DESC, pair asc —
    // deterministic), one literal merge replace. The oracle replays the same
    // four rounds as chained DuckDB CTEs.
    "q149_bpe_merges" -> { (s, dir) =>
      graft.ext.TextAnalysis.bpeMerges(t(s, dir, "documents"), col("text"),
        rounds = 4)
    },

    // Exact 7-day rolling distinct users per day
    // (ext.TimeSeries.rollingDistinct): dedupe to (user, active-day) pairs,
    // contribute each pair to its ≤7 trailing window days (bounded sequence
    // explode), dedupe, count — no COUNT(DISTINCT) OVER and no per-day
    // re-scan self-join. The DAU/WAU query at 100 TB; sketch sibling = daily
    // HLL tables (q109) merged across the window.
    "q150_rolling_active" -> { (s, dir) =>
      graft.ext.TimeSeries.rollingDistinct(
        eventsTable(s, dir), "user_id", "ts", windowDays = 7)
    },

    // Exact heavy hitters by Misra–Gries candidates + exact recount
    // (ext.HeavyHitters.exactHeavyHitters): tokens holding > 1/31 of the
    // corpus token stream. Pass 1 carries 30 counters per partition (the
    // mergeable MG summary — order-dependent residuals, order-INDEPENDENT
    // superset guarantee); pass 2 recounts only the ≤30 candidates, so the
    // output is exactly the full groupBy answer at sketch cost.
    "q151_heavy_hitters" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
      graft.ext.HeavyHitters.exactHeavyHitters(toks, col("tok"),
        capacity = 30, keyName = "token")
    },

    // Exact two-sample Kolmogorov–Smirnov drift (ext.Rank.ksDrift) between
    // early (< 1995-06-01) and late order-value distributions, in integer
    // cents: max |cumA·nB − cumB·nA| over the merged value order, computed
    // with the range-exchange + partition-offset machinery — the running sum
    // never runs in a single-partition window. The "did the numeric
    // distribution drift between snapshots" gate, exact.
    "q152_ks_drift" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.ext.Rank.ksDrift(
        o.filter(col("o_orderdate") < lit("1995-06-01")),
        o.filter(col("o_orderdate") >= lit("1995-06-01")),
        "cents")
    },

    // Contiguous total-order sharding (ext.Rank.orderedShards): documents in
    // (n_chars DESC, doc_id) curriculum order cut into 16 equal contiguous
    // shards — global ordinals from range exchange + broadcast partition
    // offsets + per-partition row_number, never a global-sort window. Output
    // proves the full assignment at metadata size: per shard, count,
    // ordinal interval (contiguity) and doc-id checksum (content).
    "q153_ordered_shards" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("neg_chars", -col("n_chars"))
      graft.ext.Rank.orderedShards(docs, Seq("neg_chars", "doc_id"), "doc_id",
        numShards = 16)
    },

    // Corpus similarity map from per-label centroid embeddings
    // (ext.Similarity.centroidSimilarityMap): one data pass reduces each
    // label to an integer-quantized centroid sum vector; all 45 pairwise
    // cosines run on the 10×64 centroid table (metadata-sized) and are
    // emitted as exact integer dot ingredients — the "which sources overlap
    // in embedding space" input to mixture design.
    "q154_centroid_similarity" -> { (s, dir) =>
      graft.ext.Similarity.centroidSimilarityMap(
        t(s, dir, "embeddings"), "label", "embedding")
    },

    // Token co-occurrence with lift (ext.TextAnalysis.cooccurrenceLift):
    // top-20 token pairs by document co-occurrence, with exact integer lift
    // ingredients (n_ab·n_docs vs n_a·n_b) — association mining for query
    // expansion / boilerplate-template detection. Pairs explode per-document
    // from the DISTINCT token set (bounded by per-doc vocabulary, no
    // token×token shuffle join).
    "q155_cooccurrence_lift" -> { (s, dir) =>
      graft.ext.TextAnalysis.cooccurrenceLift(
        t(s, dir, "documents"), "doc_id", col("text"), k = 20)
    },

    // Hybrid-retrieval reciprocal-rank fusion (ext.TextAnalysis.rrfFuse):
    // lexical BM25 top-20 (q126's scorer) fused with semantic cosine top-20
    // (q27's scorer, vec_id ≡ doc_id in the testdata) via integer RRF
    // (10⁶ DIV (60 + rank), summed). The rankings are deterministic (micro-
    // integer BM25; 6dp-rounded cosine, id tie-breaks), so the fused list
    // hash-compares. Rank windows run over the already-bounded top-k lists.
    "q156_hybrid_rrf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val lex = graft.ext.TextAnalysis.bm25TopDocs(t(s, dir, "documents"),
          Seq("scan", "merge", "vector"), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("score_micros"), asc("doc_id"))).cast("long"))
      val sem = graft.ext.Similarity.cosineTopK(t(s, dir, "embeddings"),
          queryId = 0, k = 20)
        .withColumnRenamed("vec_id", "doc_id")
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("cos_sim"), asc("doc_id"))).cast("long"))
      graft.ext.TextAnalysis.rrfFuse(lex.select(col("doc_id"), col("rank")),
        sem.select(col("doc_id"), col("rank")), "doc_id", k = 10)
    },

    // Exact set-similarity self-join via prefix filtering
    // (ext.Dedup.prefixFilterJaccardPairs, the PPJoin principle): ALL pairs
    // with 3-shingle Jaccard ≥ 0.6 over the planted-near-dup corpus —
    // guaranteed-complete recall (the deterministic sibling of q24's MinHash
    // banding), candidates from a rarest-first prefix-token EQUI-join, exact
    // integer verify. The oracle is the naive quadratic join: completeness
    // of the blocking scheme is hash-proven, not argued (q129 discipline).
    "q157_prefix_jaccard_join" -> { (s, dir) =>
      graft.ext.Dedup.prefixFilterJaccardPairs(
        docsWithPlantedNearDups(s, dir), k = 3, tauMilli = 600L)
    },

    // Incremental JOIN-view maintenance (engine.Cdc.maintainJoinView) — the
    // join sibling of q87/q102/q107's aggregate IVM: customer⋈orders view
    // kept current against a two-sided delta batch (segment updates on
    // customers, price corrections on orders) by re-joining ONLY the
    // affected key slice; untouched view rows survive a scan-speed
    // broadcast anti join. Output = segment rollup of the MAINTAINED view;
    // the oracle computes the full post-delta join from scratch, so
    // maintained ≡ recomputed is hash-proven.
    "q158_join_view_maintenance" -> { (s, dir) =>
      val a0 = t(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val b0 = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"),
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = a0.join(b0, Seq("c_custkey"))
      val dA = a0.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("SEG_NEW"))
      val dB = b0.filter(col("o_orderkey") % 11 === 0)
        .withColumn("cents", col("cents") + 500L)
      val a1 = graft.engine.Merge.upsert(a0, dA, Seq("c_custkey"))
        .drop("merge_action")
      val b1 = graft.engine.Merge.upsert(b0, dB, Seq("o_orderkey"))
        .drop("merge_action")
      val touched = dA.select("c_custkey").union(dB.select("c_custkey"))
      graft.engine.Cdc.maintainJoinView(v0, a1, b1, touched, Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
          sum(col("o_orderkey")).as("key_checksum"))
    },

    // Top event-type PATHS (ext.Sessionize.topPaths) — q142's transition
    // counts generalized to 3-step paths: two stacked leads in ONE per-user
    // window pass, path count map-combined, TakeOrdered top-10. The
    // "what do users actually do in three steps" product-analytics query.
    "q159_top_paths" -> { (s, dir) =>
      val e = eventsTable(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      graft.ext.Sessionize.topPaths(e, col("user_id"), col("event_type"),
        Seq(col("us"), col("event_id")), len = 3, k = 10)
    },

    // Deterministic half-sample bootstrap (ext.Sampling.bootstrapReplicas):
    // 16 portable-hash half-samples of order values in ONE scan (32
    // conditional aggregates, map-combined — no per-replica pass), unpivoted
    // to a replica table. The "error bars on a 100 TB mean" primitive;
    // integer (n, sum) per replica, so the oracle's cross-join replay
    // hash-matches exactly.
    "q160_bootstrap_replicas" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      graft.ext.Sampling.bootstrapReplicas(o, col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long"), replicas = 16,
        salt = "boot")
    },

    // Key-cardinality histogram (engine.Profile.keyCardinalityHistogram):
    // the skew fingerprint of the lineitem order key — for each
    // rows-per-key multiplicity, how many keys have it. The "is this key
    // skewed at all" check run before picking a join strategy (q137 then
    // sizes the join, q110 salts it).
    "q161_key_cardinality" -> { (s, dir) =>
      graft.engine.Profile.keyCardinalityHistogram(
        t(s, dir, "lineitem"), col("l_orderkey"))
    },

    // Sweep-line peak concurrency (ext.TimeSeries.peakConcurrency): each event
    // opens an interval of `value` minutes; per event_type, the max number
    // simultaneously open. ±1 deltas + one key-partitioned running-sum window
    // — 2 rows per interval, no global sort, no interval self-join (the naive
    // overlap join is quadratic in the busy hours).
    "q162_peak_concurrency" -> { (s, dir) =>
      val e = eventsTable(s, dir).filter(col("value").isNotNull)
        .withColumn("__start", unix_micros(col("ts")))
        .withColumn("__end",
          col("__start") + expr("CAST(ROUND(value * 100) AS BIGINT) * 600000L"))
      graft.ext.TimeSeries.peakConcurrency(e, "event_type",
        col("__start"), col("__end"))
    },

    // Fleiss' kappa (ext.Labels.fleissKappa) over three synthetic annotators
    // re-labeling each document's lang: annotator a agrees with the true lang
    // when (doc_id·31 + a·17) mod 10 < 7, else emits a deterministic
    // alternative — pure integer arithmetic, so the oracle rebuilds the exact
    // same vote table. Output is micro-unit integer ratios (no float drift).
    "q163_fleiss_kappa" -> { (s, dir) =>
      val votes = t(s, dir, "documents").select(col("doc_id"), col("lang"))
        .select(col("doc_id"), col("lang"),
          explode(expr("sequence(0, 2)")).as("a"))
        .withColumn("label",
          when((col("doc_id") * 31 + col("a") * 17) % 10 < 7, col("lang"))
            .otherwise(expr(
              "element_at(array('en','de','fr'), CAST((doc_id + a) % 3 AS INT) + 1)")))
      graft.ext.Labels.fleissKappa(votes, col("doc_id"), col("label"))
    },

    // Time-series spike detection (ext.TimeSeries.spikesVsTrailingMedian):
    // densified daily counts per event_type; a day is a spike when its count
    // exceeds 2× the trailing-7-day MEDIAN (integer cross-multiplied — no
    // division, no float threshold). Only full-window days emit.
    "q164_spike_detection" -> { (s, dir) =>
      graft.ext.TimeSeries.spikesVsTrailingMedian(
        eventsTable(s, dir), "event_type", "ts",
        windowDays = 7, factorPct = 200L)
    },

    // Canonicalization dedup (ext.Dedup.canonicalDuplicateGroups): plants
    // case / whitespace / punctuation variants of known docs, then groups by
    // the canonical form (lower, strip punct, collapse ws). n_raw_variants
    // proves the normalization did real work (byte-identical copies would
    // report 1).
    "q165_canonical_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .unionAll(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), upper(col("text")).as("text")))
        .unionAll(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 300000L).as("doc_id"),
            regexp_replace(col("text"), " ", "  ").as("text")))
        .unionAll(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 400000L).as("doc_id"),
            concat(col("text"), lit("!!")).as("text")))
      graft.ext.Dedup.canonicalDuplicateGroups(planted)
    },

    // Time-weighted average (ext.TimeSeries.twapPerKey): per user, the step-
    // function average of `value` over TIME — each observation holds until
    // the next one. Duplicate (user, ts) pairs pre-aggregate to max-cents so
    // the step function is single-valued. Integer cents·µs arithmetic.
    "q166_twap" -> { (s, dir) =>
      val obs = eventsTable(s, dir).filter(col("value").isNotNull)
        .groupBy(col("user_id"), unix_micros(col("ts")).as("__t_us"))
        .agg(max(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("__cents"))
      graft.ext.TimeSeries.twapPerKey(obs, "user_id",
        col("__t_us"), col("__cents"))
    },

    // Structured Streaming SESSION windows (engine.Incremental
    // .sessionAggregate): event-time sessions per user with an 8-hour gap
    // (median inter-event gap here is ~7.3h, so sessions genuinely merge),
    // drained AvailableNow into a memory sink. Oracle = the batch gap-split
    // replay: new session iff gap STRICTLY exceeds 8h (Spark's extension is
    // inclusive at the boundary), session end = last event + gap.
    "q167_stream_sessions" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
      val agg = Incremental.sessionAggregate(stream,
        ts = col("ts"), key = col("user_id"),
        gap = "8 hours", watermarkDelay = "1 hour",
        valueCents = expr("CAST(ROUND(coalesce(value, 0) * 100) AS BIGINT)"))
      val sinkName = "graft_stream_sessions"
      s.catalog.dropTempView(sinkName)
      withStreamShuffle(s, pathBytes(s"$dir/events.parquet")) {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(sinkName)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sinkName).select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n"), col("value_cents"))
    },

    // Quantile normalization (ext.Rank.quantileNormalize): every source's
    // n_chars distribution mapped onto the GLOBAL distribution via the
    // distributed global-rank machinery (range exchange + partition-metadata
    // offsets — the global row_number that would otherwise be a single
    // reducer). Lazy result ⇒ exit-cleaned scratch, not a Scratch scope.
    "q168_quantile_normalize" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-qnorm-")
      graft.ext.Rank.quantileNormalize(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "doc_id", root)
    },

    // Footer-only aggregates (engine.Skipping.pushedAggregates): COUNT/MIN/
    // MAX answered from parquet metadata via Spark's DSv2 aggregate pushdown
    // — the helper THROWS if the plan didn't actually push, so this query
    // green means no data pages were read. Oracle recomputes over the data.
    "q169_agg_pushdown" -> { (s, dir) =>
      graft.engine.Skipping.pushedAggregates(s, s"$dir/lineitem.parquet",
        Seq("l_orderkey", "l_quantity", "l_extendedprice"))
    },

    // Gaps-and-islands activity streaks (ext.TimeSeries.activityStreaks):
    // per user, consecutive-active-day runs via the dayNumber − row_number
    // island key — no self-join, no iteration.
    "q170_streaks" -> { (s, dir) =>
      graft.ext.TimeSeries.activityStreaks(eventsTable(s, dir), "user_id", "ts")
    },

    // Grouped OLS (engine.Profile.groupedOls): exact per-returnflag slope /
    // intercept of price-on-quantity from one sufficient-stats aggregate —
    // decimal(38,0) products, micro-unit integer division (q92's sufficient
    // stats carried through to the model coefficients).
    "q171_group_ols" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      graft.engine.Profile.groupedOls(li, "l_returnflag", "x", "y")
    },

    // Stream-STREAM interval join: views and clicks (two watermarked streams
    // over the same event source) joined per user when the click lands within
    // one hour AFTER the view — the attribution join run with streaming state
    // on BOTH sides (watermark + range condition bound each side's state).
    // Inner-join matches emit as found (append mode), so the AvailableNow
    // drain equals the batch interval join the oracle runs. Aggregated per
    // user AFTER the sink, batch-side.
    "q172_stream_stream_join" -> { (s, dir) =>
      val views = eventsStream(s, dir).filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
        .withWatermark("view_ts", "2 hours")
      val clicks = eventsStream(s, dir).filter(col("event_type") === "click")
        .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "2 hours")
      val joined = views.join(clicks, expr(
        """user_id = click_user AND
          |click_ts >= view_ts AND
          |click_ts <= view_ts + interval 1 hour""".stripMargin))
      val sinkName = "graft_stream_stream"
      s.catalog.dropTempView(sinkName)
      withStreamShuffle(s, pathBytes(s"$dir/events.parquet")) {
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName(sinkName)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sinkName).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("view_id")).as("view_checksum"),
          sum(col("click_id")).as("click_checksum"))
    },

    // Incremental LSH dedup-index maintenance (ext.Dedup.lshIndexBuild /
    // lshIndexProbeAppend): the base corpus is signed ONCE into a persistent
    // batch-partitioned bucket+shingle index; two delta batches (perturbed
    // copies of the even / odd docs) are each signed once, appended, and
    // probed — per-batch cost ∝ delta, and each near-dup pair is reported
    // exactly once, by the batch that completed it. Oracle = the full-corpus
    // MinHash replay filtered to pairs completed by each delta.
    "q173_lsh_index_maintenance" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-lshidx-")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def strip = regexp_replace(col("text"), "^\\S+\\s*", "")
      val d1 = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), strip.as("text"))
      val d2 = docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 200000L).as("doc_id"), strip.as("text"))
      Dedup.lshIndexBuild(docs, s"$root/idx", batch = 0)
      val p1 = Dedup.lshIndexProbeAppend(s, s"$root/idx", d1, 1, threshold = 0.5)
        .withColumn("batch", lit(1))
      val p2 = Dedup.lshIndexProbeAppend(s, s"$root/idx", d2, 2, threshold = 0.5)
        .withColumn("batch", lit(2))
      p1.unionAll(p2)
    },

    // Welch's t² per day (engine.Profile.welchTSquared): click vs view value
    // distributions compared with the unequal-variance test statistic,
    // squared so it stays rational — exact decimal(38,0) integer arithmetic,
    // one conditional aggregation pass for both samples.
    "q174_ab_test" -> { (s, dir) =>
      val e = eventsTable(s, dir).filter(col("value").isNotNull)
        .select(to_date(col("ts")).cast("string").as("day"), col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      graft.engine.Profile.welchTSquared(e, "day", "event_type", "cents",
        "click", "view")
    },

    // Herfindahl concentration (engine.Profile.concentration): how dominated
    // each event type is by its heaviest users — exact integer count algebra,
    // two strict key-coarsening aggregates.
    "q175_concentration" -> { (s, dir) =>
      graft.engine.Profile.concentration(eventsTable(s, dir), "event_type", "user_id")
    },

    // Lag-1 autocorrelation per user (ext.TimeSeries.lagAutocorrelation):
    // signed squared Pearson r of consecutive event values — trend vs
    // mean-reversion per entity, rational and engine-exact. Ties on (user,
    // ts) pre-aggregate to max-cents, as in q166.
    "q176_autocorr" -> { (s, dir) =>
      val obs = eventsTable(s, dir).filter(col("value").isNotNull)
        .groupBy(col("user_id"), unix_micros(col("ts")).as("__t_us"))
        .agg(max(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("__cents"))
      graft.ext.TimeSeries.lagAutocorrelation(obs, "user_id",
        col("__t_us"), col("__cents"))
    },

    // Functional-dependency audit (engine.Expectations.functionalDependency):
    // o_orderkey → o_custkey must HOLD (0 violations); user_id → event_type
    // is expected to fail — the data-contract check before trusting a column
    // as a lookup key.
    "q177_fd_audit" -> { (s, dir) =>
      graft.engine.Expectations.functionalDependency(
          t(s, dir, "orders"), "orderkey_determines_custkey",
          Seq("o_orderkey"), Seq("o_custkey"))
        .unionAll(graft.engine.Expectations.functionalDependency(
          eventsTable(s, dir), "user_determines_event_type",
          Seq("user_id"), Seq("event_type")))
    },

    // Materialized-view rewrite (plans.MaterializedViews): the revenue
    // summary is materialized once; the SAME aggregate query, re-planned with
    // the rewrite rule installed, is answered by SCANNING the summary — the
    // query REQUIREs the optimized plan to contain the MV path and no
    // Aggregate, so a silent rewrite miss fails loudly instead of passing on
    // the recomputed answer. Oracle recomputes from base — proving the
    // rewrite is sound, not just present.
    "q178_mv_rewrite" -> { (s, dir) =>
      import graft.plans.MaterializedViews
      val root = tempDirCleanedOnExit("graft-mv-")
      def aggDf = s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
      MaterializedViews.clear()
      MaterializedViews.create(s, aggDf, s"$root/mv")
      val rule = MaterializedViews.rewriteRule
      s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ rule
      try {
        val q = aggDf
        // the logical plan string doesn't print file locations — inspect the
        // relation node itself: no Aggregate left, and the leaf scans the MV
        val opt = q.queryExecution.optimizedPlan
        val scansMv = opt.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.exists(_.toString.contains(s"$root/mv"))
              case _ => false
            }
        }
        val hasAgg = opt.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.isDefined
        require(!hasAgg && scansMv.contains(true),
          s"MV rewrite did not fire:\n$opt")
        val rows = q.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
      } finally {
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations.filterNot(_ eq rule)
        MaterializedViews.clear()
      }
    },

    // BPE encode (ext.TextAnalysis.bpeEncode): q149 learns the merges; this
    // APPLIES them — the 4-round vocabulary unrolled into chained codegen'd
    // replaces, one projection pass over the corpus. Oracle replays the same
    // trainer AND encoder in SQL from the shared CTE chain.
    "q179_bpe_encode" -> { (s, dir) =>
      graft.ext.TextAnalysis.bpeEncode(
        t(s, dir, "documents"), "doc_id", col("text"), rounds = 4)
    },

    // Largest-remainder quota allocation (ext.Sampling
    // .largestRemainderQuotas): the per-source document budget for a
    // 1000-doc target mixture — floors + top-remainder seats, Σquota exactly
    // 1000, no float shares.
    "q180_quota_allocation" -> { (s, dir) =>
      graft.ext.Sampling.largestRemainderQuotas(
        t(s, dir, "documents"), col("source"), total = 1000L)
    },

    // Distributed 2-D skyline (ext.Rank.skyline2D): documents on the Pareto
    // frontier of (length, distinct vocabulary) — range exchange on x +
    // partition-metadata prefix maxima; the naive form is the quadratic
    // NOT-EXISTS self-join the oracle runs.
    "q181_skyline" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-skyline-")
      val pts = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("long").as("x"),
        size(array_distinct(split(trim(col("text")), "\\s+")))
          .cast("long").as("y"))
      graft.ext.Rank.skyline2D(pts, "x", "y", root)
    },

    // Custom physical operator (plans.GroupedTopK): top-3 orders per
    // priority through GroupedTopKExec — bounded per-group heaps, partial
    // pass before the exchange, NO sort anywhere (the window-function form
    // sorts every row of every group). Strategy installed via
    // experimental.extraStrategies; planning fails loudly without it.
    "q182_grouped_topk" -> { (s, dir) =>
      import graft.plans.GroupedTopKStrategy
      if (!s.experimental.extraStrategies.exists(_ eq GroupedTopKStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ GroupedTopKStrategy
      val o = t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.plans.GroupedTopK.topKPerGroup(o,
        Seq("o_orderpriority"), "cents", "o_orderkey", k = 3)
    },

    // Revenue recognition (ext.TimeSeries.prorateOverMonths): each order's
    // cents spread evenly over 3 calendar months with exact remainder
    // allocation — slices sum back to the order to the cent; float proration
    // leaks pennies the oracle would catch.
    "q183_revenue_recognition" -> { (s, dir) =>
      graft.ext.TimeSeries.prorateOverMonths(t(s, dir, "orders"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"),
        col("o_orderdate"), periods = 3)
    },

    // Greedy max-coverage selection (ext.Sampling.greedyCoverage): 3 rounds
    // of "pick the doc covering the most not-yet-covered shingles" — the
    // diverse-subset selection step; oracle unrolls the same greedy rounds
    // as chained CTEs (the BPE-oracle pattern).
    "q184_greedy_coverage" -> { (s, dir) =>
      graft.ext.Sampling.greedyCoverage(t(s, dir, "documents"), rounds = 3)
    },

    // Two-feature grouped OLS (engine.Profile.groupedOls2): price regressed
    // on quantity and discount-percent per returnflag — Cramer's rule on the
    // exact integer moment matrix; one sufficient-stats aggregate, no second
    // pass, no float.
    "q185_group_ols2" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity")).cast("long").as("x1"),
        round(col("l_discount") * 100).cast("long").as("x2"),
        round(col("l_extendedprice")).cast("long").as("y"))
      graft.engine.Profile.groupedOls2(li, "l_returnflag", "x1", "x2", "y")
    },

    // TPC-H Q3 shape through the SQL frontend: 3-way join, date bracketing on
    // both fact sides, top-10 by revenue with an explicit tie-break. Revenue
    // in integer cents per row (ROUND before SUM — both engines round the
    // same double product), so the hash compare is exact.
    "q186_tpch_q3" -> { (s, dir) =>
      Seq("customer", "orders", "lineitem").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT l_orderkey,
          |       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
          |         AS revenue_cents,
          |       o_orderdate
          |FROM customer_v JOIN orders_v ON c_custkey = o_custkey
          |JOIN lineitem_v ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
          |  AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
          |GROUP BY l_orderkey, o_orderdate
          |ORDER BY revenue_cents DESC, l_orderkey ASC
          |LIMIT 10""".stripMargin)
    },

    // TPC-H Q5 shape: six-way snowflake join (customer+supplier co-located in
    // one nation) with region filter — the dims broadcast, the fact joins
    // shuffle once.
    "q187_tpch_q5" -> { (s, dir) =>
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT n_name,
          |       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
          |         AS revenue_cents
          |FROM customer_v JOIN orders_v ON c_custkey = o_custkey
          |JOIN lineitem_v ON l_orderkey = o_orderkey
          |JOIN supplier_v ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |JOIN nation_v ON s_nationkey = n_nationkey
          |JOIN region_v ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY n_name""".stripMargin)
    },

    // TPC-H Q10 shape: returned-item revenue per customer for one quarter,
    // top-20 with tie-break.
    "q188_tpch_q10" -> { (s, dir) =>
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT c_custkey, c_name,
          |       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
          |         AS revenue_cents,
          |       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
          |       n_name
          |FROM customer_v JOIN orders_v ON c_custkey = o_custkey
          |JOIN lineitem_v ON l_orderkey = o_orderkey
          |JOIN nation_v ON c_nationkey = n_nationkey
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
          |  AND l_returnflag = 'R'
          |GROUP BY c_custkey, c_name, acctbal_cents, n_name
          |ORDER BY revenue_cents DESC, c_custkey ASC
          |LIMIT 20""".stripMargin)
    },

    // Dynamic partition overwrite (engine.Sources.overwritePartitions): full
    // monthly build, then a CORRECTED rebuild of one month (urgent orders
    // excluded) overwrites exactly that partition — untouched months keep
    // their original files, which the whole-table hash proves.
    "q189_partition_overwrite" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-dpo-")
      def monthly(src: DataFrame) = src
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
      graft.engine.Sources.overwritePartitions(
        monthly(t(s, dir, "orders")), s"$root/t", "month")
      graft.engine.Sources.overwritePartitions(
        monthly(t(s, dir, "orders")
          .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1996-03")
          .filter(col("o_orderpriority") =!= "1-URGENT")),
        s"$root/t", "month")
      s.read.parquet(s"$root/t").select("month", "n", "rev_cents")
    },

    // CUBE grouping sets with GROUPING() disambiguation — every (segment,
    // nation) subtotal plus both margins and the grand total in one pass.
    "q190_cube" -> { (s, dir) =>
      Seq("customer", "nation").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT c_mktsegment, n_name,
          |       grouping(c_mktsegment) AS g_seg, grouping(n_name) AS g_nat,
          |       COUNT(*) AS n,
          |       SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS bal_cents
          |FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
          |GROUP BY CUBE(c_mktsegment, n_name)""".stripMargin)
    },

    // Interval union (ext.TimeSeries.intervalUnion): total covered time per
    // event_type merging overlapping intervals — Σdurations double-counts
    // concurrency; the sweep-line union doesn't. Same value-minutes
    // intervals as q162's peak-concurrency sibling.
    "q191_interval_union" -> { (s, dir) =>
      val e = eventsTable(s, dir).filter(col("value").isNotNull)
        .withColumn("__start", unix_micros(col("ts")))
        .withColumn("__end",
          col("__start") + expr("CAST(ROUND(value * 100) AS BIGINT) * 600000L"))
      graft.ext.TimeSeries.intervalUnion(e, "event_type",
        col("__start"), col("__end"))
    },

    // kNN classification (Similarity.knnJoin + Labels.majorityVote): each
    // probe vector labeled by the majority of its 5 nearest corpus
    // neighbors, deterministic ties, compared against its own label — the
    // weak-labeling / label-propagation-by-similarity primitive.
    "q192_knn_classify" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val nn = Similarity.knnJoin(probes, corpus, k = 5)
        .join(corpus.select(col("vec_id").as("neighbor_id"), col("label")),
          "neighbor_id")
      graft.ext.Labels.majorityVote(nn, col("query_id"), col("label"))
        .select(col("item").as("vec_id"), col("label").as("predicted"),
          col("n_votes"), col("n_total"))
        .join(probes.select(col("vec_id"), col("label").as("true_label")), "vec_id")
        .withColumn("correct", col("predicted") === col("true_label"))
    },

    // Day-of-week seasonality (ext.TimeSeries.seasonalIndexByDow): how much
    // busier each weekday is than the type's average day — densified span,
    // arithmetic weekday ((epochDay+4) mod 7 — engine-proof), integer
    // cross-multiplied index.
    "q193_seasonality" -> { (s, dir) =>
      graft.ext.TimeSeries.seasonalIndexByDow(eventsTable(s, dir), "event_type", "ts")
    },

    // Benford first-digit audit (engine.Profile.benfordAudit): order totals
    // against the log-uniform leading-digit law — shared per-mille constant
    // table, integer chi-square terms.
    "q194_benford" -> { (s, dir) =>
      graft.engine.Profile.benfordAudit(t(s, dir, "orders"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
    },

    // Audience overlap (engine.Profile.audienceOverlap): pairwise Jaccard of
    // user sets per event type — per-entity bounded pair explode, never a
    // category×category self-join of the activity table.
    "q195_audience_overlap" -> { (s, dir) =>
      graft.engine.Profile.audienceOverlap(eventsTable(s, dir),
        col("user_id"), col("event_type"))
    },

    // Holt double exponential smoothing (ext.TimeSeries.holtLinearPerKey):
    // level+trend forecast per user over event cents, integer per-mille fold
    // — q140's EWMA flattened trends; this one follows them.
    "q196_holt_linear" -> { (s, dir) =>
      val obs = eventsTable(s, dir).filter(col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("event_id"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      graft.ext.TimeSeries.holtLinearPerKey(obs, "user_id",
        Seq("t_us", "event_id"), "cents")
    },

    // CUSUM changepoint (ext.TimeSeries.cusumChangepoint): the day each
    // event type's daily level shifted most — integer-scaled cumulative
    // deviation, argmax with earliest-day tie-break.
    "q197_cusum_changepoint" -> { (s, dir) =>
      graft.ext.TimeSeries.cusumChangepoint(eventsTable(s, dir), "event_type", "ts")
    },

    // DAU/WAU stickiness: q150's exact rolling-distinct machinery at windows
    // 1 and 7 joined per day — the product-engagement ratio, integer milli.
    "q198_stickiness" -> { (s, dir) =>
      val e = eventsTable(s, dir)
      val dau = graft.ext.TimeSeries.rollingDistinct(e, "user_id", "ts", windowDays = 1)
      val wau = graft.ext.TimeSeries.rollingDistinct(e, "user_id", "ts", windowDays = 7)
      dau.join(wau, Seq("window_day"))
        .select(col("window_day"), col("active_1d"), col("active_7d"),
          expr("1000L * active_1d DIV active_7d").as("stickiness_milli"))
    },

    // Exact weighted median (ext.Rank.weightedMedian): the quantity-weighted
    // median line price — threshold rank from the weighted-prefix machinery,
    // value fetch from the rank selector; no global sort anywhere.
    "q199_weighted_median" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("price_cents"),
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity")).cast("long").as("w"))
      graft.ext.Rank.weightedMedian(li,
        Seq("price_cents", "l_orderkey", "l_linenumber"), "price_cents", "w")
    },

    // Hierarchical percent-of-parent: nation revenue share within its region
    // and region share of the total — broadcast parent totals, integer
    // per-mille shares.
    "q200_hierarchy_share" -> { (s, dir) =>
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
      val regionTot = rev.groupBy(col("r_name"))
        .agg(sum(col("rev_cents")).as("region_rev_cents"))
      val grandTot = rev.agg(sum(col("rev_cents")).as("total_rev_cents"))
      rev.join(broadcast(regionTot), Seq("r_name"))
        .crossJoin(broadcast(grandTot))
        .select(col("r_name"), col("n_name"), col("rev_cents"),
          col("region_rev_cents"),
          expr("1000L * rev_cents DIV region_rev_cents").as("share_of_region_milli"),
          expr("1000L * region_rev_cents DIV total_rev_cents").as("region_share_milli"))
    },

    // Dynamic partition pruning: the fact table is month-partitioned; the
    // quarter filter lives on the DIM side only, so static pruning can't
    // fire — Spark's DPP injects the dim's surviving months into the fact
    // scan's PartitionFilters at runtime (the plan is REQUIREd to carry
    // `dynamicpruningexpression`, so a silent full scan fails loudly). At
    // 100 TB this is reading 3 months instead of 80.
    "q201_dynamic_partition_pruning" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-dpp-")
      t(s, dir, "orders")
        .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.partitionBy("month").mode("overwrite").parquet(s"$root/fact")
      val months = (1995 to 2001).flatMap(y =>
        (1 to 12).map(m => (f"$y-$m%02d", s"$y-Q${(m - 1) / 3 + 1}")))
      import s.implicits._
      months.toDF("month", "quarter").write.mode("overwrite").parquet(s"$root/dim")
      val res = s.read.parquet(s"$root/fact")
        .join(s.read.parquet(s"$root/dim").filter(col("quarter") === "1996-Q2"), "month")
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
      require(res.queryExecution.executedPlan.toString.contains("dynamicpruningexpression"),
        "q201: dynamic partition pruning did not reach the fact scan")
      res
    },

    // RFM quintile scoring: recency/frequency/monetary per customer,
    // bucketed 1–5 by EXACT quintile cutpoints from the distributed rank
    // selector (ext.Rank.valueAtRanks) — cutpoints broadcast as literals
    // into a codegen'd CASE, so no global NTILE window ever runs. Bucket =
    // 1 + #cutpoints strictly below the value (deterministic under ties).
    "q202_rfm_scores" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      // generic get: the parquet footer may report o_orderdate as TIMESTAMP
      // or TIMESTAMP_NTZ (LocalDateTime) — lit() handles either
      val maxDate = o.agg(max(col("o_orderdate"))).head().get(0)
      val cust = o.groupBy(col("o_custkey"))
        .agg(datediff(lit(maxDate), max(col("o_orderdate"))).cast("long").as("r_days"),
          count(lit(1)).as("f"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("m_cents"))
      def cutsOf(c: String): Seq[Long] = {
        val row = ext.Rank.valueAtRanks(cust, Seq(c, "o_custkey"), c,
          n => (1 to 4).map(i => (s"c$i", i * n / 5))).head()
        (1 to 4).map(i => row.getLong(i))
      }
      def bucket(c: String, cuts: Seq[Long]) = cuts
        .map(cut => when(col(c) > lit(cut), 1L).otherwise(0L))
        .reduce(_ + _) + 1L
      val (rc, fc, mc) = (cutsOf("r_days"), cutsOf("f"), cutsOf("m_cents"))
      cust
        .withColumn("r_q", bucket("r_days", rc))
        .withColumn("f_q", bucket("f", fc))
        .withColumn("m_q", bucket("m_cents", mc))
        .withColumn("rfm", col("r_q") * 100L + col("f_q") * 10L + col("m_q"))
    },

    // FIFO allocation (engine.Joins.fifoMatch): per part, 'N' lineitems are
    // supply and 'R' lineitems demand, matched first-in-first-out by ship
    // order — running-sum unit intervals + one interval-intersection join,
    // the set-based form of the sequential lot-matching loop.
    "q203_fifo_allocation" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .withColumn("qty", round(col("l_quantity")).cast("long"))
      graft.engine.Joins.fifoMatch(
        li.filter(col("l_returnflag") === "N"),
        li.filter(col("l_returnflag") === "R"),
        "l_partkey", "qty", Seq("l_shipdate", "l_orderkey", "l_linenumber"))
    },

    // Component-size distribution — the dedup-graph observability readout on
    // top of q65's connected components: how many duplicate clusters of each
    // size exist (the giant-component check before trusting a dedup pass).
    "q204_component_sizes" -> { (s, dir) =>
      val pairs = Dedup.minhashNearDuplicatesPortable(
          docsWithPlantedNearDups(s, dir), threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      graft.ext.Graph.connectedComponents(pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("__n"))
        .groupBy(col("__n").as("component_size"))
        .agg(count(lit(1)).as("n_components"))
    },

    // Recency-decayed engagement score: Σ cents·weight(age_days) per user,
    // with the 0.9^age per-mille weight TABLE precomputed once in Scala and
    // emitted verbatim into the oracle's VALUES — irrational decay powers
    // become shared integer constants, so the score is engine-exact.
    "q205_decay_score" -> { (s, dir) =>
      import s.implicits._
      val weights = broadcast(DecayPermille.toDF("age_days", "w_permille"))
      val e = eventsTable(s, dir).filter(col("value").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("__d"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("__cents"))
      val asOf = e.agg(max(col("__d")).as("__mx"))
      e.crossJoin(broadcast(asOf))
        .withColumn("age_days", datediff(col("__mx"), col("__d")))
        .join(weights, "age_days")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("__cents") * col("w_permille")).as("score_milli"))
    },

    // Pareto 80/20 readout: what share of revenue the top fifth of customers
    // carries — top-k by (cents, custkey) is a TakeOrdered (never a global
    // sort), totals broadcast, integer per-mille share.
    "q206_pareto_share" -> { (s, dir) =>
      val cust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("m_cents"))
      val n = cust.count()
      val k = (n / 5).toInt
      val top = cust.orderBy(col("m_cents").desc, col("o_custkey").asc).limit(k)
        .agg(sum(col("m_cents")).as("top_cents"))
      val tot = cust.agg(count(lit(1)).as("n_customers"),
        sum(col("m_cents")).as("total_cents"))
      tot.crossJoin(broadcast(top))
        .select(col("n_customers"), lit(k.toLong).as("k"),
          col("top_cents"), col("total_cents"),
          expr("1000L * top_cents DIV total_cents").as("top_share_milli"))
    },

    // Duplicate-payment audit (the Benford screen's operational sibling):
    // pairs of orders by the SAME customer for the IDENTICAL amount within 7
    // days — an EQUI-join on (custkey, cents) with a date residual, so the
    // join degree is the duplicate-amount multiplicity, never all-pairs.
    // Every 100th order is planted as a double submission two days later
    // (random amounts almost never collide exactly — the planted positives
    // prove the audit finds what it must).
    "q207_duplicate_payments" -> { (s, dir) =>
      val base = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      val o = base.unionAll(base.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_custkey"), (col("o_orderkey") + 10000000L).as("o_orderkey"),
          expr("o_orderdate + INTERVAL 2 DAYS").as("o_orderdate"), col("cents")))
      o.as("a").join(o.as("b"),
          col("a.o_custkey") === col("b.o_custkey") &&
            col("a.cents") === col("b.cents") &&
            col("a.o_orderkey") < col("b.o_orderkey"))
        .withColumn("gap_days",
          abs(datediff(col("b.o_orderdate"), col("a.o_orderdate"))).cast("long"))
        .filter(col("gap_days") <= 7L)
        .select(col("a.o_custkey").as("o_custkey"),
          col("a.o_orderkey").as("orderkey_a"), col("b.o_orderkey").as("orderkey_b"),
          col("a.cents").as("cents"), col("gap_days"))
    },

    // View abandonment (batch anti interval join): views with NO click by
    // the same user within the following hour — per user, abandonment rate
    // in integer milli. The anti form of q172's stream-stream join.
    "q208_view_abandonment" -> { (s, dir) =>
      val e = eventsTable(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("vt"),
          col("event_id").as("view_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), unix_micros(col("ts")).as("ct"))
      val abandoned = views.join(clicks,
          col("user_id") === col("cu") &&
            col("ct") >= col("vt") && col("ct") <= col("vt") + 3600000000L,
          "left_anti")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_abandoned"))
      views.groupBy(col("user_id")).agg(count(lit(1)).as("n_views"))
        .join(abandoned, Seq("user_id"), "left")
        .select(col("user_id"), col("n_views"),
          coalesce(col("n_abandoned"), lit(0L)).as("n_abandoned"))
        .withColumn("abandon_milli", expr("1000L * n_abandoned DIV n_views"))
    },

    // SQL frontend, TPC-H Q18 shape (large-volume customers): group-having
    // SEMI-join — the IN (GROUP BY ... HAVING) subquery plans as an
    // aggregate-then-left-semi against orders, a rewrite q186-q188's
    // plain-join shapes never exercise. Threshold 180 ≈ p99.5 of per-order
    // quantity in the testdata (TPC-H's 300-at-7-lines scaled to this
    // generator's line count). Money in integer cents, deterministic
    // (totalprice, orderkey) order.
    "q209_tpch_q18" -> { (s, dir) =>
      Seq("customer", "orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT c_name, c_custkey, o_orderkey,
          |       CAST(o_orderdate AS DATE) AS orderdate,
          |       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
          |       CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sum_qty
          |FROM customer_v JOIN orders_v ON c_custkey = o_custkey
          |JOIN lineitem_v ON o_orderkey = l_orderkey
          |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem_v
          |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 180)
          |GROUP BY c_name, c_custkey, o_orderkey, orderdate, totalprice_cents
          |ORDER BY totalprice_cents DESC, o_orderkey
          |LIMIT 100""".stripMargin)
    },

    // SQL frontend, TPC-H Q21 shape (suppliers who kept orders waiting):
    // correlated EXISTS + NOT EXISTS on the same fact — plans as a
    // left-semi AND a left-anti against lineitem, the double-subquery
    // rewrite none of the other SQL-frontend queries hit. "Late" is
    // shipdate > orderdate + 90 days (the testdata has no
    // commit/receipt dates; the shape, not the calendar, is the point).
    "q210_tpch_q21" -> { (s, dir) =>
      Seq("supplier", "lineitem", "orders", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
          |FROM supplier_v JOIN lineitem_v l1 ON s_suppkey = l1.l_suppkey
          |JOIN orders_v ON o_orderkey = l1.l_orderkey
          |JOIN nation_v ON s_nationkey = n_nationkey
          |WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
          |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
          |  AND EXISTS (SELECT 1 FROM lineitem_v l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem_v l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 100""".stripMargin)
    },

    // Medallion spine, CATEGORY gold table: same portable sales batches and
    // bronze drain as q18, but the gold read-out is categorySalesSummary —
    // which exercises the broadcast product-dimension join (OP-34) through
    // the hash oracle (the pick index → product → category mapping is
    // replayed from the same literal catalogues in DuckDB).
    "q211_medallion_category" -> { (s, _) =>
      val root = tempDirCleanedOnExit("graft-medallion-cat-")
      val bronze = Layout.bronzeDir(root, "sales")
      (1 to 2).foreach { b =>
        Generators.salesBatch(s, 150, seed = 42 + b,
            baseTs = s"2026-01-0$b 00:00:00", injectDuplicate = b == 2)
          .coalesce(1)
          .write.option("header", "true").mode("append").csv(bronze)
      }
      Incremental.drainBronzeToSilver(s, "sales", bronze,
        Layout.silverDir(root, "sales"), Layout.checkpointDir(root, "sales"))
      Gold.categorySalesSummary(Sources.readSilver(s, Layout.silverDir(root, "sales")))
    },

    // Medallion spine, EVENTS domain: portable customer-events batches
    // (UNKNOWN-enum + null-customer defects) through the bronze drain and
    // silver's enum/required validation (OP-11/12), read out as the
    // customer-activity gold table — the INVALID_EVENT_TYPE rule is now
    // hash-verified end to end, not just unit-tested.
    "q212_medallion_activity" -> { (s, _) =>
      val root = tempDirCleanedOnExit("graft-medallion-evt-")
      val bronze = Layout.bronzeDir(root, "customer_events")
      (1 to 2).foreach { b =>
        Generators.customerEventsBatch(s, 150, seed = 60 + b,
            baseTs = s"2026-01-0$b 00:00:00", injectDuplicate = b == 2)
          .coalesce(1)
          .write.option("header", "true").mode("append").csv(bronze)
      }
      Incremental.drainBronzeToSilver(s, "customer_events", bronze,
        Layout.silverDir(root, "customer_events"),
        Layout.checkpointDir(root, "customer_events"))
      Gold.customerActivitySummary(
        Sources.readSilver(s, Layout.silverDir(root, "customer_events")))
    },

    // Medallion spine, INVENTORY domain: portable inventory batches
    // (TRANSFER-enum + null/zero-quantity defects) through the drain and
    // silver's range/enum checks (OP-12/13), read out as the PIVOT gold
    // table with explicit-value backfill (OP-28/29/30) — the conditional-sum
    // pivot compilation is hash-verified against DuckDB's CASE sums.
    "q213_medallion_inventory" -> { (s, _) =>
      val root = tempDirCleanedOnExit("graft-medallion-inv-")
      val bronze = Layout.bronzeDir(root, "inventory")
      (1 to 2).foreach { b =>
        Generators.inventoryBatch(s, 150, seed = 70 + b,
            baseTs = s"2026-01-0$b 00:00:00", injectDuplicate = b == 2)
          .coalesce(1)
          .write.option("header", "true").mode("append").csv(bronze)
      }
      Incremental.drainBronzeToSilver(s, "inventory", bronze,
        Layout.silverDir(root, "inventory"), Layout.checkpointDir(root, "inventory"))
      Gold.inventoryNetPosition(Sources.readSilver(s, Layout.silverDir(root, "inventory")))
    },

    // The INCREMENTAL-gold medallion, hash-verified: two full ticks (bronze
    // batch → silver drain → incrementalGoldDomain maintaining ALL sales
    // gold tables with dynamic partition overwrite), then the MAINTAINED
    // daily table is read back and compared to the same DuckDB replay as
    // q18 — proving the O(touched-partitions) incremental path lands on
    // bit-identical values to the batch spine, against an external engine.
    // Tick 2's batch overlaps tick 1's dates, so a previously-built date
    // partition really is rebuilt, not appended.
    "q214_incremental_gold_medallion" -> { (s, _) =>
      val root = tempDirCleanedOnExit("graft-medallion-inc-")
      val bronze = Layout.bronzeDir(root, "sales")
      val silver = Layout.silverDir(root, "sales")
      (1 to 2).foreach { b =>
        Generators.salesBatch(s, 150, seed = 42 + b,
            baseTs = s"2026-01-0$b 00:00:00", injectDuplicate = b == 2)
          .coalesce(1)
          .write.option("header", "true").mode("append").csv(bronze)
        Incremental.drainBronzeToSilver(s, "sales", bronze, silver,
          Layout.checkpointDir(root, "sales"))
        Incremental.incrementalGoldDomain(s, "sales", silver,
          s"$root/gold", s"$root/.state/gold_all")
      }
      s.read.parquet(Layout.goldDir(s"$root/gold", "daily_sales_summary"))
        .select(col("date"), col("total_revenue"), col("order_count"),
          col("avg_order_value"), col("unique_customers"))
    },

    // Pearson χ² independence (engine.Profile.chiSquareIndependence): is the
    // event mix independent of weekday? Exact rational statistic (no logs)
    // in DECIMAL(38,0) with per-cell micro truncation; the margin grid is
    // alphabet×7, built by broadcast cross of the two margin aggregates.
    // ISO weekday via weekday()+1 ↔ DuckDB isodow.
    "q215_chi_square" -> { (s, dir) =>
      graft.engine.Profile.chiSquareIndependence(
        eventsTable(s, dir).select(col("event_type"),
          (weekday(col("ts")) + 1).as("dow")),
        col("event_type"), col("dow"))
    },

    // SHALLOW CLONE (engine.Incremental.shallowCloneVersion): zero-copy
    // branch of the versioned customer state — clone v=0 is a manifest of
    // absolute file references, the clone then evolves independently via its
    // own committed upsert while the source stays untouched; both sides are
    // read back and aggregated per segment. The "branch a 100 TB table for
    // an experiment" primitive (Delta CLONE shape, manifest-atomic).
    "q216_shallow_clone" -> { (s, dir) =>
      val I = graft.engine.Incremental
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.engine.Scratch.withTempDir("graft-clone-") { tmp =>
        I.commitVersion(cust.coalesce(1), s"$tmp/src", 0L)
        I.shallowCloneVersion(s, s"$tmp/src", 0L, s"$tmp/clone")
        val updates = cust.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_mktsegment", lit("SEG_CLONE"))
        I.commitVersion(
          graft.engine.Merge.upsert(I.readShallowClone(s, s"$tmp/clone"),
            updates, Seq("c_custkey")).drop("merge_action").coalesce(1),
          s"$tmp/clone", 1L)
        val src = I.latestUpsertStateBefore(s, s"$tmp/src", Long.MaxValue).get
          .withColumn("side", lit("source"))
        val clone = I.readShallowClone(s, s"$tmp/clone")
          .withColumn("side", lit("clone"))
        // aggregate eagerly: the temp state dir dies with this scope
        val rows = src.unionByName(clone)
          .groupBy(col("side"), col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"), sum(col("bal_cents")).as("bal_sum_cents"))
          .collect().toSeq
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        import s.implicits._
        rows.toDF("side", "segment", "n", "bal_sum_cents")
      }
    },

    // Linear interpolation onto the daily grid (ext.TimeSeries
    // .linearInterpolateDaily, the sibling of q135's LOCF): sparse per-
    // customer daily spend resampled with integer-exact slope division —
    // observed days keep exact values, holes get ⌊y0 + Δy·i/gap⌋.
    "q217_interpolation" -> { (s, dir) =>
      val daily = t(s, dir, "orders").filter(col("o_custkey") < 20)
        .groupBy(col("o_custkey").as("k"), to_date(col("o_orderdate")).as("d"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("y"))
      graft.ext.TimeSeries.linearInterpolateDaily(daily, "k", col("d"), col("y"))
    },

    // Blocking-scheme recall audit (ext.Dedup.recallAudit): MinHash banding
    // (8 bands × 4 rows, verified at τ=0.6) audited against the exact
    // prefix-filter join as ground truth on the planted-near-dup corpus —
    // the tuning harness for "are 8 bands enough at this threshold",
    // answered with hash-verified integers instead of folklore.
    "q218_banding_recall" -> { (s, dir) =>
      val docs = docsWithPlantedNearDups(s, dir)
      val truth = graft.ext.Dedup.prefixFilterJaccardPairs(docs, k = 3, tauMilli = 600L)
      val found = graft.ext.Dedup.minhashNearDuplicatesPortable(docs, threshold = 0.6)
      graft.ext.Dedup.recallAudit(truth, found, Seq("id_a", "id_b"))
    },

    // Ranking-window family completeness: percent_rank / cume_dist /
    // nth_value / first-last over per-customer order history — all
    // partition-local (shuffle on the customer key, no global window), with
    // a total (date, orderkey) order so every rank function is
    // deterministic. percent_rank and cume_dist are rank-ratio doubles:
    // identical integer operands → identical IEEE quotients on any engine.
    "q219_window_family" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").filter(col("o_custkey") % 50 === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("o_orderkey"), 2).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("second_key"),
          first(col("o_orderkey")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_key"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("price_cents"))
    },

    // Clustering-quality readout (ext.Graph.modularityMicro): Newman
    // modularity of the connected-component partition over the verified
    // near-dup graph — integer-exact micro Q via per-cluster truncation.
    // The "is dedup one hairball or many tight clusters" gauge.
    "q220_modularity" -> { (s, dir) =>
      // edges feed the CC and the modularity scorer — persist + truncate
      // once (the q321 discipline)
      val edges = Frames.rebind(Frames.scope().keep(
        Dedup.minhashNearDuplicatesPortable(
          docsWithPlantedNearDups(s, dir), threshold = 0.5)
        .select(col("id_a"), col("id_b"))))
      val labels = graft.ext.Graph.connectedComponents(edges)
        .withColumnRenamed("component", "label")
      graft.ext.Graph.modularityMicro(edges, labels,
        nodeCol = "id", labelCol = "label")
    },

    // Mixture balancing by RAKING (ext.Sampling.rakeWeights): 2 IPF rounds
    // fitting per-mille cell weights so order-priority marginals hit
    // (300,250,200,150,100) AND status marginals hit (500,300,200)
    // simultaneously — the two-constraint corpus-reweighting primitive,
    // bit-exact in integer milli-weights.
    "q221_raking" -> { (s, dir) =>
      graft.ext.Sampling.rakeWeights(t(s, dir, "orders"),
        col("o_orderpriority"), col("o_orderstatus"),
        rowTargetPermille = Seq("1-URGENT" -> 300L, "2-HIGH" -> 250L,
          "3-MEDIUM" -> 200L, "4-NOT SPECIFIED" -> 150L, "5-LOW" -> 100L),
        colTargetPermille = Seq("F" -> 500L, "O" -> 300L, "P" -> 200L),
        iters = 2)
    },

    // Multimodal, hash-verified through the BINARY path: integer-sawtooth
    // PCM synthesized per media row, encoded as a REAL RIFF/WAVE payload
    // (MediaCodecs.wavBytes), parsed back by the real decoder, and analyzed
    // with integer-exact stats — while the DuckDB oracle computes the same
    // integers straight from the sawtooth formula, never seeing a byte. Any
    // drift anywhere in encode/parse/analyze breaks the hash. The typed map
    // is the legitimate codec-boundary use (binary synthesis + decode).
    "q222_audio_stats" -> { (s, _) =>
      import s.implicits._
      s.range(64).as[Long].map { id =>
        val n = (800 + (id % 7) * 50).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 17 + i.toLong * 257) % 65536) - 32768).toShort)
        val st = graft.ext.MediaCodecs.audioStatsMilli(
          graft.ext.MediaCodecs.wavBytes(rate, 1, samples)).get
        (id, st._1, st._2, st._3, st._4, st._5)
      }.toDF("media_id", "n_samples", "sample_rate", "peak_abs",
        "rms_sq_micro", "n_clipped")
    },

    // The image sibling of q222: deterministic RGB ramps encoded as REAL
    // 24 bpp BMP payloads (bottom-up rows, 4-byte padding), decoded by the
    // real parser into integer BT.601 luma, bucketed into an 8-bin
    // histogram — oracle replays the pixel arithmetic directly. Proves the
    // BMP encode/decode path (incl. row order and padding) bit-exactly.
    "q223_bmp_luma" -> { (s, _) =>
      import s.implicits._
      s.range(48).as[Long].flatMap { id =>
        val w = (16 + id % 5).toInt
        val h = (12 + id % 3).toInt
        val bytes = graft.ext.MediaCodecs.bmpBytes(w, h, (x, y) => (
          ((x * 7 + y * 13 + id) % 256).toInt,
          ((x * 3 + y * 5 + 2 * id) % 256).toInt,
          ((x * 11 + y + 3 * id) % 256).toInt))
        graft.ext.MediaCodecs.lumaHistogram(bytes, 8).get
          .zipWithIndex.filter(_._1 > 0)
          .map { case (cnt, b) => (id, b.toLong, cnt) }
      }.toDF("media_id", "bucket", "n_pixels")
    },

    // Spark 4 VARIANT type end to end: events.props is parsed to VARIANT,
    // re-shredded into a NESTED variant (object + array), and extracted with
    // typed `variant_get` paths (object field + array index) — the
    // semi-structured column story without a fixed schema. The oracle
    // replays the same integers from the raw JSON, so the variant
    // encode/extract path is hash-verified.
    "q224_variant" -> { (s, dir) =>
      eventsTable(s, dir)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .select(col("event_type"),
          expr("parse_json(concat('{\"meta\":{\"k\":', CAST(k AS STRING), " +
            "'},\"tags\":[', CAST(k % 3 AS STRING), ',', CAST(k % 5 AS STRING), ']}'))")
            .as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.meta.k', 'long')").as("kk"),
          expr("variant_get(v, '$.tags[1]', 'long')").as("t1"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("kk")).as("k_sum"),
          sum(col("t1")).as("tag_sum"))
    },

    // Spark 4 recursive CTE through the SQL frontend: genuine transitive
    // closure (ancestor chains over the p -> p DIV 2 binary-tree edge set
    // on part keys) — depth histogram with a node checksum per level. The
    // reference has no recursion anywhere; Spark's WITH RECURSIVE executes
    // this as an iterative union plan with the recursion-depth guard.
    "q225_recursive_cte" -> { (s, dir) =>
      t(s, dir, "part").createOrReplaceTempView("part_v")
      s.sql(
        """WITH RECURSIVE up(node, anc, depth) AS (
          |  SELECT p_partkey, p_partkey DIV 2, 1 FROM part_v WHERE p_partkey > 1
          |  UNION ALL
          |  SELECT node, anc DIV 2, depth + 1 FROM up WHERE anc > 1
          |)
          |SELECT depth, COUNT(*) AS n_nodes, SUM(node) AS node_checksum
          |FROM up GROUP BY depth""".stripMargin)
    },

    // Referential-consistent pseudonymization (GDPR tokenization): customer
    // keys replaced by salted-md5 pseudonyms on BOTH sides of the
    // customer⋈orders join — the join still works, per-segment aggregates
    // are unchanged, and min(pseudonym) per segment puts actual token
    // values under the hash so the mapping itself is verified. Orphan
    // pseudonyms are counted (referential integrity survives tokenization).
    "q226_pseudonymization" -> { (s, dir) =>
      def pseudo(c: Column) = md5(concat(lit("graft-v1:"), c.cast("string")))
      val cust = t(s, dir, "customer")
        .select(pseudo(col("c_custkey")).as("p"), col("c_mktsegment"))
      val ord = t(s, dir, "orders")
        .select(pseudo(col("o_custkey")).as("p"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      val orphans = ord.join(cust, Seq("p"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_orders"))
      cust.join(ord, Seq("p"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("rev_cents"),
          countDistinct(col("p")).as("n_customers"),
          min(col("p")).as("min_pseudonym"))
        .crossJoin(broadcast(orphans))
    },

    // DYNAMIC-gap session windows: Spark's native session_window with a
    // per-event gap expression (views keep a session alive 30 min, other
    // events 5 min) — the engagement-dependent timeout the fixed-gap
    // sessionizers (q41/q167) can't express. The oracle replays closed-open
    // interval-merge semantics as the island algorithm (running max of
    // ts+gap) in pure epoch-µs integers.
    "q227_dynamic_sessions" -> { (s, dir) =>
      eventsTable(s, dir)
        .groupBy(col("user_id"),
          expr("session_window(ts, CASE WHEN event_type = 'view' " +
            "THEN '30 minutes' ELSE '5 minutes' END)").as("sw"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("event_checksum"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events"), col("event_checksum"))
    },

    // SQL UNPIVOT through the frontend: the wide per-status monthly revenue
    // pivot (conditional sums) melted back to long form with Spark's native
    // UNPIVOT clause — the SQL-surface sibling of q84's Dataset.unpivot.
    // The oracle replays the melt as a dialect-free UNION ALL.
    "q228_sql_unpivot" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """WITH wide AS (
          |  SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
          |         SUM(CASE WHEN o_orderstatus = 'F'
          |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS F,
          |         SUM(CASE WHEN o_orderstatus = 'O'
          |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS O,
          |         SUM(CASE WHEN o_orderstatus = 'P'
          |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS P
          |  FROM orders_v GROUP BY 1)
          |SELECT month, status, cents
          |FROM wide UNPIVOT (cents FOR status IN (F, O, P))""".stripMargin)
    },

    // LATERAL correlated subquery through the frontend: per region, the
    // top-2 nations by customer count — the "top-k per outer row" shape
    // that plans as a lateral join instead of a window-over-everything.
    "q229_sql_lateral" -> { (s, dir) =>
      Seq("region", "nation", "customer")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT r.r_regionkey, t.n_name, t.n_customers
          |FROM region_v r,
          |LATERAL (
          |  SELECT n.n_name, COUNT(*) AS n_customers
          |  FROM nation_v n JOIN customer_v c ON c.c_nationkey = n.n_nationkey
          |  WHERE n.n_regionkey = r.r_regionkey
          |  GROUP BY n.n_name
          |  ORDER BY n_customers DESC, n.n_name
          |  LIMIT 2) t""".stripMargin)
    },

    // HLL sketch MERGEABILITY, oracle-verified: per event_type, daily
    // DataSketches-HLL user sketches are built independently and merged
    // (hll_union_agg) — the 100 TB pattern where per-partition sketches
    // roll up without re-scanning — and the merged estimate must equal the
    // direct whole-column sketch estimate EXACTLY (HLL union is
    // register-wise max: union-of-sketches ≡ sketch-of-union, so the
    // equality is deterministic, not approximate). The oracle carries the
    // exact distinct count and the literal equality flag — a wrong merge
    // breaks the hash.
    "q230_hll_mergeability" -> { (s, dir) =>
      val e = eventsTable(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("d"), col("user_id"))
      val daily = e.groupBy(col("event_type"), col("d"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val merged = daily.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
      val direct = e.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_direct"),
          countDistinct(col("user_id")).as("n_exact"))
      merged.join(direct, "event_type")
        .select(col("event_type"), col("n_exact"),
          (col("est_merged") === col("est_direct")).as("merge_consistent"))
    },

    // JSON-lines source/sink in the oracle gate: an orders slice is written
    // as JSON (ISO timestamps, shortest-roundtrip doubles), read back
    // through the PERMISSIVE schema reader, and aggregated — the oracle
    // computes the same numbers from the parquet original, so a lossy
    // serialize/parse anywhere in the JSON path breaks the hash.
    "q231_json_roundtrip" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-json-")
      val slice = t(s, dir, "orders").filter(col("o_custkey") % 17 === 0)
      graft.engine.Sources.writeJson(slice, s"$root/j")
      graft.engine.Sources.readBronzeJson(s, slice.schema, s"$root/j")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"),
          countDistinct(col("o_custkey")).as("n_custs"),
          min(col("o_orderkey")).as("min_key"),
          max(to_date(col("o_orderdate"))).as("max_date"))
    },

    // ORC source/sink in the oracle gate, Hive-partitioned: the slice is
    // written month-partitioned (day-grain on a KB-sized slice was measured
    // at 33s of pure directory-commit overhead — the small-file pathology
    // itself) and read back with partition-column inference —
    // columnar-format parity with the parquet path, hash-verified against
    // the parquet original.
    "q232_orc_roundtrip" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-orc-")
      val slice = t(s, dir, "orders").filter(col("o_custkey") % 13 === 0)
      graft.engine.Sources.writeOrc(
        Layout.withDatePartitions(slice, col("o_orderdate")).drop("day").coalesce(1),
        s"$root/orc", "year", "month")
      graft.engine.Sources.readSilverOrc(s, s"$root/orc")
        .groupBy(col("year"), col("month"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(col("o_orderkey")).as("min_key"))
    },

    // CSV QUARANTINE path in the oracle gate: a deterministic CSV with
    // planted malformed rows (every id ≡ 0 mod 19 carries an unparseable
    // amount) read through readBronzeCsvQuarantined — good rows aggregate,
    // bad rows are counted AND identified (id checksum of the quarantined
    // raw lines), all hash-matched against an arithmetic replay. The
    // "bad input is auditable, never silently nulled" contract, verified
    // externally.
    "q233_csv_quarantine" -> { (s, _) =>
      import s.implicits._
      val root = tempDirCleanedOnExit("graft-quarantine-")
      val lines = "id,amount" +: (0L until 500L).map(i =>
        if (i % 19 == 0) s"$i,oops" else s"$i,${i * 37 % 10000}")
      s.createDataset(lines).coalesce(1).write.text(s"$root/csv")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("amount",
          org.apache.spark.sql.types.DoubleType)))
      graft.engine.Sources.readBronzeCsvQuarantined(s, schema, s"$root/csv")
        .agg(
          count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
          count(col("_corrupt_record")).as("n_quarantined"),
          sum(when(col("_corrupt_record").isNull,
            col("amount").cast("long"))).as("good_cents"),
          sum(when(col("_corrupt_record").isNotNull, col("id"))).as("bad_id_checksum"))
    },

    // LOCF through the SQL frontend with IGNORE NULLS: per-user
    // last-observation-carried-forward over the event stream using
    // `last_value(...) IGNORE NULLS` — the windowed-fill idiom q135 builds
    // with the API, here as pure SQL. Values are carried (copied, never
    // recomputed), so cents casts hash exactly.
    "q234_sql_locf" -> { (s, dir) =>
      eventsTable(s, dir).createOrReplaceTempView("events_v")
      s.sql(
        """WITH f AS (
          |  SELECT user_id,
          |         last_value(value) IGNORE NULLS OVER (
          |           PARTITION BY user_id ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
          |  FROM events_v)
          |SELECT user_id,
          |       COUNT(filled) AS n_filled,
          |       SUM(CAST(ROUND(filled * 100) AS BIGINT)) AS cents_checksum
          |FROM f GROUP BY user_id""".stripMargin)
    },

    // ATOMIC multi-table transaction (engine.Incremental.commitTransaction):
    // two derived tables commit together under one marker; a LATER version
    // of one table is deliberately staged WITHOUT its marker (the torn
    // state a crash leaves), and the reader must surface the last PUBLISHED
    // transaction for both tables — the oracle encodes the v1 content, so a
    // reader that leaked the orphan stage hash-mismatches. Cross-table
    // atomicity, externally verified.
    "q235_multi_table_txn" -> { (s, dir) =>
      val I = graft.engine.Incremental
      def custAgg(src: DataFrame) = src
        .groupBy(col("c_mktsegment").as("k"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")).as("cents"))
      def ordAgg(src: DataFrame) = src
        .groupBy(col("o_orderstatus").as("k"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val cust = t(s, dir, "customer"); val ord = t(s, dir, "orders")
      graft.engine.Scratch.withTempDir("graft-txn-") { tmp =>
        val st = s"$tmp/state"
        I.commitTransaction(Map(
          "cust" -> custAgg(cust).coalesce(1),
          "ord" -> ordAgg(ord).coalesce(1)), st, 0L)
        I.commitTransaction(Map(
          "cust" -> custAgg(cust.filter(col("c_acctbal") >= 0)).coalesce(1),
          "ord" -> ordAgg(ord.filter(col("o_orderstatus") =!= "P")).coalesce(1)), st, 1L)
        // torn state: cust stages v=2 (the UNFILTERED aggregate again) but
        // its transaction never publishes — must stay invisible
        I.commitVersion(custAgg(cust).coalesce(1), s"$st/cust", 2L)
        val out = I.readTableAtLatestTxn(s, st, "cust").withColumn("side", lit("cust"))
          .unionByName(I.readTableAtLatestTxn(s, st, "ord").withColumn("side", lit("ord")))
          .collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
        import s.implicits._
        out.toDF("k", "n", "cents", "side")
      }
    },

    // TPC-H Q17 through the SQL frontend (adapted to this testdata's part
    // schema: p_container → p_type; reference Q17 shape from the public
    // TPC-H spec). Exercises the one rewrite family Q3/Q5/Q10/Q18/Q21 never
    // touch: CORRELATED scalar subqueries in WHERE, which Catalyst must
    // decorrelate into an aggregate-then-join; the two subqueries share one
    // correlation so MergeScalarSubqueries can fold them into a single
    // aggregate pass over lineitem. Integer-exact membership: the spec's
    // `l_quantity < 0.2 · avg(l_quantity)` is evaluated as
    // `5·q·cnt < sum(q)` (quantities are integral), so no float division
    // decides which rows qualify on either engine.
    "q236_tpch_q17" -> { (s, dir) =>
      Seq("lineitem", "part").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
          |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
          |         AS loss_cents
          |FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#23' AND p_type = 'ECONOMY'
          |  AND 5 * CAST(l_quantity AS BIGINT) *
          |      (SELECT COUNT(*) FROM lineitem_v l2
          |       WHERE l2.l_partkey = part_v.p_partkey)
          |    < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
          |       FROM lineitem_v l2 WHERE l2.l_partkey = part_v.p_partkey)
          |""".stripMargin)
    },

    // TPC-H Q22 through the SQL frontend (adapted: c_phone country codes →
    // c_nationkey membership, and — because every customer in this testdata
    // has orders — the NOT EXISTS probe is "no URGENT-priority order", which
    // keeps the anti join non-degenerate). Exercises UNCORRELATED scalar
    // subqueries (the global positive-balance average, folded to a literal
    // via a one-row subquery plan) combined with NOT EXISTS → anti join.
    // Integer-exact: `bal > avg(bal)` is evaluated as
    // `bal_cents · cnt > sum_cents`.
    "q237_tpch_q22" -> { (s, dir) =>
      Seq("customer", "orders").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT c_nationkey AS nation,
          |       CAST(COUNT(*) AS BIGINT) AS numcust,
          |       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
          |         AS totacctbal_cents
          |FROM customer_v
          |WHERE c_nationkey IN (3, 8, 13, 17, 21)
          |  AND CAST(ROUND(c_acctbal * 100) AS BIGINT) *
          |      (SELECT COUNT(*) FROM customer_v c2 WHERE c2.c_acctbal > 0)
          |    > (SELECT CAST(SUM(CAST(ROUND(c2.c_acctbal * 100) AS BIGINT))
          |              AS BIGINT)
          |       FROM customer_v c2 WHERE c2.c_acctbal > 0)
          |  AND NOT EXISTS (SELECT 1 FROM orders_v
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderpriority = '1-URGENT')
          |GROUP BY c_nationkey
          |""".stripMargin)
    },

    // Grid-bucketed spatial within-radius self-join (ext/Spatial): customers
    // are placed on a 1,000,000² integer grid by the portable hash (so the
    // oracle derives the SAME coordinates arithmetically), and every pair
    // within r = 50,000 grid units is found via 3×3 neighbor-cell equi-join
    // — never a cartesian product. The ORACLE is the naive quadratic join
    // (fine at sf0.01 in DuckDB), so the hash compare PROVES the cell
    // bucketing loses no boundary pair — the q157 certification pattern
    // applied to spatial.
    "q238_grid_spatial_join" -> { (s, dir) =>
      import graft.ext.{PortableHash, Spatial}
      def coord(axis: String) = pmod(
        PortableHash.hash60(concat(lit(s"geo:$axis:"), col("c_custkey").cast("string"))),
        lit(1000000L))
      val pts = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        coord("x").as("x"), coord("y").as("y"))
      Spatial.withinRadiusPairs(pts, 50000L)
    },

    // Kaplan–Meier time-to-conversion with right-censoring (ext/Survival):
    // per user, duration = days from first event to first PURCHASE (event
    // observed) or to the last event (censored). The product-limit curve is
    // carried in integer ppb with a floor recurrence, so the DuckDB oracle —
    // a RECURSIVE CTE running the same recurrence over the same risk table —
    // matches hash-exactly. Data-sized work is two groupBys; the sequential
    // fold touches only the calendar-sized risk table.
    "q239_kaplan_meier" -> { (s, dir) =>
      val ev = eventsTable(s, dir)
      val perUser = ev.groupBy(col("user_id")).agg(
        min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tconv"),
        max(col("ts")).as("tlast"))
      val durs = perUser.select(
        when(col("tconv").isNotNull,
          datediff(col("tconv").cast("date"), col("t0").cast("date")))
          .otherwise(datediff(col("tlast").cast("date"), col("t0").cast("date")))
          .cast("long").as("d"),
        when(col("tconv").isNotNull, lit(1)).otherwise(lit(0)).as("ev"))
      graft.ext.Survival.kaplanMeier(durs)
    },

    // Local-DP randomized response over event types (ext/Privacy): each
    // event reports its true type with p=0.7 or a hash-uniform type
    // otherwise; the k-row frequency table is then DEBIASED via the exact
    // rational numerator (no division — the one place trunc-vs-floor could
    // split the engines). The portable-hash coins make the perturbation
    // itself oracle-replayable, so the whole LDP mechanism is hash-verified.
    "q240_randomized_response" -> { (s, dir) =>
      import graft.ext.Privacy
      val reports = t(s, dir, "events").select(
        Privacy.rrReport(col("event_id"), col("event_type"),
          RRCategories, 700, "rr-v1").as("reported"))
      Privacy.rrFrequencies(reports, "reported", RRCategories, 700)
    },

    // Frequent part-triples in order baskets via the Apriori ladder
    // (ext/Itemsets): L1 item prune → bounded per-basket pair/triple
    // generation → three broadcast semi-joins against frequent pairs →
    // support count. The ORACLE is the naive un-pruned triple count, so the
    // hash compare certifies (via Apriori monotonicity) that the prune
    // ladder drops nothing.
    "q241_apriori_triples" -> { (s, dir) =>
      graft.ext.Itemsets.frequentTriples(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", 2L)
    },

    // Weighted shortest paths over the part co-purchase graph (ext/Graph
    // boundedShortestPaths): edge weight 1000 DIV cooccurrence + 1 (strongly
    // co-bought parts are "close"), 3 Bellman-Ford rounds with frontier-only
    // relaxation from parts {1,2,3}. The oracle enumerates ALL ≤3-edge walks
    // with a recursive CTE and takes the per-node min — equal by the
    // cycle-shortcut argument — so the frontier optimization is certified
    // lossless.
    "q242_shortest_paths" -> { (s, dir) =>
      // co-purchase pairs via the shared hub-capped builder (Itemsets
      // .pairCounts) — order baskets are ≤7 lines, but the cap is the
      // contract that a pathological 10⁴-item basket contributes nothing
      // rather than C(10⁴,2) rows
      val pairs = graft.ext.Itemsets
        .pairCounts(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .withColumn("w", expr("1000 DIV n + 1"))
      val edges = pairs.select(col("p1").as("src"), col("p2").as("dst"), col("w"))
        .union(pairs.select(col("p2").as("src"), col("p1").as("dst"), col("w")))
      val seeds = s.range(1, 4).select(col("id").as("node"))
      graft.ext.Graph.boundedShortestPaths(edges, seeds, rounds = 3)
    },

    // Rolling-origin backtest (ext/TimeSeries): naive vs weekly
    // seasonal-naive one-step forecasts scored over the per-priority daily
    // revenue series — the evaluation harness that picks a forecaster per
    // series. Integer cents, no division; per-key windows only.
    "q243_forecast_backtest" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("k"),
          col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
      graft.ext.TimeSeries.rollingOriginBacktest(daily, "k", "day", "cents", 7)
    },

    // Isotonic calibration (ext/Calibration) of the purchase rate against
    // value buckets via the closed-form minimax characterization — data
    // reduces to the ≤100-row bucket grid in one groupBy; the O(B³) minimax
    // enumeration runs on grid-sized tables and floors each window mean to
    // micros (floor commutes with max/min, so this IS ⌊1e6·PAVA⌋ exactly).
    "q244_isotonic_calibration" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(
        expr("CAST(floor(value) AS BIGINT) DIV 5").as("bucket"),
        expr("CAST(event_type = 'purchase' AS INT)").as("label"))
      graft.ext.Calibration.isotonicFit(ev, "bucket", "label")
    },

    // Association rules over order baskets (ext/Itemsets): support ≥ 2,
    // confidence ≥ 12%, lift > 1 — all three thresholds cross-multiplied in
    // integers so membership never touches a float ratio. Raw counts out;
    // ratios are the consumer's division.
    "q245_association_rules" -> { (s, dir) =>
      graft.ext.Itemsets.associationRules(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey", 2L, 120L)
    },

    // Partition-SPEC evolution without rewrite (engine.Layout): orders
    // before 1998 keep their month= layout; later orders land in the
    // evolved year= layout; one logical date range straddling the cutover
    // is answered with partition pruning reaching BOTH subtrees (REQUIREd
    // on the plan) plus the exact row filter on the carried date column.
    // The oracle filters the source directly — proving the two-spec
    // round-trip loses/duplicates nothing at the seam.
    "q246_partition_spec_evolution" -> { (s, dir) =>
      val L = graft.engine.Layout
      graft.engine.Scratch.withTempDir("graft-specevo-") { tmp =>
        L.writeDateSpecEvolution(
          t(s, dir, "orders"), col("o_orderdate"), "1998-01-01", tmp)
        val res = L.readDateSpecEvolution(s, tmp, "1997-06-15", "1999-03-20")
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
        val plan = res.queryExecution.executedPlan.toString
        require(plan.contains("PartitionFilters: [isnotnull(month#")
          && plan.contains("PartitionFilters: [isnotnull(year#"),
          s"q246: partition pruning must reach both spec subtrees:\n$plan")
        val rows = res.collect().toSeq
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        import s.implicits._
        rows.toDF("status", "n", "cents")
      }
    },

    // Deterministic negative sampling (ext/Sampling.negativeSample) for a
    // two-tower trainer: positives = (customer, part) purchase pairs (a 5%
    // customer slice), k=2 hash-bucket draws per positive, true positives
    // anti-joined out. Never materializes the user×item complement; the
    // oracle replays the identical hash arithmetic. Bucket count ADAPTS to
    // the catalog (⌈|items|/32⌉, floor 16) so per-draw candidate work stays
    // ~32 rows at every SF — the fixed-64 first cut cost 9.7s at sf0.1
    // (312 items/bucket); the oracle recomputes the same formula.
    "q247_negative_sampling" -> { (s, dir) =>
      val part = t(s, dir, "part")
      val buckets = math.max(16L, part.select(col("p_partkey")).distinct()
        .count() / 32L).toInt
      val pos = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(col("o_custkey") % 20 === 0)
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      graft.ext.Sampling.negativeSample(
        pos, "u", "i", part, "p_partkey",
        k = 2, buckets = buckets, salt = "ns-v1")
    },

    // Seed-and-extend overlap spans (ext/Dedup.overlapSpans): longest
    // contiguous shared 3-gram run per candidate pair — the contamination
    // forensics layer above set-level dedup. Anchored seeding (hash%8),
    // df-capped extension join, diagonal island runs. The oracle replays
    // every stage including the island windows.
    "q248_overlap_spans" -> { (s, dir) =>
      graft.ext.Dedup.overlapSpans(
        t(s, dir, "documents"), "doc_id", "text", anchorMod = 8, dfCap = 10)
    },

    // Order-independent content fingerprint (engine.Profile
    // .tableFingerprint): lineitem roundtripped through parquet and
    // re-partitioned must certify multiset-equal to the source — count +
    // bit_xor + DECIMAL(38) sum over the portable row hash, no sort, no
    // join. Both sides' certificates appear as rows; the oracle computes
    // the certificate once from the source and expects it twice.
    "q249_table_fingerprint" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      def cols(d: DataFrame) = Seq(
        d("l_orderkey"), d("l_linenumber"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"),
        d("l_returnflag"), date_format(d("l_shipdate"), "yyyy-MM-dd"))
      graft.engine.Scratch.withTempDir("graft-fp-") { tmp =>
        li.write.mode("overwrite").parquet(s"$tmp/rt")
        // scramble row order and partitioning: the certificate must not care
        val rt = s.read.parquet(s"$tmp/rt").repartition(7)
        val u = graft.engine.Profile.tableFingerprint(li, cols(li))
          .withColumn("side", lit("src"))
          .unionByName(graft.engine.Profile.tableFingerprint(rt, cols(rt))
            .withColumn("side", lit("rt")))
          // sum_h ≈ 3.5e22 exceeds int64, so the DECIMAL(38,0) internal is
          // rendered as STRING at the query boundary: Spark sum(decimal)
          // would hash-compare against DuckDB SUM(BIGINT)=HUGEINT as a TYPE
          // mismatch even with bit-identical values (the round-4/round-10
          // class tools/check_oracle.py pins). Digits are the contract.
          .withColumn("sum_h", col("sum_h").cast("string"))
        val rows = u.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), u.schema)
      }
    },

    // SQL PIVOT clause through the frontend (Spark's native PIVOT syntax,
    // the q228 UNPIVOT's inverse): order revenue cents pivoted wide by
    // status with an explicit value list (absent combos → 0 via the
    // COALESCE projection, matching q07's backfill discipline). The oracle
    // is the equivalent conditional aggregation — DuckDB's PIVOT dialect
    // differs, which is the point: the RESULT contract, not the syntax,
    // is what both engines must agree on.
    "q250_sql_pivot" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderpriority,
          |       COALESCE(o_cents, 0L) AS o_cents,
          |       COALESCE(f_cents, 0L) AS f_cents,
          |       COALESCE(p_cents, 0L) AS p_cents
          |FROM (
          |  SELECT * FROM (
          |    SELECT o_orderpriority, o_orderstatus,
          |           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          |    FROM orders_v)
          |  PIVOT (SUM(cents) FOR o_orderstatus IN ('O' AS o_cents,
          |         'F' AS f_cents, 'P' AS p_cents)))
          |""".stripMargin)
    },

    // Subject-access export (the GDPR Art. 15 workflow, erasure's read
    // twin — q144 audits the delete side): every table holding data for
    // one customer contributes a long-format row (table, n_rows,
    // cents_checksum) via keyed semi-join scans — no full-table collect,
    // each branch prunable by the subject key at 100 TB.
    "q251_subject_access" -> { (s, dir) =>
      val u = lit(7L)
      val ord = t(s, dir, "orders").where(col("o_custkey") === u)
      val cust = t(s, dir, "customer").where(col("c_custkey") === u)
      val li = t(s, dir, "lineitem")
        .join(ord.select(col("o_orderkey").as("k")), col("l_orderkey") === col("k"), "left_semi")
      cust.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")), lit(0L)).as("cents"))
        .withColumn("tbl", lit("customer"))
        .unionByName(ord.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")), lit(0L)).as("cents"))
          .withColumn("tbl", lit("orders")))
        .unionByName(li.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")), lit(0L)).as("cents"))
          .withColumn("tbl", lit("lineitem")))
    },

    // k-core of the support≥2 co-purchase graph (ext/Graph.kCore): vertices
    // of degree <3 iteratively deleted, ≤4 rounds with fixpoint early exit.
    // The oracle UNROLLS the same 4 rounds as chained CTEs — a converged run
    // equals the unrolled form because the fixpoint is idempotent.
    "q252_kcore" -> { (s, dir) =>
      // same shared hub-capped co-purchase builder as q242
      val pairs = graft.ext.Itemsets
        .pairCounts(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
        .select(col("p1").as("id_a"), col("p2").as("id_b"))
      graft.ext.Graph.kCore(pairs, k = 3L, maxRounds = 4)
    },

    // BITEMPORAL read: SCD2 supplies VALID time, the version store supplies
    // TRANSACTION time. Three commits: the initial dimension, a normal
    // segment change effective 2021-06-01, then a RETROACTIVE correction
    // effective 2021-01-01 (the textbook reason the two axes differ: as
    // recorded at tx=1 the mid-2021 state says MOVED1; as recorded at tx=2
    // the SAME valid date says MOVED2, and an early-2020 date still says
    // the original). The oracle replays the segment arithmetic per (tx,
    // as_of) pair directly from customer.
    "q253_bitemporal" -> { (s, dir) =>
      val I = graft.engine.Incremental
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      graft.engine.Scratch.withTempDir("graft-bitemp-") { tmp =>
        val st = s"$tmp/dim"
        def state(v: Long) = I.latestUpsertStateBefore(s, st, v + 1).get
        I.commitVersion(cust.select(col("k"), col("seg"),
          lit("2020-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"),
          lit(true).as("is_current")).coalesce(1), st, 0L)
        val upd1 = cust.where(col("k") % 10 === 3)
          .select(col("k"), lit("MOVED1").as("seg"), lit("2021-06-01").as("eff"))
        I.commitVersion(graft.engine.Merge
          .scd2Apply(state(0), upd1, "k", Seq("seg"), "eff").coalesce(1), st, 1L)
        val upd2 = cust.where(col("k") % 10 === 3 || col("k") % 10 === 7)
          .select(col("k"), lit("MOVED2").as("seg"), lit("2021-01-01").as("eff"))
        I.commitVersion(graft.engine.Merge
          .scd2Apply(state(1), upd2, "k", Seq("seg"), "eff").coalesce(1), st, 2L)
        // as-of both axes: rows whose [valid_from, valid_to) contains the
        // valid date, read from the state as recorded at the tx version
        def asOf(tx: Long, d: String) = state(tx)
          .where(col("valid_from") <= lit(d)
            && (col("valid_to").isNull || lit(d) < col("valid_to")))
          .groupBy(col("seg")).agg(count(lit(1)).as("n"))
          .withColumn("tx", lit(tx)).withColumn("as_of", lit(d))
        val u = asOf(1L, "2021-12-31")
          .unionByName(asOf(2L, "2021-12-31"))
          .unionByName(asOf(2L, "2020-06-15"))
        val rows = u.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), u.schema)
      }
    },

    // Incremental sessionization ≡ one-shot (ext/Sessionize
    // .mergeSessionState): events split into three time-ordered batches,
    // each sessionized alone, folded into state with cross-boundary merges.
    // The ORACLE sessionizes everything in one pass — so the hash compare
    // proves the fold reconstructs every boundary-spanning session exactly
    // (the splits land mid-stream, so bridges genuinely occur).
    "q254_incremental_sessions" -> { (s, dir) =>
      val S = graft.ext.Sessionize
      val ev = eventsTable(s, dir).withColumn("__us", unix_micros(col("ts")))
      // thirds of the observed time range: real mid-stream boundaries
      val mm = ev.agg(min(col("__us")), max(col("__us"))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      def sess(d: DataFrame) = S.sessionSummaries(d,
          user = col("user_id"), tsMicros = col("__us"),
          gapSeconds = 1800L, orderCols = Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
      val folded = Seq(
        ev.where(col("__us") > c1 && col("__us") <= c2),
        ev.where(col("__us") > c2))
        .foldLeft(sess(ev.where(col("__us") <= c1))) { (st, b) =>
          S.mergeSessionState(st, sess(b), gapSeconds = 1800L)
        }
      folded.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          sum(floor((col("session_end_us") - col("session_start_us"))
            / 1000000L).cast("long")).as("sum_duration_s"))
    },

    // Trending movers: per-month revenue rank of each order priority, top-3
    // per month with the previous month's rank joined on — the "what moved
    // up the chart" readout. Ranks come from per-month windows (keyed, never
    // global); the month-over-month self-join is an equi join on the
    // priority + month arithmetic. Total order under ties via (cents DESC,
    // priority ASC).
    "q255_trending_ranks" -> { (s, dir) =>
      val monthly = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_orderpriority").as("prio"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("month")).orderBy(col("cents").desc, col("prio").asc)
      val ranked = monthly.withColumn("rnk", row_number().over(w).cast("long"))
      val prev = ranked.select(
        expr("date_format(add_months(to_date(month || '-01'), 1), 'yyyy-MM')").as("month"),
        col("prio"), col("rnk").as("prev_rnk"))
      ranked.where(col("rnk") <= 3)
        .join(prev, Seq("month", "prio"), "left")
        .select(col("month"), col("prio"), col("cents"), col("rnk"),
          col("prev_rnk"))
    },

    // Next-order affinity (sequential market basket): part pairs bought by
    // the same customer in CONSECUTIVE orders, within 90 days. Restricting
    // to consecutive orders is what bounds the work — per customer it is
    // Σ |order_i|·|order_i+1| (basket-sized²·orders, linear in orders),
    // never the quadratic all-order-pairs explode. Support ≥ 3 keeps the
    // output chart-sized.
    "q256_next_order_affinity" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
        .withColumn("gap_days",
          datediff(lead(col("o_orderdate"), 1).over(w).cast("date"),
            col("o_orderdate").cast("date")).cast("long"))
        .where(col("next_key").isNotNull && col("gap_days") <= 90)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      ord
        .join(li.select(col("l_orderkey").as("o_orderkey"), col("l_partkey").as("p_from")),
          Seq("o_orderkey"))
        .join(li.select(col("l_orderkey").as("next_key"), col("l_partkey").as("p_to")),
          Seq("next_key"))
        .groupBy(col("p_from"), col("p_to"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 3)
    },

    // Leak-free point-in-time features (the ML feature-engineering staple):
    // for every order, the customer's trailing-90-day order count and
    // revenue STRICTLY BEFORE the order date — a per-customer RANGE frame
    // on epoch-day with an EXCLUSIVE upper bound (-90, -1), so the row
    // never sees itself or same-day siblings (the label-leakage bug PIT
    // joins exist to prevent). Keyed windows only; one shuffle on the
    // customer.
    "q257_pit_features" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .where(col("o_custkey") % 10 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d_days"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("d_days"))
        .rangeBetween(-90, -1)
      base
        .withColumn("trail_n", count(lit(1)).over(w))
        .withColumn("trail_cents", coalesce(sum(col("cents")).over(w), lit(0L)))
        .select(col("o_orderkey"), col("o_custkey"), col("d_days"),
          col("trail_n"), col("trail_cents"))
    },

    // Linear multi-touch attribution (ext/Sessionize.linearAttribution):
    // each converting user's 1000 permille split equally over pre-conversion
    // channels via the largest-remainder rule — integral, conserving, and
    // engine-replayable (last-touch is q138; this is the equal-credit
    // counterpart marketers actually compare it against).
    "q258_linear_attribution" -> { (s, dir) =>
      graft.ext.Sessionize.linearAttribution(
        eventsTable(s, dir), user = col("user_id"),
        tsMicros = unix_micros(col("ts")), channel = col("event_type"),
        isConversion = col("event_type") === "purchase")
    },

    // Partition-gap monitor: calendar days in the observed span with NO
    // orders — the backfill-completeness report every date-partitioned
    // table needs. The spine is a sequence explode against the broadcast
    // 1-row min/max (never a driver collect); the observed days anti-join
    // against it.
    "q259_partition_gaps" -> { (s, dir) =>
      val days = t(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("d")).distinct()
      val mm = days.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val spine = mm.select(explode(expr(
        "sequence(lo, hi, interval 1 day)")).as("d"))
      spine.join(days, Seq("d"), "left_anti")
        .select(date_format(col("d"), "yyyy-MM-dd").as("missing_day"))
    },

    // Compaction content certificate: the q112 small-file compaction
    // re-proven with the q249 multiset fingerprint — count + bit_xor +
    // DECIMAL(38) sum over the portable row hash must be IDENTICAL before
    // and after compaction (sum checksums, q112's proof, can miss
    // compensating corruptions; the hash certificate cannot, short of
    // engineered collisions). File-count collapse is REQUIREd in-query.
    "q260_compaction_certificate" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.engine.Scratch.withTempDir("graft-compcert-") { tmp =>
        o.repartition(64).write.mode("overwrite").parquet(s"$tmp/scattered")
        val n = graft.engine.Layout.compact(s, s"$tmp/scattered",
          s"$tmp/compact", targetFileBytes = 256L * 1024)
        require(n < 64, s"q260: compaction did not collapse files (n=$n)")
        def fp(path: String, side: String) = {
          val d = s.read.parquet(path)
          graft.engine.Profile.tableFingerprint(
            d, Seq(d("o_orderkey"), d("cents"))).withColumn("side", lit(side))
        }
        val u = fp(s"$tmp/scattered", "before")
          .unionByName(fp(s"$tmp/compact", "after"))
          // STRING at the boundary for the same reason as q249: sum_h
          // exceeds int64 and DECIMAL(38,0)-vs-HUGEINT is a driver-hash
          // type mismatch even when every digit agrees.
          .withColumn("sum_h", col("sum_h").cast("string"))
        val rows = u.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), u.schema)
      }
    },

    // RELATIONAL DIVISION through the SQL frontend — the classic "FOR ALL"
    // shape (suppliers supplying EVERY part in the divisor set) as
    // NOT EXISTS (divisor parts this supplier does NOT cover). The textbook
    // double NOT EXISTS needs a 2-level-deep outer correlation, which Spark
    // rejects (correlation binds only to the immediate outer), so the inner
    // negation is the equivalent correlated anti LEFT JOIN — correlation
    // one level deep, same semantics. The oracle computes division by
    // count-matching, so the hash compare also proves the two classic
    // encodings equivalent.
    "q261_relational_division" -> { (s, dir) =>
      Seq("lineitem", "part", "supplier").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT s_suppkey, s_name
          |FROM supplier_v s
          |WHERE NOT EXISTS (
          |  SELECT 1
          |  FROM part_v p LEFT JOIN lineitem_v l
          |    ON l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey
          |  WHERE p.p_partkey IN (10, 20, 30) AND l.l_partkey IS NULL)
          |""".stripMargin)
    },

    // BAG-semantics set operators through the SQL frontend: EXCEPT ALL and
    // INTERSECT ALL respect multiplicities (the DISTINCT variants are q54)
    // — engineered duplicates make the difference observable: the high-
    // value slice is doubled, so each of its statuses survives EXCEPT ALL
    // exactly once per extra copy.
    "q262_bag_set_ops" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """WITH a AS (
          |  SELECT o_orderstatus AS st FROM orders_v
          |  UNION ALL
          |  SELECT o_orderstatus FROM orders_v WHERE o_totalprice > 200000),
          |b AS (SELECT o_orderstatus AS st FROM orders_v)
          |SELECT 'except_all' AS op, st, CAST(COUNT(*) AS BIGINT) AS n
          |FROM (SELECT st FROM a EXCEPT ALL SELECT st FROM b) GROUP BY 2
          |UNION ALL
          |SELECT 'intersect_all', st, CAST(COUNT(*) AS BIGINT)
          |FROM (SELECT st FROM a INTERSECT ALL SELECT st FROM b) GROUP BY 2
          |""".stripMargin)
    },

    // Spearman rank correlation at scale (ext/Rank.spearmanStats): global
    // MIN-TIE ranks for price and order date via the range-exchange
    // machinery (no empty-PARTITION-BY window anywhere), reduced to exact
    // DECIMAL(38) sufficient statistics; ρ is the consumer's one float.
    // The oracle uses RANK() windows — fine in DuckDB, the single-reducer
    // trap only on the distributed side.
    "q263_spearman" -> { (s, dir) =>
      val base = t(s, dir, "orders").select(
        col("o_orderkey").as("id"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("x"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("y"))
      graft.engine.Scratch.withTempDir("graft-spear-") { tmp =>
        // Rank.spearmanStats keeps DECIMAL(38,0) internals (n³-safe at
        // corpus scale), but at any bench SF the rank sums fit int64
        // comfortably (n³ at sf0.1 ≈ 3.4e15), so the QUERY contract reduces
        // the five stats to BIGINT — otherwise the driver hash sees
        // Spark DECIMAL vs DuckDB HUGEINT as a type mismatch despite
        // bit-identical values (the round-4/round-10 class).
        val stats = graft.ext.Rank.spearmanStats(base, "x", "y", "id", tmp)
          .select(col("n"),
            col("sum_rx").cast("long").as("sum_rx"),
            col("sum_ry").cast("long").as("sum_ry"),
            col("sum_rxx").cast("long").as("sum_rxx"),
            col("sum_ryy").cast("long").as("sum_ryy"),
            col("sum_rxy").cast("long").as("sum_rxy"))
        val r = stats.collect()
        s.createDataFrame(java.util.Arrays.asList(r: _*), stats.schema)
      }
    },

    // SKETCH-path rolling distinct — q150's exact 7-day rolling actives
    // re-done the way 100 TB does it: ONE HLL sketch per day (events
    // touched once), each sketch exploded to the 7 window-end days it
    // serves, register-wise union per window (mergeability proven by
    // q230). The oracle computes the EXACT rolling distinct; the sketch
    // estimate is checked against it via a 2% integer flag — deterministic
    // (DataSketches unions are), so an estimator regression breaks the
    // hash. Sketch bytes shuffled ∝ days·7, never users·days.
    "q264_rolling_sketch" -> { (s, dir) =>
      val e = eventsTable(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id"))
      val daily = e.groupBy(col("d")).agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val rolled = daily
        .select(col("sk"), explode(expr("sequence(0, 6)")).as("off"), col("d"))
        .select(col("sk"), expr("date_add(d, off)").as("td"))
        .groupBy(col("td"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = e
        .select(col("user_id"), explode(expr("sequence(0, 6)")).as("off"), col("d"))
        .select(col("user_id"), expr("date_add(d, off)").as("td"))
        .groupBy(col("td"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      rolled.join(exact, Seq("td"))
        .select(date_format(col("td"), "yyyy-MM-dd").as("d"),
          col("n_exact"),
          (abs(col("est") - col("n_exact")) * 50L <= col("n_exact"))
            .as("within_2pct"))
    },

    // ------------------------------------------------------------------
    // q265–q279: the 15 remaining TPC-H shapes (Q1, Q2, Q4, Q6–Q9,
    // Q11–Q16, Q19, Q20) forced through the SQL frontend — the standard
    // decorrelation/grouping/ordering corpus. Adaptations to this
    // testdata's schema are per-query-documented; every money value is
    // integer cents (the q186 discipline), every ratio an integer DIV,
    // so both engines agree bit-for-bit. partsupp does not exist here:
    // queries needing it derive a deterministic equivalent from lineitem
    // (distinct (partkey, suppkey) with availqty = total quantity and
    // supplycost = min extendedprice cents), which both sides compute
    // identically — the partsupp-SHAPES (correlated min-cost, value
    // fractions, nested IN) are what these queries exercise.
    // ------------------------------------------------------------------

    // TPC-H Q1 (full pricing summary — q33 runs a trimmed projection; this
    // is the complete 8-aggregate form with disc/charge/avg columns).
    // Averages are integer micro-units via DIV: 1e6·sum fits int64 at any
    // bench SF (at corpus scale, pre-divide or emit sum+count).
    "q265_tpch_q1" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
          |         AS sum_base_cents,
          |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |                AS BIGINT)) AS BIGINT) AS sum_disc_cents,
          |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
          |                * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
          |         AS sum_charge_cents,
          |       CAST((1000000 * SUM(CAST(l_quantity AS BIGINT))) DIV COUNT(*)
          |            AS BIGINT) AS avg_qty_micro,
          |       CAST((1000000 * SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)))
          |            DIV COUNT(*) AS BIGINT) AS avg_price_microcents,
          |       CAST((1000000 * SUM(CAST(ROUND(l_discount * 1000) AS BIGINT)))
          |            DIV COUNT(*) AS BIGINT) AS avg_disc_micropermille,
          |       CAST(COUNT(*) AS BIGINT) AS count_order
          |FROM lineitem_v
          |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    },

    // TPC-H Q2 (min-cost supplier): the marquee correlated-scalar-over-
    // joins decorrelation — the subquery re-joins supplier/nation/region
    // under a MIN correlated on the outer part. partsupp derived from
    // lineitem (see block comment); p_container→p_type, %BRASS→STANDARD.
    "q266_tpch_q2" -> { (s, dir) =>
      Seq("lineitem", "part", "supplier", "nation", "region").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH ps AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
          |           AS ps_supplycost_cents
          |  FROM lineitem_v GROUP BY 1, 2)
          |SELECT CAST(ROUND(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
          |       s_name, n_name, p_partkey, s_suppkey, ps_supplycost_cents
          |FROM part_v JOIN ps ON p_partkey = ps_partkey
          |JOIN supplier_v ON s_suppkey = ps_suppkey
          |JOIN nation_v ON s_nationkey = n_nationkey
          |JOIN region_v ON n_regionkey = r_regionkey
          |WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
          |  AND ps_supplycost_cents = (
          |    SELECT MIN(ps2.ps_supplycost_cents)
          |    FROM ps ps2 JOIN supplier_v s2 ON s2.s_suppkey = ps2.ps_suppkey
          |    JOIN nation_v n2 ON s2.s_nationkey = n2.n_nationkey
          |    JOIN region_v r2 ON n2.n_regionkey = r2.r_regionkey
          |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
          |ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin)
    },

    // TPC-H Q4 (order priority checking): EXISTS semi-join against
    // lineitem, decorrelated to a left-semi hash join. The spec's
    // commitdate<receiptdate lateness test becomes shipdate lagging the
    // order date by >60 days — q210's substitution, the columns this
    // lineitem carries.
    "q267_tpch_q4" -> { (s, dir) =>
      Seq("orders", "lineitem").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
          |FROM orders_v
          |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem_v
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY o_orderpriority""".stripMargin)
    },

    // TPC-H Q6 (forecast revenue change): the pushdown benchmark — every
    // predicate must reach the parquet scan; revenue = price·discount in
    // cents, no join anywhere.
    "q268_tpch_q6" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100)
          |                AS BIGINT)) AS BIGINT) AS revenue_cents,
          |       CAST(COUNT(*) AS BIGINT) AS n_lines
          |FROM lineitem_v
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_discount >= 0.02 AND l_discount <= 0.04
          |  AND l_quantity < 24""".stripMargin)
    },

    // TPC-H Q7 (volume shipping): the two-aliases-of-nation join with the
    // symmetric nation-pair disjunction — Catalyst must plan nation twice
    // and keep the OR as a join residual.
    "q269_tpch_q7" -> { (s, dir) =>
      Seq("supplier", "lineitem", "orders", "customer", "nation").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT supp_nation, cust_nation, l_year,
          |       CAST(SUM(volume_cents) AS BIGINT) AS revenue_cents
          |FROM (
          |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |         CAST(YEAR(l_shipdate) AS INT) AS l_year,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |              AS BIGINT) AS volume_cents
          |  FROM supplier_v JOIN lineitem_v ON s_suppkey = l_suppkey
          |  JOIN orders_v ON o_orderkey = l_orderkey
          |  JOIN customer_v ON c_custkey = o_custkey
          |  JOIN nation_v n1 ON s_nationkey = n1.n_nationkey
          |  JOIN nation_v n2 ON c_nationkey = n2.n_nationkey
          |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
          |GROUP BY supp_nation, cust_nation, l_year""".stripMargin)
    },

    // TPC-H Q8 (national market share): the CASE-inside-aggregate share
    // computation over a 7-table join; share as integer permille DIV, and
    // numerator/denominator emitted raw so the contract is float-free.
    "q270_tpch_q8" -> { (s, dir) =>
      Seq("part", "supplier", "lineitem", "orders", "customer", "nation",
        "region").foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT o_year,
          |       CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume_cents
          |                     ELSE 0 END) AS BIGINT) AS nation_cents,
          |       CAST(SUM(volume_cents) AS BIGINT) AS total_cents,
          |       CAST((1000 * SUM(CASE WHEN nation = 'NATION_5'
          |                             THEN volume_cents ELSE 0 END))
          |            DIV SUM(volume_cents) AS BIGINT) AS share_permille
          |FROM (
          |  SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |              AS BIGINT) AS volume_cents,
          |         n2.n_name AS nation
          |  FROM part_v JOIN lineitem_v ON p_partkey = l_partkey
          |  JOIN supplier_v ON s_suppkey = l_suppkey
          |  JOIN orders_v ON l_orderkey = o_orderkey
          |  JOIN customer_v ON o_custkey = c_custkey
          |  JOIN nation_v n1 ON c_nationkey = n1.n_nationkey
          |  JOIN region_v ON n1.n_regionkey = r_regionkey
          |  JOIN nation_v n2 ON s_nationkey = n2.n_nationkey
          |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
          |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations
          |GROUP BY o_year""".stripMargin)
    },

    // TPC-H Q9 (product type profit): profit = revenue − supplycost·qty
    // with the derived-partsupp cost; p_name LIKE the spec's color filter
    // (this generator's names are "<adj> <noun>", so '%red%').
    "q271_tpch_q9" -> { (s, dir) =>
      Seq("part", "supplier", "lineitem", "orders", "nation").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH ps AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
          |           AS ps_supplycost_cents
          |  FROM lineitem_v GROUP BY 1, 2)
          |SELECT nation, o_year, CAST(SUM(amount_cents) AS BIGINT) AS profit_cents
          |FROM (
          |  SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |           - ps_supplycost_cents * CAST(l_quantity AS BIGINT)
          |           AS amount_cents
          |  FROM part_v JOIN lineitem_v ON p_partkey = l_partkey
          |  JOIN supplier_v ON s_suppkey = l_suppkey
          |  JOIN ps ON ps_suppkey = l_suppkey AND ps_partkey = l_partkey
          |  JOIN orders_v ON o_orderkey = l_orderkey
          |  JOIN nation_v ON s_nationkey = n_nationkey
          |  WHERE p_name LIKE '%red%') profit
          |GROUP BY nation, o_year""".stripMargin)
    },

    // TPC-H Q11 (important stock): HAVING against a scalar subquery that
    // re-aggregates the same join — the fraction is the spec's 0.0001
    // scaled to this data as total DIV 500, evaluated entirely in integers
    // (DuckDB's internal HUGEINT vs Spark's BIGINT never reaches the
    // result schema).
    "q272_tpch_q11" -> { (s, dir) =>
      Seq("lineitem", "supplier", "nation").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH ps AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty,
          |         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
          |           AS ps_supplycost_cents
          |  FROM lineitem_v GROUP BY 1, 2)
          |SELECT ps_partkey,
          |       CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT)
          |         AS value_cents
          |FROM ps JOIN supplier_v ON ps_suppkey = s_suppkey
          |JOIN nation_v ON s_nationkey = n_nationkey
          |WHERE n_name = 'NATION_7'
          |GROUP BY ps_partkey
          |HAVING SUM(ps_supplycost_cents * ps_availqty) > (
          |  SELECT SUM(ps_supplycost_cents * ps_availqty) DIV 500
          |  FROM ps JOIN supplier_v ON ps_suppkey = s_suppkey
          |  JOIN nation_v ON s_nationkey = n_nationkey
          |  WHERE n_name = 'NATION_7')""".stripMargin)
    },

    // TPC-H Q12 (shipping modes and priority): the two-CASE count split;
    // l_shipmode does not exist, so the grouping column is l_returnflag
    // and lateness is the q210/q267 shipdate-lag substitute.
    "q273_tpch_q12" -> { (s, dir) =>
      Seq("orders", "lineitem").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT l_returnflag AS ship_mode,
          |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          |FROM orders_v JOIN lineitem_v ON o_orderkey = l_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
          |GROUP BY l_returnflag""".stripMargin)
    },

    // TPC-H Q13 (customer order-count distribution): LEFT OUTER join with
    // an extra ON predicate (the spec's NOT-LIKE comment filter becomes a
    // priority exclusion), then the count-of-counts double aggregation.
    "q274_tpch_q13" -> { (s, dir) =>
      Seq("customer", "orders").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
          |FROM (
          |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          |  FROM customer_v LEFT OUTER JOIN orders_v
          |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          |  GROUP BY c_custkey) c_orders
          |GROUP BY c_count""".stripMargin)
    },

    // TPC-H Q14 (promotion effect): conditional share over one month;
    // promo membership via p_type = 'PROMO' (this generator's type enum),
    // percentage as integer permille.
    "q275_tpch_q14" -> { (s, dir) =>
      Seq("lineitem", "part").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
          |                     THEN CAST(ROUND(l_extendedprice * (1 - l_discount)
          |                          * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
          |         AS promo_cents,
          |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |                AS BIGINT)) AS BIGINT) AS total_cents,
          |       CAST((1000 * SUM(CASE WHEN p_type = 'PROMO'
          |                     THEN CAST(ROUND(l_extendedprice * (1 - l_discount)
          |                          * 100) AS BIGINT) ELSE 0 END))
          |            DIV SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |                     AS BIGINT)) AS BIGINT) AS promo_permille
          |FROM lineitem_v JOIN part_v ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin)
    },

    // TPC-H Q15 (top supplier): the view-then-max-of-aggregate shape — the
    // revenue view is created through the frontend's DDL path and consumed
    // twice (join + scalar MAX), the exact pattern the spec uses a CREATE
    // VIEW for.
    "q276_tpch_q15" -> { (s, dir) =>
      Seq("lineitem", "supplier").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW revenue_q276 AS
          |SELECT l_suppkey AS supplier_no,
          |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |                AS BIGINT)) AS BIGINT) AS total_revenue_cents
          |FROM lineitem_v
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
          |GROUP BY l_suppkey""".stripMargin)
      s.sql(
        """SELECT s_suppkey, s_name, total_revenue_cents
          |FROM supplier_v JOIN revenue_q276 ON s_suppkey = supplier_no
          |WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents)
          |                             FROM revenue_q276)""".stripMargin)
    },

    // TPC-H Q16 (parts/supplier relationship): COUNT(DISTINCT) per group
    // with a NOT IN anti-subquery (the spec's complaint-suppliers filter
    // becomes negative account balance) and a value-list size filter.
    "q277_tpch_q16" -> { (s, dir) =>
      Seq("lineitem", "part", "supplier").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT p_brand, p_type, p_size,
          |       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
          |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          |      FROM lineitem_v) ps
          |JOIN part_v ON p_partkey = ps_partkey
          |WHERE p_brand <> 'Brand#5'
          |  AND p_type NOT IN ('PROMO', 'ECONOMY')
          |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
          |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier_v
          |                         WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size""".stripMargin)
    },

    // TPC-H Q19 (discounted revenue): the disjunction-of-conjunctions
    // residual over one equi-join — brand/size/quantity bands replace the
    // spec's container/shipmode bands (columns this part table carries).
    "q278_tpch_q19" -> { (s, dir) =>
      Seq("lineitem", "part").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |                AS BIGINT)) AS BIGINT) AS revenue_cents,
          |       CAST(COUNT(*) AS BIGINT) AS n_lines
          |FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
          |       AND l_quantity >= 1 AND l_quantity <= 11)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
          |       AND l_quantity >= 10 AND l_quantity <= 20)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin)
    },

    // TPC-H Q20 (potential part promotion): the deepest nesting of the
    // set — IN over a subquery that itself filters by BOTH an IN and a
    // CORRELATED scalar aggregate. availqty is all-time shipped quantity
    // (derived partsupp), so the spec's "availqty > ½·year demand" becomes
    // "1997 demand > 40% of all-time" — same correlation shape, selective
    // on this data's ~5-year span.
    "q279_tpch_q20" -> { (s, dir) =>
      Seq("lineitem", "part", "supplier", "nation").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH ps AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty
          |  FROM lineitem_v GROUP BY 1, 2)
          |SELECT s_name, s_suppkey
          |FROM supplier_v JOIN nation_v ON s_nationkey = n_nationkey
          |WHERE n_name = 'NATION_3'
          |  AND s_suppkey IN (
          |    SELECT ps_suppkey FROM ps
          |    WHERE ps_partkey IN (SELECT p_partkey FROM part_v
          |                         WHERE p_name LIKE 'small%')
          |      AND 5 * (SELECT COALESCE(SUM(CAST(l_quantity AS BIGINT)), 0)
          |               FROM lineitem_v
          |               WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          |                 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |                 AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
          |          > 2 * ps_availqty)""".stripMargin)
    },

    // SAMPLED-slice recall audit (ext/Dedup.sampleSlice + recallAudit):
    // q218's banding-recall harness in its 100 TB mode — the exact
    // ground-truth pair join runs on a deterministic 400‰ hash slice of the
    // corpus (16% of the full pair-join cost), the MinHash scheme's recall
    // is estimated on that slice. The slice predicate is the portable hash,
    // so the oracle replays corpus, slice, truth, banding, and audit
    // verbatim. Round11bSpec pins slice-vs-full estimate agreement.
    "q280_sampled_recall" -> { (s, dir) =>
      val slice = graft.ext.Dedup.sampleSlice(
        docsWithPlantedNearDups(s, dir), "doc_id",
        keepPermille = 400L, salt = "recall-slice")
      val truth = graft.ext.Dedup.prefixFilterJaccardPairs(slice, k = 3, tauMilli = 600L)
      val found = graft.ext.Dedup.minhashNearDuplicatesPortable(slice, threshold = 0.6)
      graft.ext.Dedup.recallAudit(truth, found, Seq("id_a", "id_b"))
    },

    // Quality-score reweighting harness (ext/Sampling.mixtureQuotas): the
    // document-quality curation loop — a per-doc model score (STUBBED as a
    // deterministic portable-hash centi-score; swapping real model
    // inference in changes no Spark-side shape), banded into quintiles,
    // allocated a keep-budget by an EXPLICIT target mixture (high-quality
    // bands oversampled 8:1 over the lowest) via largest-remainder seats,
    // capped by band availability. Σquota = budget exactly; every share is
    // integer arithmetic. The broadcast score/target tables are the
    // metadata-sized side of the join at any corpus size.
    "q281_quality_reweight" -> { (s, dir) =>
      import s.implicits._
      val banded = t(s, dir, "documents")
        .select((graft.ext.PortableHash.hash60(concat_ws(":",
          lit("qscore"), col("doc_id").cast("string"))) % 100L).as("score_centi"))
        .withColumn("band", expr("score_centi DIV 20"))
      val counts = banded.groupBy(col("band")).agg(count(lit(1)).as("n_docs"))
      val target = Seq((0L, 50L), (1L, 100L), (2L, 150L), (3L, 300L), (4L, 400L))
        .toDF("band", "target_permille")
      val quotas = graft.ext.Sampling.mixtureQuotas(
        counts.join(broadcast(target), Seq("band"))
          .select(col("band"), col("target_permille")),
        "band", "target_permille", total = 300L)
      counts.join(quotas.withColumnRenamed("group", "band"), Seq("band"))
        .select(col("band"), col("n_docs"), col("target_permille"), col("quota"),
          least(col("quota"), col("n_docs")).as("kept"))
    },

    // N-gram novelty DECAY over ingest batches (ext/Dedup
    // .noveltyDecayByBatch): q143's seen/total novelty per batch + q140's
    // integer EWMA smoothing, computed in ONE pass via first-seen-batch per
    // shingle hash instead of B cross-batch reference joins. Batches here
    // are doc_id mod 5 (the deterministic stand-in for crawl deliveries).
    "q282_novelty_decay" -> { (s, dir) =>
      graft.ext.Dedup.noveltyDecayByBatch(
        t(s, dir, "documents").withColumn("batch", col("doc_id") % 5), "batch")
    },

    // LEAKAGE-SAFE train/eval split: the assignment unit is the near-dup
    // CONNECTED COMPONENT (q65's machinery), not the document — a hash
    // split by doc_id would park a document in train and its near-verbatim
    // copy in eval, the classic contamination leak. Split = portable hash
    // of the component label (80/20), so near-dup pairs can never straddle;
    // the query AUDITS that claim in-data (n_leaked, 0 by construction, and
    // the oracle recomputes it honestly from its own components).
    "q283_leakage_safe_split" -> { (s, dir) =>
      val docs = docsWithPlantedNearDups(s, dir)
      // pairs feed TWO consumers (the CC and the straddle join) — persist +
      // lineage-truncate once (the q321 discipline) or the MinHash candidate
      // generation re-executes per consumer
      val pairs = Frames.rebind(Frames.scope().keep(graft.ext.Dedup
        .minhashNearDuplicatesPortable(docs, threshold = 0.5)
        .select(col("id_a"), col("id_b"))))
      val comp = graft.ext.Graph.connectedComponents(pairs)
      val labeled = docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      val split = labeled.withColumn("split",
        when(graft.ext.PortableHash.hash60(concat_ws(":",
          lit("split"), col("component").cast("string"))) % 1000L < 800L,
          lit("train")).otherwise(lit("eval")))
      val straddle = split.select(col("doc_id").as("id_a"), col("split").as("sa"))
        .join(pairs, Seq("id_a"))
        .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")),
          Seq("id_b"))
        .filter(col("sa") =!= col("sb"))
      split.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"))
        .crossJoin(broadcast(straddle.agg(count(lit(1)).as("n_leaked"))))
    },

    // K-ANONYMITY audit with a generalization ladder (the release-decision
    // table for any quasi-identifier export, q62/q226/q240's privacy
    // sibling): per generalization level — full QI tuple (nation, segment,
    // balance-band), drop the band, drop the segment — count equivalence
    // classes, classes under k=5, and the rows they expose. All three
    // levels are map-side-combinable double aggregates; choosing the
    // coarsest level with zero risk rows is the consumer's one comparison.
    "q284_k_anonymity" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_k"))
      def level(lvl: Int, keys: Seq[Column]) = c.groupBy(keys: _*)
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small_classes"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_risk_rows"))
        .withColumn("level", lit(lvl))
      level(0, Seq(col("nat"), col("seg"), col("bal_k")))
        .unionByName(level(1, Seq(col("nat"), col("seg"))))
        .unionByName(level(2, Seq(col("nat"))))
        .select(col("level"), col("n_classes"), col("n_small_classes"),
          col("n_risk_rows"))
    },

    // SEMANTIC-DIVERSITY sample: flatten the topic distribution of an
    // embedding corpus — bucket by the q29 portable hyperplane LSH (6 sign
    // bits ≈ coarse topics; no training pass, plan literals), allocate a
    // UNIFORM per-bucket budget via mixtureQuotas(weight=1), select within
    // each bucket by portable-hash rank. Every stage — planes, quotas,
    // ranks — replays in the oracle, so the EXACT kept set is pinned
    // (per-bucket count + id checksum). The diversity counterpart to
    // q63's per-domain cap and q82's mixture sample.
    "q285_semantic_diversity_sample" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val bucketed = emb.withColumn("bucket",
        graft.ext.Similarity.lshBucket(col("v"), bits = 6, dim = 64))
      val counts = bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("n_vectors"))
      val quotas = graft.ext.Sampling.mixtureQuotas(
          counts.select(col("bucket"), lit(1L).as("w")), "bucket", "w", total = 200L)
        .withColumnRenamed("group", "bucket").select(col("bucket"), col("quota"))
      val w = Window.partitionBy(col("bucket")).orderBy(col("__h"), col("vec_id"))
      val kept = bucketed
        .withColumn("__h", graft.ext.PortableHash.hash60(concat_ws(":",
          lit("divsamp"), col("vec_id").cast("string"))))
        .withColumn("__rn", row_number().over(w))
        .join(broadcast(quotas), Seq("bucket"))
        .filter(col("__rn") <= col("quota"))
      counts.join(quotas, Seq("bucket"))
        .join(kept.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("kept_id_sum")),
          Seq("bucket"), "left")
        .select(col("bucket"), col("n_vectors"), col("quota"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
    },

    // L-DIVERSITY audit — q284's sibling on the sensitive-attribute axis:
    // k-anonymity bounds re-identification, l-diversity bounds ATTRIBUTE
    // disclosure (a k-large equivalence class whose members all share one
    // balance band still leaks the band to anyone who can place a person
    // in the class). QI = (nation, segment); sensitive = $1k balance band.
    // Two map-side-combinable aggregates — nothing data-sized leaves the
    // mappers.
    "q286_l_diversity" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_k"))
      c.groupBy(col("nat"), col("seg"))
        .agg(count(lit(1)).as("n"), countDistinct(col("bal_k")).as("l"))
        .agg(count(lit(1)).as("n_classes"),
          min(col("l")).as("min_l"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_low_l_classes"),
          sum(when(col("l") < 3, col("n")).otherwise(0L)).as("n_exposed_rows"))
    },

    // MUTUAL top-1 neighbor pairs across two embedding corpora
    // (ext.Similarity.mutualTopOne — the bitext/paraphrase mining shape):
    // label < 5 plays the "source language", label >= 5 the "target";
    // LSH-bucket blocking (6 literal hyperplanes, q29/q285's family) keeps
    // candidates equi-joined — |A|·|B| never materializes — and
    // forward ∧ backward top-1 agreement is the high-precision filter.
    // Every stage (planes, 6-dp cosine, id tie-breaks) replays in DuckDB,
    // so the exact pair set is the oracle.
    "q287_mutual_nn_pairs" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      graft.ext.Similarity.mutualTopOne(
        emb.filter(col("label") < 5), emb.filter(col("label") >= 5))
    },

    // RELIABILITY DIAGRAM + exact micro-ECE numerator
    // (ext.Calibration.eceBins): a synthetic classifier over orders that is
    // perfectly calibrated IN EXPECTATION — confidence = one portable-hash
    // draw, outcome = a second independent draw < confidence — so bin
    // accuracy tracks bin confidence up to sampling noise and the ECE
    // numerator measures exactly that noise. Integer cross-multiplied gaps
    // (|1000·Σy − Σconf| per bin); the corpus-level numerator rides along
    // via a broadcast one-row cross join (q283's pattern).
    "q288_ece_calibration" -> { (s, dir) =>
      val scored = t(s, dir, "orders").select(
          (graft.ext.PortableHash.hash60(concat_ws(":", lit("cal"),
            col("o_orderkey").cast("string"))) % 1000L).as("score_permille"),
          (graft.ext.PortableHash.hash60(concat_ws(":", lit("out"),
            col("o_orderkey").cast("string"))) % 1000L).as("draw"))
        .withColumn("y", (col("draw") < col("score_permille")).cast("long"))
      val bins = graft.ext.Calibration.eceBins(
        scored.select(col("score_permille"), col("y")),
        "score_permille", "y", bins = 10)
      bins.crossJoin(broadcast(bins.agg(sum(col("gap")).as("ece_num"),
          sum(col("n")).as("n_total"))))
        .select(col("bin"), col("n"), col("n_pos"),
          col("sum_conf_permille"), col("gap"), col("ece_num"), col("n_total"))
    },

    // Exact distributed ROC-AUC (ext.Rank.aucStats — Mann–Whitney U with
    // midrank ties, no global window anywhere): score = balance cents,
    // positive class = BUILDING segment. aucStats keeps DECIMAL(38,0)
    // internals (rank sums reach n² at corpus scale); the QUERY contract
    // reduces to BIGINT + a permille presentation division, per the
    // round-10 oracle type rule (q263's discipline, eager-collected inside
    // the scratch scope).
    "q289_auc" -> { (s, dir) =>
      val base = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").as("v"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("y"))
      graft.engine.Scratch.withTempDir("graft-auc-") { tmp =>
        val stats = graft.ext.Rank.aucStats(base, "v", "y", "id", tmp)
          .select(col("n_pos"), col("n_neg"),
            col("two_u").cast("long").as("two_u"))
          .withColumn("auc_permille",
            expr("two_u * 1000 DIV (2 * n_pos * n_neg)"))
        val r = stats.collect()
        s.createDataFrame(java.util.Arrays.asList(r: _*), stats.schema)
      }
    },

    // SPLIT-CONFORMAL coverage audit (Vovk's inductive conformal
    // prediction, the distribution-free uncertainty wrapper every model
    // service wants): nonconformity = event value in exact micro units,
    // calibration half by portable-hash coin, q̂ = the ⌈(n+1)·0.9⌉-th
    // smallest calibration score — finite-sample-corrected 90% quantile
    // via Rank.valueAtRanks' frozen-scratch machinery (NO global sort) —
    // and marginal coverage counted on the held-out half. Exchangeable
    // split ⇒ expected coverage ≥ 900‰; the audit reports exact counts.
    "q290_conformal_coverage" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("event_id"),
          expr("CAST(floor(value * 1000000) AS BIGINT)").as("nc"))
        .withColumn("side", graft.ext.PortableHash.hash60(concat_ws(":",
          lit("conf"), col("event_id").cast("string"))) % 2L)
      val qhat = graft.ext.Rank.valueAtRanks(
        ev.filter(col("side") === 0L), Seq("nc", "event_id"), "nc",
        n => Seq("qhat" -> (9L * (n + 1) + 9L) / 10L), countName = "n_cal")
      ev.filter(col("side") === 1L).crossJoin(broadcast(qhat))
        .agg(max(col("n_cal")).as("n_cal"), max(col("qhat")).as("qhat"),
          count(lit(1)).as("n_test"),
          sum(when(col("nc") <= col("qhat"), 1L).otherwise(0L))
            .as("n_covered"))
        .withColumn("coverage_permille",
          expr("n_covered * 1000 DIV n_test"))
    },

    // PADDING-WASTE audit for fixed-count training batches
    // (ext.Packing.paddingWaste): batches of 32 inside 8 hash streams,
    // arrival order vs length-sorted order; each batch pads to its max
    // token count. The two-row answer quantifies exactly what
    // length-sorted batching saves — q69's fixed-budget packing is the
    // other half of the trade.
    "q291_padding_waste" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.ext.Packing.paddingWaste(docs, col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(col("text")),
        batchSize = 32, streams = 8)
    },

    // STRATIFIED GROUP K-FOLD — q283's leakage-safe split generalized to
    // cross-validation: the assignment unit is still the near-dup connected
    // component (hash60 of the component label picks one of 5 folds, so no
    // near-duplicate pair ever straddles folds — n_leaked stays 0 by
    // construction and is audited in-data), and the per-(fold, language)
    // counts are the stratification balance report. Language comes from the
    // base document (planted copies inherit via doc_id % 100000).
    "q292_stratified_group_kfold" -> { (s, dir) =>
      val docs = docsWithPlantedNearDups(s, dir)
      // pairs feed the CC and the straddle join — persist + truncate once
      // (the q321 discipline)
      val pairs = Frames.rebind(Frames.scope().keep(graft.ext.Dedup
        .minhashNearDuplicatesPortable(docs, threshold = 0.5)
        .select(col("id_a"), col("id_b"))))
      val comp = graft.ext.Graph.connectedComponents(pairs)
      val folds = docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .withColumn("fold", graft.ext.PortableHash.hash60(concat_ws(":",
          lit("fold"), col("component").cast("string"))) % 5L)
      val straddle = folds.select(col("doc_id").as("id_a"), col("fold").as("fa"))
        .join(pairs, Seq("id_a"))
        .join(folds.select(col("doc_id").as("id_b"), col("fold").as("fb")),
          Seq("id_b"))
        .filter(col("fa") =!= col("fb"))
      val langs = t(s, dir, "documents")
        .select(col("doc_id").as("base_id"), col("lang"))
      folds.withColumn("base_id", col("doc_id") % 100000L)
        .join(langs, Seq("base_id"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"))
        .crossJoin(broadcast(straddle.agg(count(lit(1)).as("n_leaked"))))
        .select(col("fold"), col("lang"), col("n_docs"),
          col("n_components"), col("n_leaked"))
    },

    // BOILERPLATE detection (ext.TextAnalysis.boilerplateBySource): shingles
    // in >20% of a source's documents are template chrome, not content —
    // per-source share of template shingle occurrences, integer
    // cross-multiplied df flag, word-count economics (no windows).
    "q293_boilerplate" -> { (s, dir) =>
      graft.ext.TextAnalysis.boilerplateBySource(t(s, dir, "documents"))
    },

    // TOKENIZER FERTILITY by language — BPE tokens per whitespace word (the
    // multilingual-tokenizer equity metric: high fertility = the language
    // pays more sequence length per word): q149's trained merges applied by
    // q179's encoder, re-aggregated per language with exact integer ratios.
    "q294_bpe_fertility" -> { (s, dir) =>
      val enc = graft.ext.TextAnalysis.bpeEncode(
        t(s, dir, "documents"), "doc_id", col("text"), rounds = 4)
      enc.join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_chars")).as("n_chars"))
        .withColumn("fertility_permille",
          expr("n_tokens * 1000 DIV n_words"))
    },

    // MULTI-EPOCH SHUFFLE plan audit — the training-data shuffling
    // contract: per epoch e, shard = portable hash of (epoch, id) % 16, so
    // every epoch is a deterministic PERMUTATION of the corpus into shards
    // (no data movement to plan it — three hash columns, zero joins), the
    // per-epoch (n_rows, id_sum) invariants prove no row is lost or
    // duplicated, min/max shard sizes certify balance, and churn_from_prev
    // counts rows whose shard changed — the "epochs actually reshuffle"
    // guarantee (≈ 15/16 of rows expected to move).
    "q295_epoch_shuffle" -> { (s, dir) =>
      val ids = t(s, dir, "orders").select(col("o_orderkey").as("id"))
      def shard(e: Int) = graft.ext.PortableHash.hash60(concat_ws(":",
        lit("ep"), lit(e).cast("string"), col("id").cast("string"))) % 16L
      val base = ids.withColumn("s0", shard(0)).withColumn("s1", shard(1))
        .withColumn("s2", shard(2))
      def epoch(e: Int, sc: String, churn: Column) = {
        val sizes = base.groupBy(col(sc)).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_shards"), min(col("n")).as("min_shard_rows"),
            max(col("n")).as("max_shard_rows"))
        base.agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"),
            sum(churn).as("churn_from_prev"))
          .crossJoin(broadcast(sizes))
          .select(lit(e.toLong).as("epoch"), col("n_rows"), col("id_sum"),
            col("n_shards"), col("min_shard_rows"), col("max_shard_rows"),
            col("churn_from_prev"))
      }
      epoch(0, "s0", lit(0L))
        .unionByName(epoch(1, "s1", when(col("s1") =!= col("s0"), 1L).otherwise(0L)))
        .unionByName(epoch(2, "s2", when(col("s2") =!= col("s1"), 1L).otherwise(0L)))
    },

    // GROUPWISE TRIMMED MEAN — the robust-stats reporting sibling of q141's
    // median impute and q199's weighted median: per market segment, drop the
    // lowest and highest decile of balances by within-group rank (windows
    // partitioned by segment — never global) and report the exact integer
    // mean of the rest. Outlier-resistant group KPIs without float
    // association anywhere.
    "q296_trimmed_mean" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_mktsegment").as("seg"),
        col("c_custkey").as("id"),
        expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy(col("seg")).orderBy(col("cents"), col("id"))
      val wc = Window.partitionBy(col("seg"))
      c.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wc))
        .filter(expr("rn > cnt DIV 10 AND rn <= cnt - cnt DIV 10"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_kept"), sum(col("cents")).as("sum_cents"))
        .withColumn("trimmed_mean_cents", expr("sum_cents DIV n_kept"))
    },

    // JARO–WINKLER record linkage (functions.JaroWinkler — the 9th custom
    // codegen expression, DuckDB-contract semantics spec-pinned;
    // ext.Fuzzy.jwBestMatch): supplier names with their last two characters
    // transposed (the classic digit-swap typo) are re-linked to the clean
    // dimension under digit-prefix BLOCKING (all but the last 3 chars —
    // per-block candidates bounded at 10³ originals at ANY corpus scale,
    // the editDistanceJoin/Spatial density discipline), argmax per typo by
    // (jw DESC, id). The oracle replays blocking, DuckDB's own
    // jaro_winkler_similarity, and the tie-break — pinning kernel semantics
    // over real data, not just the spec's hand cases.
    "q297_jw_linkage" -> { (s, dir) =>
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"))
      val typos = sup.select((col("id") + 100000L).as("tid"),
        concat(expr("substring(name, 1, length(name) - 2)"),
          reverse(expr("substring(name, length(name) - 1, 2)"))).as("tname"))
      graft.ext.Fuzzy.jwBestMatch(
        typos, "tid", col("tname"),
        expr("substring(tname, 1, length(tname) - 3)"),
        sup, "id", col("name"),
        expr("substring(name, 1, length(name) - 3)"))
    },

    // NDCG@10 (ext.Rank.ndcgMicros — the ranking-eval flagship next to
    // q289's AUC) computed WITHOUT floats: per-user model ranking (portable
    // hash score) vs ideal ranking of graded relevances, each rank
    // contributing rel·⌊10⁶/log₂(r+1)⌋ micros — the discount table is a
    // shared Scala-computed literal (hyperplane discipline), so both
    // engines sum identical integers. Micro-averaged corpus NDCG as exact
    // num/den, one permille division at the boundary.
    "q298_ndcg" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"))
        .withColumn("score", graft.ext.PortableHash.hash60(concat_ws(":",
          lit("score"), col("event_id").cast("string"))) % 1000000L)
        .withColumn("rel", graft.ext.PortableHash.hash60(concat_ws(":",
          lit("rel"), col("event_id").cast("string"))) % 4L)
      graft.ext.Rank.ndcgMicros(ev, "user_id", "score", "rel", "event_id", 10)
        .agg(count(lit(1)).as("n_users"),
          sum(col("dcg_micros")).as("sum_dcg_micros"),
          sum(col("idcg_micros")).as("sum_idcg_micros"))
        .withColumn("mean_ndcg_permille",
          expr("sum_dcg_micros * 1000 DIV sum_idcg_micros"))
    },

    // BRIER SCORE for q288's synthetic calibrated classifier — the proper
    // scoring rule companion to ECE: Σ(1000·y − conf_permille)² stays in
    // exact integer permille² units (no float squares), mean via one DIV.
    "q299_brier" -> { (s, dir) =>
      t(s, dir, "orders").select(
          (graft.ext.PortableHash.hash60(concat_ws(":", lit("cal"),
            col("o_orderkey").cast("string"))) % 1000L).as("sp"),
          (graft.ext.PortableHash.hash60(concat_ws(":", lit("out"),
            col("o_orderkey").cast("string"))) % 1000L).as("draw"))
        .withColumn("y", (col("draw") < col("sp")).cast("long"))
        .agg(count(lit(1)).as("n"),
          sum((lit(1000L) * col("y") - col("sp")) *
            (lit(1000L) * col("y") - col("sp"))).as("brier_num_pm2"))
        .withColumn("brier_mean_pm2", expr("brier_num_pm2 DIV n"))
    },

    // COHEN'S KAPPA for two annotators (q163's Fleiss is the n-rater
    // generalization; Cohen is the pairwise workhorse): two deterministic
    // hash labelers over documents, annotator B flipping 20% of A's labels,
    // chance agreement from the CLASS GRID (one 9-row groupBy — everything
    // after the first aggregate is metadata-sized). Exact integer
    // ingredients: κ = (n·agree − Σ_c nａ_c·nｂ_c) / (n² − Σ_c nａ_c·nｂ_c).
    "q300_cohens_kappa" -> { (s, dir) =>
      val lab = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("a", graft.ext.PortableHash.hash60(concat_ws(":",
          lit("ann_a"), col("doc_id").cast("string"))) % 3L)
        .withColumn("flip", graft.ext.PortableHash.hash60(concat_ws(":",
          lit("flip"), col("doc_id").cast("string"))) % 1000L)
        .withColumn("b", when(col("flip") < 200L,
          (col("a") + 1L + graft.ext.PortableHash.hash60(concat_ws(":",
            lit("fd"), col("doc_id").cast("string"))) % 2L) % 3L)
          .otherwise(col("a")))
      val grid = lab.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      val pe = grid.groupBy(col("a")).agg(sum(col("n_ab")).as("na"))
        .withColumnRenamed("a", "c")
        .join(grid.groupBy(col("b")).agg(sum(col("n_ab")).as("nb"))
          .withColumnRenamed("b", "c"), Seq("c"))
        .agg(sum(col("na") * col("nb")).as("pe_num"))
      grid.agg(sum(col("n_ab")).as("n"),
          sum(when(col("a") === col("b"), col("n_ab")).otherwise(0L))
            .as("n_agree"))
        .crossJoin(broadcast(pe))
        .select(col("n"), col("n_agree"), col("pe_num"),
          (col("n") * col("n_agree") - col("pe_num")).as("kappa_num"),
          (col("n") * col("n") - col("pe_num")).as("kappa_den"))
        .withColumn("kappa_permille", expr("kappa_num * 1000 DIV kappa_den"))
    },

    // PERSONALIZED PageRank (ext.Graph.personalizedPageRank — Haveliwala's
    // topic-sensitive variant of q127): teleport mass restricted to the
    // nation-1 suppliers, so parts rank by proximity-weighted connectivity
    // to that seed cohort — the "expand from a trusted seed set" primitive
    // (TrustRank / related-entity expansion). Same exact integer micro
    // arithmetic as q127, oracle = 3 unrolled rounds with the seed-gated
    // teleport.
    "q301_personalized_pagerank" -> { (s, dir) =>
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("a"),
          (col("l_partkey").cast("long") + 1000000L).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      val seeds = t(s, dir, "supplier")
        .filter(col("s_nationkey") === 1)
        .select(col("s_suppkey").cast("long").as("node"))
      graft.ext.Graph.personalizedPageRank(edges, seeds, iters = 3)
        .orderBy(col("rank_micros").desc, col("node"))
        .limit(20)
    },

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram bucket
    // add-one log-likelihood ratios between the target slice (lang='en')
    // and the full corpus, as exact integer micros; per-doc weight = Σ of
    // its token occurrences' bucket ratios. The B-row ratio table
    // broadcasts, so scoring any corpus width is one map-side join +
    // groupBy(doc) — the published data-selection recipe in its 100 TB
    // shape. Top-20 docs by weight (ties broken by doc_id).
    "q302_dsir_select" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      val ratios = ext.Sampling.dsirLogRatioMicros(toks, "token", col("lang") === "en")
      ext.Sampling.dsirDocWeights(toks, "doc_id", "token", ratios)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("weight_micros"))
        .orderBy(col("weight_micros").desc, col("doc_id"))
        .limit(20)
    },

    // Rendezvous (HRW) vs mod-hash shard rebalance audit for 8 → 9 shards
    // over the customer keys: mod-hash remaps ~8/9 of all keys (a full
    // re-shard — terabytes rewritten at corpus scale), HRW only the ~1/9
    // that land on the new shard. Pure portable-hash row functions — the
    // oracle replays every per-shard hash and the argmax arithmetically.
    "q303_hrw_rebalance" -> { (s, dir) =>
      ext.Sharding.rebalanceAudit(
        t(s, dir, "customer").select(col("c_custkey").cast("long").as("k")),
        "k", 8, 9)
    },

    // Key-skew audit: exact Gini of the token-frequency distribution (the
    // Zipf tail that melts a naive groupBy) vs the SAME mass after
    // hash-bucketing into 32 shuffle buckets (zeros included via a bucket
    // spine) — what the executors actually see. Rank.giniStats keeps
    // DECIMAL(38,0) internals (S reaches n·T past int64 at corpus scale);
    // this query reduces to BIGINT per the oracle type contract.
    "q304_gini_skew" -> { (s, dir) =>
      val toks = t(s, dir, "documents").select(
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      val byToken = toks.groupBy(col("token")).agg(count(lit(1)).as("sz"))
        .select(col("token").as("id"), col("sz"))
      val spine = s.range(32).select(col("id").cast("long").as("b"))
      val byBucket = spine.join(
          toks.select(pmod(graft.ext.PortableHash.hash60(concat(lit("gini:"), col("token"))),
              lit(32L)).as("b"))
            .groupBy(col("b")).agg(count(lit(1)).as("cnt")),
          Seq("b"), "left")
        .select(col("b").cast("string").as("id"),
          coalesce(col("cnt"), lit(0L)).as("sz"))
      graft.engine.Scratch.withTempDir("graft-gini-") { tmp =>
        def row(df: DataFrame, scheme: String, sub: String) =
          graft.ext.Rank.giniStats(df, "sz", "id", s"$tmp/$sub")
            .select(lit(scheme).as("scheme"),
              col("n").cast("long").as("n_keys"),
              col("t").cast("long").as("total"),
              col("s").cast("long").as("s"))
            .select(col("scheme"), col("n_keys"), col("total"),
              expr("CAST((2 * s - (n_keys + 1) * total) * 1000 DIV (n_keys * total) AS BIGINT)")
                .as("gini_permille"))
        val out = row(byToken, "token_freq", "tok")
          .unionByName(row(byBucket, "hash_bucket32", "bkt"))
        val r = out.collect()
        s.createDataFrame(java.util.Arrays.asList(r: _*), out.schema)
      }
    },

    // Pointwise mutual information over co-occurring word pairs, vocabulary
    // capped to the top-50 words by document frequency (broadcast), so the
    // per-doc pair fan-out is bounded by C(50,2) whatever the corpus width
    // — never all-pairs over the raw vocabulary. PMI in exact integer
    // micros via the shared ROUND(ln·1e6) contract (PmiMicrosExpr is
    // spliced verbatim into the oracle).
    "q305_pmi_pairs" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val dt = docs.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w")).distinct()
      val dfreq = dt.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val topV = dfreq.orderBy(col("df").desc, col("w")).limit(50)
      val tv = dt.join(broadcast(topV), Seq("w"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      tv.select(col("doc_id"), col("w").as("w1"), col("df").as("df1"))
        .join(tv.select(col("doc_id"), col("w").as("w2"), col("df").as("df2")),
          Seq("doc_id"))
        .filter(col("w1") < col("w2"))
        .groupBy(col("w1"), col("w2"), col("df1"), col("df2"))
        .agg(count(lit(1)).as("c_xy"))
        .crossJoin(broadcast(nDocs))
        .filter(col("c_xy") >= 5)
        .select(col("w1"), col("w2"), col("c_xy"), expr(PmiMicrosExpr).as("pmi_micros"))
        .orderBy(col("pmi_micros").desc, col("w1"), col("w2"))
        .limit(30)
    },

    // Letter-distribution Shannon entropy per language in exact integer
    // micro-nats — the gibberish/mojibake screen. Counts via 26 codegen'd
    // length-replace projections (NO per-character explode: an explode
    // multiplies row count by text length; this stays one linear scan).
    // The entropy arithmetic is ONE generated SQL fragment shared verbatim
    // with the oracle (only the integer-division token differs).
    "q306_letter_entropy" -> { (s, dir) =>
      val cnts = t(s, dir, "documents")
        .selectExpr("lang" +: ext.TextAnalysis.letterCountCols("lower(text)"): _*)
      cnts
        .filter(expr(s"${ext.TextAnalysis.letterTotalExpr} > 0"))
        .select(col("lang"),
          expr(ext.TextAnalysis.letterEntropyMicrosExpr("DIV")).as("h_micros"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(SUM(h_micros) DIV COUNT(*) AS BIGINT)").as("mean_entropy_micros"),
          min(col("h_micros")).as("min_entropy_micros"),
          max(col("h_micros")).as("max_entropy_micros"))
    },

    // Distinct-n diversity (unigram type-token ratio + bigram distinct
    // share) per source — the self-repetition screen for generated/crawled
    // corpora. Bigrams via the order-preserving multiset HOF
    // (TextAnalysis.allGrams — NOT the distinct shingle set MinHash uses);
    // exact distinct counts (the sketch path for corpus scale is q109's
    // HLL table).
    "q307_distinct_ngrams" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val uni = docs.select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("g"))
      val bi = docs.select(col("source"),
        explode(ext.TextAnalysis.allGrams(lower(col("text")), 2)).as("g"))
      def stats(df: DataFrame, gram: String) =
        df.groupBy(col("source"))
          .agg(count(lit(1)).as("total"), countDistinct(col("g")).as("distinct_grams"))
          .select(lit(gram).as("gram"), col("source"), col("total"),
            col("distinct_grams"),
            expr("distinct_grams * 1000 DIV total").as("distinct_permille"))
      stats(uni, "uni").unionByName(stats(bi, "bi"))
    },

    // MMR diversified top-k over embeddings: bounded candidate pool (top-20
    // by relevance to vec 0 — a TakeOrdered, no global sort), pairwise sims
    // computed ONCE distributed, then the O(pool·k) greedy fold on the
    // driver over that metadata-sized table — the MMR-at-scale
    // decomposition. Integer-micros mixing (λ=0.7) so the pick sequence is
    // deterministic; the oracle unrolls the same 5 steps with correlated
    // max-sim subqueries.
    "q308_mmr_diversify" -> { (s, dir) =>
      Similarity.mmrSelect(t(s, dir, "embeddings"), queryId = 0,
        poolSize = 20, k = 5, lambdaPermille = 700)
    },

    // One Dawid–Skene round over synthetic 5-rater annotations (portable-
    // hash noise at per-rater accuracies 950..550 permille against the
    // order-status truth): majority vote → per-rater agreement (M-step) →
    // reliability-weighted relabel (E-step). Output: the majority-vs-
    // weighted confusion with per-cell truth agreement — exactly which
    // consensus calls the reweighting flipped, and whether the flips were
    // right. The oracle replays the noise draws and both vote rounds.
    "q309_dawid_skene" -> { (s, dir) =>
      val votes = dsVotes(t(s, dir, "orders"))
      val truth = votes.select(col("item"), col("truth")).distinct()
      graft.ext.Labels.weightedRelabel(votes, col("item"), col("rater"), col("label"))
        .join(truth, Seq("item"))
        .groupBy(col("maj_label"), col("weighted_label"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("weighted_label") === col("truth"), 1L).otherwise(0L))
            .as("n_weighted_correct"))
    },

    // Fellegi–Sunter record linkage with DATA-ESTIMATED u-probabilities:
    // per-field agreement-by-chance from value frequencies, integer-micros
    // log weights (ROUND(ln·1e6) contract), pairs scored only within the
    // (mktsegment × nation) block (never all-pairs; perturbed-block records
    // dropping out IS the blocking-recall cost, quantified by n_true),
    // banded by e-fold with the planted-truth count per band — the
    // match/non-match separation the weights buy, certified against the
    // perturbed copy.
    "q310_fellegi_sunter" -> { (s, dir) =>
      val (left0, right0) = fsRecordSides(t(s, dir, "customer"))
      val left = left0.withColumn("blk",
        concat(col("seg"), lit(":"), expr("nation DIV 5").cast("string")))
      val right = right0.withColumn("blk",
        concat(col("seg"), lit(":"), expr("nation DIV 5").cast("string")))
      val weights = graft.ext.Fuzzy.fsFieldWeights(
        left.select(FsFields.map(f => col(f._1)): _*), FsFields)
      graft.ext.Fuzzy.fsScores(left, "id", right, "id", "blk", weights,
          FsFields.map(_._1))
        .select(expr("score_micros DIV 1000000").as("band"),
          (col("right_id") - col("left_id") === 100000L).cast("long").as("is_true"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("is_true")).as("n_true"))
    },

    // CCNet-style unigram-LM quality filter: the reference model is trained
    // on the trusted slice (lang='en'), every token costs −ln p(w) in exact
    // integer micros (add-one smoothing over the CORPUS vocabulary so
    // unseen-in-reference tokens pay the max), and each doc reports its
    // mean token cost. Per-lang summary: en must sit lowest — the filter's
    // separation, hash-pinned. One vocab groupBy + one broadcast total;
    // the cost join is vocabulary-keyed.
    "q311_unigram_lm_quality" -> { (s, dir) =>
      val toks = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      val costs = ext.TextAnalysis.unigramLmCosts(toks, "w", col("lang") === "en")
      ext.TextAnalysis.docLmCosts(toks, "doc_id", "w", costs)
        .join(toks.select(col("doc_id"), col("lang")).distinct(), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(SUM(cost_micros) DIV COUNT(*) AS BIGINT)").as("mean_cost_micros"),
          min(col("cost_micros")).as("min_cost_micros"),
          max(col("cost_micros")).as("max_cost_micros"))
    },

    // √-temperature multilingual mixture (the XLM-R α=0.5 rebalance):
    // per-language sampling quotas ∝ √share via the exact largest-remainder
    // allocator — high-resource languages are down-weighted, the quota sum
    // is EXACTLY the budget. √ is correctly-rounded IEEE on both engines,
    // so the micro-weights (and hence every quota) are bit-identical.
    "q312_temperature_mixture" -> { (s, dir) =>
      val counts = t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("weight_micros",
          expr("CAST(ROUND(1e6 * sqrt(n_docs)) AS BIGINT)"))
      ext.Sampling.mixtureQuotas(counts, "lang", "weight_micros", total = 1000)
        .withColumnRenamed("group", "lang")
        .join(counts.select(col("lang"), col("n_docs")), Seq("lang"))
        .select(col("lang"), col("n_docs"), col("weight_micros"), col("quota"))
    },

    // HITS authorities on the supplier→part bipartite graph: 2 mutual-
    // reinforcement rounds, max-normalized integer micros each half-step
    // (top authority pinned at 10⁶), oracle = the same rounds unrolled.
    // Parts ranked by being stocked by well-stocked (hub) suppliers — the
    // centrality complement to q301's seed-personalized PageRank.
    "q313_hits_authorities" -> { (s, dir) =>
      val edges = t(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
      graft.ext.Graph.hitsAuthorities(edges, iters = 2)
        .orderBy(col("auth_micros").desc, col("node"))
        .limit(15)
    },

    // Content-defined chunking vs fixed-size chunking over the planted
    // near-dup corpus (each doc ∪ its first-word-dropped copy — a prefix
    // SHIFT): CDC boundaries re-synchronize after the edit so downstream
    // chunks dedup across the copies; fixed 16-char blocks lose almost all
    // cross-copy sharing. The hash pins both schemes' exact dedup permille
    // — the storage-dedup win CDC exists to buy, certified. Linear position
    // stream, per-doc boundary lists only, one count-distinct.
    "q314_cdc_chunking" -> { (s, dir) =>
      val corpus = docsWithPlantedNearDups(s, dir)
      graft.ext.Chunking.chunkDedupStats(
          graft.ext.Chunking.cdcChunks(corpus, "doc_id", "text",
            window = 8, maskMod = 16L), "cdc")
        .unionByName(graft.ext.Chunking.chunkDedupStats(
          graft.ext.Chunking.fixedChunks(corpus, "doc_id", "text", 16), "fixed16"))
    },

    // Sorted-neighborhood linkage (the blocking-key complement): customers ∪
    // appended-char typo copies sorted BY NAME, candidates = pairs within
    // ordinal distance ≤ 10 via the range-exchange ordinal machinery + the
    // bucket trick (probe {b, b+1}, equi-join — per-record fan-out ≤ 2w,
    // never all-pairs, no global window). JW-scored; the hash pins the
    // candidate count, match count, and planted-typo recall.
    "q315_sorted_neighborhood" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val recs = cust.select(col("c_custkey").cast("long").as("id"),
          col("c_name").as("name"))
        .unionByName(cust.select((col("c_custkey").cast("long") + 100000L).as("id"),
          expr("concat(c_name, 'x')").as("name")))
      graft.engine.Scratch.withTempDir("graft-sn-") { tmp =>
        val pairs = graft.ext.Fuzzy.sortedNeighborhoodPairs(recs, "id", "name", 10, tmp)
        val stats = pairs
          .withColumn("jw", graft.ext.Fuzzy.jaroWinkler(col("k_a"), col("k_b")))
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("jw") >= 0.95, 1L).otherwise(0L)).as("n_matched"),
            sum(when(col("jw") >= 0.95 &&
                abs(col("id_a") - col("id_b")) === 100000L, 1L)
              .otherwise(0L)).as("n_true_found"))
          .crossJoin(broadcast(cust.agg(count(lit(1)).as("n_planted"))))
          .select(col("n_candidates"), col("n_matched"), col("n_true_found"),
            col("n_planted"),
            expr("n_true_found * 1000 DIV n_planted").as("recall_permille"))
        val r = stats.collect()
        s.createDataFrame(java.util.Arrays.asList(r: _*), stats.schema)
      }
    },

    // Categorical KL drift monitor: the full event stream vs a simulated
    // logging regression (a client build dropping every even-id click).
    // Add-one-smoothed KL in exact integer micro-nats, both directions —
    // the event-mix complement to q59's numeric KS drift. Alphabet-sized
    // state only.
    "q316_kl_drift" -> { (s, dir) =>
      val ev = eventsTable(s, dir)
      val degraded = ev.filter(
        !(col("event_type") === "click" && col("event_id") % 2 === 0))
      graft.engine.Profile.klDrift(ev, degraded, "event_type")
    },

    // First-order Markov transition matrix over each user's event sequence:
    // LEAD within the user partition (never global), transition counts and
    // row-stochastic permille — the behavioral-sequence summary feeding
    // next-event models and anomaly scores. Deterministic order (ts,
    // event_id); per-user windows only.
    "q317_markov_transitions" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = eventsTable(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("from_type"))
        .agg(sum(col("n")).as("row_total"))
      trans.join(totals, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("n * 1000 DIV row_total").as("permille"))
    },

    // Weekly cohort retention: users grouped by first-seen week, per-age
    // distinct-user counts, retention permille vs the cohort's own size —
    // the canonical engagement matrix. Weeks = epoch-days DIV 7 (pure date
    // arithmetic, identical on both engines); all state is per (cohort,
    // age) after one per-user min.
    "q318_cohort_retention" -> { (s, dir) =>
      val ev = eventsTable(s, dir).select(col("user_id"),
        expr("datediff(to_date(ts), DATE '1970-01-01') DIV 7").as("week"))
      val firstWeek = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      val aged = ev.join(firstWeek, Seq("user_id"))
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("age"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val size = aged.filter(col("age") === 0)
        .select(col("cohort"), col("n_users").as("cohort_size"))
      aged.join(size, Seq("cohort"))
        .select(col("cohort"), col("age"), col("n_users"), col("cohort_size"),
          expr("n_users * 1000 DIV cohort_size").as("retention_permille"))
    },

    // Sketch SET ALGEBRA: audience-overlap estimate from HLL sketches via
    // inclusion–exclusion (|A∩B| ≈ est(A) + est(B) − est(A∪B)) against the
    // exact intersection — q264's contract pattern: the oracle pins the
    // exact counts and a TRUE tolerance flag, so an estimator drift past
    // 10% hash-FAILS. The scale story: per-slice sketches are reusable,
    // mergeable audit artifacts — the overlap of any two audiences comes
    // from bytes already computed, no re-scan, no pairwise distinct join.
    "q319_sketch_overlap" -> { (s, dir) =>
      val ev = eventsTable(s, dir).select(col("user_id"), col("event_type"))
      val exact = ev.filter(col("event_type") === "click")
        .select(col("user_id")).distinct()
        .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct(), Seq("user_id"))
        .agg(count(lit(1)).as("n_inter_exact"))
      val sketches = ev
        .select(col("user_id"),
          (col("event_type") === "click").as("is_c"),
          (col("event_type") === "purchase").as("is_p"))
        .agg(
          expr("hll_sketch_estimate(hll_sketch_agg(CASE WHEN is_c THEN user_id END))")
            .as("est_c"),
          expr("hll_sketch_estimate(hll_sketch_agg(CASE WHEN is_p THEN user_id END))")
            .as("est_p"),
          expr("hll_sketch_estimate(hll_union(" +
            "hll_sketch_agg(CASE WHEN is_c THEN user_id END), " +
            "hll_sketch_agg(CASE WHEN is_p THEN user_id END)))").as("est_u"),
          countDistinct(when(col("is_c"), col("user_id"))).as("n_click_exact"),
          countDistinct(when(col("is_p"), col("user_id"))).as("n_buy_exact"))
      sketches.crossJoin(broadcast(exact))
        .select(col("n_click_exact"), col("n_buy_exact"), col("n_inter_exact"),
          (abs(col("est_c") + col("est_p") - col("est_u") - col("n_inter_exact"))
            * 10L <= col("n_inter_exact")).as("within_10pct"))
    },

    // Benford first-digit audit over order totals (exact integer cents →
    // leading digit): observed permille vs the Benford expectation
    // round(10⁶·log10(1+1/d)) — the classic fabricated-numbers screen for
    // ingested financial feeds. Digit table is alphabet-sized; the
    // expectation literals are ONE Scala constant spliced into both sides.
    "q320_benford" -> { (s, dir) =>
      val digits = t(s, dir, "orders")
        .select(expr("CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) " +
          "AS STRING), 1, 1) AS INT)").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = digits.agg(sum(col("n_obs")).as("n_total"))
      digits.crossJoin(broadcast(tot))
        .withColumn("benford_micros", expr(benfordCaseSql))
        .select(col("digit"), col("n_obs"),
          expr("n_obs * 1000000 DIV n_total").as("obs_micros"),
          col("benford_micros"),
          expr(s"n_obs * 1000000 DIV n_total - $benfordCaseSql").as("delta_micros"))
    },

    // INCREMENTAL connected components — the PRODUCTION dedup-index
    // maintenance path only (Graph.incrementalComponents): the near-dup edge
    // set splits into two deterministic batches; batch 1's labels stand in
    // for the accumulated index, batch 2 is the tick, and the CC loop runs
    // over the CONTRACTED delta graph alone — O(delta), history never
    // recomputed. Equality with the one-shot run is certified two ways
    // without benching a third CC: the ORACLE computes one-shot labels via a
    // recursive CTE and the node-level SUM(component) checksum must match
    // bit for bit (both canonicalize to the component's min id), and
    // Round12Spec proves fold ≡ one-shot node for node in Spark. (The
    // previous shape ran the one-shot CC + equality join INSIDE the benched
    // query — 83% proof harness by cost, round-11 verdict item 3.)
    "q321_incremental_cc" -> { (s, dir) =>
      // the MinHash pair pipeline feeds THREE consumers (batch-1 CC, the
      // delta relabel, the node set) — persist + lineage-truncate once, or
      // the candidate generation re-executes per consumer
      val pairs = Frames.rebind(Frames.scope().keep(
        Dedup.minhashNearDuplicatesPortable(
          docsWithPlantedNearDups(s, dir), threshold = 0.5)
        .select(col("id_a"), col("id_b"))))
      val b1 = pairs.filter(pmod(col("id_a") + col("id_b"), lit(2L)) === 0)
      val b2 = pairs.filter(pmod(col("id_a") + col("id_b"), lit(2L)) === 1)
      val l1 = graft.ext.Graph.connectedComponents(b1)
      graft.ext.Graph.incrementalComponents(l1, b2)
        .agg(count(lit(1)).as("n_nodes"),
          countDistinct(col("component")).as("n_components"),
          sum(col("component")).as("label_checksum"))
    },

    // Feature-hash collision audit for the DSIR bucket map (q302's feature
    // space): vocabulary size vs occupied buckets, tokens sharing a bucket,
    // and the max bucket load — the "is B big enough" check before trusting
    // hashed-feature importance weights. Alphabet-sized state throughout.
    "q322_feature_hash_audit" -> { (s, dir) =>
      val vocab = t(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .distinct()
        .select(col("token"), ext.Sampling.dsirBucket(col("token")).as("b"))
      val perBucket = vocab.groupBy(col("b")).agg(count(lit(1)).as("load"))
      perBucket.agg(
          sum(col("load")).as("n_vocab"),
          count(lit(1)).as("n_occupied"),
          sum(when(col("load") > 1, col("load")).otherwise(0L)).as("n_collided_tokens"),
          max(col("load")).as("max_load"))
        .select(col("n_vocab"), lit(ext.Sampling.DsirBuckets.toLong).as("n_buckets"),
          col("n_occupied"), col("n_collided_tokens"), col("max_load"))
    },

    // EXACT-quota stratified split: largest-remainder quotas per language
    // (Σ = budget exactly), then each stratum keeps precisely its quota by
    // portable-hash order — deterministic "exactly k per stratum" sampling
    // (q50's rate-based sampler can only hit k in expectation). The window
    // partitions BY STRATUM (never global); membership is pinned by the id
    // checksum, not just counts.
    "q323_exact_quota_split" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val quotas = ext.Sampling.largestRemainderQuotas(docs, col("lang"), total = 200)
        .select(col("group").as("lang"), col("quota"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(graft.ext.PortableHash.hash60(
          concat(lit("split:"), col("doc_id").cast("string"))), col("doc_id"))
      docs.withColumn("__rn", row_number().over(w))
        .join(broadcast(quotas), Seq("lang"))
        .filter(col("__rn") <= col("quota"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
        .join(broadcast(quotas), Seq("lang"))
        .select(col("lang"), col("quota"), col("n_kept"), col("id_checksum"))
    },

    // TOKEN-balanced export shards (training loaders want equal tokens, not
    // equal docs): shard = ⌊prefix·K/T⌋ over the exclusive token prefix-sum
    // in deterministic hash order — the prefix-sum partitioner, computed by
    // the range-exchange + partition-offset machinery (no global window).
    // Per-shard token totals land within one max-doc-length of each other;
    // the id checksum pins the exact assignment.
    "q324_token_balanced_shards" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        expr("size(split(trim(text), '\\\\s+'))").cast("long").as("n_tokens"))
      graft.engine.Scratch.withTempDir("graft-tbs-") { tmp =>
        val out = graft.ext.Packing.tokenBalancedShards(docs, "doc_id",
            "n_tokens", k = 8, tmp)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
            sum(col("doc_id")).as("id_checksum"))
        val r = out.collect()
        s.createDataFrame(java.util.Arrays.asList(r: _*), out.schema)
      }
    },

    // Johnson–Lindenstrauss projection distortion audit: 64-dim embeddings
    // projected onto 16 literal hyperplanes (the LSH plane family — plan
    // literals, codegen dots, oracle-replayable bit-for-bit), then cosine
    // BEFORE vs AFTER compared in integer micros over the planted near-dup
    // pairs and a consecutive-id contrast group. The go/no-go check before
    // trusting a cheap projected index: near pairs must stay near.
    "q325_jl_projection_audit" -> { (s, dir) =>
      val planes = Similarity.hyperplanes(16, 64)
      val proj = array(planes.map(p =>
        graft.functions.VectorFunctions.dotProduct(col("v"), typedlit(p))): _*)
      val base = embeddingsWithPlantedNearDups(s, dir)
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("pv", proj)
      def side(tag: String) = base.select(col("vec_id").as(s"i$tag"),
        col("v").as(s"v$tag"), col("pv").as(s"p$tag"))
      def cosM(x: Column, y: Column): Column = {
        val denom = sqrt(graft.functions.VectorFunctions.dotProduct(x, x)) *
          sqrt(graft.functions.VectorFunctions.dotProduct(y, y))
        round(when(denom === 0, lit(0.0))
          .otherwise(graft.functions.VectorFunctions.dotProduct(x, y) / denom)
          * lit(1e6)).cast("long")
      }
      val near = side("a").join(side("b"), col("ib") === col("ia") + 100000L)
        .select(lit("near").as("kind"),
          abs(cosM(col("va"), col("vb")) - cosM(col("pa"), col("pb"))).as("err"))
      val far = side("a").filter(col("ia") < 100000L)
        .join(side("b"), col("ib") === col("ia") + 1L)
        .select(lit("far").as("kind"),
          abs(cosM(col("va"), col("vb")) - cosM(col("pa"), col("pb"))).as("err"))
      near.unionByName(far)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("CAST(SUM(err) DIV COUNT(*) AS BIGINT)").as("mae_micros"),
          max(col("err")).as("max_err_micros"))
    },

    // Central-DP histogram release: per-category discrete-Laplace noise at
    // ε=0.5 drawn by inversion ⌊−2·ln(u)⌋ from portable-hash uniforms (the
    // −2 constant is exact in binary, so the draws replay bit-identically).
    // Output includes the true counts as the mechanism's utility audit —
    // the oracle hash-pins the entire noise path, two draws per CATEGORY.
    "q326_dp_histogram" -> { (s, dir) =>
      graft.ext.Privacy.dpHistogram(
        eventsTable(s, dir).select(col("event_type")), "event_type")
    },

    // Late-interaction (ColBERT-style MaxSim) retrieval: docs are groups of
    // 10 token-vectors (vec_id DIV 10), the query is doc 0's token set
    // (broadcast); score(d) = Σ_{qt} max_{dt∈d} cos(qt, dt) in integer
    // micros. Two keyed aggregates after a broadcast join — the multi-
    // vector retrieval shape (per-token argmax then per-doc sum), never a
    // doc×doc product. Top-10 docs, ties by doc id.
    "q327_maxsim_retrieval" -> { (s, dir) =>
      val base = t(s, dir, "embeddings")
        .select(expr("vec_id DIV 10").as("doc"), col("vec_id"),
          Similarity.toDoubleArray(col("embedding")).as("v"))
        .withColumn("norm",
          sqrt(graft.functions.VectorFunctions.dotProduct(col("v"), col("v"))))
      val q = base.filter(col("doc") === 0)
        .select(col("vec_id").as("qt"), col("v").as("qv"), col("norm").as("qn"))
      def cosM(x: Column, y: Column, nx: Column, ny: Column): Column = {
        val denom = nx * ny
        round(when(denom === 0, lit(0.0))
          .otherwise(graft.functions.VectorFunctions.dotProduct(x, y) / denom)
          * lit(1e6)).cast("long")
      }
      base.filter(col("doc") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("doc"), col("qt"),
          cosM(col("v"), col("qv"), col("norm"), col("qn")).as("c"))
        .groupBy(col("doc"), col("qt")).agg(max(col("c")).as("m"))
        .groupBy(col("doc")).agg(sum(col("m")).as("maxsim_micros"))
        .orderBy(col("maxsim_micros").desc, col("doc"))
        .limit(10)
    },

    // Behavioral sequence anomaly: each user's event stream scored under
    // the corpus transition LM (q317's matrix, add-one smoothed) — mean
    // per-transition surprisal −ln p(from→to) in integer micros; the
    // top-10 most surprising users are the anomaly report. Per-user
    // windows + two alphabet-sized broadcasts; the LM join is map-side.
    "q328_sequence_anomaly" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = eventsTable(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .select(col("user_id"), col("event_type").as("from_type"), col("to_type"))
      val counts = trans.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val rowTot = counts.groupBy(col("from_type")).agg(sum(col("n")).as("rt"))
      val k = counts.agg(countDistinct(col("to_type")).as("k"))
      val lm = counts.join(rowTot, Seq("from_type")).crossJoin(broadcast(k))
        .select(col("from_type"), col("to_type"),
          expr("CAST(ROUND(1e6 * ln((rt + k * 1e0) / (n + 1))) AS BIGINT)")
            .as("surprisal_micros"))
      trans.join(broadcast(lm), Seq("from_type", "to_type"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_transitions"),
          expr("CAST(SUM(surprisal_micros) DIV COUNT(*) AS BIGINT)")
            .as("mean_surprisal_micros"))
        .orderBy(col("mean_surprisal_micros").desc, col("user_id"))
        .limit(10)
    },

    // CUSUM changepoint scan over the daily revenue series: cumulative sum
    // of deviations from the (integer, truncated) global mean; the top-5
    // |CUSUM| days bracket the level shift. The window is global but runs
    // over the per-DAY aggregate — calendar-sized (PlanGuard-allowlisted,
    // q59's class); the data pass is one groupBy(day).
    "q329_cusum_changepoint" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate").cast("date"), "yyyy-MM-dd").as("d"))
        .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))").as("cents"))
      val tot = daily.agg(sum(col("cents")).as("t"), count(lit(1)).as("n"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .select(col("d"), (col("cents") - expr("t DIV n")).as("dev"))
        .withColumn("cusum_cents", sum(col("dev")).over(w))
        .select(col("d"), col("cusum_cents"), abs(col("cusum_cents")).as("abs_cusum"))
        .orderBy(col("abs_cusum").desc, col("d"))
        .limit(5)
    },

    // Corpus datasheet — the one-row "what is this dataset" card every
    // training corpus ships with: sizes, exact-duplicate mass (q08's md5
    // contract), and language balance as Shannon entropy in integer
    // micro-nats (the q306 rounding discipline). One scan + two
    // alphabet/one-row aggregates; every number is the already-proven
    // operator's contract re-used.
    "q330_corpus_datasheet" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val main = docs.select(
          ext.TextAnalysis.tokenCount(col("text")).as("toks"),
          length(col("text")).cast("long").as("chars"),
          md5(lower(trim(col("text")))).as("h"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
          sum(col("chars")).as("n_chars"), countDistinct(col("h")).as("__nd"))
      val lc = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val ent = lc.crossJoin(broadcast(lc.agg(sum(col("c")).as("t"))))
        .select(expr("CAST(ROUND(1e6 * ((c * 1e0) / t) * ln((t * 1e0) / c)) AS BIGINT)")
          .as("term"))
        .agg(count(lit(1)).as("n_langs"), sum(col("term")).as("lang_entropy_micros"))
      main.crossJoin(broadcast(ent))
        .select(col("n_docs"), col("n_tokens"), col("n_chars"),
          expr("n_tokens DIV n_docs").as("mean_tokens"),
          (col("n_docs") - col("__nd")).as("exact_dup_docs"),
          col("n_langs"), col("lang_entropy_micros"))
    },

    // ANN tuning curve: hyperplane-LSH recall vs bucket bits (6/9/12) against
    // the exact near-dup ground truth — the engineering artifact that picks
    // the bits/recall tradeoff before committing an index build. Every LSH
    // hit is exact-rescored (so found ⊆ true and recall is a clean ratio);
    // all three bucketings reuse the plan-literal plane family the oracle
    // inlines bit-for-bit.
    "q331_lsh_bits_sweep" -> { (s, dir) =>
      val emb = embeddingsWithPlantedNearDups(s, dir)
      val truth = Similarity.neardupPairs(emb, threshold = 0.9)
        .agg(count(lit(1)).as("n_true"))
      Seq(6, 9, 12).map { bits =>
          Similarity.lshNeardupPairs(emb, threshold = 0.9, bits = bits)
            .agg(count(lit(1)).as("n_found"))
            .select(lit(bits).as("bits"), col("n_found"))
        }.reduce(_ unionByName _)
        .crossJoin(broadcast(truth))
        .select(col("bits"), col("n_found"), col("n_true"),
          expr("n_found * 1000 DIV n_true").as("recall_permille"))
    },

    // EXACT substring dedup, suffix-array class (Dedup
    // .duplicateSubstringSpans — Lee et al. 2022): every maximal character
    // span lying inside a ≥30-char substring that repeats ANYWHERE in the
    // corpus, reduced to per-doc removed-span mass. The one dedup family
    // MinHash/SimHash can't express: set-level dedup keeps one doc per
    // group; this strips the verbatim boilerplate repeating INSIDE otherwise
    // distinct docs. Since round 13 the corpus-wide exchange carries the
    // 8-byte window HASH (shuffle diet); exactness is preserved by the
    // string-equality verify pass over the candidate set — no collision
    // license. Round12Spec certifies span completeness against a naive
    // all-substrings oracle; Round13Spec guards the verify pass.
    "q332_substring_dedup" -> { (s, dir) =>
      Dedup.duplicateSubstringSpans(t(s, dir, "documents"), minLen = 30)
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_end") - col("span_start") + 1L).as("dup_chars"),
          max(col("span_end") - col("span_start") + 1L).as("max_span_chars"),
          sum(col("span_start")).as("start_checksum"))
    },

    // Perceptual-hash image NEAR-dup join — the multimodal dedup story's
    // last piece: q223's real BMP decode → 64-bit aHash (8×8 integer grid
    // means vs grid mean) joined through the SHARED Hamming pigeonhole
    // index (Dedup.hammingNearDuplicates, 8 blocks × 8 bits, zero false
    // negatives at distance ≤ 7), dHash reported alongside as the gradient
    // second opinion. Fixture: 48 quadratic-texture images with
    // id-dependent gradients (aHash distance ≥ 18 between distinct ids),
    // plus a perturbed copy (uniform +4 brightness, 2×2 corner vandalized
    // to white) of every 4th image at distance ≤ 5 — all 12 planted copies
    // recovered at the pinned threshold 7 with zero false positives.
    // The hash arithmetic is integer-exact end to end, so the oracle
    // replays pixel → grid → bits bit-for-bit and verifies by naive
    // all-pairs (fixture-sized; the ENGINE side is the bucketed index).
    "q333_phash_image_neardup" -> { (s, _) =>
      import s.implicits._
      val imgs = s.range(48).as[Long].flatMap { id =>
        val w = (16 + id % 5).toInt; val h = (12 + id % 3).toInt
        def base(x: Int, y: Int) = (
          ((x * x * (3 + id % 7) + y * y * (5 + id % 11) + x * y * (1 + id % 13) + 37 * id) % 256).toInt,
          ((x * x * (2 + id % 5) + y * y * (7 + id % 3) + x * y * (2 + id % 11) + 11 * id) % 256).toInt,
          ((x * x * (1 + id % 9) + y * y * (4 + id % 13) + x * y * (3 + id % 7) + 23 * id) % 256).toInt)
        val orig = (id, graft.ext.MediaCodecs.bmpBytes(w, h, base))
        if (id % 4 == 0) {
          val pert = graft.ext.MediaCodecs.bmpBytes(w, h, (x, y) =>
            if (x < 2 && y < 2) (255, 255, 255)
            else {
              val (r, g, b) = base(x, y)
              (math.min(255, r + 4), math.min(255, g + 4), math.min(255, b + 4))
            })
          Seq(orig, (id + 1000L, pert))
        } else Seq(orig)
      }
      val sigs = imgs.map { case (id, bytes) =>
          (id, graft.ext.MediaCodecs.aHash64(bytes).get,
            graft.ext.MediaCodecs.dHash64(bytes).get)
        }.toDF("media_id", "ahash", "dhash")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.hammingNearDuplicates(sigs, "media_id", "ahash",
          maxDistance = 7, bits = 64)
        .withColumnRenamed("hamming", "ahash_hamming")
        .join(sigs.select(col("media_id").as("id_a"), col("dhash").as("__da")),
          Seq("id_a"))
        .join(sigs.select(col("media_id").as("id_b"), col("dhash").as("__db")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("ahash_hamming"),
          Dedup.hamming(col("__da"), col("__db")).as("dhash_hamming"))
    },

    // TOKENIZER ROUND-TRIP certificate: decode(encode(w)) must equal w for
    // EVERY word in the corpus (TextAnalysis.bpeDecode over the q179
    // encoder's token lists — a merge that corrupted a symbol or ate a
    // boundary marker would score here), pinned per language alongside the
    // fertility ratio so the loss-free guarantee and the q294 equity metric
    // come from one scan. violations is hash-pinned at 0 BY THE ORACLE
    // recomputing the same certificate — not a Spark-side assertion.
    "q334_bpe_roundtrip" -> { (s, dir) =>
      val enc = graft.ext.TextAnalysis.bpeEncodedWords(
        t(s, dir, "documents"), "doc_id", col("text"), rounds = 4)
      enc.join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum((size(split(col("seq"), "·")) - 2).cast("long")).as("n_tokens"),
          sum(when(graft.ext.TextAnalysis.bpeDecode(col("seq")) === col("w"), 0L)
            .otherwise(1L)).as("roundtrip_violations"))
        .withColumn("fertility_permille", expr("n_tokens * 1000 DIV n_words"))
    },

    // STREAMING LSH index maintenance (Dedup.streamingLshMaintain): q173's
    // incremental index driven by a real Structured Streaming file source —
    // the two delta batches land as parquet files, the stream drains them
    // one file per tick (AvailableNow), and each tick signs + appends +
    // probes through the same foreachBatch path a production bronze stream
    // would. Output is the ORDER-AGNOSTIC union of completed pairs (each
    // near-dup pair is completed exactly once, by whichever tick saw its
    // later member), so the oracle is the full-corpus MinHash replay
    // restricted to pairs touching a delta — tick scheduling can't move the
    // answer. Index-after-ticks ≡ one-shot rebuild is proven in Round12Spec.
    "q335_streaming_lsh_index" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-slsh-")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def strip = regexp_replace(col("text"), "^\\S+\\s*", "")
      val d1 = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), strip.as("text"))
      val d2 = docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 200000L).as("doc_id"), strip.as("text"))
      d1.coalesce(1).write.mode("append").parquet(s"$root/landing")
      d2.coalesce(1).write.mode("append").parquet(s"$root/landing")
      Dedup.lshIndexBuild(docs, s"$root/idx", batch = 0)
      val stream = s.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string"))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/landing")
      Dedup.streamingLshMaintain(stream, s"$root/idx", s"$root/pairs",
        s"$root/ckpt", threshold = 0.5)
      s.read.parquet(s"$root/pairs")
        .select(col("index_id"), col("delta_id"), col("jaccard"))
    },

    // GRAPH-ANN recall refinement (Similarity.nnDescentRound — NN-descent,
    // Dong et al. 2011): a TWO-TABLE LSH-seeded kNN graph (6 bits per
    // table; one table would be bucket-closed and unrepairable — see
    // lshKnnGraph's scaladoc) refined by TWO successive
    // neighbors-of-neighbors rounds, every stage recall-audited against the
    // exact brute-force top-k the way q331 audits LSH bits — the
    // convergence CURVE (seed → round 1 → round 2, diminishing gains) that
    // tunes how many rounds a corpus index build buys. Every stage is a
    // keyed equi-join (the NoN join fans out ≤ (2k)² per node); the only
    // all-pairs form is the exact yardstick, the q28-licensed broadcast
    // baseline.
    "q336_nn_descent" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val k = 5
      val S = graft.ext.Similarity
      // exact truth and the seed graph each feed two consumers — persist +
      // lineage-truncate (the q321 discipline)
      val f = Frames.scope()
      val exact = Frames.rebind(f.keep(S.knnJoin(emb, emb, k)
        .select(col("query_id"), col("neighbor_id"))))
      val g0 = Frames.rebind(f.keep(
        S.lshKnnGraph(emb, k, bits = 6, salts = Seq(0L, 1L))
        .select(col("query_id"), col("neighbor_id"))))
      // round 2 consumes round 1 (and both feed the recall audit) — same
      // persist + truncate discipline
      val g1 = Frames.rebind(f.keep(S.nnDescentRound(g0, emb, k)
        .select(col("query_id"), col("neighbor_id"))))
      val g2 = S.nnDescentRound(g1, emb, k)
        .select(col("query_id"), col("neighbor_id"))
      def hits(g: DataFrame, stage: String) =
        g.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits")).withColumn("stage", lit(stage))
      hits(g0, "lsh_init")
        .unionByName(hits(g1, "nn_descent_1"))
        .unionByName(hits(g2, "nn_descent_2"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
        .select(col("stage"), col("n_hits"), col("n_exact"),
          expr("n_hits * 1000 DIV n_exact").as("recall_permille"))
    },

    // TPC-DS Q64 SHAPE through the SQL frontend: two channel chains (early
    // vs late years), each a fact→dim join tree, SELF-JOINED on the
    // (customer, part) pair with a cross-channel condition (repeat purchase
    // at a HIGHER later price) — the multi-channel self-join-chain stress
    // TPC-H never exercises (its 22 shapes join each fact tree once).
    // Catalyst plan: both chains share the lineitem⋈orders scan subtree,
    // dims broadcast (PlanSpec q337 audit), the chain join shuffles on the
    // composite key.
    "q337_tpcds_q64_shape" -> { (s, dir) =>
      Seq("lineitem", "orders", "customer", "nation", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH sale AS (
          |  SELECT o_custkey AS cust, l_partkey AS part,
          |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |           AS cents
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey),
          |ch1 AS (SELECT cust, part, CAST(COUNT(*) AS BIGINT) AS n1,
          |               CAST(SUM(cents) AS BIGINT) AS cents1
          |        FROM sale WHERE yr <= 1997 GROUP BY cust, part),
          |ch2 AS (SELECT cust, part, CAST(COUNT(*) AS BIGINT) AS n2,
          |               CAST(SUM(cents) AS BIGINT) AS cents2
          |        FROM sale WHERE yr >= 1998 GROUP BY cust, part)
          |SELECT n_name, p_brand,
          |       CAST(COUNT(*) AS BIGINT) AS n_repeat_pairs,
          |       CAST(SUM(cents1) AS BIGINT) AS early_cents,
          |       CAST(SUM(cents2) AS BIGINT) AS late_cents
          |FROM ch1 JOIN ch2 USING (cust, part)
          |JOIN customer_v ON c_custkey = cust
          |JOIN nation_v ON n_nationkey = c_nationkey
          |JOIN part_v ON p_partkey = part
          |WHERE cents2 > cents1
          |GROUP BY n_name, p_brand""".stripMargin)
    },

    // TPC-DS Q14 SHAPE: cross-channel INTERSECT (parts sold in ALL three
    // priority channels) FEEDING a channel report filtered by a
    // corpus-average threshold — the intersect-as-semijoin-input pattern
    // plus the scalar-average HAVING, both decorrelation corners TPC-H
    // lacks. The average rides as a one-row CROSS JOIN (integer
    // cross-multiplied in the HAVING, never divided).
    "q338_tpcds_q14_shape" -> { (s, dir) =>
      Seq("lineitem", "orders", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH sale AS (
          |  SELECT l_partkey AS part, SUBSTR(o_orderpriority, 1, 1) AS ch,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |           AS cents
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey),
          |cross_items AS (
          |  SELECT part FROM sale WHERE ch = '1'
          |  INTERSECT SELECT part FROM sale WHERE ch = '2'
          |  INTERSECT SELECT part FROM sale WHERE ch = '3'),
          |avg_sales AS (
          |  SELECT CAST(SUM(cents) AS BIGINT) AS tot_cents,
          |         CAST(COUNT(*) AS BIGINT) AS tot_n FROM sale)
          |SELECT s.ch AS channel, p.p_brand,
          |       CAST(COUNT(*) AS BIGINT) AS n_sales,
          |       CAST(SUM(s.cents) AS BIGINT) AS cents
          |FROM sale s JOIN cross_items ci ON s.part = ci.part
          |JOIN part_v p ON p.p_partkey = s.part
          |CROSS JOIN avg_sales
          |WHERE s.ch IN ('1', '2', '3')
          |GROUP BY s.ch, p.p_brand, avg_sales.tot_cents, avg_sales.tot_n
          |HAVING SUM(s.cents) * tot_n * 100 > 102 * COUNT(*) * tot_cents"""
          .stripMargin)
    },

    // TPC-DS Q67 SHAPE: a ROLLUP over three dimensions with RANK windows
    // PARTITIONED BY GROUPING LEVEL taking the top 3 of every level — the
    // grouping-sets-feeding-a-window pattern. Window input is the rollup
    // AGGREGATE (nations×years×priorities ≈ 900 rows at any sf), partitions
    // by lvl, never data-sized. NULL grouping keys are COALESCEd before the
    // ORDER BY tie-break (Spark sorts NULLS FIRST, DuckDB NULLS LAST — the
    // one dialect trap in this shape).
    "q339_tpcds_q67_shape" -> { (s, dir) =>
      Seq("orders", "customer", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH base AS (
          |  SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          |         o_orderpriority AS prio,
          |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          |  FROM orders_v JOIN customer_v ON o_custkey = c_custkey
          |  JOIN nation_v ON c_nationkey = n_nationkey),
          |agg AS (
          |  SELECT n_name, yr, prio,
          |         CAST(GROUPING(n_name) * 4 + GROUPING(yr) * 2
          |              + GROUPING(prio) AS INT) AS lvl,
          |         CAST(SUM(cents) AS BIGINT) AS cents
          |  FROM base GROUP BY ROLLUP(n_name, yr, prio)),
          |rk AS (
          |  SELECT *, RANK() OVER (PARTITION BY lvl
          |            ORDER BY cents DESC, COALESCE(n_name, ''),
          |                     COALESCE(yr, 0), COALESCE(prio, '')) AS r
          |  FROM agg)
          |SELECT lvl, CAST(r AS BIGINT) AS rnk,
          |       COALESCE(n_name, '(all)') AS n_name,
          |       COALESCE(yr, 0) AS yr, COALESCE(prio, '(all)') AS prio, cents
          |FROM rk WHERE r <= 3""".stripMargin)
    },

    // TPC-DS Q51 SHAPE: two per-channel cumulative series (fast = priority
    // 1/2 vs slow) built with per-SEGMENT running windows, compared row by
    // row for the months the fast channel holds >40% cumulative share —
    // the dueling-cumulative-windows pattern. Windowed sums are CAST to
    // BIGINT inside the CTE (DuckDB windowed SUM returns HUGEINT — the
    // round-4 type rule applies to window results too).
    "q340_tpcds_q51_shape" -> { (s, dir) =>
      Seq("orders", "customer")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH m AS (
          |  SELECT c_mktsegment AS seg, date_format(o_orderdate, 'yyyy-MM') AS month,
          |         CAST(SUM(CASE WHEN SUBSTR(o_orderpriority, 1, 1) IN ('1', '2')
          |              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END)
          |           AS BIGINT) AS fast_cents,
          |         CAST(SUM(CASE WHEN SUBSTR(o_orderpriority, 1, 1) NOT IN ('1', '2')
          |              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END)
          |           AS BIGINT) AS slow_cents
          |  FROM orders_v JOIN customer_v ON o_custkey = c_custkey
          |  GROUP BY c_mktsegment, date_format(o_orderdate, 'yyyy-MM')),
          |cum AS (
          |  SELECT seg, month,
          |         CAST(SUM(fast_cents) OVER (PARTITION BY seg ORDER BY month)
          |              AS BIGINT) AS fast_cum,
          |         CAST(SUM(slow_cents) OVER (PARTITION BY seg ORDER BY month)
          |              AS BIGINT) AS slow_cum
          |  FROM m)
          |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_months_ahead,
          |       MIN(month) AS first_ahead_month,
          |       CAST(SUM(3 * fast_cum - 2 * slow_cum) AS BIGINT) AS lead_cents_sum
          |FROM cum WHERE 5 * fast_cum > 2 * (fast_cum + slow_cum)
          |GROUP BY seg""".stripMargin)
    },

    // KEEP-FIRST substring dedup (Dedup.duplicateSubstringSpansKeepFirst) —
    // q332's REMOVAL plan: per duplicated 30-char window the corpus-first
    // occurrence survives, later occurrences merge into removal spans. Same
    // single string-keyed exchange (occurrence rank rides the identical
    // window spec). The corpus-level invariant — removal mass strictly
    // under the audit's dup mass, first copies untouched — is pinned by
    // hashing per-doc spans against the oracle's identical keep-first
    // replay.
    "q341_substring_dedup_keepfirst" -> { (s, dir) =>
      Dedup.duplicateSubstringSpansKeepFirst(t(s, dir, "documents"), minLen = 30)
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_end") - col("span_start") + 1L).as("removed_chars"),
          sum(col("span_start")).as("start_checksum"))
    },

    // N-GRAM repetition signals (TextAnalysis.ngramRepetitionStats) — the
    // rest of the Gopher-rule curation family beside q-word repetitionStats:
    // per doc, how much sits inside the most-repeated 2-/3-gram and how
    // much n-gram mass is duplicated at all, with the published "top-2-gram
    // fraction > 0.20 → drop" threshold evaluated as an EXACT integer flag
    // (top2·2·5 > n_words). Word-count shuffle economics, no windows.
    "q342_ngram_repetition" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val T = graft.ext.TextAnalysis
      def renamed(n: Int) = T.ngramRepetitionStats(docs, n)
        .select(col("doc_id"), col("n_ngrams").as(s"n_${n}grams"),
          col("n_distinct_ngrams").as(s"nd$n"),
          col("top_ngram_count").as(s"top_${n}gram_count"))
      T.repetitionStats(docs)
        .join(renamed(2), Seq("doc_id"))
        .join(renamed(3), Seq("doc_id"))
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          col("top_word_count"), col("top_2gram_count"),
          (col("n_2grams") - col("nd2")).as("dup_2gram_mass"),
          col("top_3gram_count"),
          (col("n_3grams") - col("nd3")).as("dup_3gram_mass"),
          (col("top_2gram_count") * 10L > col("n_words")).as("gopher_top2_flag"))
    },

    // ZIPF rank-frequency slope audit — the corpus-health fingerprint
    // (natural text fits ln(freq) ≈ a − s·ln(rank) with s ≈ 1; synthetic /
    // keyword-stuffed corpora bend the curve): OLS slope over the top-1000
    // vocabulary in exact integer MILLIS (ROUND(1e3·ln) per term, the
    // klDrift contract — millis, not micros, so n·Σxy stays in int64).
    // Slope is NEGATIVE, and Spark DIV truncates toward zero while DuckDB
    // // floors — so the one division is taken on the NEGATED (positive)
    // numerator and the raw (num, den) ingredients ride along. Plan: one
    // word-count aggregate, a TakeOrdered top-1000 (never a global sort),
    // a rank window whose child is limit-bounded (maxRows ≤ 1000), one
    // final aggregate.
    "q343_zipf_slope" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val vocab = t(s, dir, "documents")
        .select(explode(graft.ext.TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("w")).limit(1000)
      vocab
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("freq"), asc("w"))))
        .select(expr("CAST(ROUND(1000 * ln(rank)) AS BIGINT)").as("x"),
          expr("CAST(ROUND(1000 * ln(freq)) AS BIGINT)").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").as("n_ranked"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
          expr("(-(n * sxy - sx * sy)) * 1000 DIV (n * sxx - sx * sx)")
            .as("zipf_slope_neg_milli"))
    },

    // AUDIO fingerprint near-dup — the last multimodal dedup modality
    // (text MinHash q23, image aHash/dHash q333, audio this): real WAV
    // payloads decode to PCM, MediaCodecs.audioHash64 reduces each clip to
    // a 64-bit ENERGY-DELTA fingerprint (65 time-anchored 100-sample
    // frames, bit i = E_{i+1} > E_i — dHash on the time axis), and the
    // SHARED Hamming pigeonhole index joins them. Fixture: 48 synthetic
    // clips with id-dependent pseudo-random PCM, plus for every 4th clip a
    // perturbed copy — 2× GAIN (scales every frame energy by 4: zero bit
    // flips by the relative-comparison argument), ±4 additive dither (flips
    // only near-tie bits), and a 200+-sample TAIL CLIP (zero flips: frames
    // are head-anchored fixed-width). All 12 planted copies recovered at
    // the pinned threshold 7 with zero false positives (Round13Spec pins
    // the distance bands). Integer-exact end to end — the oracle replays
    // sample → frame energy → bits → Hamming bit-for-bit.
    "q344_audio_fingerprint_neardup" -> { (s, _) =>
      import s.implicits._
      val clips = s.range(48).as[Long].flatMap { id =>
        def base(i: Int): Long =
          ((i.toLong * i * (3 + id % 5) + i.toLong * (7 + id % 11) + 13L * id)
            % 20001L) - 10000L
        val n = (6800 + (id % 7) * 20).toInt
        val orig = (id, graft.ext.MediaCodecs.wavBytes(8000, 1,
          Array.tabulate(n)(i => base(i).toShort)))
        if (id % 4 == 0) {
          val pert = Array.tabulate(6600) { i =>
            (2L * base(i) + ((i * 7 + id) % 9L) - 4L).toShort
          }
          Seq(orig, (id + 1000L, graft.ext.MediaCodecs.wavBytes(8000, 1, pert)))
        } else Seq(orig)
      }
      val sigs = clips.map { case (id, bytes) =>
          (id, graft.ext.MediaCodecs.audioHash64(bytes).get)
        }
        .toDF("media_id", "afp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.hammingNearDuplicates(sigs, "media_id", "afp",
          maxDistance = 7, bits = 64)
        .withColumnRenamed("hamming", "afp_hamming")
    },

    // NN-DESCENT TO CONVERGENCE (Similarity.nnDescentConverge) — q336's
    // fixed two rounds generalized to the production index-build loop:
    // iterate until a round's NEW-edge rate falls under 10‰ (Dong et al.
    // 2011's own δ termination — at build time there is no ground truth,
    // but recall gains require changed edges) or maxRounds. Output is the
    // per-round curve — edges, new edges, and the recall audit against the
    // exact top-k yardstick (recall is provably MONOTONE across rounds:
    // each round keeps the per-node top-k over a superset of the current
    // neighbors — Round13Spec). The oracle replays every round AND the stop
    // rule itself, so the emitted round set is hash-verified, not pinned.
    "q345_nn_descent_convergence" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val k = 5
      val S = graft.ext.Similarity
      val stages = S.nnDescentConverge(emb, k, bits = 6,
        salts = Seq(0L, 1L), maxRounds = 3, minNewPermille = 10L)
      val exact = Frames.rebind(Frames.scope().keep(S.knnJoin(emb, emb, k)
        .select(col("query_id"), col("neighbor_id"))))
      stages.map { st =>
          st.graph.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).as("n_hits"))
            .select(lit(st.round).cast("long").as("round"),
              lit(st.nEdges).as("n_edges"), lit(st.nNew).as("n_new_edges"),
              col("n_hits"))
        }.reduce(_ unionByName _)
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
        .select(col("round"), col("n_edges"), col("n_new_edges"),
          col("n_hits"), col("n_exact"),
          expr("n_hits * 1000 DIV n_exact").as("recall_permille"))
    },

    // STREAMING MEDALLION + LSH INDEX IN ONE PIPELINE (Dedup
    // .streamingMedallionLshTick): the full production ingest tick — each
    // AvailableNow micro-batch cleans (trim), VALIDATES (null id / short text →
    // quarantined with Silver.errorString reasons, never silently dropped),
    // writes silver, maintains the q173 dedup index, and emits completed
    // near-dup pairs. The deltas carry PLANTED DIRT: every doc_id%5==0 delta
    // is truncated under the 30-char floor and must reach silver as
    // invalid but NEVER the index. Oracle: full-corpus MinHash replay over
    // base ∪ CLEANED-VALID deltas, restricted to pairs touching a delta —
    // tick scheduling can't move the answer (q335's argument), and an
    // invalid doc leaking into the index would surface as an extra pair.
    "q346_streaming_medallion_lsh" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-smlsh-")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def strip = regexp_replace(col("text"), "^\\S+\\s*", "")
      def dirty(c: Column) = when(col("doc_id") % 5 === 0,
        substring(c, 1, 10)).otherwise(c)
      val d1 = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("  "), dirty(strip)).as("text"))
      val d2 = docs.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(dirty(strip), lit(" ")).as("text"))
      d1.coalesce(1).write.mode("append").parquet(s"$root/landing")
      d2.coalesce(1).write.mode("append").parquet(s"$root/landing")
      Dedup.lshIndexBuild(docs, s"$root/idx", batch = 0)
      val stream = s.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string"))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/landing")
      Dedup.streamingMedallionLshTick(stream, s"$root/silver", s"$root/idx",
        s"$root/pairs", s"$root/ckpt", threshold = 0.5, minChars = 30)
      s.read.parquet(s"$root/pairs")
        .select(col("index_id"), col("delta_id"), col("jaccard"))
    },

    // TPC-DS Q23 SHAPE through the SQL frontend: frequent items (HAVING
    // over a period-filtered join) ∩ best customers (spend > half the MAX
    // customer spend — the scalar-subquery-threshold decorrelation corner:
    // a global one-row aggregate gating a fact filter, integer
    // cross-multiplied) feeding a late-period monthly rollup. Catalyst
    // must decorrelate the max into a one-row broadcast and turn both IN
    // filters into broadcast semi-joins (PlanSpec q347 audit).
    "q347_tpcds_q23_shape" -> { (s, dir) =>
      Seq("lineitem", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH sale AS (
          |  SELECT o_custkey AS cust, l_partkey AS part,
          |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          |         CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |           AS cents
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey),
          |freq_items AS (
          |  SELECT part FROM sale WHERE yr <= 1996
          |  GROUP BY part HAVING COUNT(*) >= 4),
          |cust_spend AS (
          |  SELECT cust, CAST(SUM(cents) AS BIGINT) AS spend
          |  FROM sale GROUP BY cust),
          |best_cust AS (
          |  SELECT cust FROM cust_spend
          |  WHERE spend * 2 > (SELECT MAX(spend) FROM cust_spend))
          |SELECT yr, mo,
          |       CAST(COUNT(*) AS BIGINT) AS n_sales,
          |       CAST(SUM(cents) AS BIGINT) AS cents
          |FROM sale
          |WHERE yr >= 1997
          |  AND part IN (SELECT part FROM freq_items)
          |  AND cust IN (SELECT cust FROM best_cust)
          |GROUP BY yr, mo""".stripMargin)
    },

    // TPC-DS Q78 SHAPE: the channel ANTI-JOIN chain — per channel, sales
    // WITHOUT a matching return (returns = l_returnflag='R' rows keyed by
    // (orderkey, linenumber); the NOT-EXISTS null-filtered anti-join DS
    // runs against the returns tables), rolled to (customer, year) per
    // channel and joined ACROSS channels to rank customers by their
    // channel-mix ratio — integer cross-multiplied, no division.
    "q348_tpcds_q78_shape" -> { (s, dir) =>
      Seq("lineitem", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH sale AS (
          |  SELECT o_custkey AS cust, l_orderkey AS ok, l_linenumber AS ln,
          |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          |         CASE WHEN l_linenumber % 2 = 1 THEN 'air'
          |              ELSE 'ground' END AS ch,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |           AS cents
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey),
          |ret AS (SELECT l_orderkey AS ok, l_linenumber AS ln
          |        FROM lineitem_v WHERE l_returnflag = 'R'),
          |kept AS (
          |  SELECT * FROM sale s
          |  WHERE NOT EXISTS (SELECT 1 FROM ret r
          |                    WHERE r.ok = s.ok AND r.ln = s.ln)),
          |air AS (SELECT cust, yr, CAST(COUNT(*) AS BIGINT) AS n_air,
          |               CAST(SUM(cents) AS BIGINT) AS cents_air
          |        FROM kept WHERE ch = 'air' GROUP BY cust, yr),
          |grd AS (SELECT cust, yr, CAST(COUNT(*) AS BIGINT) AS n_grd,
          |               CAST(SUM(cents) AS BIGINT) AS cents_grd
          |        FROM kept WHERE ch = 'ground' GROUP BY cust, yr)
          |SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_custs,
          |       CAST(SUM(n_air) AS BIGINT) AS kept_air_sales,
          |       CAST(SUM(n_grd) AS BIGINT) AS kept_ground_sales,
          |       CAST(SUM(cents_air) AS BIGINT) AS cents_air,
          |       CAST(SUM(cents_grd) AS BIGINT) AS cents_ground,
          |       CAST(SUM(CASE WHEN cents_air * 1 > cents_grd * 2 THEN 1 ELSE 0 END)
          |            AS BIGINT) AS air_heavy_custs
          |FROM air JOIN grd USING (cust, yr)
          |GROUP BY yr""".stripMargin)
    },

    // VIDEO FRAME-HASH NEAR-DUP (MediaCodecs.videoHash64) — the last
    // modality of the shared-index dedup story (text MinHash q23, image
    // aHash/dHash q333, audio energy-delta q344, video this): real GVID
    // container decode → head-anchored stride-2 frame sampling capped at 4
    // frames (per-row cost bounded by the cap, never by video length) →
    // per-frame aHash → per-bit strict-majority vote → the SAME Hamming
    // pigeonhole join as every other modality. Planted copies: id%4==0 gets
    // a +4-brightness re-encode with one sampled frame overlaid (majority
    // absorbs the minority frame), id%6==0 gets a 2-frame TAIL CLIP that
    // leaves the sampled index set {0,2,4,6} intact — fingerprint
    // bit-identical by the head-anchor argument, so those pairs land at
    // Hamming 0. The oracle replays pixel → luma → 8×8 grid → frame bit →
    // majority → pack → pairwise Hamming integer-for-integer.
    "q349_video_framehash_neardup" -> { (s, _) =>
      import s.implicits._
      val vids = s.range(48).as[Long].flatMap { id =>
        val nf = (9 + id % 3).toInt
        def base(f: Int)(x: Int, y: Int): (Int, Int, Int) = (
          ((x * x * (3 + id % 7) + y * y * (5 + id % 11) + x * y * (1 + id % 13)
            + 37 * id + 19 * f) % 256).toInt,
          ((x * x * (2 + id % 5) + y * y * (7 + id % 3) + x * y * (2 + id % 11)
            + 11 * id + 23 * f) % 256).toInt,
          ((x * x * (1 + id % 9) + y * y * (4 + id % 13) + x * y * (3 + id % 7)
            + 23 * id + 29 * f) % 256).toInt)
        def frames(pert: Boolean) = (0 until nf).map { f =>
          graft.ext.MediaCodecs.bmpBytes(16, 12, (x, y) => {
            val (r, g, b) = base(f)(x, y)
            if (pert && f == 2 && x < 2 && y < 2) (255, 255, 255)
            else if (pert) (math.min(255, r + 4), math.min(255, g + 4),
              math.min(255, b + 4))
            else (r, g, b)
          })
        }
        val M = graft.ext.MediaCodecs
        Seq((id, M.videoBytes(frames(pert = false)))) ++
          (if (id % 4 == 0) Seq((id + 1000L, M.videoBytes(frames(pert = true))))
           else Nil) ++
          (if (id % 6 == 0)
             Seq((id + 2000L, M.videoBytes(frames(pert = false).dropRight(2))))
           else Nil)
      }
      val sigs = vids.map { case (id, bytes) =>
          (id, graft.ext.MediaCodecs.videoHash64(bytes, stride = 2,
            maxSampled = 4).get)
        }.toDF("media_id", "vfp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.hammingNearDuplicates(sigs, "media_id", "vfp",
          maxDistance = 7, bits = 64)
        .withColumnRenamed("hamming", "vfp_hamming")
    },

    // TPC-DS Q95 SHAPE: the repeated-correlated-membership stressor — an
    // order qualifies iff (a) its lines come from MORE THAN ONE supplier
    // (IN over a DISTINCT self-join of lineitem with itself on orderkey,
    // suppliers unequal — Q95's ws_wh two-warehouse subquery) and (b) it
    // has a returned line (correlated EXISTS — Q95's web_returns IN,
    // deliberately written as EXISTS so BOTH decorrelation paths are
    // exercised in one query). Both must plan as left-semi hash joins on
    // the narrow orderkey, never a cartesian; the self-join's supp <> supp
    // disequality rides the equi-join on ok as a residual condition.
    "q350_tpcds_q95_shape" -> { (s, dir) =>
      Seq("lineitem", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH line AS (
          |  SELECT l_orderkey AS ok, l_suppkey AS supp, l_returnflag AS rf,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |           AS cents
          |  FROM lineitem_v),
          |multi_supp AS (
          |  SELECT DISTINCT l1.ok
          |  FROM line l1 JOIN line l2 ON l1.ok = l2.ok AND l1.supp <> l2.supp)
          |SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          |       CAST(COUNT(DISTINCT l.ok) AS BIGINT) AS n_orders,
          |       CAST(SUM(l.cents) AS BIGINT) AS cents
          |FROM line l JOIN orders_v o ON l.ok = o_orderkey
          |WHERE l.ok IN (SELECT ok FROM multi_supp)
          |  AND EXISTS (SELECT 1 FROM line r WHERE r.ok = l.ok AND r.rf = 'R')
          |GROUP BY 1""".stripMargin)
    },

    // TPC-DS Q11/Q4 SHAPE: year-over-year growth compared ACROSS channels —
    // ONE (customer, year, channel) spend CTE consumed FOUR times (store/web
    // × 1994/1995), customers kept when web growth beats store growth with
    // the ratio comparison INTEGER CROSS-MULTIPLIED (w2·s1 > s2·w1; the
    // year-1 totals are gated > 0 so the inequality is division-free and
    // sign-safe). Each consumer prunes its own (yr, ch) slice — predicate
    // pushdown specializes the four copies; the 4-way join rides the cust
    // key end to end.
    "q351_tpcds_q11_shape" -> { (s, dir) =>
      Seq("lineitem", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH sale AS (
          |  SELECT o_custkey AS cust,
          |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          |         CASE WHEN l_linenumber % 2 = 1 THEN 'store' ELSE 'web' END
          |           AS ch,
          |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |           AS cents
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey
          |  WHERE EXTRACT(YEAR FROM o_orderdate) IN (1994, 1995)),
          |tot AS (SELECT cust, yr, ch, CAST(SUM(cents) AS BIGINT) AS cents
          |        FROM sale GROUP BY cust, yr, ch)
          |SELECT CAST(COUNT(*) AS BIGINT) AS n_custs,
          |       CAST(SUM(w2.cents) AS BIGINT) AS web_y2_cents,
          |       CAST(SUM(s2.cents) AS BIGINT) AS store_y2_cents
          |FROM tot s1
          |JOIN tot s2 ON s1.cust = s2.cust
          |JOIN tot w1 ON s1.cust = w1.cust
          |JOIN tot w2 ON s1.cust = w2.cust
          |WHERE s1.yr = 1994 AND s1.ch = 'store'
          |  AND s2.yr = 1995 AND s2.ch = 'store'
          |  AND w1.yr = 1994 AND w1.ch = 'web'
          |  AND w2.yr = 1995 AND w2.ch = 'web'
          |  AND s1.cents > 0 AND w1.cents > 0
          |  AND w2.cents * s1.cents > s2.cents * w1.cents""".stripMargin)
    },

    // INTEGER-EXACT Lloyd k-means (ext.Clustering.kmeansSummary): vectors
    // micros-quantized up front, centroid update = sum DIV count, distance
    // ties to the first minimum — every iteration replays bit-for-bit in the
    // oracle's unrolled CTEs, so cluster SIZES and INERTIA hash-compare.
    // (q36's float IVF trainer could only oracle an ANN recall CONTRACT —
    // float means are association-order-dependent; this is the trainer an
    // independent engine can certify.) k=8, 3 iterations.
    "q352_kmeans_lloyd" -> ((s, dir) =>
      graft.ext.Clustering.kmeansSummary(t(s, dir, "embeddings"), k = 8, iters = 3)),

    // SemDeDup (Abbas et al. 2023): k-means clusters as the BLOCKING key,
    // near-dup pruning only within each cluster — the published recipe for
    // semantic dedup at corpus scale (q83's hyperplane-LSH blocking is the
    // sibling path). Fixture = embeddings + the planted +0.01-shifted copies
    // (q28's family); cosine gate cos ≥ 0.995 evaluated cross-multiplied in
    // DECIMAL(38,0), keep rule = lowest id per cluster-local similar set.
    "q353_semdedup" -> ((s, dir) =>
      graft.ext.Clustering.semDedupSummary(embeddingsWithPlantedNearDups(s, dir),
        k = 8, iters = 2, thresholdMicroSq = 990025L)),

    // t-closeness audit (Li et al., ICDE 2007 — ext.Privacy.tClosenessAudit):
    // the release-audit leg k-anonymity (q284) and l-diversity (q286) miss —
    // a group whose sensitive DISTRIBUTION diverges from the population.
    // QI = (nation, segment); sensitive = account-balance decile band;
    // ordered EMD cross-multiplied to exact integers, t = 0.15.
    "q354_t_closeness" -> { (s, dir) =>
      val c = t(s, dir, "customer").select(
        col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000L) DIV 120000L")
          .as("bal_band"))
      graft.ext.Privacy.tClosenessAudit(c, Seq("c_nationkey", "c_mktsegment"),
        "bal_band", bandDomain = (0L to 9L).toSeq, tPermille = 150L)
    },

    // TPC-DS Q47/Q57 SHAPE: monthly brand revenue vs the SAME brand-year's
    // average — the classic "deviation from window average" decorrelation,
    // with the avg comparison INTEGER CROSS-MULTIPLIED (|12·rev − ysum|·10 >
    // ysum ⟺ |rev − avg| > avg/10) and lag/lead month revenue riding the
    // same window pass; only full 12-month brand-years qualify.
    "q355_tpcds_q47_shape" -> { (s, dir) =>
      Seq("lineitem", "orders", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH ms AS (
          |  SELECT p_brand AS brand,
          |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          |         CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
          |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |           AS BIGINT)) AS BIGINT) AS cents
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey
          |                  JOIN part_v ON l_partkey = p_partkey
          |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
          |  GROUP BY 1, 2, 3),
          |w AS (
          |  SELECT brand, yr, mo, cents,
          |         CAST(SUM(cents) OVER (PARTITION BY brand, yr) AS BIGINT)
          |           AS ysum,
          |         CAST(COUNT(*) OVER (PARTITION BY brand, yr) AS BIGINT)
          |           AS ymonths,
          |         lag(cents) OVER (PARTITION BY brand, yr ORDER BY mo)
          |           AS prev_cents,
          |         lead(cents) OVER (PARTITION BY brand, yr ORDER BY mo)
          |           AS next_cents
          |  FROM ms)
          |SELECT brand, yr, mo, cents, ysum, prev_cents, next_cents
          |FROM w
          |WHERE ymonths = 12 AND ABS(12 * cents - ysum) * 10 > ysum""".stripMargin)
    },

    // TPC-DS Q39 SHAPE (inventory volatility pairs): per (supplier, month)
    // quantity stats; a month is volatile when cov > 0.5, gated DIVISION-FREE
    // via 4·n·(n·Σq² − (Σq)²) > (n−1)·(Σq)² (cov > 0.5 ⟺ var > mean²/4 —
    // Q39's cov > 1 never fires on uniform 1..50 quantities, cov ≈ 0.57 cap,
    // so the threshold keeps the gate live while preserving the shape);
    // consecutive volatile months self-join on (supplier, mo+1).
    "q356_tpcds_q39_shape" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """WITH inv AS (
          |  SELECT l_suppkey AS supp,
          |         CAST(EXTRACT(MONTH FROM l_shipdate) AS INT) AS mo,
          |         CAST(COUNT(*) AS BIGINT) AS n,
          |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
          |         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
          |           AS BIGINT) AS ss
          |  FROM lineitem_v
          |  WHERE EXTRACT(YEAR FROM l_shipdate) = 1996
          |  GROUP BY 1, 2),
          |flagged AS (
          |  SELECT supp, mo, n, s,
          |         CASE WHEN n > 1 AND 4 * n * (n * ss - s * s) > (n - 1) * s * s
          |              THEN 1 ELSE 0 END AS hi
          |  FROM inv)
          |SELECT a.supp, a.mo AS mo1, b.mo AS mo2, a.n AS n1, a.s AS s1,
          |       b.n AS n2, b.s AS s2
          |FROM flagged a JOIN flagged b ON a.supp = b.supp AND b.mo = a.mo + 1
          |WHERE a.hi = 1 AND b.hi = 1""".stripMargin)
    },

    // POSITIONAL PHRASE SEARCH over the inverted index: q132's posting lists
    // carry only document ids — a phrase query needs POSITIONS. The scan
    // keeps only the phrase's three words (posting-list pruning: the corpus
    // never reaches the join), then the position-chain equi-joins
    // (doc, pos)=(doc, pos−1)=(doc, pos−2) find every occurrence — the
    // standard positional-index intersection, distributed as keyed joins.
    // Overlapping occurrences count individually (the replace()-based
    // containment trick undercounts them; positions don't).
    "q357_phrase_match" -> { (s, dir) =>
      val tok = t(s, dir, "documents").select(col("doc_id"),
        posexplode(TextAnalysis.tokens(lower(col("text")))).as(Seq("pos", "w")))
      val p0 = tok.filter(col("w") === "big").select(col("doc_id"), col("pos"))
      val p1 = tok.filter(col("w") === "order")
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      val p2 = tok.filter(col("w") === "scan")
        .select(col("doc_id"), (col("pos") - 2).as("pos"))
      p0.join(p1, Seq("doc_id", "pos")).join(p2, Seq("doc_id", "pos"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
    },

    // TPC-DS Q88 SHAPE: eight (quantity-band × discount-band) counters from
    // ONE scan — Q88 writes eight separate subqueries over the same fact
    // table and cross-joins the eight 1-row results (8× the IO); conditional
    // aggregation folds all eight into a single map-side-combined pass.
    // Discount banded in exact cents (ROUND(d*100)), never a double compare.
    "q358_tpcds_q88_shape" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT
          |  CAST(SUM(CASE WHEN l_quantity <= 10 AND d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
          |  CAST(SUM(CASE WHEN l_quantity <= 10 AND d > 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
          |  CAST(SUM(CASE WHEN l_quantity > 10 AND l_quantity <= 25 AND d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
          |  CAST(SUM(CASE WHEN l_quantity > 10 AND l_quantity <= 25 AND d > 2 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
          |  CAST(SUM(CASE WHEN l_quantity > 25 AND l_quantity <= 40 AND d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
          |  CAST(SUM(CASE WHEN l_quantity > 25 AND l_quantity <= 40 AND d > 2 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
          |  CAST(SUM(CASE WHEN l_quantity > 40 AND d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS b7,
          |  CAST(SUM(CASE WHEN l_quantity > 40 AND d > 2 THEN 1 ELSE 0 END) AS BIGINT) AS b8
          |FROM (SELECT l_quantity, CAST(ROUND(l_discount * 100) AS BIGINT) AS d
          |      FROM lineitem_v WHERE l_returnflag IN ('R', 'A'))""".stripMargin)
    },

    // AUDIO VAD SEGMENTATION (MediaCodecs.frameEnergies + Multimodal
    // .vadSpans) — the silence-trim / speech-span pass of an audio curation
    // pipeline, completing the audio story begun by q222 (stats) and q344
    // (near-dup): REAL WAV decode → integer per-frame Σv² energies →
    // threshold → gaps-and-islands spans. 48 synthetic clips alternate
    // 400-sample voiced blocks (|v| ≤ 1500, frame energy ≥ ~4M) with silent
    // blocks (|v| ≤ 20, frame energy ≤ 40k) on an id-dependent phase;
    // threshold 1M sits 4× above the worst voiced frame's floor and 25×
    // above the loudest silence. The plan's only exchange is on the clip id
    // (window + groupBy share it); the oracle replays sample → square →
    // frame sum → threshold → island bit-for-bit.
    "q359_audio_vad" -> { (s, _) =>
      import s.implicits._
      val clips = s.range(48).as[Long].map { id =>
        val n = (4000 + (id % 5) * 400).toInt
        val samples = Array.tabulate(n) { i =>
          val voiced = (i / 400 + id) % 3 != 0
          val v =
            if (voiced) ((i.toLong * (7 + id % 11) + 13 * id) % 3001L) - 1500L
            else ((i.toLong * (3 + id % 7) + 11 * id) % 41L) - 20L
          v.toShort
        }
        (id, graft.ext.MediaCodecs.wavBytes(8000, 1, samples))
      }
      val energies = clips.map { case (id, bytes) =>
          (id, graft.ext.MediaCodecs.frameEnergies(bytes, 100).get)
        }.toDF("media_id", "energies")
        .select(col("media_id"),
          posexplode(col("energies")).as(Seq("frame", "energy")))
      graft.ext.Multimodal.vadSpans(energies, "media_id", "frame", "energy",
        thresholdEnergy = 1000000L)
    },

    // VIDEO SHOT-BOUNDARY SEGMENTATION (MediaCodecs.videoFrameHashes +
    // Multimodal.shotSpans) — the scene-cut pass of a video curation
    // pipeline, the per-frame sibling of q349's whole-clip fingerprint:
    // REAL GVID decode → per-frame aHash64 → lag-Hamming boundary test →
    // running-sum shot numbering → spans. 48 clips of 10–12 frames play
    // 3 scenes of 4 identical frames each (within-scene Hamming 0; scene
    // cuts move many grid cells at once); every 4th clip overlays a
    // single all-white flash frame mid-scene, which must open and close
    // its own 1-frame shot. lag + running sum + the span aggregate share
    // ONE exchange on the clip id; the oracle replays pixel → luma → 8×8
    // grid → bits → popcount → boundary → shot number exactly.
    "q360_video_shot_segments" -> { (s, _) =>
      import s.implicits._
      val vids = s.range(48).as[Long].map { id =>
        val nf = (10 + id % 3).toInt
        val frames = (0 until nf).map { f =>
          val sc = (f / 4).toLong
          graft.ext.MediaCodecs.bmpBytes(16, 12, (x, y) =>
            if (id % 4 == 0 && f == 5) (255, 255, 255)
            else (
              ((x * x * (3 + (id + sc) % 7) + y * y * (5 + (id + 2 * sc) % 11)
                + x * y * (1 + (id + sc) % 13) + 37 * id + 101 * sc) % 256).toInt,
              ((x * x * (2 + (id + 2 * sc) % 5) + y * y * (7 + (id + sc) % 3)
                + x * y * (2 + (id + 2 * sc) % 11) + 11 * id + 53 * sc) % 256).toInt,
              ((x * x * (1 + (id + sc) % 9) + y * y * (4 + (id + 2 * sc) % 13)
                + x * y * (3 + (id + sc) % 7) + 23 * id + 29 * sc) % 256).toInt))
        }
        (id, graft.ext.MediaCodecs.videoBytes(frames))
      }
      val hashes = vids.map { case (id, bytes) =>
          (id, graft.ext.MediaCodecs.videoFrameHashes(bytes).get)
        }.toDF("media_id", "hashes")
        .select(col("media_id"),
          posexplode(col("hashes")).as(Seq("frame", "fhash")))
      graft.ext.Multimodal.shotSpans(hashes, "media_id", "frame", "fhash",
        maxDistance = 16)
    },

    // URL CANONICALIZATION DEDUP (TextAnalysis.canonicalUrl) — the first,
    // cheapest dedup pass of a web-corpus pipeline: one page fetched under
    // case-varied scheme/host, a default port, a trailing slash, shuffled
    // query parameters, tracking params, or a fragment is ONE page, and the
    // crawl frontier should learn that before fetching. 240 fixture URLs =
    // 40 target pages × 6 variants; the canonical form is a pure-Column
    // regexp + HOF pipeline (map-only, codegen'd, zero exchanges), and the
    // dedup groups on the ASCII-bounded canonical string. The oracle
    // replays every rule with the same RE2-safe regexes.
    "q361_url_canonical_dedup" -> { (s, _) =>
      val urls = s.range(240)
        .select(col("id"), (col("id") % 40).as("g"),
          (col("id") / 40).cast("long").as("v"))
        .select(col("id"), expr(urlFixtureFromGv).as("url"))
      urls
        .select(col("id"),
          graft.ext.TextAnalysis.canonicalUrl(col("url")).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_variants"), min(col("id")).as("keeper_id"))
    },

    // HTML → TEXT EXTRACTION (TextAnalysis.htmlToText) — the ingestion step
    // between a raw crawl and every text-quality operator in this suite:
    // script/style blocks dropped WITH contents (script bodies legitimately
    // contain "<p>" string literals — the block strip must run before the
    // generic tag strip), tags → single spaces (so adjacent block elements
    // don't fuse words), the five core entities decoded (&amp; LAST, so
    // &amp;lt; yields the literal &lt;), whitespace collapsed. Each
    // documents row is wrapped in a deterministic HTML skeleton (title +
    // style + a script whose body embeds tag-like literals and comparison
    // operators); the emitted text, char counts, and the classic
    // text-density permille signal are all oracle-replayed with the same
    // RE2-safe regexes. Map-only, codegen'd, zero exchanges at any scale.
    "q362_html_text_extract" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), expr(htmlFixtureSql).as("html"))
      docs
        .select(col("doc_id"), col("html"),
          graft.ext.TextAnalysis.htmlToText(col("html")).as("text_extracted"))
        .select(col("doc_id"), col("text_extracted"),
          length(col("html")).cast("long").as("html_chars"),
          length(col("text_extracted")).cast("long").as("text_chars"))
        .withColumn("density_permille",
          expr("1000 * text_chars div html_chars"))
    },

    // CORPUS CURATION FUNNEL — the end-to-end pipeline shape every
    // training-data team publishes as its ablation table (C4, Gopher,
    // FineWeb): language-ID → minimum length → composite quality →
    // Gopher top-2-gram repetition → exact dedup (md5 keep-first) →
    // MinHash-LSH near-dedup (connected components, keep component min),
    // each stage over the SURVIVORS of the previous, emitting one row per
    // stage with (n_in, n_kept, n_dropped). The corpus plants both exact
    // copies (id+200000) and drop-first-word near-dups (id+100000) so both
    // dedup stages demonstrably fire. Every stage reuses an operator that
    // is individually oracled (q22, q20, q21, q342, q08/q23, q24/q65);
    // this query pins their COMPOSITION — the attrition a real pipeline
    // reports. Scale: per-doc stages are map-only codegen; the dedup
    // stages exchange on fingerprint / band key / component id exactly as
    // their standalone forms do; survivors are persisted once per stage
    // boundary so each filter runs once, and the funnel itself aggregates
    // 7 one-row counts (the global window's child has maxRows = 7).
    "q363_curation_funnel" -> { (s, dir) =>
      import org.apache.spark.storage.StorageLevel
      val T = graft.ext.TextAnalysis
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = base
        .unionByName(base.where(col("doc_id") % 3 === 0).select(
          (col("doc_id") + 100000L).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
        .unionByName(base.where(col("doc_id") % 5 === 0).select(
          (col("doc_id") + 200000L).as("doc_id"), col("text")))
      // ONE corpus pass computes every per-doc predicate as a cumulative
      // survival flag (pass_k = pass_{k-1} AND cond_k); the two dedup
      // stages join their keeper sets back onto the flag table. Stage
      // counts then come from a SINGLE conditional aggregate instead of
      // seven count jobs over re-filtered lineages — at 100 TB this is one
      // fact-table scan plus three doc_id-keyed joins, and it benches 3×
      // faster than the chained-count form at sf0.1 (12.7s → see PERF).
      // The CACHE sits on flags, not the raw corpus (round 17): both the
      // repetition pass and f4 consume flags, so the regex-tokenizing
      // language/quality heuristics run once per document instead of
      // twice; the token count is carried as a column so pass4 reuses it.
      val flags = corpus
        .withColumn("__ntok", T.tokenCount(col("text")))
        .withColumn("pass1", T.langId(col("text")) === "en")
        .withColumn("pass2", col("pass1") && col("__ntok") >= 20L)
        .withColumn("pass3", col("pass2")
          && T.qualityScore(col("text"), QualityStopwords) >= 0.5)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val rep = T.ngramRepetitionStats(flags.where(col("pass3")), 2)
        .select(col("doc_id"), col("top_ngram_count"))
      val f4 = flags.join(rep, Seq("doc_id"), "left")
        .withColumn("pass4", col("pass3") && coalesce(
          col("top_ngram_count") * lit(10L) <= col("__ntok"),
          lit(true)))
        .select(col("doc_id"), col("text"), col("pass1"), col("pass2"),
          col("pass3"), col("pass4"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val s4 = f4.where(col("pass4"))
        .withColumn("fp", md5(lower(trim(col("text")))))
      val keep5 = s4.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("__k5"))
      val f5 = f4.join(keep5, Seq("doc_id"), "left")
        .withColumn("pass5",
          col("pass4") && coalesce(col("__k5"), lit(false)))
      val s5 = f5.where(col("pass5")).select(col("doc_id"), col("text"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.minhashNearDuplicatesPortable(s5, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val nonKeepers = graft.ext.Graph.connectedComponents(pairs)
        .where(col("id") =!= col("component"))
        .select(col("id").as("doc_id"), lit(true).as("__nd"))
      val f6 = f5.join(nonKeepers, Seq("doc_id"), "left")
        .withColumn("pass6",
          col("pass5") && coalesce(col("__nd"), lit(false)) === false)
      val agg = f6.agg(
        count(lit(1)).as("c0"),
        sum(col("pass1").cast("long")).as("c1"),
        sum(col("pass2").cast("long")).as("c2"),
        sum(col("pass3").cast("long")).as("c3"),
        sum(col("pass4").cast("long")).as("c4"),
        sum(col("pass5").cast("long")).as("c5"),
        sum(col("pass6").cast("long")).as("c6"))
      val names = Seq("all", "lang_en", "min_length", "quality",
        "repetition", "exact_dedup", "near_dedup")
      val entries = (0 to 6).map { i =>
        struct(lit(names(i)).as("stage"),
          col(s"c${math.max(i - 1, 0)}").as("n_in"),
          col(s"c$i").as("n_kept"))
      }
      agg.select(posexplode(array(entries: _*)).as(Seq("stage_idx", "e")))
        .select(col("stage_idx").cast("long").as("stage_idx"),
          col("e.stage").as("stage"), col("e.n_in").as("n_in"),
          col("e.n_kept").as("n_kept"),
          (col("e.n_in") - col("e.n_kept")).as("n_dropped"))
    },

    // TPC-DS Q34/Q73 SHAPE: the banded-HAVING frequent-trip pattern — trips
    // (orders) bucketed by their line count, customers kept only when they
    // have ≥3 trips inside the 5–7-line band in one year, then joined back
    // to the dimension for names. Two grouped aggregates where the SECOND
    // group's HAVING runs over the FIRST's output (Q34's dn.cnt BETWEEN 15
    // AND 20), plus the join-back — the optimizer must keep the band filter
    // between the aggregates, not above the join. customer joins broadcast.
    "q364_tpcds_q34_shape" -> { (s, dir) =>
      Seq("orders", "lineitem", "customer")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH trips AS (
          |  SELECT o_custkey AS cust,
          |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
          |         o_orderkey, COUNT(*) AS n_lines
          |  FROM orders_v JOIN lineitem_v ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2, 3),
          |b AS (
          |  SELECT cust, yr, CAST(COUNT(*) AS BIGINT) AS n_trips
          |  FROM trips WHERE n_lines BETWEEN 5 AND 7
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
          |SELECT c_name, b.cust, b.yr, b.n_trips
          |FROM b JOIN customer_v ON c_custkey = b.cust""".stripMargin)
    },

    // TPC-DS Q29/Q25 SHAPE: the three-step quantity-flow chain — sold
    // (non-returned line), returned by the SAME customer for the SAME part
    // within 180 days, then RE-SOLD (any customer, same part) within 60
    // days of the return; per-brand totals of all three legs. Three scans
    // of the fact table joined on narrow keys with date-range residuals —
    // the planner must keep (cust, part) / (part) as the hash-join keys
    // and apply the date windows as post-join filters, never a cartesian;
    // the part dimension broadcasts.
    "q365_tpcds_q29_shape" -> { (s, dir) =>
      Seq("orders", "lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH s AS (
          |  SELECT o_custkey AS cust, l_partkey AS part,
          |         CAST(o_orderdate AS DATE) AS d,
          |         CAST(l_quantity AS BIGINT) AS q
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey
          |  WHERE l_returnflag <> 'R'),
          |r AS (
          |  SELECT o_custkey AS cust, l_partkey AS part,
          |         CAST(o_orderdate AS DATE) AS d,
          |         CAST(l_quantity AS BIGINT) AS q
          |  FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey
          |  WHERE l_returnflag = 'R'),
          |sr AS (
          |  SELECT s.cust, s.part, s.d AS sd, r.d AS rd, s.q AS sq, r.q AS rq
          |  FROM s JOIN r ON s.cust = r.cust AND s.part = r.part
          |   AND r.d >= s.d AND r.d <= DATE_ADD(s.d, 180)),
          |leg3 AS (
          |  SELECT sr.part, sr.sq, sr.rq, s2.q AS q3
          |  FROM sr JOIN s s2 ON sr.part = s2.part
          |   AND s2.d > sr.rd AND s2.d <= DATE_ADD(sr.rd, 60))
          |SELECT p_brand,
          |       CAST(COUNT(*) AS BIGINT) AS n_chains,
          |       CAST(SUM(sq) AS BIGINT) AS sold_qty,
          |       CAST(SUM(rq) AS BIGINT) AS returned_qty,
          |       CAST(SUM(q3) AS BIGINT) AS resold_qty
          |FROM leg3 JOIN part_v ON p_partkey = part
          |GROUP BY 1""".stripMargin)
    },

    // TRANSCRIPT–VAD COVERAGE (q359's spans composed with transcript
    // alignment) — the ASR-corpus quality gate: a transcript segment that
    // claims speech over frames the energy VAD says are silent is mislabeled
    // training data. Each q359 clip gets 4 equal transcript segments
    // (nf divisible by 4 by construction); per segment, the voiced-frame
    // mass is the summed INCLUSIVE overlap with the clip's VAD spans
    // (least(end)−greatest(start)+1), and coverage_permille = 1000·voiced
    // DIV seg_len. Plan: spans and segments join on the clip id (equi) with
    // the overlap residual — per-clip fan-out is spans×4, bounded by clip
    // length; a LEFT join keeps fully-silent segments at coverage 0. The
    // oracle replays the full chain: synth → energies → threshold → islands
    // → segment overlap → integer division.
    "q366_transcript_vad_coverage" -> { (s, _) =>
      import s.implicits._
      val clips = s.range(48).as[Long].map { id =>
        val n = (4000 + (id % 5) * 400).toInt
        val samples = Array.tabulate(n) { i =>
          val voiced = (i / 400 + id) % 3 != 0
          val v =
            if (voiced) ((i.toLong * (7 + id % 11) + 13 * id) % 3001L) - 1500L
            else ((i.toLong * (3 + id % 7) + 11 * id) % 41L) - 20L
          v.toShort
        }
        (id, graft.ext.MediaCodecs.wavBytes(8000, 1, samples))
      }
      val energies = clips.map { case (id, bytes) =>
          (id, graft.ext.MediaCodecs.frameEnergies(bytes, 100).get)
        }.toDF("media_id", "energies")
        .select(col("media_id"),
          posexplode(col("energies")).as(Seq("frame", "energy")))
      val spans = graft.ext.Multimodal.vadSpans(energies, "media_id",
        "frame", "energy", thresholdEnergy = 1000000L)
      val segs = s.range(48).select(col("id").as("media_id"))
        .withColumn("nf", lit(40L) + (col("media_id") % 5) * 4L)
        .select(col("media_id"), col("nf"),
          explode(sequence(lit(0L), lit(3L))).as("seg"))
        .select(col("media_id"), col("seg"),
          (col("seg") * col("nf") / lit(4L)).cast("long").as("seg_start"),
          ((col("seg") + 1L) * col("nf") / lit(4L) - 1L).cast("long")
            .as("seg_end"))
      val overlap =
        least(col("seg_end"), col("span_end")) -
          greatest(col("seg_start"), col("span_start")) + lit(1L)
      segs.join(spans,
          segs("media_id") === spans("media_id")
            && col("span_start") <= col("seg_end")
            && col("span_end") >= col("seg_start"), "left")
        .groupBy(segs("media_id"), col("seg"), col("seg_start"),
          col("seg_end"))
        .agg(coalesce(sum(overlap), lit(0L)).as("voiced_frames"))
        .withColumn("coverage_permille",
          expr("1000 * voiced_frames div (seg_end - seg_start + 1)"))
    },

    // LOUVAIN MOVE PHASE (Graph.louvainMoveRound) — community DETECTION,
    // where q220's modularityMicro only SCORES a given partition: one
    // synchronized phase-1 sweep from singleton init over the supplier–part
    // co-purchase graph (q127's edge set), gains compared in EXACT integers
    // (2m·A_ij − k_i·k_j), smallest-degree neighbor wins, ties to the
    // smaller id, stay on non-positive gain. Output is one row per
    // resulting community with its exact Q·(2m)² contribution.
    "q367_louvain_move" -> { (s, dir) =>
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("id_a"),
          (col("l_partkey").cast("long") + 1000000L).as("id_b"))
        .distinct()
      graft.ext.Graph.louvainMoveRound(pairs)
    },

    // K-TRUSS (Graph.kTruss) — the edge-support peel beside q252's k-core:
    // 3-truss of the hub-capped co-purchase graph, 3 bounded peel rounds
    // (the kCore maxRounds contract; a converged graph makes extra rounds
    // idempotent). Emits surviving edges with the support that justified
    // survival; the oracle unrolls every round — adjacency, two-join
    // triangle support, peel — and the final support join.
    "q368_ktruss" -> { (s, dir) =>
      val pairs = graft.ext.Itemsets
        .pairCounts(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
        .select(col("p1").as("id_a"), col("p2").as("id_b"))
      graft.ext.Graph.kTruss(pairs, k = 3L, maxRounds = 3)
    },

    // MULTI-SWEEP LOUVAIN (Graph.louvainSweeps) — q367's singleton round
    // iterated with the FULL removal+insertion gain over evolving labels:
    // two synchronized sweeps over the hub-capped co-purchase graph, every
    // gain compared as the exact integer 2m·(k_ic − k_ic_i) −
    // k_i·(tot_c − tot_ci + k_i). The oracle unrolls both sweeps —
    // community degrees, neighbor-community counts, per-node argmax with
    // the (gain DESC, community ASC) order, the move rule — and the final
    // partition summary.
    "q369_louvain_sweeps" -> { (s, dir) =>
      val pairs = graft.ext.Itemsets
        .pairCounts(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
        .select(col("p1").as("id_a"), col("p2").as("id_b"))
      graft.ext.Graph.louvainSweeps(pairs, sweeps = 2)
    },

    // SENTENCE-BUDGETED CHUNKING (TextAnalysis.sentences + prefix-sum
    // bucketing) — the RAG / context-window chunker: documents (given
    // deterministic sentence punctuation every 5+doc_id%4 tokens) split on
    // sentence boundaries, each sentence assigned to chunk
    // floor(tokens_before / 24) — the prefix-sum form (a chunk may exceed
    // the budget by at most one sentence, the documented contract; the
    // greedy-reset form needs sequential state no engine replays).
    // Per (doc, chunk): sentence span and token mass. ONE window + ONE
    // aggregate, both partitioned by doc_id — a single exchange.
    "q370_sentence_chunking" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val punct =
        """array_join(transform(
          |  sequence(0, CAST((size(split(trim(text), '\\s+')) - 1)
          |                   DIV (5 + doc_id % 4) AS INT)),
          |  j -> array_join(slice(split(trim(text), '\\s+'),
          |         CAST(j * (5 + doc_id % 4) + 1 AS INT),
          |         CAST(5 + doc_id % 4 AS INT)), ' ')), '. ') || '.'"""
          .stripMargin
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), expr(punct).as("text"))
      val sent = docs.select(col("doc_id"),
          posexplode(graft.ext.TextAnalysis.sentences(col("text")))
            .as(Seq("sent_idx", "sentence")))
        .withColumn("n_tok",
          size(split(col("sentence"), "\\s+")).cast("long"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("sent_idx"))
        .rowsBetween(Window.unboundedPreceding, -1)
      sent
        .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .withColumn("chunk", expr("cum_before div 24"))
        .groupBy(col("doc_id"), col("chunk"))
        .agg(count(lit(1)).as("n_sentences"), sum(col("n_tok")).as("n_tokens"),
          min(col("sent_idx")).cast("long").as("sent_from"),
          max(col("sent_idx")).cast("long").as("sent_to"))
    },

    // STREAMING CURATION FUNNEL (Dedup.streamingFunnelTick) — q363 as the
    // production ingest loop: two landing ticks (evens, then odds + one
    // exact copy family per tick), each AvailableNow micro-batch running
    // language-ID → min-tokens → quality → exact dedup against the
    // cross-tick fingerprint LEDGER (batch-id-keyed overwrite partitions,
    // exactly-once). Tick 2's +300000 copies duplicate TICK-1 docs — only
    // the ledger can drop them; its +400000 copies duplicate docs in the
    // SAME tick — the within-batch min-id rule drops those. Ids arrive in
    // keep-first order, so the summed per-tick counts equal the batch
    // funnel the oracle replays.
    "q371_streaming_funnel" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-sfun-")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.mode("append").parquet(s"$root/landing")
      docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + 300000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 5).select(
          (col("doc_id") + 400000L).as("doc_id"), col("text")))
        .coalesce(1).write.mode("append").parquet(s"$root/landing")
      val stream = s.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string"))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/landing")
      Dedup.streamingFunnelTick(stream, s"$root/ledger", s"$root/silver",
        s"$root/counts", s"$root/ckpt", minTokens = 20L,
        stopwords = QualityStopwords)
      val tot = s.read.parquet(s"$root/counts")
        .agg(sum(col("c0")).as("c0"), sum(col("c1")).as("c1"),
          sum(col("c2")).as("c2"), sum(col("c3")).as("c3"),
          sum(col("c4")).as("c4"))
      val names = Seq("all", "lang_en", "min_length", "quality",
        "exact_dedup")
      val entries = (0 to 4).map { i =>
        struct(lit(names(i)).as("stage"), col(s"c$i").as("n_kept"))
      }
      tot.select(posexplode(array(entries: _*)).as(Seq("stage_idx", "e")))
        .select(col("stage_idx").cast("long").as("stage_idx"),
          col("e.stage").as("stage"), col("e.n_kept").as("n_kept"))
    },

    // MATRYOSHKA TRUNCATION AUDIT (Similarity.matryoshkaRecall) — before
    // re-embedding a corpus at half dimension, measure what it costs:
    // per sampled query (vec_id % 10 = 0), the overlap between the full
    // 64-dim top-10 and the 32-prefix top-10, both rankings deterministic
    // (ROUND(cos, 6) DESC, id). One pair pass, two codegen'd dots per
    // pair, two query-partitioned rank windows.
    "q372_matryoshka_recall" -> { (s, dir) =>
      Similarity.matryoshkaRecall(t(s, dir, "embeddings"),
        prefixDim = 32, k = 10, queryMod = 10)
    },

    // LABEL-RETRIEVAL MRR / HIT@K (Similarity.labelMrr) — the kNN
    // label-agreement probe of embedding quality: per sampled query, the
    // rank of the first same-label neighbor under the deterministic cosine
    // order, reciprocal rank in exact micros (1e6 DIV rank), and the
    // top-10 hit flag. Label-less queries report NULL rank / 0 rr — they
    // stay visible to downstream averages.
    "q373_label_mrr" -> { (s, dir) =>
      Similarity.labelMrr(t(s, dir, "embeddings"), k = 10, queryMod = 10)
    },

    // HUBNESS AUDIT (Similarity.hubnessHistogram) — the k-occurrence
    // distribution of the exact kNN graph over the sampled queries: a
    // heavy right tail (hub vectors retrieved by many queries) is the
    // classic high-dimensional failure that predicts poor ANN recall.
    // Never-retrieved vectors land in the 0-occurrence row by subtraction.
    "q374_hubness" -> { (s, dir) =>
      Similarity.hubnessHistogram(t(s, dir, "embeddings"), k = 10,
        queryMod = 10)
    },

    // TPC-DS Q54 SHAPE: the target-cohort forward-spend histogram — the
    // cohort is defined by ONE month's purchases of a part type, the
    // measure is the SAME customers' spend over the FOLLOWING quarter, and
    // the answer is a revenue-band histogram (floor-division bands). The
    // cohort IN-filter must decorrelate to a semi-join and the band is
    // integer arithmetic end to end (cents, never floats).
    "q375_tpcds_q54_shape" -> { (s, dir) =>
      Seq("orders", "lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"${n}_v"))
      s.sql(
        """WITH target_cust AS (
          |  SELECT DISTINCT o_custkey AS cust
          |  FROM orders_v JOIN lineitem_v ON l_orderkey = o_orderkey
          |                JOIN part_v ON p_partkey = l_partkey
          |  WHERE p_type = 'PROMO'
          |    AND CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) = 1995
          |    AND CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) = 3),
          |spend AS (
          |  SELECT o_custkey AS cust,
          |         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
          |             AS BIGINT)) AS cents
          |  FROM orders_v JOIN lineitem_v ON l_orderkey = o_orderkey
          |  WHERE o_custkey IN (SELECT cust FROM target_cust)
          |    AND CAST(o_orderdate AS DATE) >= DATE '1995-04-01'
          |    AND CAST(o_orderdate AS DATE) < DATE '1995-07-01'
          |  GROUP BY 1)
          |SELECT CAST(cents DIV 5000000 AS BIGINT) AS band,
          |       CAST(COUNT(*) AS BIGINT) AS n_cust
          |FROM spend GROUP BY 1""".stripMargin)
    },

    // DETERMINISTIC RANDOM WALKS (Graph.randomWalks) — the DeepWalk/
    // node2vec input stage over the hub-capped co-purchase graph: 4 steps
    // per start node, step t at node u taking neighbor index
    // hash60("rw:<walk>:<t>:<u>") mod deg(u) over the id-ordered adjacency
    // (the portable md5-60 family, replayed arithmetically by the oracle).
    // Each step is one frontier-vs-adjacency equi-join, never a driver
    // loop per walk.
    "q376_random_walks" -> { (s, dir) =>
      val pairs = graft.ext.Itemsets
        .pairCounts(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
        .select(col("p1").as("id_a"), col("p2").as("id_b"))
      graft.ext.Graph.randomWalks(pairs, steps = 4, startMod = 50L)
    },

    // SKIP-GRAM CO-OCCURRENCE + EXACT PMI (Graph.skipGramPmi) — the stage
    // after q376 in the DeepWalk pipeline and the last SQL-expressible one
    // (Levy & Goldberg 2014: SGNS factorizes exactly this PMI matrix, so
    // the embedding pipeline ends here at the linear-algebra boundary).
    // Window-2 (center, context) pairs by ONE walk-id-keyed self-join over
    // the walk corpus, PMI as exact integer rationals (pmi_num/pmi_den,
    // the q155 lift discipline — no logs, no division). The oracle replays
    // the walks themselves (the q376 CTEs) and every count.
    "q384_skipgram_pmi" -> { (s, dir) =>
      val pairs = graft.ext.Itemsets
        .pairCounts(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
        .select(col("p1").as("id_a"), col("p2").as("id_b"))
      val walks = graft.ext.Graph.randomWalks(pairs, steps = 4, startMod = 50L)
      graft.ext.Graph.skipGramPmi(walks, window = 2)
    },

    // STRONGLY CONNECTED COMPONENTS (Graph.stronglyConnectedComponents) —
    // the directed sibling the CC family lacked: bounded forward-backward
    // coloring (min-ancestor colors to a fixed point, pivot per class,
    // backward same-color frontier = the SCC, emit + deactivate, recurse).
    // Fixture with KNOWN components: 240 nodes in 40 six-node directed
    // cycles, chained in pairs by one cross edge (condensation depth 2 —
    // round 1 peels every chain-head cycle, round 2 the rest). The oracle
    // is the closed form scc = id − id%6, so the engine's answer is graded
    // against ground truth, not a replay; Round14fSpec adds the randomized
    // Tarjan reference check.
    "q386_scc" -> { (s, _) =>
      val base = s.range(240).select(col("id").as("src"),
        (col("id") - col("id") % 6 + (col("id") + 1) % 6).as("dst"))
      val cross = s.range(240).where(col("id") % 12 === 0)
        .select(col("id").as("src"), (col("id") + 6).as("dst"))
      graft.ext.Graph.stronglyConnectedComponents(
        base.unionByName(cross), maxRounds = 4, maxPropRounds = 20)
    },

    // SCC CONDENSATION DAG (q386's components summarized) — the artifact a
    // pipeline actually consumes after SCC: one row per component with its
    // size and its distinct out-/in-neighbor component counts. Component
    // edges come from ONE broadcast label lookup per endpoint + a distinct
    // on the (comp_a, comp_b) pair — the louvainContract shape. Oracle is
    // the fixture's closed form: 6-node components, even-indexed blocks
    // point at their odd successor.
    "q387_scc_condensation" -> { (s, _) =>
      val base = s.range(240).select(col("id").as("src"),
        (col("id") - col("id") % 6 + (col("id") + 1) % 6).as("dst"))
      val cross = s.range(240).where(col("id") % 12 === 0)
        .select(col("id").as("src"), (col("id") + 6).as("dst"))
      val edges = base.unionByName(cross)
      val sccC = Frames.scope().persist(
        graft.ext.Graph.stronglyConnectedComponents(
          edges, maxRounds = 4, maxPropRounds = 20))
      // size-gated label lookup (the louvainContract discipline): the SCC
      // label table is node-sized, so broadcast only under a row limit —
      // over it the endpoint lookups are plain node-keyed equi-joins.
      val nLabels = sccC.count()
      val scc = Frames.rebind(sccC)
      def look(n: String, c: String) = {
        val l = scc.select(col("id").as(n), col("scc").as(c))
        if (nLabels <= graft.ext.Graph.BroadcastLabelRowLimit) broadcast(l)
        else l
      }
      val cedges = edges
        .join(look("src", "ca"), Seq("src"))
        .join(look("dst", "cb"), Seq("dst"))
        .where(col("ca") =!= col("cb"))
        .select(col("ca"), col("cb")).distinct()
      val members = scc.groupBy(col("scc")).agg(count(lit(1)).as("n_members"))
      val outs = cedges.groupBy(col("ca").as("scc"))
        .agg(count(lit(1)).as("n_out"))
      val ins = cedges.groupBy(col("cb").as("scc"))
        .agg(count(lit(1)).as("n_in"))
      members.join(outs, Seq("scc"), "left").join(ins, Seq("scc"), "left")
        .select(col("scc"), col("n_members"),
          coalesce(col("n_out"), lit(0L)).as("n_out"),
          coalesce(col("n_in"), lit(0L)).as("n_in"))
    },

    // NB CONFUSION MATRIX (the evaluation artifact of q378): per
    // (true_label, pred_label) cell the count and a doc-id checksum —
    // one keyed aggregate over the held-out predictions. On the separable
    // fixture the matrix is exactly diagonal, which the oracle replays
    // rather than assumes.
    "q388_nb_confusion" -> { (s, dir) =>
      val (train, test) = nbCorpus(s, dir)
      graft.ext.Classify.naiveBayesPredict(train, test)
        .join(test.select(col("doc_id"), col("label").as("true_label")),
          "doc_id")
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("doc_checksum"))
    },

    // STREAMING HEAVY HITTERS (HeavyHitters.streamingShardSummaries) — the
    // batch Misra–Gries aggregator's unbounded-stream form: the documents
    // stream (with two planted needles at ~14% and ~12.5% of the token
    // stream — every organic token is under 3%) is sharded by token hash,
    // flatMapGroupsWithState folds each micro-batch into the per-shard
    // capacity-8 counter map, and the last tick's candidate union feeds the
    // SAME exact recount as the batch path. The summary's residuals are
    // order-dependent and never emitted as the answer — the pigeonhole
    // superset guarantee is order-free, so the final exact output equals
    // the one-shot batch query, which is what the oracle replays.
    "q385_streaming_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      val root = tempDirCleanedOnExit("graft-smg-")
      val T = graft.ext.TextAnalysis
      def planted(c: Column) =
        when(col("doc_id") % 2 === 0,
          concat(expr("repeat('needlea ', 20)"), c))
          .otherwise(concat(expr("repeat('needleb ', 18)"), c))
      val schema = t(s, dir, "documents").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val keys = stream
        .select(explode(T.tokens(lower(planted(col("text"))))).as("k"))
        .select(pmod(xxhash64(col("k")), lit(4L)).cast("int").as("shard"),
          col("k"))
        .as[(Int, String)]
      val q = graft.ext.HeavyHitters.streamingShardSummaries(keys, capacity = 8)
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/cp")
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          b.write.mode("append").parquet(s"$root/ticks")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val ticks = s.read.parquet(s"$root/ticks")
      val cands = ticks
        .join(ticks.groupBy(col("shard")).agg(max(col("tick")).as("tick")),
          Seq("shard", "tick"))
        .select(col("key")).distinct().as[String].collect().toSeq
      val keyed = t(s, dir, "documents")
        .select(explode(T.tokens(lower(planted(col("text"))))).as("k"))
      val n = keyed.agg(count(lit(1)).as("n"))
      keyed.filter(col("k").isin(cands: _*))
        .groupBy(col("k").as("key_out")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(n))
        .filter(col("cnt") * 9L > col("n"))
        .select(col("key_out"), col("cnt"))
    },

    // HUB-CAPPED KEEP-FIRST SUBSTRING DEDUP (Dedup
    // .duplicateSubstringSpansKeepFirstCapped) — q341's removal plan with
    // the documented boilerplate hotspot BUILT, not noted: a 39-char
    // license suffix planted on every 3rd doc makes each of its 10 interior
    // 30-char windows occur ~167 times; at cap 100 the per-hash count
    // (groupBy — map-side combined, the hub never lands in one partition)
    // finds them, a broadcast anti join diverts them, and the removal
    // spans cover only the ORGANIC duplicates (occurrence counts ≤ 3 here)
    // — conservative under-removal, with the dropped mass reported by the
    // q383 audit. The oracle replays the md5-60 cap and the keep-first
    // rank exactly.
    "q382_substring_capped_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" LICENSE-BOILERPLATE-SHARED-ACROSS-DOC.")))
          .otherwise(col("text")).as("text"))
      Dedup.duplicateSubstringSpansKeepFirstCapped(docs, minLen = 30,
          maxOccurrences = 100L)
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_end") - col("span_start") + 1L).as("removed_chars"),
          sum(col("span_start")).as("start_checksum"))
    },

    // THE CAP'S AUDIT ROW (Dedup.substringHubAudit) — the mass q382
    // declines to process, reported instead of silently vanished: one row
    // per over-cap window hash with its occurrence count (the 10 planted
    // license windows at ~167 each). Map-side-combinable count on the
    // portable md5-60 key, output hub-sized; the oracle replays each hash
    // and count exactly.
    "q383_substring_hub_audit" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" LICENSE-BOILERPLATE-SHARED-ACROSS-DOC.")))
          .otherwise(col("text")).as("text"))
      Dedup.substringHubAudit(docs, minLen = 30, maxOccurrences = 100L)
    },

    // SHIFT-ROBUST AUDIO NEAR-DUP (MediaCodecs.audioHashProbes) — closes
    // q344's documented blind spot: audioHash64's head-anchored frames make
    // a prepended pad or head trim flip essentially every bit. Probes hash
    // the 65-frame window at every head offset 0..4 frames, so a copy
    // shifted by k·100 samples shares an EXACT probe alignment with its
    // original (identical sample stream → Hamming 0, not merely small) —
    // and the gain invariance composes (the prepended copy here is ALSO
    // 2×-gained). Fixture: 48 clips; every 4th gets a 2-frame-prepended
    // 2×-gain copy (+1000) and a 1-frame head-trimmed copy (+2000). All
    // probe rows feed the SHARED Hamming pigeonhole index; the verify
    // stage takes the MIN Hamming over probe pairs per clip pair. The
    // oracle replays sample → prepend/trim → frame energy → probe bits →
    // min-Hamming bit-for-bit.
    "q381_audio_shift_robust" -> { (s, _) =>
      import s.implicits._
      val clips = s.range(48).as[Long].flatMap { id =>
        def base(i: Int): Long =
          ((i.toLong * i * (3 + id % 5) + i.toLong * (7 + id % 11) + 13L * id)
            % 20001L) - 10000L
        val n = (6800 + (id % 7) * 20).toInt
        val orig = (id, graft.ext.MediaCodecs.wavBytes(8000, 1,
          Array.tabulate(n)(i => base(i).toShort)))
        if (id % 4 == 0) {
          // +1000: 200 junk samples PREPENDED, then the 2×-gained stream
          val padded = Array.tabulate(n + 200) { i =>
            if (i < 200) (((i.toLong * 11 + id) % 2001L) - 1000L).toShort
            else (2L * base(i - 200)).toShort
          }
          // +2000: first 100 samples TRIMMED
          val trimmed = Array.tabulate(n - 100)(i => base(i + 100).toShort)
          Seq(orig,
            (id + 1000L, graft.ext.MediaCodecs.wavBytes(8000, 1, padded)),
            (id + 2000L, graft.ext.MediaCodecs.wavBytes(8000, 1, trimmed)))
        } else Seq(orig)
      }
      val sigs = clips.flatMap { case (id, bytes) =>
          graft.ext.MediaCodecs.audioHashProbes(bytes).get
            .map(h => (id, h))
        }
        .toDF("media_id", "ph")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.hammingNearDuplicates(sigs, "media_id", "ph",
          maxDistance = 3, bits = 64)
        .groupBy(col("id_a"), col("id_b"))
        .agg(min(col("hamming")).as("min_hamming"))
    },

    // FULL MULTI-LEVEL LOUVAIN (Graph.louvainMultiLevel) — q369's move
    // phase completed with Blondel phase 2: two guarded weighted sweeps,
    // CONTRACT the partition into a weighted community graph (self-loops
    // carry intra-community weight; 2m is invariant), two more sweeps on
    // the coarser graph. Every sweep's proposal is accepted only if it
    // strictly raises the exact integer Q·(2m)² (synchronized sweeps can
    // oscillate; the guard makes per-level modularity non-decreasing by
    // construction). The oracle unrolls both levels — weighted gains,
    // guard CASEs, contraction — and replays the per-level summaries.
    "q380_louvain_multilevel" -> { (s, dir) =>
      val pairs = graft.ext.Itemsets
        .pairCounts(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
        .select(col("p1").as("id_a"), col("p2").as("id_b"))
      graft.ext.Graph.louvainMultiLevel(pairs, sweepsPerLevel = 2, levels = 2)
    },

    // LEARNED QUALITY FILTER, TRAIN SIDE (Classify.naiveBayesModel) — the
    // closed-form multinomial Naive Bayes every published curation pipeline
    // (CCNet, FineWeb-Edu, fastText-style gates) uses where q363's stage 3
    // has a stopword heuristic: training is two hash aggregations over the
    // labeled fixture (spam-suffixed odd docs = 'bad'), and each model
    // row's log-probability is quantized to integer micros the moment it is
    // computed (ln once per (class, term) — model-constant, the BM25 idf
    // discipline), so the oracle replays the model bit for bit.
    "q377_nb_train" -> { (s, dir) =>
      val (train, _) = nbCorpus(s, dir)
      graft.ext.Classify.naiveBayesModel(train)
    },

    // LEARNED QUALITY FILTER, SCORE SIDE (Classify.naiveBayesPredict) —
    // held-out prediction: train on the even (doc_id DIV 2) split, score
    // the odd split. Scoring is explode → broadcast model join → one
    // (doc, class)-keyed integer sum → a classes-bounded per-doc argmax
    // window; integer sums commute, so the scores are partitioning- and
    // engine-invariant (Round14Spec proves both, plus 100% held-out
    // accuracy on the separable fixture).
    "q378_nb_predict" -> { (s, dir) =>
      val (train, test) = nbCorpus(s, dir)
      graft.ext.Classify.naiveBayesPredict(train, test)
        .join(test.select(col("doc_id"), col("label").as("true_label")),
          "doc_id")
        .select(col("doc_id"), col("true_label"), col("pred_label"),
          col("score_micros"))
    },

    // CURATION FUNNEL WITH THE LEARNED QUALITY STAGE — q363's shape with
    // the heuristic stage swapped for the trained classifier: the corpus
    // plants spam-suffixed copies (+300000) and exact copies (+200000);
    // the NB stage (trained on q377's split) drops every planted spam doc,
    // then md5 keep-first drops the exact copies — each stage one row of
    // (n_in, n_kept, n_dropped) attrition, from ONE conditional aggregate
    // over cumulative survival flags (the q363 single-pass discipline).
    "q379_funnel_nb" -> { (s, dir) =>
      val (train, _) = nbCorpus(s, dir)
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = base
        .unionByName(base.where(col("doc_id") % 4 === 1).select(
          (col("doc_id") + 300000L).as("doc_id"),
          concat(col("text"), lit(nbSpamSuffix)).as("text")))
        .unionByName(base.where(col("doc_id") % 5 === 0).select(
          (col("doc_id") + 200000L).as("doc_id"), col("text")))
      val pred = graft.ext.Classify.naiveBayesPredict(train, corpus)
      val flags = corpus.join(
          pred.select(col("doc_id"), col("pred_label")), Seq("doc_id"), "left")
        .withColumn("pass1", coalesce(col("pred_label") === "good", lit(false)))
      val keep2 = flags.where(col("pass1"))
        .withColumn("fp", md5(lower(trim(col("text")))))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("__k2"))
      val f2 = flags.join(keep2, Seq("doc_id"), "left")
        .withColumn("pass2", col("pass1") && coalesce(col("__k2"), lit(false)))
      val agg = f2.agg(
        count(lit(1)).as("c0"),
        sum(col("pass1").cast("long")).as("c1"),
        sum(col("pass2").cast("long")).as("c2"))
      val names = Seq("all", "nb_quality", "exact_dedup")
      val entries = (0 to 2).map { i =>
        struct(lit(names(i)).as("stage"),
          col(s"c${math.max(i - 1, 0)}").as("n_in"),
          col(s"c$i").as("n_kept"))
      }
      agg.select(posexplode(array(entries: _*)).as(Seq("stage_idx", "e")))
        .select(col("stage_idx").cast("long").as("stage_idx"),
          col("e.stage").as("stage"), col("e.n_in").as("n_in"),
          col("e.n_kept").as("n_kept"),
          (col("e.n_in") - col("e.n_kept")).as("n_dropped"))
    },

    // NB VOCABULARY FLOOR (Classify.naiveBayesModel minCount/maxVocab) —
    // the pruning every published NB/fastText-class gate applies before
    // weights: a per-doc-unique 'rareNNN' token is planted on every
    // training doc (the web-scale long tail in miniature — typos, hex ids),
    // minCount=3 prunes the entire singleton tail and maxVocab=30 cuts the
    // floored vocabulary at frequency rank 30 (ties to the smaller term,
    // deterministic), with class totals and V re-based on the RETAINED
    // vocabulary. The oracle replays the floor as HAVING + ROW_NUMBER and
    // the re-based add-1 weights token for token.
    "q389_nb_vocab_floor" -> { (s, dir) =>
      val (train, _) = nbCorpus(s, dir)
      val noisy = train.select(col("doc_id"), col("label"),
        concat(col("text"), lit(" rare"), col("doc_id").cast("string"))
          .as("text"))
      graft.ext.Classify.naiveBayesModel(noisy, minCount = 3L, maxVocab = 30)
    },

    // SPPMI TOP-K CONTEXTS (Graph.sppmiTopKContexts) — the artifact an
    // embedding trainer consumes off q384's full PMI table: shifted-
    // positive filter by the exact integer cross-multiplication
    // `pmi_num > 5·pmi_den` (shift = the SGNS negative-sample count, so
    // no e^s approximation), then the 3 strongest contexts per center by
    // the 1e-6-grain integer ratio key — through the GroupedTopK PHYSICAL
    // operator (bounded per-group heaps, partial pass before the exchange),
    // not a window sort. The oracle replays the walks, the PMI rationals,
    // and the rank with ROW_NUMBER.
    "q390_sppmi_topk" -> { (s, dir) =>
      import graft.plans.GroupedTopKStrategy
      if (!s.experimental.extraStrategies.exists(_ eq GroupedTopKStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ GroupedTopKStrategy
      val pairs = graft.ext.Itemsets
        .pairCounts(t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
        .where(col("n") >= 2)
        .select(col("p1").as("id_a"), col("p2").as("id_b"))
      val walks = graft.ext.Graph.randomWalks(pairs, steps = 4, startMod = 50L)
      graft.ext.Graph.sppmiTopKContexts(
        graft.ext.Graph.skipGramPmi(walks, window = 2), shift = 5L, k = 3)
    },

    // STREAMING NB QUALITY GATE (Classify.streamingNbScoreTick) — q379's
    // learned stage in the production ingest loop: the model trains ONCE
    // offline (q377's split, materialized before the stream starts), then
    // two landing ticks score their micro-batches against the broadcast
    // model and land batch-id-keyed overwrite partitions (exactly-once).
    // NB scoring is per-document, so the union of tick outputs equals the
    // one-shot batch prediction — which is exactly what the oracle replays
    // (the q378 prediction CTEs over the full test split).
    "q391_streaming_nb" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-snb-")
      val (train, test) = nbCorpus(s, dir)
      val store = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val model = graft.ext.Classify.naiveBayesModel(train).persist(store)
      model.count()
      val classes = graft.ext.Classify.naiveBayesClasses(train).persist(store)
      classes.count()
      // the test split is doc_id % 4 ∈ {2, 3} (doc_id div 2 odd) — land it
      // as two tick files so the gate runs over two real micro-batches
      test.filter(col("doc_id") % 4 === 2)
        .coalesce(1).write.mode("append").parquet(s"$root/landing")
      test.filter(col("doc_id") % 4 === 3)
        .coalesce(1).write.mode("append").parquet(s"$root/landing")
      val stream = s.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("label", "string").add("text", "string"))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/landing")
      graft.ext.Classify.streamingNbScoreTick(stream, model, classes,
        s"$root/preds", s"$root/ckpt")
      s.read.parquet(s"$root/preds")
        .select(col("doc_id"), col("pred_label"), col("score_micros"))
    },

    // LANDMARK (PEAK-GAP) AUDIO FINGERPRINT (MediaCodecs
    // .audioPeakGapLandmarks) — closes q381's honestly-documented residual:
    // probes only recover shifts that are frameWidth MULTIPLES. Landmarks
    // hash peak-to-peak index gaps (4-gram, 15 bits each), which ANY shift
    // translates without changing and a positive gain preserves exactly —
    // the fixture's every-5th-clip copy is prepended by 37 junk samples
    // (NOT a frame multiple) AND 3×-gained, and still shares essentially
    // its whole key set. Matching is the banded equi-join on the key +
    // a (id_a, id_b)-keyed shared-key count. The oracle replays sample →
    // peak → gap → packed key → join arithmetically.
    "q392_audio_landmarks" -> { (s, _) =>
      import s.implicits._
      val clips = s.range(40).as[Long].flatMap { id =>
        // high-entropy portable stream: the md5-60 family (smooth
        // closed-form signals have DEGENERATE peak geometry — every clip
        // shares every frequent gap pattern; measured before this fixture
        // was chosen). The oracle replays the same md5 arithmetic.
        val md = java.security.MessageDigest.getInstance("MD5")
        def h60(str: String): Long = java.lang.Long.parseLong(
          md.digest(str.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(15), 16)
        def base(i: Int): Long = (h60(s"aud:$id:$i") % 20001L) - 10000L
        val n = (6000 + (id % 7) * 20).toInt
        val orig = (id, graft.ext.MediaCodecs.wavBytes(8000, 1,
          Array.tabulate(n)(i => base(i).toShort)))
        if (id % 5 == 0) {
          val padded = Array.tabulate(n + 37) { i =>
            if (i < 37) ((h60(s"junk:$id:$i") % 1201L) - 600L).toShort
            else (3L * base(i - 37)).toShort
          }
          Seq(orig,
            (id + 1000L, graft.ext.MediaCodecs.wavBytes(8000, 1, padded)))
        } else Seq(orig)
      }
      val keys = clips.flatMap { case (id, bytes) =>
          graft.ext.MediaCodecs.audioPeakGapLandmarks(bytes).get
            .map(k => (id, k))
        }
        .toDF("media_id", "lk").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      keys.select(col("media_id").as("id_a"), col("lk"))
        .join(keys.select(col("media_id").as("id_b"), col("lk")), "lk")
        .where(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 30L)
    },

    // BRIDGES (Graph.bridges) — edge biconnectivity, the round-15 stretch:
    // BFS spanning forest (roots = CC min-members), LCA walk per non-tree
    // edge (one conditional lift — BFS layering bounds |Δlevel| ≤ 1 —
    // then simultaneous parent steps), the ±1 subtree-sum covering trick,
    // bridge ⟺ S(subtree) = 0. Fixture with KNOWN bridges: 10 five-node
    // cycles chained by 9 single connector edges — exactly the connectors
    // are bridges. Ground-truth oracle (closed form), plus Round15cSpec's
    // 12-graph randomized Tarjan replay.
    "q393_bridges" -> { (s, _) =>
      val cyc = s.range(50).select(
        expr("(id div 5) * 10 + id % 5").as("id_a"),
        expr("(id div 5) * 10 + (id % 5 + 1) % 5").as("id_b"))
      val conn = s.range(9).select(
        expr("id * 10 + 2").as("id_a"), expr("(id + 1) * 10").as("id_b"))
      graft.ext.Graph.bridges(cyc.unionByName(conn), maxRounds = 40)
    },

    // 2-EDGE-CONNECTED COMPONENTS (Graph.twoEdgeConnectedComponents) —
    // the consumption artifact of q393: CC over the non-bridge edges,
    // bridge-only nodes as singletons; every node labels to its cycle's
    // min member (closed-form oracle). Fixture: the same 10 five-node
    // cycles, but STAR-connected (cycle 0's node 2 feeds every other
    // cycle) — diameter ~6 instead of q393's deliberately-deep ~30-level
    // chain (the chain stays on q393 as the standing regression guard for
    // the round-15 deep-iteration lineage fix; paying its ~110 loop
    // rounds twice per bench run bought nothing).
    "q394_2ecc" -> { (s, _) =>
      val cyc = s.range(50).select(
        expr("(id div 5) * 10 + id % 5").as("id_a"),
        expr("(id div 5) * 10 + (id % 5 + 1) % 5").as("id_b"))
      val conn = s.range(9).select(
        lit(2L).as("id_a"), expr("(id + 1) * 10").as("id_b"))
      graft.ext.Graph.twoEdgeConnectedComponents(
        cyc.unionByName(conn), maxRounds = 40)
    },

    // ARTICULATION POINTS (Graph.articulationPoints) — the VERTEX sibling
    // of q393/q394 (round-16 item 3): a node cuts iff it lies in ≥ 2
    // biconnected blocks (the block-cut-tree characterization —
    // tree-independent, so the BFS forest works where DFS low-link would
    // not). Fixture: the q393 cycle chain — every connector ENDPOINT is a
    // cut vertex (both sides), nothing else is; ground-truth oracle
    // (closed form), randomized Hopcroft–Tarjan replay in Round16bSpec.
    "q395_articulation" -> { (s, _) =>
      val cyc = s.range(50).select(
        expr("(id div 5) * 10 + id % 5").as("id_a"),
        expr("(id div 5) * 10 + (id % 5 + 1) % 5").as("id_b"))
      val conn = s.range(9).select(
        expr("id * 10 + 2").as("id_a"), expr("(id + 1) * 10").as("id_b"))
      graft.ext.Graph.articulationPoints(cyc.unionByName(conn),
        maxRounds = 40)
    },

    // BICONNECTED COMPONENTS (Graph.biconnectedLabels) — Tarjan–Vishkin's
    // reduction on the q393 BFS forest: blocks = connected components of
    // the auxiliary graph that chains each fundamental cycle's tree edges
    // (emitted by the same one-job-per-round LCA walk), labeled by the
    // block's lexicographically smallest edge. Fixture blocks: each
    // 5-cycle (smallest edge (c·10, c·10+1)) plus each connector as its
    // own 1-edge block. Ground-truth oracle (closed form).
    "q396_bcc" -> { (s, _) =>
      val cyc = s.range(50).select(
        expr("(id div 5) * 10 + id % 5").as("id_a"),
        expr("(id div 5) * 10 + (id % 5 + 1) % 5").as("id_b"))
      val conn = s.range(9).select(
        expr("id * 10 + 2").as("id_a"), expr("(id + 1) * 10").as("id_b"))
      graft.ext.Graph.biconnectedLabels(cyc.unionByName(conn),
        maxRounds = 40)
    },

    // COMPOSED STREAMING CURATION TICK (Dedup.streamingFunnelNbTick) —
    // round-16 item 4: the q371 funnel with q391's learned NB stage
    // INLINE as the final gate, one tick instead of two pipelines. The
    // model trains ONCE offline (q377's split); two landing ticks run
    // heuristic gates → exact-dedup ledger → NB gate; the second tick
    // re-lands copies of the first tick's docs (+300000) to exercise the
    // cross-tick ledger. The ledger records PASS4 fingerprints so summed
    // ticks ≡ the one-shot batch replay — which is exactly what the
    // oracle runs (q371's funnel CTEs + q378's prediction CTEs).
    "q397_streaming_funnel_nb" -> { (s, dir) =>
      val root = tempDirCleanedOnExit("graft-sfnb-")
      val (train, test) = nbCorpus(s, dir)
      val store = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val model = graft.ext.Classify.naiveBayesModel(train).persist(store)
      model.count()
      val classes = graft.ext.Classify.naiveBayesClasses(train).persist(store)
      classes.count()
      test.filter(col("doc_id") % 4 === 2).select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(s"$root/landing")
      test.filter(col("doc_id") % 4 === 3).select(col("doc_id"), col("text"))
        .unionByName(test.filter(col("doc_id") % 4 === 2).select(
          (col("doc_id") + 300000L).as("doc_id"), col("text")))
        .coalesce(1).write.mode("append").parquet(s"$root/landing")
      val stream = s.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string"))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/landing")
      Dedup.streamingFunnelNbTick(stream, model, classes,
        keepLabel = "good", s"$root/ledger", s"$root/silver",
        s"$root/counts", s"$root/ckpt", minTokens = 20L,
        stopwords = QualityStopwords)
      val tot = s.read.parquet(s"$root/counts")
        .agg(sum(col("c0")).as("c0"), sum(col("c1")).as("c1"),
          sum(col("c2")).as("c2"), sum(col("c3")).as("c3"),
          sum(col("c4")).as("c4"), sum(col("c5")).as("c5"))
      val names = Seq("all", "lang_en", "min_length", "quality",
        "exact_dedup", "nb_good")
      val entries = (0 to 5).map { i =>
        struct(lit(names(i)).as("stage"), col(s"c$i").as("n_kept"))
      }
      tot.select(posexplode(array(entries: _*)).as(Seq("stage_idx", "e")))
        .select(col("stage_idx").cast("long").as("stage_idx"),
          col("e.stage").as("stage"), col("e.n_kept").as("n_kept"))
    },

    // PACKED-SEQUENCE DEDUP (Dedup.packedSequenceDedup) — the round-16
    // stretch: q69's bucketed running-total packing composed with q341's
    // keep-first substring machinery AT SEQUENCE GRANULARITY — the dedup
    // pass a pipeline runs on what the trainer actually consumes. Each
    // bin's docs concatenate (id order, newline-joined) into one
    // budget-bounded sequence row; per duplicated ≥30-char window the
    // corpus-first (seq_id, pos) copy survives; later copies accumulate
    // removal mass, thresholded to the per-sequence keep flag. The oracle
    // replays packing, concat (string_agg ORDER BY), and the keep-first
    // span merge verbatim.
    "q398_packed_seq_dedup" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.packedSequenceDedup(docs, budget = 256, buckets = 8,
        minLen = 30, maxDupPermille = 200L)
    }
  )

  /** q377/q378's spam suffix — 12 tokens absent from the synthetic corpus
    * vocabulary, so the planted 'bad' class is cleanly separable and the
    * classifier's held-out accuracy is provable, not probabilistic. */
  private[graft] val nbSpamSuffix: String =
    " win free click buy win free click buy win free click buy"

  /** q377/q378's labeled fixture: odd docs get the spam suffix and label
    * 'bad', even docs stay 'good'; the train/test split is the parity of
    * `doc_id DIV 2` so both classes land in both splits. Returns
    * (train, test), each `(doc_id, label, text)`. */
  private def nbCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val corpus = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 2 === 1, lit("bad")).otherwise(lit("good"))
        .as("label"),
      when(col("doc_id") % 2 === 1, concat(col("text"), lit(nbSpamSuffix)))
        .otherwise(col("text")).as("text"))
    (corpus.where(expr("doc_id div 2") % 2 === 0),
     corpus.where(expr("doc_id div 2") % 2 === 1))
  }

  /** DuckDB replay of [[nbCorpus]] + the Naive Bayes training aggregates —
    * shared by the q377/q378/q379 oracles. Emits CTEs `nbtrain`, `nbtest`,
    * `cnt`, `tot`, `voc`, `model`, `classes`, `vocab`; every expression
    * mirrors [[graft.ext.Classify]] token for token. */
  private val nbModelCtes: String =
    """nbcorpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 2 = 1 THEN 'bad' ELSE 'good' END AS label,
      |         CASE WHEN doc_id % 2 = 1
      |              THEN text || ' win free click buy win free click buy win free click buy'
      |              ELSE text END AS text
      |  FROM documents),
      |nbtrain AS (SELECT * FROM nbcorpus WHERE (doc_id // 2) % 2 = 0),
      |nbtest  AS (SELECT * FROM nbcorpus WHERE (doc_id // 2) % 2 = 1),
      |nbtok AS (
      |  SELECT label,
      |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM nbtrain),
      |cnt AS (SELECT label, term, CAST(COUNT(*) AS BIGINT) AS cnt
      |        FROM nbtok GROUP BY 1, 2),
      |tot AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS tot
      |        FROM cnt GROUP BY 1),
      |voc AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM cnt),
      |model AS (
      |  SELECT c.label, c.term, c.cnt,
      |         CAST(ROUND(1e6 * ln((c.cnt + 1) * 1e0 / (t.tot + voc.v)))
      |              AS BIGINT) AS w_micros
      |  FROM cnt c JOIN tot t ON t.label = c.label CROSS JOIN voc),
      |nd AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_docs
      |       FROM nbtrain GROUP BY 1),
      |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nbtrain),
      |classes AS (
      |  SELECT nd.label,
      |         CAST(ROUND(1e6 * ln(nd.n_docs * 1e0 / ntr.n)) AS BIGINT)
      |           AS prior_micros,
      |         CAST(ROUND(1e6 * ln(1e0 / (t.tot + voc.v))) AS BIGINT)
      |           AS unseen_micros
      |  FROM nd JOIN tot t ON t.label = nd.label CROSS JOIN voc CROSS JOIN ntr),
      |vocab AS (SELECT DISTINCT term FROM cnt)""".stripMargin

  /** DuckDB replay of [[graft.ext.Classify.naiveBayesPredict]] over a CTE
    * named `toscore` with `(doc_id, text)` — emits `nbpred`
    * `(doc_id, pred_label, score_micros)`. */
  private val nbPredictCtes: String =
    """stok AS (
      |  SELECT doc_id,
      |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM toscore),
      |sv AS (SELECT s.doc_id, s.term
      |       FROM stok s JOIN vocab v ON v.term = s.term),
      |scored AS (
      |  SELECT sv.doc_id, c.label, c.prior_micros,
      |         CAST(SUM(COALESCE(m.w_micros, c.unseen_micros)) AS BIGINT)
      |           AS ll
      |  FROM sv CROSS JOIN classes c
      |  LEFT JOIN model m ON m.term = sv.term AND m.label = c.label
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT doc_id, label,
      |         CAST(prior_micros + ll AS BIGINT) AS score_micros,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY prior_micros + ll DESC, label)
      |           AS rn
      |  FROM scored),
      |nbpred AS (SELECT doc_id, label AS pred_label, score_micros
      |           FROM ranked WHERE rn = 1)""".stripMargin

  /** q361's URL fixture: one expression over `(g, v)` — page group and
    * variant — shared VERBATIM between the Spark plan and the DuckDB
    * oracle, so the fixture itself can never diverge. Variant 0 is the
    * canonical shape; 1 = uppercase scheme + default port, 2 = uppercase
    * host, 3 = trailing slash, odd variants shuffle parameter order,
    * 4 = tracking params appended, 5 = fragment appended. */
  private[graft] val urlFixtureFromGv: String =
    """concat(
      |  CASE WHEN v = 1 THEN (CASE WHEN g % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END)
      |       ELSE (CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END) END,
      |  '://',
      |  CASE WHEN v = 2 THEN concat('WWW.EX', CAST(g % 7 AS STRING), '.COM')
      |       ELSE concat('www.ex', CAST(g % 7 AS STRING), '.com') END,
      |  CASE WHEN v = 1 THEN (CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END)
      |       ELSE '' END,
      |  concat('/a/', CAST(g % 5 AS STRING)),
      |  CASE WHEN v = 3 THEN '/' ELSE '' END,
      |  CASE WHEN v % 2 = 0 THEN concat('?q=', CAST(g AS STRING), '&page=2')
      |       ELSE concat('?page=2&q=', CAST(g AS STRING)) END,
      |  CASE WHEN v = 4 THEN '&utm_source=feed&fbclid=1' ELSE '' END,
      |  CASE WHEN v = 5 THEN '#sec' ELSE '' END)""".stripMargin

  /** q362's HTML fixture: wraps each documents row in a deterministic HTML
    * skeleton — shared VERBATIM between the Spark plan and the oracle. The
    * script body deliberately embeds a "<p>" string literal and `<` / `>`
    * comparison operators (the block strip must eat them); every third doc
    * gets an entity-stress paragraph (`&amp;amp;` must decode to the
    * literal `&amp;`, `&lt;tag&gt;` to the literal `<tag>`). */
  private[graft] val htmlFixtureSql: String =
    """concat(
      |  '<html><head><title>Doc ', CAST(doc_id AS STRING), '</title>',
      |  '<style>p { margin: 0; }</style>',
      |  '<script>var s = "<p>hidden</p>"; if (1 < 2 && 2 > 1) { }</script>',
      |  '</head><body><h1>Doc ', CAST(doc_id AS STRING), '</h1><p>', text, '</p>',
      |  CASE WHEN doc_id % 3 = 0
      |       THEN '<p>A &amp;amp; B &lt;tag&gt; &quot;q&#39;s&quot;</p>'
      |       ELSE '' END,
      |  '</body></html>')""".stripMargin

  /** Per-rater accuracies (permille) for q309's synthetic annotators —
    * shared verbatim with the oracle's CASE literal. */
  private[graft] val DsRaterAccPermille: Seq[Long] = Seq(950L, 900L, 800L, 700L, 550L)

  /** The `CASE rater WHEN r THEN acc …` fragment — identical text in the
    * Spark plan and the DuckDB oracle. */
  private def dsAccCaseSql: String =
    DsRaterAccPermille.zipWithIndex
      .map { case (a, r) => s"WHEN $r THEN $a" }
      .mkString("CASE rater ", " ", " END")

  /** q309's synthetic annotation table: 5 raters per order; rater r reports
    * the true status iff draw1 < acc_r, else one of the two wrong labels
    * picked by draw2 — every draw on the portable family. */
  private def dsVotes(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey").cast("long").as("item"),
        col("o_orderstatus").as("truth"))
      .withColumn("rater", explode(expr("sequence(0, 4)")))
      .withColumn("__d1", pmod(graft.ext.PortableHash.hash60(
        concat(lit("ds:v:"), col("rater").cast("string"), lit(":"),
          col("item").cast("string"))), lit(1000L)))
      .withColumn("__d2", pmod(graft.ext.PortableHash.hash60(
        concat(lit("ds:w:"), col("rater").cast("string"), lit(":"),
          col("item").cast("string"))), lit(2L)))
      .withColumn("label",
        when(col("__d1") < expr(dsAccCaseSql), col("truth"))
          .otherwise(expr("filter(array('F', 'O', 'P'), x -> x != truth)[CAST(__d2 AS INT)]")))
      .select(col("item"), col("truth"), col("rater"), col("label"))

  /** Benford first-digit expectations `round(10⁶·log10(1+1/d))` — ONE Scala
    * constant shared by q320's plan (CASE literal) and its oracle (VALUES). */
  private[graft] val BenfordMicros: Seq[(Int, Long)] =
    (1 to 9).map(d => (d, math.round(1e6 * math.log10(1.0 + 1.0 / d))))

  /** `CASE digit WHEN d THEN micros …` — identical text in both engines. */
  private def benfordCaseSql: String =
    BenfordMicros.map { case (d, m) => s"WHEN $d THEN ${m}L" }
      .mkString("CASE digit ", " ", " ELSE 0L END")

  /** q310's field priors: (field, m_permille) — P(agree | true match). Shared
    * verbatim with the oracle's weight CTEs. */
  private[graft] val FsFields: Seq[(String, Long)] =
    Seq(("nation", 900L), ("seg", 950L), ("bal2", 800L))

  /** q310's record sides: clean customers vs a portable-hash-perturbed copy
    * (+100000 ids; nation bumped at 10%, segment wrecked at 5%, balance-cents
    * digits zeroed at 20%) — planted ground truth for the separation bands. */
  private def fsRecordSides(cust: DataFrame): (DataFrame, DataFrame) = {
    def draw(tag: String) = pmod(graft.ext.PortableHash.hash60(
      concat(lit(tag), col("c_custkey").cast("string"))), lit(1000L))
    val left = cust.select(col("c_custkey").cast("long").as("id"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("seg"),
      expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) % 100").as("bal2"))
    val right = cust.select((col("c_custkey").cast("long") + 100000L).as("id"),
      when(draw("fs:n:") < 100, pmod(col("c_nationkey").cast("long") + 1L, lit(25L)))
        .otherwise(col("c_nationkey").cast("long")).as("nation"),
      when(draw("fs:s:") < 50, lit("OTHER")).otherwise(col("c_mktsegment")).as("seg"),
      when(draw("fs:p:") < 200, lit(0L))
        .otherwise(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) % 100")).as("bal2"))
    (left, right)
  }

  /** Public category order for q240's randomized response — shared verbatim
    * with its oracle's list literal so the uniform-pick indexing agrees. */
  private val RRCategories = Seq("click", "error", "purchase", "signup", "view")

  /** PMI in integer micros — ONE arithmetic string shared verbatim between
    * the q305 plan and its oracle, so the double path
    * `(c_xy·1e0·n_docs)/(df1·df2)` runs the identical IEEE op order on both
    * engines before the micro-round. */
  private[graft] val PmiMicrosExpr: String =
    "CAST(ROUND(1e6 * ln((c_xy * 1e0 * n_docs) / (df1 * df2))) AS BIGINT)"

  /** `round(1000·0.9^age)` for ages 0–29 — computed ONCE here and shared
    * verbatim with the q205 oracle's VALUES table, so the irrational decay
    * series is a fixed integer contract between engines. */
  private[graft] val DecayPermille: Seq[(Int, Long)] =
    (0 until 30).map(a => (a, math.round(1000.0 * math.pow(0.9, a))))

  // ---------------------------------------------------------------------------
  // Oracle-SQL builders for the portable-hash pipelines. The SQL is *generated*
  // from the same Scala constants the Spark plans use (affine coefficients,
  // hyperplane literals), so the two engines can never drift apart.
  // ---------------------------------------------------------------------------

  /** 60-bit md5 hash in DuckDB — the mirror of [[graft.ext.PortableHash.hash60]]. */
  private def h60Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** q308's oracle: the MMR greedy unrolled k steps in SQL — candidate pool
    * and pairwise sims exactly as the Spark side builds them (micros cosine),
    * then per step a correlated MAX over sims to the running selection.
    * Generated from the same (poolSize, k, λ) the query passes. */
  private def mmrOracleSql(poolSize: Int, k: Int, lamPermille: Long): String = {
    val steps = (2 to k).map { i =>
      s"""p$i AS (
         |  SELECT c.vec_id, c.rel,
         |         (SELECT MAX(s.s) FROM sym s
         |          WHERE s.ia = c.vec_id
         |            AND s.ib IN (SELECT vec_id FROM sel${i - 1})) AS ms
         |  FROM cand c
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})),
         |pick$i AS (
         |  SELECT $i AS step, vec_id, rel,
         |         ($lamPermille * rel - ${1000 - lamPermille} * ms) // 1000 AS mmr
         |  FROM p$i ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id,
       |         CAST(ROUND(1e6 * list_cosine_similarity(
       |                CAST(e.embedding AS DOUBLE[]), q.qv)) AS BIGINT) AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT $poolSize),
       |pairs AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |         CAST(ROUND(1e6 * list_cosine_similarity(
       |                CAST(ea.embedding AS DOUBLE[]),
       |                CAST(eb.embedding AS DOUBLE[]))) AS BIGINT) AS s
       |  FROM cand a JOIN cand b ON a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |sym AS (SELECT ia, ib, s FROM pairs
       |        UNION ALL SELECT ib AS ia, ia AS ib, s FROM pairs),
       |sel1 AS (
       |  SELECT 1 AS step, vec_id, rel, rel AS mmr FROM cand
       |  ORDER BY rel DESC, vec_id LIMIT 1),
       |$steps
       |SELECT step, vec_id, rel AS rel_micros, mmr AS mmr_micros
       |FROM sel$k ORDER BY step""".stripMargin
  }

  /** q310's oracle: perturbed copy, data-estimated u, micros log weights,
    * blocked scoring and truth bands — generated from [[FsFields]] so the
    * m-priors cannot drift from the Spark side. */
  private def fsOracleSql: String = {
    val srcExpr = Map(
      "nation" -> "CAST(c_nationkey AS BIGINT)",
      "seg" -> "c_mktsegment",
      "bal2" -> "CAST(ROUND(c_acctbal * 100) AS BIGINT) % 100")
    val weightCtes = FsFields.map { case (f, m) =>
      s"""u_$f AS (
         |  SELECT GREATEST(LEAST(SUM(c * c) * 1000 // (SUM(c) * SUM(c)), 999), 1) AS u
         |  FROM (SELECT COUNT(*) AS c FROM l GROUP BY $f) x_$f),
         |w_$f AS (
         |  SELECT CAST(ROUND(1e6 * ln(($m * 1e0) / u)) AS BIGINT) AS wa,
         |         CAST(ROUND(1e6 * ln(((1000 - $m) * 1e0) / (1000 - u))) AS BIGINT) AS wd
         |  FROM u_$f)""".stripMargin
    }.mkString(",\n")
    // IS NOT DISTINCT FROM mirrors fsScores' null-safe <=> field agreement
    // (NULL vs NULL earns w_agree on BOTH sides); plain `=` would drop NULL
    // comparisons to w_disagree and silently diverge on nullable fields.
    val scoreExpr = FsFields.map { case (f, _) =>
      s"CASE WHEN l.$f IS NOT DISTINCT FROM r.$f THEN w_$f.wa ELSE w_$f.wd END"
    }.mkString("(", "\n              + ", ")")
    val weightFrom = FsFields.map { case (f, _) => s"w_$f" }.mkString(", ")
    s"""WITH l AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS id,
       |         ${srcExpr("nation")} AS nation, ${srcExpr("seg")} AS seg,
       |         ${srcExpr("bal2")} AS bal2
       |  FROM customer),
       |r AS (
       |  SELECT CAST(c_custkey AS BIGINT) + 100000 AS id,
       |         CASE WHEN ${h60Sql("'fs:n:' || c_custkey")} % 1000 < 100
       |              THEN (${srcExpr("nation")} + 1) % 25
       |              ELSE ${srcExpr("nation")} END AS nation,
       |         CASE WHEN ${h60Sql("'fs:s:' || c_custkey")} % 1000 < 50
       |              THEN 'OTHER' ELSE ${srcExpr("seg")} END AS seg,
       |         CASE WHEN ${h60Sql("'fs:p:' || c_custkey")} % 1000 < 200
       |              THEN 0 ELSE ${srcExpr("bal2")} END AS bal2
       |  FROM customer),
       |$weightCtes,
       |p AS (
       |  SELECT l.id AS lid, r.id AS rid,
       |         $scoreExpr AS score
       |  FROM l JOIN r ON l.seg = r.seg AND l.nation // 5 = r.nation // 5,
       |       $weightFrom)
       |SELECT score // 1000000 AS band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(CASE WHEN rid - lid = 100000 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_true
       |FROM p GROUP BY band""".stripMargin
  }

  /** DuckDB replay of [[graft.ext.Sharding.hrwShard]]'s per-shard hash list:
    * `[h60('hrw:key:0'), …, h60('hrw:key:n−1')]`. The consumer takes
    * `list_indexof(l, list_max(l)) − 1` — first occurrence = SMALLEST shard
    * id, matching the Spark side's (h, −s) struct-max tie-break. */
  private def hrwListSql(keyExpr: String, n: Int): String =
    (0 until n).map(i => h60Sql(s"'hrw:' || $keyExpr || ':$i'"))
      .mkString("[", ",\n          ", "]")

  /** DuckDB replay of [[graft.ext.Similarity.lshBucket]]: the same literal
    * hyperplanes, sign bits packed MSB-first (plane p carries weight
    * 2^(bits−1−p), matching the fold's `acc·2 + bit`). */
  private def lshBucketSql(vExpr: String, bits: Int, dim: Int = 64,
                           salt: Long = 0L): String =
    graft.ext.Similarity.hyperplanes(bits, dim, salt).zipWithIndex.map {
      case (plane, p) =>
        val lits = plane.mkString("[", ", ", "]")
        s"CASE WHEN list_dot_product($vExpr, $lits) >= 0 " +
          s"THEN ${1L << (bits - 1 - p)} ELSE 0 END"
    }.mkString("(", "\n         + ", ")")

  /** q18's oracle: the medallion spine replayed END TO END in DuckDB — the
    * portable-hash generator batches (same seeds/sites/arithmetic as
    * [[graft.engine.Generators.salesBatch]]), silver's required-null check
    * and total auto-fix ([[graft.engine.Silver.cleanSales]]), and the gold
    * daily aggregate ([[graft.engine.Gold.dailySalesSummary]]). The streaming
    * drain + file ledger are value-invisible (they decide WHEN rows move, not
    * WHAT they are), and the injected duplicate is removed by silver's
    * id-dedup, so the replay needs neither. All money is integer cents
    * (`k/100.0` doubles are bit-identical across engines; the generator's
    * clean total provably equals silver's `round(q·p, 2)` — see Generators
    * scaladoc), so the compare is exact-hash, not tolerance-based. */
  private def medallionDraw(site: String): String =
    h60Sql(s"seed || ':$site:' || id")

  /** Shared WITH-body for the sales-medallion replays (q18 batch gold, q214
    * incremental gold): the two portable generator batches → silver valid
    * rows with the auto-fixed total in integer cents. */
  private def salesMedallionCtes: String = {
    def draw = medallionDraw _
    val products = Generators.Categories.flatMap(_._2)
    val productList = products.map(p => s"'$p'").mkString("[", ", ", "]")
    val categoryList = Generators.Categories.map(c => s"'${c._1}'").mkString("[", ", ", "]")
    s"""g AS (
       |  SELECT 43 AS seed, TIMESTAMP '2026-01-01 00:00:00' AS base, id
       |  FROM range(150) t(id)
       |  UNION ALL
       |  SELECT 44, TIMESTAMP '2026-01-02 00:00:00', id FROM range(150) t(id)),
       |raw AS (
       |  SELECT
       |    'SALE-' || md5(seed || ':' || id) AS sale_id,
       |    'CUST-' || CAST(1000 + ${draw("cust")} % 9000 AS INT) AS customer_id,
       |    base - to_seconds(${draw("ts")} % 86400) AS ts,
       |    CAST(1 + ${draw("prod")} % ${products.size} AS INT) AS prod_idx,
       |    1 + ${draw("qty")} % 10 AS qty_int,
       |    500 + ${draw("price")} % 49500 AS price_cents,
       |    ${draw("qnull")} % 100 < 3 AS q_is_null,
       |    ${draw("corrupt")} % 100 < 5 AS corrupted,
       |    7000 + ${draw("factor")} % 6000 AS f4
       |  FROM g),
       |priced AS (
       |  SELECT *, qty_int * price_cents AS clean_cents,
       |    CASE WHEN corrupted THEN (qty_int * price_cents * f4) // 10000
       |         ELSE qty_int * price_cents END AS total_cents
       |  FROM raw),
       |silver AS (
       |  SELECT ts::DATE AS date, sale_id, customer_id, price_cents,
       |    $productList[prod_idx] AS product_name,
       |    $categoryList[1 + (prod_idx - 1) // 5] AS category,
       |    CASE WHEN abs(total_cents / 100.0 - clean_cents / 100.0) > 0.01
       |         THEN clean_cents ELSE total_cents END AS cents
       |  FROM priced WHERE NOT q_is_null)""".stripMargin
  }

  /** q18's oracle (and q214's — the incremental-gold drain must land on the
    * same values): the medallion spine replayed END TO END in DuckDB — the
    * portable-hash generator batches (same seeds/sites/arithmetic as
    * [[graft.engine.Generators.salesBatch]]), silver's required-null check
    * and total auto-fix ([[graft.engine.Silver.cleanSales]]), and the gold
    * daily aggregate ([[graft.engine.Gold.dailySalesSummary]]). The streaming
    * drain + file ledger are value-invisible (they decide WHEN rows move, not
    * WHAT they are), and the injected duplicate is removed by silver's
    * id-dedup, so the replay needs neither. All money is integer cents
    * (`k/100.0` doubles are bit-identical across engines; the generator's
    * clean total provably equals silver's `round(q·p, 2)` — see Generators
    * scaladoc), so the compare is exact-hash, not tolerance-based. */
  private def medallionOracleSql: String =
    s"""WITH $salesMedallionCtes
       |SELECT date,
       |  CAST(SUM(cents) AS BIGINT) / 100.0 AS total_revenue,
       |  COUNT(DISTINCT sale_id) AS order_count,
       |  (CAST(SUM(cents) AS BIGINT) / 100.0) / COUNT(*) AS avg_order_value,
       |  COUNT(DISTINCT customer_id) AS unique_customers
       |FROM silver GROUP BY 1""".stripMargin

  /** q211's oracle: same sales-medallion replay, category gold table —
    * exercises the broadcast product-dimension join's replay (pick index →
    * literal product/category lists, the same constants
    * [[graft.engine.Generators.productDim]] builds from). */
  private def medallionCategoryOracleSql: String =
    s"""WITH $salesMedallionCtes
       |SELECT date, category,
       |  CAST(SUM(cents) AS BIGINT) / 100.0 AS category_revenue,
       |  COUNT(DISTINCT sale_id) AS category_orders,
       |  (CAST(SUM(price_cents) AS BIGINT) / 100.0) / COUNT(*) AS avg_unit_price
       |FROM silver GROUP BY 1, 2""".stripMargin

  /** q212's oracle: the customer-events medallion replayed — generator
    * (UNKNOWN enum + null-customer defects, 3 reused session ids per batch),
    * silver enum/required validation ([[graft.engine.Silver.cleanEvents]]),
    * gold activity rollup ([[graft.engine.Gold.customerActivitySummary]]). */
  private def medallionEventsOracleSql: String = {
    def draw = medallionDraw _
    val etypes = graft.engine.Silver.ValidEventTypes.map(e => s"'$e'").mkString("[", ", ", "]")
    s"""WITH g AS (
       |  SELECT 61 AS seed, TIMESTAMP '2026-01-01 00:00:00' AS base, id
       |  FROM range(150) t(id)
       |  UNION ALL
       |  SELECT 62, TIMESTAMP '2026-01-02 00:00:00', id FROM range(150) t(id)),
       |raw AS (
       |  SELECT
       |    'EVT-' || md5(seed || ':' || id) AS event_id,
       |    base - to_seconds(${draw("ts")} % 86400) AS ts,
       |    ${draw("cnull")} % 100 < 3 AS c_is_null,
       |    'CUST-' || CAST(1000 + ${draw("cust")} % 9000 AS INT) AS customer_id,
       |    'SESS-' || md5(seed || ':' || (${draw("sess")} % 3)) AS session_id,
       |    CASE WHEN ${draw("etbad")} % 100 < 4 THEN 'UNKNOWN'
       |         ELSE $etypes[CAST(1 + ${draw("etype")} % 5 AS INT)] END AS event_type
       |  FROM g),
       |silver AS (
       |  SELECT ts::DATE AS date, event_id, customer_id, session_id, event_type
       |  FROM raw WHERE NOT c_is_null AND event_type <> 'UNKNOWN')
       |SELECT date, event_type,
       |  CAST(COUNT(event_id) AS BIGINT) AS event_count,
       |  COUNT(DISTINCT customer_id) AS unique_customers,
       |  COUNT(DISTINCT session_id) AS unique_sessions
       |FROM silver GROUP BY 1, 2""".stripMargin
  }

  /** q213's oracle: the inventory medallion replayed — generator (TRANSFER
    * enum + null/zero-quantity defects), silver range/enum validation
    * ([[graft.engine.Silver.cleanInventory]]), and the PIVOT gold table with
    * explicit-value backfill ([[graft.engine.Gold.inventoryNetPosition]]) as
    * conditional sums. Quantities are integers, so the pivoted double sums
    * are exact on both engines. */
  private def medallionInventoryOracleSql: String = {
    def draw = medallionDraw _
    val ids = Generators.InventoryCatalogue.map(c => s"'${c._1}'").mkString("[", ", ", "]")
    val names = Generators.InventoryCatalogue.map(c => s"'${c._2}'").mkString("[", ", ", "]")
    val whs = Generators.Warehouses.map(w => s"'$w'").mkString("[", ", ", "]")
    val mts = graft.engine.Silver.ValidMovementTypes.map(m => s"'$m'").mkString("[", ", ", "]")
    s"""WITH g AS (
       |  SELECT 71 AS seed, TIMESTAMP '2026-01-01 00:00:00' AS base, id
       |  FROM range(150) t(id)
       |  UNION ALL
       |  SELECT 72, TIMESTAMP '2026-01-02 00:00:00', id FROM range(150) t(id)),
       |raw AS (
       |  SELECT
       |    base - to_seconds(${draw("ts")} % 86400) AS ts,
       |    CAST(1 + ${draw("item")} % 10 AS INT) AS item_idx,
       |    $whs[CAST(1 + ${draw("wh")} % 4 AS INT)] AS warehouse_id,
       |    CASE WHEN ${draw("mtbad")} % 100 < 4 THEN 'TRANSFER'
       |         ELSE $mts[CAST(1 + ${draw("mtype")} % 3 AS INT)] END AS movement_type,
       |    ${draw("qbad")} % 100 < 3 AS q_bad,
       |    ${draw("qnullzero")} % 100 < 50 AS q_null_not_zero,
       |    1 + ${draw("qn")} % 200 AS qty_int
       |  FROM g),
       |silver AS (
       |  SELECT ts::DATE AS date, $ids[item_idx] AS product_id,
       |    $names[item_idx] AS product_name, warehouse_id, movement_type,
       |    CAST(qty_int AS DOUBLE) AS quantity
       |  FROM raw
       |  WHERE NOT q_bad AND movement_type <> 'TRANSFER')
       |SELECT date, product_id, product_name, warehouse_id,
       |  CAST(SUM(CASE WHEN movement_type = 'inbound' THEN quantity ELSE 0 END) AS DOUBLE) AS inbound,
       |  CAST(SUM(CASE WHEN movement_type = 'outbound' THEN quantity ELSE 0 END) AS DOUBLE) AS outbound,
       |  CAST(SUM(CASE WHEN movement_type = 'adjustment' THEN quantity ELSE 0 END) AS DOUBLE) AS adjustment,
       |  CAST(SUM(CASE WHEN movement_type = 'inbound' THEN quantity ELSE 0 END)
       |    - SUM(CASE WHEN movement_type = 'outbound' THEN quantity ELSE 0 END) AS DOUBLE) AS net_position
       |FROM silver GROUP BY 1, 2, 3, 4""".stripMargin
  }

  /** q149's oracle, generated for `rounds` rounds: the same BPE trainer loop
    * as [[graft.ext.TextAnalysis.bpeMerges]] replayed as chained DuckDB CTEs
    * — pair counts from the unique-word table (list-comprehension adjacency),
    * top-1 by (cnt DESC, l, r), literal boundary-delimited merge replace. */
  /** DuckDB `replace` applying merge-table `m`'s pair inside `s`'s `seq`. */
  private def bpeApplySql(s: String, m: String): String =
    s"""  SELECT * REPLACE (replace(seq,
       |    '·' || (SELECT l FROM $m) || '·' || (SELECT r FROM $m) || '·',
       |    '·' || (SELECT l FROM $m) || (SELECT r FROM $m) || '·') AS seq) FROM $s""".stripMargin

  /** The BPE TRAINING chain as a WITH-body: defines `w`, `s0..s_{rounds-1}`,
    * `p_i`, and the winning merges `m1..m_rounds` — shared by the q149
    * (learn) and q179 (encode) oracles so both replay the same trainer. */
  private def bpeTrainCtes(rounds: Int): String = {
    def pairs(s: String) =
      s"""  SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest([struct_pack(l := syms[i], r := syms[i+1])
         |                         for i in range(1, len(syms))]) AS p
         |    FROM (SELECT freq, list_filter(string_split(seq, '·'), x -> x <> '') AS syms
         |          FROM $s) t) u
         |  GROUP BY 1, 2""".stripMargin
    val head =
      """w AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |    FROM documents) t
        |  WHERE regexp_matches(word, '^[a-z0-9]+$') GROUP BY 1),
        |s0 AS (SELECT freq, regexp_replace(word, '(.)', '·\1', 'g') || '·' AS seq FROM w)""".stripMargin
    val body = (1 to rounds).map { i =>
      val step = s",\np$i AS (\n${pairs(s"s${i - 1}")}),\n" +
        s"m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"
      if (i < rounds) step + s",\ns$i AS (\n${bpeApplySql(s"s${i - 1}", s"m$i")})"
      else step
    }.mkString
    head + body
  }

  private def bpeOracleSql(rounds: Int): String = {
    val sel = (1 to rounds).map { i =>
      if (i == 1)
        s"SELECT CAST(1 AS INTEGER) AS round, l AS left_sym, r AS right_sym, cnt AS pair_cnt FROM m1"
      else s"SELECT $i, l, r, cnt FROM m$i"
    }.mkString("\nUNION ALL ")
    s"WITH ${bpeTrainCtes(rounds)}\n$sel"
  }

  /** q179's oracle: learn `rounds` merges (shared chain), then ENCODE every
    * document's ascii words with them and count the resulting symbols. */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val enc0 =
      """enc0 AS (
        |  SELECT doc_id, word, regexp_replace(word, '(.)', '·\1', 'g') || '·' AS seq
        |  FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |    FROM documents) t
        |  WHERE regexp_matches(word, '^[a-z0-9]+$'))""".stripMargin
    val chain = (1 to rounds).map { i =>
      s",\nenc$i AS (\n${bpeApplySql(s"enc${i - 1}", s"m$i")})"
    }.mkString
    s"""WITH ${bpeTrainCtes(rounds)},
       |$enc0$chain
       |SELECT doc_id,
       |       CAST(SUM(len(list_filter(string_split(seq, '·'), x -> x <> ''))) AS BIGINT) AS n_tokens,
       |       CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(length(word)) AS BIGINT) AS n_chars
       |FROM enc$rounds GROUP BY 1""".stripMargin
  }

  /** q334's oracle: the shared trainer + encode chain, then the round-trip
    * certificate recomputed in DuckDB — decode = join of the token list —
    * aggregated per language with the fertility ratio. */
  private def bpeRoundTripOracleSql(rounds: Int): String = {
    val enc0 =
      """enc0 AS (
        |  SELECT doc_id, word, regexp_replace(word, '(.)', '·\1', 'g') || '·' AS seq
        |  FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |    FROM documents) t
        |  WHERE regexp_matches(word, '^[a-z0-9]+$'))""".stripMargin
    val chain = (1 to rounds).map { i =>
      s",\nenc$i AS (\n${bpeApplySql(s"enc${i - 1}", s"m$i")})"
    }.mkString
    s"""WITH ${bpeTrainCtes(rounds)},
       |$enc0$chain,
       |agg AS (
       |  SELECT d.lang,
       |         CAST(COUNT(*) AS BIGINT) AS n_words,
       |         CAST(SUM(len(list_filter(string_split(seq, '·'), x -> x <> ''))) AS BIGINT) AS n_tokens,
       |         CAST(SUM(CASE WHEN array_to_string(
       |                list_filter(string_split(seq, '·'), x -> x <> ''), '') <> word
       |              THEN 1 ELSE 0 END) AS BIGINT) AS roundtrip_violations
       |  FROM enc$rounds e JOIN documents d USING (doc_id)
       |  GROUP BY 1)
       |SELECT lang, n_words, n_tokens, roundtrip_violations,
       |       CAST(n_tokens * 1000 // n_words AS BIGINT) AS fertility_permille
       |FROM agg""".stripMargin
  }

  /** Distinct word-3-shingles of `textExpr` (mirror of Shingles.wordShingles, k=3). */
  private def gramsSql(textExpr: String): String =
    s"""CASE WHEN len(regexp_split_to_array(trim($textExpr), '\\s+')) >= 3
       |     THEN list_distinct([array_to_string(regexp_split_to_array(trim($textExpr), '\\s+')[i:i+2], ' ')
       |                         for i in range(1, len(regexp_split_to_array(trim($textExpr), '\\s+')) - 1)])
       |     ELSE [trim($textExpr)] END""".stripMargin

  /** documents ∪ planted perturbed copies (mirror of [[docsWithPlantedNearDups]]). */
  private val docsCorpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\S+\s*', '') AS text FROM documents
      |)""".stripMargin

  /** [[docsCorpusSql]] restricted to the deterministic 400‰ audit slice —
    * the SQL mirror of `Dedup.sampleSlice(_, "doc_id", 400, "recall-slice")`
    * (q280): same planted corpus, kept iff the portable hash of
    * `recall-slice:<doc_id>` lands under 400 of 1000. */
  private val docsSlicedCorpusSql: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text FROM documents
       |    UNION ALL
       |    SELECT doc_id + 100000 AS doc_id,
       |           regexp_replace(text, '^\\S+\\s*', '') AS text FROM documents)
       |  WHERE ${h60Sql("concat_ws(':', 'recall-slice', CAST(doc_id AS VARCHAR))")} % 1000 < 400
       |)""".stripMargin

  /** Band-key polynomial fold `k ← (k·A + sig[slot]) mod P` unrolled over the
    * band's `rows` slots — the exact SQL mirror of [[graft.ext.Dedup.bandKeys]],
    * generated from the same `BandFoldA`/`P` constants. */
  private def bandFoldSql(rows: Int): String = {
    val p = graft.ext.PortableHash.P
    val a = Dedup.BandFoldA
    (0 until rows).foldLeft("0") { (k, j) =>
      s"(($k * $a + sig[t.band_idx * $rows + ${j + 1}]) % $p)"
    }
  }

  /** Shared CTE chain for the portable MinHash pipeline: corpus → shingles →
    * signatures → band buckets → verified pairs (exact Jaccard, 6-dp rounded).
    * `corpusCte` must define `corpus` with at least (doc_id, text) — q24/q39
    * use the planted corpus, q51 its quality-filtered/deduped chain. */
  private def minhashPairsCtes: String = minhashPairsCtesOver(docsCorpusSql)

  private def minhashPairsCtesOver(corpusCte: String): String = {
    val p = graft.ext.PortableHash.P
    val cs = graft.ext.PortableHash.coeffs(Dedup.PortableNumHashes, Dedup.PortableSeed)
    val rows = Dedup.PortableNumHashes / Dedup.PortableBands
    val sigTerms = cs.map { case (a, b) =>
      s"list_min([($a * h + $b) % $p for h in hp])"
    }.mkString("[\n         ", ",\n         ", "]")
    s"""$corpusCte,
       |sh AS (
       |  SELECT doc_id, ${gramsSql("text")} AS grams FROM corpus
       |), hs AS (
       |  SELECT doc_id, grams, [${h60Sql("g")} % $p for g in grams] AS hp FROM sh
       |), sig AS (
       |  SELECT doc_id, $sigTerms AS sig
       |  FROM hs
       |), bands AS (
       |  SELECT doc_id, t.band_idx,
       |         ${bandFoldSql(rows)} AS band_key
       |  FROM sig, (SELECT unnest(range(0, ${Dedup.PortableBands})) AS band_idx) t
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT id_a, id_b,
       |         ROUND(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
       |               / len(list_distinct(list_concat(sa.grams, sb.grams))), 6) AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a JOIN sh sb ON sb.doc_id = cand.id_b
       |)""".stripMargin
  }

  /** Cross-corpus mirror of [[graft.ext.Dedup.crossCorpusNearDuplicatesPortable]]:
    * callers supply CTEs defining `corpusc` and `batchc` (doc_id, text); the
    * builder adds per-side shingles → signatures → band keys, the CROSS-SET
    * candidate join, and `cpairs` (corpus_id, batch_id, jaccard) — all from the
    * same Scala constants the Spark plan uses. */
  private def minhashCrossCtes(corpusCte: String, batchCte: String): String = {
    val p = graft.ext.PortableHash.P
    val cs = graft.ext.PortableHash.coeffs(Dedup.PortableNumHashes, Dedup.PortableSeed)
    val rows = Dedup.PortableNumHashes / Dedup.PortableBands
    val sigTerms = cs.map { case (a, b) =>
      s"list_min([($a * h + $b) % $p for h in hp])"
    }.mkString("[\n         ", ",\n         ", "]")
    def side(name: String, src: String) =
      s"""sh_$name AS (
         |  SELECT doc_id, ${gramsSql("text")} AS grams FROM $src
         |), hs_$name AS (
         |  SELECT doc_id, grams, [${h60Sql("g")} % $p for g in grams] AS hp FROM sh_$name
         |), sig_$name AS (
         |  SELECT doc_id, $sigTerms AS sig FROM hs_$name
         |), bands_$name AS (
         |  SELECT doc_id, t.band_idx, ${bandFoldSql(rows)} AS band_key
         |  FROM sig_$name, (SELECT unnest(range(0, ${Dedup.PortableBands})) AS band_idx) t
         |)""".stripMargin
    s"""$corpusCte,
       |$batchCte,
       |${side("c", "corpusc")},
       |${side("b", "batchc")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS batch_id
       |  FROM bands_c a JOIN bands_b b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |), cpairs AS (
       |  SELECT corpus_id, batch_id,
       |         ROUND(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
       |               / len(list_distinct(list_concat(sa.grams, sb.grams))), 6) AS jaccard
       |  FROM cand JOIN sh_c sa ON sa.doc_id = cand.corpus_id
       |            JOIN sh_b sb ON sb.doc_id = cand.batch_id
       |)""".stripMargin
  }

  /** Portable SimHash pipeline mirror: 60-bit signatures from token hashes,
    * 4×15-bit block candidates, Hamming verify. */
  private def simhashPairsSql: String = {
    s"""WITH $docsCorpusSql,
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM corpus
       |), hs AS (
       |  SELECT doc_id, [${h60Sql("t")} for t in tk] AS hl FROM toks
       |), sig AS (
       |  SELECT doc_id,
       |         CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1) * 2 - 1 for h in hl]) > 0
       |                             THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
       |                        for j in range(0, 60)]) AS BIGINT) AS sig
       |  FROM hs
       |), blocks AS (
       |  SELECT doc_id, sig, t.bi, (sig >> (t.bi * 15)) & 32767 AS bv
       |  FROM sig, (SELECT unnest(range(0, 4)) AS bi) t
       |)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |  FROM blocks a JOIN blocks b
       |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |WHERE hamming <= 3""".stripMargin
  }

  /** Hyperplane-LSH mirror for q29: the identical seeded plane literals, bucket
    * = packed sign bits (plane 0 is the MSB, matching the Spark fold), exact
    * cosine re-score at 6 dp. */
  private def lshPairsSql: String = {
    val planes = graft.ext.Similarity.hyperplanes(bits = 12, dim = 64)
    val bucketTerms = planes.zipWithIndex.map { case (plane, pIdx) =>
      val lits = plane.mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product(v, $lits) >= 0 THEN ${1L << (11 - pIdx)} ELSE 0 END"
    }.mkString("(\n           ", "\n         + ", ")")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01) FROM embeddings
       |), bk AS (
       |  SELECT vec_id, v,
       |         $bucketTerms AS bucket
       |  FROM base
       |)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
       |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.9""".stripMargin
  }

  /** Semantic-dedup mirror for q83: the q29 plane literals and planted corpus
    * with `label` carried, losers = higher id of any within-bucket pair at
    * cosine ≥ 0.9, survivors aggregated per label. */
  private def semanticDedupSql: String = {
    val planes = graft.ext.Similarity.hyperplanes(bits = 12, dim = 64)
    val bucketTerms = planes.zipWithIndex.map { case (plane, pIdx) =>
      val lits = plane.mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product(v, $lits) >= 0 THEN ${1L << (11 - pIdx)} ELSE 0 END"
    }.mkString("(\n           ", "\n         + ", ")")
    s"""WITH base AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, label,
       |         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
       |  FROM embeddings
       |), bk AS (
       |  SELECT vec_id, label, v,
       |         $bucketTerms AS bucket
       |  FROM base
       |), losers AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.9
       |)
       |SELECT label, COUNT(*) AS n_kept, CAST(SUM(vec_id) AS BIGINT) AS id_checksum
       |FROM bk WHERE vec_id NOT IN (SELECT vec_id FROM losers)
       |GROUP BY 1""".stripMargin
  }

  /** DuckDB oracle SQL, one per SQL-expressible query; column aliases match the
    * Spark results exactly (driver hashes after sorting columns by name). */
  def oracleSql: Map[String, String] = Map(

    "q69_sequence_packing" ->
      s"""WITH d AS (
         |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS tokens,
         |         ${h60Sql(s"'${graft.ext.Packing.PackSalt}' || ':' || CAST(doc_id AS VARCHAR)")} % 8 AS bucket
         |  FROM documents),
         |r AS (
         |  SELECT bucket, tokens,
         |         SUM(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
         |  FROM d),
         |f AS (
         |  SELECT bucket, (running - tokens) // 256 AS bin,
         |         COUNT(*) AS n_docs, SUM(tokens) AS bin_tokens
         |  FROM r GROUP BY 1, 2)
         |SELECT bucket, COUNT(*) AS n_bins, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |       CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
         |       CAST(MAX(bin_tokens) AS BIGINT) AS max_bin_tokens
         |FROM f GROUP BY 1""".stripMargin,

    "q70_cross_corpus_dedup" ->
      s"""WITH ${minhashCrossCtes(
             "corpusc AS (SELECT doc_id, text FROM documents)",
             """batchc AS (
               |  SELECT doc_id + 200000 AS doc_id, regexp_replace(text, '^\S+\s*', '') AS text
               |  FROM documents WHERE doc_id % 10 = 0
               |  UNION ALL
               |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 7 = 3)""".stripMargin)}
         |SELECT batch_id, COUNT(*) AS n_matches, MAX(jaccard) AS best_jaccard
         |FROM cpairs WHERE jaccard >= 0.5 GROUP BY 1""".stripMargin,

    "q71_repetition_quality" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
        |st AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |         COUNT(*) AS n_distinct_words, CAST(MAX(c) AS BIGINT) AS top_word_count
        |  FROM c GROUP BY 1)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN (n_words - n_distinct_words) * 5 > n_words
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
        |       CAST(SUM(CASE WHEN top_word_count * 10 > n_words
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_top_heavy,
        |       CAST(SUM(top_word_count) AS BIGINT) AS top_count_sum
        |FROM st JOIN documents USING (doc_id) GROUP BY 1""".stripMargin,

    "q72_balanced_sample" ->
      s"""SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM (
         |  SELECT lang, doc_id,
         |         ${h60Sql(s"'${graft.ext.Sampling.SampleSalt}' || ':' || CAST(doc_id AS VARCHAR)")} % 1048576 AS h,
         |         COUNT(*) OVER (PARTITION BY lang) AS n
         |  FROM documents)
         |WHERE h * n < 50 * 1048576
         |GROUP BY 1""".stripMargin,

    "q73_profile_table" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |       COUNT(DISTINCT $c) AS n_distinct,
           |       CAST(MIN($c) AS VARCHAR) AS min_val, CAST(MAX($c) AS VARCHAR) AS max_val
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("\nUNION ALL\n")
    },

    "q74_bloom_point_lookup" ->
      """SELECT COUNT(*) AS n_rows,
        |       CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)), 0) AS BIGINT) AS price_cents
        |FROM lineitem WHERE l_orderkey * 10 + l_linenumber = 1001""".stripMargin,

    "q75_snapshot_cdc" ->
      """WITH v_old AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |v_new AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         CAST(ROUND((CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10
        |                          ELSE o_totalprice END) * 100) AS BIGINT) AS price_cents
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |            WHEN n.o_orderkey IS NULL THEN 'delete'
        |            ELSE 'update' END AS change_type,
        |       o.status AS old_status, o.price_cents AS old_price_cents,
        |       n.status AS new_status, n.price_cents AS new_price_cents
        |FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.status <> n.status OR o.price_cents <> n.price_cents""".stripMargin,

    "q76_chunk_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 4 = 0
        |              THEN 'terms of service apply to this page always ' || text
        |              ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM d),
        |c AS (SELECT doc_id,
        |             [struct_pack(pos := i, chunk := array_to_string(toks[(i*8+1):(i*8+8)], ' '))
        |              for i in range(0, (len(toks)-1)//8 + 1)] AS pairs
        |      FROM t),
        |u AS (SELECT doc_id, unnest(pairs) AS p FROM c),
        |ch AS (SELECT doc_id, p.pos AS pos, p.chunk AS chunk FROM u),
        |freq AS (SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
        |SELECT ch.doc_id, COUNT(*) AS n_chunks,
        |       CAST(SUM(CASE WHEN f.df <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       COALESCE(string_agg(CASE WHEN f.df <= 10 THEN ch.chunk END,
        |                           ' ' ORDER BY ch.pos), '') AS clean_text
        |FROM ch JOIN freq f USING (chunk)
        |GROUP BY 1""".stripMargin,

    "q77_bigram_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        |                             THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
        |                             ELSE [] END) AS bg
        |  FROM tk),
        |model AS (
        |  SELECT bg, COUNT(*) AS ref_freq FROM bg WHERE doc_id % 2 = 0 GROUP BY 1)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |       CAST(SUM(CASE WHEN m.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
        |       CAST(SUM(COALESCE(m.ref_freq, 0)) AS BIGINT) AS known_freq_sum
        |FROM bg b LEFT JOIN model m USING (bg)
        |WHERE b.doc_id % 2 = 1
        |GROUP BY 1""".stripMargin,

    // Like q36: PQ hit lists depend on Lloyd centroid floats, so the oracle
    // pins the accuracy CONTRACT (10 results, recall@10 ≥ 0.7 vs brute force).
    "q78_pq_ann" ->
      """SELECT CAST(1 AS BIGINT) AS query_id, CAST(10 AS BIGINT) AS n_results,
        |       TRUE AS recall_ok""".stripMargin,

    "q79_expectations" -> {
      def one(rule: String, failWhen: String) =
        s"""SELECT '$rule' AS rule, COUNT(*) AS rows_checked,
           |       CAST(SUM(CASE WHEN $failWhen THEN 1 ELSE 0 END) AS BIGINT) AS violations
           |FROM events""".stripMargin
      Seq(
        one("value_non_negative", "NOT (value >= 0)"),
        one("value_under_400", "NOT (value <= 400)"),
        one("known_event_type",
          "event_type NOT IN ('click', 'view', 'purchase', 'signup')"),
        one("first_half_of_month", "NOT (ts < TIMESTAMP '2024-01-16 00:00:00')")
      ).mkString("\nUNION ALL\n")
    },

    "q80_shard_export" ->
      s"""WITH h AS (
         |  SELECT ${h60Sql("'shard' || ':' || CAST(doc_id AS VARCHAR)")} AS k
         |  FROM documents)
         |SELECT k % 16 AS shard, COUNT(*) AS n_docs,
         |       bit_xor(k) AS key_checksum,
         |       MIN(k) AS min_key, MAX(k) AS max_key
         |FROM h GROUP BY 1""".stripMargin,

    "q81_time_travel" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 3 = 0 THEN 'SEG_V1' ELSE c_mktsegment END AS c_mktsegment,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer)
        |SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(bal_cents) AS BIGINT) AS bal_sum_cents
        |FROM base GROUP BY 1""".stripMargin,

    "q82_mixture_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CASE source WHEN 'src0' THEN 2500000
         |                     WHEN 'src1' THEN 250000
         |                     WHEN 'src2' THEN 0
         |                     ELSE 750000 END AS w,
         |         ${h60Sql(s"'${graft.ext.Sampling.MixSalt}' || ':' || CAST(doc_id AS VARCHAR)")} % 1000000 AS hm
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |         w // 1000000 + CASE WHEN hm < w % 1000000 THEN 1 ELSE 0 END AS copies
         |  FROM d),
         |e AS (
         |  SELECT doc_id, source, unnest(range(copies)) AS epoch
         |  FROM c WHERE copies > 0)
         |SELECT source, COUNT(*) AS n_rows,
         |       CAST(SUM(epoch) AS BIGINT) AS epoch_sum,
         |       CAST(SUM(doc_id * (epoch + 1)) AS BIGINT) AS id_checksum
         |FROM e GROUP BY 1""".stripMargin,

    "q83_semantic_dedup" -> semanticDedupSql,

    "q84_unpivot" ->
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS status_F,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS status_O,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS status_P
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, 'status_F' AS o_orderstatus, status_F AS price_cents FROM wide
        |UNION ALL
        |SELECT o_orderpriority, 'status_O', status_O FROM wide
        |UNION ALL
        |SELECT o_orderpriority, 'status_P', status_P FROM wide""".stripMargin,

    "q85_top_ngrams" ->
      """WITH w AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents),
        |g AS (
        |  SELECT unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS ngram
        |  FROM w WHERE len(w) >= 3)
        |SELECT ngram, COUNT(*) AS n_occurrences FROM g GROUP BY 1
        |ORDER BY n_occurrences DESC, ngram LIMIT 50""".stripMargin,

    "q86_winsorized_stats" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS g, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |         o_orderkey AS id
        |  FROM orders),
        |r AS (
        |  SELECT g, cents,
        |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY cents, id) AS rn,
        |         COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM v),
        |b AS (
        |  SELECT g,
        |         MIN(CASE WHEN rn = (1 * n + 99) // 100 THEN cents END) AS lo_val,
        |         MIN(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS hi_val
        |  FROM r GROUP BY 1)
        |SELECT g AS o_orderpriority, COUNT(*) AS n_rows,
        |       CAST(MIN(lo_val) AS BIGINT) AS lo_val,
        |       CAST(MAX(hi_val) AS BIGINT) AS hi_val,
        |       CAST(SUM(LEAST(GREATEST(cents, lo_val), hi_val)) AS BIGINT) AS wins_sum
        |FROM r JOIN b USING (g) GROUP BY 1""".stripMargin,

    "q87_cdc_agg_maintenance" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |newt AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 11 = 0 THEN '9-MOVED' ELSE o_orderpriority END AS o_orderpriority,
        |         CASE WHEN o_orderkey % 7 = 0 THEN cents + 555 ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority, cents + 1
        |  FROM base WHERE o_orderkey % 17 = 0)
        |SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM newt GROUP BY 1""".stripMargin,

    "q88_histogram" ->
      """WITH v AS (
        |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |mm AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM v)
        |SELECT ((cents - mn) * 16) // (mx - mn + 1) AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(MIN(cents) AS BIGINT) AS lo, CAST(MAX(cents) AS BIGINT) AS hi
        |FROM v CROSS JOIN mm GROUP BY 1""".stripMargin,

    "q89_event_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s0 AS (
        |  SELECT user_id, MIN(us) AS t FROM ev WHERE event_type = 'click' GROUP BY 1),
        |s1 AS (
        |  SELECT e.user_id, MIN(e.us) AS t
        |  FROM ev e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.us > s0.t GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.us) AS t
        |  FROM ev e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us > s1.t GROUP BY 1)
        |SELECT 0 AS stage_idx, 'click' AS stage, COUNT(*) AS n_users FROM s0
        |UNION ALL
        |SELECT 1, 'view', COUNT(*) FROM s1
        |UNION ALL
        |SELECT 2, 'purchase', COUNT(*) FROM s2""".stripMargin,

    "q90_decile_bins" ->
      """WITH b AS (
        |  SELECT doc_id, lang, n_chars,
        |         NTILE(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
        |  FROM documents)
        |SELECT lang, bin, COUNT(*) AS n_docs,
        |       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM b GROUP BY 1, 2""".stripMargin,

    "q91_int8_quantize" ->
      """WITH v AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |c AS (
        |  SELECT label,
        |         CASE WHEN mx > 0
        |              THEN list_transform(v, x -> CAST(ROUND(x * 127.0 / mx) AS BIGINT))
        |              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
        |  FROM m)
        |SELECT label, COUNT(*) AS n_vecs,
        |       CAST(SUM(list_sum(codes)) AS BIGINT) AS sum_codes,
        |       CAST(MIN(list_min(codes)) AS BIGINT) AS min_code,
        |       CAST(MAX(list_max(codes)) AS BIGINT) AS max_code
        |FROM c GROUP BY 1""".stripMargin,

    "q92_sufficient_stats" ->
      """WITH v AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |         CAST(ROUND(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y,
        |       CAST(SUM(x*x) AS BIGINT) AS sum_xx, CAST(SUM(y*y) AS BIGINT) AS sum_yy,
        |       CAST(SUM(x*y) AS BIGINT) AS sum_xy
        |FROM v GROUP BY 1""".stripMargin,

    "q93_schema_evolution" ->
      """WITH base AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_mktsegment, bal_cents + 1000 AS bal_cents,
        |         c_custkey % 5 AS loyalty_tier
        |  FROM base WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT c_custkey + 9000000, c_mktsegment, bal_cents, c_custkey % 5
        |  FROM base WHERE c_custkey % 9 = 0),
        |m AS (
        |  SELECT COALESCE(u.bal_cents, b.bal_cents) AS bal_cents,
        |         u.loyalty_tier,
        |         CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END AS ins
        |  FROM base b FULL OUTER JOIN upd u ON b.c_custkey = u.c_custkey)
        |SELECT loyalty_tier, COUNT(*) AS n,
        |       CAST(SUM(bal_cents) AS BIGINT) AS bal_sum_cents,
        |       CAST(SUM(ins) AS BIGINT) AS n_inserted
        |FROM m GROUP BY 1""".stripMargin,

    "q24_minhash_neardup" ->
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.4""".stripMargin,

    "q94_triangle_stats" ->
      s"""WITH $minhashPairsCtes,
         |e AS (
         |  SELECT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
         |  FROM pairs WHERE jaccard >= 0.4 AND id_a <> id_b
         |  GROUP BY 1, 2),
         |w AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a),
         |t AS (
         |  SELECT COUNT(*) AS n_triangles
         |  FROM w JOIN e e3 ON w.x = e3.a AND w.z = e3.b)
         |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
         |       (SELECT COUNT(*) FROM w) AS n_wedges,
         |       n_triangles
         |FROM t""".stripMargin,

    "q95_null_aware_anti" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |     (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'))
        |    AS n_not_in,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |     (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END
        |      FROM customer WHERE c_mktsegment = 'MACHINERY'))
        |    AS n_null_poisoned""".stripMargin,

    "q96_ordered_string_agg" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_csv
        |FROM r WHERE rn <= 5 GROUP BY 1""".stripMargin,

    "q97_conversion_lag" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (
        |  SELECT user_id, MIN(us) AS t_from FROM ev WHERE event_type = 'click' GROUP BY 1),
        |lg AS (
        |  SELECT e.user_id, MIN(e.us) - MIN(t_from) AS lag_us
        |  FROM ev e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.us > t1.t_from GROUP BY 1),
        |r AS (
        |  SELECT user_id, lag_us,
        |         ROW_NUMBER() OVER (ORDER BY lag_us, user_id) AS rn,
        |         COUNT(*) OVER () AS cnt
        |  FROM lg)
        |SELECT COUNT(*) AS n_users,
        |       CAST(MIN(lag_us) AS BIGINT) AS min_lag_us,
        |       CAST(MAX(lag_us) AS BIGINT) AS max_lag_us,
        |       CAST(MIN(CASE WHEN rn = (cnt + 1) // 2 THEN lag_us END) AS BIGINT) AS median_lag_us,
        |       CAST(MIN(CASE WHEN rn = (9 * cnt + 9) // 10 THEN lag_us END) AS BIGINT) AS p90_lag_us
        |FROM r""".stripMargin,

    "q98_cumulative_distinct" ->
      """WITH f AS (
        |  SELECT o_custkey, MIN(o_orderdate) AS first_date FROM orders GROUP BY 1),
        |m AS (
        |  SELECT strftime(first_date, '%Y-%m') AS month, COUNT(*) AS n_new
        |  FROM f GROUP BY 1)
        |SELECT month, n_new,
        |       CAST(SUM(n_new) OVER (ORDER BY month
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cum_customers
        |FROM m""".stripMargin,

    "q99_mom_delta" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1)
        |SELECT month, rev_cents,
        |       LAG(rev_cents, 1) OVER (ORDER BY month) AS prev_rev_cents,
        |       rev_cents - LAG(rev_cents, 1) OVER (ORDER BY month) AS delta_cents
        |FROM m""".stripMargin,

    "q61_contamination" ->
      s"""WITH $docsCorpusSql,
         |tsh AS (
         |  SELECT doc_id AS train_id, ${h60Sql("unnest(" + gramsSql("text") + ")")} AS h
         |  FROM corpus WHERE NOT (doc_id % 100 = 0 AND doc_id < 100000)),
         |bsh AS (
         |  SELECT doc_id AS bench_id, ${h60Sql("unnest(" + gramsSql("text") + ")")} AS h
         |  FROM corpus WHERE doc_id % 100 = 0 AND doc_id < 100000),
         |ov AS (
         |  SELECT train_id, bench_id, count(*) AS overlap
         |  FROM tsh JOIN bsh USING (h)
         |  GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT train_id, count(*) AS n_bench_hits, max(overlap) AS max_overlap
         |FROM ov GROUP BY 1""".stripMargin,

    "q62_pii_redaction" ->
      s"""WITH p AS (
         |  SELECT doc_id, lang,
         |         text ||
         |         CASE WHEN doc_id % 7 = 0
         |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END AS text2
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, text2,
         |         regexp_replace(
         |           regexp_replace(text2,
         |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
         |  FROM p)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(SUM(CASE WHEN regexp_matches(text2,
         |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
         |       CAST(SUM(CASE WHEN regexp_matches(text2,
         |         '[0-9]{3}-[0-9]{3}-[0-9]{4}') THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
         |       bit_xor(${h60Sql("CAST(doc_id AS VARCHAR) || ':' || redacted")}) AS checksum
         |FROM r GROUP BY 1""".stripMargin,

    "q63_domain_cap" ->
      s"""SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM (
         |  SELECT source, doc_id,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY ${h60Sql(s"'${graft.ext.Sampling.SampleSalt}' || ':' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 30 GROUP BY 1""".stripMargin,

    "q65_dedup_components" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |walk(id, lab) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, w.lab FROM walk w JOIN sym s ON w.id = s.src)
         |SELECT component, COUNT(*) AS n_members
         |FROM (SELECT id, MIN(lab) AS component FROM walk GROUP BY id)
         |GROUP BY 1""".stripMargin,

    "q104_golden_records" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |walk(id, lab) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, w.lab FROM walk w JOIN sym s ON w.id = s.src),
         |labd AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id),
         |fulld AS (
         |  SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS len,
         |         COALESCE(l.component, c.doc_id) AS component
         |  FROM corpus c LEFT JOIN labd l ON c.doc_id = l.id),
         |r AS (
         |  SELECT component, doc_id, len,
         |         ROW_NUMBER() OVER (PARTITION BY component
         |           ORDER BY len DESC, doc_id DESC) AS rn,
         |         COUNT(*) OVER (PARTITION BY component) AS n_members
         |  FROM fulld)
         |SELECT component, n_members, doc_id AS winner_doc_id, len AS winner_len
         |FROM r WHERE rn = 1""".stripMargin,

    // v=2 state = base + u1 (%3 → SEG_V1) + u2 (%5 → original row, bal+777);
    // u2 overwrites u1's segment for keys divisible by 15. kept/deleted ids
    // are the deterministic keep-2 outcome over versions 0..3.
    "q105_vacuum_retention" ->
      """WITH v2 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment
        |              WHEN c_custkey % 3 = 0 THEN 'SEG_V1'
        |              ELSE c_mktsegment END AS seg,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT)
        |           + CASE WHEN c_custkey % 5 = 0 THEN 777 ELSE 0 END AS bal_cents
        |  FROM customer)
        |SELECT '2,3' AS kept_versions_csv,
        |       CAST(2 AS BIGINT) AS n_deleted,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(bal_cents) AS BIGINT) AS bal_sum_cents,
        |       CAST(SUM(CASE WHEN seg = 'SEG_V1' THEN 1 ELSE 0 END) AS BIGINT) AS n_seg_v1
        |FROM v2""".stripMargin,

    "q106_column_survivorship" ->
      """WITH recs AS (
        |  SELECT CAST(c_custkey * 2 AS BIGINT) AS rec_id,
        |         CAST(c_custkey AS BIGINT) AS entity,
        |         CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS segment,
        |         c_name AS name,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |         CAST(c_custkey % 100 AS BIGINT) AS rec_ts
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey * 2 + 1 AS BIGINT),
        |         CAST(c_custkey AS BIGINT),
        |         CASE WHEN c_custkey % 4 = 0 THEN 'SEG_B' ELSE NULL END,
        |         CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE substr(c_name, 1, 10) END,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) - 500,
        |         CAST((c_custkey * 7) % 100 AS BIGINT)
        |  FROM customer),
        |seg AS (
        |  SELECT entity, segment, ROW_NUMBER() OVER (PARTITION BY entity
        |    ORDER BY (segment IS NOT NULL) DESC, rec_ts DESC, rec_id DESC) AS rn
        |  FROM recs),
        |com AS (
        |  SELECT entity, name, ROW_NUMBER() OVER (PARTITION BY entity
        |    ORDER BY (name IS NOT NULL) DESC, length(name) DESC, rec_id DESC) AS rn
        |  FROM recs),
        |bal AS (
        |  SELECT entity, bal_cents, ROW_NUMBER() OVER (PARTITION BY entity
        |    ORDER BY (bal_cents IS NOT NULL) DESC, bal_cents DESC, rec_id DESC) AS rn
        |  FROM recs),
        |cnt AS (SELECT entity, COUNT(*) AS n_members FROM recs GROUP BY 1)
        |SELECT cnt.entity AS component, cnt.n_members,
        |       seg.segment, com.name, bal.bal_cents
        |FROM cnt
        |JOIN seg ON cnt.entity = seg.entity AND seg.rn = 1
        |JOIN com ON cnt.entity = com.entity AND com.rn = 1
        |JOIN bal ON cnt.entity = bal.entity AND bal.rn = 1""".stripMargin,

    "q107_minmax_ivm" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |newt AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 11 = 0 THEN '9-MOVED' ELSE o_orderpriority END AS o_orderpriority,
        |         CASE WHEN o_orderkey % 7 = 0 THEN cents + 555 ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority, cents + 1
        |  FROM base WHERE o_orderkey % 17 = 0)
        |SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |       CAST(MIN(cents) AS BIGINT) AS min_cents, CAST(MAX(cents) AS BIGINT) AS max_cents
        |FROM newt GROUP BY 1""".stripMargin,

    "q108_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q109_hll_sketch_table" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_exact,
        |       TRUE AS merged_ok, TRUE AS direct_ok
        |FROM orders""".stripMargin,

    // The plain (unsalted) join the salted rewrite must equal; the dim is
    // derived from the fact, so it reduces to a grouped scan.
    "q110_salted_join" ->
      """SELECT 'RF_' || l_returnflag AS flag_label, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM lineitem GROUP BY 1""".stripMargin,

    // Net v0→v2 feed: every %3 key changed segment, every %5 key gained 777
    // cents; upserts touch only existing keys, so the feed is updates-only.
    "q111_change_feed" ->
      """SELECT 'update' AS change_type, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN c_custkey % 5 = 0 THEN 777 ELSE 0 END) AS BIGINT)
        |         AS bal_delta_cents
        |FROM customer
        |WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0""".stripMargin,

    "q112_compaction" ->
      """SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
        |       TRUE AS collapsed
        |FROM orders""".stripMargin,

    "q113_merge_on_read_delete" ->
      """SELECT COUNT(*) AS n_live,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0
        |           OR (o_orderstatus = 'F' AND o_orderkey % 10 < 3))""".stripMargin,

    "q114_percentile_sketch" ->
      """WITH t AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100000 AS bucket,
        |         COUNT(*) AS n
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  GROUP BY 1),
        |c AS (
        |  SELECT bucket,
        |         SUM(n) OVER (ORDER BY bucket
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(n) OVER () AS tot
        |  FROM t)
        |SELECT p.pct,
        |       CAST(MIN(c.bucket) AS BIGINT) AS bucket,
        |       CAST(MIN(c.bucket) * 100000 AS BIGINT) AS lo_value
        |FROM (VALUES (50), (90), (99)) p(pct), c
        |WHERE c.cum >= (c.tot * p.pct + 99) // 100
        |GROUP BY p.pct""".stripMargin,

    "q115_weighted_sample" -> weightedSampleSql,

    "q116_countmin_sketch" -> countMinSql,

    "q118_scd2_delete" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_mktsegment,
        |         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
        |         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
        |  FROM customer),
        |u AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 6 = 0 THEN 'SEG_NEW' ELSE c_mktsegment END AS c_mktsegment,
        |         TIMESTAMP '2024-06-01 00:00:00' AS eff_ts
        |  FROM customer WHERE c_custkey % 3 = 0),
        |after AS (
        |  SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to, d.is_current
        |  FROM dim d LEFT JOIN u ON d.c_custkey = u.c_custkey
        |  WHERE u.c_custkey IS NULL OR d.c_mktsegment = u.c_mktsegment
        |  UNION ALL
        |  SELECT d.c_custkey, d.c_mktsegment, d.valid_from, u.eff_ts, FALSE
        |  FROM dim d JOIN u ON d.c_custkey = u.c_custkey
        |  WHERE d.c_mktsegment <> u.c_mktsegment
        |  UNION ALL
        |  SELECT u.c_custkey, u.c_mktsegment, u.eff_ts, CAST(NULL AS TIMESTAMP), TRUE
        |  FROM dim d JOIN u ON d.c_custkey = u.c_custkey
        |  WHERE d.c_mktsegment <> u.c_mktsegment),
        |del AS (
        |  SELECT c_custkey, TIMESTAMP '2024-09-01 00:00:00' AS del_ts
        |  FROM customer WHERE c_custkey % 7 = 1)
        |SELECT a.c_custkey, a.c_mktsegment, a.valid_from, a.valid_to, a.is_current
        |FROM after a LEFT JOIN del ON a.c_custkey = del.c_custkey
        |WHERE NOT a.is_current OR del.c_custkey IS NULL
        |UNION ALL
        |SELECT a.c_custkey, a.c_mktsegment, a.valid_from, del.del_ts, FALSE
        |FROM after a JOIN del ON a.c_custkey = del.c_custkey
        |WHERE a.is_current""".stripMargin,

    "q121_stream_static_join" ->
      """SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q119_sliding_chunks" ->
      """WITH d AS (
        |  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |ch AS (
        |  SELECT lang,
        |         unnest([array_to_string(toks[s*20+1 : s*20+30], ' ')
        |                 for s in range(0, ((len(toks)-1)//20) + 1)]) AS chunk
        |  FROM d)
        |SELECT lang, COUNT(*) AS n_chunks,
        |       COUNT(DISTINCT chunk) AS n_distinct_chunks,
        |       CAST(SUM(len(string_split(chunk, ' '))) AS BIGINT) AS chunk_tokens
        |FROM ch GROUP BY 1""".stripMargin,

    "q120_target_encoding" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |seg AS (
        |  SELECT c_mktsegment, COUNT(*) AS seg_n,
        |         CAST(SUM(bal_cents) AS BIGINT) AS seg_sum
        |  FROM c GROUP BY 1)
        |SELECT c.c_custkey, c.c_mktsegment,
        |       CAST(seg.seg_n - 1 AS BIGINT) AS loo_n,
        |       CAST(seg.seg_sum - c.bal_cents AS BIGINT) AS loo_sum_cents
        |FROM c JOIN seg USING (c_mktsegment)
        |WHERE c.c_custkey <= 50""".stripMargin,

    "q117_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |v AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |o AS (
        |  SELECT cnt,
        |         SUM(cnt) OVER (ORDER BY cnt DESC, token
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
        |         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS k,
        |         SUM(cnt) OVER () AS tot
        |  FROM v)
        |SELECT p.pct,
        |       CAST(MIN(o.k) AS BIGINT) AS k_tokens,
        |       CAST(MIN(o.run) AS BIGINT) AS cum_count,
        |       CAST(MAX(o.tot) AS BIGINT) AS total_tokens
        |FROM (VALUES (50), (90)) p(pct), o
        |WHERE o.run >= (o.tot * p.pct + 99) // 100
        |GROUP BY p.pct""".stripMargin,

    "q67_json_extract" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 13 = 0 THEN '{broken' ELSE props END AS p2
        |  FROM events),
        |x AS (
        |  SELECT event_type,
        |         CASE WHEN json_valid(p2)
        |              THEN CAST(json_extract_string(p2, '$.k') AS BIGINT) END AS k
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |       CAST(SUM(k) AS BIGINT) AS k_sum, MIN(k) AS k_min, MAX(k) AS k_max
        |FROM x GROUP BY 1""".stripMargin,

    "q66_interval_join" ->
      """WITH w AS (
        |  SELECT i AS win_id,
        |         epoch_us(TIMESTAMP '2024-01-01 00:00:00') + i * 21600000000 AS start_us,
        |         epoch_us(TIMESTAMP '2024-01-01 00:00:00') + i * 21600000000 + 5400000000 AS end_us
        |  FROM range(0, 120) t(i)),
        |e AS (SELECT epoch_us(ts) AS us, value FROM events)
        |SELECT win_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM w JOIN e ON e.us BETWEEN w.start_us AND w.end_us
        |GROUP BY 1""".stripMargin,

    "q64_asof_distributed" ->
      """WITH rates AS (
        |  SELECT c_custkey AS k, DATE '1994-01-01' AS rd, c_custkey % 500 AS rate_cents
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, DATE '1996-06-15', (c_custkey * 7) % 500 FROM customer),
        |o AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS rd, o_orderpriority
        |      FROM orders)
        |SELECT o.o_orderpriority,
        |       COUNT(*) AS n_orders,
        |       COUNT(r.rate_cents) AS n_matched,
        |       CAST(SUM(r.rate_cents) AS BIGINT) AS rate_sum
        |FROM o ASOF LEFT JOIN rates r ON o.k = r.k AND o.rd >= r.rd
        |GROUP BY 1""".stripMargin,

    "q39_dedup_corpus" ->
      s"""WITH $minhashPairsCtes
         |SELECT doc_id, text FROM corpus
         |WHERE doc_id NOT IN (SELECT id_b FROM pairs WHERE jaccard >= 0.5)""".stripMargin,

    "q25_simhash_neardup" -> simhashPairsSql,

    "q29_ann_lsh" -> lshPairsSql,

    "q30_rolling_fingerprint" ->
      s"""SELECT doc_id,
         |       list_min([${h60Sql("g")} for g in ${gramsSql("text")}]) AS fp
         |FROM documents""".stripMargin,

    "q01_daily_sales_summary" ->
      """SELECT CAST(o_orderdate AS DATE) AS date,
        |       ROUND(SUM(o_totalprice), 2) AS total_revenue,
        |       COUNT(DISTINCT o_orderkey) AS order_count,
        |       ROUND(SUM(o_totalprice), 2) / COUNT(o_totalprice) AS avg_order_value,
        |       COUNT(DISTINCT o_custkey) AS unique_customers
        |FROM orders GROUP BY 1""".stripMargin,

    "q02_category_sales_summary" ->
      """SELECT CAST(l_shipdate AS DATE) AS date,
        |       l_returnflag AS category,
        |       ROUND(SUM(l_extendedprice), 2) AS category_revenue,
        |       COUNT(DISTINCT CONCAT(l_orderkey, '-', l_linenumber)) AS category_orders,
        |       ROUND(SUM(l_extendedprice), 2) / COUNT(l_extendedprice) AS avg_unit_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q03_payment_method_summary" ->
      """SELECT CAST(o_orderdate AS DATE) AS date,
        |       o_orderpriority AS payment_method,
        |       ROUND(SUM(o_totalprice), 2) AS payment_revenue,
        |       COUNT(DISTINCT o_orderkey) AS payment_count
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q04_customer_activity_summary" ->
      """SELECT CAST(ts AS DATE) AS date,
        |       event_type,
        |       COUNT(event_id) AS event_count,
        |       COUNT(DISTINCT user_id) AS unique_customers,
        |       COUNT(DISTINCT CONCAT(user_id, '-', props->>'k')) AS unique_sessions
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q05_device_usage_summary" ->
      """SELECT CAST(ts AS DATE) AS date,
        |       CASE CAST(props->>'k' AS INT) % 3 WHEN 0 THEN 'desktop' WHEN 1 THEN 'mobile' ELSE 'tablet' END AS device_type,
        |       COUNT(DISTINCT CONCAT(user_id, '-', props->>'k')) AS session_count,
        |       COUNT(event_id) AS event_count
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q06_inventory_movement_summary" ->
      """SELECT CAST(l_shipdate AS DATE) AS date,
        |       CAST(l_partkey AS VARCHAR) AS product_id,
        |       p_name AS product_name,
        |       CAST(l_suppkey AS VARCHAR) AS warehouse_id,
        |       CASE l_returnflag WHEN 'N' THEN 'inbound' WHEN 'R' THEN 'outbound' ELSE 'adjustment' END AS movement_type,
        |       ROUND(SUM(l_quantity), 2) AS total_quantity,
        |       ROUND(SUM(l_extendedprice), 2) AS total_cost,
        |       COUNT(CONCAT(l_orderkey, '-', l_linenumber)) AS movement_count
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    "q07_inventory_net_position" ->
      """SELECT CAST(l_shipdate AS DATE) AS date,
        |       CAST(l_partkey AS VARCHAR) AS product_id,
        |       p_name AS product_name,
        |       CAST(l_suppkey AS VARCHAR) AS warehouse_id,
        |       SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END) AS inbound,
        |       SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS outbound,
        |       SUM(CASE WHEN l_returnflag NOT IN ('N', 'R') THEN l_quantity ELSE 0 END) AS adjustment,
        |       SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END)
        |         - SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS net_position
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q08_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS content_hash,
        |       MIN(doc_id) AS doc_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    // `deduped` replays Silver.cleanEvents' dropDuplicates("event_id") so the
    // oracle stays correct even on testdata with duplicate event ids. Both
    // engines pick an arbitrary row per id, which is only deterministic when
    // duplicate ids agree on the flag-relevant columns (event_type, value) —
    // identical full-row duplicates trivially satisfy that; SilverSpec pins it.
    "q09_validation_errors" ->
      """WITH deduped AS (
        |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id) AS __rn FROM events)
        |  WHERE __rn = 1
        |), mapped AS (
        |  SELECT CASE WHEN event_type = 'click' AND value < 20 THEN TRUE ELSE FALSE END AS bad_ts,
        |         CASE WHEN event_type = 'signup' AND value < 50 THEN TRUE ELSE FALSE END AS null_cust,
        |         CASE event_type WHEN 'view' THEN 'browse' WHEN 'click' THEN 'login'
        |              WHEN 'purchase' THEN 'checkout' WHEN 'signup' THEN 'logout'
        |              ELSE 'UNKNOWN' END AS mapped_type
        |  FROM deduped
        |), flagged AS (
        |  SELECT TRIM(CONCAT(
        |           CASE WHEN bad_ts THEN 'NULL:timestamp; ' ELSE '' END,
        |           CASE WHEN null_cust THEN 'NULL:customer_id; ' ELSE '' END,
        |           CASE WHEN mapped_type NOT IN ('login','browse','add_to_cart','checkout','logout')
        |                THEN 'INVALID_EVENT_TYPE; ' ELSE '' END)) AS validation_errors
        |  FROM mapped
        |)
        |SELECT validation_errors, validation_errors = '' AS is_valid, COUNT(*) AS n
        |FROM flagged GROUP BY 1, 2""".stripMargin,

    "q10_autofix_totals" ->
      """WITH s AS (
        |  SELECT l_returnflag AS category,
        |         l_quantity AS q,
        |         l_extendedprice / l_quantity AS p,
        |         ROUND(l_extendedprice * (1 - l_discount), 2) AS t
        |  FROM (SELECT DISTINCT * FROM lineitem)
        |)
        |SELECT category,
        |       ROUND(SUM(CASE WHEN ABS(t - ROUND(q * p, 2)) > 0.01 THEN ROUND(q * p, 2) ELSE t END), 2) AS fixed_revenue,
        |       COUNT(*) AS n_rows
        |FROM s GROUP BY 1""".stripMargin,

    "q11_ts_parse_coercion" ->
      """SELECT o_orderstatus,
        |       COUNT(TRY_CAST(CASE WHEN o_orderstatus = 'P' THEN 'not-a-ts'
        |                           ELSE strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') END AS TIMESTAMP)) AS n_parsed,
        |       COUNT(*) AS n_total
        |FROM orders GROUP BY 1""".stripMargin,

    "q12_dedup_keep_first" ->
      """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM (SELECT l_returnflag, l_quantity,
        |             ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |               ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
        |                        l_extendedprice, l_returnflag, l_shipdate) AS rn
        |      FROM lineitem)
        |WHERE rn = 1 GROUP BY 1""".stripMargin,

    "q13_top_customers" ->
      """SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
        |FROM orders GROUP BY 1
        |ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin,

    "q14_region_revenue" ->
      """SELECT r_name,
        |       ROUND(SUM(o_totalprice), 2) AS revenue,
        |       COUNT(DISTINCT c_custkey) AS n_customers
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,

    "q15_union_slices" ->
      """SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM (SELECT * FROM orders WHERE o_orderstatus = 'O'
        |      UNION ALL
        |      SELECT * FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin,

    "q16_window_running" ->
      """SELECT o_custkey, o_orderkey, rn, running FROM (
        |  SELECT o_custkey, o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |         ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q17_month_rollup" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS year,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS month,
        |       COUNT(*) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) >= 1998
        |GROUP BY 1, 2""".stripMargin,

    "q18_incremental_medallion" -> medallionOracleSql,

    "q19_semi_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n, 'with_orders' AS kind
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1
        |UNION ALL
        |SELECT c_nationkey, COUNT(*) AS n, 'without_orders' AS kind
        |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,

    "q40_cube" ->
      """SELECT o_orderstatus AS status,
        |       o_orderpriority AS priority,
        |       COUNT(*) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "q31_rollup" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS year,
        |       o_orderpriority AS priority,
        |       COUNT(*) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY ROLLUP(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT), o_orderpriority)""".stripMargin,

    "q33_sql_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |       ROUND(SUM(l_extendedprice), 2) / COUNT(l_extendedprice) AS avg_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q34_salted_agg" ->
      """SELECT event_type, ROUND(SUM(value), 2) AS total_value, COUNT(value) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q35_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |           FROM embeddings)
        |SELECT query_id, neighbor_id, cos_sim, rank FROM (
        |  SELECT query_id, neighbor_id,
        |         ROUND(list_cosine_similarity(qv, cv), 6) AS cos_sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY ROUND(list_cosine_similarity(qv, cv), 6) DESC, neighbor_id) AS rank
        |  FROM q, c WHERE query_id <> neighbor_id)
        |WHERE rank <= 3""".stripMargin,

    // The IVF hit list depends on Lloyd centroid floats (engine-specific), so
    // the oracle pins the ANN accuracy CONTRACT the Spark side computes
    // against exact brute-force: k results returned, recall@10 ≥ 0.7. See the
    // q36 query comment; a recall regression fails this hash compare.
    "q36_ivf_ann" ->
      """SELECT CAST(0 AS BIGINT) AS query_id, CAST(10 AS BIGINT) AS n_results,
        |       TRUE AS recall_ok""".stripMargin,

    "q37_topk_per_group" ->
      """SELECT o_orderpriority, o_totalprice AS price, o_orderkey
        |FROM (SELECT o_orderpriority, o_totalprice, o_orderkey,
        |             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q38_asof_rate" ->
      """WITH rates AS (SELECT CAST(ts AS DATE) AS d, ROUND(SUM(value), 2) AS rate
        |               FROM events GROUP BY 1)
        |SELECT e.event_type,
        |       ROUND(SUM(r.rate), 2) AS total_rate,
        |       COUNT(r.rate) AS n_matched
        |FROM events e ASOF LEFT JOIN rates r ON (CAST(e.ts AS DATE) - 3) >= r.d
        |GROUP BY 1""".stripMargin,

    "q32_stream_windowed" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
        |       event_type,
        |       COUNT(*) AS n,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q20_token_stats" ->
      """SELECT lang,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_subword_tokens,
        |       ROUND(AVG(n_chars), 2) AS avg_chars
        |FROM documents GROUP BY 1""".stripMargin,

    "q21_quality_scores" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(trim(text), '\s+') AS toks,
        |         length(text) AS n_chars_txt,
        |         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
        |  FROM documents
        |), ratios AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CASE WHEN n_chars_txt = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars_txt END AS praw,
        |         CASE WHEN len(toks) = 0 THEN 0.0
        |              ELSE CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(toks) END AS sraw,
        |         CAST(n_chars_txt AS DOUBLE) AS clen
        |  FROM base
        |)
        |SELECT doc_id, n_tokens,
        |       ROUND(praw, 6) AS punct_ratio,
        |       ROUND(sraw, 6) AS stopword_ratio,
        |       ROUND((least(clen / 500.0, 1.0) + least(sraw * 4.0, 1.0) + greatest(0.0, 1.0 - praw * 5.0)) / 3.0, 6) AS quality
        |FROM ratios""".stripMargin,

    "q22_lang_id" ->
      """WITH hits AS (
        |  SELECT lang,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('the','a','of','and','is'))) AS h_en,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('el','la','de','que','es'))) AS h_es,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('le','la','et','est','une'))) AS h_fr,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('der','die','und','ist','ein'))) AS h_de,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('的','是','了','在','我'))) AS h_zh
        |  FROM documents
        |), best AS (
        |  SELECT lang, h_en, h_es, h_fr, h_de, h_zh,
        |         greatest(h_en, h_es, h_fr, h_de, h_zh) AS b
        |  FROM hits
        |)
        |SELECT lang,
        |       CASE WHEN b = 0 THEN 'und'
        |            WHEN h_en = b THEN 'en' WHEN h_es = b THEN 'es' WHEN h_fr = b THEN 'fr'
        |            WHEN h_de = b THEN 'de' ELSE 'zh' END AS detected,
        |       COUNT(*) AS n
        |FROM best GROUP BY 1, 2""".stripMargin,

    "q23_fingerprints" ->
      """SELECT source,
        |       COUNT(*) AS n_docs,
        |       COUNT(DISTINCT md5(lower(trim(text)))) AS n_unique_fingerprints
        |FROM documents GROUP BY 1""".stripMargin,

    "q26_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 3
        |              THEN list_distinct([array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')
        |                                  for i in range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1)])
        |              ELSE [trim(text)] END AS grams
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "q27_cosine_topk" ->
      """SELECT e.vec_id,
        |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,

    "q28_embedding_neardup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01) FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM base a JOIN base b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.9""".stripMargin,

    // Mirrors Sessionize.assignSessions/sessionSummaries bit-for-bit: micros
    // via epoch_us (DuckDB truncates parquet NANOS→µs exactly like Spark's
    // `ts DIV 1000`), lag ordered by (us, event_id), 30-min gap, floor-divide
    // duration. Window ROWS frame matches Spark's running sum frame.
    "q41_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), sess AS (
        |  SELECT user_id, us,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_idx
        |  FROM flagged
        |), summaries AS (
        |  SELECT user_id, session_idx, COUNT(*) AS n_events,
        |         MIN(us) AS s_us, MAX(us) AS e_us
        |  FROM sess GROUP BY 1, 2
        |)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |       CAST(SUM(n_events) AS BIGINT) AS n_events,
        |       MAX(CAST(floor((e_us - s_us) / 1000000) AS BIGINT)) AS max_duration_s
        |FROM summaries GROUP BY user_id""".stripMargin,

    // events.value is 2-dp-grid money in the testdata (checked: every value
    // equals round(value, 2)), so ROUND(value*100) is exactly integral and the
    // BIGINT cents sum is order-independent — exact in both engines at any
    // group size, unlike ROUND(SUM(double), 2) whose FP error is
    // summation-order-dependent (§7.4).
    "q42_range_join" ->
      """SELECT bracket, COUNT(*) AS n,
        |       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM events
        |JOIN (VALUES ('small', 0.0, 50.0), ('medium', 50.0, 200.0),
        |             ('large', 200.0, 400.0), ('huge', 400.0, 1e18)) b(bracket, lo, hi)
        |  ON value >= lo AND value < hi
        |GROUP BY bracket""".stripMargin,

    // Replays Merge.upsert's full-outer join + coalesce + action CASE exactly
    // (update side wins; +10.0 stays on the 2-dp money grid).
    "q43_merge_upsert" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |), base AS (
        |  SELECT * FROM o WHERE o_orderkey % 2 = 0
        |), updates AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice
        |  FROM o WHERE o_orderkey % 3 = 0
        |), merged AS (
        |  SELECT COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |         COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
        |         CASE WHEN b.o_orderkey IS NULL THEN 'insert'
        |              WHEN u.o_orderkey IS NULL THEN 'keep'
        |              ELSE 'update' END AS merge_action
        |  FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
        |)
        |SELECT o_orderstatus, merge_action, COUNT(*) AS n,
        |       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
        |FROM merged GROUP BY 1, 2""".stripMargin,

    // encode() is UTF-8 in both engines; octet_length ≡ Spark length(binary);
    // to_base64 uses the same standard alphabet (no line wrap) as Spark base64.
    "q44_multimodal_meta" ->
      """SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       COUNT(DISTINCT substr(to_base64(encode(text)), 1, 8)) AS n_headers
        |FROM documents GROUP BY source""".stripMargin,

    // Streaming dropDuplicates(event_type, user_id) + count over the finite
    // AvailableNow input ≡ batch COUNT(DISTINCT user_id) per event_type.
    "q45_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
        |FROM events GROUP BY event_type""".stripMargin,

    // Lower median via row_number vs count; `//` ≡ Spark's `DIV`.
    "q46_median" ->
      """SELECT o_orderpriority, o_totalprice AS median_price FROM (
        |  SELECT o_orderpriority, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice, o_orderkey) AS rn,
        |         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |WHERE rn = (n + 1) // 2""".stripMargin,

    // The sketch estimate is engine-specific; what both engines agree on is
    // the exact count and the accuracy-contract verdict (see the q47 query
    // comment). An out-of-tolerance Spark sketch makes approx_ok=false and
    // the hash compare fails loudly.
    "q47_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin,

    // Batch replay of the stream-stream interval join: µs arithmetic matches
    // Spark's µs timestamps exactly; cents sum is order-independent (§7.4).
    "q48_stream_stream_join" ->
      """SELECT COUNT(*) AS n_pairs, COUNT(DISTINCT c.user_id) AS n_users,
        |       SUM(CAST(ROUND(p.value * 100) AS BIGINT)) / 100.0 AS total_value
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND epoch_us(p.ts) BETWEEN epoch_us(c.ts) AND epoch_us(c.ts) + 1800000000""".stripMargin,

    // ln() agrees with Spark's log() after the 6-dp round (libm last-ulp
    // differences sit ~10 orders below the rounding grain).
    "q49_tfidf_topterms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         ROUND(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, term, score,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, term, score, rank FROM ranked
        |WHERE rank <= 3 AND doc_id < 20""".stripMargin,

    "q50_stratified_sample" -> stratifiedSampleSql,

    "q51_corpus_prep" -> corpusPrepSql,

    "q100_export_prep" -> exportPrepSql,

    "q101_zorder3_scan" ->
      """SELECT COUNT(*) AS n_rows,
        |       COALESCE(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT), 0)
        |         AS price_cents
        |FROM lineitem WHERE l_suppkey BETWEEN 10 AND 40""".stripMargin,

    "q102_streaming_ivm" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s1 AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 11 = 0 THEN '9-MOVED' ELSE o_orderpriority END AS o_orderpriority,
        |         CASE WHEN o_orderkey % 7 = 0 THEN cents + 555 ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority, cents + 1
        |  FROM base WHERE o_orderkey % 17 = 0),
        |s2 AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CASE WHEN o_orderkey % 23 = 0 THEN cents + 333 ELSE cents END AS cents
        |  FROM s1 WHERE o_orderkey % 19 <> 0)
        |SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM s2 GROUP BY 1""".stripMargin,

    "q103_pit_join" ->
      """WITH dim0 AS (
        |  SELECT c_custkey, c_mktsegment,
        |         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
        |         CAST(NULL AS TIMESTAMP) AS valid_to
        |  FROM customer),
        |u AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 6 = 0 THEN 'SEG_NEW' ELSE c_mktsegment END AS c_mktsegment,
        |         TIMESTAMP '1995-06-01 00:00:00' AS eff_ts
        |  FROM customer WHERE c_custkey % 3 = 0),
        |dim AS (
        |  SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to
        |  FROM dim0 d LEFT JOIN u ON d.c_custkey = u.c_custkey
        |  WHERE u.c_custkey IS NULL OR d.c_mktsegment = u.c_mktsegment
        |  UNION ALL
        |  SELECT d.c_custkey, d.c_mktsegment, d.valid_from, u.eff_ts
        |  FROM dim0 d JOIN u ON d.c_custkey = u.c_custkey
        |  WHERE d.c_mktsegment <> u.c_mktsegment
        |  UNION ALL
        |  SELECT u.c_custkey, u.c_mktsegment, u.eff_ts, CAST(NULL AS TIMESTAMP)
        |  FROM dim0 d JOIN u ON d.c_custkey = u.c_custkey
        |  WHERE d.c_mktsegment <> u.c_mktsegment),
        |o AS (
        |  SELECT o_custkey, o_orderdate,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT d.c_mktsegment, COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS rev_cents
        |FROM o JOIN dim d ON o.o_custkey = d.c_custkey
        |  AND o.o_orderdate >= d.valid_from
        |  AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
        |GROUP BY 1""".stripMargin,

    // ceil(q·n) is the same IEEE double in both engines (n < 2^52), so the
    // rank indices agree exactly; (value, event_id) totally orders ties.
    "q52_percentiles" ->
      """WITH ranked AS (
        |  SELECT event_type, value, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |       MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN value END) AS p50,
        |       MAX(CASE WHEN rn = CAST(CEIL(n * 0.95) AS BIGINT) THEN value END) AS p95,
        |       MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT) THEN value END) AS p99
        |FROM ranked GROUP BY event_type""".stripMargin,

    "q53_grouping_sets" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |       grouping(o_orderstatus) AS g_status,
        |       grouping(o_orderpriority) AS g_priority,
        |       COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (o_orderpriority))""".stripMargin,

    "q54_set_ops" ->
      """WITH u AS (SELECT DISTINCT c_nationkey FROM customer
        |           JOIN orders ON c_custkey = o_custkey WHERE o_orderpriority = '1-URGENT'),
        |     l AS (SELECT DISTINCT c_nationkey FROM customer
        |           JOIN orders ON c_custkey = o_custkey WHERE o_orderpriority = '5-LOW')
        |SELECT c_nationkey, 'both' AS kind FROM (SELECT * FROM u INTERSECT SELECT * FROM l)
        |UNION ALL
        |SELECT c_nationkey, 'urgent_only' AS kind FROM (SELECT * FROM u EXCEPT SELECT * FROM l)""".stripMargin,

    "q55_bloom_semi_join" ->
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0)""".stripMargin,

    "q56_zorder_layout" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem WHERE l_orderkey <= 2000 AND l_partkey <= 400""".stripMargin,

    "q68_stats_pruned_scan" ->
      """SELECT count(*) AS n_rows,
        |       CAST(COALESCE(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0) AS BIGINT) AS price_cents
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin,

    "q57_approx_percentile" ->
      """SELECT o_orderpriority, count(*) AS n, TRUE AS approx_ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q58_scd2_dimension" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_mktsegment,
        |         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
        |         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
        |  FROM customer),
        |u AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 6 = 0 THEN 'SEG_NEW' ELSE c_mktsegment END AS c_mktsegment,
        |         TIMESTAMP '2024-06-01 00:00:00' AS eff_ts
        |  FROM customer WHERE c_custkey % 3 = 0)
        |SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to, d.is_current
        |FROM dim d LEFT JOIN u ON d.c_custkey = u.c_custkey
        |WHERE u.c_custkey IS NULL OR d.c_mktsegment = u.c_mktsegment
        |UNION ALL
        |SELECT d.c_custkey, d.c_mktsegment, d.valid_from, u.eff_ts, FALSE
        |FROM dim d JOIN u ON d.c_custkey = u.c_custkey
        |WHERE d.c_mktsegment <> u.c_mktsegment
        |UNION ALL
        |SELECT u.c_custkey, u.c_mktsegment, u.eff_ts, CAST(NULL AS TIMESTAMP), TRUE
        |FROM dim d JOIN u ON d.c_custkey = u.c_custkey
        |WHERE d.c_mktsegment <> u.c_mktsegment""".stripMargin,

    "q59_range_window" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1)
        |SELECT d, rev_cents,
        |       CAST(SUM(rev_cents) OVER (ORDER BY d
        |         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS sum7_cents,
        |       COUNT(*) OVER (ORDER BY d
        |         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS n7,
        |       CAST(rev_cents - COALESCE(LAG(rev_cents, 1) OVER (ORDER BY d), 0) AS BIGINT) AS delta_cents,
        |       CAST(NTILE(4) OVER (ORDER BY d) AS INT) AS quartile
        |FROM daily""".stripMargin,

    "q60_observed_metrics" ->
      """WITH s AS (
        |  SELECT CASE WHEN l_partkey % 50 = 0 THEN NULL ELSE l_orderkey END AS cust,
        |         l_quantity AS q,
        |         l_extendedprice / l_quantity AS p,
        |         ROUND(l_extendedprice * (1 - l_discount), 2) AS t
        |  FROM (SELECT DISTINCT * FROM lineitem))
        |SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CASE WHEN cust IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
        |       CAST(SUM(CAST(ROUND((CASE WHEN ABS(t - ROUND(q * p, 2)) > 0.01
        |                            THEN ROUND(q * p, 2) ELSE t END) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(SUM(CASE WHEN cust IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_valid
        |FROM s""".stripMargin,

    "q122_group_split" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |         ${h60Sql("concat('split:', source)")} % 1000 AS hb
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |         CASE WHEN hb < 800 THEN 'train'
        |              WHEN hb < 900 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM d)
        |SELECT split, COUNT(*) AS n_docs,
        |       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM s GROUP BY 1""".stripMargin,

    "q123_majority_vote" ->
      """WITH v AS (
        |  SELECT vec_id % 200 AS item, label FROM embeddings),
        |c AS (
        |  SELECT item, label, COUNT(*) AS n_votes FROM v GROUP BY 1, 2),
        |r AS (
        |  SELECT item, label, n_votes,
        |         CAST(SUM(n_votes) OVER (PARTITION BY item) AS BIGINT) AS n_total,
        |         ROW_NUMBER() OVER (PARTITION BY item
        |                            ORDER BY n_votes DESC, label ASC) AS rr
        |  FROM c)
        |SELECT label, COUNT(*) AS n_items,
        |       CAST(SUM(item) AS BIGINT) AS item_checksum,
        |       CAST(SUM(CASE WHEN n_votes = n_total THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_unanimous
        |FROM r WHERE rr = 1 GROUP BY 1""".stripMargin,

    "q124_rolling_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id <= 10)
        |SELECT user_id, event_id,
        |       CAST(ROW_NUMBER() OVER win AS BIGINT) AS rn,
        |       CAST(SUM(cents) OVER win7 AS BIGINT) AS roll7_cents,
        |       CAST(COUNT(*) OVER win7 AS BIGINT) AS roll7_n,
        |       MAX(cents) OVER win7 AS roll7_max
        |FROM e
        |WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id),
        |       win7 AS (PARTITION BY user_id ORDER BY us, event_id
        |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q125_windowed_dedup" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |         epoch_us(ts) // 3600000000 AS time_bucket
        |  FROM events),
        |r AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type, time_bucket
        |                            ORDER BY ts_us, event_id) AS rr,
        |         COUNT(*) OVER (PARTITION BY user_id, event_type, time_bucket)
        |           AS cell_n
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n_kept,
        |       CAST(SUM(cell_n) AS BIGINT) AS n_input,
        |       CAST(SUM(event_id) AS BIGINT) AS id_checksum
        |FROM r WHERE rr = 1 GROUP BY 1""".stripMargin,

    // NB every FP literal carries e0 (DOUBLE): a bare 0.5 is DECIMAL in
    // DuckDB, and decimal arithmetic would diverge from Spark's doubles.
    "q126_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                 CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
        |       WHERE term IN ('scan', 'merge', 'vector') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT tf.doc_id,
        |         CAST(ROUND(
        |           ln(1e0 + (stats.n - dfreq.df + 0.5e0) / (dfreq.df + 0.5e0))
        |           * (tf.tf * 2.2e0)
        |           / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0
        |                * (dl.dl / (CAST(stats.total_tokens AS DOUBLE) / stats.n))))
        |           * 1000000e0) AS BIGINT) AS c
        |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micros
        |FROM c GROUP BY 1
        |ORDER BY score_micros DESC, doc_id LIMIT 15""".stripMargin,

    "q127_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS a,
        |         CAST(l_partkey AS BIGINT) + 1000000 AS b
        |  FROM lineitem),
        |e AS (SELECT a AS src, b AS dst FROM pairs
        |      UNION ALL SELECT b AS src, a AS dst FROM pairs),
        |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outd FROM e GROUP BY 1),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |i1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // o.outd) AS BIGINT) AS in_sum
        |       FROM e JOIN r0 ON e.src = r0.node JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.node,
        |              CAST(150000 + (850 * COALESCE(i1.in_sum, 0)) // 1000 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN i1 USING (node)),
        |i2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // o.outd) AS BIGINT) AS in_sum
        |       FROM e JOIN r1 ON e.src = r1.node JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.node,
        |              CAST(150000 + (850 * COALESCE(i2.in_sum, 0)) // 1000 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN i2 USING (node)),
        |i3 AS (SELECT e.dst AS node, CAST(SUM(r2.r // o.outd) AS BIGINT) AS in_sum
        |       FROM e JOIN r2 ON e.src = r2.node JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.node,
        |              CAST(150000 + (850 * COALESCE(i3.in_sum, 0)) // 1000 AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN i3 USING (node))
        |SELECT node, r AS rank_micros FROM r3
        |ORDER BY rank_micros DESC, node LIMIT 20""".stripMargin,

    "q128_prefix_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, substr(text, 1, 50) AS text
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |         lead(text) OVER (ORDER BY text, doc_id) AS succ
        |  FROM corpus)
        |SELECT COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN succ IS NOT NULL AND starts_with(succ, text)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_contained,
        |       CAST(SUM(CASE WHEN succ = text THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_exact,
        |       CAST(SUM(CASE WHEN succ IS NOT NULL AND starts_with(succ, text)
        |                     THEN doc_id ELSE 0 END) AS BIGINT)
        |         AS contained_id_checksum
        |FROM s""".stripMargin,

    "q129_fuzzy_join" ->
      """WITH clean AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS clean_id, s_name FROM supplier),
        |dirty AS (
        |  SELECT clean_id AS dirty_id,
        |         CASE WHEN clean_id % 3 = 0
        |                THEN replace(s_name, 'Supplier', 'Suplier')
        |              WHEN clean_id % 3 = 1
        |                THEN replace(s_name, '#', '-#')
        |              ELSE s_name END AS d_name
        |  FROM clean),
        |p AS (
        |  SELECT dirty_id, clean_id, levenshtein(d_name, s_name) AS dist
        |  FROM dirty CROSS JOIN clean
        |  WHERE levenshtein(d_name, s_name) <= 2)
        |SELECT COUNT(*) AS n_pairs,
        |       CAST(SUM(dist) AS BIGINT) AS dist_sum,
        |       CAST(SUM(dirty_id * clean_id) AS BIGINT) AS pair_checksum,
        |       CAST(SUM(CASE WHEN dirty_id = clean_id THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_self
        |FROM p""".stripMargin,

    "q130_k_hop" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS a,
        |         CAST(l_partkey AS BIGINT) + 1000000 AS b
        |  FROM lineitem),
        |e AS (SELECT a AS src, b AS dst FROM pairs
        |      UNION ALL SELECT b AS src, a AS dst FROM pairs),
        |h0 AS (SELECT CAST(i AS BIGINT) AS node FROM range(1, 4) t(i)),
        |n1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h0 ON e.src = h0.node
        |       WHERE e.dst NOT IN (SELECT node FROM h0)),
        |n2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN n1 ON e.src = n1.node
        |       WHERE e.dst NOT IN (SELECT node FROM h0)
        |         AND e.dst NOT IN (SELECT node FROM n1)),
        |v AS (SELECT node, 0 AS dist FROM h0
        |      UNION ALL SELECT node, 1 FROM n1
        |      UNION ALL SELECT node, 2 FROM n2)
        |SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes,
        |       CAST(SUM(node) AS BIGINT) AS node_checksum
        |FROM v GROUP BY 1""".stripMargin,

    "q131_cohort_retention" ->
      """WITH um AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |f AS (SELECT user_id, MIN(d) AS d0 FROM um GROUP BY 1)
        |SELECT f.d0 AS cohort_day, um.d - f.d0 AS day_offset,
        |       COUNT(*) AS n_active
        |FROM um JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q132_posting_lists" ->
      """WITH td AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |    FROM documents)),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM td GROUP BY 1),
        |top AS (SELECT * FROM dfreq ORDER BY df DESC, token LIMIT 10),
        |sel AS (
        |  SELECT td.token, td.doc_id FROM td JOIN top USING (token)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY td.token ORDER BY td.doc_id) <= 15)
        |SELECT sel.token, CAST(top.df AS BIGINT) AS df,
        |       string_agg(CAST(sel.doc_id AS VARCHAR), ',' ORDER BY sel.doc_id)
        |         AS posting_csv
        |FROM sel JOIN top ON sel.token = top.token
        |GROUP BY sel.token, top.df""".stripMargin,

    "q133_ri_audit" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders) AS orders_cust_checked,
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 10 <> 0))
        |    AS orders_cust_orphans,
        |  (SELECT COUNT(*) FROM lineitem) AS lineitem_part_checked,
        |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM part p
        |      WHERE p.p_partkey = l.l_partkey AND p.p_partkey % 7 <> 0))
        |    AS lineitem_part_orphans""".stripMargin,

    "q134_mad_outliers" ->
      """WITH e AS (
        |  SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT cents AS med FROM (
        |    SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, event_id) AS rn,
        |           COUNT(*) OVER () AS n FROM e)
        |  WHERE rn = (n + 1) // 2),
        |d AS (SELECT event_id, ABS(cents - (SELECT med FROM m)) AS adev FROM e),
        |md AS (
        |  SELECT adev AS mad FROM (
        |    SELECT adev, event_id, ROW_NUMBER() OVER (ORDER BY adev, event_id) AS rn,
        |           COUNT(*) OVER () AS n FROM d)
        |  WHERE rn = (n + 1) // 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |       (SELECT med FROM m) AS median,
        |       (SELECT mad FROM md) AS mad,
        |       CAST(SUM(CASE WHEN adev > 3 * (SELECT mad FROM md)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       CAST(SUM(CASE WHEN adev > 3 * (SELECT mad FROM md)
        |                     THEN event_id ELSE 0 END) AS BIGINT)
        |         AS outlier_id_checksum
        |FROM d""".stripMargin,

    "q141_median_impute" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_id % 10 = 0 THEN NULL
        |              ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
        |  FROM events),
        |nn AS (
        |  SELECT event_type, cents, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY cents, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e WHERE cents IS NOT NULL),
        |med AS (SELECT event_type, cents AS m FROM nn WHERE rn = (n + 1) // 2),
        |f AS (
        |  SELECT e.event_type,
        |         (e.cents IS NULL AND m.m IS NOT NULL) AS imputed_flag,
        |         COALESCE(e.cents, m.m) AS value_filled
        |  FROM e LEFT JOIN med m USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CASE WHEN imputed_flag THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_imputed,
        |       MAX(CASE WHEN imputed_flag THEN value_filled END) AS imputed_value,
        |       CAST(SUM(value_filled) AS BIGINT) AS filled_sum
        |FROM f GROUP BY 1""".stripMargin,

    "q135_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id < 20),
        |daily AS (
        |  SELECT user_id, d, CAST(SUM(cents) AS BIGINT) AS day_cents
        |  FROM e GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
        |dense AS (SELECT user_id, unnest(generate_series(d0, d1)) AS d FROM span),
        |j AS (SELECT dense.user_id, dense.d, day_cents
        |      FROM dense LEFT JOIN daily USING (user_id, d))
        |SELECT user_id, d,
        |       last_value(day_cents IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |       (day_cents IS NULL) AS was_gap
        |FROM j""".stripMargin,

    "q140_ewma" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |s AS (SELECT user_id, list(cents ORDER BY us, event_id) AS vals
        |      FROM e GROUP BY 1)
        |SELECT user_id, CAST(len(vals) AS BIGINT) AS n_points,
        |       CAST(list_reduce(vals,
        |         (acc, x) -> (850 * acc + 150 * x) // 1000) AS BIGINT) AS ewma
        |FROM s""".stripMargin,

    "q138_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
        |t AS (
        |  SELECT user_id, event_type, event_id,
        |         last_value(CASE WHEN event_type IN ('click','view','signup')
        |                         THEN event_type END IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM e)
        |SELECT COALESCE(touch, 'direct') AS channel,
        |       CAST(COUNT(*) AS BIGINT) AS n_conversions,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(SUM(event_id) AS BIGINT) AS conv_id_checksum
        |FROM t WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,

    "q142_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
        |t AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY us, event_id) AS next_type
        |  FROM e)
        |SELECT event_type AS from_type, next_type AS to_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_transitions
        |FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q136_token_drift" ->
      """WITH a AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE CAST(substr(source, 4) AS INT) % 2 = 0),
        |b AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE CAST(substr(source, 4) AS INT) % 2 = 1),
        |ca AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM a GROUP BY 1),
        |cb AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM b GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(ca.token, cb.token) AS token,
        |         COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS ta,
        |             CAST(SUM(cnt_b) AS BIGINT) AS tb FROM m)
        |SELECT token, cnt_a, cnt_b,
        |       ABS(cnt_a * (SELECT tb FROM t) - cnt_b * (SELECT ta FROM t))
        |         AS drift_scaled
        |FROM m
        |ORDER BY drift_scaled DESC, token ASC
        |LIMIT 20""".stripMargin,

    "q137_join_size" ->
      """WITH ca AS (
        |  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS ca
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |cb AS (
        |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS matched,
        |         CAST(COALESCE(SUM(CASE WHEN cb IS NOT NULL THEN ca END), 0)
        |              AS BIGINT) AS ma,
        |         CAST(COALESCE(SUM(CASE WHEN ca IS NOT NULL THEN cb END), 0)
        |              AS BIGINT) AS mb
        |  FROM ca FULL OUTER JOIN cb USING (k)),
        |t AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS na,
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS nb)
        |SELECT matched AS n_inner,
        |       matched + na - ma AS n_left_outer,
        |       matched + nb - mb AS n_right_outer,
        |       matched + na - ma + nb - mb AS n_full_outer
        |FROM m, t""".stripMargin,

    "q139_streaming_dedup" ->
      """SELECT DISTINCT event_id, event_type,
        |       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        |FROM events""".stripMargin,

    "q143_novelty" ->
      s"""WITH cand AS (
         |  SELECT doc_id, ${gramsSql("text")} AS g
         |  FROM documents WHERE doc_id % 20 = 0),
         |ch AS (
         |  SELECT doc_id, ${h60Sql("unnest(g)")} AS h FROM cand),
         |rh AS (
         |  SELECT DISTINCT ${h60Sql("unnest(" + gramsSql("text") + ")")} AS h
         |  FROM documents WHERE doc_id % 20 <> 0),
         |seen AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seen
         |  FROM ch WHERE h IN (SELECT h FROM rh) GROUP BY 1)
         |SELECT c.doc_id, CAST(len(c.g) AS BIGINT) AS n_shingles,
         |       COALESCE(s.n_seen, 0) AS n_seen
         |FROM cand c LEFT JOIN seen s USING (doc_id)""".stripMargin,

    "q144_erasure_audit" ->
      """WITH s AS (
        |  SELECT DISTINCT c_custkey AS sk FROM customer WHERE c_custkey % 50 = 0)
        |SELECT 'customer' AS table_name,
        |       CAST((SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT sk FROM s)) AS BIGINT) AS n_purged,
        |       CAST((SELECT COUNT(*) FROM customer) -
        |            (SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT sk FROM s)) AS BIGINT) AS n_kept
        |UNION ALL
        |SELECT 'orders',
        |       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT sk FROM s)) AS BIGINT),
        |       CAST((SELECT COUNT(*) FROM orders) -
        |            (SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT sk FROM s)) AS BIGINT)
        |UNION ALL
        |SELECT 'events',
        |       CAST((SELECT COUNT(*) FROM events WHERE user_id IN (SELECT sk FROM s)) AS BIGINT),
        |       CAST((SELECT COUNT(*) FROM events) -
        |            (SELECT COUNT(*) FROM events WHERE user_id IN (SELECT sk FROM s)) AS BIGINT)""".stripMargin,

    "q145_wap" ->
      """SELECT CAST(1 AS BIGINT) AS attempt, 'no_error_events' AS rule,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS rows_checked,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        |        WHERE event_type = 'error' OR event_type IS NULL) AS violations,
        |       FALSE AS published
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'no_error_events',
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        |        WHERE event_type <> 'error'),
        |       CAST(0 AS BIGINT), TRUE""".stripMargin,

    "q146_histogram_drift" ->
      """WITH av AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |bv AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
        |mm AS (
        |  SELECT MIN(v) AS mn, MAX(v) AS mx
        |  FROM (SELECT v FROM av UNION ALL SELECT v FROM bv)),
        |ca AS (
        |  SELECT ((v - mn) * 16) // (mx - mn + 1) AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS cnt_a
        |  FROM av, mm GROUP BY 1),
        |cb AS (
        |  SELECT ((v - mn) * 16) // (mx - mn + 1) AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS cnt_b
        |  FROM bv, mm GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(ca.bucket, cb.bucket) AS bucket,
        |         COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
        |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS ta,
        |             CAST(SUM(cnt_b) AS BIGINT) AS tb FROM m)
        |SELECT bucket, cnt_a, cnt_b,
        |       ABS(cnt_a * (SELECT tb FROM t) - cnt_b * (SELECT ta FROM t))
        |         AS drift_scaled
        |FROM m""".stripMargin,

    "q147_record_linkage" ->
      """WITH l AS (
        |  SELECT c_custkey, c_nationkey, c_name,
        |         'u' || CAST(c_custkey AS VARCHAR) || '@x.com' AS email,
        |         c_mktsegment AS seg,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |r AS (
        |  SELECT c_custkey + 100000 AS rid, c_nationkey,
        |         CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
        |              ELSE c_name END AS c_name,
        |         CASE WHEN c_custkey % 5 = 0
        |              THEN 'u' || CAST(c_custkey AS VARCHAR) || '@y.com'
        |              ELSE 'u' || CAST(c_custkey AS VARCHAR) || '@x.com'
        |         END AS email,
        |         c_mktsegment AS seg,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT)
        |           + CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS bal_cents
        |  FROM customer)
        |SELECT l.c_custkey AS left_id, r.rid AS right_id,
        |       CAST(CASE WHEN l.c_name IS NOT DISTINCT FROM r.c_name THEN 4 ELSE 0 END
        |          + CASE WHEN l.email IS NOT DISTINCT FROM r.email THEN 3 ELSE 0 END
        |          + CASE WHEN l.seg IS NOT DISTINCT FROM r.seg THEN 2 ELSE 0 END
        |          + CASE WHEN l.bal_cents IS NOT DISTINCT FROM r.bal_cents THEN 1 ELSE 0 END
        |          AS BIGINT) AS score
        |FROM l JOIN r ON l.c_nationkey = r.c_nationkey
        |WHERE CASE WHEN l.c_name IS NOT DISTINCT FROM r.c_name THEN 4 ELSE 0 END
        |    + CASE WHEN l.email IS NOT DISTINCT FROM r.email THEN 3 ELSE 0 END
        |    + CASE WHEN l.seg IS NOT DISTINCT FROM r.seg THEN 2 ELSE 0 END
        |    + CASE WHEN l.bal_cents IS NOT DISTINCT FROM r.bal_cents THEN 1 ELSE 0 END
        |    >= 6""".stripMargin,

    "q148_label_propagation" ->
      """WITH p AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS a,
        |         CAST(l_partkey AS BIGINT) + 1000000 AS b FROM lineitem),
        |e AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION
        |  SELECT b AS src, a AS dst FROM p),
        |l0 AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS node,
        |         CAST(s_suppkey % 3 AS BIGINT) AS label, CAST(0 AS BIGINT) AS round
        |  FROM supplier WHERE s_suppkey % 10 = 0),
        |v1 AS (
        |  SELECT e.dst, l.label, COUNT(*) AS votes
        |  FROM e JOIN l0 l ON e.src = l.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0)
        |  GROUP BY 1, 2),
        |a1 AS (
        |  SELECT dst AS node, label, CAST(1 AS BIGINT) AS round
        |  FROM (SELECT dst, label,
        |               ROW_NUMBER() OVER (PARTITION BY dst
        |                                  ORDER BY votes DESC, label ASC) AS rn
        |        FROM v1) WHERE rn = 1),
        |l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM a1),
        |v2 AS (
        |  SELECT e.dst, l.label, COUNT(*) AS votes
        |  FROM e JOIN l1 l ON e.src = l.node
        |  WHERE e.dst NOT IN (SELECT node FROM l1)
        |  GROUP BY 1, 2),
        |a2 AS (
        |  SELECT dst AS node, label, CAST(2 AS BIGINT) AS round
        |  FROM (SELECT dst, label,
        |               ROW_NUMBER() OVER (PARTITION BY dst
        |                                  ORDER BY votes DESC, label ASC) AS rn
        |        FROM v2) WHERE rn = 1),
        |l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM a2)
        |SELECT label, round, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |       CAST(SUM(node) AS BIGINT) AS node_checksum
        |FROM l2 GROUP BY 1, 2""".stripMargin,

    "q149_bpe_merges" -> bpeOracleSql(rounds = 4),

    "q150_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT d FROM ud),
        |w AS (
        |  SELECT DISTINCT ud.user_id, days.d AS wd
        |  FROM ud JOIN days ON ud.d BETWEEN days.d - 6 AND days.d)
        |SELECT wd AS window_day, CAST(COUNT(*) AS BIGINT) AS active_7d
        |FROM w GROUP BY 1""".stripMargin,

    "q151_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM toks WHERE tok <> '' GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
        |SELECT token, cnt FROM c WHERE cnt * 31 > (SELECT n FROM t)""".stripMargin,

    "q152_ks_drift" ->
      """WITH a AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders WHERE o_orderdate < DATE '1995-06-01'),
        |b AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders WHERE o_orderdate >= DATE '1995-06-01'),
        |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS ca FROM a GROUP BY 1),
        |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cb FROM b GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
        |             CAST(COUNT(*) AS BIGINT) AS nv FROM m),
        |c AS (
        |  SELECT v, CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
        |         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b FROM m),
        |d AS (
        |  SELECT v, ABS(cum_a * (SELECT nb FROM t) - cum_b * (SELECT na FROM t)) AS diff
        |  FROM c),
        |top AS (SELECT diff, v FROM d ORDER BY diff DESC, v ASC LIMIT 1)
        |SELECT (SELECT na FROM t) AS n_a, (SELECT nb FROM t) AS n_b,
        |       (SELECT nv FROM t) AS n_values,
        |       (SELECT CAST(diff AS BIGINT) FROM top) AS ks_num,
        |       (SELECT v FROM top) AS ks_at""".stripMargin,

    "q153_ordered_shards" ->
      """WITH r AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS ord
        |  FROM documents),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r)
        |SELECT CAST((ord - 1) * 16 // (SELECT n FROM t) AS INTEGER) AS shard,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(MIN(ord) AS BIGINT) AS min_ordinal,
        |       CAST(MAX(ord) AS BIGINT) AS max_ordinal,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        |FROM r GROUP BY 1""".stripMargin,

    "q154_centroid_similarity" ->
      """WITH q AS (
        |  SELECT CAST(label AS BIGINT) AS lab,
        |         unnest(CAST(embedding AS DOUBLE[])) AS e,
        |         unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |s AS (
        |  SELECT lab, i, CAST(SUM(CAST(ROUND(e * 1000.0) AS BIGINT)) AS BIGINT) AS sv
        |  FROM q GROUP BY 1, 2),
        |n AS (SELECT CAST(label AS BIGINT) AS lab, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM embeddings GROUP BY 1),
        |d AS (
        |  SELECT a.lab AS la, b.lab AS lb, CAST(SUM(a.sv * b.sv) AS BIGINT) AS dot
        |  FROM s a JOIN s b ON a.i = b.i GROUP BY 1, 2)
        |SELECT x.la AS label_a, x.lb AS label_b, na.n AS n_a, nb.n AS n_b,
        |       x.dot AS dot_ab, aa.dot AS dot_aa, bb.dot AS dot_bb
        |FROM d x
        |JOIN d aa ON aa.la = x.la AND aa.lb = x.la
        |JOIN d bb ON bb.la = x.lb AND bb.lb = x.lb
        |JOIN n na ON na.lab = x.la
        |JOIN n nb ON nb.lab = x.lb
        |WHERE x.la < x.lb""".stripMargin,

    "q155_cooccurrence_lift" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |dt2 AS (SELECT doc_id, tok FROM dt WHERE tok <> ''),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM dt2),
        |tot AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS na FROM dt2 GROUP BY 1),
        |p AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM dt2 a JOIN dt2 b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2)
        |SELECT tok_a, tok_b, n_ab, ta.na AS n_a, tb.na AS n_b,
        |       (SELECT nd FROM nd) AS n_docs,
        |       n_ab * (SELECT nd FROM nd) AS lift_num,
        |       ta.na * tb.na AS lift_den
        |FROM p
        |JOIN tot ta ON ta.tok = tok_a
        |JOIN tot tb ON tb.tok = tok_b
        |ORDER BY n_ab DESC, tok_a ASC, tok_b ASC LIMIT 20""".stripMargin,

    "q156_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                 CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
        |       WHERE term IN ('scan', 'merge', 'vector') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |cb AS (
        |  SELECT tf.doc_id,
        |         CAST(ROUND(
        |           ln(1e0 + (stats.n - dfreq.df + 0.5e0) / (dfreq.df + 0.5e0))
        |           * (tf.tf * 2.2e0)
        |           / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0
        |                * (dl.dl / (CAST(stats.total_tokens AS DOUBLE) / stats.n))))
        |           * 1000000e0) AS BIGINT) AS c
        |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
        |bmtop AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micros
        |  FROM cb GROUP BY 1
        |  ORDER BY score_micros DESC, doc_id LIMIT 20),
        |lex AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_micros DESC, doc_id)
        |           AS rank_lex
        |  FROM bmtop),
        |costop AS (
        |  SELECT e.vec_id AS doc_id,
        |         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
        |  FROM embeddings e
        |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY cos_sim DESC, e.vec_id LIMIT 20),
        |sem AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)
        |           AS rank_sem
        |  FROM costop)
        |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
        |       rank_lex, rank_sem,
        |       COALESCE(1000000 // (60 + rank_lex), 0)
        |         + COALESCE(1000000 // (60 + rank_sem), 0) AS rrf_micros
        |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        |ORDER BY rrf_micros DESC, doc_id ASC LIMIT 10""".stripMargin,

    "q157_prefix_jaccard_join" ->
      s"""WITH $docsCorpusSql,
         |sh AS (
         |  SELECT doc_id, ${gramsSql("text")} AS grams
         |  FROM corpus)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter_size,
         |       CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT)
         |         AS union_size
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) * 1000
         |      >= CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) * 600"""
      .stripMargin,

    "q158_join_view_maintenance" ->
      """WITH a1 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 0 THEN 'SEG_NEW' ELSE c_mktsegment END
        |           AS c_mktsegment
        |  FROM customer),
        |b1 AS (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |           + CASE WHEN o_orderkey % 11 = 0 THEN 500 ELSE 0 END AS cents
        |  FROM orders)
        |SELECT a1.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(b1.cents) AS BIGINT) AS cents_sum,
        |       CAST(SUM(b1.o_orderkey) AS BIGINT) AS key_checksum
        |FROM a1 JOIN b1 ON b1.o_custkey = a1.c_custkey
        |GROUP BY 1""".stripMargin,

    "q159_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
        |t AS (
        |  SELECT event_type AS step_1,
        |         lead(event_type, 1) OVER (PARTITION BY user_id
        |                                   ORDER BY us, event_id) AS step_2,
        |         lead(event_type, 2) OVER (PARTITION BY user_id
        |                                   ORDER BY us, event_id) AS step_3
        |  FROM e)
        |SELECT step_1, step_2, step_3, CAST(COUNT(*) AS BIGINT) AS n_paths
        |FROM t WHERE step_2 IS NOT NULL AND step_3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, step_1 ASC, step_2 ASC, step_3 ASC
        |LIMIT 10""".stripMargin,

    "q160_bootstrap_replicas" ->
      s"""WITH reps AS (SELECT unnest(range(0, 16)) AS replica),
         |j AS (
         |  SELECT r.replica,
         |         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
         |         ${h60Sql("'boot' || ':' || CAST(r.replica AS VARCHAR) || ':' || CAST(o.o_orderkey AS VARCHAR)")} % 2 = 0
         |           AS is_member
         |  FROM reps r CROSS JOIN orders o)
         |SELECT replica,
         |       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n,
         |       CAST(SUM(CASE WHEN is_member THEN cents ELSE 0 END) AS BIGINT) AS sum_v
         |FROM j GROUP BY 1""".stripMargin,

    "q161_key_cardinality" ->
      """WITH c AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS rows_per_key
        |  FROM lineitem GROUP BY 1)
        |SELECT rows_per_key, CAST(COUNT(*) AS BIGINT) AS n_keys
        |FROM c GROUP BY 1""".stripMargin,

    "q162_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(ROUND(value * 100) AS BIGINT) * 600000 AS e
        |  FROM events WHERE value IS NOT NULL),
        |d AS (
        |  SELECT event_type, s AS t, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT event_type, e AS t, -1 AS delta FROM iv),
        |r AS (
        |  SELECT event_type, SUM(delta) OVER (
        |    PARTITION BY event_type ORDER BY t, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM d)
        |SELECT event_type, CAST(MAX(open) AS BIGINT) AS peak_open,
        |       CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
        |FROM r GROUP BY 1""".stripMargin,

    "q163_fleiss_kappa" ->
      """WITH v AS (
        |  SELECT doc_id,
        |         CASE WHEN (doc_id * 31 + a * 17) % 10 < 7 THEN lang
        |              ELSE ['en','de','fr'][CAST((doc_id + a) % 3 AS INT) + 1]
        |         END AS label
        |  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS a) t),
        |vc AS (SELECT doc_id, label, CAST(COUNT(*) AS BIGINT) AS n_ij
        |       FROM v GROUP BY 1, 2),
        |pi AS (SELECT doc_id, CAST(SUM(n_ij * n_ij) AS BIGINT) AS sq,
        |              CAST(SUM(n_ij) AS BIGINT) AS n
        |       FROM vc GROUP BY 1),
        |ist AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |               CAST(MAX(n) AS BIGINT) AS n_raters,
        |               CAST(SUM(sq - n) AS BIGINT) AS a
        |        FROM pi),
        |lst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
        |               CAST(SUM(c * c) AS BIGINT) AS c
        |        FROM (SELECT label, CAST(SUM(n_ij) AS BIGINT) AS c
        |              FROM vc GROUP BY 1) m)
        |SELECT n_items, n_raters, n_labels,
        |       1000000 * a // (n_items * n_raters * (n_raters - 1)) AS po_micro,
        |       1000000 * c // (n_items * n_raters * n_items * n_raters) AS pe_micro,
        |       (1000000 * (a * n_items * n_raters - c * (n_raters - 1)))
        |         // ((n_raters - 1) *
        |             (n_items * n_raters * n_items * n_raters - c)) AS kappa_micro
        |FROM ist CROSS JOIN lst""".stripMargin,

    "q164_spike_detection" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
        |dense AS (
        |  SELECT event_type, CAST(unnest(generate_series(
        |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM span),
        |g AS (
        |  SELECT dense.event_type, dense.d, COALESCE(daily.n, 0) AS n
        |  FROM dense LEFT JOIN daily
        |    ON dense.event_type = daily.event_type AND dense.d = daily.d),
        |w AS (
        |  SELECT event_type, d, n,
        |         COUNT(*) OVER win AS cnt,
        |         CAST(ROUND(MEDIAN(n) OVER win) AS BIGINT) AS med
        |  FROM g
        |  WINDOW win AS (PARTITION BY event_type ORDER BY d
        |                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, d AS day, n, med AS trailing_median,
        |       (n * 100 > 200 * med) AS is_spike
        |FROM w WHERE cnt = 7""".stripMargin,

    "q165_canonical_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, upper(text) FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, replace(text, ' ', '  ') FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 400000, text || '!!' FROM documents WHERE doc_id % 11 = 0),
        |canon AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS c
        |  FROM corpus)
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS rep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_members,
        |       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_raw_variants
        |FROM canon GROUP BY c HAVING COUNT(*) > 1""".stripMargin,

    "q166_twap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         MAX(CAST(ROUND(value * 100) AS BIGINT)) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |d AS (
        |  SELECT user_id, v,
        |         lead(t) OVER (PARTITION BY user_id ORDER BY t) - t AS dt
        |  FROM e)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |       CAST(SUM(dt) AS BIGINT) AS span_us,
        |       CAST(SUM(v * dt) // SUM(dt) AS BIGINT) AS twap_cents
        |FROM d WHERE dt IS NOT NULL GROUP BY 1""".stripMargin,

    "q167_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT user_id, t, cents,
        |         CASE WHEN lag(t) OVER w IS NULL
        |                OR t - lag(t) OVER w > 28800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (
        |  SELECT user_id, t, cents,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, MIN(t) AS session_start_us,
        |       MAX(t) + 28800000000 AS session_end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(cents) AS BIGINT) AS value_cents
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q168_quantile_normalize" ->
      """WITH g AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(row_number() OVER (
        |           PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r,
        |         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS m
        |  FROM documents),
        |o AS (
        |  SELECT n_chars AS norm_n_chars,
        |         CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS gr
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents)
        |SELECT g.doc_id, g.source, g.n_chars, o.norm_n_chars
        |FROM g CROSS JOIN n
        |JOIN o ON o.gr = (g.r * n.nn + g.m - 1) // g.m""".stripMargin,

    "q169_agg_pushdown" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       MIN(l_orderkey) AS min_l_orderkey, MAX(l_orderkey) AS max_l_orderkey,
        |       MIN(l_quantity) AS min_l_quantity, MAX(l_quantity) AS max_l_quantity,
        |       MIN(l_extendedprice) AS min_l_extendedprice,
        |       MAX(l_extendedprice) AS max_l_extendedprice
        |FROM lineitem""".stripMargin,

    "q170_streaks" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |i AS (
        |  SELECT user_id,
        |         date_diff('day', DATE '1970-01-01', d)
        |           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
        |  FROM a),
        |l AS (SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |       CAST(MAX(len) AS BIGINT) AS longest_streak
        |FROM l GROUP BY 1""".stripMargin,

    "q171_group_ols" ->
      """WITH li AS (
        |  SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS x,
        |         CAST(ROUND(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |         CAST(SUM(x * x) AS HUGEINT) AS sxx,
        |         CAST(SUM(x * y) AS HUGEINT) AS sxy
        |  FROM li GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n,
        |         n * sxy - sx * sy AS num, n * sxx - sx * sx AS den, sx, sy
        |  FROM s)
        |SELECT l_returnflag, n,
        |       CASE WHEN den = 0 THEN NULL
        |            ELSE CAST((1000000 * num) // den AS BIGINT) END AS slope_micro,
        |       CASE WHEN den = 0 THEN NULL
        |            ELSE CAST((1000000 * (sy * den - num * sx)) // (n * den) AS BIGINT)
        |       END AS intercept_micro
        |FROM d""".stripMargin,

    "q172_stream_stream_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS vt, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS ct, event_id AS click_id
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(view_id) AS BIGINT) AS view_checksum,
        |       CAST(SUM(click_id) AS BIGINT) AS click_checksum
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.ct >= v.vt AND c.ct <= v.vt + 3600000000
        |GROUP BY 1""".stripMargin,

    "q173_lsh_index_maintenance" -> {
      val corpusCte =
        """corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, regexp_replace(text, '^\S+\s*', '') FROM documents
          |  WHERE doc_id % 2 = 0
          |  UNION ALL
          |  SELECT doc_id + 200000, regexp_replace(text, '^\S+\s*', '') FROM documents
          |  WHERE doc_id % 2 = 1)""".stripMargin
      s"""WITH ${minhashPairsCtesOver(corpusCte)}
         |SELECT id_a AS index_id, id_b AS delta_id, jaccard,
         |       CAST(CASE WHEN id_b >= 200000 THEN 2 ELSE 1 END AS INT) AS batch
         |FROM pairs WHERE id_b >= 100000 AND jaccard >= 0.5""".stripMargin
    },

    "q174_ab_test" ->
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT day,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN cents ELSE 0 END) AS HUGEINT) AS sa,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN cents ELSE 0 END) AS HUGEINT) AS sb,
        |         CAST(SUM(CASE WHEN event_type = 'click' THEN cents * cents ELSE 0 END) AS HUGEINT) AS ssa,
        |         CAST(SUM(CASE WHEN event_type = 'view' THEN cents * cents ELSE 0 END) AS HUGEINT) AS ssb
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT day, n_a, n_b,
        |         (sa * n_b - sb * n_a) * (sa * n_b - sb * n_a) * (n_a - 1) * (n_b - 1) AS num,
        |         (n_a * ssa - sa * sa) * n_b * n_b * (n_b - 1)
        |           + (n_b * ssb - sb * sb) * n_a * n_a * (n_a - 1) AS den
        |  FROM g)
        |SELECT day, n_a, n_b,
        |       CASE WHEN n_a >= 2 AND n_b >= 2 AND den <> 0
        |            THEN CAST((1000000 * num) // den AS BIGINT) END AS t2_micro
        |FROM d""".stripMargin,

    "q175_concentration" ->
      """WITH c AS (
        |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |k AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_entities,
        |         CAST(SUM(n) AS BIGINT) AS n_rows,
        |         CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sq
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_entities, n_rows,
        |       CAST((1000000 * sq) // (CAST(n_rows AS HUGEINT) * n_rows) AS BIGINT) AS hhi_micro
        |FROM k""".stripMargin,

    "q176_autocorr" ->
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         MAX(CAST(ROUND(value * 100) AS BIGINT)) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |p AS (
        |  SELECT user_id, x, lead(x) OVER (PARTITION BY user_id ORDER BY t) AS y
        |  FROM o),
        |g AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |         CAST(SUM(x * x) AS HUGEINT) AS sxx, CAST(SUM(y * y) AS HUGEINT) AS syy,
        |         CAST(SUM(x * y) AS HUGEINT) AS sxy
        |  FROM p WHERE y IS NOT NULL GROUP BY 1),
        |d AS (
        |  SELECT user_id, n_pairs,
        |         n_pairs * sxy - sx * sy AS cov,
        |         n_pairs * sxx - sx * sx AS vx,
        |         n_pairs * syy - sy * sy AS vy
        |  FROM g)
        |SELECT user_id, n_pairs,
        |       CASE WHEN n_pairs >= 2 AND vx <> 0 AND vy <> 0
        |            THEN CAST(CASE WHEN cov < 0
        |                           THEN -((1000000 * cov * cov) // (vx * vy))
        |                           ELSE (1000000 * cov * cov) // (vx * vy) END AS BIGINT)
        |       END AS r2_signed_micro
        |FROM d""".stripMargin,

    "q177_fd_audit" ->
      """WITH f1 AS (
        |  SELECT o_orderkey, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |f2 AS (
        |  SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS v
        |  FROM events GROUP BY 1)
        |SELECT 'orderkey_determines_custkey' AS fd,
        |       CAST(COUNT(*) AS BIGINT) AS n_keys,
        |       CAST(SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
        |       CAST(MAX(v) AS BIGINT) AS max_variants
        |FROM f1
        |UNION ALL
        |SELECT 'user_determines_event_type', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(MAX(v) AS BIGINT)
        |FROM f2""".stripMargin,

    "q178_mv_rewrite" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders GROUP BY 1""".stripMargin,

    "q179_bpe_encode" -> bpeEncodeOracleSql(4),

    "q180_quota_allocation" ->
      """WITH c AS (
        |  SELECT source AS "group", CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot FROM c),
        |f AS (
        |  SELECT "group", n_rows,
        |         (1000 * n_rows) // tot AS fl, (1000 * n_rows) % tot AS rem
        |  FROM c CROSS JOIN t),
        |k AS (SELECT CAST(1000 - SUM(fl) AS BIGINT) AS k FROM f),
        |r AS (SELECT "group",
        |             row_number() OVER (ORDER BY rem DESC, "group" ASC) AS rk
        |      FROM f)
        |SELECT f."group", f.n_rows,
        |       CAST(f.fl + CASE WHEN r.rk <= k.k THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM f JOIN r USING ("group") CROSS JOIN k""".stripMargin,

    "q181_skyline" ->
      """WITH pts AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
        |         CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS y
        |  FROM documents)
        |SELECT doc_id, x, y FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))""".stripMargin,

    "q182_grouped_topk" ->
      """WITH o AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, o_orderkey, cents,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY cents DESC, o_orderkey DESC) AS rk
        |  FROM o)
        |SELECT o_orderpriority, o_orderkey, cents FROM r WHERE rk <= 3""".stripMargin,

    "q183_revenue_recognition" ->
      """WITH o AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS m0
        |  FROM orders),
        |e AS (SELECT amt, m0, unnest(range(0, 3)) AS i FROM o)
        |SELECT CAST(m0 + i * INTERVAL 1 MONTH AS DATE) AS month,
        |       CAST(COUNT(*) AS BIGINT) AS n_slices,
        |       CAST(SUM(amt // 3 + CASE WHEN i < amt % 3 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS recognized_cents
        |FROM e GROUP BY 1""".stripMargin,

    "q184_greedy_coverage" -> {
      def g(prev: Option[Int]) = prev match {
        case None =>
          """g1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
            |       FROM shd GROUP BY 1)""".stripMargin
        case Some(i) =>
          s"""g${i + 1} AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM shd WHERE g NOT IN (SELECT g FROM c$i) GROUP BY 1)""".stripMargin
      }
      def w(i: Int) =
        s"w$i AS (SELECT doc_id, n FROM g$i ORDER BY n DESC, doc_id ASC LIMIT 1)"
      def c(i: Int) =
        if (i == 1)
          "c1 AS (SELECT DISTINCT g FROM shd WHERE doc_id = (SELECT doc_id FROM w1))"
        else
          s"""c$i AS (SELECT g FROM c${i - 1}
             |       UNION
             |       SELECT g FROM shd WHERE doc_id = (SELECT doc_id FROM w$i))""".stripMargin
      def sel(i: Int) =
        s"""SELECT CAST($i AS INT) AS round, (SELECT doc_id FROM w$i) AS doc_id,
           |       (SELECT n FROM w$i) AS n_new,
           |       (SELECT CAST(COUNT(*) AS BIGINT) FROM c$i) AS n_covered""".stripMargin
      s"""WITH shd AS (
         |  SELECT DISTINCT doc_id, unnest(${gramsSql("text")}) AS g FROM documents),
         |${g(None)},
         |${w(1)},
         |${c(1)},
         |${g(Some(1))},
         |${w(2)},
         |${c(2)},
         |${g(Some(2))},
         |${w(3)},
         |${c(3)}
         |${sel(1)}
         |UNION ALL ${sel(2)}
         |UNION ALL ${sel(3)}""".stripMargin
    },

    "q185_group_ols2" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |         CAST(ROUND(l_quantity) AS BIGINT) AS x1,
        |         CAST(ROUND(l_discount * 100) AS BIGINT) AS x2,
        |         CAST(ROUND(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
        |         CAST(SUM(y) AS HUGEINT) AS sy,
        |         CAST(SUM(x1 * x1) AS HUGEINT) AS s11,
        |         CAST(SUM(x2 * x2) AS HUGEINT) AS s22,
        |         CAST(SUM(x1 * x2) AS HUGEINT) AS s12,
        |         CAST(SUM(x1 * y) AS HUGEINT) AS s1y,
        |         CAST(SUM(x2 * y) AS HUGEINT) AS s2y
        |  FROM li GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n,
        |         n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |           + s2 * (s1 * s12 - s11 * s2) AS det,
        |         sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |           + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |         n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |           + s2 * (s1 * s2y - s1y * s2) AS det1,
        |         n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |           + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM s)
        |SELECT l_returnflag, n,
        |       CASE WHEN det = 0 THEN NULL
        |            ELSE CAST((1000000 * det0) // det AS BIGINT) END AS b0_micro,
        |       CASE WHEN det = 0 THEN NULL
        |            ELSE CAST((1000000 * det1) // det AS BIGINT) END AS b1_micro,
        |       CASE WHEN det = 0 THEN NULL
        |            ELSE CAST((1000000 * det2) // det AS BIGINT) END AS b2_micro
        |FROM d""".stripMargin,

    "q186_tpch_q3" ->
      """SELECT l_orderkey,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents,
        |       o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q187_tpch_q5" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,

    "q188_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents,
        |       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
        |       n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, acctbal_cents, n_name
        |ORDER BY revenue_cents DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q189_partition_overwrite" ->
      """WITH o AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT month, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(cents) AS BIGINT) AS rev_cents
        |FROM o
        |WHERE NOT (month = '1996-03' AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,

    "q190_cube" ->
      """SELECT c_mktsegment, n_name,
        |       CAST(GROUPING(c_mktsegment) AS TINYINT) AS g_seg,
        |       CAST(GROUPING(n_name) AS TINYINT) AS g_nat,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE(c_mktsegment, n_name)""".stripMargin,

    "q191_interval_union" ->
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(ROUND(value * 100) AS BIGINT) * 600000 AS e
        |  FROM events WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, s, e,
        |         MAX(e) OVER (PARTITION BY event_type ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |f AS (
        |  SELECT event_type, s, e,
        |         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END) OVER (
        |           PARTITION BY event_type ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM m),
        |g AS (
        |  SELECT event_type, seg, MIN(s) AS cs, MAX(e) AS ce,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM f GROUP BY 1, 2)
        |SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_intervals,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments,
        |       CAST(SUM(ce - cs) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1""".stripMargin,

    "q192_knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |         label AS true_label
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label
        |  FROM embeddings WHERE vec_id >= 20),
        |nn AS (
        |  SELECT query_id, label FROM (
        |    SELECT query_id, neighbor_id, c.label,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY ROUND(list_cosine_similarity(qv, cv), 6) DESC,
        |                      neighbor_id) AS rank
        |    FROM q, c) t
        |  WHERE rank <= 5),
        |v AS (SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
        |      FROM nn GROUP BY 1, 2),
        |w AS (
        |  SELECT query_id, label, n_votes,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY n_votes DESC, label ASC) AS rk,
        |         CAST(SUM(n_votes) OVER (PARTITION BY query_id) AS BIGINT) AS n_total
        |  FROM v)
        |SELECT w.query_id AS vec_id, w.label AS predicted, w.n_votes, w.n_total,
        |       q.true_label, (w.label = q.true_label) AS correct
        |FROM w JOIN q ON q.query_id = w.query_id
        |WHERE w.rk = 1""".stripMargin,

    "q193_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
        |dense AS (
        |  SELECT event_type, CAST(unnest(generate_series(
        |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM span),
        |g AS (
        |  SELECT dense.event_type, dense.d, COALESCE(daily.n, 0) AS n,
        |         CAST((date_diff('day', DATE '1970-01-01', dense.d) + 4) % 7 AS INT) AS dow
        |  FROM dense LEFT JOIN daily
        |    ON dense.event_type = daily.event_type AND dense.d = daily.d),
        |pd AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_days,
        |              CAST(SUM(n) AS BIGINT) AS n_events
        |       FROM g GROUP BY 1, 2),
        |pk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS days_all,
        |              CAST(SUM(n) AS BIGINT) AS events_all
        |       FROM g GROUP BY 1)
        |SELECT pd.event_type, pd.dow, pd.n_days, pd.n_events,
        |       CASE WHEN events_all > 0 AND n_days > 0
        |            THEN (1000000 * n_events * days_all) // (events_all * n_days)
        |       END AS index_micro
        |FROM pd JOIN pk USING (event_type)""".stripMargin,

    "q194_benford" -> {
      val vals = graft.engine.Profile.BenfordPermille
        .map { case (d, p) => s"($d, CAST($p AS BIGINT))" }.mkString(", ")
      s"""WITH v AS (
         |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         |o AS (
         |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
         |         CAST(COUNT(*) AS BIGINT) AS n_obs
         |  FROM v WHERE c > 0 GROUP BY 1),
         |e AS (SELECT * FROM (VALUES $vals) t(digit, expected_permille)),
         |n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS tot FROM o)
         |SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs, e.expected_permille,
         |       1000 * COALESCE(o.n_obs, 0) // tot AS observed_permille,
         |       CAST((1000000 * CAST(1000 * COALESCE(o.n_obs, 0)
         |                            - e.expected_permille * tot AS HUGEINT)
         |             * (1000 * COALESCE(o.n_obs, 0) - e.expected_permille * tot))
         |            // (1000 * e.expected_permille * tot) AS BIGINT) AS chi_term_micro
         |FROM e LEFT JOIN o USING (digit) CROSS JOIN n""".stripMargin
    },

    "q195_audience_overlap" ->
      """WITH ec AS (SELECT DISTINCT user_id, event_type FROM events),
        |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ec GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS cat_a, b.event_type AS cat_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM ec a JOIN ec b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT cat_a, cat_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |       1000 * n_both // (sa.n + sb.n - n_both) AS jaccard_milli
        |FROM p JOIN s sa ON sa.event_type = cat_a
        |JOIN s sb ON sb.event_type = cat_b""".stripMargin,

    // The (level, trend) state is PACKED into one BIGINT — `(l+2³⁰)·2³¹ +
    // (b+2³⁰)` — because this container's DuckDB (1.0.0) mis-chains
    // list_reduce when the accumulator is a STRUCT (each step alone is
    // right; chained iterations corrupt a field — reproduced in isolation).
    // Scalar-BIGINT folds chain correctly (q140's EWMA relies on that).
    "q196_holt_linear" -> {
      val W = 2147483648L; val OFF = 1073741824L
      val l = s"(acc // $W - $OFF)"
      val b = s"(acc % $W - $OFF)"
      val ln = s"((300 * x + 700 * ($l + $b)) // 1000)"
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS t, event_id,
         |         CAST(ROUND(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |s AS (SELECT user_id, list(cents ORDER BY t, event_id) AS vals
         |      FROM e GROUP BY 1),
         |f AS (
         |  SELECT user_id, CAST(len(vals) AS BIGINT) AS n_points,
         |         list_reduce(
         |           list_prepend((vals[1] + $OFF) * $W + (vals[2] - vals[1] + $OFF),
         |                        vals[3:]),
         |           (acc, x) -> ($ln + $OFF) * $W
         |                       + ((100 * ($ln - $l) + 900 * $b) // 1000 + $OFF)) AS st
         |  FROM s WHERE len(vals) >= 2)
         |SELECT user_id, n_points,
         |       CAST(st // $W - $OFF AS BIGINT) AS level,
         |       CAST(st % $W - $OFF AS BIGINT) AS trend,
         |       CAST((st // $W - $OFF) + (st % $W - $OFF) AS BIGINT) AS forecast_1
         |FROM f""".stripMargin
    },

    "q197_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
        |dense AS (
        |  SELECT event_type, CAST(unnest(generate_series(
        |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM span),
        |g AS (
        |  SELECT dense.event_type, dense.d, COALESCE(daily.n, 0) AS n
        |  FROM dense LEFT JOIN daily
        |    ON dense.event_type = daily.event_type AND dense.d = daily.d),
        |t AS (
        |  SELECT event_type, d, n,
        |         CAST(row_number() OVER win AS BIGINT) AS t,
        |         CAST(SUM(n) OVER win AS BIGINT) AS prefix
        |  FROM g
        |  WINDOW win AS (PARTITION BY event_type ORDER BY d
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS days,
        |               CAST(SUM(n) AS BIGINT) AS total
        |        FROM g GROUP BY 1),
        |sc AS (
        |  SELECT t.event_type, t.d, ABS(days * prefix - t.t * total) AS s, days,
        |         row_number() OVER (PARTITION BY t.event_type
        |           ORDER BY ABS(days * prefix - t.t * total) DESC, t.d ASC) AS rk
        |  FROM t JOIN tot USING (event_type))
        |SELECT event_type, d AS change_day, CAST(s AS BIGINT) AS cusum_peak,
        |       days AS n_days
        |FROM sc WHERE rk = 1""".stripMargin,

    "q198_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT d FROM ud),
        |w7 AS (
        |  SELECT DISTINCT ud.user_id, days.d AS wd
        |  FROM ud JOIN days ON ud.d BETWEEN days.d - 6 AND days.d),
        |a7 AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS active_7d FROM w7 GROUP BY 1),
        |a1 AS (SELECT d AS wd, CAST(COUNT(*) AS BIGINT) AS active_1d FROM ud GROUP BY 1)
        |SELECT a1.wd AS window_day, active_1d, active_7d,
        |       1000 * active_1d // active_7d AS stickiness_milli
        |FROM a1 JOIN a7 USING (wd)""".stripMargin,

    "q199_weighted_median" ->
      """WITH v AS (
        |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |         l_orderkey, l_linenumber, CAST(ROUND(l_quantity) AS BIGINT) AS w
        |  FROM lineitem),
        |o AS (
        |  SELECT price_cents,
        |         SUM(w) OVER (ORDER BY price_cents, l_orderkey, l_linenumber
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |         CAST(row_number() OVER (
        |           ORDER BY price_cents, l_orderkey, l_linenumber) AS BIGINT) AS rn
        |  FROM v),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(w) AS BIGINT) AS tw FROM v)
        |SELECT t.n, t.tw AS total_weight,
        |       (SELECT rn FROM o WHERE cw >= (t.tw + 1) // 2
        |        ORDER BY rn LIMIT 1) AS k,
        |       (SELECT price_cents FROM o WHERE cw >= (t.tw + 1) // 2
        |        ORDER BY rn LIMIT 1) AS median
        |FROM t""".stripMargin,

    "q200_hierarchy_share" ->
      """WITH rev AS (
        |  SELECT r_name, n_name,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |rt AS (SELECT r_name, CAST(SUM(rev_cents) AS BIGINT) AS region_rev_cents
        |       FROM rev GROUP BY 1),
        |gt AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_rev_cents FROM rev)
        |SELECT rev.r_name, rev.n_name, rev.rev_cents, rt.region_rev_cents,
        |       1000 * rev.rev_cents // rt.region_rev_cents AS share_of_region_milli,
        |       1000 * rt.region_rev_cents // gt.total_rev_cents AS region_share_milli
        |FROM rev JOIN rt USING (r_name) CROSS JOIN gt""".stripMargin,

    "q201_dynamic_partition_pruning" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-04', '1996-05', '1996-06')
        |GROUP BY 1""".stripMargin,

    "q202_rfm_scores" -> {
      def cutCte(metric: String, tag: String) =
        s"""${tag}r AS (
           |  SELECT $metric AS v, row_number() OVER (ORDER BY $metric, o_custkey) AS rk
           |  FROM c),
           |$tag AS (
           |  SELECT MAX(CASE WHEN rk = (1 * n.n) // 5 THEN v END) AS c1,
           |         MAX(CASE WHEN rk = (2 * n.n) // 5 THEN v END) AS c2,
           |         MAX(CASE WHEN rk = (3 * n.n) // 5 THEN v END) AS c3,
           |         MAX(CASE WHEN rk = (4 * n.n) // 5 THEN v END) AS c4
           |  FROM ${tag}r CROSS JOIN n)""".stripMargin
      def bucket(metric: String, tag: String) =
        s"1 + CAST($metric > $tag.c1 AS BIGINT) + CAST($metric > $tag.c2 AS BIGINT)" +
          s" + CAST($metric > $tag.c3 AS BIGINT) + CAST($metric > $tag.c4 AS BIGINT)"
      s"""WITH o AS (
         |  SELECT o_custkey, o_orderdate,
         |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |mx AS (SELECT MAX(o_orderdate) AS mt FROM o),
         |c AS (
         |  SELECT o_custkey,
         |         CAST(date_diff('day', MAX(o_orderdate), mt) AS BIGINT) AS r_days,
         |         CAST(COUNT(*) AS BIGINT) AS f, CAST(SUM(cents) AS BIGINT) AS m_cents
         |  FROM o CROSS JOIN mx GROUP BY o_custkey, mt),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
         |${cutCte("r_days", "rc")},
         |${cutCte("f", "fc")},
         |${cutCte("m_cents", "mc")}
         |SELECT o_custkey, r_days, f, m_cents,
         |       ${bucket("r_days", "rc")} AS r_q,
         |       ${bucket("f", "fc")} AS f_q,
         |       ${bucket("m_cents", "mc")} AS m_q,
         |       (${bucket("r_days", "rc")}) * 100 + (${bucket("f", "fc")}) * 10
         |         + (${bucket("m_cents", "mc")}) AS rfm
         |FROM c CROSS JOIN rc CROSS JOIN fc CROSS JOIN mc""".stripMargin
    },

    "q203_fifo_allocation" ->
      """WITH li AS (
        |  SELECT l_partkey, l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS q,
        |         l_shipdate, l_orderkey, l_linenumber
        |  FROM lineitem),
        |sup AS (
        |  SELECT l_partkey,
        |         SUM(q) OVER w - q AS s_start, SUM(q) OVER w AS s_end
        |  FROM li WHERE l_returnflag = 'N'
        |  WINDOW w AS (PARTITION BY l_partkey
        |               ORDER BY l_shipdate, l_orderkey, l_linenumber
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dem AS (
        |  SELECT l_partkey,
        |         SUM(q) OVER w - q AS d_start, SUM(q) OVER w AS d_end
        |  FROM li WHERE l_returnflag = 'R'
        |  WINDOW w AS (PARTITION BY l_partkey
        |               ORDER BY l_shipdate, l_orderkey, l_linenumber
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (
        |  SELECT sup.l_partkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(SUM(LEAST(s_end, d_end) - GREATEST(s_start, d_start)) AS BIGINT)
        |           AS matched_qty
        |  FROM sup JOIN dem ON sup.l_partkey = dem.l_partkey
        |    AND s_start < d_end AND d_start < s_end
        |  GROUP BY 1),
        |st AS (SELECT l_partkey, CAST(MAX(s_end) AS BIGINT) AS supply_qty
        |       FROM sup GROUP BY 1),
        |dt AS (SELECT l_partkey, CAST(MAX(d_end) AS BIGINT) AS demand_qty
        |       FROM dem GROUP BY 1)
        |SELECT COALESCE(st.l_partkey, dt.l_partkey) AS l_partkey,
        |       COALESCE(n_pairs, 0) AS n_pairs,
        |       COALESCE(matched_qty, 0) AS matched_qty,
        |       COALESCE(supply_qty, 0) AS supply_qty,
        |       COALESCE(demand_qty, 0) AS demand_qty
        |FROM st FULL OUTER JOIN dt ON st.l_partkey = dt.l_partkey
        |LEFT JOIN p ON COALESCE(st.l_partkey, dt.l_partkey) = p.l_partkey""".stripMargin,

    "q204_component_sizes" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |walk(id, lab) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, w.lab FROM walk w JOIN sym s ON w.id = s.src),
         |comp AS (
         |  SELECT component, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT id, MIN(lab) AS component FROM walk GROUP BY id) t
         |  GROUP BY 1)
         |SELECT n AS component_size, CAST(COUNT(*) AS BIGINT) AS n_components
         |FROM comp GROUP BY 1""".stripMargin,

    "q205_decay_score" -> {
      val vals = DecayPermille
        .map { case (a, w) => s"($a, CAST($w AS BIGINT))" }.mkString(", ")
      s"""WITH e AS (
         |  SELECT user_id, CAST(ts AS DATE) AS d,
         |         CAST(ROUND(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |mx AS (SELECT MAX(d) AS mxd FROM e),
         |w AS (SELECT * FROM (VALUES $vals) t(age_days, w_permille))
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |       CAST(SUM(cents * w_permille) AS BIGINT) AS score_milli
         |FROM e CROSS JOIN mx
         |JOIN w ON w.age_days = date_diff('day', e.d, mx.mxd)
         |GROUP BY 1""".stripMargin
    },

    "q206_pareto_share" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |             CAST(SUM(m_cents) AS BIGINT) AS total_cents,
        |             CAST(COUNT(*) // 5 AS BIGINT) AS k
        |      FROM c),
        |r AS (SELECT m_cents,
        |             row_number() OVER (ORDER BY m_cents DESC, o_custkey ASC) AS rk
        |      FROM c),
        |tp AS (SELECT CAST(SUM(m_cents) AS BIGINT) AS top_cents
        |       FROM r CROSS JOIN n WHERE rk <= n.k)
        |SELECT n.n_customers, n.k, tp.top_cents, n.total_cents,
        |       1000 * tp.top_cents // n.total_cents AS top_share_milli
        |FROM n CROSS JOIN tp""".stripMargin,

    "q207_duplicate_payments" ->
      """WITH base AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |o AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT o_custkey, o_orderkey + 10000000, o_orderdate + INTERVAL 2 DAY,
        |         cents
        |  FROM base WHERE o_orderkey % 100 = 0)
        |SELECT a.o_custkey, a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
        |       a.cents,
        |       CAST(ABS(date_diff('day', a.o_orderdate, b.o_orderdate)) AS BIGINT)
        |         AS gap_days
        |FROM o a JOIN o b
        |  ON a.o_custkey = b.o_custkey AND a.cents = b.cents
        |  AND a.o_orderkey < b.o_orderkey
        |WHERE ABS(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 7""".stripMargin,

    "q208_view_abandonment" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS vt, event_id FROM events
        |  WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS ct FROM events
        |  WHERE event_type = 'click'),
        |ab AS (
        |  SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_abandoned
        |  FROM v WHERE NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.user_id = v.user_id
        |      AND c.ct >= v.vt AND c.ct <= v.vt + 3600000000)
        |  GROUP BY 1),
        |tv AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_views
        |       FROM v GROUP BY 1)
        |SELECT tv.user_id, tv.n_views,
        |       COALESCE(ab.n_abandoned, 0) AS n_abandoned,
        |       1000 * COALESCE(ab.n_abandoned, 0) // tv.n_views AS abandon_milli
        |FROM tv LEFT JOIN ab USING (user_id)""".stripMargin,

    "q209_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |       CAST(o_orderdate AS DATE) AS orderdate,
        |       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        |       CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 180)
        |GROUP BY c_name, c_custkey, o_orderkey, orderdate, totalprice_cents
        |ORDER BY totalprice_cents DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q210_tpch_q21" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q211_medallion_category" -> medallionCategoryOracleSql,
    "q212_medallion_activity" -> medallionEventsOracleSql,
    "q213_medallion_inventory" -> medallionInventoryOracleSql,
    "q214_incremental_gold_medallion" -> medallionOracleSql,

    "q215_chi_square" ->
      """WITH p AS (SELECT event_type AS r, isodow(ts) AS c FROM events),
        |o AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS obs FROM p GROUP BY 1, 2),
        |rm AS (SELECT r, CAST(SUM(obs) AS BIGINT) AS rn FROM o GROUP BY 1),
        |cm AS (SELECT c, CAST(SUM(obs) AS BIGINT) AS cn FROM o GROUP BY 1),
        |nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
        |grid AS (
        |  SELECT rm.r, cm.c, rn, cn, n, COALESCE(o.obs, 0) AS obs
        |  FROM rm CROSS JOIN cm CROSS JOIN nn
        |  LEFT JOIN o ON o.r = rm.r AND o.c = cm.c),
        |t AS (
        |  SELECT r, c,
        |    (1000000 * (CAST(n AS HUGEINT) * obs - CAST(rn AS HUGEINT) * cn)
        |             * (CAST(n AS HUGEINT) * obs - CAST(rn AS HUGEINT) * cn))
        |      // (CAST(n AS HUGEINT) * rn * cn) AS term
        |  FROM grid)
        |SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS n_row_levels,
        |       CAST(COUNT(DISTINCT c) AS BIGINT) AS n_col_levels,
        |       (SELECT n FROM nn) AS n,
        |       CAST((COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS BIGINT) AS dof,
        |       CAST(SUM(term) AS BIGINT) AS chi2_micro
        |FROM t""".stripMargin,

    "q216_shallow_clone" ->
      """WITH base AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
        |  FROM customer),
        |cl AS (
        |  SELECT CASE WHEN c_custkey % 7 = 0 THEN 'SEG_CLONE'
        |              ELSE c_mktsegment END AS segment, bal
        |  FROM base)
        |SELECT 'source' AS side, c_mktsegment AS segment,
        |       CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(bal) AS BIGINT) AS bal_sum_cents
        |FROM base GROUP BY 2
        |UNION ALL
        |SELECT 'clone', segment, CAST(COUNT(*) AS BIGINT), CAST(SUM(bal) AS BIGINT)
        |FROM cl GROUP BY 2""".stripMargin,

    "q217_interpolation" ->
      """WITH s AS (
        |  SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders WHERE o_custkey < 20 GROUP BY 1, 2),
        |p AS (
        |  SELECT k, d, y,
        |         lead(d) OVER (PARTITION BY k ORDER BY d) AS dn,
        |         lead(y) OVER (PARTITION BY k ORDER BY d) AS yn
        |  FROM s),
        |e AS (SELECT *, COALESCE(date_diff('day', d, dn), 1) AS gap FROM p),
        |x AS (SELECT k, d, y, yn, gap, unnest(range(0, gap)) AS i FROM e)
        |SELECT k, CAST(d + to_days(CAST(i AS INT)) AS DATE) AS day,
        |       CAST(CASE WHEN i = 0 THEN y
        |            ELSE y + ((yn - y) * i) // gap END AS BIGINT) AS cents,
        |       i > 0 AS interpolated
        |FROM x""".stripMargin,

    "q218_banding_recall" ->
      s"""WITH ${minhashPairsCtesOver(docsCorpusSql)},
         |truth AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) * 1000
         |        >= CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) * 600),
         |found AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.6),
         |h AS (SELECT * FROM truth INTERSECT SELECT * FROM found)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS n_found,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_hit,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)
         |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_missed,
         |       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
         |            ELSE CAST(1000 * (SELECT COUNT(*) FROM h)
         |                 // (SELECT COUNT(*) FROM truth) AS BIGINT)
         |       END AS recall_milli""".stripMargin,

    "q219_window_family" ->
      """SELECT o_custkey, o_orderkey,
        |       percent_rank() OVER w AS pr,
        |       cume_dist() OVER w AS cd,
        |       nth_value(o_orderkey, 2) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key,
        |       first_value(o_orderkey) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
        |       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders WHERE o_custkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q220_modularity" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |walk(id, lab) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, w.lab FROM walk w JOIN sym s ON w.id = s.src),
         |lab AS (SELECT id, MIN(lab) AS label FROM walk GROUP BY id),
         |le AS (SELECT la.label AS cla, lb.label AS clb
         |       FROM e JOIN lab la ON la.id = e.id_a JOIN lab lb ON lb.id = e.id_b),
         |m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM le),
         |d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS dd FROM
         |        (SELECT cla AS c FROM le UNION ALL SELECT clb FROM le) u GROUP BY 1),
         |ec AS (SELECT cla AS c, CAST(COUNT(*) AS BIGINT) AS ee FROM le
         |       WHERE cla = clb GROUP BY 1),
         |t AS (SELECT d.c, COALESCE(ec.ee, 0) AS ee, d.dd, m
         |      FROM d LEFT JOIN ec ON ec.c = d.c CROSS JOIN m1),
         |terms AS (SELECT c, ee, dd, m,
         |            (1000000 * (4 * CAST(m AS HUGEINT) * ee - CAST(dd AS HUGEINT) * dd))
         |              // (4 * CAST(m AS HUGEINT) * m) AS term
         |          FROM t)
         |SELECT CAST(MAX(m) AS BIGINT) AS m, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |       CAST(SUM(ee) AS BIGINT) AS intra_edges,
         |       CAST(SUM(term) AS BIGINT) AS q_micro
         |FROM terms""".stripMargin,

    "q221_raking" ->
      """WITH c0 AS (
        |  SELECT o_orderpriority AS rowv, o_orderstatus AS colv,
        |         CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(1000 AS BIGINT) AS w
        |  FROM orders GROUP BY 1, 2),
        |tt AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS nt FROM c0),
        |rt AS (SELECT * FROM (VALUES ('1-URGENT', 300), ('2-HIGH', 250),
        |       ('3-MEDIUM', 200), ('4-NOT SPECIFIED', 150), ('5-LOW', 100)) t(rowv, t)),
        |ct AS (SELECT * FROM (VALUES ('F', 500), ('O', 300), ('P', 200)) t(colv, t)),
        |m1 AS (SELECT rowv, SUM(n_rows * w) AS mass FROM c0 GROUP BY 1),
        |s1 AS (SELECT c0.rowv, colv, n_rows,
        |         CAST((CAST(w AS HUGEINT) * rt.t * nt) // mass AS BIGINT) AS w
        |       FROM c0 JOIN m1 USING (rowv) JOIN rt USING (rowv) CROSS JOIN tt),
        |m2 AS (SELECT colv, SUM(n_rows * w) AS mass FROM s1 GROUP BY 1),
        |s2 AS (SELECT rowv, s1.colv, n_rows,
        |         CAST((CAST(w AS HUGEINT) * ct.t * nt) // mass AS BIGINT) AS w
        |       FROM s1 JOIN m2 USING (colv) JOIN ct USING (colv) CROSS JOIN tt),
        |m3 AS (SELECT rowv, SUM(n_rows * w) AS mass FROM s2 GROUP BY 1),
        |s3 AS (SELECT s2.rowv, colv, n_rows,
        |         CAST((CAST(w AS HUGEINT) * rt.t * nt) // mass AS BIGINT) AS w
        |       FROM s2 JOIN m3 USING (rowv) JOIN rt USING (rowv) CROSS JOIN tt),
        |m4 AS (SELECT colv, SUM(n_rows * w) AS mass FROM s3 GROUP BY 1),
        |s4 AS (SELECT rowv, s3.colv, n_rows,
        |         CAST((CAST(w AS HUGEINT) * ct.t * nt) // mass AS BIGINT) AS w
        |       FROM s3 JOIN m4 USING (colv) JOIN ct USING (colv) CROSS JOIN tt)
        |SELECT rowv, colv, n_rows, w AS w_milli FROM s4""".stripMargin,

    "q222_audio_stats" ->
      """WITH m AS (SELECT id AS media_id, 800 + (id % 7) * 50 AS n,
        |                  8000 + (id % 3) * 4000 AS rate
        |           FROM range(64) t(id)),
        |s AS (SELECT media_id, n, rate, unnest(range(0, n)) AS i FROM m),
        |v AS (SELECT media_id, n, rate,
        |             ((media_id * 17 + i * 257) % 65536) - 32768 AS v FROM s)
        |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
        |       CAST(rate AS BIGINT) AS sample_rate,
        |       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
        |       CAST((1000000 * SUM(CAST(v AS HUGEINT) * v))
        |            // (CAST(n AS HUGEINT) * 1073741824) AS BIGINT) AS rms_sq_micro,
        |       CAST(SUM(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clipped
        |FROM v GROUP BY media_id, n, rate""".stripMargin,

    "q223_bmp_luma" ->
      """WITH m AS (SELECT id AS media_id, 16 + id % 5 AS w, 12 + id % 3 AS h
        |           FROM range(48) t(id)),
        |p AS (SELECT media_id, w, unnest(range(0, w * h)) AS pp FROM m),
        |px AS (SELECT media_id, pp % w AS x, pp // w AS y FROM p),
        |lu AS (SELECT media_id,
        |         (299 * ((x * 7 + y * 13 + media_id) % 256)
        |        + 587 * ((x * 3 + y * 5 + 2 * media_id) % 256)
        |        + 114 * ((x * 11 + y + 3 * media_id) % 256)) // 1000 AS luma
        |       FROM px)
        |SELECT media_id, CAST(luma * 8 // 256 AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels
        |FROM lu GROUP BY 1, 2""".stripMargin,

    "q224_variant" ->
      """WITH e AS (
        |  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(k) AS BIGINT) AS k_sum,
        |       CAST(SUM(k % 5) AS BIGINT) AS tag_sum
        |FROM e GROUP BY 1""".stripMargin,

    "q225_recursive_cte" ->
      """WITH RECURSIVE up(node, anc, depth) AS (
        |  SELECT p_partkey, p_partkey // 2, 1 FROM part WHERE p_partkey > 1
        |  UNION ALL
        |  SELECT node, anc // 2, depth + 1 FROM up WHERE anc > 1
        |)
        |SELECT CAST(depth AS INT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |       CAST(SUM(node) AS BIGINT) AS node_checksum
        |FROM up GROUP BY depth""".stripMargin,

    "q226_pseudonymization" ->
      """WITH c AS (
        |  SELECT md5('graft-v1:' || c_custkey) AS p, c_mktsegment FROM customer),
        |o AS (
        |  SELECT md5('graft-v1:' || o_custkey) AS p,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |orph AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_orphan_orders
        |  FROM o WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.p = o.p))
        |SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(cents) AS BIGINT) AS rev_cents,
        |       COUNT(DISTINCT c.p) AS n_customers,
        |       MIN(c.p) AS min_pseudonym,
        |       (SELECT n_orphan_orders FROM orph) AS n_orphan_orders
        |FROM c JOIN o ON o.p = c.p
        |GROUP BY 1""".stripMargin,

    "q227_dynamic_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |         CASE WHEN event_type = 'view' THEN 1800000000
        |              ELSE 300000000 END AS gap
        |  FROM events),
        |w AS (
        |  SELECT *, MAX(us + gap) OVER (PARTITION BY user_id ORDER BY us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |s AS (
        |  SELECT *, CASE WHEN prev_end IS NULL OR us >= prev_end
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM w),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, CAST(MIN(us) AS BIGINT) AS start_us,
        |       CAST(MAX(us + gap) AS BIGINT) AS end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(event_id) AS BIGINT) AS event_checksum
        |FROM g GROUP BY user_id, sid""".stripMargin,

    "q228_sql_unpivot" ->
      """WITH wide AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS f,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS o,
        |         CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS p
        |  FROM orders GROUP BY 1)
        |SELECT month, 'F' AS status, f AS cents FROM wide
        |UNION ALL SELECT month, 'O', o FROM wide
        |UNION ALL SELECT month, 'P', p FROM wide""".stripMargin,

    "q229_sql_lateral" ->
      """SELECT r.r_regionkey, t.n_name, t.n_customers
        |FROM region r,
        |LATERAL (
        |  SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY n_customers DESC, n.n_name
        |  LIMIT 2) t""".stripMargin,

    "q230_hll_mergeability" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
        |       TRUE AS merge_consistent
        |FROM events GROUP BY 1""".stripMargin,

    "q231_json_roundtrip" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       COUNT(DISTINCT o_custkey) AS n_custs,
        |       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |       MAX(CAST(o_orderdate AS DATE)) AS max_date
        |FROM orders WHERE o_custkey % 17 = 0 GROUP BY 1""".stripMargin,

    "q232_orc_roundtrip" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS year,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS month,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
        |FROM orders WHERE o_custkey % 13 = 0 GROUP BY 1, 2""".stripMargin,

    "q233_csv_quarantine" ->
      """WITH r AS (SELECT id, id % 19 = 0 AS bad, id * 37 % 10000 AS cents
        |           FROM range(500) t(id))
        |SELECT CAST(SUM(CASE WHEN NOT bad THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |       CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |       CAST(SUM(CASE WHEN NOT bad THEN cents END) AS BIGINT) AS good_cents,
        |       CAST(SUM(CASE WHEN bad THEN id END) AS BIGINT) AS bad_id_checksum
        |FROM r""".stripMargin,

    "q234_sql_locf" ->
      """WITH f AS (
        |  SELECT user_id,
        |         last_value(value IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM events)
        |SELECT user_id,
        |       CAST(COUNT(filled) AS BIGINT) AS n_filled,
        |       CAST(SUM(CAST(ROUND(filled * 100) AS BIGINT)) AS BIGINT) AS cents_checksum
        |FROM f GROUP BY user_id""".stripMargin,

    "q235_multi_table_txn" ->
      """SELECT c_mktsegment AS k, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       'cust' AS side
        |FROM customer WHERE c_acctbal >= 0 GROUP BY 1
        |UNION ALL
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT),
        |       'ord'
        |FROM orders WHERE o_orderstatus <> 'P' GROUP BY 1""".stripMargin,

    "q236_tpch_q17" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS loss_cents
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_type = 'ECONOMY'
        |  AND 5 * CAST(l_quantity AS BIGINT) *
        |      (SELECT COUNT(*) FROM lineitem l2
        |       WHERE l2.l_partkey = part.p_partkey)
        |    < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
        |       FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""".stripMargin,

    "q237_tpch_q22" ->
      """SELECT c_nationkey AS nation,
        |       CAST(COUNT(*) AS BIGINT) AS numcust,
        |       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |         AS totacctbal_cents
        |FROM customer
        |WHERE c_nationkey IN (3, 8, 13, 17, 21)
        |  AND CAST(ROUND(c_acctbal * 100) AS BIGINT) *
        |      (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0)
        |    > (SELECT CAST(SUM(CAST(ROUND(c2.c_acctbal * 100) AS BIGINT))
        |              AS BIGINT)
        |       FROM customer c2 WHERE c2.c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey""".stripMargin,

    // Naive O(n²) within-radius join — deliberately quadratic in the ORACLE
    // only, so the grid-bucketed Spark plan is certified complete against it.
    "q238_grid_spatial_join" ->
      s"""WITH pts AS (
         |  SELECT c_custkey AS id,
         |         ${h60Sql("concat('geo:x:', CAST(c_custkey AS VARCHAR))")} % 1000000 AS x,
         |         ${h60Sql("concat('geo:y:', CAST(c_custkey AS VARCHAR))")} % 1000000 AS y
         |  FROM customer)
         |SELECT a.id AS id_a, b.id AS id_b,
         |       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |            AS BIGINT) AS d2
         |FROM pts a JOIN pts b ON a.id < b.id
         |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |      <= 2500000000""".stripMargin,

    // The same ppb floor recurrence as ext/Survival.kaplanMeier, expressed
    // as a recursive CTE over the identically-built risk table.
    "q239_kaplan_meier" ->
      """WITH RECURSIVE per_user AS (
        |  SELECT user_id, MIN(ts) AS t0,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tconv,
        |         MAX(ts) AS tlast
        |  FROM events GROUP BY user_id),
        |durs AS (
        |  SELECT CASE WHEN tconv IS NOT NULL
        |              THEN date_diff('day', CAST(t0 AS DATE), CAST(tconv AS DATE))
        |              ELSE date_diff('day', CAST(t0 AS DATE), CAST(tlast AS DATE))
        |         END AS d,
        |         CASE WHEN tconv IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM per_user),
        |risk0 AS (
        |  SELECT CAST(d AS BIGINT) AS d, CAST(SUM(ev) AS BIGINT) AS deaths,
        |         CAST(SUM(1 - ev) AS BIGINT) AS censored
        |  FROM durs GROUP BY d),
        |risk AS (
        |  SELECT d, deaths, censored,
        |         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
        |         CAST(SUM(deaths + censored) OVER
        |              (ORDER BY d ROWS BETWEEN CURRENT ROW
        |               AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk
        |  FROM risk0),
        |km AS (
        |  SELECT i, d, at_risk, deaths, censored,
        |         (1000000000 * (at_risk - deaths)) // at_risk AS surv_ppb
        |  FROM risk WHERE i = 1
        |  UNION ALL
        |  SELECT r.i, r.d, r.at_risk, r.deaths, r.censored,
        |         (k.surv_ppb * (r.at_risk - r.deaths)) // r.at_risk
        |  FROM km k JOIN risk r ON r.i = k.i + 1)
        |SELECT d, at_risk, deaths, censored,
        |       CAST(surv_ppb AS BIGINT) AS surv_ppb
        |FROM km""".stripMargin,

    // Same coins, same list order, same debias numerator as ext/Privacy —
    // the list literal is generated from SparkEntry.RRCategories.
    "q240_randomized_response" -> {
      val catList = RRCategories.map(c => s"'$c'").mkString("[", ", ", "]")
      val k = RRCategories.size
      s"""WITH reports AS (
         |  SELECT CASE WHEN ${h60Sql("concat('rr-v1:coin:', CAST(event_id AS VARCHAR))")} % 1000 < 700
         |              THEN event_type
         |              ELSE ($catList)[CAST(1 + ${h60Sql("concat('rr-v1:pick:', CAST(event_id AS VARCHAR))")} % $k AS INT)]
         |         END AS category
         |  FROM events),
         |obs AS (
         |  SELECT category, CAST(COUNT(*) AS BIGINT) AS obs
         |  FROM reports GROUP BY category),
         |tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM obs),
         |cats AS (SELECT UNNEST($catList) AS category)
         |SELECT c.category,
         |       COALESCE(o.obs, 0) AS obs,
         |       CAST(1000 * COALESCE(o.obs, 0) * $k - 300 * t.n AS BIGINT) AS est_num
         |FROM cats c LEFT JOIN obs o USING (category) CROSS JOIN tot t""".stripMargin
    },

    // Naive un-pruned triple support count — certifies the Apriori ladder.
    // The `it` CTE mirrors Itemsets.cappedBasketItems' maxBasketSize=1000
    // hub guard (baskets with more distinct items dropped WHOLE) so the
    // oracle replays the capped corpus verbatim, not the uncapped one.
    "q241_apriori_triples" ->
      """WITH it0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |it AS (
        |  SELECT b, i FROM (
        |    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS __bs FROM it0)
        |  WHERE __bs <= 1000)
        |SELECT a.i AS p1, x.i AS p2, y.i AS p3,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM it a
        |JOIN it x ON a.b = x.b AND a.i < x.i
        |JOIN it y ON a.b = y.b AND x.i < y.i
        |GROUP BY 1, 2, 3
        |HAVING COUNT(*) >= 2""".stripMargin,

    // All ≤3-edge walks enumerated recursively, min weight per node —
    // certifies the frontier-relaxation Bellman-Ford.
    "q242_shortest_paths" ->
      """WITH RECURSIVE it0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |it AS (
        |  SELECT b, i FROM (
        |    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS __bs FROM it0)
        |  WHERE __bs <= 1000),
        |pairs AS (
        |  SELECT a.i AS p1, x.i AS p2,
        |         1000 // CAST(COUNT(*) AS BIGINT) + 1 AS w
        |  FROM it a JOIN it x ON a.b = x.b AND a.i < x.i
        |  GROUP BY a.i, x.i),
        |edges AS (
        |  SELECT p1 AS src, p2 AS dst, w FROM pairs
        |  UNION ALL
        |  SELECT p2, p1, w FROM pairs),
        |walk(node, d, r) AS (
        |  SELECT CAST(node AS BIGINT), CAST(0 AS BIGINT), 0
        |  FROM (VALUES (1), (2), (3)) t(node)
        |  UNION ALL
        |  SELECT e.dst, wk.d + e.w, wk.r + 1
        |  FROM walk wk JOIN edges e ON wk.node = e.src
        |  WHERE wk.r < 3)
        |SELECT node, CAST(MIN(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node""".stripMargin,

    "q243_forecast_backtest" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |lagged AS (
        |  SELECT k, cents,
        |         LAG(cents, 1) OVER (PARTITION BY k ORDER BY day) AS fn,
        |         LAG(cents, 7) OVER (PARTITION BY k ORDER BY day) AS fs
        |  FROM daily)
        |SELECT k,
        |       CAST(COUNT(fn) AS BIGINT) AS n_naive,
        |       CAST(SUM(ABS(cents - fn)) AS BIGINT) AS sae_naive,
        |       CAST(SUM(cents - fn) AS BIGINT) AS bias_naive,
        |       CAST(COUNT(fs) AS BIGINT) AS n_seasonal,
        |       CAST(SUM(ABS(cents - fs)) AS BIGINT) AS sae_seasonal,
        |       CAST(SUM(cents - fs) AS BIGINT) AS bias_seasonal
        |FROM lagged GROUP BY k""".stripMargin,

    // The same minimax-in-micros enumeration as ext/Calibration.isotonicFit.
    "q244_isotonic_calibration" ->
      """WITH buckets AS (
        |  SELECT CAST(FLOOR(value) AS BIGINT) // 5 AS b,
        |         CAST(COUNT(*) AS BIGINT) AS w,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS pos
        |  FROM events GROUP BY 1),
        |prefix AS (
        |  SELECT b, CAST(ROW_NUMBER() OVER (ORDER BY b) AS BIGINT) AS rank,
        |         CAST(SUM(w) OVER (ORDER BY b) AS BIGINT) AS sw,
        |         CAST(SUM(pos) OVER (ORDER BY b) AS BIGINT) AS sp
        |  FROM buckets),
        |p AS (
        |  SELECT * FROM prefix
        |  UNION ALL
        |  SELECT NULL, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |pj AS (
        |  SELECT l.rank AS lr, j.rank AS jr,
        |         (j.sp - l.sp) * 1000000 // (j.sw - l.sw) AS mean_micros
        |  FROM p l JOIN prefix j ON l.rank < j.rank),
        |im AS (
        |  SELECT i.b, i.rank AS ir, pj.jr, MAX(mean_micros) AS mm
        |  FROM prefix i JOIN pj ON pj.lr < i.rank AND pj.jr >= i.rank
        |  GROUP BY 1, 2, 3)
        |SELECT im.b, bk.w, bk.pos, CAST(MIN(mm) AS BIGINT) AS fit_micros
        |FROM im JOIN buckets bk ON bk.b = im.b
        |GROUP BY 1, 2, 3""".stripMargin,

    "q245_association_rules" ->
      """WITH it0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |it AS (
        |  SELECT b, i FROM (
        |    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS __bs FROM it0)
        |  WHERE __bs <= 1000),
        |nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM it),
        |supp AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_i FROM it GROUP BY i),
        |pairs AS (
        |  SELECT a.i AS p1, x.i AS p2, CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM it a JOIN it x ON a.b = x.b AND a.i < x.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |directed AS (
        |  SELECT p1 AS ante, p2 AS cons, n_both FROM pairs
        |  UNION ALL
        |  SELECT p2, p1, n_both FROM pairs)
        |SELECT d.ante, d.cons, sa.n_i AS n_ante, sc.n_i AS n_cons,
        |       d.n_both, nb.n_baskets
        |FROM directed d
        |JOIN supp sa ON sa.i = d.ante
        |JOIN supp sc ON sc.i = d.cons
        |CROSS JOIN nb
        |WHERE 1000 * d.n_both >= 120 * sa.n_i
        |  AND d.n_both * nb.n_baskets > sa.n_i * sc.n_i""".stripMargin,

    // The evolved two-spec layout must answer exactly like the source.
    "q246_partition_spec_evolution" ->
      """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m-%d') >= '1997-06-15'
        |  AND strftime(o_orderdate, '%Y-%m-%d') <= '1999-03-20'
        |GROUP BY 1""".stripMargin,

    // Identical hash arithmetic to ext/Sampling.negativeSample; the bucket
    // count recomputes the query's adaptive ⌈|items|/32⌉-floor-16 formula.
    "q247_negative_sampling" ->
      s"""WITH it AS (
         |  SELECT DISTINCT p_partkey AS item FROM part),
         |bp AS (
         |  SELECT GREATEST(16, CAST(COUNT(*) // 32 AS BIGINT)) AS b FROM it),
         |itb AS (
         |  SELECT item,
         |         ${h60Sql("concat_ws(':', 'ns-v1:item', item)")} % (SELECT b FROM bp) AS bucket
         |  FROM it),
         |pos AS (
         |  SELECT DISTINCT o_custkey AS u, l_partkey AS i
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_custkey % 20 = 0),
         |draws AS (
         |  SELECT u, i, j,
         |         ${h60Sql("concat_ws(':', 'ns-v1:draw', u, i, j)")} % (SELECT b FROM bp) AS bucket
         |  FROM pos CROSS JOIN (SELECT UNNEST([1, 2]) AS j)),
         |picked AS (
         |  SELECT u, i, j,
         |         MIN(${h60Sql("concat_ws(':', 'ns-v1:rank', u, i, j, item)")}
         |             % 1048576 * 2147483648 + item) AS mr
         |  FROM draws JOIN itb USING (bucket)
         |  GROUP BY 1, 2, 3)
         |SELECT u, i, j, CAST(mr % 2147483648 AS BIGINT) AS neg
         |FROM picked p
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM pos p2
         |  WHERE p2.u = p.u AND p2.i = mr % 2147483648)""".stripMargin,

    // Stage-for-stage replay of ext/Dedup.overlapSpans (positions 1-based
    // on both sides; islands via pa - ROW_NUMBER per (pair, diagonal)).
    "q248_overlap_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS doc, regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents),
         |psh AS (
         |  SELECT doc, CAST(i AS BIGINT) AS pos,
         |         ${h60Sql("array_to_string(tk[i:i+2], ' ')")} AS h
         |  FROM toks, UNNEST(range(1, len(tk) - 1)) t(i)
         |  WHERE len(tk) >= 3),
         |df AS (SELECT h FROM psh GROUP BY h HAVING COUNT(*) <= 10),
         |capped AS (SELECT psh.* FROM psh JOIN df USING (h)),
         |anch AS (SELECT * FROM capped WHERE h % 8 = 0),
         |cand AS (
         |  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
         |  FROM anch a JOIN anch b ON a.h = b.h AND a.doc < b.doc),
         |m AS (
         |  SELECT a.doc AS id_a, b.doc AS id_b, a.pos AS pa, b.pos AS pb
         |  FROM capped a JOIN capped b ON a.h = b.h AND a.doc < b.doc
         |  WHERE EXISTS (SELECT 1 FROM cand
         |                WHERE cand.id_a = a.doc AND cand.id_b = b.doc)),
         |runs AS (
         |  SELECT id_a, id_b, pa - pb AS diag,
         |         pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pa - pb
         |                                 ORDER BY pa) AS grp
         |  FROM m),
         |agg AS (
         |  SELECT id_a, id_b, diag, grp, CAST(COUNT(*) AS BIGINT) AS run
         |  FROM runs GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, CAST(SUM(run) AS BIGINT) AS n_shared,
         |       CAST(MAX(run) AS BIGINT) AS max_run_grams,
         |       CAST(MAX(run) + 2 AS BIGINT) AS max_run_words
         |FROM agg GROUP BY 1, 2""".stripMargin,

    // The parquet roundtrip is content-preserving, so ONE certificate from
    // the source stands for both sides.
    "q249_table_fingerprint" ->
      s"""WITH h AS (
         |  SELECT ${h60Sql("concat_ws(chr(1), CAST(l_orderkey AS VARCHAR), " +
          "CAST(l_linenumber AS VARCHAR), " +
          "CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS VARCHAR), " +
          "l_returnflag, strftime(l_shipdate, '%Y-%m-%d'))")} AS hh
         |  FROM lineitem),
         |fp AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(bit_xor(hh) AS BIGINT) AS xor_h,
         |         CAST(SUM(hh) AS VARCHAR) AS sum_h
         |  FROM h)
         |SELECT n_rows, xor_h, sum_h, 'src' AS side FROM fp
         |UNION ALL
         |SELECT n_rows, xor_h, sum_h, 'rt' FROM fp""".stripMargin,

    // Result contract of Spark's PIVOT clause, as conditional aggregation.
    "q250_sql_pivot" ->
      """SELECT o_orderpriority,
        |       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0)
        |            AS BIGINT) AS o_cents,
        |       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0)
        |            AS BIGINT) AS f_cents,
        |       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
        |             THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) END), 0)
        |            AS BIGINT) AS p_cents
        |FROM orders GROUP BY 1""".stripMargin,

    "q251_subject_access" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COALESCE(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)), 0)
        |            AS BIGINT) AS cents,
        |       'customer' AS tbl
        |FROM customer WHERE c_custkey = 7
        |UNION ALL
        |SELECT CAST(COUNT(*) AS BIGINT),
        |       CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 0)
        |            AS BIGINT),
        |       'orders'
        |FROM orders WHERE o_custkey = 7
        |UNION ALL
        |SELECT CAST(COUNT(*) AS BIGINT),
        |       CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)), 0)
        |            AS BIGINT),
        |       'lineitem'
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey = 7)""".stripMargin,

    // The same 4 pruning rounds, unrolled (idempotent past the fixpoint).
    "q252_kcore" ->
      """WITH it0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |it AS (
        |  SELECT b, i FROM (
        |    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS __bs FROM it0)
        |  WHERE __bs <= 1000),
        |pairs AS (
        |  SELECT a.i AS p1, x.i AS p2
        |  FROM it a JOIN it x ON a.b = x.b AND a.i < x.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e0 AS (
        |  SELECT p1 AS src, p2 AS dst FROM pairs
        |  UNION ALL SELECT p2, p1 FROM pairs),
        |k1 AS (SELECT src FROM e0 GROUP BY src HAVING COUNT(*) >= 3),
        |e1 AS (SELECT e.* FROM e0 e JOIN k1 a ON e.src = a.src
        |       JOIN k1 b ON e.dst = b.src),
        |k2 AS (SELECT src FROM e1 GROUP BY src HAVING COUNT(*) >= 3),
        |e2 AS (SELECT e.* FROM e1 e JOIN k2 a ON e.src = a.src
        |       JOIN k2 b ON e.dst = b.src),
        |k3 AS (SELECT src FROM e2 GROUP BY src HAVING COUNT(*) >= 3),
        |e3 AS (SELECT e.* FROM e2 e JOIN k3 a ON e.src = a.src
        |       JOIN k3 b ON e.dst = b.src),
        |k4 AS (SELECT src FROM e3 GROUP BY src HAVING COUNT(*) >= 3),
        |e4 AS (SELECT e.* FROM e3 e JOIN k4 a ON e.src = a.src
        |       JOIN k4 b ON e.dst = b.src)
        |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |FROM e4 GROUP BY 1""".stripMargin,

    // Segment arithmetic per (tx, as_of) pair: at tx=1 only the 2021-06-01
    // change exists; at tx=2 the retroactive 2021-01-01 correction rewrites
    // mid-2021 history (the closed MOVED1 row's interval inverts and drops
    // out) while early-2020 reads still see the original.
    "q253_bitemporal" ->
      """WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer)
        |SELECT CASE WHEN k % 10 = 3 THEN 'MOVED1' ELSE seg END AS seg,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(1 AS BIGINT) AS tx, '2021-12-31' AS as_of
        |FROM c GROUP BY 1
        |UNION ALL
        |SELECT CASE WHEN k % 10 IN (3, 7) THEN 'MOVED2' ELSE seg END,
        |       CAST(COUNT(*) AS BIGINT), CAST(2 AS BIGINT), '2021-12-31'
        |FROM c GROUP BY 1
        |UNION ALL
        |SELECT seg, CAST(COUNT(*) AS BIGINT), CAST(2 AS BIGINT), '2020-06-15'
        |FROM c GROUP BY 1""".stripMargin,

    // One-shot sessionization over ALL events — the batch splits are
    // Spark-side only, so equality proves the incremental fold.
    "q254_incremental_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), sess AS (
        |  SELECT user_id, us,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged
        |), summaries AS (
        |  SELECT user_id, session_idx, COUNT(*) AS n_events,
        |         MIN(us) AS s_us, MAX(us) AS e_us
        |  FROM sess GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |       CAST(SUM(n_events) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(floor((e_us - s_us) / 1000000) AS BIGINT)) AS BIGINT)
        |         AS sum_duration_s
        |FROM summaries GROUP BY user_id""".stripMargin,

    "q255_trending_ranks" ->
      """WITH monthly AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         o_orderpriority AS prio,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS cents
        |  FROM orders GROUP BY 1, 2),
        |ranked AS (
        |  SELECT month, prio, cents,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY month
        |               ORDER BY cents DESC, prio ASC) AS BIGINT) AS rnk
        |  FROM monthly),
        |prev AS (
        |  SELECT strftime(CAST(month || '-01' AS DATE) + INTERVAL 1 MONTH,
        |                  '%Y-%m') AS month,
        |         prio, rnk AS prev_rnk
        |  FROM ranked)
        |SELECT r.month, r.prio, r.cents, r.rnk, p.prev_rnk
        |FROM ranked r LEFT JOIN prev p USING (month, prio)
        |WHERE r.rnk <= 3""".stripMargin,

    "q256_next_order_affinity" ->
      """WITH ord AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         LEAD(o_orderkey) OVER w AS next_key,
        |         date_diff('day', CAST(o_orderdate AS DATE),
        |                   CAST(LEAD(o_orderdate) OVER w AS DATE)) AS gap_days
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |hops AS (
        |  SELECT o_orderkey, next_key FROM ord
        |  WHERE next_key IS NOT NULL AND gap_days <= 90),
        |li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p_from, b.l_partkey AS p_to,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM hops
        |JOIN li a ON a.l_orderkey = hops.o_orderkey
        |JOIN li b ON b.l_orderkey = hops.next_key
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,

    "q257_pit_features" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(date_diff('day', DATE '1970-01-01',
        |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS d_days,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey % 10 = 1)
        |SELECT o_orderkey, o_custkey, d_days,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS trail_n,
        |       CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT) AS trail_cents
        |FROM base
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY d_days
        |             RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING)""".stripMargin,

    "q258_linear_attribution" ->
      """WITH conv AS (
        |  SELECT user_id AS u, MIN(epoch_us(ts)) AS conv_ts
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |touches AS (
        |  SELECT e.user_id AS u, e.event_type AS channel,
        |         MIN(epoch_us(e.ts)) AS first_ts
        |  FROM events e JOIN conv c ON e.user_id = c.u
        |  WHERE epoch_us(e.ts) < c.conv_ts
        |  GROUP BY 1, 2),
        |credited AS (
        |  SELECT channel,
        |         1000 // n + CASE WHEN idx <= 1000 % n THEN 1 ELSE 0 END AS credit
        |  FROM (
        |    SELECT u, channel,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY u
        |                 ORDER BY first_ts, channel) AS BIGINT) AS idx,
        |           CAST(COUNT(*) OVER (PARTITION BY u) AS BIGINT) AS n
        |    FROM touches))
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(SUM(credit) AS BIGINT) AS credit_permille
        |FROM credited GROUP BY 1""".stripMargin,

    "q259_partition_gaps" ->
      """WITH days AS (
        |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
        |mm AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM days),
        |spine AS (
        |  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
        |  FROM mm)
        |SELECT strftime(s.d, '%Y-%m-%d') AS missing_day
        |FROM spine s LEFT JOIN days o ON s.d = o.d
        |WHERE o.d IS NULL""".stripMargin,

    // Compaction preserves the multiset — one certificate, emitted for
    // both sides.
    "q260_compaction_certificate" ->
      s"""WITH h AS (
         |  SELECT ${h60Sql("concat_ws(chr(1), CAST(o_orderkey AS VARCHAR), " +
          "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR))")} AS hh
         |  FROM orders),
         |fp AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(bit_xor(hh) AS BIGINT) AS xor_h,
         |         CAST(SUM(hh) AS VARCHAR) AS sum_h
         |  FROM h)
         |SELECT n_rows, xor_h, sum_h, 'before' AS side FROM fp
         |UNION ALL
         |SELECT n_rows, xor_h, sum_h, 'after' FROM fp""".stripMargin,

    // Division by count-matching — proving it equal to the double NOT
    // EXISTS the Spark side runs.
    "q261_relational_division" ->
      """WITH px AS (SELECT p_partkey FROM part WHERE p_partkey IN (10, 20, 30)),
        |cover AS (
        |  SELECT l_suppkey
        |  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem) li
        |  JOIN px ON li.l_partkey = px.p_partkey
        |  GROUP BY l_suppkey
        |  HAVING COUNT(*) = (SELECT COUNT(*) FROM px))
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN cover ON s_suppkey = l_suppkey""".stripMargin,

    "q262_bag_set_ops" ->
      """WITH a AS (
        |  SELECT o_orderstatus AS st FROM orders
        |  UNION ALL
        |  SELECT o_orderstatus FROM orders WHERE o_totalprice > 200000),
        |b AS (SELECT o_orderstatus AS st FROM orders)
        |SELECT 'except_all' AS op, st, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT st FROM a EXCEPT ALL SELECT st FROM b) GROUP BY 2
        |UNION ALL
        |SELECT 'intersect_all', st, CAST(COUNT(*) AS BIGINT)
        |FROM (SELECT st FROM a INTERSECT ALL SELECT st FROM b) GROUP BY 2""".stripMargin,

    "q263_spearman" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
        |         CAST(date_diff('day', DATE '1970-01-01',
        |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders),
        |r AS (
        |  SELECT id,
        |         CAST(RANK() OVER (ORDER BY x) AS BIGINT) AS rx,
        |         CAST(RANK() OVER (ORDER BY y) AS BIGINT) AS ry
        |  FROM base)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(rx) AS BIGINT) AS sum_rx,
        |       CAST(SUM(ry) AS BIGINT) AS sum_ry,
        |       CAST(SUM(rx * rx) AS BIGINT) AS sum_rxx,
        |       CAST(SUM(ry * ry) AS BIGINT) AS sum_ryy,
        |       CAST(SUM(rx * ry) AS BIGINT) AS sum_rxy
        |FROM r""".stripMargin,

    // Exact rolling distinct; the sketch side must land within 2% of it.
    "q264_rolling_sketch" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS d, user_id FROM events),
        |targets AS (
        |  SELECT d + CAST(o AS INTEGER) AS td, user_id
        |  FROM ev, UNNEST(range(0, 7)) t(o))
        |SELECT strftime(td, '%Y-%m-%d') AS d,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |       TRUE AS within_2pct
        |FROM targets GROUP BY td""".stripMargin,

    // ------------------------------------------------------------------
    // q265–q279 oracles: the same 15 TPC-H shapes in DuckDB dialect —
    // integer division is `//`, year() is cast to INT, and every SUM is
    // CAST to BIGINT so HUGEINT never reaches the result schema.
    // ------------------------------------------------------------------

    "q265_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_base_cents,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |                AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
        |                * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_charge_cents,
        |       CAST((1000000 * SUM(CAST(l_quantity AS BIGINT))) // COUNT(*)
        |            AS BIGINT) AS avg_qty_micro,
        |       CAST((1000000 * SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)))
        |            // COUNT(*) AS BIGINT) AS avg_price_microcents,
        |       CAST((1000000 * SUM(CAST(ROUND(l_discount * 1000) AS BIGINT)))
        |            // COUNT(*) AS BIGINT) AS avg_disc_micropermille,
        |       CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q266_tpch_q2" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |           AS ps_supplycost_cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT CAST(ROUND(s_acctbal * 100) AS BIGINT) AS s_acctbal_cents,
        |       s_name, n_name, p_partkey, s_suppkey, ps_supplycost_cents
        |FROM part JOIN ps ON p_partkey = ps_partkey
        |JOIN supplier ON s_suppkey = ps_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
        |  AND ps_supplycost_cents = (
        |    SELECT MIN(ps2.ps_supplycost_cents)
        |    FROM ps ps2 JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q267_tpch_q4" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q268_tpch_q6" ->
      """SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100)
        |                AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.02 AND l_discount <= 0.04
        |  AND l_quantity < 24""".stripMargin,

    "q269_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |       CAST(SUM(volume_cents) AS BIGINT) AS revenue_cents
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         CAST(year(l_shipdate) AS INT) AS l_year,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |              AS BIGINT) AS volume_cents
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin,

    "q270_tpch_q8" ->
      """SELECT o_year,
        |       CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume_cents
        |                     ELSE 0 END) AS BIGINT) AS nation_cents,
        |       CAST(SUM(volume_cents) AS BIGINT) AS total_cents,
        |       CAST((1000 * SUM(CASE WHEN nation = 'NATION_5'
        |                             THEN volume_cents ELSE 0 END))
        |            // SUM(volume_cents) AS BIGINT) AS share_permille
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |              AS BIGINT) AS volume_cents,
        |         n2.n_name AS nation
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations
        |GROUP BY o_year""".stripMargin,

    "q271_tpch_q9" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |           AS ps_supplycost_cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT nation, o_year, CAST(SUM(amount_cents) AS BIGINT) AS profit_cents
        |FROM (
        |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           - ps_supplycost_cents * CAST(l_quantity AS BIGINT)
        |           AS amount_cents
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN ps ON ps_suppkey = l_suppkey AND ps_partkey = l_partkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%red%') profit
        |GROUP BY nation, o_year""".stripMargin,

    "q272_tpch_q11" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty,
        |         MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |           AS ps_supplycost_cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT ps_partkey,
        |       CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT)
        |         AS value_cents
        |FROM ps JOIN supplier ON ps_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7'
        |GROUP BY ps_partkey
        |HAVING SUM(ps_supplycost_cents * ps_availqty) > (
        |  SELECT SUM(ps_supplycost_cents * ps_availqty) // 500
        |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7')""".stripMargin,

    "q273_tpch_q12" ->
      """SELECT l_returnflag AS ship_mode,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_returnflag""".stripMargin,

    "q274_tpch_q13" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count""".stripMargin,

    "q275_tpch_q14" ->
      """SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
        |                     THEN CAST(ROUND(l_extendedprice * (1 - l_discount)
        |                          * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |         AS promo_cents,
        |       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |                AS BIGINT)) AS BIGINT) AS total_cents,
        |       CAST((1000 * SUM(CASE WHEN p_type = 'PROMO'
        |                     THEN CAST(ROUND(l_extendedprice * (1 - l_discount)
        |                          * 100) AS BIGINT) ELSE 0 END))
        |            // SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |                     AS BIGINT)) AS BIGINT) AS promo_permille
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,

    "q276_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |                  AS BIGINT)) AS BIGINT) AS total_revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue_cents
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents)
        |                             FROM revenue)""".stripMargin,

    "q277_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |      FROM lineitem) ps
        |JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_type NOT IN ('PROMO', 'ECONOMY')
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                         WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "q278_tpch_q19" ->
      """SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |                AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,

    "q279_tpch_q20" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_name, s_suppkey
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM ps
        |    WHERE ps_partkey IN (SELECT p_partkey FROM part
        |                         WHERE p_name LIKE 'small%')
        |      AND 5 * (SELECT COALESCE(SUM(CAST(l_quantity AS BIGINT)), 0)
        |               FROM lineitem
        |               WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |                 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |                 AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
        |          > 2 * ps_availqty)""".stripMargin,

    // q218's audit replayed over the deterministic 400‰ slice: corpus,
    // slice predicate, exact truth, banding, and the audit row all replay
    // from the shared portable-hash constants.
    "q280_sampled_recall" ->
      s"""WITH ${minhashPairsCtesOver(docsSlicedCorpusSql)},
         |truth AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) * 1000
         |        >= CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) * 600),
         |found AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.6),
         |h AS (SELECT * FROM truth INTERSECT SELECT * FROM found)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS n_found,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_hit,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)
         |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_missed,
         |       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
         |            ELSE CAST(1000 * (SELECT COUNT(*) FROM h)
         |                 // (SELECT COUNT(*) FROM truth) AS BIGINT)
         |       END AS recall_milli""".stripMargin,

    // The hash centi-score, quintile banding, and largest-remainder seat
    // allocation replayed in integers; the top-up rank mirrors the Spark
    // side's (remainder DESC, band ASC) tie-break.
    "q281_quality_reweight" ->
      s"""WITH scored AS (
         |  SELECT ${h60Sql("concat_ws(':', 'qscore', CAST(doc_id AS VARCHAR))")} % 100
         |           AS score_centi
         |  FROM documents),
         |counts AS (
         |  SELECT score_centi // 20 AS band, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM scored GROUP BY 1),
         |target AS (
         |  SELECT CAST(band AS BIGINT) AS band, CAST(tp AS BIGINT) AS target_permille
         |  FROM (VALUES (0, 50), (1, 100), (2, 150), (3, 300), (4, 400)) t(band, tp)),
         |j AS (SELECT c.band, n_docs, target_permille
         |      FROM counts c JOIN target USING (band)),
         |tot AS (SELECT SUM(target_permille) AS t FROM j),
         |fl AS (SELECT band, n_docs, target_permille,
         |              (300 * target_permille) // t AS fl_q,
         |              (300 * target_permille) % t AS rem
         |       FROM j CROSS JOIN tot),
         |k AS (SELECT 300 - SUM(fl_q) AS k FROM fl),
         |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, band ASC) AS rn
         |       FROM fl)
         |SELECT band, n_docs, target_permille,
         |       CAST(fl_q + CASE WHEN rn <= (SELECT k FROM k) THEN 1 ELSE 0 END
         |            AS BIGINT) AS quota,
         |       CAST(LEAST(fl_q + CASE WHEN rn <= (SELECT k FROM k) THEN 1 ELSE 0 END,
         |                  n_docs) AS BIGINT) AS kept
         |FROM rk""".stripMargin,

    // First-seen-batch novelty + the integer EWMA recurrence as a recursive
    // CTE over the batch-ordered series (decay 700‰, q140's fold).
    "q282_novelty_decay" ->
      s"""WITH RECURSIVE cand AS (
         |  SELECT doc_id % 5 AS batch,
         |         ${h60Sql("unnest(" + gramsSql("text") + ")")} AS h
         |  FROM documents),
         |fs AS (SELECT h, MIN(batch) AS fsb FROM cand GROUP BY 1),
         |pb AS (
         |  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |         CAST(SUM(CASE WHEN fsb < batch THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_seen
         |  FROM cand JOIN fs USING (h) GROUP BY 1),
         |nv AS (SELECT batch, n_shingles, n_seen,
         |              CAST((1000 * (n_shingles - n_seen)) // n_shingles AS BIGINT)
         |                AS novelty_permille
         |       FROM pb),
         |ord AS (SELECT *, ROW_NUMBER() OVER (ORDER BY batch) AS rn FROM nv),
         |rec AS (
         |  SELECT rn, batch, n_shingles, n_seen, novelty_permille,
         |         novelty_permille AS ewma_permille
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.rn, o.batch, o.n_shingles, o.n_seen, o.novelty_permille,
         |         (700 * r.ewma_permille + 300 * o.novelty_permille) // 1000
         |  FROM rec r JOIN ord o ON o.rn = r.rn + 1)
         |SELECT batch, n_shingles, n_seen, novelty_permille,
         |       CAST(ewma_permille AS BIGINT) AS ewma_permille
         |FROM rec""".stripMargin,

    // Components via the q65 recursive walk, split by the portable hash of
    // the component label, leakage recomputed honestly from the oracle's
    // own pair set.
    "q283_leakage_safe_split" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |walk(id, lab) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, w.lab FROM walk w JOIN sym s ON w.id = s.src),
         |comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT c.doc_id, COALESCE(k.component, c.doc_id) AS component
         |  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.id),
         |sp AS (
         |  SELECT doc_id, component,
         |         CASE WHEN ${h60Sql("concat_ws(':', 'split', CAST(component AS VARCHAR))")} % 1000 < 800
         |              THEN 'train' ELSE 'eval' END AS split
         |  FROM labeled),
         |leak AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked
         |  FROM e JOIN sp a ON e.id_a = a.doc_id
         |         JOIN sp b ON e.id_b = b.doc_id
         |  WHERE a.split <> b.split)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
         |       (SELECT n_leaked FROM leak) AS n_leaked
         |FROM sp GROUP BY split""".stripMargin,

    "q284_k_anonymity" ->
      """WITH c AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k
        |  FROM customer),
        |l0 AS (SELECT COUNT(*) AS n FROM c GROUP BY nat, seg, bal_k),
        |l1 AS (SELECT COUNT(*) AS n FROM c GROUP BY nat, seg),
        |l2 AS (SELECT COUNT(*) AS n FROM c GROUP BY nat)
        |SELECT 0 AS level, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
        |       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risk_rows
        |FROM l0
        |UNION ALL
        |SELECT 1, CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |FROM l1
        |UNION ALL
        |SELECT 2, CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |FROM l2""".stripMargin,

    // Plane literals, uniform largest-remainder seats, and the hash-rank
    // selection all replayed — the kept set is pinned exactly via the
    // per-bucket id checksum.
    "q285_semantic_diversity_sample" -> {
      val planes = graft.ext.Similarity.hyperplanes(bits = 6, dim = 64)
      val bucketTerms = planes.zipWithIndex.map { case (plane, pIdx) =>
        val lits = plane.mkString("[", ", ", "]")
        s"CASE WHEN list_dot_product(v, $lits) >= 0 THEN ${1L << (5 - pIdx)} ELSE 0 END"
      }.mkString("(\n           ", "\n         + ", ")")
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS (
         |  SELECT vec_id,
         |         $bucketTerms AS bucket
         |  FROM base),
         |counts AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
         |           FROM bk GROUP BY 1),
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM counts),
         |fl AS (SELECT bucket, n_vectors, 200 // n AS fl_q, 200 % n AS remtot
         |       FROM counts CROSS JOIN nb),
         |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY bucket ASC) AS rn FROM fl),
         |q AS (SELECT bucket, n_vectors,
         |             CAST(fl_q + CASE WHEN rn <= remtot THEN 1 ELSE 0 END
         |                  AS BIGINT) AS quota
         |      FROM rk),
         |h AS (SELECT vec_id, bucket,
         |             ${h60Sql("concat_ws(':', 'divsamp', CAST(vec_id AS VARCHAR))")} AS hh
         |      FROM bk),
         |r AS (SELECT bucket, vec_id,
         |             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY hh, vec_id) AS rn2
         |      FROM h),
         |kept AS (SELECT r.bucket, vec_id FROM r JOIN q USING (bucket)
         |         WHERE rn2 <= quota),
         |ks AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |              CAST(SUM(vec_id) AS BIGINT) AS kept_id_sum
         |       FROM kept GROUP BY 1)
         |SELECT q.bucket, q.n_vectors, q.quota,
         |       COALESCE(ks.n_kept, 0) AS n_kept,
         |       COALESCE(ks.kept_id_sum, 0) AS kept_id_sum
         |FROM q LEFT JOIN ks USING (bucket)""".stripMargin
    },

    "q286_l_diversity" ->
      """WITH c AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k
        |  FROM customer),
        |cl AS (SELECT COUNT(*) AS n, COUNT(DISTINCT bal_k) AS l
        |       FROM c GROUP BY nat, seg)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |       CAST(MIN(l) AS BIGINT) AS min_l,
        |       CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_low_l_classes,
        |       CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
        |         AS n_exposed_rows
        |FROM cl""".stripMargin,

    "q287_mutual_nn_pairs" ->
      s"""WITH base AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |a AS (SELECT vec_id AS a_id, v,
         |             ${lshBucketSql("v", 6)} AS bucket
         |      FROM base WHERE label < 5),
         |b AS (SELECT vec_id AS b_id, v,
         |             ${lshBucketSql("v", 6)} AS bucket
         |      FROM base WHERE label >= 5),
         |cand AS (
         |  SELECT a_id, b_id,
         |         ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
         |  FROM a JOIN b USING (bucket)),
         |ba AS (SELECT a_id, b_id, cos_sim, ROW_NUMBER() OVER
         |         (PARTITION BY a_id ORDER BY cos_sim DESC, b_id) AS rn
         |       FROM cand),
         |bb AS (SELECT a_id, b_id, ROW_NUMBER() OVER
         |         (PARTITION BY b_id ORDER BY cos_sim DESC, a_id) AS rn
         |       FROM cand)
         |SELECT ba.a_id, ba.b_id, ba.cos_sim
         |FROM ba JOIN bb ON ba.a_id = bb.a_id AND ba.b_id = bb.b_id
         |WHERE ba.rn = 1 AND bb.rn = 1""".stripMargin,

    "q288_ece_calibration" ->
      s"""WITH o AS (
         |  SELECT ${h60Sql("concat_ws(':', 'cal', CAST(o_orderkey AS VARCHAR))")} % 1000 AS sp,
         |         ${h60Sql("concat_ws(':', 'out', CAST(o_orderkey AS VARCHAR))")} % 1000 AS draw
         |  FROM orders),
         |s AS (SELECT sp, CASE WHEN draw < sp THEN 1 ELSE 0 END AS y FROM o),
         |b AS (SELECT sp // 100 AS bin, CAST(COUNT(*) AS BIGINT) AS n,
         |             CAST(SUM(y) AS BIGINT) AS n_pos,
         |             CAST(SUM(sp) AS BIGINT) AS sum_conf_permille
         |      FROM s GROUP BY 1),
         |g AS (SELECT bin, n, n_pos, sum_conf_permille,
         |             ABS(1000 * n_pos - sum_conf_permille) AS gap
         |      FROM b),
         |tot AS (SELECT CAST(SUM(gap) AS BIGINT) AS ece_num,
         |               CAST(SUM(n) AS BIGINT) AS n_total FROM g)
         |SELECT bin, n, n_pos, sum_conf_permille, gap, ece_num, n_total
         |FROM g CROSS JOIN tot""".stripMargin,

    // RANK() is min-tie rank, COUNT(*) OVER (PARTITION BY v) the tie size —
    // 2·midrank = 2·rank + t − 1 replays aucStats' integer midranks; the
    // naive global window is fine HERE (the oracle side is allowed to be
    // the single-node formulation).
    "q289_auc" ->
      """WITH c AS (
        |  SELECT c_custkey AS id, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v,
        |         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
        |  FROM customer),
        |r AS (SELECT id, v, y, RANK() OVER (ORDER BY v) AS rnk,
        |             COUNT(*) OVER (PARTITION BY v) AS t
        |      FROM c),
        |s AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
        |             CAST(SUM(1 - y) AS BIGINT) AS n_neg,
        |             CAST(SUM(CASE WHEN y = 1 THEN 2 * rnk + t - 1 ELSE 0 END)
        |                  AS BIGINT) AS two_r_pos
        |      FROM r)
        |SELECT n_pos, n_neg,
        |       CAST(two_r_pos - n_pos * (n_pos + 1) AS BIGINT) AS two_u,
        |       CAST((two_r_pos - n_pos * (n_pos + 1)) * 1000
        |            // (2 * n_pos * n_neg) AS BIGINT) AS auc_permille
        |FROM s""".stripMargin,

    "q290_conformal_coverage" ->
      s"""WITH ev AS (
         |  SELECT event_id, CAST(floor(value * 1000000) AS BIGINT) AS nc,
         |         ${h60Sql("concat_ws(':', 'conf', CAST(event_id AS VARCHAR))")} % 2 AS side
         |  FROM events),
         |cal AS (SELECT nc FROM ev WHERE side = 0),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
         |qh AS (SELECT nc AS qhat
         |       FROM (SELECT nc, ROW_NUMBER() OVER (ORDER BY nc) AS rn
         |             FROM cal) q CROSS JOIN m
         |       WHERE rn = (9 * (n_cal + 1) + 9) // 10),
         |t AS (SELECT nc FROM ev WHERE side = 1)
         |SELECT (SELECT n_cal FROM m) AS n_cal,
         |       (SELECT qhat FROM qh) AS qhat,
         |       CAST(COUNT(*) AS BIGINT) AS n_test,
         |       CAST(SUM(CASE WHEN nc <= (SELECT qhat FROM qh)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |       CAST(SUM(CASE WHEN nc <= (SELECT qhat FROM qh)
         |                     THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
         |         AS coverage_permille
         |FROM t""".stripMargin,

    "q291_padding_waste" ->
      s"""WITH d AS (
         |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS tok,
         |         ${h60Sql("concat_ws(':', 'pad', CAST(doc_id AS VARCHAR))")} % 8 AS stream
         |  FROM documents),
         |a AS (SELECT stream, tok, ROW_NUMBER() OVER
         |        (PARTITION BY stream ORDER BY doc_id) AS rn FROM d),
         |ab AS (SELECT stream, (rn - 1) // 32 AS batch, COUNT(*) AS bn,
         |              SUM(tok) AS real_t, MAX(tok) AS max_t
         |       FROM a GROUP BY 1, 2),
         |aa AS (SELECT 'arrival' AS strategy,
         |              CAST(COUNT(*) AS BIGINT) AS n_batches,
         |              CAST(SUM(real_t) AS BIGINT) AS real_tokens,
         |              CAST(SUM(max_t * bn) AS BIGINT) AS padded_tokens
         |       FROM ab),
         |so AS (SELECT stream, tok, ROW_NUMBER() OVER
         |        (PARTITION BY stream ORDER BY tok DESC, doc_id) AS rn FROM d),
         |sb AS (SELECT stream, (rn - 1) // 32 AS batch, COUNT(*) AS bn,
         |              SUM(tok) AS real_t, MAX(tok) AS max_t
         |       FROM so GROUP BY 1, 2),
         |sa AS (SELECT 'sorted' AS strategy,
         |              CAST(COUNT(*) AS BIGINT) AS n_batches,
         |              CAST(SUM(real_t) AS BIGINT) AS real_tokens,
         |              CAST(SUM(max_t * bn) AS BIGINT) AS padded_tokens
         |       FROM sb)
         |SELECT strategy, n_batches, real_tokens, padded_tokens,
         |       CAST((padded_tokens - real_tokens) * 1000 // padded_tokens
         |            AS BIGINT) AS waste_permille
         |FROM (SELECT * FROM aa UNION ALL SELECT * FROM sa)""".stripMargin,

    "q292_stratified_group_kfold" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |walk(id, lab) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, w.lab FROM walk w JOIN sym s ON w.id = s.src),
         |comp AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT c.doc_id, COALESCE(k.component, c.doc_id) AS component
         |  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.id),
         |f AS (
         |  SELECT doc_id, component,
         |         ${h60Sql("concat_ws(':', 'fold', CAST(component AS VARCHAR))")} % 5 AS fold
         |  FROM labeled),
         |leak AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked
         |  FROM e JOIN f a ON e.id_a = a.doc_id
         |         JOIN f b ON e.id_b = b.doc_id
         |  WHERE a.fold <> b.fold)
         |SELECT fold, d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
         |       (SELECT n_leaked FROM leak) AS n_leaked
         |FROM f JOIN documents d ON f.doc_id % 100000 = d.doc_id
         |GROUP BY 1, 2""".stripMargin,

    "q293_boilerplate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, ${gramsSql("text")} AS grams FROM documents),
         |e AS (SELECT doc_id, source, unnest(grams) AS g FROM sh),
         |dc AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |df AS (SELECT source, g, COUNT(*) AS df FROM e GROUP BY 1, 2),
         |boil AS (SELECT df.source, df.g FROM df JOIN dc USING (source)
         |         WHERE df.df * 5 > dc.n_docs * 1),
         |pd AS (
         |  SELECT e.doc_id, e.source, COUNT(*) AS n_sh,
         |         SUM(CASE WHEN boil.g IS NOT NULL THEN 1 ELSE 0 END) AS n_b
         |  FROM e LEFT JOIN boil
         |    ON e.source = boil.source AND e.g = boil.g
         |  GROUP BY 1, 2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
         |       CAST(SUM(n_b) AS BIGINT) AS n_boiler,
         |       CAST(SUM(n_b) * 1000 // SUM(n_sh) AS BIGINT) AS boiler_permille
         |FROM pd GROUP BY 1""".stripMargin,

    "q294_bpe_fertility" ->
      s"""SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(e.n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(SUM(e.n_words) AS BIGINT) AS n_words,
         |       CAST(SUM(e.n_chars) AS BIGINT) AS n_chars,
         |       CAST(SUM(e.n_tokens) * 1000 // SUM(e.n_words) AS BIGINT)
         |         AS fertility_permille
         |FROM (${bpeEncodeOracleSql(4)}) e
         |JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,

    "q295_epoch_shuffle" ->
      s"""WITH ids AS (
         |  SELECT o_orderkey AS id,
         |         ${h60Sql("concat_ws(':', 'ep', '0', CAST(o_orderkey AS VARCHAR))")} % 16 AS s0,
         |         ${h60Sql("concat_ws(':', 'ep', '1', CAST(o_orderkey AS VARCHAR))")} % 16 AS s1,
         |         ${h60Sql("concat_ws(':', 'ep', '2', CAST(o_orderkey AS VARCHAR))")} % 16 AS s2
         |  FROM orders),
         |sz AS (
         |  SELECT 0 AS epoch, s0 AS shard, COUNT(*) AS n FROM ids GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 1, s1, COUNT(*) FROM ids GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 2, s2, COUNT(*) FROM ids GROUP BY 1, 2),
         |bal AS (
         |  SELECT epoch, CAST(COUNT(*) AS BIGINT) AS n_shards,
         |         CAST(MIN(n) AS BIGINT) AS min_shard_rows,
         |         CAST(MAX(n) AS BIGINT) AS max_shard_rows
         |  FROM sz GROUP BY 1),
         |tot AS (
         |  SELECT 0 AS epoch, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(SUM(id) AS BIGINT) AS id_sum,
         |         CAST(0 AS BIGINT) AS churn_from_prev
         |  FROM ids
         |  UNION ALL
         |  SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(SUM(id) AS BIGINT),
         |         CAST(SUM(CASE WHEN s1 <> s0 THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM ids
         |  UNION ALL
         |  SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(id) AS BIGINT),
         |         CAST(SUM(CASE WHEN s2 <> s1 THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM ids)
         |SELECT CAST(tot.epoch AS BIGINT) AS epoch, n_rows, id_sum, n_shards,
         |       min_shard_rows, max_shard_rows, churn_from_prev
         |FROM tot JOIN bal ON tot.epoch = bal.epoch""".stripMargin,

    "q296_trimmed_mean" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS seg, c_custkey AS id,
        |         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |r AS (
        |  SELECT seg, cents,
        |         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, id) AS rn,
        |         COUNT(*) OVER (PARTITION BY seg) AS cnt
        |  FROM c)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |       CAST(SUM(cents) // COUNT(*) AS BIGINT) AS trimmed_mean_cents
        |FROM r
        |WHERE rn > cnt // 10 AND rn <= cnt - cnt // 10
        |GROUP BY 1""".stripMargin,

    "q297_jw_linkage" ->
      """WITH sup AS (SELECT s_suppkey AS id, s_name AS name FROM supplier),
        |typos AS (
        |  SELECT id + 100000 AS tid,
        |         substr(name, 1, length(name) - 2)
        |           || reverse(substr(name, length(name) - 1, 2)) AS tname
        |  FROM sup),
        |cand AS (
        |  SELECT t.tid AS query_id, s.id AS match_id,
        |         ROUND(jaro_winkler_similarity(t.tname, s.name), 6) AS jw
        |  FROM typos t JOIN sup s
        |    ON substr(t.tname, 1, length(t.tname) - 3)
        |     = substr(s.name, 1, length(s.name) - 3)),
        |best AS (
        |  SELECT query_id, match_id, jw, ROW_NUMBER() OVER
        |    (PARTITION BY query_id ORDER BY jw DESC, match_id) AS rn
        |  FROM cand)
        |SELECT query_id, match_id, jw FROM best WHERE rn = 1""".stripMargin,

    "q298_ndcg" -> {
      val disc = graft.ext.Rank.ndcgDiscountsMicros(10)
        .mkString("[", ", ", "]")
      s"""WITH ev AS (
         |  SELECT user_id, event_id,
         |         ${h60Sql("concat_ws(':', 'score', CAST(event_id AS VARCHAR))")} % 1000000 AS score,
         |         ${h60Sql("concat_ws(':', 'rel', CAST(event_id AS VARCHAR))")} % 4 AS rel
         |  FROM events),
         |m AS (
         |  SELECT user_id, rel,
         |         ROW_NUMBER() OVER (PARTITION BY user_id
         |                            ORDER BY score DESC, event_id) AS rm,
         |         ROW_NUMBER() OVER (PARTITION BY user_id
         |                            ORDER BY rel DESC, event_id) AS ri
         |  FROM ev),
         |g AS (
         |  SELECT user_id,
         |         SUM(CASE WHEN rm <= 10 THEN rel * ($disc)[rm] ELSE 0 END) AS dcg,
         |         SUM(CASE WHEN ri <= 10 THEN rel * ($disc)[ri] ELSE 0 END) AS idcg
         |  FROM m GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |       CAST(SUM(dcg) AS BIGINT) AS sum_dcg_micros,
         |       CAST(SUM(idcg) AS BIGINT) AS sum_idcg_micros,
         |       CAST(SUM(dcg) * 1000 // SUM(idcg) AS BIGINT) AS mean_ndcg_permille
         |FROM g""".stripMargin
    },

    "q299_brier" ->
      s"""WITH o AS (
         |  SELECT ${h60Sql("concat_ws(':', 'cal', CAST(o_orderkey AS VARCHAR))")} % 1000 AS sp,
         |         ${h60Sql("concat_ws(':', 'out', CAST(o_orderkey AS VARCHAR))")} % 1000 AS draw
         |  FROM orders),
         |s AS (SELECT sp, CASE WHEN draw < sp THEN 1 ELSE 0 END AS y FROM o)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM((1000 * y - sp) * (1000 * y - sp)) AS BIGINT)
         |         AS brier_num_pm2,
         |       CAST(SUM((1000 * y - sp) * (1000 * y - sp)) // COUNT(*)
         |            AS BIGINT) AS brier_mean_pm2
         |FROM s""".stripMargin,

    "q300_cohens_kappa" ->
      s"""WITH lab AS (
         |  SELECT doc_id,
         |         ${h60Sql("concat_ws(':', 'ann_a', CAST(doc_id AS VARCHAR))")} % 3 AS a,
         |         ${h60Sql("concat_ws(':', 'flip', CAST(doc_id AS VARCHAR))")} % 1000 AS flip,
         |         ${h60Sql("concat_ws(':', 'fd', CAST(doc_id AS VARCHAR))")} % 2 AS fd
         |  FROM documents),
         |lab2 AS (
         |  SELECT doc_id, a,
         |         CASE WHEN flip < 200 THEN (a + 1 + fd) % 3 ELSE a END AS b
         |  FROM lab),
         |grid AS (SELECT a, b, COUNT(*) AS n_ab FROM lab2 GROUP BY 1, 2),
         |na AS (SELECT a AS c, SUM(n_ab) AS na FROM grid GROUP BY 1),
         |nb AS (SELECT b AS c, SUM(n_ab) AS nb FROM grid GROUP BY 1),
         |pe AS (SELECT CAST(SUM(na.na * nb.nb) AS BIGINT) AS pe_num
         |       FROM na JOIN nb USING (c)),
         |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n,
         |               CAST(SUM(CASE WHEN a = b THEN n_ab ELSE 0 END)
         |                    AS BIGINT) AS n_agree
         |        FROM grid)
         |SELECT n, n_agree, pe_num,
         |       CAST(n * n_agree - pe_num AS BIGINT) AS kappa_num,
         |       CAST(n * n - pe_num AS BIGINT) AS kappa_den,
         |       CAST((n * n_agree - pe_num) * 1000 // (n * n - pe_num)
         |            AS BIGINT) AS kappa_permille
         |FROM tot CROSS JOIN pe""".stripMargin,

    "q301_personalized_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS a,
        |         CAST(l_partkey AS BIGINT) + 1000000 AS b
        |  FROM lineitem),
        |e AS (SELECT a AS src, b AS dst FROM pairs
        |      UNION ALL SELECT b AS src, a AS dst FROM pairs),
        |outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outd FROM e GROUP BY 1),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds AS (SELECT CAST(s_suppkey AS BIGINT) AS node FROM supplier
        |          WHERE s_nationkey = 1),
        |nf AS (SELECT n.node,
        |              CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
        |       FROM nodes n LEFT JOIN seeds s USING (node)),
        |r0 AS (SELECT node, CAST(is_seed * 1000000 AS BIGINT) AS r FROM nf),
        |i1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // o.outd) AS BIGINT) AS in_sum
        |       FROM e JOIN r0 ON e.src = r0.node JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.node,
        |              CAST(n.is_seed * 150000
        |                   + (850 * COALESCE(i1.in_sum, 0)) // 1000 AS BIGINT) AS r
        |       FROM nf n LEFT JOIN i1 USING (node)),
        |i2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // o.outd) AS BIGINT) AS in_sum
        |       FROM e JOIN r1 ON e.src = r1.node JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.node,
        |              CAST(n.is_seed * 150000
        |                   + (850 * COALESCE(i2.in_sum, 0)) // 1000 AS BIGINT) AS r
        |       FROM nf n LEFT JOIN i2 USING (node)),
        |i3 AS (SELECT e.dst AS node, CAST(SUM(r2.r // o.outd) AS BIGINT) AS in_sum
        |       FROM e JOIN r2 ON e.src = r2.node JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.node,
        |              CAST(n.is_seed * 150000
        |                   + (850 * COALESCE(i3.in_sum, 0)) // 1000 AS BIGINT) AS r
        |       FROM nf n LEFT JOIN i3 USING (node))
        |SELECT node, r AS rank_micros FROM r3
        |ORDER BY rank_micros DESC, node LIMIT 20""".stripMargin,

    "q302_dsir_select" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
         |  FROM documents),
         |bk AS (SELECT doc_id, lang,
         |              ${h60Sql("'dsir:' || token")} % 64 AS b
         |       FROM tok),
         |per AS (SELECT b, COUNT(*) AS n_s,
         |               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t
         |        FROM bk GROUP BY b),
         |tot AS (SELECT SUM(n_s) AS tot_s, SUM(n_t) AS tot_t FROM per),
         |r AS (SELECT b,
         |             CAST(ROUND(1e6 * (ln((n_t + 1e0) / (tot_t + 64))
         |                               - ln((n_s + 1e0) / (tot_s + 64)))) AS BIGINT)
         |               AS ratio_micros
         |      FROM per, tot),
         |w AS (SELECT bk.doc_id, bk.lang, COUNT(*) AS n_tokens,
         |             SUM(r.ratio_micros) AS weight_micros
         |      FROM bk JOIN r USING (b) GROUP BY bk.doc_id, bk.lang)
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(weight_micros AS BIGINT) AS weight_micros
         |FROM w ORDER BY weight_micros DESC, doc_id LIMIT 20""".stripMargin,

    "q303_hrw_rebalance" ->
      s"""WITH k AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
         |h AS (SELECT k,
         |        ${hrwListSql("k", 8)} AS l8,
         |        ${hrwListSql("k", 9)} AS l9,
         |        ${h60Sql("'mod:' || k")} AS mh
         |      FROM k),
         |m AS (SELECT
         |        CASE WHEN list_indexof(l8, list_max(l8))
         |               <> list_indexof(l9, list_max(l9)) THEN 1 ELSE 0 END AS hrw_moved,
         |        CASE WHEN mh % 8 <> mh % 9 THEN 1 ELSE 0 END AS mod_moved
         |      FROM h),
         |a AS (SELECT COUNT(*) AS n_keys, SUM(hrw_moved) AS hrw_m,
         |             SUM(mod_moved) AS mod_m
         |      FROM m)
         |SELECT s.scheme, CAST(a.n_keys AS BIGINT) AS n_keys,
         |       CAST(CASE WHEN s.scheme = 'hrw' THEN a.hrw_m ELSE a.mod_m END
         |            AS BIGINT) AS n_moved,
         |       CAST(CASE WHEN s.scheme = 'hrw' THEN a.hrw_m ELSE a.mod_m END
         |            * 1000 // a.n_keys AS BIGINT) AS moved_permille
         |FROM (VALUES ('hrw'), ('mod')) s(scheme), a""".stripMargin,

    "q304_gini_skew" ->
      s"""WITH tok AS (
         |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
         |  FROM documents),
         |tf AS (SELECT token, COUNT(*) AS sz FROM tok GROUP BY token),
         |g1 AS (SELECT sz, ROW_NUMBER() OVER (ORDER BY sz) AS i FROM tf),
         |s1 AS (SELECT COUNT(*) AS n, SUM(sz) AS t, SUM(i * sz) AS s FROM g1),
         |bc AS (SELECT ${h60Sql("'gini:' || token")} % 32 AS b, COUNT(*) AS cnt
         |       FROM tok GROUP BY b),
         |bsz AS (SELECT sp.range AS b, COALESCE(bc.cnt, 0) AS sz
         |        FROM range(32) sp LEFT JOIN bc ON bc.b = sp.range),
         |g2 AS (SELECT sz, ROW_NUMBER() OVER (ORDER BY sz) AS i FROM bsz),
         |s2 AS (SELECT COUNT(*) AS n, SUM(sz) AS t, SUM(i * sz) AS s FROM g2)
         |SELECT 'token_freq' AS scheme, CAST(n AS BIGINT) AS n_keys,
         |       CAST(t AS BIGINT) AS total,
         |       CAST((2 * s - (n + 1) * t) * 1000 // (n * t) AS BIGINT)
         |         AS gini_permille
         |FROM s1
         |UNION ALL
         |SELECT 'hash_bucket32' AS scheme, CAST(n AS BIGINT) AS n_keys,
         |       CAST(t AS BIGINT) AS total,
         |       CAST((2 * s - (n + 1) * t) * 1000 // (n * t) AS BIGINT)
         |         AS gini_permille
         |FROM s2""".stripMargin,

    "q305_pmi_pairs" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
         |  FROM documents),
         |dt AS (SELECT DISTINCT doc_id, w FROM tok),
         |dfq AS (SELECT w, COUNT(*) AS df FROM dt GROUP BY w),
         |topv AS (SELECT w, df FROM dfq ORDER BY df DESC, w LIMIT 50),
         |tv AS (SELECT dt.doc_id, dt.w, topv.df FROM dt JOIN topv USING (w)),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |p AS (SELECT a.w AS w1, b.w AS w2, a.df AS df1, b.df AS df2,
         |             COUNT(*) AS c_xy
         |      FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.w < b.w
         |      GROUP BY a.w, b.w, a.df, b.df)
         |SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
         |       $PmiMicrosExpr AS pmi_micros
         |FROM p, nd WHERE c_xy >= 5
         |ORDER BY pmi_micros DESC, w1, w2 LIMIT 30""".stripMargin,

    "q306_letter_entropy" ->
      s"""WITH c AS (
         |  SELECT lang,
         |         ${graft.ext.TextAnalysis.letterCountCols("lower(text)").mkString(",\n         ")}
         |  FROM documents),
         |h AS (SELECT lang,
         |             ${graft.ext.TextAnalysis.letterEntropyMicrosExpr("//")} AS h_micros
         |      FROM c
         |      WHERE ${graft.ext.TextAnalysis.letterTotalExpr} > 0)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(h_micros) // COUNT(*) AS BIGINT) AS mean_entropy_micros,
         |       CAST(MIN(h_micros) AS BIGINT) AS min_entropy_micros,
         |       CAST(MAX(h_micros) AS BIGINT) AS max_entropy_micros
         |FROM h GROUP BY lang""".stripMargin,

    "q307_distinct_ngrams" ->
      s"""WITH u AS (
         |  SELECT source,
         |         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS g
         |  FROM documents),
         |b0 AS (SELECT source,
         |              regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
         |       FROM documents),
         |b AS (SELECT source,
         |             unnest([array_to_string(tk[i:i+1], ' ')
         |                     for i in range(1, len(tk))]) AS g
         |      FROM b0 WHERE len(tk) >= 2)
         |SELECT 'uni' AS gram, source, CAST(COUNT(*) AS BIGINT) AS total,
         |       CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_grams,
         |       CAST(COUNT(DISTINCT g) * 1000 // COUNT(*) AS BIGINT)
         |         AS distinct_permille
         |FROM u GROUP BY source
         |UNION ALL
         |SELECT 'bi' AS gram, source, CAST(COUNT(*) AS BIGINT) AS total,
         |       CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_grams,
         |       CAST(COUNT(DISTINCT g) * 1000 // COUNT(*) AS BIGINT)
         |         AS distinct_permille
         |FROM b GROUP BY source""".stripMargin,

    "q308_mmr_diversify" -> mmrOracleSql(poolSize = 20, k = 5, lamPermille = 700),

    "q309_dawid_skene" ->
      s"""WITH base AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS item, o_orderstatus AS truth,
         |         rt.rater
         |  FROM orders, (VALUES (0), (1), (2), (3), (4)) rt(rater)),
         |d AS (SELECT item, truth, rater,
         |             ${h60Sql("'ds:v:' || rater || ':' || item")} % 1000 AS d1,
         |             ${h60Sql("'ds:w:' || rater || ':' || item")} % 2 AS d2
         |      FROM base),
         |v AS (SELECT item, truth, rater,
         |             CASE WHEN d1 < $dsAccCaseSql THEN truth
         |                  ELSE list_filter(['F', 'O', 'P'],
         |                         x -> x <> truth)[CAST(d2 AS INT) + 1]
         |             END AS label
         |      FROM d),
         |vc AS (SELECT item, label, COUNT(*) AS nv FROM v GROUP BY item, label),
         |mj AS (SELECT item, label AS maj_label FROM (
         |         SELECT item, label,
         |                ROW_NUMBER() OVER (PARTITION BY item
         |                                   ORDER BY nv DESC, label) AS rn
         |         FROM vc) mq WHERE rn = 1),
         |ra AS (SELECT v.rater, COUNT(*) AS n_labels,
         |              SUM(CASE WHEN v.label = mj.maj_label THEN 1 ELSE 0 END)
         |                AS agree
         |       FROM v JOIN mj USING (item) GROUP BY v.rater),
         |w AS (SELECT rater, agree * 1000 // n_labels AS wgt FROM ra),
         |wm AS (SELECT v.item, v.label, SUM(w.wgt) AS mass
         |       FROM v JOIN w USING (rater) GROUP BY v.item, v.label),
         |wl AS (SELECT item, label AS weighted_label FROM (
         |         SELECT item, label,
         |                ROW_NUMBER() OVER (PARTITION BY item
         |                                   ORDER BY mass DESC, label) AS rn
         |         FROM wm) wq WHERE rn = 1),
         |t AS (SELECT DISTINCT item, truth FROM v)
         |SELECT mj.maj_label, wl.weighted_label,
         |       CAST(COUNT(*) AS BIGINT) AS n_items,
         |       CAST(SUM(CASE WHEN wl.weighted_label = t.truth THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_weighted_correct
         |FROM mj JOIN wl USING (item) JOIN t USING (item)
         |GROUP BY mj.maj_label, wl.weighted_label""".stripMargin,

    "q310_fellegi_sunter" -> fsOracleSql,

    "q311_unigram_lm_quality" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
         |  FROM documents),
         |vocab AS (SELECT w,
         |                 SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_ref
         |          FROM tok GROUP BY w),
         |tot AS (SELECT SUM(c_ref) AS t_ref, COUNT(*) AS v FROM vocab),
         |cost AS (SELECT w,
         |                CAST(ROUND(1e6 * ln((t_ref + v * 1e0) / (c_ref + 1)))
         |                     AS BIGINT) AS cm
         |         FROM vocab, tot),
         |dc AS (SELECT t.doc_id, t.lang, COUNT(*) AS n_tok, SUM(c.cm) AS sc
         |       FROM tok t JOIN cost c USING (w) GROUP BY t.doc_id, t.lang),
         |d2 AS (SELECT doc_id, lang, sc // n_tok AS cost FROM dc)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(cost) // COUNT(*) AS BIGINT) AS mean_cost_micros,
         |       CAST(MIN(cost) AS BIGINT) AS min_cost_micros,
         |       CAST(MAX(cost) AS BIGINT) AS max_cost_micros
         |FROM d2 GROUP BY lang""".stripMargin,

    "q312_temperature_mixture" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
         |w AS (SELECT lang, n_docs,
         |             CAST(ROUND(1e6 * sqrt(n_docs)) AS BIGINT) AS wm
         |      FROM c),
         |t AS (SELECT SUM(wm) AS tot FROM w),
         |f AS (SELECT lang, n_docs, wm,
         |             (1000 * wm) // tot AS fl, (1000 * wm) % tot AS rem
         |      FROM w, t),
         |k AS (SELECT 1000 - SUM(fl) AS kk FROM f),
         |r AS (SELECT lang, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rn
         |      FROM f)
         |SELECT f.lang, CAST(f.n_docs AS BIGINT) AS n_docs,
         |       f.wm AS weight_micros,
         |       CAST(f.fl + CASE WHEN r.rn <= k.kk THEN 1 ELSE 0 END AS BIGINT)
         |         AS quota
         |FROM f JOIN r USING (lang), k""".stripMargin,

    "q313_hits_authorities" ->
      s"""WITH e AS (
         |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
         |         CAST(l_partkey AS BIGINT) + 1000000 AS dst
         |  FROM lineitem),
         |h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h FROM e),
         |a1r AS (SELECT e.dst, SUM(h0.h) AS raw
         |        FROM e JOIN h0 ON e.src = h0.node GROUP BY e.dst),
         |a1 AS (SELECT dst AS node,
         |              raw * 1000000 // (SELECT MAX(raw) FROM a1r) AS a
         |       FROM a1r),
         |h1r AS (SELECT e.src, SUM(a1.a) AS raw
         |        FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
         |h1 AS (SELECT src AS node,
         |              raw * 1000000 // (SELECT MAX(raw) FROM h1r) AS h
         |       FROM h1r),
         |a2r AS (SELECT e.dst, SUM(h1.h) AS raw
         |        FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
         |a2 AS (SELECT dst AS node,
         |              raw * 1000000 // (SELECT MAX(raw) FROM a2r) AS a
         |       FROM a2r)
         |SELECT node, CAST(a AS BIGINT) AS auth_micros FROM a2
         |ORDER BY auth_micros DESC, node LIMIT 15""".stripMargin,

    "q314_cdc_chunking" ->
      s"""WITH $docsCorpusSql,
         |b AS (
         |  SELECT doc_id, i AS pos
         |  FROM (SELECT doc_id, text,
         |               unnest(range(2, length(text) - 6)) AS i
         |        FROM corpus WHERE length(text) >= 9) x
         |  WHERE ${h60Sql("'cdc:' || substr(text, CAST(i AS INT), 8)")} % 16 = 0),
         |bl AS (SELECT doc_id, list_sort(list(pos)) AS bpos FROM b GROUP BY doc_id),
         |st AS (SELECT c.doc_id, c.text,
         |              list_prepend(CAST(1 AS BIGINT),
         |                           COALESCE(bl.bpos, [])) AS starts
         |       FROM corpus c LEFT JOIN bl USING (doc_id)),
         |ix AS (SELECT doc_id, text, starts,
         |              unnest(range(1, len(starts) + 1)) AS i
         |       FROM st),
         |ch AS (SELECT doc_id,
         |              substr(text, CAST(starts[i] AS INT),
         |                     CAST((CASE WHEN i = len(starts)
         |                                THEN length(text) + 1
         |                                ELSE starts[i + 1] END) - starts[i] AS INT))
         |                AS chunk
         |       FROM ix),
         |cdc AS (SELECT 'cdc' AS scheme, COUNT(*) AS n_chunks,
         |               COUNT(DISTINCT chunk) AS n_distinct FROM ch),
         |fx AS (SELECT doc_id, substr(text, CAST(s AS INT), 16) AS chunk
         |       FROM (SELECT doc_id, text,
         |                    unnest(range(1, length(text) + 1, 16)) AS s
         |             FROM corpus WHERE length(text) >= 1) y),
         |fixed AS (SELECT 'fixed16' AS scheme, COUNT(*) AS n_chunks,
         |                 COUNT(DISTINCT chunk) AS n_distinct FROM fx)
         |SELECT scheme, CAST(n_chunks AS BIGINT) AS n_chunks,
         |       CAST(n_distinct AS BIGINT) AS n_distinct,
         |       CAST((n_chunks - n_distinct) * 1000 // n_chunks AS BIGINT)
         |         AS dedup_permille
         |FROM (SELECT * FROM cdc UNION ALL SELECT * FROM fixed) u""".stripMargin,

    "q315_sorted_neighborhood" ->
      """WITH recs AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey AS BIGINT) + 100000, c_name || 'x'
        |  FROM customer),
        |o AS (SELECT id, name,
        |             ROW_NUMBER() OVER (ORDER BY name, id) AS ord
        |      FROM recs),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |             ROUND(jaro_winkler_similarity(a.name, b.name), 6) AS jw
        |      FROM o a JOIN o b ON b.ord > a.ord AND b.ord - a.ord <= 10),
        |t AS (SELECT COUNT(*) AS n_planted FROM customer)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |       CAST(SUM(CASE WHEN jw >= 0.95 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_matched,
        |       CAST(SUM(CASE WHEN jw >= 0.95 AND abs(id_a - id_b) = 100000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_true_found,
        |       CAST(t.n_planted AS BIGINT) AS n_planted,
        |       CAST(SUM(CASE WHEN jw >= 0.95 AND abs(id_a - id_b) = 100000
        |                     THEN 1 ELSE 0 END) * 1000 // t.n_planted AS BIGINT)
        |         AS recall_permille
        |FROM p, t GROUP BY t.n_planted""".stripMargin,

    "q316_kl_drift" ->
      """WITH a AS (SELECT event_type FROM events),
        |b AS (SELECT event_type FROM events
        |      WHERE NOT (event_type = 'click' AND event_id % 2 = 0)),
        |ca AS (SELECT event_type AS cat, COUNT(*) AS ca FROM a GROUP BY 1),
        |cb AS (SELECT event_type AS cat, COUNT(*) AS cb FROM b GROUP BY 1),
        |m AS (SELECT COALESCE(ca.cat, cb.cat) AS cat,
        |             COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
        |      FROM ca FULL OUTER JOIN cb ON ca.cat = cb.cat),
        |tot AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb, COUNT(*) AS k FROM m),
        |terms AS (
        |  SELECT CAST(ROUND(1e6 * ((ca + 1e0) / (ta + k)) *
        |           ln(((ca + 1e0) * (tb + k)) / ((ta + k) * (cb + 1e0))))
        |         AS BIGINT) AS tab,
        |         CAST(ROUND(1e6 * ((cb + 1e0) / (tb + k)) *
        |           ln(((cb + 1e0) * (ta + k)) / ((tb + k) * (ca + 1e0))))
        |         AS BIGINT) AS tba,
        |         ta, tb, k
        |  FROM m, tot)
        |SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |       CAST(k AS BIGINT) AS n_categories,
        |       CAST(SUM(tab) AS BIGINT) AS kl_ab_micros,
        |       CAST(SUM(tba) AS BIGINT) AS kl_ba_micros
        |FROM terms GROUP BY ta, tb, k""".stripMargin,

    "q317_markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |tr AS (SELECT from_type, to_type, COUNT(*) AS n FROM seq
        |       WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |tot AS (SELECT from_type, SUM(n) AS row_total FROM tr GROUP BY from_type)
        |SELECT tr.from_type, tr.to_type, CAST(tr.n AS BIGINT) AS n,
        |       CAST(tr.n * 1000 // tot.row_total AS BIGINT) AS permille
        |FROM tr JOIN tot USING (from_type)""".stripMargin,

    "q318_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week
        |  FROM events),
        |fw AS (SELECT user_id, MIN(week) AS cohort FROM ev GROUP BY user_id),
        |aged AS (SELECT fw.cohort, ev.week - fw.cohort AS age,
        |                COUNT(DISTINCT ev.user_id) AS n_users
        |         FROM ev JOIN fw USING (user_id)
        |         GROUP BY fw.cohort, ev.week - fw.cohort),
        |sz AS (SELECT cohort, n_users AS cohort_size FROM aged WHERE age = 0)
        |SELECT a.cohort, CAST(a.age AS BIGINT) AS age,
        |       CAST(a.n_users AS BIGINT) AS n_users,
        |       CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |       CAST(a.n_users * 1000 // s.cohort_size AS BIGINT)
        |         AS retention_permille
        |FROM aged a JOIN sz s USING (cohort)""".stripMargin,

    "q319_sketch_overlap" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |i AS (SELECT COUNT(*) AS n_inter_exact FROM c JOIN p USING (user_id))
        |SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_exact,
        |       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_buy_exact,
        |       CAST(i.n_inter_exact AS BIGINT) AS n_inter_exact,
        |       TRUE AS within_10pct
        |FROM i""".stripMargin,

    "q320_benford" ->
      s"""WITH d0 AS (
         |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
         |                          AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM orders),
         |dg AS (SELECT digit, COUNT(*) AS n_obs FROM d0 GROUP BY digit),
         |t AS (SELECT SUM(n_obs) AS n_total FROM dg),
         |e AS (SELECT * FROM (VALUES ${
              BenfordMicros.map { case (d, m) => s"($d, $m)" }.mkString(", ")
            }) v(digit, benford_micros))
         |SELECT dg.digit, CAST(dg.n_obs AS BIGINT) AS n_obs,
         |       CAST(dg.n_obs * 1000000 // t.n_total AS BIGINT) AS obs_micros,
         |       CAST(e.benford_micros AS BIGINT) AS benford_micros,
         |       CAST(dg.n_obs * 1000000 // t.n_total - e.benford_micros AS BIGINT)
         |         AS delta_micros
         |FROM dg JOIN e USING (digit), t""".stripMargin,

    // One-shot labels via recursive CTE; SUM(component) is a NODE-LEVEL
    // checksum (labels canonicalize to min id on both sides), so a single
    // mislabeled node in the incremental fold hash-fails the compare.
    "q321_incremental_cc" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |walk(id, lab) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, w.lab FROM walk w JOIN sym s ON w.id = s.src)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
         |       CAST(SUM(component) AS BIGINT) AS label_checksum
         |FROM (SELECT id, MIN(lab) AS component FROM walk GROUP BY id) labd"""
        .stripMargin,

    "q322_feature_hash_audit" ->
      s"""WITH v AS (
         |  SELECT DISTINCT token FROM (
         |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
         |    FROM documents) x),
         |bk AS (SELECT token, ${h60Sql("'dsir:' || token")} % 64 AS b FROM v),
         |pb AS (SELECT b, COUNT(*) AS load FROM bk GROUP BY b)
         |SELECT CAST(SUM(load) AS BIGINT) AS n_vocab,
         |       CAST(64 AS BIGINT) AS n_buckets,
         |       CAST(COUNT(*) AS BIGINT) AS n_occupied,
         |       CAST(SUM(CASE WHEN load > 1 THEN load ELSE 0 END) AS BIGINT)
         |         AS n_collided_tokens,
         |       CAST(MAX(load) AS BIGINT) AS max_load
         |FROM pb""".stripMargin,

    "q323_exact_quota_split" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         |t AS (SELECT SUM(n) AS tot FROM c),
         |f AS (SELECT lang, (200 * n) // tot AS fl, (200 * n) % tot AS rem
         |      FROM c, t),
         |k AS (SELECT 200 - SUM(fl) AS kk FROM f),
         |r AS (SELECT lang, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rn
         |      FROM f),
         |q AS (SELECT f.lang,
         |             f.fl + CASE WHEN r.rn <= k.kk THEN 1 ELSE 0 END AS quota
         |      FROM f JOIN r USING (lang), k),
         |rk AS (SELECT doc_id, lang,
         |              ROW_NUMBER() OVER (PARTITION BY lang
         |                ORDER BY ${h60Sql("'split:' || doc_id")}, doc_id) AS rn
         |       FROM documents),
         |kept AS (SELECT rk.lang, rk.doc_id, q.quota
         |         FROM rk JOIN q USING (lang) WHERE rk.rn <= q.quota)
         |SELECT lang, CAST(quota AS BIGINT) AS quota,
         |       CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM kept GROUP BY lang, quota""".stripMargin,

    "q324_token_balanced_shards" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |           AS c,
         |         ${h60Sql("'shard:' || doc_id")} AS h
         |  FROM documents),
         |p AS (SELECT doc_id, c,
         |             COALESCE(SUM(c) OVER (ORDER BY h, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |               AS pre,
         |             SUM(c) OVER () AS tot
         |      FROM d)
         |SELECT CAST((pre * 8) // tot AS BIGINT) AS shard,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(c) AS BIGINT) AS n_tokens,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM p GROUP BY shard""".stripMargin,

    "q325_jl_projection_audit" -> jlAuditOracleSql,

    "q326_dp_histogram" ->
      s"""WITH c AS (SELECT event_type AS cat, COUNT(*) AS n_true
         |           FROM events GROUP BY event_type),
         |n AS (SELECT cat, n_true,
         |             n_true
         |             + CAST(FLOOR(-2.0 * ln(((${h60Sql("'dp:p:' || cat")} % 1000000) + 1)
         |                                    / 1000000.0)) AS BIGINT)
         |             - CAST(FLOOR(-2.0 * ln(((${h60Sql("'dp:n:' || cat")} % 1000000) + 1)
         |                                    / 1000000.0)) AS BIGINT) AS n_noisy
         |      FROM c)
         |SELECT cat, CAST(n_true AS BIGINT) AS n_true,
         |       CAST(n_noisy AS BIGINT) AS n_noisy,
         |       CAST(abs(n_noisy - n_true) AS BIGINT) AS abs_err
         |FROM n""".stripMargin,

    "q327_maxsim_retrieval" ->
      """WITH base AS (
        |  SELECT vec_id // 10 AS doc, vec_id,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qt, v AS qv FROM base WHERE doc = 0),
        |sc AS (SELECT b.doc, q.qt,
        |              CAST(ROUND(1e6 * list_cosine_similarity(b.v, q.qv))
        |                   AS BIGINT) AS c
        |       FROM base b, q WHERE b.doc <> 0),
        |mx AS (SELECT doc, qt, MAX(c) AS m FROM sc GROUP BY doc, qt)
        |SELECT doc, CAST(SUM(m) AS BIGINT) AS maxsim_micros
        |FROM mx GROUP BY doc
        |ORDER BY maxsim_micros DESC, doc LIMIT 10""".stripMargin,

    "q328_sequence_anomaly" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |tr AS (SELECT user_id, from_type, to_type FROM seq
        |       WHERE to_type IS NOT NULL),
        |cnt AS (SELECT from_type, to_type, COUNT(*) AS n FROM tr
        |        GROUP BY from_type, to_type),
        |rt AS (SELECT from_type, SUM(n) AS rt FROM cnt GROUP BY from_type),
        |kk AS (SELECT COUNT(DISTINCT to_type) AS k FROM cnt),
        |lm AS (SELECT cnt.from_type, cnt.to_type,
        |              CAST(ROUND(1e6 * ln((rt.rt + kk.k * 1e0) / (cnt.n + 1)))
        |                   AS BIGINT) AS s
        |       FROM cnt JOIN rt USING (from_type), kk)
        |SELECT tr.user_id, CAST(COUNT(*) AS BIGINT) AS n_transitions,
        |       CAST(SUM(lm.s) // COUNT(*) AS BIGINT) AS mean_surprisal_micros
        |FROM tr JOIN lm USING (from_type, to_type)
        |GROUP BY tr.user_id
        |ORDER BY mean_surprisal_micros DESC, user_id LIMIT 10""".stripMargin,

    "q329_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d,
        |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(cents) AS t, COUNT(*) AS n FROM daily),
        |dev AS (SELECT d, cents - (t.t // t.n) AS dev FROM daily, t),
        |cs AS (SELECT d,
        |              CAST(SUM(dev) OVER (ORDER BY d
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                AS BIGINT) AS cusum_cents
        |       FROM dev)
        |SELECT d, cusum_cents, CAST(abs(cusum_cents) AS BIGINT) AS abs_cusum
        |FROM cs ORDER BY abs_cusum DESC, d LIMIT 5""".stripMargin,

    "q330_corpus_datasheet" ->
      """WITH b AS (
        |  SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |           AS toks,
        |         CAST(length(text) AS BIGINT) AS chars,
        |         md5(lower(trim(text))) AS h
        |  FROM documents),
        |m AS (SELECT COUNT(*) AS n_docs, SUM(toks) AS n_tokens,
        |             SUM(chars) AS n_chars, COUNT(DISTINCT h) AS nd
        |      FROM b),
        |lc AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
        |le AS (SELECT COUNT(*) AS n_langs,
        |              SUM(CAST(ROUND(1e6 * ((c * 1e0) / t) * ln((t * 1e0) / c))
        |                       AS BIGINT)) AS ent
        |       FROM lc, (SELECT SUM(c) AS t FROM lc) tt)
        |SELECT CAST(m.n_docs AS BIGINT) AS n_docs,
        |       CAST(m.n_tokens AS BIGINT) AS n_tokens,
        |       CAST(m.n_chars AS BIGINT) AS n_chars,
        |       CAST(m.n_tokens // m.n_docs AS BIGINT) AS mean_tokens,
        |       CAST(m.n_docs - m.nd AS BIGINT) AS exact_dup_docs,
        |       CAST(le.n_langs AS BIGINT) AS n_langs,
        |       CAST(le.ent AS BIGINT) AS lang_entropy_micros
        |FROM m, le""".stripMargin,

    "q331_lsh_bits_sweep" -> lshBitsSweepOracleSql,

    // Same window-equivalence reduction replayed relationally: duplicate
    // length-30 windows by exact string groupBy, covered positions, islands
    // split on gap > 30, per-doc span mass. start_checksum pins the exact
    // span STARTS, not just the mass.
    "q332_substring_dedup" ->
      """WITH base AS (
        |  SELECT doc_id AS doc, text AS t FROM documents
        |  WHERE LENGTH(text) >= 30),
        |p0 AS (
        |  SELECT doc, t, unnest(generate_series(1, LENGTH(t) - 29)) AS i
        |  FROM base),
        |pos AS (
        |  SELECT doc, CAST(i AS BIGINT) AS pos,
        |         substr(t, CAST(i AS INT), 30) AS g
        |  FROM p0),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
        |cov AS (SELECT doc, pos FROM pos JOIN dup USING (g)),
        |lagd AS (
        |  SELECT doc, pos,
        |         LAG(pos) OVER (PARTITION BY doc ORDER BY pos) AS prev
        |  FROM cov),
        |isl AS (
        |  SELECT doc, pos,
        |         SUM(CASE WHEN prev IS NULL OR pos - prev > 30 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc ORDER BY pos) AS island
        |  FROM lagd),
        |spans AS (
        |  SELECT doc, island, MIN(pos) AS s, MAX(pos) + 29 AS e
        |  FROM isl GROUP BY doc, island)
        |SELECT doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
        |       CAST(MAX(e - s + 1) AS BIGINT) AS max_span_chars,
        |       CAST(SUM(s) AS BIGINT) AS start_checksum
        |FROM spans GROUP BY doc""".stripMargin,

    // Pixel → BT.601 luma → integer grid means → hash bits, replayed from
    // the generator arithmetic (the BMP encode/decode is value-invisible —
    // q223 proves it bit-exact); verification is naive all-pairs on the
    // 60-image fixture, which the ENGINE finds via the banded index. Bit 63
    // can't be built as 1<<63 in DuckDB (left-shift overflow), hence the
    // two's-complement literal case.
    "q333_phash_image_neardup" ->
      """WITH m AS (
        |  SELECT id AS media_id, id AS src, 16 + id % 5 AS w, 12 + id % 3 AS h,
        |         0 AS pert
        |  FROM range(48) t(id)
        |  UNION ALL
        |  SELECT id + 1000, id, 16 + id % 5, 12 + id % 3, 1
        |  FROM range(48) t(id) WHERE id % 4 = 0),
        |p AS (SELECT media_id, src, w, h, pert, unnest(range(0, w * h)) AS pp
        |      FROM m),
        |px AS (SELECT media_id, src, w, h, pert, pp % w AS x, pp // w AS y
        |       FROM p),
        |lu AS (
        |  SELECT media_id, w, h, x, y,
        |    (299 * CASE WHEN pert = 1 AND x < 2 AND y < 2 THEN 255
        |         ELSE LEAST(255, (x*x*(3 + src % 7) + y*y*(5 + src % 11)
        |                          + x*y*(1 + src % 13) + 37*src) % 256 + pert*4) END
        |   + 587 * CASE WHEN pert = 1 AND x < 2 AND y < 2 THEN 255
        |         ELSE LEAST(255, (x*x*(2 + src % 5) + y*y*(7 + src % 3)
        |                          + x*y*(2 + src % 11) + 11*src) % 256 + pert*4) END
        |   + 114 * CASE WHEN pert = 1 AND x < 2 AND y < 2 THEN 255
        |         ELSE LEAST(255, (x*x*(1 + src % 9) + y*y*(4 + src % 13)
        |                          + x*y*(3 + src % 7) + 23*src) % 256 + pert*4) END
        |    ) // 1000 AS luma
        |  FROM px),
        |ac AS (SELECT media_id, (y * 8) // h AS cy, (x * 8) // w AS cx,
        |              SUM(luma) // COUNT(*) AS cell
        |       FROM lu GROUP BY 1, 2, 3),
        |ah AS (SELECT a.media_id,
        |          CAST(SUM(CASE WHEN 64 * a.cell > t.tot THEN
        |               CASE WHEN a.cy * 8 + a.cx = 63
        |                    THEN -9223372036854775807 - 1
        |                    ELSE 1::BIGINT << CAST(a.cy * 8 + a.cx AS INT) END
        |               ELSE 0 END) AS BIGINT) AS ahash
        |       FROM ac a JOIN (SELECT media_id, SUM(cell) AS tot
        |                       FROM ac GROUP BY 1) t USING (media_id)
        |       GROUP BY 1),
        |dc AS (SELECT media_id, (y * 8) // h AS cy, (x * 9) // w AS cx,
        |              SUM(luma) // COUNT(*) AS cell
        |       FROM lu GROUP BY 1, 2, 3),
        |dh AS (SELECT l.media_id,
        |          CAST(SUM(CASE WHEN r.cell > l.cell THEN
        |               CASE WHEN l.cy * 8 + l.cx = 63
        |                    THEN -9223372036854775807 - 1
        |                    ELSE 1::BIGINT << CAST(l.cy * 8 + l.cx AS INT) END
        |               ELSE 0 END) AS BIGINT) AS dhash
        |       FROM dc l JOIN dc r ON l.media_id = r.media_id AND l.cy = r.cy
        |                           AND r.cx = l.cx + 1
        |       GROUP BY 1),
        |s AS (SELECT ah.media_id, ah.ahash, dh.dhash
        |      FROM ah JOIN dh USING (media_id))
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS ahash_hamming,
        |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dhash_hamming
        |FROM s a JOIN s b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 7""".stripMargin,

    "q334_bpe_roundtrip" -> bpeRoundTripOracleSql(4),

    // q173's oracle minus the batch attribution: the union of completed
    // pairs over all ticks = every near-dup pair touching a delta.
    "q335_streaming_lsh_index" -> {
      val corpusCte =
        """corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, regexp_replace(text, '^\S+\s*', '') FROM documents
          |  WHERE doc_id % 2 = 0
          |  UNION ALL
          |  SELECT doc_id + 200000, regexp_replace(text, '^\S+\s*', '') FROM documents
          |  WHERE doc_id % 2 = 1)""".stripMargin
      s"""WITH ${minhashPairsCtesOver(corpusCte)}
         |SELECT id_a AS index_id, id_b AS delta_id, jaccard
         |FROM pairs WHERE id_b >= 100000 AND jaccard >= 0.5""".stripMargin
    },

    // Full replay: exact top-5, the TWO-TABLE 6-bit LSH seed graph (salted
    // plane families inlined as literals), the undirected NoN candidate
    // expansion, the refined top-5, and both recall ratios — rank ordering
    // ROUND(cos,6) DESC then id on both engines.
    "q336_nn_descent" ->
      s"""WITH base AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nb0 AS (SELECT vec_id, v, ${lshBucketSql("v", 6, 64, 0L)} AS b FROM base),
         |nb1 AS (SELECT vec_id, v, ${lshBucketSql("v", 6, 64, 1L)} AS b FROM base),
         |ek AS (SELECT q, n FROM (
         |    SELECT a.vec_id AS q, b.vec_id AS n,
         |           ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |             ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
         |                      b.vec_id) AS r
         |    FROM base a JOIN base b ON a.vec_id <> b.vec_id) x WHERE r <= 5),
         |cand0 AS (
         |    SELECT a.vec_id AS q, b.vec_id AS n,
         |           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cs
         |    FROM nb0 a JOIN nb0 b ON a.b = b.b AND a.vec_id <> b.vec_id
         |    UNION
         |    SELECT a.vec_id, b.vec_id,
         |           ROUND(list_cosine_similarity(a.v, b.v), 6)
         |    FROM nb1 a JOIN nb1 b ON a.b = b.b AND a.vec_id <> b.vec_id),
         |g0 AS (SELECT q, n FROM (
         |    SELECT q, n,
         |           ROW_NUMBER() OVER (PARTITION BY q
         |             ORDER BY cs DESC, n) AS r
         |    FROM cand0) x
         |  WHERE r <= 5),
         |und AS (SELECT q, n FROM g0 UNION SELECT n, q FROM g0),
         |cand AS (SELECT q, n FROM und
         |         UNION SELECT x.q, y.n FROM und x JOIN und y ON x.n = y.q
         |         WHERE x.q <> y.n),
         |g1 AS (SELECT q, n FROM (
         |    SELECT c.q, c.n,
         |           ROW_NUMBER() OVER (PARTITION BY c.q
         |             ORDER BY ROUND(list_cosine_similarity(bq.v, bn.v), 6) DESC,
         |                      c.n) AS r
         |    FROM cand c JOIN base bq ON bq.vec_id = c.q
         |                JOIN base bn ON bn.vec_id = c.n) x WHERE r <= 5),
         |und1 AS (SELECT q, n FROM g1 UNION SELECT n, q FROM g1),
         |cand1 AS (SELECT q, n FROM und1
         |          UNION SELECT x.q, y.n FROM und1 x JOIN und1 y ON x.n = y.q
         |          WHERE x.q <> y.n),
         |g2 AS (SELECT q, n FROM (
         |    SELECT c.q, c.n,
         |           ROW_NUMBER() OVER (PARTITION BY c.q
         |             ORDER BY ROUND(list_cosine_similarity(bq.v, bn.v), 6) DESC,
         |                      c.n) AS r
         |    FROM cand1 c JOIN base bq ON bq.vec_id = c.q
         |                 JOIN base bn ON bn.vec_id = c.n) x WHERE r <= 5),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ek),
         |h AS (
         |  SELECT 'lsh_init' AS stage, CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM g0 JOIN ek USING (q, n)
         |  UNION ALL
         |  SELECT 'nn_descent_1', CAST(COUNT(*) AS BIGINT)
         |  FROM g1 JOIN ek USING (q, n)
         |  UNION ALL
         |  SELECT 'nn_descent_2', CAST(COUNT(*) AS BIGINT)
         |  FROM g2 JOIN ek USING (q, n))
         |SELECT stage, n_hits, n_exact,
         |       CAST(n_hits * 1000 // n_exact AS BIGINT) AS recall_permille
         |FROM h, tot""".stripMargin,

    "q337_tpcds_q64_shape" ->
      """WITH sale AS (
        |  SELECT o_custkey AS cust, l_partkey AS part,
        |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ch1 AS (SELECT cust, part, CAST(COUNT(*) AS BIGINT) AS n1,
        |               CAST(SUM(cents) AS BIGINT) AS cents1
        |        FROM sale WHERE yr <= 1997 GROUP BY cust, part),
        |ch2 AS (SELECT cust, part, CAST(COUNT(*) AS BIGINT) AS n2,
        |               CAST(SUM(cents) AS BIGINT) AS cents2
        |        FROM sale WHERE yr >= 1998 GROUP BY cust, part)
        |SELECT n_name, p_brand,
        |       CAST(COUNT(*) AS BIGINT) AS n_repeat_pairs,
        |       CAST(SUM(cents1) AS BIGINT) AS early_cents,
        |       CAST(SUM(cents2) AS BIGINT) AS late_cents
        |FROM ch1 JOIN ch2 USING (cust, part)
        |JOIN customer ON c_custkey = cust
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN part ON p_partkey = part
        |WHERE cents2 > cents1
        |GROUP BY n_name, p_brand""".stripMargin,

    "q338_tpcds_q14_shape" ->
      """WITH sale AS (
        |  SELECT l_partkey AS part, SUBSTR(o_orderpriority, 1, 1) AS ch,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cross_items AS (
        |  SELECT part FROM sale WHERE ch = '1'
        |  INTERSECT SELECT part FROM sale WHERE ch = '2'
        |  INTERSECT SELECT part FROM sale WHERE ch = '3'),
        |avg_sales AS (
        |  SELECT CAST(SUM(cents) AS BIGINT) AS tot_cents,
        |         CAST(COUNT(*) AS BIGINT) AS tot_n FROM sale)
        |SELECT s.ch AS channel, p.p_brand,
        |       CAST(COUNT(*) AS BIGINT) AS n_sales,
        |       CAST(SUM(s.cents) AS BIGINT) AS cents
        |FROM sale s JOIN cross_items ci ON s.part = ci.part
        |JOIN part p ON p.p_partkey = s.part
        |CROSS JOIN avg_sales
        |WHERE s.ch IN ('1', '2', '3')
        |GROUP BY s.ch, p.p_brand, avg_sales.tot_cents, avg_sales.tot_n
        |HAVING SUM(s.cents) * tot_n * 100 > 102 * COUNT(*) * tot_cents"""
        .stripMargin,

    "q339_tpcds_q67_shape" ->
      """WITH base AS (
        |  SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |         o_orderpriority AS prio,
        |         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |agg AS (
        |  SELECT n_name, yr, prio,
        |         CAST(GROUPING(n_name) * 4 + GROUPING(yr) * 2
        |              + GROUPING(prio) AS INT) AS lvl,
        |         CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM base GROUP BY ROLLUP(n_name, yr, prio)),
        |rk AS (
        |  SELECT *, RANK() OVER (PARTITION BY lvl
        |            ORDER BY cents DESC, COALESCE(n_name, ''),
        |                     COALESCE(yr, 0), COALESCE(prio, '')) AS r
        |  FROM agg)
        |SELECT lvl, CAST(r AS BIGINT) AS rnk,
        |       COALESCE(n_name, '(all)') AS n_name,
        |       COALESCE(yr, 0) AS yr, COALESCE(prio, '(all)') AS prio, cents
        |FROM rk WHERE r <= 3""".stripMargin,

    "q340_tpcds_q51_shape" ->
      """WITH m AS (
        |  SELECT c_mktsegment AS seg, strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(SUM(CASE WHEN SUBSTR(o_orderpriority, 1, 1) IN ('1', '2')
        |              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END)
        |           AS BIGINT) AS fast_cents,
        |         CAST(SUM(CASE WHEN SUBSTR(o_orderpriority, 1, 1) NOT IN ('1', '2')
        |              THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END)
        |           AS BIGINT) AS slow_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, strftime(o_orderdate, '%Y-%m')),
        |cum AS (
        |  SELECT seg, month,
        |         CAST(SUM(fast_cents) OVER (PARTITION BY seg ORDER BY month)
        |              AS BIGINT) AS fast_cum,
        |         CAST(SUM(slow_cents) OVER (PARTITION BY seg ORDER BY month)
        |              AS BIGINT) AS slow_cum
        |  FROM m)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_months_ahead,
        |       MIN(month) AS first_ahead_month,
        |       CAST(SUM(3 * fast_cum - 2 * slow_cum) AS BIGINT) AS lead_cents_sum
        |FROM cum WHERE 5 * fast_cum > 2 * (fast_cum + slow_cum)
        |GROUP BY seg""".stripMargin,

    // q332's replay with the keep-first rank: covered = occurrences ranked
    // after the corpus-first (doc, pos) per window.
    "q341_substring_dedup_keepfirst" ->
      """WITH base AS (
        |  SELECT doc_id AS doc, text AS t FROM documents
        |  WHERE LENGTH(text) >= 30),
        |p0 AS (
        |  SELECT doc, t, unnest(generate_series(1, LENGTH(t) - 29)) AS i
        |  FROM base),
        |pos AS (
        |  SELECT doc, CAST(i AS BIGINT) AS pos,
        |         substr(t, CAST(i AS INT), 30) AS g
        |  FROM p0),
        |cov AS (
        |  SELECT doc, pos FROM (
        |    SELECT doc, pos,
        |           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc, pos) AS occ
        |    FROM pos) x
        |  WHERE occ > 1),
        |lagd AS (
        |  SELECT doc, pos,
        |         LAG(pos) OVER (PARTITION BY doc ORDER BY pos) AS prev
        |  FROM cov),
        |isl AS (
        |  SELECT doc, pos,
        |         SUM(CASE WHEN prev IS NULL OR pos - prev > 30 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc ORDER BY pos) AS island
        |  FROM lagd),
        |spans AS (
        |  SELECT doc, island, MIN(pos) AS s, MAX(pos) + 29 AS e
        |  FROM isl GROUP BY doc, island)
        |SELECT doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars,
        |       CAST(SUM(s) AS BIGINT) AS start_checksum
        |FROM spans GROUP BY doc""".stripMargin,

    // Word / 2-gram / 3-gram repetition masses replayed with the same
    // tokenization; the Gopher flag is the same integer cross-multiply.
    "q342_ngram_repetition" ->
      """WITH arrs AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
        |  FROM documents),
        |wc AS (SELECT doc_id, t, COUNT(*) AS c
        |       FROM (SELECT doc_id, unnest(a) AS t FROM arrs) x GROUP BY 1, 2),
        |w AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |             CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
        |             CAST(MAX(c) AS BIGINT) AS top_word_count
        |      FROM wc GROUP BY 1),
        |a2 AS (SELECT doc_id,
        |              unnest([array_to_string(a[i:i+1], ' ')
        |                      for i in range(1, len(a))]) AS g
        |       FROM arrs),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM a2 GROUP BY 1, 2),
        |s2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
        |              CAST(COUNT(*) AS BIGINT) AS nd2,
        |              CAST(MAX(c) AS BIGINT) AS top_2gram_count
        |       FROM c2 GROUP BY 1),
        |a3 AS (SELECT doc_id,
        |              unnest([array_to_string(a[i:i+2], ' ')
        |                      for i in range(1, len(a) - 1)]) AS g
        |       FROM arrs),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM a3 GROUP BY 1, 2),
        |s3 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_3grams,
        |              CAST(COUNT(*) AS BIGINT) AS nd3,
        |              CAST(MAX(c) AS BIGINT) AS top_3gram_count
        |       FROM c3 GROUP BY 1)
        |SELECT w.doc_id, n_words, n_distinct_words, top_word_count,
        |       top_2gram_count,
        |       CAST(n_2grams - nd2 AS BIGINT) AS dup_2gram_mass,
        |       top_3gram_count,
        |       CAST(n_3grams - nd3 AS BIGINT) AS dup_3gram_mass,
        |       top_2gram_count * 10 > n_words AS gopher_top2_flag
        |FROM w JOIN s2 USING (doc_id) JOIN s3 USING (doc_id)""".stripMargin,

    // Same ROUND(1e3·ln) term contract; the division only ever sees a
    // positive numerator (truncate-vs-floor dialect trap avoided).
    "q343_zipf_slope" ->
      """WITH v AS (
        |  SELECT t AS w, COUNT(*) AS freq
        |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |        FROM documents) x
        |  GROUP BY 1),
        |top AS (SELECT w, freq FROM v ORDER BY freq DESC, w LIMIT 1000),
        |r AS (SELECT freq,
        |             ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS rank
        |      FROM top),
        |m AS (SELECT CAST(ROUND(1000 * ln(rank)) AS BIGINT) AS x,
        |             CAST(ROUND(1000 * ln(freq)) AS BIGINT) AS y
        |      FROM r),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |             CAST(SUM(x * y) AS BIGINT) AS sxy,
        |             CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM m)
        |SELECT n AS n_ranked,
        |       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        |       CAST((-(n * sxy - sx * sy)) * 1000 // (n * sxx - sx * sx)
        |            AS BIGINT) AS zipf_slope_neg_milli
        |FROM a""".stripMargin,

    // Sample → time-anchored frame energies → delta bits → Hamming pairs,
    // replayed from the generator arithmetic (the WAV encode/decode is
    // value-invisible — q222 proves the synth→encode→parse path
    // integer-exact). Only the first 6500 samples feed the hash (65 fixed
    // 100-sample frames) and every clip has ≥ 6500, so the replay generates
    // exactly that prefix. Bit 63 via the two's-complement literal (q333's
    // DuckDB shift-overflow workaround).
    "q344_audio_fingerprint_neardup" ->
      """WITH m AS (
        |  SELECT id AS media_id, id AS src, 0 AS pert FROM range(48) t(id)
        |  UNION ALL
        |  SELECT id + 1000, id, 1 FROM range(48) t(id) WHERE id % 4 = 0),
        |sm AS (SELECT media_id, src, pert, unnest(range(0, 6500)) AS i FROM m),
        |sv AS (SELECT media_id, i // 100 AS f,
        |         CASE WHEN pert = 1
        |              THEN 2 * (((i*i*(3 + src % 5) + i*(7 + src % 11) + 13*src)
        |                         % 20001) - 10000) + ((i * 7 + src) % 9) - 4
        |              ELSE ((i*i*(3 + src % 5) + i*(7 + src % 11) + 13*src)
        |                    % 20001) - 10000 END AS s
        |       FROM sm),
        |e AS (SELECT media_id, f, SUM(s * s) AS en FROM sv GROUP BY 1, 2),
        |bits AS (SELECT l.media_id, l.f AS i
        |         FROM e l JOIN e r ON l.media_id = r.media_id AND r.f = l.f + 1
        |         WHERE r.en > l.en AND l.f < 64),
        |h AS (SELECT m.media_id,
        |        CAST(COALESCE(SUM(CASE WHEN b.i = 63
        |                 THEN -9223372036854775807 - 1
        |                 ELSE 1::BIGINT << CAST(b.i AS INT) END), 0) AS BIGINT)
        |          AS afp
        |      FROM m LEFT JOIN bits b USING (media_id) GROUP BY m.media_id)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |       CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS afp_hamming
        |FROM h a JOIN h b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 7""".stripMargin,

    "q345_nn_descent_convergence" -> nnDescentConvergenceOracleSql(
      maxRounds = 3, k = 5, minNewPermille = 10L),

    // q335's oracle THROUGH the medallion cleaning: corpus = base docs ∪
    // deltas that survive trim + the 30-char validity floor (the planted
    // doc_id%5==0 truncations fail it and must not contribute pairs).
    "q346_streaming_medallion_lsh" -> {
      val corpusCte =
        """raw_d AS (
          |  SELECT doc_id + 100000 AS doc_id,
          |         '  ' || CASE WHEN doc_id % 5 = 0
          |              THEN SUBSTR(regexp_replace(text, '^\S+\s*', ''), 1, 10)
          |              ELSE regexp_replace(text, '^\S+\s*', '') END AS text
          |  FROM documents WHERE doc_id % 2 = 0
          |  UNION ALL
          |  SELECT doc_id + 200000,
          |         CASE WHEN doc_id % 5 = 0
          |              THEN SUBSTR(regexp_replace(text, '^\S+\s*', ''), 1, 10)
          |              ELSE regexp_replace(text, '^\S+\s*', '') END || ' '
          |  FROM documents WHERE doc_id % 2 = 1),
          |corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id, TRIM(text) FROM raw_d
          |  WHERE LENGTH(TRIM(text)) >= 30)""".stripMargin
      s"""WITH ${minhashPairsCtesOver(corpusCte)}
         |SELECT id_a AS index_id, id_b AS delta_id, jaccard
         |FROM pairs WHERE id_b >= 100000 AND jaccard >= 0.5""".stripMargin
    },

    "q347_tpcds_q23_shape" ->
      """WITH sale AS (
        |  SELECT o_custkey AS cust, l_partkey AS part,
        |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |         CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |freq_items AS (
        |  SELECT part FROM sale WHERE yr <= 1996
        |  GROUP BY part HAVING COUNT(*) >= 4),
        |cust_spend AS (
        |  SELECT cust, CAST(SUM(cents) AS BIGINT) AS spend
        |  FROM sale GROUP BY cust),
        |best_cust AS (
        |  SELECT cust FROM cust_spend
        |  WHERE spend * 2 > (SELECT MAX(spend) FROM cust_spend))
        |SELECT yr, mo,
        |       CAST(COUNT(*) AS BIGINT) AS n_sales,
        |       CAST(SUM(cents) AS BIGINT) AS cents
        |FROM sale
        |WHERE yr >= 1997
        |  AND part IN (SELECT part FROM freq_items)
        |  AND cust IN (SELECT cust FROM best_cust)
        |GROUP BY yr, mo""".stripMargin,

    "q348_tpcds_q78_shape" ->
      """WITH sale AS (
        |  SELECT o_custkey AS cust, l_orderkey AS ok, l_linenumber AS ln,
        |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |         CASE WHEN l_linenumber % 2 = 1 THEN 'air'
        |              ELSE 'ground' END AS ch,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ret AS (SELECT l_orderkey AS ok, l_linenumber AS ln
        |        FROM lineitem WHERE l_returnflag = 'R'),
        |kept AS (
        |  SELECT * FROM sale s
        |  WHERE NOT EXISTS (SELECT 1 FROM ret r
        |                    WHERE r.ok = s.ok AND r.ln = s.ln)),
        |air AS (SELECT cust, yr, CAST(COUNT(*) AS BIGINT) AS n_air,
        |               CAST(SUM(cents) AS BIGINT) AS cents_air
        |        FROM kept WHERE ch = 'air' GROUP BY cust, yr),
        |grd AS (SELECT cust, yr, CAST(COUNT(*) AS BIGINT) AS n_grd,
        |               CAST(SUM(cents) AS BIGINT) AS cents_grd
        |        FROM kept WHERE ch = 'ground' GROUP BY cust, yr)
        |SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_custs,
        |       CAST(SUM(n_air) AS BIGINT) AS kept_air_sales,
        |       CAST(SUM(n_grd) AS BIGINT) AS kept_ground_sales,
        |       CAST(SUM(cents_air) AS BIGINT) AS cents_air,
        |       CAST(SUM(cents_grd) AS BIGINT) AS cents_ground,
        |       CAST(SUM(CASE WHEN cents_air * 1 > cents_grd * 2 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS air_heavy_custs
        |FROM air JOIN grd USING (cust, yr)
        |GROUP BY yr""".stripMargin,

    // Full integer replay of the video fingerprint: fixture pixels →
    // BT.601 luma → 8×8 grid means (16×12 frames, so cx = x·8//16,
    // cy = y·8//12) → per-frame aHash bit (64·cell > Σcells) → strict
    // majority over the sampled frames {0,2,4,6} (2·cnt > 4) → 64-bit pack
    // → pairwise Hamming ≤ 7. The tail-clipped copies (id%6==0, pert=0,
    // same src) replay to the IDENTICAL fingerprint because only sampled
    // frames enter — the head-anchor invariance the Scala side proves on
    // actual shortened containers.
    "q349_video_framehash_neardup" ->
      """WITH m AS (
        |  SELECT id AS media_id, id AS src, 0 AS pert FROM range(48) t(id)
        |  UNION ALL
        |  SELECT id + 1000, id, 1 FROM range(48) t(id) WHERE id % 4 = 0
        |  UNION ALL
        |  SELECT id + 2000, id, 0 FROM range(48) t(id) WHERE id % 6 = 0),
        |fr AS (SELECT media_id, src, pert, unnest([0, 2, 4, 6]) AS f FROM m),
        |p AS (SELECT media_id, src, pert, f, unnest(range(0, 192)) AS pp
        |      FROM fr),
        |px AS (SELECT media_id, src, pert, f, pp % 16 AS x, pp // 16 AS y
        |       FROM p),
        |lu AS (
        |  SELECT media_id, f, x, y,
        |    (299 * CASE WHEN pert = 1 AND f = 2 AND x < 2 AND y < 2 THEN 255
        |         ELSE LEAST(255, (x*x*(3 + src % 7) + y*y*(5 + src % 11)
        |                          + x*y*(1 + src % 13) + 37*src + 19*f) % 256
        |                    + pert*4) END
        |   + 587 * CASE WHEN pert = 1 AND f = 2 AND x < 2 AND y < 2 THEN 255
        |         ELSE LEAST(255, (x*x*(2 + src % 5) + y*y*(7 + src % 3)
        |                          + x*y*(2 + src % 11) + 11*src + 23*f) % 256
        |                    + pert*4) END
        |   + 114 * CASE WHEN pert = 1 AND f = 2 AND x < 2 AND y < 2 THEN 255
        |         ELSE LEAST(255, (x*x*(1 + src % 9) + y*y*(4 + src % 13)
        |                          + x*y*(3 + src % 7) + 23*src + 29*f) % 256
        |                    + pert*4) END
        |    ) // 1000 AS luma
        |  FROM px),
        |c AS (SELECT media_id, f, (y * 8) // 12 AS cy, (x * 8) // 16 AS cx,
        |             SUM(luma) // COUNT(*) AS cell
        |      FROM lu GROUP BY 1, 2, 3, 4),
        |fb AS (SELECT c.media_id, c.f, c.cy * 8 + c.cx AS i
        |       FROM c JOIN (SELECT media_id, f, SUM(cell) AS tot
        |                    FROM c GROUP BY 1, 2) t USING (media_id, f)
        |       WHERE 64 * c.cell > t.tot),
        |mj AS (SELECT media_id, i FROM fb
        |       GROUP BY media_id, i HAVING 2 * COUNT(*) > 4),
        |h AS (SELECT m.media_id,
        |        CAST(COALESCE(SUM(CASE WHEN mj.i = 63
        |                 THEN -9223372036854775807 - 1
        |                 ELSE 1::BIGINT << CAST(mj.i AS INT) END), 0) AS BIGINT)
        |          AS vfp
        |      FROM m LEFT JOIN mj USING (media_id) GROUP BY m.media_id)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |       CAST(bit_count(xor(a.vfp, b.vfp)) AS BIGINT) AS vfp_hamming
        |FROM h a JOIN h b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.vfp, b.vfp)) <= 7""".stripMargin,

    "q350_tpcds_q95_shape" ->
      """WITH line AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS supp, l_returnflag AS rf,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS cents
        |  FROM lineitem),
        |multi_supp AS (
        |  SELECT DISTINCT l1.ok
        |  FROM line l1 JOIN line l2 ON l1.ok = l2.ok AND l1.supp <> l2.supp)
        |SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |       CAST(COUNT(DISTINCT l.ok) AS BIGINT) AS n_orders,
        |       CAST(SUM(l.cents) AS BIGINT) AS cents
        |FROM line l JOIN orders o ON l.ok = o_orderkey
        |WHERE l.ok IN (SELECT ok FROM multi_supp)
        |  AND EXISTS (SELECT 1 FROM line r WHERE r.ok = l.ok AND r.rf = 'R')
        |GROUP BY 1""".stripMargin,

    "q351_tpcds_q11_shape" ->
      """WITH sale AS (
        |  SELECT o_custkey AS cust,
        |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |         CASE WHEN l_linenumber % 2 = 1 THEN 'store' ELSE 'web' END
        |           AS ch,
        |         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) IN (1994, 1995)),
        |tot AS (SELECT cust, yr, ch, CAST(SUM(cents) AS BIGINT) AS cents
        |        FROM sale GROUP BY cust, yr, ch)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_custs,
        |       CAST(SUM(w2.cents) AS BIGINT) AS web_y2_cents,
        |       CAST(SUM(s2.cents) AS BIGINT) AS store_y2_cents
        |FROM tot s1
        |JOIN tot s2 ON s1.cust = s2.cust
        |JOIN tot w1 ON s1.cust = w1.cust
        |JOIN tot w2 ON s1.cust = w2.cust
        |WHERE s1.yr = 1994 AND s1.ch = 'store'
        |  AND s2.yr = 1995 AND s2.ch = 'store'
        |  AND w1.yr = 1994 AND w1.ch = 'web'
        |  AND w2.yr = 1995 AND w2.ch = 'web'
        |  AND s1.cents > 0 AND w1.cents > 0
        |  AND w2.cents * s1.cents > s2.cents * w1.cents""".stripMargin,

    "q352_kmeans_lloyd" ->
      s"""WITH q AS (SELECT vec_id AS vid,
         |  list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000.0)) AS v
         |  FROM embeddings),
         |${kmeansCtesSql(8, 3, 64)},
         |l1 AS (SELECT c.cid, CAST(SUM(CAST(abs(c.c[p.pos]) AS BIGINT)) AS BIGINT)
         |         AS centroid_l1
         |       FROM c3 c CROSS JOIN p GROUP BY c.cid)
         |SELECT af.cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
         |       CAST(SUM(af.dist) AS BIGINT) AS inertia,
         |       l1.centroid_l1,
         |       CAST(SUM(af.vid) AS BIGINT) AS id_checksum
         |FROM af JOIN l1 ON l1.cid = af.cid
         |GROUP BY af.cid, l1.centroid_l1""".stripMargin,

    "q353_semdedup" ->
      s"""WITH raw AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
         |  FROM embeddings),
         |q AS (SELECT vec_id AS vid,
         |  list_transform(e, x -> round(x * 1000000.0)) AS v FROM raw),
         |${kmeansCtesSql(8, 2, 64)},
         |nn AS (SELECT af.vid, af.cid, q.v,
         |              CAST(list_dot_product(q.v, q.v) AS BIGINT) AS n2
         |       FROM af JOIN q ON q.vid = af.vid),
         |pr AS (SELECT DISTINCT a.cid, b.vid AS idb
         |       FROM nn a JOIN nn b ON a.cid = b.cid AND a.vid < b.vid
         |       WHERE list_dot_product(a.v, b.v) > 0
         |         AND CAST(1000000 AS HUGEINT)
         |               * CAST(CAST(list_dot_product(a.v, b.v) AS BIGINT) AS HUGEINT)
         |               * CAST(CAST(list_dot_product(a.v, b.v) AS BIGINT) AS HUGEINT)
         |             >= CAST(990025 AS HUGEINT)
         |               * CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT))
         |SELECT n.cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
         |       CAST(SUM(CASE WHEN p.idb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dropped,
         |       CAST(SUM(CASE WHEN p.idb IS NOT NULL THEN n.vid ELSE 0 END) AS BIGINT)
         |         AS dropped_id_checksum
         |FROM nn n LEFT JOIN pr p ON p.cid = n.cid AND p.idb = n.vid
         |GROUP BY n.cid""".stripMargin,

    "q354_t_closeness" ->
      """WITH base AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 120000 AS band
        |  FROM customer),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        |gb AS (SELECT band, COUNT(*) AS gc FROM base GROUP BY band),
        |bands AS (SELECT CAST(i AS BIGINT) AS band FROM range(0, 10) t(i)),
        |gcum AS (SELECT b.band, CAST(COALESCE(SUM(g2.gc), 0) AS BIGINT) AS cum_all
        |         FROM bands b LEFT JOIN gb g2 ON g2.band <= b.band GROUP BY b.band),
        |grp AS (SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_g
        |        FROM base GROUP BY 1, 2),
        |cnt AS (SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS c
        |        FROM base GROUP BY 1, 2, 3),
        |grid AS (SELECT g.c_nationkey, g.c_mktsegment, g.n_g, b.band,
        |                CAST(COALESCE(c.c, 0) AS BIGINT) AS c
        |         FROM grp g CROSS JOIN bands b
        |         LEFT JOIN cnt c ON c.c_nationkey = g.c_nationkey
        |           AND c.c_mktsegment = g.c_mktsegment AND c.band = b.band),
        |cum AS (SELECT *, CAST(SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment
        |                                    ORDER BY band) AS BIGINT) AS cum_g
        |        FROM grid)
        |SELECT cum.c_nationkey, cum.c_mktsegment, cum.n_g,
        |       CAST(SUM(ABS(cum.cum_g * t.n - gc2.cum_all * cum.n_g)) AS BIGINT)
        |         AS emd_num,
        |       CAST(cum.n_g * t.n * 9 AS BIGINT) AS emd_denom,
        |       CAST(1000 * SUM(ABS(cum.cum_g * t.n - gc2.cum_all * cum.n_g))
        |              > 150 * cum.n_g * t.n * 9 AS INT) AS t_violation
        |FROM cum JOIN gcum gc2 ON gc2.band = cum.band CROSS JOIN tot t
        |GROUP BY cum.c_nationkey, cum.c_mktsegment, cum.n_g, t.n""".stripMargin,

    "q355_tpcds_q47_shape" ->
      """WITH ms AS (
        |  SELECT p_brand AS brand,
        |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |         CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
        |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |           AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |                JOIN part ON l_partkey = p_partkey
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
        |  GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT brand, yr, mo, cents,
        |         CAST(SUM(cents) OVER (PARTITION BY brand, yr) AS BIGINT) AS ysum,
        |         CAST(COUNT(*) OVER (PARTITION BY brand, yr) AS BIGINT) AS ymonths,
        |         lag(cents) OVER (PARTITION BY brand, yr ORDER BY mo) AS prev_cents,
        |         lead(cents) OVER (PARTITION BY brand, yr ORDER BY mo) AS next_cents
        |  FROM ms)
        |SELECT brand, yr, mo, cents, ysum, prev_cents, next_cents
        |FROM w
        |WHERE ymonths = 12 AND ABS(12 * cents - ysum) * 10 > ysum""".stripMargin,

    "q356_tpcds_q39_shape" ->
      """WITH inv AS (
        |  SELECT l_suppkey AS supp,
        |         CAST(EXTRACT(MONTH FROM l_shipdate) AS INT) AS mo,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
        |         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |           AS BIGINT) AS ss
        |  FROM lineitem
        |  WHERE EXTRACT(YEAR FROM l_shipdate) = 1996
        |  GROUP BY 1, 2),
        |flagged AS (
        |  SELECT supp, mo, n, s,
        |         CASE WHEN n > 1 AND 4 * n * (n * ss - s * s) > (n - 1) * s * s
        |              THEN 1 ELSE 0 END AS hi
        |  FROM inv)
        |SELECT a.supp, a.mo AS mo1, b.mo AS mo2, a.n AS n1, a.s AS s1,
        |       b.n AS n2, b.s AS s2
        |FROM flagged a JOIN flagged b ON a.supp = b.supp AND b.mo = a.mo + 1
        |WHERE a.hi = 1 AND b.hi = 1""".stripMargin,

    "q357_phrase_match" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
        |         CAST(unnest(range(0, array_length(
        |           regexp_split_to_array(trim(lower(text)), '\s+')))) AS INT) AS pos
        |  FROM documents)
        |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |       CAST(MIN(a.pos) AS INT) AS first_pos
        |FROM tok a
        |JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.w = 'order'
        |JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.w = 'scan'
        |WHERE a.w = 'big'
        |GROUP BY a.doc_id""".stripMargin,

    "q358_tpcds_q88_shape" ->
      """SELECT
        |  CAST(SUM(CASE WHEN l_quantity <= 10 AND d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |  CAST(SUM(CASE WHEN l_quantity <= 10 AND d > 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
        |  CAST(SUM(CASE WHEN l_quantity > 10 AND l_quantity <= 25 AND d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
        |  CAST(SUM(CASE WHEN l_quantity > 10 AND l_quantity <= 25 AND d > 2 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
        |  CAST(SUM(CASE WHEN l_quantity > 25 AND l_quantity <= 40 AND d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
        |  CAST(SUM(CASE WHEN l_quantity > 25 AND l_quantity <= 40 AND d > 2 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
        |  CAST(SUM(CASE WHEN l_quantity > 40 AND d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS b7,
        |  CAST(SUM(CASE WHEN l_quantity > 40 AND d > 2 THEN 1 ELSE 0 END) AS BIGINT) AS b8
        |FROM (SELECT l_quantity, CAST(ROUND(l_discount * 100) AS BIGINT) AS d
        |      FROM lineitem WHERE l_returnflag IN ('R', 'A')) x""".stripMargin,

    // Full replay of the VAD pipeline: sample synth → square → frame-sum →
    // threshold → gaps-and-islands. All-integer, so every span endpoint and
    // energy is exact.
    "q359_audio_vad" ->
      """WITH m AS (SELECT id AS media_id, 4000 + (id % 5) * 400 AS n
        |           FROM range(48) t(id)),
        |sm AS (SELECT media_id, unnest(range(0, n)) AS i FROM m),
        |sv AS (SELECT media_id, i // 100 AS f,
        |         CASE WHEN ((i // 400) + media_id) % 3 <> 0
        |              THEN ((i * (7 + media_id % 11) + 13 * media_id) % 3001) - 1500
        |              ELSE ((i * (3 + media_id % 7) + 11 * media_id) % 41) - 20 END AS v
        |       FROM sm),
        |e AS (SELECT media_id, f, CAST(SUM(v * v) AS BIGINT) AS en
        |      FROM sv GROUP BY 1, 2),
        |a AS (SELECT media_id, f, en,
        |        f - ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY f) AS grp
        |      FROM e WHERE en > 1000000)
        |SELECT media_id, MIN(f) AS span_start, MAX(f) AS span_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(en) AS BIGINT) AS span_energy
        |FROM a GROUP BY media_id, grp""".stripMargin,

    // Full replay of the shot pipeline: pixel → BT.601 luma → 8×8 grid
    // means → aHash bits per (clip, frame) → lag-Hamming boundary →
    // running-sum shot number → spans. The bit construction mirrors
    // q333's aHash CTE (64·cell > Σcells, bit 63 via the Long.MinValue
    // literal).
    "q360_video_shot_segments" ->
      """WITH m AS (SELECT id AS media_id, 10 + id % 3 AS nf FROM range(48) t(id)),
        |fr AS (SELECT media_id, unnest(range(0, nf)) AS f FROM m),
        |px AS (SELECT media_id, f, f // 4 AS sc, unnest(range(0, 192)) AS pp
        |       FROM fr),
        |xy AS (SELECT media_id, f, sc, pp % 16 AS x, pp // 16 AS y FROM px),
        |lu AS (SELECT media_id, f, x, y,
        |        CASE WHEN media_id % 4 = 0 AND f = 5 THEN 255
        |        ELSE (299 * ((x*x*(3 + (media_id + sc) % 7)
        |                      + y*y*(5 + (media_id + 2*sc) % 11)
        |                      + x*y*(1 + (media_id + sc) % 13)
        |                      + 37*media_id + 101*sc) % 256)
        |            + 587 * ((x*x*(2 + (media_id + 2*sc) % 5)
        |                      + y*y*(7 + (media_id + sc) % 3)
        |                      + x*y*(2 + (media_id + 2*sc) % 11)
        |                      + 11*media_id + 53*sc) % 256)
        |            + 114 * ((x*x*(1 + (media_id + sc) % 9)
        |                      + y*y*(4 + (media_id + 2*sc) % 13)
        |                      + x*y*(3 + (media_id + sc) % 7)
        |                      + 23*media_id + 29*sc) % 256)) // 1000 END AS luma
        |       FROM xy),
        |ac AS (SELECT media_id, f, (y * 8) // 12 AS cy, (x * 8) // 16 AS cx,
        |              SUM(luma) // COUNT(*) AS cell
        |       FROM lu GROUP BY 1, 2, 3, 4),
        |ah AS (SELECT a.media_id, a.f,
        |          CAST(SUM(CASE WHEN 64 * a.cell > t.tot THEN
        |               CASE WHEN a.cy * 8 + a.cx = 63
        |                    THEN -9223372036854775807 - 1
        |                    ELSE 1::BIGINT << CAST(a.cy * 8 + a.cx AS INT) END
        |               ELSE 0 END) AS BIGINT) AS h
        |       FROM ac a JOIN (SELECT media_id, f, SUM(cell) AS tot
        |                       FROM ac GROUP BY 1, 2) t
        |            ON a.media_id = t.media_id AND a.f = t.f
        |       GROUP BY 1, 2),
        |b AS (SELECT media_id, f,
        |        CASE WHEN lag(h) OVER w IS NULL THEN 1
        |             WHEN bit_count(xor(h, lag(h) OVER w)) > 16 THEN 1
        |             ELSE 0 END AS bd
        |      FROM ah WINDOW w AS (PARTITION BY media_id ORDER BY f)),
        |sh AS (SELECT media_id, f,
        |         SUM(bd) OVER (PARTITION BY media_id ORDER BY f) AS shot
        |       FROM b)
        |SELECT media_id, CAST(shot AS BIGINT) AS shot,
        |       MIN(f) AS start_frame, MAX(f) AS end_frame,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames
        |FROM sh GROUP BY media_id, shot""".stripMargin,

    // Replays the fixture (the SAME shared expression text) and every
    // canonicalization rule with RE2-safe regexes, then the group/keeper
    // aggregate.
    "q361_url_canonical_dedup" ->
      s"""WITH u AS (SELECT id, id % 40 AS g, id // 40 AS v FROM range(240) t(id)),
         |r AS (SELECT id, $urlFixtureFromGv AS url FROM u),
         |c AS (SELECT id,
         |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
         |  coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '') AS rawpath,
         |  coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS rawq
         |  FROM r),
         |c2 AS (SELECT id, scheme,
         |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
         |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
         |       ELSE hostport END AS host,
         |  CASE WHEN regexp_replace(rawpath, '/$$', '') = '' THEN '/'
         |       ELSE regexp_replace(rawpath, '/$$', '') END AS path,
         |  array_to_string(list_sort(list_filter(str_split(rawq, '&'),
         |    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') AS qs
         |  FROM c),
         |can AS (SELECT id, concat(scheme, '://', host, path,
         |          CASE WHEN qs = '' THEN '' ELSE concat('?', qs) END) AS canonical_url
         |        FROM c2)
         |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
         |       MIN(id) AS keeper_id
         |FROM can GROUP BY 1""".stripMargin,

    // Replays the skeleton (the SAME shared expression text) and the exact
    // regexp/replace chain: script/style blocks, tags, the five entities
    // (&amp; last), whitespace collapse, then the char counts and the
    // text-density permille.
    "q362_html_text_extract" ->
      s"""WITH h AS (SELECT doc_id, $htmlFixtureSql AS html FROM documents),
         |x AS (SELECT doc_id, html,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
         |          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
         |        '<[^>]+>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
         |    '\\s+', ' ', 'g')) AS text_extracted
         |  FROM h)
         |SELECT doc_id, text_extracted,
         |       CAST(length(html) AS BIGINT) AS html_chars,
         |       CAST(length(text_extracted) AS BIGINT) AS text_chars,
         |       (1000 * CAST(length(text_extracted) AS BIGINT))
         |         // CAST(length(html) AS BIGINT) AS density_permille
         |FROM x""".stripMargin,

    // Replays the whole funnel: each stage's filter is the SAME fragment
    // its standalone oracle uses (q22 lang hits, q21 quality, q342 top-2gram,
    // q23 md5 fingerprints, q24/q65 portable MinHash + recursive-CTE
    // components), chained over survivors, then the 7-row count table with
    // the lag-window attrition columns.
    "q363_curation_funnel" -> {
      val prefix =
        """d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000, regexp_replace(text, '^\S+\s*', '')
          |  FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 5 = 0),
          |tokt AS (SELECT doc_id, text,
          |           regexp_split_to_array(trim(text), '\s+') AS toks FROM d),
          |lh AS (SELECT doc_id, text, toks,
          |  len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS h_en,
          |  len(list_filter(toks, x -> x IN ('el','la','de','que','es'))) AS h_es,
          |  len(list_filter(toks, x -> x IN ('le','la','et','est','une'))) AS h_fr,
          |  len(list_filter(toks, x -> x IN ('der','die','und','ist','ein'))) AS h_de,
          |  len(list_filter(toks, x -> x IN ('的','是','了','在','我'))) AS h_zh
          |  FROM tokt),
          |s1 AS (SELECT doc_id, text, toks FROM lh
          |       WHERE h_en > 0 AND h_en = greatest(h_en, h_es, h_fr, h_de, h_zh)),
          |s2 AS (SELECT * FROM s1 WHERE len(toks) >= 20),
          |s3 AS (SELECT doc_id, text, toks FROM (
          |        SELECT doc_id, text, toks,
          |          ROUND((least(length(text) / 500.0, 1.0)
          |            + least(CAST(len(list_filter(toks,
          |                x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
          |              / len(toks) * 4.0, 1.0)
          |            + greatest(0.0, 1.0
          |              - CAST(length(text) - length(regexp_replace(text,
          |                  '[[:punct:]]', '', 'g')) AS DOUBLE)
          |                / length(text) * 5.0)) / 3.0, 6) AS quality
          |        FROM s2) x WHERE quality >= 0.5),
          |la AS (SELECT doc_id,
          |         regexp_split_to_array(trim(lower(text)), '\s+') AS a FROM s3),
          |a2 AS (SELECT doc_id,
          |         unnest([array_to_string(a[i:i+1], ' ')
          |                 for i in range(1, len(a))]) AS g FROM la),
          |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM a2 GROUP BY 1, 2),
          |t2 AS (SELECT doc_id, MAX(c) AS top2 FROM c2 GROUP BY 1),
          |s4 AS (SELECT s3.doc_id, s3.text FROM s3 LEFT JOIN t2 USING (doc_id)
          |       WHERE COALESCE(top2 * 10 <= len(toks), true)),
          |fpt AS (SELECT doc_id, text, md5(lower(trim(text))) AS fp FROM s4),
          |keepf AS (SELECT fp, MIN(doc_id) AS doc_id FROM fpt GROUP BY 1),
          |s5 AS (SELECT f.doc_id, f.text FROM fpt f
          |       JOIN keepf k ON f.fp = k.fp AND f.doc_id = k.doc_id),
          |corpus AS (SELECT doc_id, text FROM s5)""".stripMargin
      s"""WITH RECURSIVE ${minhashPairsCtesOver(prefix)},
         |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM e
         |        UNION SELECT id_b, id_a FROM e),
         |walk(id, lab) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.dst, w.lab FROM walk w JOIN sym s ON w.id = s.src),
         |labd AS (SELECT id, MIN(lab) AS component FROM walk GROUP BY id),
         |s6 AS (SELECT doc_id FROM s5 WHERE doc_id NOT IN
         |        (SELECT id FROM labd WHERE id <> component)),
         |cnt AS (
         |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'all' AS stage,
         |         (SELECT COUNT(*) FROM d) AS n_kept
         |  UNION ALL SELECT 1, 'lang_en', (SELECT COUNT(*) FROM s1)
         |  UNION ALL SELECT 2, 'min_length', (SELECT COUNT(*) FROM s2)
         |  UNION ALL SELECT 3, 'quality', (SELECT COUNT(*) FROM s3)
         |  UNION ALL SELECT 4, 'repetition', (SELECT COUNT(*) FROM s4)
         |  UNION ALL SELECT 5, 'exact_dedup', (SELECT COUNT(*) FROM s5)
         |  UNION ALL SELECT 6, 'near_dedup', (SELECT COUNT(*) FROM s6))
         |SELECT stage_idx, stage,
         |  COALESCE(lag(n_kept) OVER (ORDER BY stage_idx), n_kept) AS n_in,
         |  n_kept,
         |  COALESCE(lag(n_kept) OVER (ORDER BY stage_idx), n_kept) - n_kept
         |    AS n_dropped
         |FROM cnt""".stripMargin
    },

    "q364_tpcds_q34_shape" ->
      """WITH trips AS (
        |  SELECT o_custkey AS cust,
        |         CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |         o_orderkey, COUNT(*) AS n_lines
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3),
        |b AS (
        |  SELECT cust, yr, CAST(COUNT(*) AS BIGINT) AS n_trips
        |  FROM trips WHERE n_lines BETWEEN 5 AND 7
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT c_name, b.cust, b.yr, b.n_trips
        |FROM b JOIN customer ON c_custkey = b.cust""".stripMargin,

    // Same chain with DuckDB date arithmetic (DATE + INT).
    "q365_tpcds_q29_shape" ->
      """WITH s AS (
        |  SELECT o_custkey AS cust, l_partkey AS part,
        |         CAST(o_orderdate AS DATE) AS d,
        |         CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag <> 'R'),
        |r AS (
        |  SELECT o_custkey AS cust, l_partkey AS part,
        |         CAST(o_orderdate AS DATE) AS d,
        |         CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'),
        |sr AS (
        |  SELECT s.cust, s.part, s.d AS sd, r.d AS rd, s.q AS sq, r.q AS rq
        |  FROM s JOIN r ON s.cust = r.cust AND s.part = r.part
        |   AND r.d >= s.d AND r.d <= s.d + 180),
        |leg3 AS (
        |  SELECT sr.part, sr.sq, sr.rq, s2.q AS q3
        |  FROM sr JOIN s s2 ON sr.part = s2.part
        |   AND s2.d > sr.rd AND s2.d <= sr.rd + 60)
        |SELECT p_brand,
        |       CAST(COUNT(*) AS BIGINT) AS n_chains,
        |       CAST(SUM(sq) AS BIGINT) AS sold_qty,
        |       CAST(SUM(rq) AS BIGINT) AS returned_qty,
        |       CAST(SUM(q3) AS BIGINT) AS resold_qty
        |FROM leg3 JOIN part ON p_partkey = part
        |GROUP BY 1""".stripMargin,

    // q359's VAD replay extended with the 4-segment transcript grid and the
    // inclusive interval-overlap sum per segment.
    "q366_transcript_vad_coverage" ->
      """WITH m AS (SELECT id AS media_id, 4000 + (id % 5) * 400 AS n
        |           FROM range(48) t(id)),
        |sm AS (SELECT media_id, unnest(range(0, n)) AS i FROM m),
        |sv AS (SELECT media_id, i // 100 AS f,
        |         CASE WHEN ((i // 400) + media_id) % 3 <> 0
        |              THEN ((i * (7 + media_id % 11) + 13 * media_id) % 3001) - 1500
        |              ELSE ((i * (3 + media_id % 7) + 11 * media_id) % 41) - 20 END AS v
        |       FROM sm),
        |e AS (SELECT media_id, f, CAST(SUM(v * v) AS BIGINT) AS en
        |      FROM sv GROUP BY 1, 2),
        |act AS (SELECT media_id, f,
        |          f - ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY f) AS grp
        |        FROM e WHERE en > 1000000),
        |sp AS (SELECT media_id, MIN(f) AS span_start, MAX(f) AS span_end
        |       FROM act GROUP BY media_id, grp),
        |sg AS (SELECT media_id, n // 100 AS nf, unnest(range(0, 4)) AS seg
        |       FROM m),
        |sg2 AS (SELECT media_id, seg, seg * nf // 4 AS seg_start,
        |               (seg + 1) * nf // 4 - 1 AS seg_end FROM sg),
        |cov AS (
        |  SELECT g.media_id, g.seg, g.seg_start, g.seg_end,
        |    CAST(COALESCE(SUM(least(g.seg_end, s.span_end)
        |      - greatest(g.seg_start, s.span_start) + 1), 0) AS BIGINT)
        |      AS voiced_frames
        |  FROM sg2 g LEFT JOIN sp s
        |    ON g.media_id = s.media_id
        |   AND s.span_start <= g.seg_end AND s.span_end >= g.seg_start
        |  GROUP BY 1, 2, 3, 4)
        |SELECT media_id, seg, seg_start, seg_end, voiced_frames,
        |       (1000 * voiced_frames) // (seg_end - seg_start + 1)
        |         AS coverage_permille
        |FROM cov""".stripMargin,

    // Full integer replay: degrees, the 2m scalar, per-node argmax by
    // (gain DESC, neighbor ASC) as a ROW_NUMBER, the move rule, and the
    // per-community Q·(2m)² terms.
    "q367_louvain_move" ->
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS a,
        |                  CAST(l_partkey AS BIGINT) + 1000000 AS b
        |           FROM lineitem),
        |sym AS (SELECT a AS src, b AS dst FROM e
        |        UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS k FROM sym GROUP BY 1),
        |m2 AS (SELECT CAST(SUM(k) AS BIGINT) AS m2 FROM deg),
        |cand AS (SELECT s.src, s.dst,
        |           di.k * dj.k - (SELECT m2 FROM m2) AS neg
        |         FROM sym s JOIN deg di ON di.src = s.src
        |                    JOIN deg dj ON dj.src = s.dst),
        |best AS (SELECT src, dst, neg FROM (
        |           SELECT src, dst, neg,
        |                  ROW_NUMBER() OVER (PARTITION BY src
        |                    ORDER BY neg, dst) AS r
        |           FROM cand) x WHERE r = 1),
        |lab AS (SELECT src AS node,
        |          CASE WHEN neg < 0 THEN dst ELSE src END AS community
        |        FROM best),
        |tot AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS n_members,
        |               CAST(SUM(k) AS BIGINT) AS tot_degree
        |        FROM lab JOIN deg ON deg.src = lab.node GROUP BY 1),
        |itl AS (SELECT la.community,
        |               CAST(COUNT(*) AS BIGINT) AS internal_edges
        |        FROM e JOIN lab la ON la.node = e.a
        |               JOIN lab lb ON lb.node = e.b
        |        WHERE la.community = lb.community GROUP BY 1)
        |SELECT t.community, t.n_members, t.tot_degree,
        |       CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
        |       2 * (SELECT m2 FROM m2) * COALESCE(i.internal_edges, 0)
        |         - t.tot_degree * t.tot_degree AS q_contrib_scaled
        |FROM tot t LEFT JOIN itl i USING (community)""".stripMargin,

    // q252's hub-capped co-purchase prefix, then three unrolled
    // support-peel rounds; the emitted support is the last round's
    // (idempotent under early convergence — peeling a fixed point changes
    // nothing, so the unrolled form equals the early-stopped loop).
    "q368_ktruss" ->
      """WITH it0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |it AS (
        |  SELECT b, i FROM (
        |    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS __bs FROM it0)
        |  WHERE __bs <= 1000),
        |cop AS (
        |  SELECT a.i AS p1, x.i AS p2
        |  FROM it a JOIN it x ON a.b = x.b AND a.i < x.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |t0 AS (SELECT CAST(p1 AS BIGINT) AS a, CAST(p2 AS BIGINT) AS b
        |       FROM cop),
        |s0 AS (SELECT a AS u, b AS v FROM t0 UNION ALL SELECT b, a FROM t0),
        |ws1 AS (SELECT t.a, t.b, CAST(COALESCE(s.c, 0) AS BIGINT) AS support
        |        FROM t0 t LEFT JOIN (
        |          SELECT e.a, e.b, COUNT(*) AS c
        |          FROM t0 e JOIN s0 x ON x.u = e.a
        |                    JOIN s0 y ON y.u = e.b AND y.v = x.v
        |          GROUP BY 1, 2) s ON t.a = s.a AND t.b = s.b),
        |e1 AS (SELECT a, b FROM ws1 WHERE support >= 1),
        |s1 AS (SELECT a AS u, b AS v FROM e1 UNION ALL SELECT b, a FROM e1),
        |ws2 AS (SELECT t.a, t.b, CAST(COALESCE(s.c, 0) AS BIGINT) AS support
        |        FROM e1 t LEFT JOIN (
        |          SELECT e.a, e.b, COUNT(*) AS c
        |          FROM e1 e JOIN s1 x ON x.u = e.a
        |                    JOIN s1 y ON y.u = e.b AND y.v = x.v
        |          GROUP BY 1, 2) s ON t.a = s.a AND t.b = s.b),
        |e2 AS (SELECT a, b FROM ws2 WHERE support >= 1),
        |s2 AS (SELECT a AS u, b AS v FROM e2 UNION ALL SELECT b, a FROM e2),
        |ws3 AS (SELECT t.a, t.b, CAST(COALESCE(s.c, 0) AS BIGINT) AS support
        |        FROM e2 t LEFT JOIN (
        |          SELECT e.a, e.b, COUNT(*) AS c
        |          FROM e2 e JOIN s2 x ON x.u = e.a
        |                    JOIN s2 y ON y.u = e.b AND y.v = x.v
        |          GROUP BY 1, 2) s ON t.a = s.a AND t.b = s.b)
        |SELECT a AS id_a, b AS id_b, support
        |FROM ws3 WHERE support >= 1""".stripMargin,

    // Two unrolled synchronized sweeps with the full removal+insertion
    // gain, then the partition summary — every block mirrors the Spark
    // sweep's aggregates and the (gain, community) argmax order.
    "q369_louvain_sweeps" -> {
      def sweep(r: Int): String = {
        val cur = s"lab$r"; val nxt = s"lab${r + 1}"
        s"""tot$r AS (SELECT l.comm, CAST(SUM(d.k) AS BIGINT) AS tot
           |          FROM $cur l JOIN deg d ON d.node = l.node GROUP BY 1),
           |nc$r AS (SELECT s.src AS node, l.comm AS cd,
           |                CAST(COUNT(*) AS BIGINT) AS kic
           |         FROM sym s JOIN $cur l ON l.node = s.dst GROUP BY 1, 2),
           |own$r AS (SELECT l.node, l.comm, d.k,
           |                 COALESCE(n.kic, 0) AS kic_own, t.tot AS tot_i
           |          FROM $cur l JOIN deg d ON d.node = l.node
           |          JOIN tot$r t ON t.comm = l.comm
           |          LEFT JOIN nc$r n ON n.node = l.node AND n.cd = l.comm),
           |cand$r AS (SELECT o.node, n.cd,
           |             o.k * (tc.tot - o.tot_i + o.k)
           |               - (SELECT m2 FROM m2s) * (n.kic - o.kic_own) AS neg
           |           FROM own$r o
           |           JOIN nc$r n ON n.node = o.node AND n.cd <> o.comm
           |           JOIN tot$r tc ON tc.comm = n.cd),
           |best$r AS (SELECT node, cd, neg FROM (
           |             SELECT node, cd, neg,
           |                    ROW_NUMBER() OVER (PARTITION BY node
           |                      ORDER BY neg, cd) AS rn
           |             FROM cand$r) x WHERE rn = 1),
           |$nxt AS (SELECT o.node,
           |           CASE WHEN b.neg < 0 THEN b.cd ELSE o.comm END AS comm
           |         FROM own$r o LEFT JOIN best$r b ON b.node = o.node)""".stripMargin
      }
      s"""WITH it0 AS (
         |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
         |it AS (
         |  SELECT b, i FROM (
         |    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS __bs FROM it0)
         |  WHERE __bs <= 1000),
         |cop AS (
         |  SELECT a.i AS p1, x.i AS p2
         |  FROM it a JOIN it x ON a.b = x.b AND a.i < x.i
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |t0 AS (SELECT CAST(p1 AS BIGINT) AS a, CAST(p2 AS BIGINT) AS b
         |       FROM cop),
         |sym AS (SELECT a AS src, b AS dst FROM t0
         |        UNION ALL SELECT b, a FROM t0),
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k
         |        FROM sym GROUP BY 1),
         |m2s AS (SELECT CAST(SUM(k) AS BIGINT) AS m2 FROM deg),
         |lab0 AS (SELECT node, node AS comm FROM deg),
         |${sweep(0)},
         |${sweep(1)},
         |tots AS (SELECT l.comm AS community,
         |                CAST(COUNT(*) AS BIGINT) AS n_members,
         |                CAST(SUM(d.k) AS BIGINT) AS tot_degree
         |         FROM lab2 l JOIN deg d ON d.node = l.node GROUP BY 1),
         |itl AS (SELECT la.comm AS community,
         |               CAST(COUNT(*) AS BIGINT) AS internal_edges
         |        FROM t0 e JOIN lab2 la ON la.node = e.a
         |                  JOIN lab2 lb ON lb.node = e.b
         |        WHERE la.comm = lb.comm GROUP BY 1)
         |SELECT t.community, t.n_members, t.tot_degree,
         |       CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
         |       2 * (SELECT m2 FROM m2s) * COALESCE(i.internal_edges, 0)
         |         - t.tot_degree * t.tot_degree AS q_contrib_scaled
         |FROM tots t LEFT JOIN itl i USING (community)""".stripMargin
    },

    // Replays the punctuation fixture (slice/join groups of 5+doc_id%4
    // tokens), the sentence split + trailing-punct strip, the
    // 1-PRECEDING prefix sum, and the floor-division chunk assignment.
    "q370_sentence_chunking" ->
      """WITH tk AS (SELECT doc_id,
        |              regexp_split_to_array(trim(text), '\s+') AS toks,
        |              5 + doc_id % 4 AS k
        |            FROM documents),
        |pt AS (SELECT doc_id,
        |         array_to_string([array_to_string(toks[j*k+1 : j*k+k], ' ')
        |                          for j in range(0, (len(toks)-1)//k + 1)],
        |                         '. ') || '.' AS text2
        |       FROM tk),
        |sl AS (SELECT doc_id,
        |         list_filter(list_transform(
        |           regexp_split_to_array(trim(text2), '[.!?]+\s+'),
        |           x -> regexp_replace(x, '[.!?]+$', '')),
        |           x -> x <> '') AS sents
        |       FROM pt),
        |se AS (SELECT doc_id, unnest(range(0, len(sents))) AS sent_idx,
        |              sents FROM sl),
        |st AS (SELECT doc_id, sent_idx,
        |         CAST(len(regexp_split_to_array(
        |           sents[CAST(sent_idx + 1 AS INT)], '\s+')) AS BIGINT)
        |           AS n_tok
        |       FROM se),
        |cb AS (SELECT doc_id, sent_idx, n_tok,
        |         COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id
        |           ORDER BY sent_idx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_before
        |       FROM st)
        |SELECT doc_id, CAST(cum_before // 24 AS BIGINT) AS chunk,
        |       CAST(COUNT(*) AS BIGINT) AS n_sentences,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |       MIN(sent_idx) AS sent_from, MAX(sent_idx) AS sent_to
        |FROM cb GROUP BY 1, 2""".stripMargin,

    // Batch replay of the two-tick union (ids arrive in keep-first order,
    // so ledger-first == min-id): q363's stage fragments, then keep-first
    // exact dedup, then the five summed counts as stage rows.
    "q371_streaming_funnel" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 400000, text FROM documents WHERE doc_id % 10 = 5),
        |tokt AS (SELECT doc_id, text,
        |           regexp_split_to_array(trim(text), '\s+') AS toks FROM d),
        |lh AS (SELECT doc_id, text, toks,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS h_en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','que','es'))) AS h_es,
        |  len(list_filter(toks, x -> x IN ('le','la','et','est','une'))) AS h_fr,
        |  len(list_filter(toks, x -> x IN ('der','die','und','ist','ein'))) AS h_de,
        |  len(list_filter(toks, x -> x IN ('的','是','了','在','我'))) AS h_zh
        |  FROM tokt),
        |f1 AS (SELECT doc_id, text, toks,
        |         (h_en > 0 AND h_en = greatest(h_en, h_es, h_fr, h_de, h_zh))
        |           AS pass1
        |       FROM lh),
        |f2 AS (SELECT *, pass1 AND len(toks) >= 20 AS pass2 FROM f1),
        |f3 AS (SELECT doc_id, text, pass1, pass2, pass2 AND
        |         ROUND((least(length(text) / 500.0, 1.0)
        |           + least(CAST(len(list_filter(toks,
        |               x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
        |             / len(toks) * 4.0, 1.0)
        |           + greatest(0.0, 1.0
        |             - CAST(length(text) - length(regexp_replace(text,
        |                 '[[:punct:]]', '', 'g')) AS DOUBLE)
        |               / length(text) * 5.0)) / 3.0, 6) >= 0.5 AS pass3
        |       FROM f2),
        |fp AS (SELECT *, md5(lower(trim(text))) AS fp FROM f3),
        |keepf AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp
        |          WHERE pass3 GROUP BY 1),
        |f4 AS (SELECT f.doc_id, f.pass1, f.pass2, f.pass3,
        |         (f.pass3 AND k.doc_id IS NOT NULL) AS pass4
        |       FROM fp f LEFT JOIN keepf k
        |         ON f.fp = k.fp AND f.doc_id = k.doc_id),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS c0,
        |          CAST(SUM(CASE WHEN pass1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |          CAST(SUM(CASE WHEN pass2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |          CAST(SUM(CASE WHEN pass3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |          CAST(SUM(CASE WHEN pass4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
        |        FROM f4)
        |SELECT CAST(0 AS BIGINT) AS stage_idx, 'all' AS stage, c0 AS n_kept FROM tot
        |UNION ALL SELECT 1, 'lang_en', c1 FROM tot
        |UNION ALL SELECT 2, 'min_length', c2 FROM tot
        |UNION ALL SELECT 3, 'quality', c3 FROM tot
        |UNION ALL SELECT 4, 'exact_dedup', c4 FROM tot""".stripMargin,

    // Same two rankings via list_cosine_similarity on the full and
    // 1:32-sliced vectors, same rounding and tie-breaks, overlap counted.
    "q372_matryoshka_recall" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |q AS (SELECT id AS q, v AS qv FROM base WHERE id % 10 = 0),
        |p AS (SELECT q.q, b.id,
        |        ROUND(list_cosine_similarity(b.v, q.qv), 6) AS cf,
        |        ROUND(list_cosine_similarity(b.v[1:32], q.qv[1:32]), 6) AS ct
        |      FROM base b JOIN q ON b.id <> q.q),
        |r AS (SELECT q, id,
        |        ROW_NUMBER() OVER (PARTITION BY q ORDER BY cf DESC, id) AS rf,
        |        ROW_NUMBER() OVER (PARTITION BY q ORDER BY ct DESC, id) AS rt
        |      FROM p)
        |SELECT q AS query_id,
        |       CAST(SUM(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_hit,
        |       CAST(1000 * SUM(CASE WHEN rf <= 10 AND rt <= 10 THEN 1
        |                            ELSE 0 END) // 10 AS BIGINT)
        |         AS recall_permille
        |FROM r GROUP BY 1""".stripMargin,

    // Same ranking, first same-label rank via MIN over a CASE, micros
    // reciprocal by integer division, NULL-rank queries at rr 0 / hit 0.
    "q373_label_mrr" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
        |                     CAST(label AS BIGINT) AS lab
        |              FROM embeddings),
        |q AS (SELECT id AS q, v AS qv, lab AS qlab FROM base
        |      WHERE id % 10 = 0),
        |r AS (SELECT q.q, q.qlab, b.id, b.lab,
        |        ROW_NUMBER() OVER (PARTITION BY q.q
        |          ORDER BY ROUND(list_cosine_similarity(b.v, q.qv), 6) DESC,
        |                   b.id) AS rank
        |      FROM base b JOIN q ON b.id <> q.q),
        |f AS (SELECT q AS query_id,
        |        MIN(CASE WHEN lab = qlab THEN rank END) AS first_rel_rank
        |      FROM r GROUP BY 1)
        |SELECT query_id, first_rel_rank,
        |       COALESCE(1000000 // first_rel_rank, 0) AS rr_micros,
        |       CASE WHEN COALESCE(first_rel_rank, 9223372036854775807) <= 10
        |            THEN CAST(1 AS BIGINT) ELSE 0 END AS hit_at_10
        |FROM f""".stripMargin,

    // Same ranking; k-occurrence counts, histogram, and the subtraction
    // 0-row.
    "q374_hubness" ->
      """WITH base AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |              FROM embeddings),
        |q AS (SELECT id AS q, v AS qv FROM base WHERE id % 10 = 0),
        |r AS (SELECT q.q, b.id,
        |        ROW_NUMBER() OVER (PARTITION BY q.q
        |          ORDER BY ROUND(list_cosine_similarity(b.v, q.qv), 6) DESC,
        |                   b.id) AS rank
        |      FROM base b JOIN q ON b.id <> q.q),
        |occ AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_occ
        |        FROM r WHERE rank <= 10 GROUP BY 1),
        |hist AS (SELECT n_occ AS n_k_occurrences,
        |                CAST(COUNT(*) AS BIGINT) AS n_vectors
        |         FROM occ GROUP BY 1),
        |zero AS (SELECT CAST(0 AS BIGINT) AS n_k_occurrences,
        |           (SELECT COUNT(*) FROM base)
        |             - (SELECT COUNT(*) FROM occ) AS n_vectors)
        |SELECT * FROM hist
        |UNION ALL SELECT * FROM zero WHERE n_vectors > 0""".stripMargin,

    "q375_tpcds_q54_shape" ->
      """WITH target_cust AS (
        |  SELECT DISTINCT o_custkey AS cust
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |              JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'PROMO'
        |    AND CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) = 1995
        |    AND CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) = 3),
        |spend AS (
        |  SELECT o_custkey AS cust,
        |         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |             AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_custkey IN (SELECT cust FROM target_cust)
        |    AND CAST(o_orderdate AS DATE) >= DATE '1995-04-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1995-07-01'
        |  GROUP BY 1)
        |SELECT CAST(cents // 5000000 AS BIGINT) AS band,
        |       CAST(COUNT(*) AS BIGINT) AS n_cust
        |FROM spend GROUP BY 1""".stripMargin,

    // Adjacency with id-ordered idx, then four unrolled steps, each
    // picking idx = md5-60 mod degree over the same strings the Spark
    // plan hashes.
    "q376_random_walks" ->
      s"""WITH $randomWalkCtesSql
         |SELECT walk_id, step, node FROM walks""".stripMargin,

    // q376's walk corpus replayed, then the window-2 skip-gram self-join,
    // the (center, context) counts, the marginals, and the exact
    // lift-rational PMI columns.
    "q384_skipgram_pmi" ->
      s"""WITH $randomWalkCtesSql,
         |sp AS (SELECT a.node AS center, b.node AS context
         |       FROM walks a JOIN walks b ON a.walk_id = b.walk_id
         |        AND abs(a.step - b.step) BETWEEN 1 AND 2),
         |pc AS (SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |       FROM sp GROUP BY 1, 2),
         |mc AS (SELECT center, CAST(SUM(n_pairs) AS BIGINT) AS n_center
         |       FROM pc GROUP BY 1),
         |mx AS (SELECT context, CAST(SUM(n_pairs) AS BIGINT) AS n_context
         |       FROM pc GROUP BY 1),
         |nt AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM pc)
         |SELECT p.center, p.context, p.n_pairs, mc.n_center, mx.n_context,
         |       nt.n_total,
         |       CAST(p.n_pairs * nt.n_total AS BIGINT) AS pmi_num,
         |       CAST(mc.n_center * mx.n_context AS BIGINT) AS pmi_den
         |FROM pc p JOIN mc ON mc.center = p.center
         |          JOIN mx ON mx.context = p.context
         |          CROSS JOIN nt""".stripMargin,

    // Ground truth, not a replay: the fixture's SCCs are its 6-node
    // cycles by construction.
    "q386_scc" ->
      """SELECT CAST(id AS BIGINT) AS id,
        |       CAST(id - id % 6 AS BIGINT) AS scc
        |FROM range(240) t(id)""".stripMargin,

    // Closed form from the fixture: 40 six-node components; even block
    // index → one out-edge to its odd successor, odd → one in-edge.
    "q387_scc_condensation" ->
      """SELECT CAST(b * 6 AS BIGINT) AS scc,
        |       CAST(6 AS BIGINT) AS n_members,
        |       CAST(CASE WHEN b % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_out,
        |       CAST(CASE WHEN b % 2 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_in
        |FROM range(40) t(b)""".stripMargin,

    "q388_nb_confusion" ->
      s"""WITH $nbModelCtes,
         |toscore AS (SELECT doc_id, text FROM nbtest),
         |$nbPredictCtes
         |SELECT t.label AS true_label, p.pred_label,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(p.doc_id) AS BIGINT) AS doc_checksum
         |FROM nbpred p JOIN nbtest t ON t.doc_id = p.doc_id
         |GROUP BY 1, 2""".stripMargin,

    // The streaming candidates are a guaranteed superset, and the exact
    // recount + threshold is plain SQL: tokens of the needle-planted
    // corpus, counts, HAVING cnt·(capacity+1) > n.
    "q385_streaming_heavy_hitters" ->
      """WITH docs2 AS (
        |  SELECT CASE WHEN doc_id % 2 = 0
        |           THEN repeat('needlea ', 20) || text
        |           ELSE repeat('needleb ', 18) || text END AS text
        |  FROM documents),
        |tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS k
        |  FROM docs2),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
        |SELECT k AS key_out, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tok GROUP BY k
        |HAVING CAST(COUNT(*) AS BIGINT) * 9 > (SELECT n FROM n)""".stripMargin,

    // q341's keep-first replay over the hub corpus, with the md5-60
    // hash-keyed cap applied before the string-keyed rank — mirrors the
    // engine's groupBy-count + anti-join exactly.
    "q382_substring_capped_dedup" ->
      """WITH base AS (
        |  SELECT doc_id AS doc,
        |         text || CASE WHEN doc_id % 3 = 0
        |           THEN ' LICENSE-BOILERPLATE-SHARED-ACROSS-DOC.' ELSE '' END
        |           AS t
        |  FROM documents),
        |base30 AS (SELECT doc, t FROM base WHERE LENGTH(t) >= 30),
        |p0 AS (
        |  SELECT doc, t, unnest(generate_series(1, LENGTH(t) - 29)) AS i
        |  FROM base30),
        |pos AS (
        |  SELECT doc, CAST(i AS BIGINT) AS pos,
        |         substr(t, CAST(i AS INT), 30) AS g
        |  FROM p0),
        |hc AS (
        |  SELECT CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h,
        |         COUNT(*) AS n
        |  FROM pos GROUP BY 1),
        |posk AS (
        |  SELECT p.doc, p.pos, p.g FROM pos p
        |  WHERE CAST(concat('0x', substr(md5(p.g), 1, 15)) AS BIGINT) NOT IN
        |        (SELECT h FROM hc WHERE n > 100)),
        |cov AS (
        |  SELECT doc, pos FROM (
        |    SELECT doc, pos,
        |           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc, pos) AS occ
        |    FROM posk) x
        |  WHERE occ > 1),
        |lagd AS (
        |  SELECT doc, pos,
        |         LAG(pos) OVER (PARTITION BY doc ORDER BY pos) AS prev
        |  FROM cov),
        |isl AS (
        |  SELECT doc, pos,
        |         SUM(CASE WHEN prev IS NULL OR pos - prev > 30 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc ORDER BY pos) AS island
        |  FROM lagd),
        |spans AS (
        |  SELECT doc, island, MIN(pos) AS s, MAX(pos) + 29 AS e
        |  FROM isl GROUP BY doc, island)
        |SELECT doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars,
        |       CAST(SUM(s) AS BIGINT) AS start_checksum
        |FROM spans GROUP BY doc""".stripMargin,

    "q383_substring_hub_audit" ->
      """WITH base AS (
        |  SELECT doc_id AS doc,
        |         text || CASE WHEN doc_id % 3 = 0
        |           THEN ' LICENSE-BOILERPLATE-SHARED-ACROSS-DOC.' ELSE '' END
        |           AS t
        |  FROM documents),
        |base30 AS (SELECT doc, t FROM base WHERE LENGTH(t) >= 30),
        |p0 AS (
        |  SELECT doc, t, unnest(generate_series(1, LENGTH(t) - 29)) AS i
        |  FROM base30),
        |pos AS (SELECT doc, substr(t, CAST(i AS INT), 30) AS g FROM p0)
        |SELECT CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
        |         AS window_hash,
        |       CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM pos GROUP BY 1 HAVING COUNT(*) > 100""".stripMargin,

    // Probe-aligned replay: per media the sample stream (with its prepend /
    // trim / gain), full-frame energies, the probe windows that fit, each
    // probe's 64 delta bits, and the min-Hamming pair verdicts.
    "q381_audio_shift_robust" ->
      """WITH m AS (
        |  SELECT id AS media_id, id AS src, 0 AS kind,
        |         6800 + (id % 7) * 20 AS n
        |  FROM range(48) t(id)
        |  UNION ALL
        |  SELECT id + 1000, id, 1, 6800 + (id % 7) * 20 + 200
        |  FROM range(48) t(id) WHERE id % 4 = 0
        |  UNION ALL
        |  SELECT id + 2000, id, 2, 6800 + (id % 7) * 20 - 100
        |  FROM range(48) t(id) WHERE id % 4 = 0),
        |sm AS (SELECT media_id, src, kind,
        |              unnest(range(0, (n // 100) * 100)) AS i
        |       FROM m),
        |sv AS (SELECT media_id, i // 100 AS f,
        |         CASE WHEN kind = 0
        |              THEN ((i*i*(3 + src % 5) + i*(7 + src % 11) + 13*src)
        |                    % 20001) - 10000
        |              WHEN kind = 1 AND i < 200
        |              THEN ((i * 11 + src) % 2001) - 1000
        |              WHEN kind = 1
        |              THEN 2 * ((((i-200)*(i-200)*(3 + src % 5)
        |                          + (i-200)*(7 + src % 11) + 13*src)
        |                         % 20001) - 10000)
        |              ELSE (((i+100)*(i+100)*(3 + src % 5)
        |                     + (i+100)*(7 + src % 11) + 13*src)
        |                    % 20001) - 10000
        |         END AS s
        |       FROM sm),
        |e AS (SELECT media_id, f, SUM(s * s) AS en FROM sv GROUP BY 1, 2),
        |pr AS (SELECT media_id,
        |              unnest(range(0, least(4, n // 100 - 65) + 1)) AS o
        |       FROM m),
        |bits AS (SELECT p.media_id, p.o, l.f - p.o AS i
        |         FROM pr p JOIN e l ON l.media_id = p.media_id
        |         JOIN e r ON r.media_id = p.media_id AND r.f = l.f + 1
        |         WHERE l.f >= p.o AND l.f < p.o + 64 AND r.en > l.en),
        |h AS (SELECT p.media_id, p.o,
        |        CAST(COALESCE(SUM(CASE WHEN b.i = 63
        |                 THEN -9223372036854775807 - 1
        |                 ELSE 1::BIGINT << CAST(b.i AS INT) END), 0) AS BIGINT)
        |          AS ph
        |      FROM pr p LEFT JOIN bits b
        |        ON b.media_id = p.media_id AND b.o = p.o
        |      GROUP BY 1, 2),
        |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |            CAST(MIN(bit_count(xor(a.ph, b.ph))) AS BIGINT)
        |              AS min_hamming
        |          FROM h a JOIN h b ON a.media_id < b.media_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b, min_hamming FROM pairs WHERE min_hamming <= 3""".stripMargin,

    // Both Louvain levels unrolled: weighted gains, the Q-monotone accept
    // guard as scalar-subquery CASEs, the contraction, and the per-level
    // summaries — all in exact integers.
    "q380_louvain_multilevel" -> {
      // Q·(2m)² of label table `lab` (columns node, <cm>) over weighted
      // edges `wed` and degrees `deg` — a scalar expression.
      def qExpr(lab: String, cm: String, wed: String, deg: String): String =
        s"""CAST(2 * (SELECT m2 FROM m2s) *
           |  (SELECT CAST(COALESCE(SUM(e.w), 0) AS BIGINT) FROM $wed e
           |     JOIN $lab xla ON xla.node = e.a
           |     JOIN $lab xlb ON xlb.node = e.b
           |   WHERE e.a = e.b OR xla.$cm = xlb.$cm)
           | - (SELECT CAST(SUM(tot * tot) AS BIGINT) FROM (
           |      SELECT CAST(SUM(d.k) AS BIGINT) AS tot FROM $lab l
           |      JOIN $deg d ON d.node = l.node GROUP BY l.$cm) tq)
           | AS BIGINT)""".stripMargin
      // one guarded weighted sweep: lab<lvl>_<r> -> lab<lvl>_<r+1>
      def wsweep(lvl: Int, r: Int): String = {
        val cur = s"lab${lvl}_$r"; val nxt = s"lab${lvl}_${r + 1}"
        val (wed, sym, deg) = (s"wed$lvl", s"sym$lvl", s"deg$lvl")
        s"""tot${lvl}_$r AS MATERIALIZED (SELECT l.comm, CAST(SUM(d.k) AS BIGINT) AS tot
           |  FROM $cur l JOIN $deg d ON d.node = l.node GROUP BY 1),
           |nc${lvl}_$r AS MATERIALIZED (SELECT s.src AS node, l.comm AS cd,
           |    CAST(SUM(s.w) AS BIGINT) AS kic
           |  FROM $sym s JOIN $cur l ON l.node = s.dst GROUP BY 1, 2),
           |own${lvl}_$r AS MATERIALIZED (SELECT l.node, l.comm, d.k,
           |    COALESCE(n.kic, 0) AS kic_own, t.tot AS tot_i
           |  FROM $cur l JOIN $deg d ON d.node = l.node
           |  JOIN tot${lvl}_$r t ON t.comm = l.comm
           |  LEFT JOIN nc${lvl}_$r n ON n.node = l.node AND n.cd = l.comm),
           |cand${lvl}_$r AS MATERIALIZED (SELECT o.node, n.cd,
           |    o.k * (tc.tot - o.tot_i + o.k)
           |      - (SELECT m2 FROM m2s) * (n.kic - o.kic_own) AS neg
           |  FROM own${lvl}_$r o
           |  JOIN nc${lvl}_$r n ON n.node = o.node AND n.cd < o.comm
           |  JOIN tot${lvl}_$r tc ON tc.comm = n.cd),
           |best${lvl}_$r AS MATERIALIZED (SELECT node, cd, neg FROM (
           |    SELECT node, cd, neg, ROW_NUMBER() OVER (PARTITION BY node
           |      ORDER BY neg, cd) AS rn FROM cand${lvl}_$r) x WHERE rn = 1),
           |prop${lvl}_$r AS MATERIALIZED (SELECT o.node, o.comm,
           |    CASE WHEN b.neg < 0 THEN b.cd ELSE o.comm END AS pcomm
           |  FROM own${lvl}_$r o LEFT JOIN best${lvl}_$r b ON b.node = o.node),
           |qo${lvl}_$r AS MATERIALIZED (SELECT ${qExpr(cur, "comm", wed, deg)} AS q),
           |qn${lvl}_$r AS MATERIALIZED (SELECT ${qExpr(s"prop${lvl}_$r", "pcomm", wed, deg)} AS q),
           |$nxt AS MATERIALIZED (SELECT node,
           |    CASE WHEN (SELECT q FROM qn${lvl}_$r) > (SELECT q FROM qo${lvl}_$r)
           |         THEN pcomm ELSE comm END AS comm
           |  FROM prop${lvl}_$r)""".stripMargin
      }
      def lvlRow(lvl: Int, finalLab: String): String =
        s"""lvl$lvl AS MATERIALIZED (SELECT CAST($lvl AS BIGINT) AS level,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $finalLab) AS n_nodes,
           |  (SELECT CAST(COUNT(DISTINCT comm) AS BIGINT) FROM $finalLab)
           |    AS n_communities,
           |  (SELECT CAST(COALESCE(SUM(e.w), 0) AS BIGINT) FROM wed$lvl e
           |     JOIN $finalLab la ON la.node = e.a
           |     JOIN $finalLab lb ON lb.node = e.b
           |   WHERE e.a = e.b OR la.comm = lb.comm) AS internal_weight,
           |  ${qExpr(finalLab, "comm", s"wed$lvl", s"deg$lvl")} AS q_scaled)""".stripMargin
      def lvlTables(lvl: Int): String =
        s"""sym$lvl AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM wed$lvl WHERE a <> b
           |  UNION ALL SELECT b, a, w FROM wed$lvl WHERE a <> b),
           |deg$lvl AS MATERIALIZED (SELECT node, CAST(SUM(w) AS BIGINT) AS k FROM (
           |    SELECT src AS node, w FROM sym$lvl
           |    UNION ALL SELECT a, 2 * w FROM wed$lvl WHERE a = b) u
           |  GROUP BY 1),
           |lab${lvl}_0 AS MATERIALIZED (SELECT node, node AS comm FROM deg$lvl)""".stripMargin
      s"""WITH it0 AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
         |it AS MATERIALIZED (
         |  SELECT b, i FROM (
         |    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS __bs FROM it0)
         |  WHERE __bs <= 1000),
         |cop AS MATERIALIZED (
         |  SELECT a.i AS p1, x.i AS p2
         |  FROM it a JOIN it x ON a.b = x.b AND a.i < x.i
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |wed1 AS MATERIALIZED (SELECT CAST(p1 AS BIGINT) AS a, CAST(p2 AS BIGINT) AS b,
         |                CAST(1 AS BIGINT) AS w FROM cop),
         |${lvlTables(1)},
         |m2s AS MATERIALIZED (SELECT CAST(SUM(k) AS BIGINT) AS m2 FROM deg1),
         |${wsweep(1, 0)},
         |${wsweep(1, 1)},
         |${lvlRow(1, "lab1_2")},
         |wed2 AS MATERIALIZED (SELECT least(la.comm, lb.comm) AS a,
         |                greatest(la.comm, lb.comm) AS b,
         |                CAST(SUM(e.w) AS BIGINT) AS w
         |  FROM wed1 e JOIN lab1_2 la ON la.node = e.a
         |              JOIN lab1_2 lb ON lb.node = e.b
         |  GROUP BY 1, 2),
         |${lvlTables(2)},
         |${wsweep(2, 0)},
         |${wsweep(2, 1)},
         |${lvlRow(2, "lab2_2")}
         |SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2""".stripMargin
    },

    // Naive Bayes train: pure aggregates + the per-model-row quantized ln
    // (same 6-dp-round libm discipline as q49/q126).
    "q377_nb_train" ->
      s"""WITH $nbModelCtes
         |SELECT label, term, cnt, w_micros FROM model""".stripMargin,

    "q378_nb_predict" ->
      s"""WITH $nbModelCtes,
         |toscore AS (SELECT doc_id, text FROM nbtest),
         |$nbPredictCtes
         |SELECT p.doc_id, t.label AS true_label, p.pred_label, p.score_micros
         |FROM nbpred p JOIN nbtest t ON t.doc_id = p.doc_id""".stripMargin,

    "q379_funnel_nb" ->
      s"""WITH $nbModelCtes,
         |fcorpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000,
         |         text || ' win free click buy win free click buy win free click buy'
         |  FROM documents WHERE doc_id % 4 = 1
         |  UNION ALL
         |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 5 = 0),
         |toscore AS (SELECT doc_id, text FROM fcorpus),
         |$nbPredictCtes,
         |flags AS (
         |  SELECT f.doc_id, f.text,
         |         COALESCE(p.pred_label = 'good', FALSE) AS pass1
         |  FROM fcorpus f LEFT JOIN nbpred p ON p.doc_id = f.doc_id),
         |keep2 AS (
         |  SELECT MIN(doc_id) AS doc_id
         |  FROM flags WHERE pass1 GROUP BY md5(lower(trim(text)))),
         |f2 AS (
         |  SELECT f.doc_id, f.pass1,
         |         f.pass1 AND k.doc_id IS NOT NULL AS pass2
         |  FROM flags f LEFT JOIN keep2 k ON k.doc_id = f.doc_id),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS c0,
         |         CAST(SUM(CASE WHEN pass1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |         CAST(SUM(CASE WHEN pass2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM f2)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'all' AS stage,
         |         c0 AS n_in, c0 AS n_kept, CAST(0 AS BIGINT) AS n_dropped
         |  FROM agg
         |  UNION ALL
         |  SELECT 1, 'nb_quality', c0, c1, c0 - c1 FROM agg
         |  UNION ALL
         |  SELECT 2, 'exact_dedup', c1, c2, c1 - c2 FROM agg)""".stripMargin,

    // The floored NB model: the per-doc-unique 'rareNNN' tail, the
    // min-count HAVING, the frequency-rank cut (ties to the smaller term),
    // and the add-1 weights re-based on the retained vocabulary — every
    // expression mirrors Classify.flooredCnt/naiveBayesModel token for
    // token.
    "q389_nb_vocab_floor" ->
      """WITH nbcorpus AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 1 THEN 'bad' ELSE 'good' END AS label,
        |         CASE WHEN doc_id % 2 = 1
        |              THEN text || ' win free click buy win free click buy win free click buy'
        |              ELSE text END AS text
        |  FROM documents),
        |nbtrain AS (SELECT * FROM nbcorpus WHERE (doc_id // 2) % 2 = 0),
        |noisy AS (SELECT doc_id, label,
        |                 text || ' rare' || CAST(doc_id AS VARCHAR) AS text
        |          FROM nbtrain),
        |nbtok AS (
        |  SELECT label,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM noisy),
        |cnt0 AS (SELECT label, term, CAST(COUNT(*) AS BIGINT) AS cnt
        |         FROM nbtok GROUP BY 1, 2),
        |keptv AS (
        |  SELECT term FROM (
        |    SELECT term,
        |           ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, term) AS rk
        |    FROM cnt0 GROUP BY term HAVING SUM(cnt) >= 3)
        |  WHERE rk <= 30),
        |cnt AS (SELECT c.label, c.term, c.cnt
        |        FROM cnt0 c JOIN keptv USING (term)),
        |tot AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS tot
        |        FROM cnt GROUP BY 1),
        |voc AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM cnt)
        |SELECT c.label, c.term, c.cnt,
        |       CAST(ROUND(1e6 * ln((c.cnt + 1) * 1e0 / (t.tot + voc.v)))
        |            AS BIGINT) AS w_micros
        |FROM cnt c JOIN tot t ON t.label = c.label CROSS JOIN voc""".stripMargin,

    // q384's PMI rationals, the exact shift filter (pmi_num > 5·pmi_den),
    // the 1e-6-grain integer ratio, and the per-center rank replayed with
    // ROW_NUMBER (value desc, context desc — GroupedTopK's descending
    // (value, tie) contract).
    "q390_sppmi_topk" ->
      s"""WITH $randomWalkCtesSql,
         |sp AS (SELECT a.node AS center, b.node AS context
         |       FROM walks a JOIN walks b ON a.walk_id = b.walk_id
         |        AND abs(a.step - b.step) BETWEEN 1 AND 2),
         |pc AS (SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |       FROM sp GROUP BY 1, 2),
         |mc AS (SELECT center, CAST(SUM(n_pairs) AS BIGINT) AS n_center
         |       FROM pc GROUP BY 1),
         |mx AS (SELECT context, CAST(SUM(n_pairs) AS BIGINT) AS n_context
         |       FROM pc GROUP BY 1),
         |nt AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM pc),
         |pmi AS (
         |  SELECT p.center, p.context, p.n_pairs,
         |         CAST(p.n_pairs * nt.n_total AS BIGINT) AS pmi_num,
         |         CAST(mc.n_center * mx.n_context AS BIGINT) AS pmi_den
         |  FROM pc p JOIN mc ON mc.center = p.center
         |            JOIN mx ON mx.context = p.context
         |            CROSS JOIN nt),
         |pos AS (
         |  SELECT center, context, n_pairs, pmi_num, pmi_den,
         |         CAST(pmi_num * 1000000 // pmi_den AS BIGINT)
         |           AS pmi_ratio_micros
         |  FROM pmi WHERE pmi_num > 5 * pmi_den)
         |SELECT center, context, n_pairs, pmi_num, pmi_den, pmi_ratio_micros
         |FROM pos
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY center
         |  ORDER BY pmi_ratio_micros DESC, context DESC) <= 3""".stripMargin,

    // Streaming NB scoring is stateless per document, so the union of the
    // tick partitions equals the one-shot batch prediction over the test
    // split — the q378 prediction CTEs verbatim, minus the true-label join.
    "q391_streaming_nb" ->
      s"""WITH $nbModelCtes,
         |toscore AS (SELECT doc_id, text FROM nbtest),
         |$nbPredictCtes
         |SELECT doc_id, pred_label, score_micros FROM nbpred""".stripMargin,

    // Sample (md5-60 stream) → strong peak (strict max over ±32) → gap →
    // 15-bit-packed 4-gram key → banded equi-join, replayed arithmetically
    // (WAV encode/decode is lossless 16-bit PCM, so the formula IS the
    // sample stream).
    "q392_audio_landmarks" ->
      """WITH ids AS (SELECT CAST(id AS BIGINT) AS id FROM range(40) t(id)),
        |clips AS (
        |  SELECT id AS media_id, i,
        |         (CAST(concat('0x', substr(md5(concat('aud:',
        |            CAST(id AS VARCHAR), ':', CAST(i AS VARCHAR))), 1, 15))
        |            AS BIGINT) % 20001) - 10000 AS v
        |  FROM ids CROSS JOIN (SELECT CAST(i AS BIGINT) AS i
        |                       FROM range(6200) r(i)) r
        |  WHERE i < 6000 + (id % 7) * 20),
        |padded AS (
        |  SELECT id + 1000 AS media_id, i,
        |         CASE WHEN i < 37 THEN
        |           (CAST(concat('0x', substr(md5(concat('junk:',
        |              CAST(id AS VARCHAR), ':', CAST(i AS VARCHAR))), 1, 15))
        |              AS BIGINT) % 1201) - 600
        |         ELSE 3 * ((CAST(concat('0x', substr(md5(concat('aud:',
        |            CAST(id AS VARCHAR), ':', CAST(i - 37 AS VARCHAR))),
        |            1, 15)) AS BIGINT) % 20001) - 10000) END AS v
        |  FROM ids CROSS JOIN (SELECT CAST(i AS BIGINT) AS i
        |                       FROM range(6237) r(i)) r
        |  WHERE id % 5 = 0 AND i < 6000 + (id % 7) * 20 + 37),
        |sam AS (SELECT * FROM clips UNION ALL SELECT * FROM padded),
        |win AS (
        |  SELECT media_id, i, v,
        |         MAX(v) OVER (PARTITION BY media_id ORDER BY i
        |           ROWS BETWEEN 32 PRECEDING AND 1 PRECEDING) AS mxp,
        |         MAX(v) OVER (PARTITION BY media_id ORDER BY i
        |           ROWS BETWEEN 1 FOLLOWING AND 32 FOLLOWING) AS mxn,
        |         COUNT(*) OVER (PARTITION BY media_id ORDER BY i
        |           ROWS BETWEEN 32 PRECEDING AND 1 PRECEDING) AS cp,
        |         COUNT(*) OVER (PARTITION BY media_id ORDER BY i
        |           ROWS BETWEEN 1 FOLLOWING AND 32 FOLLOWING) AS cn
        |  FROM sam),
        |pk AS (SELECT media_id, i FROM win
        |       WHERE cp = 32 AND cn = 32 AND v > mxp AND v > mxn),
        |gaps AS (
        |  SELECT media_id,
        |         LEAD(i, 1) OVER w - i AS g0,
        |         LEAD(i, 2) OVER w - LEAD(i, 1) OVER w AS g1,
        |         LEAD(i, 3) OVER w - LEAD(i, 2) OVER w AS g2,
        |         LEAD(i, 4) OVER w - LEAD(i, 3) OVER w AS g3
        |  FROM pk WINDOW w AS (PARTITION BY media_id ORDER BY i)),
        |keys AS (
        |  SELECT DISTINCT media_id,
        |         ((least(g0, 32767) * 32768 + least(g1, 32767)) * 32768
        |          + least(g2, 32767)) * 32768 + least(g3, 32767) AS lk
        |  FROM gaps WHERE g3 IS NOT NULL)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM keys a JOIN keys b ON a.lk = b.lk AND a.media_id < b.media_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 30""".stripMargin,

    // Ground truth, not a replay: the fixture's bridges are its 9
    // connector edges by construction (every cycle edge lies on a cycle).
    "q393_bridges" ->
      """SELECT least(a0, b0) AS a, greatest(a0, b0) AS b, is_bridge
        |FROM (
        |  SELECT CAST((id // 5) * 10 + id % 5 AS BIGINT) AS a0,
        |         CAST((id // 5) * 10 + (id % 5 + 1) % 5 AS BIGINT) AS b0,
        |         FALSE AS is_bridge
        |  FROM range(50) t(id)
        |  UNION ALL
        |  SELECT CAST(id * 10 + 2 AS BIGINT), CAST((id + 1) * 10 AS BIGINT),
        |         TRUE
        |  FROM range(9) t(id))""".stripMargin,

    // Closed form: every node belongs to its 5-cycle's 2ECC, labeled by
    // the cycle's min member.
    "q394_2ecc" ->
      """SELECT CAST(id AS BIGINT) AS id,
        |       CAST((id // 10) * 10 AS BIGINT) AS component
        |FROM (SELECT (id // 5) * 10 + id % 5 AS id FROM range(50) t(id))""".stripMargin,

    // Ground truth: the connector endpoints (c·10+2 on the feeding side,
    // (c+1)·10 on the fed side) are exactly the cut vertices.
    "q395_articulation" ->
      """SELECT CAST(id AS BIGINT) AS id,
        |       ((id % 10 = 2 AND id < 90) OR (id % 10 = 0 AND id >= 10))
        |         AS is_articulation
        |FROM (SELECT (id // 5) * 10 + id % 5 AS id FROM range(50) t(id))""".stripMargin,

    // Ground truth: each 5-cycle is one block labeled by its smallest
    // edge (c·10, c·10+1); each connector is its own 1-edge block.
    "q396_bcc" ->
      """SELECT least(a0, b0) AS a, greatest(a0, b0) AS b, blk_a AS block_a,
        |       blk_b AS block_b
        |FROM (
        |  SELECT CAST((id // 5) * 10 + id % 5 AS BIGINT) AS a0,
        |         CAST((id // 5) * 10 + (id % 5 + 1) % 5 AS BIGINT) AS b0,
        |         CAST((id // 5) * 10 AS BIGINT) AS blk_a,
        |         CAST((id // 5) * 10 + 1 AS BIGINT) AS blk_b
        |  FROM range(50) t(id)
        |  UNION ALL
        |  SELECT CAST(id * 10 + 2 AS BIGINT), CAST((id + 1) * 10 AS BIGINT),
        |         CAST(id * 10 + 2 AS BIGINT), CAST((id + 1) * 10 AS BIGINT)
        |  FROM range(9) t(id))""".stripMargin,

    // One-shot batch replay of the composed tick: q371's funnel CTEs over
    // the nbtest landing (with the +300000 cross-tick duplicates), then
    // q378's NB prediction CTEs over the pass4 survivors as the final
    // gate. The PASS4-fingerprint ledger is what makes summed ticks equal
    // this batch replay.
    "q397_streaming_funnel_nb" ->
      s"""WITH $nbModelCtes,
         |d AS (
         |  SELECT doc_id, text FROM nbtest
         |  UNION ALL
         |  SELECT doc_id + 300000, text FROM nbtest WHERE doc_id % 4 = 2),
         |tokt AS (SELECT doc_id, text,
         |           regexp_split_to_array(trim(text), '\\s+') AS toks FROM d),
         |lh AS (SELECT doc_id, text, toks,
         |  len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS h_en,
         |  len(list_filter(toks, x -> x IN ('el','la','de','que','es'))) AS h_es,
         |  len(list_filter(toks, x -> x IN ('le','la','et','est','une'))) AS h_fr,
         |  len(list_filter(toks, x -> x IN ('der','die','und','ist','ein'))) AS h_de,
         |  len(list_filter(toks, x -> x IN ('的','是','了','在','我'))) AS h_zh
         |  FROM tokt),
         |f1 AS (SELECT doc_id, text, toks,
         |         (h_en > 0 AND h_en = greatest(h_en, h_es, h_fr, h_de, h_zh))
         |           AS pass1
         |       FROM lh),
         |f2 AS (SELECT *, pass1 AND len(toks) >= 20 AS pass2 FROM f1),
         |f3 AS (SELECT doc_id, text, pass1, pass2, pass2 AND
         |         ROUND((least(length(text) / 500.0, 1.0)
         |           + least(CAST(len(list_filter(toks,
         |               x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
         |             / len(toks) * 4.0, 1.0)
         |           + greatest(0.0, 1.0
         |             - CAST(length(text) - length(regexp_replace(text,
         |                 '[[:punct:]]', '', 'g')) AS DOUBLE)
         |               / length(text) * 5.0)) / 3.0, 6) >= 0.5 AS pass3
         |       FROM f2),
         |fpd AS (SELECT *, md5(lower(trim(text))) AS fp FROM f3),
         |keepf AS (SELECT fp, MIN(doc_id) AS doc_id FROM fpd
         |          WHERE pass3 GROUP BY 1),
         |f4 AS (SELECT f.doc_id, f.text, f.pass1, f.pass2, f.pass3,
         |         (f.pass3 AND k.doc_id IS NOT NULL) AS pass4
         |       FROM fpd f LEFT JOIN keepf k
         |         ON f.fp = k.fp AND f.doc_id = k.doc_id),
         |toscore AS (SELECT doc_id, text FROM f4 WHERE pass4),
         |$nbPredictCtes,
         |f5 AS (SELECT f4.doc_id, pass1, pass2, pass3, pass4,
         |         (pass4 AND COALESCE(p.pred_label, '') = 'good') AS pass5
         |       FROM f4 LEFT JOIN nbpred p USING (doc_id)),
         |ftot AS (SELECT CAST(COUNT(*) AS BIGINT) AS c0,
         |          CAST(SUM(CASE WHEN pass1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |          CAST(SUM(CASE WHEN pass2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |          CAST(SUM(CASE WHEN pass3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |          CAST(SUM(CASE WHEN pass4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         |          CAST(SUM(CASE WHEN pass5 THEN 1 ELSE 0 END) AS BIGINT) AS c5
         |        FROM f5)
         |SELECT CAST(0 AS BIGINT) AS stage_idx, 'all' AS stage, c0 AS n_kept FROM ftot
         |UNION ALL SELECT 1, 'lang_en', c1 FROM ftot
         |UNION ALL SELECT 2, 'min_length', c2 FROM ftot
         |UNION ALL SELECT 3, 'quality', c3 FROM ftot
         |UNION ALL SELECT 4, 'exact_dedup', c4 FROM ftot
         |UNION ALL SELECT 5, 'nb_good', c5 FROM ftot""".stripMargin,

    // q69's packing replay + string_agg(ORDER BY doc_id) concat + q341's
    // keep-first span merge at sequence granularity (seq = bucket·2⁴⁰+bin).
    "q398_packed_seq_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |         len(regexp_split_to_array(trim(text), '\\s+')) AS tokens,
         |         ${h60Sql(s"'${graft.ext.Packing.PackSalt}' || ':' || CAST(doc_id AS VARCHAR)")} % 8 AS bucket
         |  FROM documents),
         |r AS (
         |  SELECT bucket, doc_id, text, tokens,
         |         SUM(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
         |  FROM d),
         |sq AS (
         |  SELECT bucket, (running - tokens) // 256 AS bin,
         |         string_agg(text, chr(10) ORDER BY doc_id) AS t
         |  FROM r GROUP BY 1, 2),
         |base AS (
         |  SELECT CAST(bucket * 1099511627776 + bin AS BIGINT) AS seq,
         |         bucket, bin, t
         |  FROM sq),
         |p0 AS (
         |  SELECT seq, t, unnest(generate_series(1, LENGTH(t) - 29)) AS i
         |  FROM base WHERE LENGTH(t) >= 30),
         |pos AS (
         |  SELECT seq, CAST(i AS BIGINT) AS pos,
         |         substr(t, CAST(i AS INT), 30) AS g
         |  FROM p0),
         |cov AS (
         |  SELECT seq, pos FROM (
         |    SELECT seq, pos,
         |           ROW_NUMBER() OVER (PARTITION BY g ORDER BY seq, pos) AS occ
         |    FROM pos) x
         |  WHERE occ > 1),
         |lagd AS (
         |  SELECT seq, pos,
         |         LAG(pos) OVER (PARTITION BY seq ORDER BY pos) AS prev
         |  FROM cov),
         |isl AS (
         |  SELECT seq, pos,
         |         SUM(CASE WHEN prev IS NULL OR pos - prev > 30 THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY seq ORDER BY pos) AS island
         |  FROM lagd),
         |spans AS (
         |  SELECT seq, island, MIN(pos) AS s, MAX(pos) + 29 AS e
         |  FROM isl GROUP BY seq, island),
         |mass AS (
         |  SELECT seq, CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars
         |  FROM spans GROUP BY 1)
         |SELECT b.bucket, CAST(b.bin AS BIGINT) AS bin,
         |       CAST(LENGTH(b.t) AS BIGINT) AS seq_chars,
         |       COALESCE(m.dup_chars, 0) AS dup_chars,
         |       COALESCE(m.dup_chars, 0) * 1000 // LENGTH(b.t) AS dup_permille,
         |       (COALESCE(m.dup_chars, 0) * 1000 // LENGTH(b.t)) <= 200 AS keep
         |FROM base b LEFT JOIN mass m ON m.seq = b.seq""".stripMargin
  )

  /** DuckDB replay of q376's deterministic walk corpus (the hub-capped
    * co-purchase graph, id-ordered adjacency, md5-60 next-hop, 4 unrolled
    * steps) — shared by the q376 and q384 oracles. Emits the CTE `walks`
    * with `(walk_id, step, node)`. */
  private val randomWalkCtesSql: String =
    """it0 AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |it AS (
        |  SELECT b, i FROM (
        |    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS __bs FROM it0)
        |  WHERE __bs <= 1000),
        |cop AS (
        |  SELECT a.i AS p1, x.i AS p2
        |  FROM it a JOIN it x ON a.b = x.b AND a.i < x.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |t0 AS (SELECT CAST(p1 AS BIGINT) AS a, CAST(p2 AS BIGINT) AS b
        |       FROM cop),
        |sym AS (SELECT a AS src, b AS dst FROM t0
        |        UNION ALL SELECT b, a FROM t0),
        |adj AS (SELECT src, dst,
        |          ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
        |        FROM sym),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM sym GROUP BY 1),
        |w0 AS (SELECT src AS walk_id, src AS node FROM deg
        |       WHERE src % 50 = 0),
        |w1 AS (SELECT c.walk_id, a.dst AS node
        |       FROM w0 c JOIN deg d ON d.src = c.node
        |       JOIN adj a ON a.src = c.node
        |        AND a.idx = CAST(concat('0x', substr(md5(
        |              concat('rw:', CAST(c.walk_id AS STRING), ':1:',
        |                     CAST(c.node AS STRING))), 1, 15)) AS BIGINT)
        |            % d.deg),
        |w2 AS (SELECT c.walk_id, a.dst AS node
        |       FROM w1 c JOIN deg d ON d.src = c.node
        |       JOIN adj a ON a.src = c.node
        |        AND a.idx = CAST(concat('0x', substr(md5(
        |              concat('rw:', CAST(c.walk_id AS STRING), ':2:',
        |                     CAST(c.node AS STRING))), 1, 15)) AS BIGINT)
        |            % d.deg),
        |w3 AS (SELECT c.walk_id, a.dst AS node
        |       FROM w2 c JOIN deg d ON d.src = c.node
        |       JOIN adj a ON a.src = c.node
        |        AND a.idx = CAST(concat('0x', substr(md5(
        |              concat('rw:', CAST(c.walk_id AS STRING), ':3:',
        |                     CAST(c.node AS STRING))), 1, 15)) AS BIGINT)
        |            % d.deg),
        |w4 AS (SELECT c.walk_id, a.dst AS node
        |       FROM w3 c JOIN deg d ON d.src = c.node
        |       JOIN adj a ON a.src = c.node
        |        AND a.idx = CAST(concat('0x', substr(md5(
        |              concat('rw:', CAST(c.walk_id AS STRING), ':4:',
        |                     CAST(c.node AS STRING))), 1, 15)) AS BIGINT)
        |            % d.deg),
      |walks AS (
      |  SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM w0
      |  UNION ALL SELECT walk_id, 1, node FROM w1
      |  UNION ALL SELECT walk_id, 2, node FROM w2
      |  UNION ALL SELECT walk_id, 3, node FROM w3
      |  UNION ALL SELECT walk_id, 4, node FROM w4)""".stripMargin

  /** The unrolled-CTE replay of [[graft.ext.Clustering.lloydTrainMicros]] —
    * expects a CTE named `q` with `(vid, v)` (micros-quantized DOUBLE[] with
    * integer values; all dot products stay < 2⁵³ so DOUBLE is exact), emits
    * `p` (1-based positions), `c0..c<iters>` (centroid tables) and `af` (the
    * final assignment with its integer squared distance). Tie-breaks and the
    * truncating `//` division mirror the Spark side exactly (DuckDB `//` on
    * BIGINT truncates toward zero like JVM `/` — probed, not assumed). */
  private def kmeansCtesSql(k: Int, iters: Int, dim: Int): String = {
    def distSql(vt: String, ct: String) =
      s"list_dot_product($vt, $vt) - 2 * list_dot_product($vt, $ct) + list_dot_product($ct, $ct)"
    val init =
      s"""p AS (SELECT CAST(i AS INT) AS pos FROM range(1, ${dim + 1}) t(i)),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vid) AS INT) - 1 AS cid,
         |              v AS c
         |       FROM (SELECT vid, v FROM q ORDER BY vid LIMIT $k) s0)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s""",
         |a$i AS (SELECT vid, v, cid FROM (
         |    SELECT q.vid, q.v, c.cid,
         |           row_number() OVER (PARTITION BY q.vid
         |             ORDER BY ${distSql("q.v", "c.c")}, c.cid) AS rk
         |    FROM q CROSS JOIN c${i - 1} c) x WHERE rk = 1),
         |u$i AS (SELECT a.cid, p.pos, CAST(SUM(a.v[p.pos]) AS BIGINT) AS s,
         |               CAST(COUNT(*) AS BIGINT) AS n
         |        FROM a$i a CROSS JOIN p GROUP BY a.cid, p.pos),
         |c$i AS (SELECT c.cid,
         |               list(CAST(COALESCE(u.s // u.n, c.c[p.pos]) AS DOUBLE)
         |                 ORDER BY p.pos) AS c
         |        FROM c${i - 1} c CROSS JOIN p
         |        LEFT JOIN u$i u ON u.cid = c.cid AND u.pos = p.pos
         |        GROUP BY c.cid)""".stripMargin
    }.mkString
    val af =
      s""",
         |af AS (SELECT vid, CAST(dist AS BIGINT) AS dist, cid FROM (
         |    SELECT q.vid, q.v, c.cid, ${distSql("q.v", "c.c")} AS dist,
         |           row_number() OVER (PARTITION BY q.vid
         |             ORDER BY ${distSql("q.v", "c.c")}, c.cid) AS rk
         |    FROM q CROSS JOIN c$iters c) x WHERE rk = 1)""".stripMargin
    init + iterCtes + af
  }

  /** q345's oracle: the full NN-descent convergence replay — the q336 seed
    * (two salted 6-bit LSH tables, exact rescoring, top-k), `maxRounds`
    * NoN refinement rounds generated mechanically, per-round edge/new-edge
    * stats via EXCEPT, and THE STOP RULE ITSELF (emit round r iff no
    * earlier refinement round r' had n_new·1000 ≤ minNewPermille·n_edges) —
    * so the emitted round set is hash-verified against the engine's
    * early-stop loop, not pinned by hand. */
  private def nnDescentConvergenceOracleSql(maxRounds: Int, k: Int,
                                            minNewPermille: Long): String = {
    val roundCtes = (0 until maxRounds).map { r =>
      s"""und$r AS (SELECT q, n FROM g$r UNION SELECT n, q FROM g$r),
         |cand${r + 1} AS (SELECT q, n FROM und$r
         |    UNION SELECT x.q, y.n FROM und$r x JOIN und$r y ON x.n = y.q
         |    WHERE x.q <> y.n),
         |g${r + 1} AS (SELECT q, n FROM (
         |    SELECT c.q, c.n,
         |           ROW_NUMBER() OVER (PARTITION BY c.q
         |             ORDER BY ROUND(list_cosine_similarity(bq.v, bn.v), 6) DESC,
         |                      c.n) AS rk
         |    FROM cand${r + 1} c JOIN base bq ON bq.vec_id = c.q
         |                 JOIN base bn ON bn.vec_id = c.n) x WHERE rk <= $k)""".stripMargin
    }.mkString(",\n")
    val statRows = (s"SELECT 0 AS round, (SELECT COUNT(*) FROM g0) AS n_edges, " +
      s"(SELECT COUNT(*) FROM g0) AS n_new") +:
      (1 to maxRounds).map { r =>
        s"""SELECT $r, (SELECT COUNT(*) FROM g$r),
           |  (SELECT COUNT(*) FROM
           |     (SELECT q, n FROM g$r EXCEPT SELECT q, n FROM g${r - 1}) d)""".stripMargin
      }
    val hitRows = (0 to maxRounds).map { r =>
      s"SELECT $r AS round, COUNT(*) AS n_hits FROM g$r JOIN ek USING (q, n)"
    }
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nb0 AS (SELECT vec_id, v, ${lshBucketSql("v", 6, 64, 0L)} AS b FROM base),
       |nb1 AS (SELECT vec_id, v, ${lshBucketSql("v", 6, 64, 1L)} AS b FROM base),
       |ek AS (SELECT q, n FROM (
       |    SELECT a.vec_id AS q, b.vec_id AS n,
       |           ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
       |                      b.vec_id) AS rk
       |    FROM base a JOIN base b ON a.vec_id <> b.vec_id) x WHERE rk <= $k),
       |cand0 AS (
       |    SELECT a.vec_id AS q, b.vec_id AS n,
       |           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cs
       |    FROM nb0 a JOIN nb0 b ON a.b = b.b AND a.vec_id <> b.vec_id
       |    UNION
       |    SELECT a.vec_id, b.vec_id,
       |           ROUND(list_cosine_similarity(a.v, b.v), 6)
       |    FROM nb1 a JOIN nb1 b ON a.b = b.b AND a.vec_id <> b.vec_id),
       |g0 AS (SELECT q, n FROM (
       |    SELECT q, n,
       |           ROW_NUMBER() OVER (PARTITION BY q
       |             ORDER BY cs DESC, n) AS rk
       |    FROM cand0) x
       |  WHERE rk <= $k),
       |$roundCtes,
       |stats AS (${statRows.mkString("\n  UNION ALL\n  ")}),
       |emitted AS (
       |  SELECT s.* FROM stats s WHERE NOT EXISTS (
       |    SELECT 1 FROM stats p WHERE p.round >= 1 AND p.round < s.round
       |      AND p.n_new * 1000 <= $minNewPermille * p.n_edges)),
       |hits AS (${hitRows.mkString("\n  UNION ALL\n  ")}),
       |tot AS (SELECT COUNT(*) AS n_exact FROM ek)
       |SELECT CAST(e.round AS BIGINT) AS round,
       |       CAST(e.n_edges AS BIGINT) AS n_edges,
       |       CAST(e.n_new AS BIGINT) AS n_new_edges,
       |       CAST(h.n_hits AS BIGINT) AS n_hits,
       |       CAST(t.n_exact AS BIGINT) AS n_exact,
       |       CAST(h.n_hits * 1000 // t.n_exact AS BIGINT) AS recall_permille
       |FROM emitted e JOIN hits h USING (round), tot t""".stripMargin
  }

  /** q331's oracle: the exact ground-truth pair count plus one bucketed
    * count per bits setting, each bucketing inlining the same plane
    * literals the plan compiles ([[lshBucketSql]]). */
  private def lshBitsSweepOracleSql: String = {
    val perBits = Seq(6, 9, 12).map { bits =>
      s"""bk$bits AS (SELECT vec_id, v, ${lshBucketSql("v", bits)} AS b FROM base),
         |cnt$bits AS (
         |  SELECT COUNT(*) AS n FROM bk$bits a JOIN bk$bits b
         |    ON a.b = b.b AND a.vec_id < b.vec_id
         |  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.9)""".stripMargin
    }.mkString(",\n")
    val rows = Seq(6, 9, 12).map { bits =>
      s"""SELECT $bits AS bits, CAST(cnt$bits.n AS BIGINT) AS n_found,
         |       CAST(t.n_true AS BIGINT) AS n_true,
         |       CAST(cnt$bits.n * 1000 // t.n_true AS BIGINT) AS recall_permille
         |FROM cnt$bits, t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
       |  FROM embeddings),
       |$perBits,
       |t AS (SELECT COUNT(*) AS n_true FROM base a JOIN base b
       |      ON a.vec_id < b.vec_id
       |      WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.9)
       |$rows""".stripMargin
  }

  /** q325's oracle: the 16 projection dots inlined as plane literals (the
    * [[graft.ext.Similarity.hyperplanes]] family — same arrays the plan
    * compiles), cosines at micro granularity before vs after. */
  private def jlAuditOracleSql: String = {
    val proj = (v: String) => graft.ext.Similarity.hyperplanes(16, 64)
      .map(p => s"list_dot_product($v, ${p.mkString("[", ", ", "]")})")
      .mkString("[", ",\n          ", "]")
    def cosM(x: String, y: String) =
      s"CAST(ROUND(1e6 * list_cosine_similarity($x, $y)) AS BIGINT)"
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
       |  FROM embeddings),
       |pr AS (SELECT vec_id, v, ${proj("v")} AS pv FROM base),
       |pairs AS (
       |  SELECT 'near' AS kind,
       |         abs(${cosM("a.v", "b.v")} - ${cosM("a.pv", "b.pv")}) AS err
       |  FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 100000
       |  UNION ALL
       |  SELECT 'far' AS kind,
       |         abs(${cosM("a.v", "b.v")} - ${cosM("a.pv", "b.pv")}) AS err
       |  FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1
       |  WHERE a.vec_id < 100000)
       |SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(err) // COUNT(*) AS BIGINT) AS mae_micros,
       |       CAST(MAX(err) AS BIGINT) AS max_err_micros
       |FROM pairs GROUP BY kind""".stripMargin
  }

  /** Oracle for the end-to-end corpus-prep pipeline: quality filter (q21's
    * formula) → keep-min-id exact dedup (q08's hash) → portable MinHash
    * near-dedup (q39's CTE chain, parameterized over this corpus) →
    * portable-hash stratified sample (q50's predicate). */
  private def corpusPrepSql: String = {
    val stop = QualityStopwords.map(s => s"'$s'").mkString(", ")
    val whens = graft.ext.Sampling.LangRatesPerMille.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    val keyExpr = s"concat('${graft.ext.Sampling.SampleSalt}', ':', CAST(doc_id AS VARCHAR))"
    val corpusCte =
      s"""qbase AS (
         |  SELECT doc_id, text, lang,
         |         regexp_split_to_array(trim(text), '\\s+') AS toks,
         |         length(text) AS nc,
         |         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS np
         |  FROM documents
         |), quality AS (
         |  SELECT doc_id, text, lang FROM (
         |    SELECT doc_id, text, lang,
         |           CASE WHEN nc = 0 THEN 0.0 ELSE CAST(np AS DOUBLE) / nc END AS praw,
         |           CASE WHEN len(toks) = 0 THEN 0.0
         |                ELSE CAST(len(list_filter(toks, x -> x IN ($stop))) AS DOUBLE) / len(toks) END AS sraw,
         |           CAST(nc AS DOUBLE) AS clen
         |    FROM qbase)
         |  WHERE ROUND((least(clen / 500.0, 1.0) + least(sraw * 4.0, 1.0)
         |               + greatest(0.0, 1.0 - praw * 5.0)) / 3.0, 6) >= 0.5
         |), corpus AS (
         |  SELECT doc_id, text, lang FROM (
         |    SELECT doc_id, text, lang,
         |           ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
         |    FROM quality)
         |  WHERE rn = 1
         |)""".stripMargin
    s"""WITH ${minhashPairsCtesOver(corpusCte)},
       |kept AS (
       |  SELECT doc_id, lang FROM corpus
       |  WHERE doc_id NOT IN (SELECT id_b FROM pairs WHERE jaccard >= 0.5)
       |)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
       |FROM kept
       |WHERE ${h60Sql(keyExpr)} % 1000 <
       |      CASE lang $whens ELSE ${graft.ext.Sampling.DefaultRatePerMille} END
       |GROUP BY lang""".stripMargin
  }

  /** Oracle for the portable stratified sample — rate CASE and hash generated
    * from the same [[graft.ext.Sampling]] constants the Spark plan uses. */
  private def stratifiedSampleSql: String = {
    val whens = graft.ext.Sampling.LangRatesPerMille.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    val keyExpr = s"concat('${graft.ext.Sampling.SampleSalt}', ':', CAST(doc_id AS VARCHAR))"
    s"""SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
       |FROM documents
       |WHERE ${h60Sql(keyExpr)} % 1000 <
       |      CASE lang $whens ELSE ${graft.ext.Sampling.DefaultRatePerMille} END
       |GROUP BY lang""".stripMargin
  }

  /** q115 mirror: the integer exponential race, replayed list-wise. */
  private def weightedSampleSql: String = {
    val key = s"concat('${graft.ext.Sampling.WeightedSalt}', ':', " +
      "CAST(doc_id AS VARCHAR), ':', CAST(j AS VARCHAR))"
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |         list_min(list_transform(generate_series(1, 1 + doc_id % 5),
       |                                 j -> ${h60Sql(key)})) AS race
       |  FROM documents),
       |s AS (SELECT * FROM r ORDER BY race, doc_id LIMIT 200)
       |SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
       |FROM s GROUP BY lang""".stripMargin
  }

  /** q116 mirror: every count-min cell rebuilt from the same hash family. */
  private def countMinSql: String = {
    val p = graft.ext.PortableHash.P
    val cs = graft.ext.PortableHash.coeffs(
      graft.ext.CountMin.Depth, graft.ext.CountMin.Seed)
    val w = graft.ext.CountMin.Width
    val salt = graft.ext.CountMin.Salt
    val cellSelects = cs.zipWithIndex.map { case ((a, b), d) =>
      s"SELECT $d AS d, (($a * h + $b) % $p) % $w AS bucket, COUNT(*) AS n FROM hx GROUP BY 2"
    }.mkString("\n  UNION ALL ")
    val candSelects = cs.zipWithIndex.map { case ((a, b), d) =>
      s"SELECT user_id, $d AS d, (($a * h + $b) % $p) % $w AS bucket FROM cand"
    }.mkString("\n  UNION ALL ")
    s"""WITH ev AS (
       |  SELECT user_id FROM events WHERE event_type IN ('click', 'purchase')),
       |hx AS (
       |  SELECT user_id,
       |         ${h60Sql(s"concat('$salt', ':', CAST(user_id AS VARCHAR))")} % $p AS h
       |  FROM ev),
       |cells AS (
       |  $cellSelects),
       |cand AS (
       |  SELECT range AS user_id,
       |         ${h60Sql(s"concat('$salt', ':', CAST(range AS VARCHAR))")} % $p AS h
       |  FROM range(1, 11)),
       |cbuck AS (
       |  $candSelects),
       |est AS (
       |  SELECT user_id, MIN(COALESCE(cells.n, 0)) AS est
       |  FROM cbuck LEFT JOIN cells USING (d, bucket) GROUP BY 1),
       |exact AS (
       |  SELECT user_id, COUNT(*) AS n_exact FROM ev
       |  WHERE user_id BETWEEN 1 AND 10 GROUP BY 1)
       |SELECT e.user_id, e.est, COALESCE(x.n_exact, 0) AS n_exact,
       |       e.est >= COALESCE(x.n_exact, 0) AS overestimates
       |FROM est e LEFT JOIN exact x USING (user_id)""".stripMargin
  }

  /** q100 mirror: q50's sample predicate feeding q69's packing window. */
  private def exportPrepSql: String = {
    val whens = graft.ext.Sampling.LangRatesPerMille.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    val sampleKey = s"concat('${graft.ext.Sampling.SampleSalt}', ':', CAST(doc_id AS VARCHAR))"
    val packKey = s"'${graft.ext.Packing.PackSalt}' || ':' || CAST(doc_id AS VARCHAR)"
    s"""WITH sampled AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ${h60Sql(sampleKey)} % 1000 <
       |        CASE lang $whens ELSE ${graft.ext.Sampling.DefaultRatePerMille} END),
       |d AS (
       |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS tokens,
       |         ${h60Sql(packKey)} % 8 AS bucket
       |  FROM sampled),
       |r AS (
       |  SELECT bucket, doc_id, tokens,
       |         SUM(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
       |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
       |  FROM d)
       |SELECT bucket,
       |       COUNT(DISTINCT (running - tokens) // 256) AS n_bins,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(tokens) AS BIGINT) AS total_tokens,
       |       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
       |FROM r GROUP BY 1""".stripMargin
  }
}
