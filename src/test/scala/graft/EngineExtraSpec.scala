package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Gold, Sources}
import graft.plans.GraftExtensions

/** Extension registration, raw ingest, approx-distinct scale variant. */
class EngineExtraSpec extends SparkSpec {

  test("graft_dot is SQL-callable once installed (registry path + extensions wiring)") {
    // Builder-time path: the injector must wire without error.
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // Existing-session path (what Verify/Bench/tests use).
    org.apache.spark.sql.graft.Bridge.installGraftFunctions(spark)
    val v = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(v == 11.0)
    // The hash/shingle expressions are SQL-callable too, matching their
    // built-in reference forms.
    val r = spark.sql(
      """SELECT graft_md5_hex('abc') = md5('abc') AS hex_ok,
        |       graft_md5_prefix60('abc') =
        |         CAST(conv(substring(md5('abc'), 1, 15), 16, 10) AS BIGINT) AS p60_ok,
        |       graft_word_shingles('a b c d', 3) = array('a b c', 'b c d') AS sh_ok
        |""".stripMargin).collect().head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2))
    // graft_zorder_key (composed expression) must agree with the Column API.
    import spark.implicits._
    val df = Seq((0.0, 0.0), (3.0, 7.0), (10.0, 10.0)).toDF("x", "y")
    val viaSql = df.createOrReplaceTempView("zt")
    val sqlKeys = spark.sql(
      "SELECT graft_zorder_key(x, y, 0.0d, 10.0d, 0.0d, 10.0d) AS k FROM zt")
      .collect().map(_.getLong(0)).toSeq
    val apiKeys = df.select(graft.engine.Layout.zorderKey(
        col("x"), col("y"), 0.0, 10.0, 0.0, 10.0).as("k"))
      .collect().map(_.getLong(0)).toSeq
    assert(sqlKeys == apiKeys)
    // non-literal bounds must be rejected, not silently mis-evaluated
    val err = intercept[Exception](
      spark.sql("SELECT graft_zorder_key(x, y, x, 10.0d, 0.0d, 10.0d) FROM zt"))
    assert(err.getMessage.contains("numeric literal") ||
      Option(err.getCause).exists(_.getMessage.contains("numeric literal")))
  }

  test("ingestRaw copies staged files byte-for-byte into bronze") {
    withTempDir { dir =>
      val staged = new java.io.File(s"$dir/staging"); staged.mkdirs()
      val f = new java.io.File(staged, "batch1.csv")
      java.nio.file.Files.writeString(f.toPath, "a,b\n1,2\n")
      val copied = Sources.ingestRaw(spark, s"$dir/staging/*.csv", s"$dir/bronze")
      assert(copied.size == 1)
      val dest = new java.io.File(s"$dir/bronze/batch1.csv")
      assert(dest.exists)
      assert(java.nio.file.Files.readString(dest.toPath) == "a,b\n1,2\n")
      // source untouched (copy, not move — bronze append-only contract)
      assert(f.exists)
    }
  }

  test("saltedSumCount equals the direct groupBy (skew-safe two-phase rewrite)") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (if (i % 10 == 0) "cold" + i else "hot", i * 0.5)).toDF("k", "v")
    val salted = graft.engine.Skew.saltedSumCount(df, col("k"), col("v"), salt = 8)
      .select(col("key"), round(col("total"), 2).as("total"), col("n"))
    val direct = df.groupBy(col("k").as("key"))
      .agg(round(sum("v"), 2).as("total"), count(col("v")).as("n"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("asofJoin matches a brute-force latest-row-at-or-before reference") {
    import spark.implicits._
    import graft.engine.Joins
    val rnd = new scala.util.Random(23)
    // 200 keys × ~10 left rows; right series of 0-5 points per key (some keys
    // have NO right rows; equal-timestamp matches included via ts rounding).
    val left = (1 to 2000).map { i =>
      (i.toLong % 200, rnd.nextInt(100).toLong, s"L$i")
    }.toDF("k", "ts", "payload")
    val right = (0L until 200L).flatMap { k =>
      Seq.fill(rnd.nextInt(6))((k, rnd.nextInt(100).toLong))
    }.distinct.map { case (k, ts) => (k, ts, k * 1000 + ts) }
      .toDF("k", "ts", "v")
    val out = Joins.asofJoin(left, right, "k", "ts", Seq("v"))
    // Brute force: all pairs with r.ts <= l.ts, keep max r.ts per left row.
    val brute = left.as("l")
      .join(right.as("r"), col("l.k") === col("r.k") && col("r.ts") <= col("l.ts"), "left")
      .groupBy(col("l.k").as("k"), col("l.ts").as("ts"), col("l.payload").as("payload"))
      .agg(max_by(col("r.v"), col("r.ts")).as("v"))
    assert(out.exceptAll(brute).isEmpty && brute.exceptAll(out).isEmpty)
    // Unmatched left rows must survive with null v (left-join semantics).
    assert(out.filter(col("v").isNull).count() ==
      brute.filter(col("v").isNull).count())
  }

  test("asofJoin carries the matched row atomically when a value column is NULL") {
    import spark.implicits._
    import graft.engine.Joins
    // right series: ts=1 has (a=1,b=1); ts=2 has (a=2,b=NULL). A left row at
    // ts=3 must take BOTH values from the ts=2 row — (2, NULL) — not backfill
    // b=1 from the older row (a mixed row that never existed).
    val right = Seq((7L, 1L, Some(1L), Some(1L)), (7L, 2L, Some(2L), None))
      .toDF("k", "ts", "a", "b")
    val left = Seq((7L, 3L)).toDF("k", "ts")
    val out = Joins.asofJoin(left, right, "k", "ts", Seq("a", "b"))
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
    assert(out == Seq((7L, 3L, Some(2L), None)), s"got $out")
  }

  test("bucketedIntervalJoin equals the naive BETWEEN join, incl. boundary points") {
    import spark.implicits._
    import graft.engine.Joins
    val rnd = new scala.util.Random(29)
    val intervals = (0L until 50L).map { i =>
      val s = rnd.nextInt(10000).toLong; (i, s, s + 30 + rnd.nextInt(400))
    }.toDF("win_id", "s", "e")
    // random points plus exact start/end boundary hits (inclusive bounds)
    val points = (Seq.fill(3000)(rnd.nextInt(11000).toLong) ++
      intervals.collect().flatMap(r => Seq(r.getLong(1), r.getLong(2)))).toDF("p")
    val bucketed = Joins.bucketedIntervalJoin(points, "p", intervals, "s", "e", 128L)
      .select("p", "win_id")
    val naive = points.join(intervals, col("p") >= col("s") && col("p") <= col("e"))
      .select("p", "win_id")
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    assert(naive.count() > 0)
  }

  test("bloomSemiJoin equals the exact semi join; probe never drops a true match") {
    import spark.implicits._
    import graft.engine.Joins
    val large = (1L to 50000L).map(i => (i, s"row$i")).toDF("k", "v")
    val small = (1L to 50000L by 97).map(i => (i, "x")).toDF("k", "s")
    val viaBloom = Joins.bloomSemiJoin(large, small, "k", expectedItems = 1024)
    val exact = large.join(small.select("k").distinct(), Seq("k"), "left_semi")
    assert(viaBloom.exceptAll(exact).isEmpty && exact.exceptAll(viaBloom).isEmpty)
    // No false negatives by construction: every true key passes the probe.
    val bf = Joins.buildBloom(small, "k", expectedItems = 1024)
    assert(small.select("k").as[Long].collect().forall(bf.mightContainLong))
    // The probe is selective (the point of the exercise): with 516 true keys
    // of 50k and fpp 1%, survivors must be well under a tenth of the input.
    val survivors = large.filter(Joins.mightContain(col("k"), bf)).count()
    assert(survivors < 5000, s"bloom probe passed $survivors of 50000 rows")
    // String keys take the UTF-8 binary probe path — same result as longs.
    val largeS = large.select(concat(lit("k"), col("k")).as("k"), col("v"))
    val smallS = small.select(concat(lit("k"), col("k")).as("k"))
    val viaBloomS = Joins.bloomSemiJoin(largeS, smallS, "k", expectedItems = 1024)
    val exactS = largeS.join(smallS.distinct(), Seq("k"), "left_semi")
    assert(viaBloomS.exceptAll(exactS).isEmpty && exactS.exceptAll(viaBloomS).isEmpty)
  }

  test("readSilverEvolved null-backfills columns added mid-history") {
    import spark.implicits._
    withTempDir { dir =>
      // v1 files lack the `channel` column; v2 files carry it.
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount")
        .write.mode("append").parquet(s"$dir/t")
      Seq((3L, 30.0, "web"), (4L, 40.0, "app")).toDF("id", "amount", "channel")
        .write.mode("append").parquet(s"$dir/t")
      val merged = graft.engine.Sources.readSilverEvolved(spark, s"$dir/t")
      assert(merged.columns.sorted.toSeq == Seq("amount", "channel", "id"))
      val rows = merged.orderBy("id")
        .select("id", "channel").as[(Long, Option[String])].collect().toSeq
      assert(rows == Seq((1L, None), (2L, None), (3L, Some("web")), (4L, Some("app"))))
      // compaction under the merged schema normalizes history back to one version
      graft.engine.Sources.compactParquet(spark, s"$dir/t") // plain read post-compact
      // plain (non-merging) read now sees the full schema on every file
      assert(spark.read.parquet(s"$dir/t").columns.length == 3)
    }
  }

  test("scd2Apply versions changed keys, keeps history, and is idempotent") {
    import spark.implicits._
    import graft.engine.Merge
    val dim = Seq(
      (1L, "A", "2024-01-01 00:00:00", null.asInstanceOf[String], true),
      (2L, "B", "2024-01-01 00:00:00", null.asInstanceOf[String], true),
      // key 3 already has one closed version in history
      (3L, "C0", "2023-01-01 00:00:00", "2024-01-01 00:00:00", false),
      (3L, "C1", "2024-01-01 00:00:00", null.asInstanceOf[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", col("valid_from").cast("timestamp"))
      .withColumn("valid_to", col("valid_to").cast("timestamp"))
    val updates = Seq(
      (1L, "A", "2024-06-01 00:00:00"),   // identical → no-op
      (3L, "C2", "2024-06-01 00:00:00"),  // changed → close + insert
      (4L, "D", "2024-06-01 00:00:00"))   // new key → insert
      .toDF("k", "attr", "eff_ts").withColumn("eff_ts", col("eff_ts").cast("timestamp"))
    val out = Merge.scd2Apply(dim, updates, "k", Seq("attr"), "eff_ts")
    // 4 original + 1 closed-version-split (key 3 gains a row) + 1 new key
    assert(out.count() == 6)
    // Exactly one current version per key, and the current attrs are right.
    val current = out.filter(col("is_current"))
    assert(current.groupBy("k").count().filter(col("count") =!= 1).isEmpty)
    assert(current.select("k", "attr").as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (2L, "B"), (3L, "C2"), (4L, "D")))
    // Key 3's superseded version is closed at the effective timestamp.
    val closed3 = out.filter(col("k") === 3 && col("attr") === "C1").head()
    assert(!closed3.getAs[Boolean]("is_current") &&
      closed3.getAs[java.sql.Timestamp]("valid_to").toString.startsWith("2024-06-01"))
    // Idempotent: re-applying the same batch changes nothing.
    val again = Merge.scd2Apply(out, updates, "k", Seq("attr"), "eff_ts")
    assert(again.exceptAll(out).isEmpty && out.exceptAll(again).isEmpty)
  }

  test("scd2Apply handles NULL attribute values null-safely (no vanishing keys)") {
    import spark.implicits._
    import graft.engine.Merge
    val dim = Seq((1L, null.asInstanceOf[String]), (2L, "B"), (3L, null.asInstanceOf[String]))
      .toDF("k", "attr")
      .withColumn("valid_from", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    val updates = Seq(
      (1L, "X"),                        // NULL → X : must close + insert
      (2L, null.asInstanceOf[String]),  // B → NULL : must close + insert
      (3L, null.asInstanceOf[String]))  // NULL → NULL : identical, no-op
      .toDF("k", "attr")
      .withColumn("eff_ts", lit("2024-06-01 00:00:00").cast("timestamp"))
    val out = Merge.scd2Apply(dim, updates, "k", Seq("attr"), "eff_ts")
    // keys 1,2 split into closed+new; key 3 untouched → 5 rows, no key lost
    assert(out.count() == 5)
    val current = out.filter(col("is_current"))
    assert(current.count() == 3)
    assert(current.select("k", "attr").as[(Long, Option[String])].collect().toSet ==
      Set((1L, Some("X")), (2L, None), (3L, None)))
  }

  test("zorderBy bounds per-partition span on BOTH dims; linear sort does not") {
    import spark.implicits._
    import graft.engine.Layout
    val rnd = new scala.util.Random(3)
    val df = Seq.fill(40000)((rnd.nextInt(10000), rnd.nextInt(10000))).toDF("x", "y")
      .repartition(8) // realistic multi-partition input
    val nP = 16
    def avgSpans(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .agg(avg("sx"), avg("sy")).as[(Double, Double)].head()
    val (zx, zy) = avgSpans(Layout.zorderBy(df, "x", "y", nP))
    val (_, ly) = avgSpans(df.repartitionByRange(nP, col("x")))
    // 16 partitions = 4 key bits = 2 bits/dim → ideal span 10000/4 = 2500 on
    // each dim; range-sampled boundaries straddle quadrants, so allow up to
    // ~2 quadrants per partition. Linear sort on x leaves y unconstrained
    // (~full 10000 range).
    assert(zx < 5500 && zy < 5500, s"z-order spans too wide: x=$zx y=$zy")
    assert(ly > 9000, s"control broken: linear sort should not bound y (got $ly)")
    // The curve only reorders: content is exactly preserved.
    val z = Layout.zorderBy(df, "x", "y", nP)
    assert(z.exceptAll(df).isEmpty && df.exceptAll(z).isEmpty)
  }

  test("compactParquet rewrites many small files into few, preserving rows") {
    withTempDir { dir =>
      import spark.implicits._
      val df = (1 to 10000).map(i => (i.toLong, s"payload-$i")).toDF("id", "v")
      df.repartition(40).write.parquet(s"$dir/t") // the append-pattern mess
      def parquetFiles = new java.io.File(s"$dir/t").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(parquetFiles == 40)
      val n = graft.engine.Sources.compactParquet(spark, s"$dir/t",
        targetFileBytes = 256L * 1024)
      assert(parquetFiles == n && n < 40, s"expected few files, got $n")
      val back = spark.read.parquet(s"$dir/t")
      assert(back.count() == 10000 &&
        back.agg(sum("id")).head().getLong(0) == 10000L * 10001 / 2)
      // prior data retained for explicit cleanup, not silently deleted
      assert(new java.io.File(s"$dir/t.pre-compact").exists)
    }
  }

  test("compactParquet preserves Hive partition directories when asked") {
    import spark.implicits._
    withTempDir { dir =>
      (1 to 300).map(i => (i.toLong, 2024, (i % 3) + 1)).toDF("id", "year", "month")
        .repartition(12).write.partitionBy("year", "month").parquet(s"$dir/t")
      graft.engine.Sources.compactParquet(spark, s"$dir/t",
        targetFileBytes = 64L * 1024, partitionBy = Seq("year", "month"))
      // partition dirs survive the rewrite → pruned reads still prune
      assert(new java.io.File(s"$dir/t/year=2024/month=2").exists)
      // and the rewrite CONCENTRATES each directory (hash on partition cols),
      // instead of fanning every task into every directory
      def filesIn(p: String) = new java.io.File(p).listFiles()
        .count(_.getName.endsWith(".parquet"))
      (1 to 3).foreach { m =>
        assert(filesIn(s"$dir/t/year=2024/month=$m") <= 2,
          s"month=$m fanned out to ${filesIn(s"$dir/t/year=2024/month=$m")} files")
      }
      val read = spark.read.parquet(s"$dir/t").filter(col("month") === 2)
      val plan = read.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*month".r.findFirstIn(plan).isDefined,
        s"month predicate must prune partitions post-compact:\n$plan")
      assert(read.count() == 100)
      assert(spark.read.parquet(s"$dir/t").count() == 300)
    }
  }

  test("saltedStats equals direct sum/count/min/max/avg on skewed keys") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (if (i % 10 == 0) "cold" + i else "hot", i * 0.5)).toDF("k", "v")
    val salted = graft.engine.Skew.saltedStats(df, col("k"), col("v"), salt = 8)
      .select(col("key"), round(col("total"), 2).as("total"), col("n"),
        col("min"), col("max"), round(col("avg"), 6).as("avg"))
    val direct = df.groupBy(col("k").as("key"))
      .agg(round(sum("v"), 2).as("total"), count(col("v")).as("n"),
        min(col("v")).as("min"), max(col("v")).as("max"),
        round(sum("v") / count(col("v")), 6).as("avg"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("saltedCountDistinct equals direct countDistinct (value-derived salt)") {
    import spark.implicits._
    // hot key with many duplicated values — the case a row-id salt would
    // double-count (same value split across buckets) and a value salt must not.
    val df = (1 to 5000).map(i => (if (i % 10 == 0) "cold" + i else "hot", (i % 97).toLong))
      .toDF("k", "v")
    val salted = graft.engine.Skew.saltedCountDistinct(df, col("k"), col("v"), salt = 8)
    val direct = df.groupBy(col("k").as("key")).agg(countDistinct(col("v")).as("n_distinct"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("bucketed tables co-locate an equi-join with no shuffle in the plan") {
    withTempDir { dir =>
      import spark.implicits._
      val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        df.write.bucketBy(8, "k").sortBy("k").option("path", s"$dir/t1").saveAsTable("graft_b1")
        df.write.bucketBy(8, "k").sortBy("k").option("path", s"$dir/t2").saveAsTable("graft_b2")
        val joined = spark.table("graft_b1").join(spark.table("graft_b2"), "k")
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
        assert(joined.count() == 1000)
      } finally {
        spark.sql("DROP TABLE IF EXISTS graft_b1")
        spark.sql("DROP TABLE IF EXISTS graft_b2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        spark.conf.set("spark.sql.adaptive.enabled", prevA)
      }
    }
  }

  test("PERMISSIVE csv scan nulls malformed fields instead of dropping the file") {
    withTempDir { dir =>
      val header = graft.engine.Schemas.salesBronze.fieldNames.mkString(",")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/bad.csv"),
        s"$header\nS1,2026-01-01T00:00:00,C,P,N,Cat,notanumber,5.0,10.0,pm,ok\n")
      val r = Sources.readBronzeCsv(spark, graft.engine.Schemas.salesBronze, s"$dir/bad.csv")
        .collect().head
      assert(r.getAs[String]("sale_id") == "S1")
      assert(r.isNullAt(r.fieldIndex("quantity"))) // malformed double → null, row kept
      assert(r.getAs[Double]("unit_price") == 5.0)
      // quarantined variant retains the raw corrupt line for audit
      val q = Sources.readBronzeCsvQuarantined(spark, graft.engine.Schemas.salesBronze, s"$dir/bad.csv")
        .collect().head
      assert(q.getAs[String]("_corrupt_record") != null)
      assert(q.getAs[String]("_corrupt_record").contains("notanumber"))
    }
  }

  test("Medallion.runOnce drains all domains and snapshots all 7 gold tables idempotently") {
    withTempDir { root =>
      import graft.engine.{Generators, Layout, Medallion, Sources => Src}
      Medallion.Domains.zipWithIndex.foreach { case (d, i) =>
        Generators.batchByDomain(d)(spark, 40, 100 + i).coalesce(1)
          .write.option("header", "true").mode("append").csv(Layout.bronzeDir(root, d))
      }
      val tables = Medallion.runOnce(spark, root)
      assert(tables.sorted == graft.engine.Gold.buildersByTable.keys.toSeq.sorted)
      val daily1 = Src.readSilver(spark, Layout.goldDir(root, "daily_sales_summary")).count()
      // second tick with no new bronze: silver unchanged, gold appends a snapshot
      Medallion.runOnce(spark, root)
      assert(Src.readSilver(spark, Layout.silverDir(root, "sales")).count() == 40)
      assert(Src.readSilver(spark, Layout.goldDir(root, "daily_sales_summary")).count() == daily1 * 2)
    }
  }

  test("Medallion.runOnce skips a domain whose bronze has not landed yet") {
    withTempDir { root =>
      import graft.engine.{Generators, Layout, Medallion}
      Generators.salesBatch(spark, 30, seed = 110).coalesce(1)
        .write.option("header", "true").mode("append").csv(Layout.bronzeDir(root, "sales"))
      val tables = Medallion.runOnce(spark, root)
      assert(tables.sorted == Seq("category_sales_summary", "daily_sales_summary",
        "payment_method_summary"))
    }
  }

  test("Medallion.runOnce skips gold for a domain whose only bronze file is header-only") {
    withTempDir { root =>
      import graft.engine.{Generators, Layout, Medallion}
      val bronze = Layout.bronzeDir(root, "sales")
      Generators.salesBatch(spark, 10, seed = 111).limit(0).coalesce(1)
        .write.option("header", "true").mode("append").csv(bronze)
      assert(Medallion.runOnce(spark, root).isEmpty)
      Generators.salesBatch(spark, 30, seed = 112).coalesce(1)
        .write.option("header", "true").mode("append").csv(bronze)
      assert(Medallion.runOnce(spark, root).sorted == Seq("category_sales_summary",
        "daily_sales_summary", "payment_method_summary"))
    }
  }

  /** Lands one generated batch per domain in bronze (seeds `seed`, `seed + 1`, …). */
  private def landAll(root: String, n: Long, seed: Long,
                      baseTs: String = "2026-01-01 00:00:00"): Unit = {
    import graft.engine.{Generators, Layout, Medallion}
    Medallion.Domains.zipWithIndex.foreach { case (d, i) =>
      val batch = d match {
        case "sales" => Generators.salesBatch(spark, n, seed + i, baseTs)
        case "customer_events" => Generators.customerEventsBatch(spark, n, seed + i, baseTs)
        case _ => Generators.inventoryBatch(spark, n, seed + i, baseTs)
      }
      batch.coalesce(1).write.option("header", "true").mode("append")
        .csv(Layout.bronzeDir(root, d))
    }
  }

  private def chainThreadsAlive: Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith("medallion-chain-") && t.isAlive)
  }

  test("Medallion.runOnce rejects duplicate domains") {
    withTempDir { root =>
      import graft.engine.Medallion
      landAll(root, 20, 140)
      val err = intercept[IllegalArgumentException](
        Medallion.runOnce(spark, root, Seq("sales", "inventory", "sales")))
      assert(err.getMessage.contains("duplicate domains"))
      assert(!new java.io.File(graft.engine.Layout.silverDir(root, "sales")).exists)
    }
  }

  test("Medallion.runOnce rethrows a failing domain's own error after the other domains publish gold") {
    withTempDir { root =>
      import graft.engine.{Layout, Medallion}
      landAll(root, 40, 150)
      // a plain file where inventory's silver directory belongs: its drain's
      // silver write fails, the other two chains are unaffected
      val blocker = new java.io.File(Layout.silverDir(root, "inventory"))
      blocker.getParentFile.mkdirs()
      java.nio.file.Files.writeString(blocker.toPath, "not a directory")
      val err = intercept[Throwable](Medallion.runOnce(spark, root))
      assert(err.isInstanceOf[org.apache.hadoop.fs.ParentNotDirectoryException],
        s"expected the drain's own error, got $err")
      assert(err.getMessage.contains("inventory"), err.getMessage)
      for (d <- Seq("sales", "customer_events"); t <- Gold.tablesOf(d))
        assert(Sources.readSilver(spark, Layout.goldDir(root, t)).count() > 0, s"$t not published")
      Gold.tablesOf("inventory").foreach(t =>
        assert(!new java.io.File(Layout.goldDir(root, t)).exists, s"$t published"))
      assert(spark.streams.active.isEmpty)
      assert(chainThreadsAlive.isEmpty)
    }
  }

  test("Medallion.runOnce runs every job with the calling thread's job group and local properties") {
    withTempDir { root =>
      import scala.jdk.CollectionConverters._
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      import graft.engine.Medallion
      // a tick before the caller sets anything: a pool kept across calls
      // would hold threads that never saw the properties set below
      assert(Medallion.runOnce(spark, root).isEmpty)
      landAll(root, 40, 160)
      val sc = spark.sparkContext
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e.properties)
      }
      def group(p: java.util.Properties) = p.getProperty("spark.jobGroup.id")
      // one job under a marker group: the listener bus delivers in order, so
      // the jobs between the two markers are exactly the tick's
      def marker(g: String): Unit = {
        sc.setJobGroup(g, g)
        spark.range(1).count()
        sc.clearJobGroup()
      }
      sc.addSparkListener(listener)
      try {
        marker("tick-start")
        sc.setJobGroup("tick-g", "medallion tick")
        sc.setLocalProperty("graft.test.caller", "tick-caller")
        try assert(Medallion.runOnce(spark, root).size == 7)
        finally {
          sc.clearJobGroup()
          sc.setLocalProperty("graft.test.caller", null)
        }
        marker("tick-end")
        eventually(timeout(60.seconds)) { assert(seen.asScala.exists(group(_) == "tick-end")) }
      } finally sc.removeSparkListener(listener)
      val tick = seen.asScala.toSeq.dropWhile(group(_) != "tick-start")
        .dropWhile(group(_) == "tick-start").takeWhile(group(_) != "tick-end")
      // no job comes from a stream (which would set its own job group, its
      // run id): drain and gold jobs alike carry the caller's job group, so
      // `cancelJobGroup("tick-g")` reaches every one of them
      assert(tick.nonEmpty)
      assert(tick.forall(_.getProperty("sql.streaming.queryId") == null))
      assert(tick.forall(_.getProperty("graft.test.caller") == "tick-caller"),
        tick.map(group).distinct)
      assert(tick.forall(group(_) == "tick-g"), tick.map(group).distinct)
      assert(chainThreadsAlive.isEmpty)
    }
  }

  test("Medallion.runOnce over two ticks with late rows: each latest gold snapshot equals its builder over the final silver") {
    withTempDir { root =>
      import graft.engine.{Layout, Medallion}
      // tick 1 spans Dec 31–Jan 1, tick 2 spans Jan 1–Jan 2: tick 2's late
      // rows land on a date tick 1 already published
      landAll(root, 60, 170, baseTs = "2026-01-01 12:00:00")
      Medallion.runOnce(spark, root)
      landAll(root, 60, 180, baseTs = "2026-01-02 00:00:00")
      assert(Medallion.runOnce(spark, root) == Medallion.Domains.flatMap(Gold.tablesOf))
      Medallion.Domains.foreach { d =>
        val perDate = Sources.readSilver(spark, Layout.silverDir(root, d))
          .groupBy(to_date(col("timestamp")).as("date"))
          .agg(countDistinct(col("processed_at")).as("drains"))
        assert(perDate.where(col("drains") >= 2).count() > 0, s"$d: no date shared by both ticks")
      }
      Gold.domainByTable.toSeq.sorted.foreach { case (table, domain) =>
        val gold = Sources.readSilver(spark, Layout.goldDir(root, table))
        val latestAt = gold.agg(max(col("generated_at"))).first().getString(0)
        val latest = gold.where(col("generated_at") === latestAt).drop("generated_at")
        val full = Gold.buildersByTable(table)(Sources.readSilver(spark, Layout.silverDir(root, domain)))
        val cols = full.columns.sorted
        val a = latest.select(cols.head, cols.tail: _*)
        val b = full.select(cols.head, cols.tail: _*)
        assert(a.count() == b.count(), s"$table row count")
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$table differs from its builder")
      }
    }
  }

  test("JSON and ORC sources round-trip the bronze/silver schemas") {
    withTempDir { dir =>
      import graft.engine.{Generators, Layout, Schemas, Silver}
      val batch = Generators.salesBatch(spark, 25, seed = 77)
      // JSONL landing → bronze read with explicit schema
      Sources.writeJson(batch, s"$dir/stage-json")
      val fromJson = Sources.readBronzeJson(spark, Schemas.salesBronze, s"$dir/stage-json")
      assert(fromJson.count() == 25)
      assert(fromJson.schema == Schemas.salesBronze)
      // silver as ORC, Hive-partitioned, partition columns discovered on read
      val silver = Layout.withDatePartitions(
        Silver.cleanSales(fromJson, org.apache.spark.sql.functions.lit("t")),
        org.apache.spark.sql.functions.col("timestamp"))
      Sources.writeSilverOrc(silver, s"$dir/silver-orc")
      val back = Sources.readSilverOrc(spark, s"$dir/silver-orc")
      assert(back.count() == silver.count())
      assert(Seq("year", "month", "day").forall(back.columns.contains))
    }
  }

  test("approxUniques tracks exact countDistinct within rsd on realistic cardinalities") {
    import spark.implicits._
    val df = (1 to 20000).map(i => (i % 977).toString).toDF("k")
    val (exact, approx) = df
      .agg(countDistinct(col("k")), Gold.approxUniques(col("k"), rsd = 0.02))
      .as[(Long, Long)].collect().head
    assert(exact == 977)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }
}
