package graft

import graft.engine.{Generators, Gold, Incremental, Layout, Sources}

/** Incremental medallion layer (OP-9/35/36): streaming AvailableNow drain with
  * checkpointed exactly-once file processing, end to end. */
class IncrementalSpec extends SparkSpec {

  test("drainBronzeToSilver processes each bronze file exactly once across drains") {
    withTempDir { root =>
      val bronze = Layout.bronzeDir(root, "sales")
      val silver = Layout.silverDir(root, "sales")
      val ckpt = Layout.checkpointDir(root, "sales")

      Generators.salesBatch(spark, 50, seed = 1).coalesce(1)
        .write.option("header", "true").mode("append").csv(bronze)
      Incremental.drainBronzeToSilver(spark, "sales", bronze, silver, ckpt)
      val afterFirst = Sources.readSilver(spark, silver).count()
      assert(afterFirst == 50)

      // re-drain with no new files → no reprocessing (the reference's ledger
      // semantics, local_storage.py:90-97)
      Incremental.drainBronzeToSilver(spark, "sales", bronze, silver, ckpt)
      assert(Sources.readSilver(spark, silver).count() == afterFirst)

      // new file lands → only it is processed
      Generators.salesBatch(spark, 30, seed = 2).coalesce(1)
        .write.option("header", "true").mode("append").csv(bronze)
      Incremental.drainBronzeToSilver(spark, "sales", bronze, silver, ckpt)
      assert(Sources.readSilver(spark, silver).count() == 80)
    }
  }

  test("streamingUpsert merges each drained batch into versioned state exactly once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    withTempDir { root =>
      val in = s"$root/updates"; val state = s"$root/state"; val ckpt = s"$root/ckpt"
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))
      def drain(): Unit = Incremental.streamingUpsert(spark,
        spark.readStream.schema(schema).parquet(in), Seq("k"), state, ckpt)

      // wave 1: initial keys
      Seq((1L, "a1"), (2L, "b1")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(in)
      drain()
      val s1 = Incremental.latestUpsertState(spark, state).get
      assert(s1.as[(Long, String)].collect().toSet == Set((1L, "a1"), (2L, "b1")))

      // no new files → no new snapshot version
      val versionsBefore = new java.io.File(state).listFiles().count(_.getName.startsWith("v="))
      drain()
      assert(new java.io.File(state).listFiles().count(_.getName.startsWith("v=")) == versionsBefore)

      // wave 2: update one key, insert another — update wins, untouched kept
      Seq((2L, "b2"), (3L, "c1")).toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(in)
      drain()
      val s2 = Incremental.latestUpsertState(spark, state).get
      assert(s2.as[(Long, String)].collect().toSet ==
        Set((1L, "a1"), (2L, "b2"), (3L, "c1")))
    }
  }

  test("silver output is Hive-partitioned and round-trips through gold builders") {
    withTempDir { root =>
      val bronze = Layout.bronzeDir(root, "sales")
      val silver = Layout.silverDir(root, "sales")
      Generators.salesBatch(spark, 40, seed = 3).coalesce(1)
        .write.option("header", "true").mode("append").csv(bronze)
      Incremental.drainBronzeToSilver(spark, "sales", bronze, silver,
        Layout.checkpointDir(root, "sales"))

      val silverDf = Sources.readSilver(spark, silver)
      assert(Seq("year", "month", "day").forall(silverDf.columns.contains))
      // partition dirs exist on disk
      val dirs = new java.io.File(silver).listFiles().filter(_.isDirectory).map(_.getName)
      assert(dirs.exists(_.startsWith("year=")))

      val tables = Incremental.snapshotGold(spark, "sales", silver, root + "/gold-root")
      assert(tables.size == 3)
      val daily = Sources.readSilver(spark, Layout.goldDir(root + "/gold-root", "daily_sales_summary"))
      assert(daily.count() > 0)
      assert(daily.columns.contains("generated_at"))
    }
  }

  test("incrementalGoldDomain maintains all 7 gold tables across 3 domains, 2 ticks, ≡ batch builders") {
    withTempDir { root =>
      val domains = Seq("sales", "customer_events", "inventory")
      def silverOf(d: String) = Layout.silverDir(root, d)
      // Each tick: one generator batch per domain (day advances per tick so
      // tick 2 touches BOTH a fresh date and dates tick 1 already built —
      // real dynamic-partition overwrite, not append), drained bronze→silver,
      // then ONE incrementalGoldDomain drain per domain maintains every gold
      // table of that domain.
      def tick(t: Int): Unit = domains.foreach { d =>
        val base = s"2026-01-0$t 00:00:00"
        val batch = d match {
          case "sales" => Generators.salesBatch(spark, 80, 700 + t, baseTs = base)
          case "customer_events" => Generators.customerEventsBatch(spark, 80, 800 + t, baseTs = base)
          case _ => Generators.inventoryBatch(spark, 80, 900 + t, baseTs = base)
        }
        batch.coalesce(1)
          .write.option("header", "true").mode("append").csv(Layout.bronzeDir(root, d))
        Incremental.drainBronzeToSilver(spark, d, Layout.bronzeDir(root, d),
          silverOf(d), Layout.checkpointDir(root, d))
        val maintained = Incremental.incrementalGoldDomain(spark, d,
          silverOf(d), s"$root/gold", s"$root/.state/gold_all_$d")
        assert(maintained == graft.engine.Gold.domainByTable
          .collect { case (tab, dom) if dom == d => tab }.toSeq.sorted)
      }
      tick(1); tick(2)
      // every one of the 7 tables must equal its batch builder on full silver
      graft.engine.Gold.domainByTable.toSeq.sorted.foreach { case (table, domain) =>
        val incremental = Sources.readSilver(spark, Layout.goldDir(s"$root/gold", table))
        val full = graft.engine.Gold.buildersByTable(table)(
          Sources.readSilver(spark, silverOf(domain)))
        val cols = full.columns.sorted
        val inc = incremental.select(cols.head, cols.tail: _*)
        val ful = full.select(cols.head, cols.tail: _*)
        assert(inc.count() == ful.count(), s"$table row count drifted")
        assert(inc.exceptAll(ful).isEmpty && ful.exceptAll(inc).isEmpty,
          s"$table content differs from the batch builder")
      }
    }
  }

  test("generator batches are deterministic per seed and inject expected defects") {
    val a = Generators.salesBatch(spark, 300, seed = 7).collect()
    val b = Generators.salesBatch(spark, 300, seed = 7).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))

    val nullQty = a.count(_.isNullAt(a.head.fieldIndex("quantity")))
    assert(nullQty > 0 && nullQty < 30) // ~3%
    val dup = Generators.salesBatch(spark, 100, seed = 8, injectDuplicate = true)
    assert(dup.count() == 101)
    assert(dup.dropDuplicates("sale_id").count() == 100)

    val ev = Generators.customerEventsBatch(spark, 300, seed = 9).collect()
    val unknown = ev.count(_.getAs[String]("event_type") == "UNKNOWN")
    assert(unknown > 0 && unknown < 30) // ~4%

    val inv = Generators.inventoryBatch(spark, 300, seed = 10).collect()
    val transfer = inv.count(_.getAs[String]("movement_type") == "TRANSFER")
    assert(transfer > 0 && transfer < 30) // ~4%
  }
}
