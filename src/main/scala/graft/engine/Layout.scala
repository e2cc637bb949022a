package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst
import org.apache.spark.sql.functions._

/** Medallion directory layout + Hive-style date partitioning.
  *
  * Mirrors the reference layout (reference `storage/local_storage.py:6-10,33-41`):
  * {{{
  *   <root>/bronze/<domain>/year=YYYY/month=MM/day=DD/<file>.csv
  *   <root>/silver/<domain>/year=YYYY/month=MM/day=DD/<file>.parquet
  *   <root>/gold/<table>/<snapshot>.parquet
  * }}}
  *
  * Where the reference builds partition paths by hand (`_hive_path`,
  * `local_storage.py:33-41`) and then *ignores* them on read (`rglob`,
  * `local_storage.py:96,134`), we emit real partition columns through
  * `DataFrameWriter.partitionBy` so Spark's file index prunes directories on every
  * partition-filtered read — the difference between scanning 100 TB of history and
  * scanning one day of it.
  */
object Layout {

  def bronzeDir(root: String, domain: String): String = s"$root/bronze/$domain"
  def silverDir(root: String, domain: String): String = s"$root/silver/$domain"
  def goldDir(root: String, table: String): String = s"$root/gold/$table"
  def checkpointDir(root: String, domain: String): String = s"$root/.state/$domain"

  /** Whether `dir` holds a data file at any depth: false for a missing
    * directory, and `_`- and `.`-prefixed names (`_SUCCESS`, checksums,
    * `_temporary`) are skipped, as Spark's own file listing skips them. Stops
    * at the first data file. A Hadoop-FS listing, so it answers for HDFS/S3A
    * roots too. */
  def hasDataFile(spark: SparkSession, dir: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def holds(d: Path): Boolean = fs.listStatus(d).exists { s =>
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".") && (s.isFile || holds(s.getPath))
    }
    fs.exists(p) && holds(p)
  }

  val partitionColumns: Seq[String] = Seq("year", "month", "day")

  /** Append year/month/day partition columns derived from `ts`.
    *
    * The reference partitions by *ingest wall-clock* date (`local_storage.py:60,114`);
    * we default to the event timestamp so that reprocessing is deterministic and
    * event-time queries prune. Pass `current_timestamp()` for strict ingest-time parity.
    */
  def withDatePartitions(df: DataFrame, ts: Column): DataFrame =
    df.withColumn("year", year(ts))
      .withColumn("month", month(ts))
      .withColumn("day", dayofmonth(ts))

  /** Partition-SPEC evolution without rewrite (the Iceberg capability:
    * spec changes apply to NEW data only; historical files keep their
    * layout forever — Apache Iceberg spec, "Partition Evolution").
    *
    * Rows dated before `cutover` stay in the original month=YYYY-MM layout
    * under `root/spec=month`; rows at/after it land in the evolved
    * year=YYYY layout under `root/spec=year`. Each row also CARRIES its
    * `d` (yyyy-MM-dd) data column, so readers can filter exactly at row
    * level while each spec subtree prunes at ITS OWN grain — the reader
    * derives both partition predicates from one logical range
    * ([[readDateSpecEvolution]]), which is the whole point: a spec change
    * must not cost either a historical rewrite or historical pruning.
    *
    * Fixture-grain rule (PERF.md): one file per partition directory via
    * `repartition(partitionCol)` — partition count here is months/years,
    * never rows. */
  def writeDateSpecEvolution(df: DataFrame, date: Column, cutover: String,
                             root: String): Unit = {
    val d = df.withColumn("d", date_format(date, "yyyy-MM-dd"))
    d.filter(col("d") < cutover)
      .withColumn("month", substring(col("d"), 1, 7))
      .repartition(col("month"))
      .write.partitionBy("month").mode("overwrite").parquet(s"$root/spec=month")
    d.filter(col("d") >= cutover)
      .withColumn("year", substring(col("d"), 1, 4))
      .repartition(col("year"))
      .write.partitionBy("year").mode("overwrite").parquet(s"$root/spec=year")
  }

  /** Read `[from, to]` (inclusive yyyy-MM-dd bounds) across both specs:
    * each subtree gets a partition predicate AT ITS GRAIN (month between
    * the range's months; year between the range's years — both safely
    * over-approximate), then the exact row filter on the carried `d`
    * column; partition columns are dropped before the union so the two
    * specs re-unify into one logical schema. Callers wanting proof should
    * assert `PartitionFilters` on both scans (q246 REQUIREs it).
    *
    * A subtree with NO data file (all the data fell on one side of the
    * cutover — [[writeDateSpecEvolution]] still leaves a `_SUCCESS`-only
    * directory there) contributes zero rows instead of the
    * schema-inference error a bare `spark.read.parquet` raises on an
    * empty directory; at least one subtree must hold data. */
  def readDateSpecEvolution(spark: SparkSession, root: String,
                            from: String, to: String): DataFrame = {
    val mHas = hasDataFile(spark, s"$root/spec=month")
    val yHas = hasDataFile(spark, s"$root/spec=year")
    require(mHas || yHas,
      s"readDateSpecEvolution: no data under $root/spec=month or $root/spec=year")
    val m = if (mHas) Some(spark.read.parquet(s"$root/spec=month")
      .where(col("month") >= from.substring(0, 7)
        && col("month") <= to.substring(0, 7))
      .drop("month")) else None
    val y = if (yHas) Some(spark.read.parquet(s"$root/spec=year")
      .where(col("year") >= from.substring(0, 4)
        && col("year") <= to.substring(0, 4))
      .drop("year")) else None
    val u = (m, y) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None)    => a
      case (None, b)          => b.get
    }
    u.where(col("d") >= from && col("d") <= to)
  }

  /** Bits per dimension of the z-order key: 16 bits × 2 dims = a 32-bit key. */
  val ZorderBits = 16

  /** Morton (z-order) key over two numeric columns, each min-max scaled to
    * 16 bits and bit-interleaved. Pure shift/and/add expressions — codegen'd,
    * no UDF. `xMin`/`xMax`/`yMin`/`yMax` are the columns' global bounds
    * (one cheap agg pass; 4 scalars of driver traffic at any table size). */
  def zorderKey(x: Column, y: Column,
                xMin: Double, xMax: Double, yMin: Double, yMax: Double): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(zorderKeyExpr(
      Bridge.expression(x), Bridge.expression(y), xMin, xMax, yMin, yMax))
  }

  /** Catalyst form of [[zorderKey]] — the single source of truth; the Column
    * API above and the `graft_zorder_key` SQL function both delegate here.
    * Built from resolved catalyst nodes (not the Column DSL) so it is usable
    * from `FunctionRegistry` injection, where Column-DSL trees would carry
    * unresolvable ColumnNode wrappers. */
  def zorderKeyExpr(x: catalyst.expressions.Expression, y: catalyst.expressions.Expression,
                    xMin: Double, xMax: Double, yMin: Double, yMax: Double)
      : catalyst.expressions.Expression =
    zorderKeyNExpr(Seq(x, y), Seq((xMin, xMax), (yMin, yMax)), ZorderBits)

  /** N-dimensional Morton key: each column min-max scaled to `bits` bits,
    * bits interleaved round-robin (dimension d contributes bit i at key
    * position `n·i + d` — for n = 2 this is exactly the classic x-even /
    * y-odd interleave, so the 2-dim API is bit-identical to its original
    * form). LATER-listed columns occupy higher key significance and cluster
    * tighter per file — list columns in ascending order of how selective
    * their predicates are. `bits · n` must fit a signed long. More
    * dimensions at fixed key width means fewer bits each and weaker
    * per-dimension clustering — the standard z-order trade; 2–4 selective
    * columns is the practical sweet spot at any scale. */
  def zorderKeyNExpr(es: Seq[catalyst.expressions.Expression],
                     bounds: Seq[(Double, Double)], bits: Int)
      : catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    require(es.nonEmpty && es.length == bounds.length,
      s"zorderKeyN: ${es.length} columns vs ${bounds.length} bounds")
    require(bits > 0 && bits * es.length <= 63,
      s"zorderKeyN: $bits bits × ${es.length} dims must fit a signed long")
    val mask = (1L << bits) - 1
    def scaled(e: Expression, lo: Double, hi: Double): Expression = {
      val span = math.max(hi - lo, java.lang.Double.MIN_VALUE)
      BitwiseAnd(
        Cast(new Round(Multiply(Subtract(Cast(e, DoubleType), Literal(lo)),
          Literal(mask.toDouble / span))), LongType),
        Literal(mask))
    }
    val scaledEs = es.zip(bounds).map { case (e, (lo, hi)) => scaled(e, lo, hi) }
    val n = es.length
    (0 until bits).foldLeft(Literal(0L): Expression) { (acc, i) =>
      scaledEs.zipWithIndex.foldLeft(acc) { case (a, (se, d)) =>
        Add(a, ShiftLeft(BitwiseAnd(ShiftRight(se, Literal(i)), Literal(1L)),
          Literal(n * i + d)))
      }
    }
  }

  /** Cluster `df` along the z-order curve of two numeric columns: range-
    * partition by the interleaved key, sort within partitions, drop the key.
    *
    * Linear sort on one column gives perfect min/max file pruning on that
    * column and none on any other; the z-order curve bounds BOTH columns'
    * span per file (≈ range/√nFiles each for 2 dims), so parquet min/max
    * stats skip files for predicates on either column or both. This is the
    * standing layout fix for the second-predicate scan at 100 TB: date
    * partitioning handles time, z-ordering handles the next two selective
    * dimensions. The span guarantee is asserted quantitatively in
    * EngineExtraSpec; correctness of the round trip is q56's oracle check.
    *
    * `repartitionByRange` samples the key distribution, so skew in the raw
    * values (which min-max scaling preserves) still yields balanced files. */
  def zorderBy(df: DataFrame, xCol: String, yCol: String, numFiles: Int): DataFrame =
    zorderByN(df, Seq(xCol, yCol), numFiles)

  /** [[zorderBy]] over N columns — bits per dimension shrink automatically
    * (`min(16, 63/n)`) so the key always fits a long. */
  def zorderByN(df: DataFrame, cols: Seq[String], numFiles: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    require(cols.nonEmpty, "zorderByN: need at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    require(!b.anyNull, s"zorderByN: ${cols.mkString(",")} have no non-null values")
    val bounds = cols.indices.map(i => (b.getDouble(2 * i), b.getDouble(2 * i + 1)))
    val bits = math.min(ZorderBits, 63 / cols.length)
    val key = Bridge.column(zorderKeyNExpr(
      cols.map(c => Bridge.expression(col(c))), bounds, bits))
    df.withColumn("_zkey", key)
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
  }

  /** Bin-packing small-file compaction — the OPTIMIZE analog for a landing
    * zone that accretes tiny files (the reference's generators write 10-row
    * CSVs; [[Incremental]]'s scale note names this the real 100 TB
    * bottleneck: the drain ledger and every scan's task count are
    * O(files)). Rewrites `srcDir`'s parquet into
    * `ceil(bytes / targetFileBytes)` files at `destDir` and returns that
    * count.
    *
    * Plan shape: `coalesce`, not `repartition` — merging many small files
    * into few big ones is a NARROW dependency (no shuffle; each output task
    * reads a run of input files). The trade: coalesce inherits any
    * input-file skew into the merged files, which is exactly acceptable for
    * compaction (the goal is fewer files, not perfect balance); use
    * [[zorderByN]] when the rewrite should also cluster. Content must be
    * byte-identical in aggregate — compaction may only relocate rows — and
    * the write goes to a NEW directory so a crash mid-compact leaves the
    * source untouched (swap is the caller's rename). */
  def compact(spark: SparkSession, srcDir: String, destDir: String,
              targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "compact: targetFileBytes must be positive")
    import org.apache.hadoop.fs.Path
    val path = new Path(srcDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(srcDir).coalesce(n)
      .write.mode("overwrite").parquet(destDir)
    n
  }
}
