package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Readers/writers for the medallion layers.
  *
  * Covers SURVEY.md §2.1 OP-1..OP-8: CSV sink/scan, multi-file union, Parquet
  * silver/gold sinks, recursive silver scan. Per-file read-error tolerance
  * (reference `pipeline/bronze_to_silver.py:205-209` try/except per file) maps to
  * Spark's PERMISSIVE mode + `_corrupt_record` — bad rows become one quarantine-able
  * row instead of silently dropping a whole file.
  */
object Sources {

  import org.apache.spark.sql.types.{StringType, StructField}

  /** OP-4/OP-5: scan one-or-many bronze CSVs as a single DataFrame with an explicit
    * schema. Spark's file source unions all matched files in one scan — the
    * `pd.concat` (reference `bronze_to_silver.py:214`) is free and distributed.
    * PERMISSIVE mode nulls malformed fields and keeps the row; to retain the raw
    * corrupt line for quarantine, use [[readBronzeCsvQuarantined]]. */
  def readBronzeCsv(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(paths: _*)

  /** OP-4 with quarantine: malformed rows keep their raw line in
    * `_corrupt_record`, so bad input is auditable instead of silently nulled —
    * the distributed upgrade of the reference's per-file try/except skip
    * (`bronze_to_silver.py:205-209`). */
  def readBronzeCsvQuarantined(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(StructType(schema.fields :+ StructField("_corrupt_record", StringType)))
      .csv(paths: _*)

  /** OP-1: CSV sink (generator staging, reference `sales_generator.py:119`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.option("header", "true").mode("overwrite").csv(path)

  /** OP-6: silver Parquet sink, Hive-partitioned by event date
    * (reference `local_storage.py:111-126`). Append mode = the reference's
    * "nothing is ever deleted" contract (README.md:31). */
  def writeSilver(df: DataFrame, path: String): Unit =
    df.write.mode("append").partitionBy(Layout.partitionColumns: _*).parquet(path)

  /** Idempotent PARTITION-scoped overwrite — `partitionOverwriteMode=dynamic`
    * scoped to one write: only the partitions present in `df` are replaced;
    * every other partition's files are untouched. This is the daily-rebuild
    * write discipline at scale: re-running a day's gold build replaces
    * exactly that day (idempotent under retries), instead of either
    * appending duplicates or truncating the whole table (static overwrite's
    * default). The mode is a per-write option, so the session conf — and
    * every other writer sharing the session, on any thread — is untouched. */
  def overwritePartitions(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** OP-7: recursive silver scan. Spark discovers `year=/month=/day=` partitions
    * automatically and prunes them under partition filters — unlike the reference's
    * full `rglob` re-read (`local_storage.py:129-137`). */
  def readSilver(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Schema-evolved silver scan: reconciles files written under different
    * schema versions (a column added mid-history is null-backfilled for old
    * files). `mergeSchema` unions footer schemas across files — an extra
    * footer pass at planning time, which is why it is a separate entry point
    * and not the default read: on an unevolved 100k-file table it is pure
    * overhead, and after [[compactParquet]] rewrites history under the latest
    * schema the plain [[readSilver]] suffices again. */
  def readSilverEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** OP-8: gold snapshot sink — append a full-recompute snapshot, never overwrite
    * (reference `local_storage.py:144-155`). */
  def writeGoldSnapshot(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** JSON-lines landing variant: same PERMISSIVE/explicit-schema discipline as
    * the CSV path, for upstreams that stage JSONL instead of CSV. */
  def readBronzeJson(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .json(paths: _*)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC silver variant — columnar like Parquet (same pushdown/pruning), for
    * lakes standardized on ORC. */
  def writeSilverOrc(df: DataFrame, path: String): Unit =
    df.write.mode("append").partitionBy(Layout.partitionColumns: _*).orc(path)

  def readSilverOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Generic partitioned ORC sink — the caller picks the partition GRAIN.
    * (Per-day partitioning of a KB-sized table is the small-file pathology
    * compaction exists to undo; q232's fixture partitions by month.) */
  def writeOrc(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).orc(path)

  /** OP-2: raw-file ingest — copy staged files verbatim into the bronze landing
    * dir (the reference's `shutil.copy2`, `local_storage.py:52-67`; "nothing is
    * ever deleted", README.md:31). Byte-preserving Hadoop-FS copy, so it works
    * unchanged against HDFS/S3A at scale; not a relational op. */
  def ingestRaw(spark: SparkSession, srcGlob: String, destDir: String): Seq[String] = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcGlob)
    val fs = src.getFileSystem(conf)
    val dest = new Path(destDir)
    fs.mkdirs(dest)
    Option(fs.globStatus(src)).getOrElse(Array.empty).toSeq.map { st =>
      val target = new Path(dest, st.getPath.getName)
      FileUtil.copy(fs, st.getPath, fs, target, false, conf)
      target.toString
    }
  }

  /** Compact a parquet directory's accumulated small files into
    * `ceil(totalBytes / targetFileBytes)` files (min 1). Returns the new file
    * count.
    *
    * The medallion append pattern (one file per micro-batch, OP-6/OP-8) is
    * exactly the small-files generator: after a year of 5-minute batches a
    * silver domain holds ~100k files, and at 100 TB the scan's task count,
    * file-listing latency, and footer reads are dominated by file count, not
    * bytes. Periodic compaction is the standing fix. Rewrite goes to a
    * sibling temp dir first, then two renames swap it in (rename is atomic on
    * HDFS/posix; on object stores run compaction in the maintenance window
    * the reference's DAG already has). The old data is kept at
    * `<dir>.pre-compact` until the caller confirms and deletes — same
    * "nothing is deleted implicitly" posture as bronze. */
  def compactParquet(spark: SparkSession, dir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024,
                     partitionBy: Seq[String] = Nil): Int = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    val totalBytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = new Path(dir + ".compacting")
    val backup = new Path(dir + ".pre-compact")
    fs.delete(tmp, true)
    // mergeSchema: a compaction must never lose a column that only newer
    // files carry (see readSilverEvolved) — the rewrite normalizes history
    // to the unioned schema. The extra footer pass is noise on a
    // maintenance-window operation.
    //
    // For a Hive-partitioned table (silver's year=/month=/day=), pass the
    // partition columns: omitting them would rewrite the tree flat, turning
    // directory-pruned reads into full scans. The shuffle must hash on the
    // PARTITION columns then — a round-robin repartition(n) would put every
    // directory's rows in every task, so each task writes one file into
    // every directory: n × nDirs files, i.e. a compaction that multiplies
    // the small-file count. Hashing on the partition columns concentrates
    // each directory in one task (~1 file per directory; a directory larger
    // than the target stays one file — split such a partition's key upstream
    // if that matters).
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    val base =
      if (partitionBy.nonEmpty) merged.repartition(nFiles, partitionBy.map(c => col(c)): _*)
      else merged.repartition(nFiles)
    val writer = base.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(tmp.toString)
    fs.delete(backup, true)
    require(fs.rename(path, backup), s"compact: could not move $dir aside")
    require(fs.rename(tmp, path), s"compact: could not swap in $tmp")
    nFiles
  }
}
