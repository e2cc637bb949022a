package graft.engine

import org.apache.spark.sql.SparkSession

/** Whole-pipeline orchestration (SURVEY.md §2.5, OP-35/36): the reference's
  * `bronze_to_silver >> silver_to_gold` Airflow DAG
  * (`dags/data_lake_pipeline.py:107-149`) as one idempotent call per tick.
  *
  * Stage ordering is strict (gold reads what this drain wrote); domains are
  * independent and could run concurrently — kept sequential here because in
  * local mode they'd contend for the same cores anyway, and on a cluster the
  * scheduler overlaps stages of the per-domain jobs regardless.
  */
object Medallion {

  val Domains: Seq[String] = Seq("sales", "customer_events", "inventory")

  /** One pipeline tick: drain all unprocessed bronze per domain into silver
    * (checkpointed, exactly-once), then append a fresh gold snapshot per domain.
    * Returns gold table names written. Re-running without new bronze files
    * appends identical gold snapshots and re-drains nothing — the reference's
    * idempotence contract. A domain with no silver row yet (no bronze file
    * landed, or only header-only ones) is skipped, like the reference's
    * empty-frame guard (silver_to_gold.py:38-41). */
  def runOnce(spark: SparkSession, root: String,
              domains: Seq[String] = Domains): Seq[String] = {
    domains.foreach { d =>
      val bronzePath = Layout.bronzeDir(root, d)
      if (exists(spark, bronzePath))
        Incremental.drainBronzeToSilver(spark, d,
          bronzePath, Layout.silverDir(root, d), Layout.checkpointDir(root, d))
    }
    domains.flatMap { d =>
      val silverPath = Layout.silverDir(root, d)
      if (hasDataFile(spark, silverPath)) Incremental.snapshotGold(spark, d, silverPath, root)
      else Seq.empty
    }
  }

  /** Hadoop-FS existence check (a local java.io.File test would silently skip
    * domains on HDFS/S3A roots). */
  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether `dir` holds any data file: a drain of header-only bronze files
    * commits a silver directory holding just its `_SUCCESS` marker, which a
    * schema-inferring read rejects. Stops at the first data file. */
  private def hasDataFile(spark: SparkSession, dir: String): Boolean =
    exists(spark, dir) && {
      val p = new org.apache.hadoop.fs.Path(dir)
      val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      var found = false
      while (!found && files.hasNext) {
        val name = files.next().getPath.getName
        found = !name.startsWith("_") && !name.startsWith(".")
      }
      found
    }
}
