package graft.engine

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental bronze→silver→gold processing (SURVEY.md §2.1 OP-9, §2.5 OP-35/36).
  *
  * The drain's ledger is the reference's: a list of processed bronze paths
  * (`storage/local_storage.py:74-104`, `.state/<domain>_processed.json`) diffed
  * against a listing of bronze (`dags/data_lake_pipeline.py:107-149`), kept as one
  * file per drain that is claimed and published with the versioned store's helpers
  * below ([[claimExclusive]], [[publishByRename]]). The reference writes silver and
  * then its ledger as two unguarded steps (`bronze_to_silver.py:216-217`, SURVEY.md
  * §3.2); after a crash between the silver write and the publish, the domain's
  * next drain stops loudly at the leftover claim instead of re-appending the batch.
  *
  * A drain is the reference's "drain everything new, then stop" 30-minute batch,
  * and it applies the batch cleaner to what it drains: dedup is scoped to one
  * drain (`pd.concat` of that run's files, `bronze_to_silver.py:214`), not global
  * history.
  *
  * Scale: the ledger is O(files) on the driver and is rewritten by every drain —
  * at 100 TB keep bronze files large (the generators' 10-row CSVs would be the
  * real bottleneck; compact at the landing zone).
  */
object Incremental {

  /** Drain all unprocessed bronze CSVs for one domain into silver parquet, once.
    * Re-running is a no-op until new files land — the reference's
    * `get_unprocessed_bronze_files` contract (`local_storage.py:90-97`).
    *
    * `checkpointDir` holds the ledger: `drain-<n>` lists every bronze file
    * drains 0..n drained, one path per line. A drain reads the latest entry n
    * and subtracts it from a listing of bronze (Spark's file index, which
    * skips `_`- and `.`-prefixed names); with no new file it stops there,
    * before any claim or job. Otherwise it claims n+1 (`drain-<n+1>._claim`),
    * appends the new files' clean rows to silver, publishes `drain-<n+1>`, and
    * deletes the older entries and claims. A second drain of the domain loses
    * at the claim with `ConcurrentModificationException` before it writes; so
    * does every drain after one that failed between its claim and its
    * publish, since silver may already hold that batch. */
  def drainBronzeToSilver(spark: SparkSession, domain: String,
                          bronzeDir: String, silverDir: String,
                          checkpointDir: String): Unit = {
    val state = new Path(checkpointDir)
    val fs = fsOf(spark, state)
    val names = if (fs.exists(state)) fs.listStatus(state).toSeq.map(_.getPath.getName) else Nil
    val last = names.collect { case LedgerEntry(n) => n.toLong }.maxOption
    if (last.isEmpty && names.contains("offsets"))
      throw new IllegalStateException(s"drainBronzeToSilver: $checkpointDir holds a " +
        "streaming checkpoint and no drain ledger; draining would re-append every bronze file")
    val drained = last.fold(Set.empty[String])(n =>
      readUtf8(fs, new Path(state, s"drain-$n")).linesIterator.filter(_.nonEmpty).toSet)
    val bronze = spark.read.schema(Schemas.bronzeByDomain(domain)).option("header", "true")
    val fresh = bronze.csv(bronzeDir).inputFiles.filterNot(drained).sorted
    if (fresh.nonEmpty) {
      val next = last.fold(0L)(_ + 1)
      val entry = new Path(state, s"drain-$next")
      claimExclusive(fs, new Path(state, s"drain-$next._claim"), entry,
        s"drainBronzeToSilver: drain $next of $checkpointDir")
      val batch = bronze.option("basePath", bronzeDir)
        .csv(fresh.map(f => new Path(new java.net.URI(f)).toString): _*)
      val silver = Layout.withDatePartitions(Silver.cleanerByDomain(domain)(batch), col("timestamp"))
      Sources.writeSilver(silver, silverDir)
      publishByRename(fs, entry, (drained.toSeq ++ fresh).sorted.mkString("", "\n", "\n"))
      names.foreach {
        case n @ LedgerFile(v) if v.toLong < next => fs.delete(new Path(state, n), false)
        case _ =>
      }
    }
  }

  /** A published ledger entry, and any ledger file (an entry or its claim). */
  private val LedgerEntry = "drain-(\\d+)".r
  private val LedgerFile = "drain-(\\d+)(?:\\._claim)?".r

  /** Event-time windowed aggregation with a watermark — the Structured Streaming
    * shape the reference's file-grain incremental model lacks (SURVEY.md §2.6:
    * no event-time windows; late data is only picked up because gold recomputes
    * all history). With a watermark the same rollup runs incrementally with
    * bounded state: windows older than the watermark are finalized and dropped.
    * Works identically over a batch DataFrame (watermark is a no-op there). */
  def windowedCounts(events: DataFrame, ts: Column, key: Column,
                     windowDuration: String, watermarkDelay: String,
                     valueCol: Column): DataFrame =
    events
      .withColumn("__ts", ts)
      .withWatermark("__ts", watermarkDelay)
      .groupBy(window(col("__ts"), windowDuration), key)
      .agg(count(lit(1)).as("n"), round(sum(valueCol), 2).as("total_value"))

  /** Event-time SESSION windows on a stream — variable-length windows that
    * extend while events keep arriving within `gap` of the session's end and
    * close at the first gap ≥ `gap`. The native Structured Streaming
    * primitive (`session_window`), NOT a batch window shoehorned into
    * micro-batches: the state store merges overlapping per-batch sessions
    * across triggers and the watermark bounds state (closed sessions older
    * than the horizon evict).
    *
    * Value sums in integer cents — per-session sums must replay bit-for-bit
    * against the batch oracle regardless of merge order. Output per session:
    * `(key, session_window(start,end), n, value_cents)`; `end` is the last
    * event + gap (Spark's convention — the moment the session would have
    * closed).
    *
    * Scale: state ∝ OPEN sessions per key-horizon, not stream lifetime; one
    * shuffle on the session key. Gap semantics: extension is INCLUSIVE — an
    * event landing exactly `gap` after the previous one still extends the
    * session (`ts <= prev_end` merges; verified in Round9cSpec) — so a batch
    * replay must mirror it as `new_session := gap_us > gapMicros`, strictly
    * greater. */
  def sessionAggregate(events: DataFrame, ts: Column, key: Column,
                       gap: String, watermarkDelay: String,
                       valueCents: Column): DataFrame =
    events
      .withColumn("__ts", ts)
      .withWatermark("__ts", watermarkDelay)
      .groupBy(key, session_window(col("__ts"), gap))
      .agg(count(lit(1)).as("n"), sum(valueCents).as("value_cents"))

  /** Streaming exact dedup with BOUNDED state: first arrival per key is
    * emitted, replays within the watermark horizon are dropped, and the state
    * store evicts keys older than the watermark — so state is ∝ keys seen per
    * horizon, not per stream lifetime. The standard defense against at-least-
    * once upstream delivery (a replayed file, a redelivered Kafka batch),
    * where an unbounded `dropDuplicates` would grow state forever.
    *
    * The horizon is the correctness/memory dial: a key replayed AFTER
    * `watermarkDelay` has passed its event time re-emits (its state was
    * evicted). Size it to the upstream's maximum redelivery lag. `eventTime`
    * must already be a timestamp column on `stream`.
    *
    * Scale: one shuffle on the dedup keys into the keyed state store; no
    * output amplification (it's a filter, not an aggregation — append mode,
    * rows emit immediately). Works identically over a batch frame, where it
    * degrades to plain `dropDuplicates` semantics. */
  def streamingDedup(stream: DataFrame, keys: Seq[String], eventTime: String,
                     watermarkDelay: String): DataFrame =
    stream
      .withWatermark(eventTime, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Incremental gold for ALL gold tables of one domain in a single drain: the
    * scale-path replacement for the reference's full-history recompute
    * (`silver_to_gold.py:219-235`, O(history) per run and growing without
    * bound).
    *
    * Streams silver appends; per micro-batch the touched event dates
    * (year, month, day) are computed ONCE, the partition-pruned silver
    * re-read (the filter is on the partition columns, so untouched
    * directories are never scanned) is computed once and cached, and every
    * gold table of the domain rebuilds and dynamically overwrites just its
    * touched date partitions from that shared frame
    * ([[Sources.overwritePartitions]]). Cost per tick: O(touched partitions)
    * + one builder aggregation per table over the pruned rows — never
    * O(history). Each table's content stays bit-identical to its batch
    * builder on the full silver (asserted in IncrementalSpec across multiple
    * ticks), because every touched date is rebuilt from ALL of its silver
    * rows, not merged incrementally (no drift, crash-safe via the checkpoint
    * + dynamic-overwrite atomic partition swap).
    *
    * Returns the table names maintained, sorted. */
  def incrementalGoldDomain(spark: SparkSession, domain: String,
                            silverDir: String, goldRoot: String,
                            checkpointDir: String): Seq[String] = {
    val tables = Gold.tablesOf(domain)
    val query = spark.readStream
      .schema(Schemas.silverOnDiskFor(domain))
      .parquet(silverDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val touched = batch.filter(col("is_valid"))
          .select(col("year"), col("month"), col("day")).distinct().collect()
        if (touched.nonEmpty) {
          val prune = touched.map { r =>
            col("year") === r.getInt(0) && col("month") === r.getInt(1) && col("day") === r.getInt(2)
          }.reduce(_ || _)
          val silverTouched = spark.read.schema(Schemas.silverOnDiskFor(domain))
            .parquet(silverDir).filter(prune).cache()
          try tables.foreach { table =>
            Sources.overwritePartitions(Gold.buildersByTable(table)(silverTouched),
              Layout.goldDir(goldRoot, table), "date")
          } finally silverTouched.unpersist(blocking = false)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    tables
  }

  /** Silver→gold full-recompute snapshot for every gold table of one domain
    * (reference `silver_to_gold.py:219-235`). The valid+dated base is cached once
    * and fanned out to the domain's 2-3 gold tables (the reference recomputes the
    * filter per table from an in-memory frame; at scale the shared scan dominates). */
  def snapshotGold(spark: SparkSession, domain: String,
                   silverDir: String, goldRoot: String): Seq[String] = {
    val silver = spark.read.schema(Schemas.silverOnDiskFor(domain)).parquet(silverDir)
    val base = Gold.withValidDated(silver).cache()
    try {
      val tables = Gold.tablesOf(domain)
      tables.foreach { table =>
        val gold = Gold.withGeneratedAt(Gold.buildersByTable(table)(base))
        Sources.writeGoldSnapshot(gold, Layout.goldDir(goldRoot, table))
      }
      tables
    } finally base.unpersist()
  }

  /** Streaming MERGE: drain a stream of keyed updates and upsert each
    * micro-batch into a parquet-backed state table via [[Merge.upsert]].
    *
    * Exactly-once without a transaction log: every batch writes the merged
    * state as a NEW snapshot directory named by the micro-batch id
    * (`v=<batchId>`), and [[latestUpsertState]] reads the highest complete
    * version. A retried batch re-runs with the SAME id and overwrites its own
    * directory — idempotent — while the checkpoint guarantees each input file
    * feeds exactly one batch id. This is the standard `foreachBatch` MERGE
    * recipe; on a table format with a log (Delta/Iceberg) the snapshot dir
    * becomes a real MERGE INTO and the idempotence key is `txnVersion`.
    *
    * Scale: each batch costs one key-shuffle join of state × batch (broadcast
    * the batch side when small) plus a full state rewrite — the no-log price;
    * partition the state table and rewrite only touched partitions (as
    * [[incrementalGoldDomain]] does) once state outgrows a single rewrite. */
  def streamingUpsert(spark: SparkSession, updates: DataFrame, keys: Seq[String],
                      stateDir: String, checkpointDir: String): Unit = {
    val query = updates.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // Merge against the latest snapshot STRICTLY BEFORE this batch id:
          // a batch retried after a crash-between-write-and-commit would
          // otherwise read its own (possibly partial) v=<batchId> output —
          // either failing on overwrite-what-you-read or merging against
          // truncated state. Reading < batchId makes the retry a clean redo.
          val merged = latestUpsertStateBefore(spark, stateDir, batchId) match {
            case Some(cur) => Merge.upsert(cur, batch, keys).drop("merge_action")
            case None => batch
          }
          commitVersion(merged, stateDir, batchId)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** Streaming incremental view maintenance: keep a
    * `groupBy(groupCol).agg(count AS nCol, sum AS sumCol)` gold table current
    * against a STREAM of CDC changesets ([[Cdc.snapshotDiff]] rows:
    * `change_type` + `old_`/`new_` images) without ever re-reading the base
    * table — each micro-batch applies [[Cdc.applyDeltaToSums]] to the
    * previous gold version and commits the result as `v=<batchId>`.
    *
    * Same exactly-once discipline as [[streamingUpsert]]: the batch merges
    * against the latest version STRICTLY BEFORE its own id, so a retried
    * batch is a clean redo instead of double-applying its delta. Because the
    * deltas telescope (−old₁+new₁ −old₂+new₂ … nets to −old₁+newₙ), a batch
    * that lumps several pending changesets still lands on the same gold.
    * Seed the one-time full gold build BELOW the stream's first batch id
    * (batch ids start at 0, so `v=-1`); with no seed, maintenance starts
    * from an empty gold and the first changeset's inserts build it.
    *
    * Scale: per-batch cost ∝ |changeset| + |groups| — the 100 TB base is
    * touched ZERO times after the initial gold build. This is the streaming
    * shape of incremental view maintenance: a day of 0.1% churn costs ~0.1%
    * of the recompute, not 100%. */
  def streamingAggMaintenance(spark: SparkSession, changes: DataFrame,
                              groupCol: String, valueCol: String,
                              nCol: String, sumCol: String,
                              goldDir: String, checkpointDir: String): Unit = {
    val query = changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          import org.apache.spark.sql.functions._
          val prev = latestUpsertStateBefore(spark, goldDir, batchId)
            .getOrElse(batch
              .select(col(s"new_$groupCol").as(groupCol))
              .limit(0)
              .withColumn(nCol, lit(0L))
              .withColumn(sumCol, lit(0L)))
          commitVersion(
            Cdc.applyDeltaToSums(prev, batch, groupCol, valueCol, nCol, sumCol),
            goldDir, batchId)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** Name of the per-version commit manifest — the versioned store's
    * one-file transaction log entry (see [[commitVersion]]). */
  val CommitManifest = "_graft_commit.json"

  /** Write `df` as version `v` of a versioned store and COMMIT it atomically:
    * data files first, then a `_graft_commit.json` manifest (written to a
    * temp name and renamed — atomic on local/HDFS semantics) listing the
    * member files. Readers ([[latestUpsertStateBefore]], time travel) only
    * see versions whose manifest exists, and only the files it lists — so a
    * crash between the multi-file snapshot write and its commit exposes
    * NOTHING to a concurrent reader, and a retried micro-batch's `overwrite`
    * wipes the partial files along with any stale manifest. This is the
    * minimal commit protocol that closes the non-atomic write+publish gap the
    * reference has at `storage/local_storage.py:216-217` (silver write and
    * ledger update are two separate unguarded steps); a full table format
    * (Delta/Iceberg) generalizes the same idea to a multi-version log. */
  def commitVersion(df: DataFrame, stateDir: String, v: Long): Unit = {
    val dir = s"$stateDir/v=$v"
    df.write.mode("overwrite").parquet(dir)
    writeCommitManifest(df.sparkSession, dir, v)
  }

  /** Optimistic-concurrency commit: stage `df` as version `v` and claim the
    * version with a CREATE-exclusive manifest write — if another writer has
    * already committed `v=<v>`, this FAILS with
    * `ConcurrentModificationException` instead of silently overwriting their
    * snapshot (the lost-update anatomy of two jobs racing the same table).
    * The loser's protocol: re-read the latest committed version, rebase its
    * changes, retry at `v+1` — exactly Delta/Iceberg's optimistic loop. The
    * staged parquet itself is written to the version directory first; the
    * exclusive manifest create is the single linearization point, so a
    * failed claim leaves no visible version ([[committedVersions]] only
    * believes manifests).
    *
    * Note the ordering hazard this avoids: `commitVersion` (the
    * fixture/test path) overwrites both data and manifest — safe only when
    * a single writer owns the store. */
  def commitVersionExclusive(df: DataFrame, stateDir: String, v: Long): Unit = {
    val dir = s"$stateDir/v=$v"
    val path = new Path(dir)
    val fs = fsOf(df.sparkSession, path)
    val manifest = new Path(path, CommitManifest)
    // Claim BEFORE writing any data: create-exclusive is the linearization
    // point, so a losing writer never stages bytes into the winner's
    // directory (staging first and claiming after would let the loser's
    // mode=overwrite delete the winner's files mid-commit).
    claimExclusive(fs, new Path(path, "_graft_claim"), manifest,
      s"commitVersionExclusive: version $v of $stateDir")
    // We own the claim: stage data (append — overwrite would delete the
    // claim), then publish the manifest create-exclusively (readers only
    // believe manifests).
    df.write.mode("append").parquet(dir)
    writeUtf8(fs, manifest, overwrite = false, commitManifestJson(fs, path, v))
  }

  /** The commit step alone: manifest the `part-` files already staged under
    * `dir` (temp-write + rename, atomic on local/HDFS semantics). */
  private def writeCommitManifest(spark: SparkSession, dir: String, v: Long): Unit = {
    val path = new Path(dir)
    val fs = fsOf(spark, path)
    publishByRename(fs, new Path(path, CommitManifest), commitManifestJson(fs, path, v))
  }

  // ---- the versioned store's on-disk codec: every manifest read, write and
  // claim goes through these helpers.

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit-manifest JSON for version `v`: the `part-` files directly under
    * `dir`, sorted. */
  private def commitManifestJson(fs: FileSystem, dir: Path, v: Long): String =
    fs.listStatus(dir).toSeq.map(_.getPath.getName).filter(_.startsWith("part-")).sorted
      .map(f => "\"" + f + "\"").mkString(s"""{"version":$v,"files":[""", ",", "]}")

  /** The data files a manifest lists: bare `part-` names in a commit
    * manifest, absolute paths in a clone manifest. */
  private def manifestEntries(fs: FileSystem, manifest: Path): Seq[String] =
    "\"([^\"]*part-[^\"]+)\"".r.findAllMatchIn(readUtf8(fs, manifest)).map(_.group(1)).toSeq

  private def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def writeUtf8(fs: FileSystem, p: Path, overwrite: Boolean, text: String): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Publish `text` at `dest` atomically: write a temp sibling, then rename it
    * over `dest` (atomic on local/HDFS semantics). */
  private def publishByRename(fs: FileSystem, dest: Path, text: String): Unit = {
    val tmp = new Path(dest.getParent, s".${dest.getName}.tmp")
    writeUtf8(fs, tmp, overwrite = true, text)
    if (fs.exists(dest)) fs.delete(dest, false)
    require(fs.rename(tmp, dest), s"rename to $dest failed")
  }

  /** Take the create-exclusive `claim`, the linearization point of
    * [[commitVersionExclusive]], [[commitTransaction]] and
    * [[drainBronzeToSilver]]: throws
    * `ConcurrentModificationException` if the claim or the `published`
    * commit already exists, or another writer wins the create. */
  private def claimExclusive(fs: FileSystem, claim: Path, published: Path,
                             what: String): Unit = {
    def lost() = throw new java.util.ConcurrentModificationException(
      s"$what is already claimed/committed — re-read latest, rebase, retry at a later version")
    if (fs.exists(published) || fs.exists(claim)) lost()
    fs.mkdirs(claim.getParent)
    try fs.create(claim, false).close()
    catch {
      case _: FileAlreadyExistsException => lost()
      case _: java.io.IOException if fs.exists(claim) => lost()
    }
  }

  /** Write-audit-publish: stage `df` as version `v`, audit WHAT WAS STAGED
    * (the files are read back — the gate sees exactly the bytes a reader
    * would, not the input plan re-evaluated), and write the commit manifest
    * only if every rule passes. A failing audit leaves the staged files
    * uncommitted — invisible to every reader by the manifest protocol, and
    * wiped by the next attempt's overwrite or by [[vacuumVersions]]'s
    * crashed-dir sweep. This is the WAP gate pattern (Iceberg popularized
    * the name) built from the pieces this store already has: expectations
    * as the audit, the manifest as the atomic publish.
    *
    * Returns (published, report): the long-format [[Expectations.report]]
    * of the staged data plus whether the manifest was written. The report is
    * driver-materialized, so it stays valid after the state dir is cleaned.
    *
    * Scale: the audit is one aggregate pass over the staged files — the
    * cost of reading the snapshot once; publication itself is one rename. */
  def writeAuditPublish(df: DataFrame, rules: Seq[Expectations.Rule],
                        stateDir: String, v: Long): (Boolean, DataFrame) = {
    val dir = s"$stateDir/v=$v"
    df.write.mode("overwrite").parquet(dir)
    val spark = df.sparkSession
    val report = Expectations.report(spark.read.parquet(dir), rules)
    val ok = report.filter(col("violations") > 0L).isEmpty
    if (ok) writeCommitManifest(spark, dir, v)
    (ok, report)
  }

  /** Committed version ids under `stateDir`, ascending. Uncommitted `v=` dirs
    * (no manifest — a writer crashed mid-snapshot) are invisible. */
  def committedVersions(spark: SparkSession, stateDir: String): Seq[Long] = {
    val path = new Path(stateDir)
    val fs = fsOf(spark, path)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v=") &&
        fs.exists(new Path(s.getPath, CommitManifest)))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted
  }

  /** Retention for the versioned store: delete all but the newest `keep`
    * COMMITTED version directories under `stateDir`. Returns deleted ids.
    *
    * Each `v=<n>` snapshot is a full state copy, so storage grows linearly
    * with history; vacuuming bounds it at `keep` copies. Time travel
    * ([[latestUpsertStateBefore]]) below the retention horizon fails with an
    * empty result afterwards — loudly, not with silently wrong data.
    *
    * `keep` ≥ 2 is ENFORCED, not advisory: the newest committed version and
    * its predecessor must both survive, because a `foreachBatch` writer can
    * crash after committing `v=N` but before the checkpoint records batch N —
    * the retry then merges against the latest version strictly below N, and
    * if vacuum had taken N−1 the retry would silently rebuild gold from the
    * lone changeset. Keeping two committed versions makes vacuum safe to run
    * concurrently with the streaming writers. Uncommitted (crashed) dirs
    * below the retention horizon are garbage-collected too; deletion order is
    * oldest-first so a crash mid-vacuum leaves a contiguous recent history. */
  def vacuumVersions(spark: SparkSession, stateDir: String, keep: Int): Seq[Long] = {
    require(keep >= 2,
      "vacuumVersions: keep must be >= 2 — the newest committed version's " +
        "predecessor is the recovery point for an uncheckpointed streaming batch")
    val path = new Path(stateDir)
    val fs = fsOf(spark, path)
    if (!fs.exists(path)) Seq.empty
    else {
      val committed = committedVersions(spark, stateDir)
      if (committed.isEmpty) Seq.empty
      else {
        val horizon = committed.takeRight(keep).head
        val doomed = fs.listStatus(path).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
          .map(_.getPath.getName.stripPrefix("v=").toLong)
          .filter(_ < horizon)
          .sorted
        doomed.foreach(v => fs.delete(new Path(s"$stateDir/v=$v"), true))
        doomed
      }
    }
  }

  /** The latest committed upsert snapshot under `stateDir`, if any. */
  def latestUpsertState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    latestUpsertStateBefore(spark, stateDir, Long.MaxValue)

  /** Change feed between two committed versions of the versioned store: the
    * row-level delta (insert/delete/update with old/new images) a downstream
    * consumer needs to catch up from version `fromV` to version `toV`
    * without re-reading either full snapshot into its own diff logic — the
    * versioned-parquet analog of Delta's change data feed, derived on
    * demand with [[Cdc.snapshotDiff]] instead of stored per commit.
    *
    * Both versions must be committed and still within the vacuum horizon
    * (loud failure otherwise — a feed that silently diffed against the
    * wrong surviving version would corrupt every downstream consumer).
    * Because upsert deltas telescope, diffing v_from directly against v_to
    * yields exactly the NET changes a consumer that last saw v_from must
    * apply, regardless of how many versions lie between.
    *
    * Scale: one full-outer key join of the two snapshots (Cdc.snapshotDiff's
    * plan) — output ∝ net churn between the versions. */
  def changeFeed(spark: SparkSession, stateDir: String, keys: Seq[String],
                 fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"changeFeed: fromV=$fromV must be < toV=$toV")
    val committed = committedVersions(spark, stateDir).toSet
    require(committed.contains(fromV) && committed.contains(toV),
      s"changeFeed: versions $fromV and $toV must both be committed and " +
        s"unvacuumed (have ${committed.toSeq.sorted.mkString(",")})")
    val from = latestUpsertStateBefore(spark, stateDir, fromV + 1).get
    val to = latestUpsertStateBefore(spark, stateDir, toV + 1).get
    Cdc.snapshotDiff(from, to, keys)
  }

  /** SHALLOW CLONE (zero-copy snapshot clone, the Delta `CLONE` shape): the
    * clone's `v=0` is a manifest of ABSOLUTE file references into the source
    * version's committed parquet — no data moves, clone cost is one metadata
    * write regardless of table size. The clone then evolves independently:
    * later versions are its own local `commitVersion` snapshots, and the
    * source never observes them. The "branch a 100 TB table for an
    * experiment" primitive — at that scale this is the only affordable
    * copy, and vacuum on the SOURCE must honor outstanding clone manifests
    * (documented contract: clones pin their referenced files; run
    * [[cloneReferencedFiles]] into the vacuum exclusion set).
    *
    * Returns the number of files referenced. */
  def shallowCloneVersion(spark: SparkSession, srcStateDir: String,
                          srcVersion: Long, destStateDir: String): Int = {
    val srcDir = s"$srcStateDir/v=$srcVersion"
    val srcPath = new Path(srcDir)
    val fs = fsOf(spark, srcPath)
    val refs = manifestEntries(fs, new Path(srcPath, CommitManifest)).map(f => s"$srcDir/$f")
    val destDir = new Path(s"$destStateDir/v=0")
    fs.mkdirs(destDir)
    publishByRename(fs, new Path(destDir, CloneManifest), refs.map(r => "\"" + r + "\"")
      .mkString(s"""{"src_version":$srcVersion,"refs":[""", ",", "]}"))
    refs.size
  }

  /** The absolute source files a clone's `v=0` pins — feed these into the
    * source table's vacuum exclusion set. Empty if `destStateDir` has no
    * clone manifest. */
  def cloneReferencedFiles(spark: SparkSession, destStateDir: String): Seq[String] = {
    val p = new Path(s"$destStateDir/v=0", CloneManifest)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty else manifestEntries(fs, p)
  }

  /** Read a cloned table's CURRENT state: the latest locally-committed
    * version if the clone has evolved past `v=0`, otherwise the referenced
    * source files. (Clone `v=0` carries [[CloneManifest]], not
    * [[CommitManifest]], so [[committedVersions]] naturally ignores it.) */
  def readShallowClone(spark: SparkSession, destStateDir: String): DataFrame =
    latestUpsertStateBefore(spark, destStateDir, Long.MaxValue).getOrElse {
      val refs = cloneReferencedFiles(spark, destStateDir)
      require(refs.nonEmpty, s"readShallowClone: $destStateDir has neither " +
        "committed versions nor a clone manifest")
      spark.read.parquet(refs: _*)
    }

  private val CloneManifest = "_graft_clone.json"

  /** ATOMIC MULTI-TABLE transaction: stage every table's snapshot under its
    * own `<stateDir>/<table>/v=<v>` (data + per-table commit manifest), then
    * publish ONE transaction marker `<stateDir>/_txn/v=<v>` via
    * create-exclusive — readers that go through [[readTableAtLatestTxn]]
    * resolve the HIGHEST marker first, so they can never observe table A's
    * version v without table B's (the cross-table atomicity single-table
    * logs — Delta included — cannot give; Iceberg needs an external catalog
    * transaction for it). Writer exclusion mirrors
    * [[commitVersionExclusive]]'s claim-then-stage order: a claim file
    * `_txn/v=<v>._claim` is created CREATE-EXCLUSIVELY before any table
    * stages, so two concurrent committers at the same `v` linearize at the
    * claim — the loser never stages bytes, and can never overwrite the
    * winner's staged tables mid-write (staging first and claiming after
    * would allow exactly that: both pass an exists() pre-check, both
    * overwrite-stage, one publishes a marker over mixed table data). A
    * crash after the claim but before the marker leaves the transaction
    * invisible AND `v` permanently claimed — recovery is retry at a later
    * version, the same rule commitVersionExclusive documents. A claim or
    * marker that already exists throws `ConcurrentModificationException`.
    *
    * Scale: per-table snapshots write in parallel Spark jobs; claim and
    * marker are one metadata file each — commit cost is O(tables),
    * independent of data. */
  def commitTransaction(tables: Map[String, DataFrame], stateDir: String, v: Long): Unit = {
    require(tables.nonEmpty, "commitTransaction: no tables to commit")
    val txnDir = new Path(s"$stateDir/_txn")
    val marker = new Path(txnDir, s"v=$v")
    val fs = fsOf(tables.head._2.sparkSession, marker)
    // Claim BEFORE staging any table: create-exclusive is the
    // linearization point (see scaladoc).
    claimExclusive(fs, new Path(txnDir, s"v=$v._claim"), marker,
      s"commitTransaction: transaction $v of $stateDir")
    // We own the claim: stage every table, then publish the one marker
    // readers believe.
    tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
      commitVersion(df, s"$stateDir/$name", v)
    }
    try fs.create(marker, false).close()
    catch {
      case _: FileAlreadyExistsException |
           _: java.io.IOException if fs.exists(marker) =>
        throw new java.util.ConcurrentModificationException(
          s"commitTransaction: lost the race for transaction $v of $stateDir")
    }
  }

  /** Highest PUBLISHED transaction version of `stateDir`, if any — only
    * marker files count; staged-but-unpublished versions are invisible. */
  def latestTxn(spark: SparkSession, stateDir: String): Option[Long] = {
    val path = new Path(s"$stateDir/_txn")
    val fs = fsOf(spark, path)
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
      // exact v=<digits> only: `v=<v>._claim` files are claims, not commits
      .filter(_.matches("v=\\d+")).map(_.stripPrefix("v=").toLong)
      .sorted.lastOption
  }

  /** Read `table` at the latest PUBLISHED transaction — the snapshot is the
    * one the transaction marker covers even if a later transaction has
    * already staged (but not published) a newer per-table version. */
  def readTableAtLatestTxn(spark: SparkSession, stateDir: String,
                           table: String): DataFrame = {
    val v = latestTxn(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"readTableAtLatestTxn: no published transaction under $stateDir"))
    latestUpsertStateBefore(spark, s"$stateDir/$table", v + 1).getOrElse(
      throw new IllegalStateException(
        s"readTableAtLatestTxn: transaction $v published but table $table " +
          "has no committed version ≤ it — corrupted store"))
  }

  /** The latest COMMITTED snapshot with version strictly below
    * `beforeVersion`. Reads exactly the files the commit manifest lists, so
    * concurrent writers/vacuums and leftover partial files are invisible. */
  def latestUpsertStateBefore(spark: SparkSession, stateDir: String,
                              beforeVersion: Long): Option[DataFrame] =
    committedVersions(spark, stateDir).filter(_ < beforeVersion).lastOption.map { v =>
      val dir = s"$stateDir/v=$v"
      val path = new Path(dir)
      val files = manifestEntries(fsOf(spark, path), new Path(path, CommitManifest))
      if (files.isEmpty) spark.read.parquet(dir).limit(0)
      else spark.read.parquet(files.map(f => s"$dir/$f"): _*)
    }
}
