package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Assigns every Spark job to the program layer named in its call site and
  * sums its stages' task figures. Everything stays in memory until
  * [[finish]], which turns jobs and the benchmark's spans into per-operation
  * layer figures.
  *
  * A job's call site is the one recorded when its SQL execution started (the
  * stack of the thread that ran the action, which for jobs run from
  * broadcast or adaptive-execution threads is still the caller's); jobs
  * outside any SQL execution fall back to their first stage's call site.
  *
  * Listener events arrive on one bus thread; [[finish]] runs after the bus has
  * drained, so no locking is needed.
  */
final class LayerListener extends SparkListener {

  final class Job(val id: Int, val start: Long, val layer: String, val site: String,
                  val writes: Boolean) {
    var end: Long = start
  }
  final class StageFig {
    var taskMs = 0L; var inputRows = 0L; var shuffleBytes = 0L
  }

  private val execSite = mutable.HashMap.empty[Long, String]
  private val execWrites = mutable.HashSet.empty[Long]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOwner = mutable.HashMap.empty[Int, Int]
  private val stageFig = mutable.HashMap.empty[Int, StageFig]
  private var callbackNanos = 0L

  private def timed[T](f: => T): Unit = {
    val s = System.nanoTime()
    f
    callbackNanos += System.nanoTime() - s
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => timed {
      execSite(e.executionId) = e.details
      if (e.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
        execWrites += e.executionId
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = timed {
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = exec.flatMap(execSite.get)
      .getOrElse(j.stageInfos.headOption.map(_.details).getOrElse(""))
    val firstFrame = site.split("\n").find(_.contains("graft.")).getOrElse(site.split("\n").head)
    jobs(j.jobId) = new Job(j.jobId, j.time, LayerListener.layerOf(site), firstFrame,
      exec.exists(execWrites))
    j.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = timed {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = timed {
    val m = t.taskMetrics
    if (m != null) {
      val f = stageFig.getOrElseUpdate(t.stageId, new StageFig)
      f.taskMs += m.executorRunTime
      f.inputRows += m.inputMetrics.recordsRead
      f.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  private case class Fig(jobs: Int, busyMs: Long, taskMs: Long, inputRows: Long,
                         shuffleBytes: Long)

  /** Figures of the jobs that started inside [start, end] and pass `keep`. */
  private def figures(start: Long, end: Long, keep: Job => Boolean): Fig = {
    val sel = jobs.values.filter(j => j.start >= start && j.start <= end && keep(j)).toSeq
    val ids = sel.map(_.id).toSet
    val owned = stageOwner.collect { case (s, id) if ids(id) => s }
    val figs = owned.flatMap(stageFig.get)
    Fig(sel.size, LayerListener.unionMs(sel.map(j => (j.start, j.end))),
      figs.map(_.taskMs).sum, figs.map(_.inputRows).sum, figs.map(_.shuffleBytes).sum)
  }

  /** One line per job: id, layer, start, end (epoch ms), input rows, first program frame. */
  def jobLines: Seq[String] = jobs.values.toSeq.map { j =>
    val f = figures(j.start, j.start, _.id == j.id)
    s"${j.id}\t${j.layer}${if (j.writes) "+write" else ""}\t${j.start}\t${j.end}\t${f.inputRows}\t${f.taskMs}\t${j.site.trim}"
  }

  /** Per-operation layer figures (means over the run's timed operations). */
  def finish(out: Result): Map[String, Double] = {
    val res = mutable.LinkedHashMap.empty[String, Double]
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val runs = out.spans.filter(_.kind == "run").toSeq
    val ingests = out.spans.filter(_.kind == "ingest").toSeq
    val queries = out.spans.filter(_.kind == "query").toSeq
    val ops = math.max(1, out.ops.size)

    res("ingest.s") = mean(ingests.map(s => (s.end - s.start) / 1e3))
    for (layer <- Seq("drain", "gold")) {
      val fs = runs.map(r => figures(r.start, r.end, _.layer == layer))
      res(s"$layer.s") = mean(fs.map(_.busyMs / 1e3))
      res(s"$layer.jobs") = mean(fs.map(_.jobs.toDouble))
      res(s"$layer.task_s") = mean(fs.map(_.taskMs / 1e3))
      res(s"$layer.input_rows") = mean(fs.map(_.inputRows.toDouble))
      res(s"$layer.shuffle_bytes") = mean(fs.map(_.shuffleBytes.toDouble))
    }
    // rows scanned by the drain's silver writes alone (without the emptiness
    // probe each micro-batch runs first): must equal the bronze rows landed
    res("drain.write_input_rows") = mean(runs.map(r =>
      figures(r.start, r.end, j => j.layer == "drain" && j.writes).inputRows.toDouble))
    res("overhead.s") = mean(runs.map(r => (r.end - r.start - figures(r.start, r.end, _ => true).busyMs) / 1e3))
    res("other.jobs") = mean(runs.map(r =>
      figures(r.start, r.end, j => j.layer != "drain" && j.layer != "gold").jobs.toDouble))
    val rounds = runs.map(_.round).distinct
    def perRound(k: String) = mean(rounds.map(r => out.nums.getOrElse(s"r$r.$k", 0.0)))
    res("silver.files_written") = perRound("silver_files")
    res("silver.bytes_written") = perRound("silver_bytes")
    res("gold.bytes_written") = perRound("gold_bytes")

    for ((name, spans) <- queries.groupBy(_.name)) {
      val fs = spans.map(s => (s, figures(s.start, s.end, _ => true)))
      res(s"q.$name.s") = mean(spans.map(s => (s.end - s.start) / 1e3))
      res(s"q.$name.jobs") = mean(fs.map(_._2.jobs.toDouble))
      res(s"q.$name.shuffle_bytes") = mean(fs.map(_._2.shuffleBytes.toDouble))
      res(s"q.$name.overhead_s") = mean(fs.map { case (s, f) => (s.end - s.start - f.busyMs) / 1e3 })
    }
    res("gc.s") = out.nums.getOrElse("gc_ms", 0.0) / 1e3 / ops
    res("trace.listener_s") = callbackNanos / 1e9 / ops
    res.toMap
  }
}

object LayerListener {

  /** The program layer a call site belongs to; the first matching frame wins,
    * so a gold builder called from the drain would count as drain. A stream's
    * jobs carry the call site of the stream's `start()`, so every job of the
    * drain's micro-batches names `drainBronzeToSilver`. */
  def layerOf(site: String): String =
    site.split("\n").collectFirst {
      case f if f.contains("drainBronzeToSilver") => "drain"
      case f if f.contains("snapshotGold") || f.contains("incrementalGold") ||
        f.contains("graft.engine.Gold$") => "gold"
    }.getOrElse("other")

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
