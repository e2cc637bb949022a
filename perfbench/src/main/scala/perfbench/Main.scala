package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.{Layout, Medallion, Sources}

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * process, and checks what it leaves behind; this process only drives the
  * program's public calls and times them.
  *
  * Arguments (all required): `--workload ticks|operator_suite`,
  * `--work <dir>` (inputs under `<dir>/in`, lakes under `<dir>/lake`),
  * `--seconds <n>`, `--trace 0|1`, `--cpus <n>`, and for the suite
  * `--data <dir> --queries q1,q2,...`.
  *
  * Writes `<work>/result.json` when it ends: the epoch-ms moment set-up
  * finished, the wall time of each timed operation, per-layer figures (traced
  * runs), and the facts the checks need (ticks run, idempotent re-run counts).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = new File(opt("work")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    // Never outlive the launcher: if run.py is killed, stop at once.
    ProcessHandle.current().parent().ifPresent(p => p.onExit().thenRun(() => Runtime.getRuntime.halt(3)))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val out = new Result
    try {
      workload match {
        case "ticks" => Ticks.run(spark, work, seconds, out)
        case "operator_suite" =>
          Suite.run(spark, work, opt("data"), opt("queries").split(",").toSeq, seconds, out)
        case w => sys.error(s"unknown workload $w")
      }
      // Let the listener bus drain before the figures are read.
      listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
      listener.foreach { l => out.layer ++= l.finish(out); out.lists("jobs") = l.jobLines }
      out.num("peak_rss_mb", peakRssMb())
      Files.write(Paths.get(work, "result.json"), out.toJson.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Bytes and data files under a directory tree (hidden/underscore files skipped). */
  def treeSize(dir: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(walk)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) (0L, 0L)
      else (f.length, 1L)
    walk(new File(dir))
  }

  def silverSize(root: String): (Long, Long) =
    Medallion.Domains.map(d => treeSize(Layout.silverDir(root, d)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def goldSize(root: String): (Long, Long) = treeSize(s"$root/gold")

  /** Copy every staged CSV of each domain into the lake's bronze landing. */
  def ingest(spark: SparkSession, staged: String, root: String): Unit =
    Medallion.Domains.foreach { d =>
      Sources.ingestRaw(spark, s"$staged/$d/*.csv", Layout.bronzeDir(root, d))
    }

  def silverRows(spark: SparkSession, root: String): Long =
    Medallion.Domains.map(d => spark.read.parquet(Layout.silverDir(root, d)).count()).sum

  /** A second `runOnce` with no new bronze files: silver rows before/after. */
  def idempotentRerun(spark: SparkSession, root: String, out: Result): Unit = {
    val before = silverRows(spark, root)
    Medallion.runOnce(spark, root)
    out.num("rerun_silver_rows_before", before.toDouble)
    out.num("rerun_silver_rows_after", silverRows(spark, root).toDouble)
  }

  def now(): Long = System.currentTimeMillis()

  /** Every run times at least this many operations, so that the median has
    * a middle one; past it, operations continue until `--seconds` is up. */
  val MinOps = 3
}

/** A timed public call: what the benchmark called and when (epoch ms). */
final case class Span(kind: String, name: String, start: Long, end: Long, round: Int)

/** Collects the facts one run hands back to `run.py`. */
final class Result {
  val nums = mutable.LinkedHashMap.empty[String, Double]
  val ops = mutable.ArrayBuffer.empty[Double]
  val spans = mutable.ArrayBuffer.empty[Span]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val lists = mutable.LinkedHashMap.empty[String, Seq[String]]
  var gcStartMs = 0L

  def num(k: String, v: Double): Unit = nums(k) = v

  def span[T](kind: String, name: String, round: Int)(f: => T): T = {
    val s = Main.now()
    try f finally spans += Span(kind, name, s, Main.now(), round)
  }

  def setupDone(): Unit = {
    num("setup_done_epoch_ms", Main.now().toDouble)
    gcStartMs = Main.gcMillis()
  }

  def measureDone(): Unit = num("gc_ms", (Main.gcMillis() - gcStartMs).toDouble)

  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString

  def toJson: String = {
    val fields = Seq(
      "nums" -> nums.map { case (k, v) => s"${q(k)}: ${n(v)}" }.mkString("{", ", ", "}"),
      "ops" -> ops.map(n).mkString("[", ", ", "]"),
      "layer" -> layer.map { case (k, v) => s"${q(k)}: ${n(v)}" }.mkString("{", ", ", "}"),
      "lists" -> lists.map { case (k, v) => s"${q(k)}: ${v.map(q).mkString("[", ", ", "]")}" }
        .mkString("{", ", ", "}"),
      "spans" -> spans.map(s =>
        s"""{"kind": ${q(s.kind)}, "name": ${q(s.name)}, "start": ${s.start}, "end": ${s.end}, "round": ${s.round}}""")
        .mkString("[", ", ", "]"))
    fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",\n", "}\n")
  }
}

/** History built through the program in set-up, then closed-loop ticks: each
  * tick lands one small file per domain and runs `Medallion.runOnce`, and the
  * next tick starts only when it returns. The timed operation runs from the
  * start of `ingestRaw` to `runOnce`'s return. */
object Ticks {
  def run(spark: SparkSession, work: String, seconds: Double, out: Result): Unit = {
    val root = s"$work/lake/main"
    Main.ingest(spark, s"$work/in/history", root)
    out.span("history", "runOnce", -1)(Medallion.runOnce(spark, root))
    // The idempotent re-run doubles as the warm-up of the tick path: it
    // starts every domain's stream and recomputes all gold, as a tick does.
    Main.idempotentRerun(spark, root, out)
    val available = Option(new File(s"$work/in/ticks").list).map(_.length).getOrElse(0)
    out.setupDone()
    val t0 = System.nanoTime()
    var tick = 0
    while (tick < available && (tick < Main.MinOps || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val staged = f"$work/in/ticks/$tick%04d"
      val (sb0, sf0) = Main.silverSize(root); val (gb0, _) = Main.goldSize(root)
      val s = System.nanoTime()
      out.span("ingest", "ingestRaw", tick)(Main.ingest(spark, staged, root))
      out.span("run", "runOnce", tick)(Medallion.runOnce(spark, root))
      out.ops += (System.nanoTime() - s) / 1e9
      val (sb, sf) = Main.silverSize(root); val (gb, _) = Main.goldSize(root)
      out.num(s"r$tick.silver_bytes", (sb - sb0).toDouble)
      out.num(s"r$tick.silver_files", (sf - sf0).toDouble)
      out.num(s"r$tick.gold_bytes", (gb - gb0).toDouble)
      if (tick == 0) out.num("lake_mb", (sb + gb) / 1e6)
      tick += 1
    }
    out.measureDone()
    out.num("rounds", tick.toDouble)
  }
}

/** A fixed list of `SparkEntry.queries` over a read-only table directory.
  * Set-up runs two warm-up passes: the first writes each result as parquet
  * for the oracle compare (next to the oracle SQL), the second is a pass as
  * timed; a third pass is still ~50% faster than the first, so without it the
  * timed passes would sit on the JIT warm-up curve. Each timed operation is
  * one pass, every result drained through the `noop` sink so all output
  * columns are computed (a `count()` would let the optimizer prune columns). */
object Suite {
  def run(spark: SparkSession, work: String, data: String, names: Seq[String], seconds: Double,
          out: Result): Unit = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    names.foreach { n =>
      out.span("warmup", n, -2) {
        SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/results/$n")
        clear(spark)
      }
    }
    out.lists("oracle_names") = names
    out.lists("oracle_sql") = names.map(n => SparkEntry.oracleSql.getOrElse(n, ""))
    pass(spark, data, names, "warmup", -1, out)
    out.setupDone()
    val t0 = System.nanoTime()
    var i = 0
    while (i < Main.MinOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = System.nanoTime()
      pass(spark, data, names, "query", i, out)
      out.ops += (System.nanoTime() - s) / 1e9
      i += 1
    }
    out.measureDone()
    out.num("rounds", i.toDouble)
  }

  def pass(spark: SparkSession, data: String, names: Seq[String], kind: String, round: Int,
           out: Result): Unit =
    names.foreach { n =>
      out.span(kind, n, round) {
        SparkEntry.queries(n)(spark, data).write.format("noop").mode("overwrite").save()
        clear(spark)
      }
    }

  /** The per-query cache discipline of the program's own bench: a persisted
    * frame lives for one query only. */
  def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
