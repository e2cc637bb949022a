package graft.engine

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession

/** Whole-pipeline orchestration (SURVEY.md §2.5, OP-35/36): the reference's
  * `bronze_to_silver >> silver_to_gold` Airflow DAG
  * (`dags/data_lake_pipeline.py:107-149`) as one idempotent call per tick.
  *
  * The only ordering the DAG needs is drain→gold within one domain (gold
  * reads what that domain's drain wrote); the domains share nothing — each
  * has its own bronze, silver, drain ledger and gold tables. So each domain's
  * chain runs on its own thread and the tick waits for all of them. Jobs
  * submitted one after another from a single driver thread never overlap,
  * on a cluster or in local mode, and a tick is a chain of ~30 small jobs
  * plus planning; running the chains side by side is what keeps the cores
  * busy.
  *
  * The pool is created per call and shut down before the call returns: its
  * threads are created by the calling thread, so they inherit its Spark
  * local properties (job group, description, scheduler pool), and no thread
  * outlives the tick. Every job of a tick, drain and gold alike, runs on a
  * chain thread, so every one carries the caller's job group.
  */
object Medallion {

  val Domains: Seq[String] = Seq("sales", "customer_events", "inventory")

  /** One pipeline tick: per domain, drain all unprocessed bronze into silver
    * (each file once, tracked by the domain's drain ledger), then append a
    * fresh gold snapshot of each of the domain's tables; the domains run
    * concurrently. Returns the gold table names written, in domain order.
    * Re-running without new bronze files appends identical gold snapshots
    * and re-drains nothing — the reference's idempotence contract. A domain
    * with no silver row yet (no bronze file landed, or only header-only ones)
    * is skipped, like the reference's empty-frame guard
    * (silver_to_gold.py:38-41).
    *
    * If chains fail, every chain is waited for first (no drain is left
    * mid-write), then the first failing domain's own exception is thrown,
    * with the later ones attached as suppressed. `domains` must be distinct:
    * two drains of one domain race for one ledger claim, and the loser fails. */
  def runOnce(spark: SparkSession, root: String,
              domains: Seq[String] = Domains): Seq[String] = {
    require(domains.distinct.size == domains.size,
      s"runOnce: duplicate domains in ${domains.mkString("[", ", ", "]")}")
    val pool = Executors.newFixedThreadPool(domains.size max 1, chainThreads)
    try {
      val chains = domains.map { d =>
        val chain: Callable[Seq[String]] = () => {
          val bronzePath = Layout.bronzeDir(root, d)
          val silverPath = Layout.silverDir(root, d)
          if (Layout.hasDataFile(spark, bronzePath))
            Incremental.drainBronzeToSilver(spark, d,
              bronzePath, silverPath, Layout.checkpointDir(root, d))
          if (Layout.hasDataFile(spark, silverPath)) Incremental.snapshotGold(spark, d, silverPath, root)
          else Seq.empty
        }
        pool.submit(chain)
      }
      // `Try` keeps waiting after a failed chain; an interrupt of the caller
      // is fatal to it and propagates
      val outcomes = chains.map(c => Try(c.get()))
      outcomes.collect { case Failure(e: ExecutionException) => e.getCause } match {
        case Seq() => outcomes.flatMap(_.get)
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Daemon threads: a chain thread never keeps the JVM from exiting. */
  private val chainThreads: ThreadFactory = {
    val n = new AtomicInteger()
    r => {
      val t = new Thread(r, s"medallion-chain-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
