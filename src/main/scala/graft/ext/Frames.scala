package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** How the iterative operators hold, cut and release their round state.
  *
  * '''Rebind.''' `persist()` short-circuits EXECUTION but leaves the full
  * LOGICAL plan in place, so round N of a loop embeds the whole upstream
  * producer (for q65: the MinHash candidate+verify tree, thousands of
  * expression nodes) and every earlier round — analysis and
  * canonicalization run over that tree on every action and double in cost
  * per round (measured on q65: rounds went 4.8 s → 10.1 s over ~12k cached
  * rows; < 1 s each with the rebind). [[rebind]] wraps the frame's
  * PHYSICAL RDD (which still reads any persisted blocks, and recomputes
  * from RDD lineage if they are evicted) in a constant-size `LogicalRDD`.
  * A `repartition` placed ABOVE a rebind re-establishes the partitioning
  * that a later cache advertises to Catalyst; a rebind above the
  * repartition blinds it again.
  *
  * Two materialization disciplines, kept apart because they behave
  * differently:
  *
  *  - [[Scope.keep]] (SQL persist + count; [[Scope.persist]] is the lazy
  *    form that fills inside the next action): the cache keeps advertising
  *    its `outputPartitioning`, so per-round joins against a
  *    hashpartitioned loop invariant exchange only the moving side. The
  *    RDD object graph still chains through every rebind, which is fine
  *    for invariants and for loops of a few rounds.
  *  - [[Scope.pin]] / [[Scope.pinWhere]] (RDD `localCheckpoint` +
  *    materializing count + rebind): the rebind alone leaves round N's RDD
  *    referencing round N−1's RDD object through narrow dependencies; Java
  *    task serialization walks that graph, and past ~30 stacked rounds (a
  *    diameter-30+ component at local[32], or ~100 rounds across the
  *    composed phases of [[Graph.bridges]]) task DESERIALIZATION
  *    overflows the task thread's stack. The checkpoint drops the RDD's
  *    dependencies, so every round's task binary is a flat scan of the
  *    previous round's blocks. A pinned frame FORGETS its partitioning —
  *    pin round state, keep invariants. [[Scope.pinWhere]] is the
  *    one-job-per-round form: its filtered count scans every partition, so
  *    the count the loop needs is itself the action that writes the
  *    checkpoint blocks. Raw RDD actions do not drive the Dataset-action
  *    listener, so `observe` metrics read stale over pinned rounds — count
  *    a flag column instead. At cluster scale `df.checkpoint()` to
  *    reliable storage would also survive executor loss.
  *
  * '''Ownership.''' A [[Scope]] records every block it creates, and only
  * those: [[Scope.release]] frees a superseded round eagerly, and
  * [[Scope.finish]] frees everything the scope created except the pinned
  * blocks its result reads. Blocks a caller persisted — even ones first
  * materialized inside an operator — are never touched, and no operator
  * consults the global persistent-RDD registry, so concurrent queries in
  * one session cannot free each other's state. An operator that returns a
  * lazy plan over its own cached state leaves that state to the caller.
  */
private[graft] object Frames {

  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /** Plan-truncating rebind: the same rows under a constant-size
    * `LogicalRDD` plan. With AQE the `.rdd` call runs the frame's shuffle
    * stages. */
  def rebind(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** A fresh scope for one operator call. */
  def scope(): Scope = new Scope(None)

  final class Scope private[Frames] (parent: Option[Scope]) {
    private val kept = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // checkpointed RDDs, keyed by the id of the row RDD under their
    // rebind's LogicalRDD leaf — what a frame's plan shows of them
    private val pinned = scala.collection.mutable.HashMap[Int, RDD[Row]]()

    /** A scope for an inner operator call: [[finish]] hands the blocks its
      * result reads to this scope instead of to the caller. */
    def nested(): Scope = new Scope(Some(this))

    /** Lazy SQL persist, recorded in this scope. */
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(Level)
      kept += p
      p
    }

    /** SQL persist + materializing count. */
    def keep(df: DataFrame): DataFrame = {
      val p = persist(df)
      p.count()
      p
    }

    /** localCheckpoint + materializing count + rebind. */
    def pin(df: DataFrame): DataFrame = {
      val r = checkpointed(df)
      r.count()
      bind(r, df)
    }

    /** [[pin]] whose materializing action is the count of rows matching
      * `pred`: one job for both. */
    def pinWhere(df: DataFrame, pred: Column): (DataFrame, Long) = {
      val out = bind(checkpointed(df), df)
      (out, out.where(pred).count())
    }

    /** Free the blocks of a superseded frame: a frame this scope kept, or
      * else the pinned blocks `df`'s plan reads. Anything else is left
      * alone. */
    def release(df: DataFrame): Unit = {
      val i = kept.indexWhere(_ eq df)
      if (i >= 0) kept.remove(i).unpersist(blocking = false)
      else pinnedIn(df).foreach(id => pinned.remove(id).foreach(_.unpersist(blocking = false)))
    }

    /** Free every block this scope created except the pinned blocks `out`
      * reads (those pass to the enclosing scope, or to the caller), and
      * clear the thread's job description, which the multi-phase operators
      * set per phase and which would otherwise stick to every later query's
      * jobs in a shared session. */
    def finish(out: DataFrame): DataFrame = {
      val survivors = pinnedIn(out)
      pinned.foreach { case (id, r) =>
        if (!survivors(id)) r.unpersist(blocking = false)
        else parent.foreach(_.pinned(id) = r)
      }
      pinned.clear()
      kept.foreach(_.unpersist(blocking = false))
      kept.clear()
      out.sparkSession.sparkContext.setJobDescription(null)
      out
    }

    private def checkpointed(df: DataFrame): RDD[Row] = {
      val r = df.rdd
      r.localCheckpoint()
      r
    }

    private def bind(r: RDD[Row], df: DataFrame): DataFrame = {
      val out = df.sparkSession.createDataFrame(r, df.schema)
      leafRdds(out).foreach(id => pinned(id) = r)
      out
    }

    private def pinnedIn(df: DataFrame): Set[Int] =
      leafRdds(df).filter(pinned.contains).toSet

    private def leafRdds(df: DataFrame): Seq[Int] =
      df.queryExecution.logical.collectLeaves().collect {
        case l: LogicalRDD => l.rdd.id
      }
  }
}
