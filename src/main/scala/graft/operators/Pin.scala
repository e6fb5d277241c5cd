package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graft.ColumnBridge

/** The engine's one way to pin a DataFrame and to release a pin.
  *
  * A pin is an eager `localCheckpoint`: the frame runs once, its rows stay
  * as the blocks of one RDD, and its lineage is cut there. A frame read by
  * several branches then runs once, and a driver loop's plan stays O(1)
  * deep however many rounds it runs — the truncation the RDD paper
  * prescribes for long iterative lineage (Zaharia et al., NSDI'12).
  *
  *   - Local, not reliable, checkpoints. A reliable checkpoint writes every
  *     pin to a checkpoint directory (a distributed file system on a
  *     cluster) that must be configured; a local one keeps the blocks in
  *     executor storage and costs no write. The price: a lost block cannot
  *     be recomputed. A read of a released or lost pin fails the job with
  *     a `SparkException` ("Checkpoint block … not found … the original
  *     RDD is unpersisted"); it never returns fewer rows.
  *   - The release is RDD-level. A local checkpoint's storage belongs to
  *     its RDD, outside the CacheManager, so `DataFrame.unpersist` frees
  *     none of it; [[release]] unpersists the RDD itself.
  *   - A driver loop's generations ([[loop]]) drop their carried
  *     statistics. A checkpoint carries the optimizer's estimate of the
  *     plan it came from, and each round's joins multiply the carried
  *     estimate (its digits grow about 3× a round, until planning stalls
  *     in BigInteger products around round 15). A generation is rewrapped
  *     with the bytes its blocks hold as its estimate, as a cached
  *     relation is, and with its output partitioning and ordering, so a
  *     join against co-partitioned pinned edges stays exchange-free and a
  *     small generation still broadcasts.
  *
  * Ownership: a pin made inside a [[scope]], on the scope's thread, is
  * released when the scope exits unless the scope's result reads it.
  * Pins that back a result outlive every scope; the caller or
  * [[graft.SessionHygiene]] frees those. */
object Pin {

  // open scopes of this thread, innermost first: the pins made in each
  private val scopes = new ThreadLocal[List[mutable.Buffer[RDD[_]]]] {
    override def initialValue(): List[mutable.Buffer[RDD[_]]] = Nil
  }

  /** `df` materialized now and pinned (eager `localCheckpoint`). */
  def apply(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint(true)
    scopes.get.headOption.foreach(_ ++= ColumnBridge.persistedRdd(pinned))
    pinned
  }

  /** Unpersist the pins that `dfs` read (each frame's first RDD leaf). */
  def release(dfs: DataFrame*): Unit =
    dfs.flatMap(ColumnBridge.persistedRdd).foreach(_.unpersist(false))

  /** The pinner of one driver loop's generations: each call pins
    * generation n, then releases generation n−1, so storage holds at
    * most two. */
  def loop(): DataFrame => DataFrame = {
    var last: Option[DataFrame] = None
    df => {
      val next = ColumnBridge.resetStats(Pin(df))
      last.foreach(release(_))
      last = Some(next)
      next
    }
  }

  /** Run `body`; on exit, release every pin made inside it, on this
    * thread, that its result does not read — all of them if it throws.
    * The pins it does read pass to the enclosing scope. */
  def scope(body: => DataFrame): DataFrame = {
    val mine = mutable.Buffer[RDD[_]]()
    val outer = scopes.get
    scopes.set(mine :: outer)
    var result: Option[DataFrame] = None
    try {
      result = Some(body)
      result.get
    } finally {
      scopes.set(outer)
      val read = result.fold(Set.empty[Int])(reads)
      val (kept, dead) = mine.partition(r => read(r.id))
      dead.foreach(_.unpersist(blocking = false))
      outer.headOption.foreach(_ ++= kept)
    }
  }

  /** Ids of the RDDs `df`'s plan reads: its RDD and cached-relation
    * leaves and everything they depend on. A leaf may wrap a pin in RDDs
    * of its own (a frame made from `pinned.rdd`), hence the dependency
    * walk, not a leaf check. */
  private def reads(df: DataFrame): Set[Int] = {
    val seen = mutable.Set[Int]()
    val todo = mutable.Stack[RDD[_]]()
    def leaves(plan: LogicalPlan): Unit = plan.foreachWithSubqueries {
      case l: LogicalRDD => todo.push(l.rdd)
      case m: InMemoryRelation => leaves(m.cacheBuilder.logicalPlan)
      case _ =>
    }
    leaves(df.queryExecution.analyzed)
    while (todo.nonEmpty) {
      val r = todo.pop()
      if (seen.add(r.id)) r.dependencies.foreach(d => todo.push(d.rdd))
    }
    seen.toSet
  }
}
