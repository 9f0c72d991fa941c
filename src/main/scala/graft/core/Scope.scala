package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** Owner of the caches a computation pins. Every cache made through
  * [[Scope.cut]] or [[Scope.track]] while a scope is current — on the
  * calling thread or on a [[Par.fork]] thread forked from it — is
  * registered with that scope and freed when it closes. Outside any
  * scope nothing is registered and no reference is held: the cache stays
  * pinned until the caller frees it or sweeps `getPersistentRDDs`.
  *
  * Freeing is always SAFE: every cache keeps its lineage (persist, never
  * localCheckpoint), so a consumer that runs after the free recomputes
  * instead of failing on a missing block.
  */
final class Scope private (private val parent: Scope) {
  // persisted RDDs and child scopes; identity-keyed
  private val held = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
  private var closed = false

  private def hold(x: AnyRef): Unit = {
    val late = synchronized { closed || { held.add(x); false } }
    if (late) Scope.release(x) // made after close (a straggling fork): free now
  }

  private def drop(x: AnyRef): Unit = synchronized { held.remove(x) }

  private def close(): Unit = {
    val xs = synchronized {
      if (closed) Nil
      else {
        closed = true
        val all = held.toArray.toList
        held.clear()
        all
      }
    }
    xs.foreach(Scope.release)
    if (parent != null) parent.drop(this)
  }
}

object Scope {

  private val current = new ThreadLocal[Scope]

  /** SERIALIZED storage for every cached intermediate. Two reasons:
    *   1. remote fetch of a cached block between executors streams the
    *      stored bytes directly — a DESERIALIZED level must serialize
    *      per fetch, and Spark 4.1 fails outright on remote reads of
    *      empty deserialized partitions ("Empty buffer received for non
    *      empty block"), which at shuffle.partitions > live data volume
    *      (small builds, AQE-coalesced tails) turned every off-executor
    *      task over an empty partition into a full lineage recompute —
    *      measured 8x aggregate-CPU amplification at 4x8 executors;
    *   2. serialized UnsafeRow blocks are compact (Kryo + LZ4), the right
    *      default when aggregate cache across a cluster is the scarce
    *      resource. */
  private val CacheLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** Run `body` in a new child of the current scope. Returns its result and
    * an idempotent thunk that frees every cache registered while `body`
    * ran (child scopes included). A child left open is freed with its
    * parent; a `body` that throws frees its caches before rethrowing. */
  def run[T](body: => T): (T, () => Unit) = {
    val s = new Scope(current.get)
    if (s.parent != null) s.parent.hold(s)
    val out = try within(s)(body) catch { case e: Throwable => s.close(); throw e }
    (out, () => s.close())
  }

  /** A [[run]] put off until its result is first needed. `get` runs `body`
    * once, in a child of the scope current at that call, and every other
    * caller (forked ones included) blocks until it is built; `free` closes
    * that child, and is a no-op while `body` has not run. */
  final class Deferred[T](body: => T) {
    private var built: Option[(T, () => Unit)] = None
    def get: T = synchronized(built.getOrElse { built = Some(run(body)); built.get })._1
    def free(): Unit = synchronized(built).foreach(_._2())
  }

  /** Run `body` with `s` as the current scope (null: none). */
  private[core] def within[T](s: Scope)(body: => T): T = {
    val outer = current.get
    current.set(s)
    try body finally current.set(outer)
  }

  private[core] def active: Scope = current.get

  /** A stage cut: the cut frame, and for an eager cut its row count and
    * the count of rows whose flag column is true (-1 when lazy). */
  final case class Cut(df: DataFrame, rows: Long, flagged: Long)

  /** Persist `df`'s InternalRow RDD and wrap it as a fresh LogicalRDD
    * DataFrame. This cuts the SQL plan tree at the stage boundary (without
    * a cut, each stage's plan embeds every upstream stage's plan — by the
    * final unions the tree is big enough that merely rendering its explain
    * string OOMs an 8 GiB driver) while KEEPING the RDD lineage, so a lost
    * or unfetchable cached block silently recomputes instead of failing
    * the way a truncated localCheckpoint does. The `.map(_.copy())` is
    * required because upstream operators reuse their output row buffer —
    * same as Dataset.localCheckpoint's own materialization path.
    *
    * Eager (default): one job materializes the cache and returns the row
    * count plus, when `flagOrdinal` >= 0, the count of rows whose BOOLEAN
    * column at that ordinal is true — both folded into the same action, so
    * an iterative caller's convergence probe costs no second job.
    *
    * `lazily`: persist + wrap only. The FIRST consumer populates the cache
    * (the block manager's per-partition locking dedups concurrent
    * computation — two forked consumers hitting the same uncomputed cached
    * partition compute it once and share it), so the upstream plan still
    * runs exactly once, but the producer never blocks on a count barrier. */
  def cut(df: DataFrame, lazily: Boolean = false, flagOrdinal: Int = -1): Cut = {
    val rdd = df.queryExecution.toRdd.map(_.copy()).persist(CacheLevel)
    hold(rdd)
    val out = org.apache.spark.sql.GraftShims.fromInternalRdd(df.sparkSession, rdd, df.schema)
    if (lazily) Cut(out, -1L, -1L)
    else {
      val counts = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        var rows = 0L
        var flagged = 0L
        while (it.hasNext) {
          val r = it.next()
          rows += 1
          if (flagOrdinal >= 0 && !r.isNullAt(flagOrdinal) && r.getBoolean(flagOrdinal)) flagged += 1
        }
        (rows, flagged)
      })
      Cut(out, counts.map(_._1).sum, counts.map(_._2).sum)
    }
  }

  /** Register an RDD the caller persisted itself. */
  def track[R <: RDD[_]](rdd: R): R = { hold(rdd); rdd }

  /** Free one [[cut]] frame's cache early. */
  def free(df: Dataset[_]): Unit = df.queryExecution.logical match {
    case l: LogicalRDD =>
      var s = current.get
      while (s != null) { s.drop(l.rdd); s = s.parent }
      release(l.rdd)
    case p => throw new IllegalArgumentException(s"not a Scope.cut frame: ${p.nodeName}")
  }

  private def hold(x: AnyRef): Unit = {
    val s = current.get
    if (s != null) s.hold(x)
  }

  private def release(x: AnyRef): Unit = x match {
    case s: Scope => s.close()
    case r: RDD[_] => r.unpersist(blocking = false)
  }

  /** Label the Spark jobs `body` submits (the job description is
    * thread-local and AQE sub-jobs inherit it) so listeners attribute them
    * by name; the caller's own label is restored afterwards, also when
    * `body` throws. With GRAFT_STAGE_TIMING set, a `graft-<layer>:<what>`
    * label prints one `[<layer>-timing] <what> <seconds>` line to stderr. */
  def labeled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    val t0 = System.nanoTime()
    sc.setJobDescription(label)
    val out = try body finally sc.setJobDescription(outer)
    if (sys.env.contains("GRAFT_STAGE_TIMING")) {
      val (layer, what) = label.stripPrefix("graft-").span(_ != ':')
      System.err.println(f"[$layer-timing] ${what.drop(1)}%-14s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    out
  }
}
