package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Scoped registry for intermediates the dedup/similarity builders
  * persist (shingle sets, minhash/simhash signatures, pair graphs): the
  * builders return LAZY DataFrames, so they cannot unpersist inside a
  * try/finally — nothing has been computed yet when they return. Instead
  * each persist is tracked here and dropped by the release calls, which
  * callers invoke after materializing results (Verify and Bench do;
  * long-lived sessions call them between queries). A long-lived GraftSql
  * session therefore never accumulates cached plans without bound — the
  * round-2 leak.
  *
  * Two tracking classes:
  *  - [[track]]/[[adopt]] — ANONYMOUS intermediates, dropped by
  *    [[releaseAnonymous]] after every query: no query ever silently
  *    rides another query's cached subplan (CacheManager matches plan
  *    fragments globally, which flattered round-2 timings).
  *  - [[memo]] — KEYED, deliberately SHARED intermediates (the Jaccard
  *    pair graph dd03/dd07/t13 all start from): built once per
  *    (session, key), reused until [[release]] ends the run scope. This
  *    is the engine feature — one curation run computes the pair stage
  *    once — not an accident of cache matching, and the per-query bench
  *    timings show exactly who builds and who reuses.
  */
object SessionCaches {
  private final case class Entry(key: Option[String], df: DataFrame)
  private val reg = mutable.Map[SparkSession, mutable.ListBuffer[Entry]]()
  // driver-side VALUE memos (trained centroids, collected stats) — same
  // run scope as the keyed DataFrame memos: released by [[release]], so
  // an in-place data rewrite can never serve stale driver-side state
  // past the run boundary
  private val valReg = mutable.Map[SparkSession, mutable.Map[String, Once]]()

  /** One key's value, built under this cell's own monitor: callers of
    * the key wait for one build, and a failed build leaves the cell
    * empty for the next caller.
    */
  private final class Once {
    private var value: Option[Any] = None
    def apply(build: => Any): Any = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
  }

  /** Bound on tracked intermediates per session: a caller that never
    * releases (direct DedupQueries API use without GraftSql.release)
    * must not grow the registry — and the cached blocks behind it —
    * without limit. Oldest entries are evicted (unpersisted) first;
    * correctness is unaffected, an evicted plan just recomputes.
    * Loop-critical frames (ConnectedComponents' edges/labels) are NOT
    * registered here — they are persist-managed explicitly so eviction
    * can never hit a frame a driver-side loop still needs.
    */
  val MaxTrackedPerSession = 32

  private def add(spark: SparkSession, e: Entry): Unit = {
    // self-clean: drop registrations of stopped sessions so the registry
    // never pins a SparkSession past its lifetime
    reg.filterInPlace((s, _) => !s.sparkContext.isStopped)
    val buf = reg.getOrElseUpdate(spark, mutable.ListBuffer())
    buf += e
    while (buf.size > MaxTrackedPerSession) {
      buf.remove(0).df.unpersist(blocking = false)
    }
  }

  /** Persist `df` and register it as anonymous. */
  def track(df: DataFrame): DataFrame = synchronized {
    df.persist()
    add(df.sparkSession, Entry(None, df))
    df
  }

  /** Register an ALREADY-persisted frame as anonymous (no extra
    * persist) — for operators that manage materialization themselves
    * but want the query-scope cleanup.
    */
  def adopt(df: DataFrame): DataFrame = synchronized {
    add(df.sparkSession, Entry(None, df))
    df
  }

  /** Build-once-per-(session, key): returns the existing persisted frame
    * for `key` if still registered, else runs `build`, persists (unless
    * `build` already did) and registers the result under `key`.
    * Reentrant — `build` may itself call [[track]].
    */
  def memo(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    synchronized {
      reg.get(spark).flatMap(_.find(_.key.contains(key))) match {
        case Some(e) => e.df
        case None =>
          val df = build
          if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            df.persist()
          add(spark, Entry(Some(key), df))
          df
      }
    }

  /** Build-once-per-(session, key) for a DRIVER-SIDE VALUE (a collected
    * centroid set, a bounded stats map): the [[memo]] discipline for
    * results that live on the driver rather than in the block store.
    * Nothing to unpersist — [[release]] just forgets the entry. The
    * round-4 fix for s02/s04 retraining identical k-means centroids
    * twice per suite run.
    *
    * `build` runs under its key's own once-cell, not the registry
    * monitor: callers of the same key wait for one build, while
    * [[track]], [[memo]] and other keys never block on it — so `build`
    * may call them from any thread it starts. A failed build is not
    * memoized; the next caller of the key builds again.
    */
  def memoValue[T](spark: SparkSession, key: String)(build: => T): T = {
    val once = synchronized {
      valReg.filterInPlace((s, _) => !s.sparkContext.isStopped)
      valReg.getOrElseUpdate(spark, mutable.Map())
        .getOrElseUpdate(key, new Once)
    }
    once(build).asInstanceOf[T]
  }

  /** Unpersist the anonymous intermediates of `spark`, keeping keyed
    * memo entries — the between-queries release.
    */
  def releaseAnonymous(spark: SparkSession): Unit = synchronized {
    reg.get(spark).foreach { buf =>
      buf.filter(_.key.isEmpty).foreach(_.df.unpersist(blocking = false))
      buf.filterInPlace(_.key.nonEmpty)
    }
  }

  /** Unpersist EVERY tracked intermediate of `spark` (anonymous and
    * memoized) — the end-of-run release. Safe anytime: an unpersisted
    * plan recomputes if re-used, it never breaks a query.
    */
  def release(spark: SparkSession): Unit = synchronized {
    reg.remove(spark).foreach(_.foreach(_.df.unpersist(blocking = false)))
    valReg.remove(spark)
    ()
  }
}
