package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** TTL-memoized build side (reference: etl_service/main.py:53-66 —
  * `cache_with_timeout(3600)` over the sink-id scan at main.py:94).
  *
  * The reference memoizes the BigQuery id-set in a dict for an hour so
  * repeated /fetch calls don't re-scan the sink. The Spark form:
  * `persist()` the build-side DataFrame and re-resolve it after the
  * TTL — within the window every query reuses the materialized
  * InMemoryRelation (one sink scan, N anti-joins); after it, the next
  * resolve unpersists and rebuilds, picking up sink writes.
  *
  * Semantics worth pinning (and pinned by CachedRelationSpec):
  *  - within TTL, resolve() returns the SAME DataFrame object — the
  *    plan cache hit is observable, not incidental;
  *  - after TTL, the stale entry is unpersisted (non-blocking, like
  *    dropping the dict entry) and the builder runs again;
  *  - keys partition the cache like the reference's `str(args)` memo
  *    key — different sink tables / scale dirs never share an entry.
  *
  * In streaming, the same wrapper gives per-trigger refresh control: a
  * foreachBatch sink resolves the build side each batch and the TTL
  * decides whether that resolution re-reads (EventStreams uses the
  * anti-join build side this way at TTL 0 = always fresh).
  *
  * Scale note: persist() here caches the *small* side (ids), never the
  * 100 TB probe side; at cluster scale the same object swaps
  * StorageLevel to MEMORY_AND_DISK_SER without touching callers.
  */
class CachedRelation(ttlMillis: Long, clock: () => Long = () => System.currentTimeMillis()) {
  private case class Entry(df: DataFrame, builtAt: Long)
  private val cache = new ConcurrentHashMap[String, Entry]()
  private val builds = new AtomicLong()

  /** The memoized relation for `key`, rebuilding if absent or expired. */
  def resolve(key: String)(build: => DataFrame): DataFrame =
    resolveWithHit(key)(build)._1

  /** [[resolve]] plus whether THIS call was a cache hit — the per-key
    * signal a lost-block probe needs. Inferring hit/miss from the
    * global [[buildCount]] delta is racy under concurrent callers: a
    * concurrent build of ANOTHER key bumps the counter and
    * misclassifies this key's hit as a miss, silently skipping the
    * probe that keeps a truncated-lineage cache entry from poisoning
    * its consumers. */
  def resolveWithHit(key: String)(build: => DataFrame): (DataFrame, Boolean) =
    synchronized {
      val now = clock()
      val e = cache.get(key)
      if (e != null && now - e.builtAt < ttlMillis) {
        CachedRelation.globalHits.incrementAndGet()
        (e.df, true)
      }
      else {
        if (e != null) e.df.unpersist(blocking = false)
        val df = build.persist()
        builds.incrementAndGet()
        cache.put(key, Entry(df, now))
        (df, false)
      }
    }

  /** [[resolve]] with cache-HIT validation — the variant every
    * localCheckpoint-backed producer must use. Local checkpoint blocks
    * are non-reliable: an executor death between queries loses them,
    * and the TRUNCATED lineage makes every later consumer action fail
    * unrecoverably for the rest of the TTL. So a hit is checked
    * against the driver's storage listing
    * (`SparkContext.getRDDStorageInfo`): when every checkpointed
    * `LogicalRDD` leaf of the cached frame lists all its
    * partitions as stored, the hit is served without running a job.
    * When the listing cannot vouch — a block is gone, or the listing,
    * which the listener bus feeds, still trails the blocks a build has
    * just written — the hit falls back to a `count()` probe (2 jobs,
    * ≈ 55 ms at `local[4]`), and a lost-block failure of that probe
    * invalidates the key and rebuilds — the cache heals instead of
    * poisoning its whole consumer family. A MISS returns the fresh
    * build unchecked.
    *
    * Hit detection is PER-KEY (resolveWithHit) — a global build-count
    * delta misreads a concurrent build of another key as "this was a
    * miss" and skips the check. Only NonFatal probe failures trigger
    * the heal (an interrupt or OOM must propagate, not silently spend
    * itself on a rebuild); if the rebuild ALSO fails, the original
    * probe failure rides along as a suppressed exception so neither
    * cause is discarded. (Round11Spec kills the blocks of the kNN
    * index and pins the rebuild through this path; CachedRelationSpec
    * pins the job-free hit.)
    */
  def resolveProbed(key: String)(build: => DataFrame): DataFrame = {
    val (df, wasHit) = resolveWithHit(key)(build)
    if (wasHit) {
      try { if (!CachedRelation.checkpointBlocksListed(df)) df.count(); df }
      catch {
        case scala.util.control.NonFatal(probeFailure) =>
          invalidate(key)
          try resolve(key)(build)
          catch {
            case scala.util.control.NonFatal(rebuildFailure) =>
              rebuildFailure.addSuppressed(probeFailure)
              throw rebuildFailure
          }
      }
    } else df
  }

  /** Pre-populate `key` with an externally produced frame (the
    * index-store LOAD path: the frame was deserialized from parquet,
    * not built — it must not count as a builder run). Persisted and
    * TTL'd exactly like a resolve() build; any prior entry is
    * unpersisted first. */
  def put(key: String, df: DataFrame): Unit = synchronized {
    val e = cache.remove(key)
    if (e != null) e.df.unpersist(blocking = false)
    cache.put(key, Entry(df.persist(), clock()))
  }

  /** Times the builder actually ran (cache misses), for specs. */
  def buildCount: Long = builds.get()

  /** Drop one entry (unpersisting) — the lost-block recovery hook:
    * a consumer whose cached frame has truncated lineage (e.g. a
    * localCheckpointed index losing blocks to executor death) cannot
    * recompute it lazily, so it invalidates the key and re-resolves —
    * the builder runs again and the cache heals. */
  def invalidate(key: String): Unit = synchronized {
    val e = cache.remove(key)
    if (e != null) e.df.unpersist(blocking = false)
  }

  /** Drop every entry (unpersisting) — the manual invalidation hook. */
  def invalidateAll(): Unit = synchronized {
    cache.values().forEach(e => e.df.unpersist(blocking = false))
    cache.clear()
  }
}

object CachedRelation {
  /** Process-wide memo-HIT counter across every [[CachedRelation]]
    * instance — the bench-honesty probe: Bench snapshots it around
    * each timed query, and any query whose timing window saw a hit is
    * flagged `memoized` in bench_full.json, so a min-of-N number that
    * measures a cache read (q_community's 0.1 s vs 8.4 s cold) cannot
    * silently absorb a regression in the producer it depends on.
    */
  val globalHits = new AtomicLong()

  /** Does the storage listing show every partition of every
    * checkpointed `LogicalRDD` leaf of `df` as stored? A leaf that is
    * not checkpointed (a `createDataFrame` over an RDD) recomputes
    * from its lineage and needs no blocks. */
  private[operators] def checkpointBlocksListed(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.analyzed.collect {
      case l: LogicalRDD if l.rdd.isCheckpointed => l.rdd.id
    }
    leaves.isEmpty || {
      val listed = df.sparkSession.sparkContext.getRDDStorageInfo.map(i => i.id -> i).toMap
      leaves.forall(id => listed.get(id).exists(i => i.numCachedPartitions == i.numPartitions))
    }
  }
}
