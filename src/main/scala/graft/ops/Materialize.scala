package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of materialization: every cache, local checkpoint and
  * pinned core under `src/main` is made and released here, through one
  * registry per session with two scopes.
  *
  * '''Query scope''' ([[cache]], [[checkpoint]]): intermediates one query
  * reads in several plan branches. The returned lazy plan references the
  * materialized frame, so the operator that made it can never release it;
  * [[scoped]] does, around each query Verify, Bench and Dev run, so
  * storage does not accumulate across queries (ADVICE r1). The registry
  * holds every frame until its scope ends, so EVERY caller needs a scope,
  * streaming ones included: a foreachBatch body runs in
  * [[scoped]] per batch (ComponentStream), or the stream keeps each
  * batch's blocks for as long as it runs.
  *  - [[cache]] persists lazily at MEMORY_AND_DISK: under pressure blocks
  *    spill instead of evicting and recomputing the whole subtree. Its
  *    release is harmless: a later action recomputes.
  *  - [[checkpoint]] is an EAGER local checkpoint (round 12): consumers
  *    get a `LogicalRDD` leaf over materialized blocks. With AQE on, a
  *    multi-consumer plan re-executes a persisted subtree once per
  *    consuming query stage instead of scanning the cache — JobProfile
  *    showed q312's strong-edge frame recomputed ~12× per run (~10 s of
  *    duplicated stage task-time each, 58 s of summed job wall → 7 s
  *    checkpointed), and an eager count() before the consumers did NOT
  *    stop it (39.8 s). The leaf sidesteps the
  *    CacheManager and truncates lineage (smaller plans to canonicalize
  *    per round — the [[Graph]] loop discipline). Its release is
  *    DESTRUCTIVE: the blocks are the only copy, so a later action on a
  *    plan still holding the frame fails with Spark's
  *    `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` instead of recomputing. On a
  *    cluster a reliable `checkpoint` replaces it where executor loss must
  *    not recompute.
  *
  * '''Session scope''' ([[pinned]]): the materialize-once cores a session
  * reuses across queries (kNN graph, shingle table, pair intersections) —
  * reusing intermediates across a session's queries is the tier's whole
  * job (''Incremental … Top-K Similarity Search in Interactive Data
  * Analysis Sessions'', EDBT 2020). The memo builds once per (session,
  * key) and returns the SAME instance, so every consumer's plan shares one
  * CacheManager entry and release is exact. A checkpoint made during a
  * pinned build belongs to the core: the core's uncached partitions
  * recompute from it, so only [[releaseSession]] frees it, with the core.
  * [[releaseSession]] also drops the memo, so the next call rebuilds
  * instead of serving an unpersisted-but-memoized frame (the round-5
  * ADVICE leak); call it too if the data under a key changes.
  *
  * Cores are persisted, NOT checkpointed (round-12 A/B): the tier depends
  * on PLAN-IDENTITY substitution — queries that build their own copy of a
  * core-equal plan (q33/q37/q74/q81/q124/q135/q157...) are served from the
  * CacheManager without touching the memo, and the in-memory relation's
  * size stats keep their joins broadcast-planned. A checkpoint leaf loses
  * both (board: +0.3-1.1 s across the shingle/LSH family, q16 0.15->0.55,
  * q135 0.82->1.94).
  */
object Materialize {

  /** The release of one frame made here, as its tier frees it. */
  private type Held = () => Unit

  /** A pinned core and the checkpoints its build made. Builds of one key
    * serialize on the entry; a build may ask for another key. */
  private final class Pin {
    @volatile private var frame: DataFrame = _
    val owned = new ConcurrentLinkedQueue[Held]()
    def get(build: => DataFrame): DataFrame = synchronized {
      if (frame == null) {
        val outer = building.get
        building.set(this)
        try frame = build.persist(StorageLevel.MEMORY_AND_DISK) finally building.set(outer)
      }
      frame
    }
    def free(): Unit = { if (frame != null) frame.unpersist(blocking = false); owned.forEach(_()) }
  }

  /** The pinned core whose build runs on this thread. */
  private val building = new ThreadLocal[Pin]

  private final class Registry {
    val query = new ConcurrentLinkedQueue[Held]()
    val pins = new ConcurrentHashMap[Any, Pin]()
  }

  private val registries = new ConcurrentHashMap[SparkSession, Registry]()

  /** Registries of stopped sessions are purged on every access, so a JVM
    * cycling sessions keeps no dead ones. */
  private def registry(spark: SparkSession): Registry = {
    registries.keySet.removeIf(_.sparkContext.isStopped)
    registries.computeIfAbsent(spark, _ => new Registry)
  }

  /** `df` persisted for the query scope. A plan already cached (a pinned
    * core, or an earlier cache of the same plan) is left to its owner:
    * `unpersist` drops the CacheManager entry by plan, whoever made it. */
  def cache(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      registry(df.sparkSession).query.add(() => df.unpersist(blocking = false))
    }
    df
  }

  /** `df` checkpointed for the query scope, or for the pinned core whose
    * build is running. */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    Option(building.get).fold(registry(df.sparkSession).query)(_.owned).add(() => release(out))
    out
  }

  /** The session-pinned core for (spark, key), built on first call. */
  def pinned(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    registry(spark).pins.computeIfAbsent(key, _ => new Pin).get(build)

  /** Free the blocks of the checkpoint `df` reads — a [[checkpoint]]
    * result or a projection of one. They live at the RDD layer, which
    * `Dataset.unpersist` never reaches: without this they wait for a
    * driver GC to let the ContextCleaner find them (under a large heap,
    * never). Loops free a superseded round once its successor is
    * materialized. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      .foreach(_.unpersist(blocking = false))

  /** Free the query scope: every [[cache]] and [[checkpoint]] made
    * outside a pinned build since the last release. */
  def releaseQuery(spark: SparkSession): Unit =
    Option(registries.get(spark)).foreach { r =>
      Iterator.continually(r.query.poll()).takeWhile(_ != null).foreach(_())
    }

  /** Free the session scope: every pinned core, the checkpoints their
    * builds made, and the memo (end of a session, or between passes). */
  def releaseSession(spark: SparkSession): Unit =
    Option(registries.get(spark)).foreach { r =>
      r.pins.keySet.forEach(k => Option(r.pins.remove(k)).foreach(_.free()))
    }

  /** `body`, then the query scope's release, also when `body` throws. */
  def scoped[T](spark: SparkSession)(body: => T): T =
    try body finally releaseQuery(spark)
}
