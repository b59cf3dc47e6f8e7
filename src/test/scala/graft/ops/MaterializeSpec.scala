package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

/** The [[Materialize]] lifecycle: one pinned build per (session, key)
  * even under concurrent access, the same instance to every consumer,
  * a rebuild after the session release (not an unpersisted-but-memoized
  * frame — the round-5 ADVICE leak); a released checkpoint fails loudly
  * while a released cache recomputes; a query's cache of a pinned plan
  * does not release the core; `scoped` releases on a throw; and a
  * checkpoint made inside a pinned build lives and dies with the core. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")

  /** Evict the cached blocks behind `df`'s in-memory relation, as memory
    * pressure or a lost executor would: the next read recomputes them
    * from the plan under the cache. */
  private def dropCacheBlocks(df: DataFrame): Unit = {
    val buffers = df.queryExecution.withCachedData.collect {
      case m: InMemoryRelation => m.cacheBuilder.cachedColumnBuffers
    }
    assert(buffers.nonEmpty, "the frame must read a cache")
    buffers.foreach(_.unpersist(blocking = true))
  }

  test("concurrent pinned builds once and hands every caller the same instance") {
    val builds = new AtomicInteger(0)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try Await.result(Future.sequence(List.fill(8)(Future {
        Materialize.pinned(spark, "materialize-spec-concurrent") {
          builds.incrementAndGet()
          Seq(1, 2, 3).toDF("v")
        }
      })), 60.seconds)
      finally pool.shutdown()
    assert(builds.get() == 1, s"expected one build, got ${builds.get()}")
    assert(results.forall(_ eq results.head), "all callers must share one DataFrame instance")
    assert(results.head.count() == 3)
    Materialize.releaseSession(spark)
  }

  test("releaseSession drops the memo: next call rebuilds and re-pins") {
    val builds = new AtomicInteger(0)
    def get() = Materialize.pinned(spark, "materialize-spec-rebuild") {
      builds.incrementAndGet(); Seq(1).toDF("v")
    }
    val first = get()
    assert(get() eq first)
    assert(builds.get() == 1)
    Materialize.releaseSession(spark)
    val second = get()
    assert(!(second eq first), "the release must drop the memoized frame")
    assert(builds.get() == 2)
    assert(second.storageLevel.useMemory || second.storageLevel.useDisk,
      "the rebuilt core must be pinned again")
    Materialize.releaseSession(spark)
  }

  test("an action over a released checkpoint fails with the missing-block error") {
    val ck = Materialize.checkpoint(spark.range(0, 100, 1, 4).toDF("id"))
    val evens = ck.filter(col("id") % 2 === 0)
    assert(evens.count() == 50)
    Materialize.releaseQuery(spark)
    val e = intercept[Exception](evens.collect())
    assert(messages(e).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), messages(e))
  }

  test("a released cache recomputes the same rows") {
    val sq = Materialize.cache(spark.range(0, 100, 1, 4).toDF("id")
      .withColumn("sq", col("id") * col("id")))
    val rows = sq.orderBy("id").collect().toSeq
    assert(sq.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Materialize.releaseQuery(spark)
    assert(sq.storageLevel == StorageLevel.NONE)
    assert(sq.orderBy("id").collect().toSeq == rows)
  }

  test("a query-scope cache of a pinned core's plan leaves the core cached") {
    val core = Materialize.pinned(spark, "materialize-spec-shared") {
      spark.range(0, 50, 1, 2).toDF("id").withColumn("half", col("id") / 2)
    }
    assert(core.count() == 50)
    // a query reading the core through its own cache call (q270's shape)
    assert(Materialize.cache(core).filter(col("id") < 10).count() == 10)
    Materialize.releaseQuery(spark)
    assert(core.storageLevel == StorageLevel.MEMORY_AND_DISK, "the query's release dropped the pinned core")
    Materialize.releaseSession(spark)
    assert(core.storageLevel == StorageLevel.NONE)
  }

  test("scoped releases the query scope when its body throws") {
    val before = persistentIds
    var made: Set[Int] = Set.empty
    intercept[IllegalStateException](Materialize.scoped(spark) {
      Materialize.checkpoint(spark.range(0, 10).toDF("id"))
      Materialize.cache(spark.range(0, 10).toDF("id").withColumn("x", col("id") + 1)).count()
      made = persistentIds -- before
      throw new IllegalStateException("query failed")
    })
    assert(made.size == 2, s"a checkpoint and a cache, got $made")
    assert((persistentIds & made).isEmpty, "the failed query's blocks must be released")
  }

  test("a pinned core whose build checkpoints survives a query-scope release") {
    // the blocking-candidates shape: the core is built over a checkpoint
    // made inside its own build; a recompute of any partition the cache
    // lost reads that checkpoint
    val core = Materialize.pinned(spark, "materialize-spec-core") {
      val keys = Materialize.checkpoint(spark.range(0, 400, 1, 8)
        .select((col("id") % 7).as("k"), col("id")))
      keys.filter(col("k") =!= 3)
    }
    val expected = (0 until 400).count(_ % 7 != 3)
    core.limit(1).collect()
    Materialize.releaseQuery(spark)
    dropCacheBlocks(core)
    assert(core.count() == expected)
    Materialize.releaseSession(spark)
  }

  test("the session release frees the checkpoint a pinned build made") {
    Materialize.releaseQuery(spark)
    Materialize.releaseSession(spark)
    val before = persistentIds
    assert(graft.queries.OlapQueries.knnGraphPinned(spark, "/root/testdata/sf0.001").count() > 0)
    val made = persistentIds -- before
    assert(made.size >= 2, s"the kNN core's cache and its checkpoint, got $made")
    Materialize.releaseQuery(spark)
    Materialize.releaseSession(spark)
    val left = spark.sparkContext.getRDDStorageInfo.filter(i => made(i.id)).map(_.name)
    assert((persistentIds & made).isEmpty && left.isEmpty,
      s"blocks left after the session release: ${persistentIds & made} ${left.mkString(", ")}")
  }
}
