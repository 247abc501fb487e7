package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.operators.CachedRelation
import graft.operators.PlanStash.Ckpt

/** Pins the TTL-memo semantics of the sink-id build side
  * (reference main.py:53-66): hit within TTL, rebuild after, per-key
  * isolation, persistence of the cached plan — and the job-free hit
  * check of `resolveProbed` over checkpoint-backed frames.
  */
class CachedRelationSpec extends SparkSpec {

  test("resolve within TTL reuses the cached plan; after TTL it rebuilds") {
    var now = 0L
    val cr = new CachedRelation(ttlMillis = 1000L, clock = () => now)
    var builds = 0
    def build = { builds += 1; spark.range(5).toDF() }

    val a = cr.resolve("k")(build)
    now = 999L
    val b = cr.resolve("k")(build)
    assert(builds === 1, "builder re-ran inside the TTL window")
    assert(a eq b, "cache hit must return the same DataFrame (same cached plan)")

    now = 1000L // timeout boundary: reference uses strict <, so this expires
    val c = cr.resolve("k")(build)
    assert(builds === 2, "builder did not re-run after TTL")
    assert(!(c eq a))
    assert(cr.buildCount === 2)
  }

  test("cached entry is persisted and the expired one is unpersisted") {
    var now = 0L
    val cr = new CachedRelation(ttlMillis = 100L, clock = () => now)
    val a = cr.resolve("k")(spark.range(3).toDF())
    assert(a.storageLevel !== StorageLevel.NONE, "build side not persisted")
    now = 200L
    // distinct plan for the rebuild: storageLevel is resolved per
    // logical plan, so an identical plan would mask the unpersist
    val b = cr.resolve("k")(spark.range(4).toDF())
    assert(b.storageLevel !== StorageLevel.NONE)
    // the stale entry's unpersist is async; poll briefly
    val deadline = System.currentTimeMillis() + 5000
    while (a.storageLevel != StorageLevel.NONE && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(a.storageLevel === StorageLevel.NONE, "expired entry still persisted")
    cr.invalidateAll()
  }

  test("keys partition the memo like the reference's str(args) key") {
    val cr = new CachedRelation(ttlMillis = Long.MaxValue)
    var builds = 0
    def build = { builds += 1; spark.range(2).toDF() }
    cr.resolve("sf0.01")(build)
    cr.resolve("sf0.1")(build)
    cr.resolve("sf0.01")(build)
    assert(builds === 2)
    cr.invalidateAll()
  }

  test("ingest anti-join build side goes through the memo (one sink scan per dir)") {
    val before = graft.operators.Ingest.sinkIdCache.buildCount
    val a = graft.operators.Ingest.sinkIds(spark, sf)
    val b = graft.operators.Ingest.sinkIds(spark, sf)
    assert(a eq b, "second resolution within TTL must reuse the cached relation")
    assert(graft.operators.Ingest.sinkIdCache.buildCount <= before + 1)
  }

  test("resolveProbed: a hit over a checkpointed frame runs no Spark job") {
    val cr = new CachedRelation(ttlMillis = Long.MaxValue)
    var builds = 0
    // 3 rows over 4 slices: one checkpoint partition is empty
    def build = { builds += 1; spark.range(0, 3, 1, 4).toDF().ckpt() }
    val a = cr.resolveProbed("k")(build)
    val hits0 = CachedRelation.globalHits.get()
    val (b, jobs) = jobsIn(cr.resolveProbed("k")(build))
    assert(builds === 1)
    assert(b eq a, "a hit must return the cached frame")
    assert(jobs === 0, s"a memo hit ran $jobs Spark job(s)")
    assert(CachedRelation.globalHits.get() === hits0 + 1, "the hit was not counted")
    cr.invalidateAll()
  }

  test("resolveProbed: after its checkpoint blocks are removed, the next resolve rebuilds once") {
    val cr = new CachedRelation(ttlMillis = Long.MaxValue)
    var builds = 0
    def build = { builds += 1; spark.range(0, 40, 1, 4).toDF().ckpt() }
    val a = cr.resolveProbed("k")(build)
    a.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = true)
      case _ =>
    }
    val healed = cr.resolveProbed("k")(build)
    assert(builds === 2, "lost blocks should have triggered exactly one rebuild")
    assert(!(healed eq a))
    assert(healed.count() === 40L)
    cr.resolveProbed("k")(build)
    assert(builds === 2, "the healed entry must serve the next hit")
    cr.invalidateAll()
  }

  test("resolveProbed: a frame over an uncheckpointed RDD is never rebuilt on a hit") {
    val cr = new CachedRelation(ttlMillis = Long.MaxValue)
    var builds = 0
    val schema = StructType(Seq(StructField("id", LongType)))
    def build = {
      builds += 1
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)), 2), schema)
    }
    cr.resolveProbed("k")(build)
    val (_, jobs) = jobsIn((1 to 3).foreach(_ => cr.resolveProbed("k")(build)))
    assert(builds === 1)
    assert(jobs === 0, s"hits over an RDD-backed frame ran $jobs Spark job(s)")
    cr.invalidateAll()
  }
}
