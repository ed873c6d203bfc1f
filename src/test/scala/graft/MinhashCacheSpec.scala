package graft

import graft.queries.DedupOps
import org.scalatest.funsuite.AnyFunSuite

/** The MinHash shingle table is the branch point read by the signature
  * pass and both verify joins, and several public entry points build it
  * over the same docs frame within one session (pairs, index, incremental
  * variants). ADVICE r8: repeated calls used to pin a FRESH cached copy
  * each, all held until session end. The fix memoizes on the semantic hash
  * of the input plan — this spec pins that contract.
  */
class MinhashCacheSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("same input plan returns the SAME cached shingle table instance") {
    val a = DedupOps.minhashBase(spark,
      Tables.documents(spark, sf).select("doc_id", "text"))
    // an independently-constructed but semantically identical plan must
    // key to the same memo entry (no second cache pinned)
    val b = DedupOps.minhashBase(spark,
      Tables.documents(spark, sf).select("doc_id", "text"))
    assert(a eq b)
  }

  test("a different input plan gets its own entry") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val a = DedupOps.minhashBase(spark, docs)
    val b = DedupOps.minhashBase(spark, docs.filter("doc_id % 2 = 0"))
    assert(!(a eq b))
  }

  test("releasable index probe frees its candidate checkpoint") {
    // VERDICT r19 item 4: a library consumer without the daily loop's
    // global sweep needs a per-call release for the probe's internal
    // candidate pin.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    val index = DedupOps.minhashIndex(spark, existing).localCheckpoint(true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (pairs, release) = DedupOps.minhashPairsAgainstIndexReleasable(
      spark, index, existing, fresh)
    pairs.count()
    val during = spark.sparkContext.getPersistentRDDs.keySet
    assert((during -- before).nonEmpty, "no candidate pin was persisted")
    release(); release() // idempotent
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(during.size - after.size >= 1,
      s"release freed nothing (before=${before.size}, during=${during.size}, after=${after.size})")
    DedupOps.releaseAllMinhashBases(spark)
  }

  test("two probes of one batch share one pin until the last release") {
    // Semantically equal candidate plans share one CacheManager entry;
    // the first release must not drop the cache the second call reads.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    val index = DedupOps.minhashIndex(spark, existing).localCheckpoint(true)
    def ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids
    val (_, release1) = DedupOps.minhashPairsAgainstIndexReleasable(
      spark, index, existing, fresh)
    val pinned = ids -- before
    val (_, release2) = DedupOps.minhashPairsAgainstIndexReleasable(
      spark, index, existing, fresh)
    assert(pinned.nonEmpty && ids == before ++ pinned,
      "the second probe did not reuse the first probe's cached candidates")
    release1()
    assert(pinned.subsetOf(ids), "the first release dropped the shared pin")
    release2()
    assert(!pinned.subsetOf(ids), "the last release freed nothing")
    DedupOps.releaseAllMinhashBases(spark)
  }

  test("early release of the probe's pin recomputes every pair") {
    // The candidate pin is a persisted frame, not a localCheckpoint: a
    // release before the consumer's first action costs a recompute from
    // lineage, never a lost block.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 7 =!= 0)
    val fresh = docs.filter(col("doc_id") % 7 === 0)
    val index = DedupOps.minhashIndex(spark, existing).localCheckpoint(true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (pairs, release) = DedupOps.minhashPairsAgainstIndexReleasable(
      spark, index, existing, fresh)
    release()
    val got = pairs.collect().toSet
    assert(got.nonEmpty, "fixture planted no fresh-touching pair")
    assert(got == DedupOps.minhashPairsIncremental(spark, existing, fresh)
      .collect().toSet)
    // the sweep leaves no pin (nor base) of these calls behind
    DedupOps.releaseAllMinhashBases(spark)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"pins left after the sweep: $left")
  }
}
