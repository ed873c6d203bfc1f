package graft

import graft.queries.DedupOps
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Engine-level equivalence of the incremental pairing path (r8): banding
  * a fresh batch against the standing corpus must find exactly the
  * fresh-touching subset of the full batch pairing — same pairs, same
  * exact-verified Jaccard values — for any split of the corpus.
  */
class IncrementalDedupSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // the pruned verify and the index probe pin internal frames in the
  // shared session's CacheManager; sweep them (and the memoized shingle
  // bases) so later suites start from an unpinned session
  override def afterAll(): Unit =
    try DedupOps.releaseAllMinhashBases(spark) finally super.afterAll()

  // planted corpus: every doc has a guaranteed near-copy at +1,000,000
  private def docs = DedupOps.withPlanted(spark, dir)

  test("incremental == batch restricted to fresh-touching pairs") {
    for (mod <- Seq(2L, 5L)) {
      val fresh = docs.filter(col("doc_id") % mod === 0)
      val existing = docs.filter(col("doc_id") % mod =!= 0)
      val inc = DedupOps.minhashPairsIncremental(spark, existing, fresh)
        .orderBy("doc_a", "doc_b").collect().toSeq
      val full = DedupOps.minhashPairsFromDocs(spark, docs)
        .filter(col("doc_a") % mod === 0 || col("doc_b") % mod === 0)
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(inc == full, s"split mod=$mod diverges")
      assert(inc.nonEmpty, s"split mod=$mod found no pairs — fixture too sparse")
    }
  }

  test("persisted-index variant equals the inline incremental path") {
    // since r19 this equality ALSO pins the hashed daily verify
    // (VERDICT r18 item 2): minhashPairsAgainstIndex verifies on 64-bit
    // hashed shingles while the inline path here verifies on strings —
    // collect() compares full rows, so the pair sets AND the exact
    // jaccard_r values must survive the hashing bit-identically
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val index = DedupOps.minhashIndex(spark, existing)
    val viaIndex = DedupOps
      .minhashPairsAgainstIndex(spark, index, existing, fresh)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val inline = DedupOps.minhashPairsIncremental(spark, existing, fresh)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(viaIndex == inline)
    assert(viaIndex.nonEmpty)
  }

  test("daily loop with compact-every-K matches the full-batch pipeline") {
    // the standing band index maintained over K days: bootstrap the last
    // 80 % of 20 k synthetic docs, then 4 days of 5 % batches, each probed
    // against the pieces so far and then appended as a new piece; more
    // than 2 pieces are rewritten into one parquet piece. Bootstrap pairs
    // ∪ daily pairs must equal the full-batch pipeline's pair set,
    // value-exact on (doc_a, doc_b, jaccard_r).
    import spark.implicits._
    val (n, days, batch, compactEvery) = (20000L, 4, 1000L, 2)
    def docsRange(lo: Long, hi: Long) =
      spark.range(lo, hi).map(i => (i, gen.docText(i))).toDF("doc_id", "text")
    def pairSet(pairs: DataFrame) =
      pairs.select("doc_a", "doc_b", "jaccard_r").as[(Long, Long, Double)]
        .collect().toSet
    val init = docsRange(days * batch, n)
    val compactDir = Files.createTempDirectory("graft-daily-compact")
    var pieces = List.empty[DataFrame]
    def appendPiece(docs: DataFrame): Unit = {
      val piece = DedupOps.minhashIndex(spark, docs).persist(StorageLevel.DISK_ONLY)
      piece.count()
      pieces :+= piece
    }
    try {
      appendPiece(init)
      var chained = pairSet(DedupOps.minhashPairsFromDocs(spark, init))
      for (d <- 0 until days) {
        val fresh = docsRange(d * batch, (d + 1) * batch)
        val existing = init.union(docsRange(0L, d * batch))
        chained ++= pairSet(DedupOps.minhashPairsAgainstIndex(spark,
          pieces.reduce(_ union _), existing, fresh))
        appendPiece(fresh)
        if (pieces.length > compactEvery) {
          val compacted = compactDir.resolve(s"piece_d$d").toString
          pieces.reduce(_ unionByName _).write.parquet(compacted)
          pieces.foreach(_.unpersist())
          pieces = List(spark.read.parquet(compacted))
        }
        // the probe shingles frames this loop never names; sweep their
        // bases and pins each day, as a long-running loop must
        DedupOps.releaseAllMinhashBases(spark)
      }
      val full = pairSet(DedupOps.minhashPairsFromDocs(spark, docsRange(0L, n)))
      assert(full.nonEmpty, "the corpus planted no pairs — the check is vacuous")
      assert((full -- chained).isEmpty && (chained -- full).isEmpty,
        s"daily-chained pairs diverged: ${(full -- chained).size} missing, " +
          s"${(chained -- full).size} extra")
    } finally {
      pieces.foreach(_.unpersist())
      DedupOps.releaseAllMinhashBases(spark)
      Files.walk(compactDir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  test("pruned verify is result-identical to the unpruned path") {
    // --prune-verify (r17): the candidate-touched semi-join drops only
    // base rows the inner verify join ignores, and hotBucketMembers is
    // EXACTLY the candidate-endpoint set (ids are unique per band, so a
    // doc pairs iff some bucket of its has >= 2 members — plus >= 1
    // fresh member in the incremental regime). Same pairs, same exact
    // jaccard values, both builders.
    val pruned = DedupOps.minhashPairsFromDocs(spark, docs,
        pruneVerify = true)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val unpruned = DedupOps.minhashPairsFromDocs(spark, docs)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(pruned == unpruned)
    assert(pruned.nonEmpty)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val incPruned = DedupOps.minhashPairsIncremental(spark, existing,
        fresh, pruneVerify = true)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val incUnpruned = DedupOps.minhashPairsIncremental(spark, existing, fresh)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(incPruned == incUnpruned)
    assert(incPruned.nonEmpty)
  }

  test("touched-broadcast ceiling derives from spark.driver.maxResultSize") {
    // ADVICE r18: the 64 M static ceiling assumed a driver heap that can
    // COLLECT the set, but the broadcast build's collect is gated by
    // spark.driver.maxResultSize (1g default, never raised by the
    // launchers) — the effective ceiling must fire strictly before that
    // collect can die, at 24 conservative bytes/id.
    import DedupOps.{touchedBroadcastCeiling, TouchedBroadcastMaxIds,
      TouchedBroadcastBytesPerId}
    assert(TouchedBroadcastBytesPerId == 24L)
    // 1g default → ~44.7 M ids, UNDER the 64 M static ceiling
    val oneGig = 1L << 30
    assert(touchedBroadcastCeiling(oneGig) == oneGig / 24)
    assert(touchedBroadcastCeiling(oneGig) < TouchedBroadcastMaxIds)
    // a raised maxResultSize (4g) clears the static ceiling — the
    // heap/broadcast-limit bound takes over
    assert(touchedBroadcastCeiling(4L << 30) == TouchedBroadcastMaxIds)
    // 0 = unlimited in Spark's convention: static ceiling only
    assert(touchedBroadcastCeiling(0L) == TouchedBroadcastMaxIds)
    // the per-call override (the spec fallback test passes 0) still caps
    assert(touchedBroadcastCeiling(oneGig, staticCeiling = 0L) == 0L)
  }

  test("pruned builders refuse a non-deterministic input frame loudly") {
    // ADVICE r17: the pruned regime evaluates the uncached base in three
    // branches and silently drops pairs if `docs` re-evaluates
    // differently; the guard must fire at plan-build time with the
    // localCheckpoint remedy in the message. A checkpointed frame (the
    // remedy itself) passes and stays result-identical.
    val nd = docs.withColumn("salt", rand()).drop("salt")
    val ex = intercept[IllegalArgumentException] {
      DedupOps.minhashPairsFromDocs(spark, nd, pruneVerify = true)
    }
    assert(ex.getMessage.contains("localCheckpoint"))
    val ex2 = intercept[IllegalArgumentException] {
      DedupOps.minhashPairsIncremental(spark,
        nd.filter(col("doc_id") % 5 =!= 0), nd.filter(col("doc_id") % 5 === 0),
        pruneVerify = true)
    }
    assert(ex2.getMessage.contains("localCheckpoint"))
    val pinned = nd.localCheckpoint(true)
    val viaCheckpoint = DedupOps.minhashPairsFromDocs(spark, pinned,
        pruneVerify = true)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val unpruned = DedupOps.minhashPairsFromDocs(spark, docs)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(viaCheckpoint == unpruned)
    // VERDICT r18 item 3: plan-LEVEL nondeterminism must be caught too —
    // Sample's row membership (and an unordered Limit's row choice) is a
    // function of upstream partitioning, which can shift between the
    // three base re-evaluations with every EXPRESSION still
    // deterministic, so the expression-only scan used to wave it through.
    val sampled = docs.sample(0.5, seed = 42L)
    val exS = intercept[IllegalArgumentException] {
      DedupOps.minhashPairsFromDocs(spark, sampled, pruneVerify = true)
    }
    assert(exS.getMessage.contains("Sample") &&
      exS.getMessage.contains("localCheckpoint"))
    val limited = docs.limit(100)
    val exL = intercept[IllegalArgumentException] {
      DedupOps.minhashPairsFromDocs(spark, limited, pruneVerify = true)
    }
    assert(exL.getMessage.contains("Limit") &&
      exL.getMessage.contains("localCheckpoint"))
    // the remedy pins the sampled rows and the pruned result matches the
    // unpruned pipeline over the same checkpointed frame
    val sampledPinned = sampled.localCheckpoint(true)
    val prunedSampled = DedupOps.minhashPairsFromDocs(spark, sampledPinned,
        pruneVerify = true)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val unprunedSampled = DedupOps.minhashPairsFromDocs(spark, sampledPinned)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(prunedSampled == unprunedSampled)
  }

  test("touched-id broadcast ceiling falls back to the unpruned verify") {
    // ADVICE r17: broadcast(touched) is rate-bounded, not law-bounded —
    // past the ceiling the pruned verify must degrade to the sort-merge
    // shape (result-identical) instead of dying mid-broadcast. Forced
    // here with maxBroadcastIds = 0 on hand-built frames.
    import spark.implicits._
    val base = Seq(
      (1L, Seq("a b c", "b c d", "c d e", "d e f")),
      (2L, Seq("a b c", "b c d", "c d e")),
      (3L, Seq("p q r", "q r s", "r s t"))).toDF("doc_id", "sh")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val touched = Seq(1L, 2L, 3L).toDF("doc_id")
    val viaBroadcast = DedupOps.verifyPruned(cand, base, touched)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val viaFallback = DedupOps.verifyPruned(cand, base, touched,
        maxBroadcastIds = 0L)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(viaBroadcast == viaFallback)
    // (1,2) survives at jaccard 3/4; (1,3) is verified away at 0
    assert(viaBroadcast.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
  }

  test("index-fed pruned pairing equals the from-docs pipeline") {
    // r18: the daily loop persists the band index anyway, so the pruned
    // bootstrap feeds its candidate join and touched set from those
    // rows instead of re-banding the corpus — must be pair- and
    // jaccard-exact against the from-scratch builder.
    val ix = DedupOps.minhashIndex(spark, docs, uncachedBase = true)
    val viaIndex = DedupOps.minhashPairsFromIndex(spark, docs, ix)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val fromDocs = DedupOps.minhashPairsFromDocs(spark, docs)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(viaIndex == fromDocs)
    assert(viaIndex.nonEmpty)
  }

  test("empty fresh batch pairs nothing; everything-fresh equals batch") {
    val none = DedupOps.minhashPairsIncremental(spark, docs, docs.limit(0))
    assert(none.count() == 0)
    val all = DedupOps.minhashPairsIncremental(spark, docs.limit(0), docs)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val full = DedupOps.minhashPairsFromDocs(spark, docs)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(all == full)
  }
}
