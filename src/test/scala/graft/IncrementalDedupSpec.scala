package graft

import graft.queries.DedupOps
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Engine-level equivalence of the incremental pairing path (r8): banding
  * a fresh batch against the standing corpus must find exactly the
  * fresh-touching subset of the full batch pairing — same pairs, same
  * exact-verified Jaccard values — for any split of the corpus.
  */
class IncrementalDedupSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // the pruned verify and the index probe pin internal frames in the
  // shared session's CacheManager; sweep them (and the memoized shingle
  // bases) so later suites start from an unpinned session
  override def afterAll(): Unit = DedupOps.releaseAllMinhashBases(spark)

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
    // the --compact-every path (VERDICT r13 item 3) at spec scale:
    // 4 days of 5 % batches over 20 k synthetic docs, compacting whenever
    // more than 2 pieces accumulate. dailyRun itself REQUIREs sym_diff==0
    // against the full-batch pipeline, so reaching the end IS the assert;
    // this pins the compaction rewrite into the CI suite rather than only
    // the measured bench runs.
    CorpusScaleBench.dailyRun(spark, 20000L, days = 4, batchPct = 5,
      compactEvery = 2)
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

  test("prune-verify auto-selects above the measured single-disk cutover") {
    // VERDICT r17 item 2 + r18 item 4: with neither flag and NO scratch
    // estimate, the daily loop prunes strictly above the 3 M fallback
    // (the last scale the unpruned bootstrap completed on this box's
    // disk — 5 M ENOSPC'd); with a MEASURED capacity the choice derives
    // from estimated-unpruned-scratch vs free/2 instead of the box
    // constant. Explicit flags win both ways at any scale in both
    // regimes.
    import CorpusScaleBench.{pruneVerifyChoice, PruneVerifyAutoDocs,
      UnprunedVerifyScratchBytesPerDoc}
    // fallback regime (no estimate)
    assert(PruneVerifyAutoDocs == 3000000L)
    assert(!pruneVerifyChoice(PruneVerifyAutoDocs, explicitOn = false,
      explicitOff = false))
    assert(pruneVerifyChoice(PruneVerifyAutoDocs + 1, explicitOn = false,
      explicitOff = false))
    assert(pruneVerifyChoice(1000L, explicitOn = true, explicitOff = false))
    assert(!pruneVerifyChoice(10000000L, explicitOn = false,
      explicitOff = true))
    // capacity regime: the 5 M / 80 GB ENOSPC anchor must select prune…
    val free80g = Some(80L << 30)
    assert(pruneVerifyChoice(5000000L, explicitOn = false,
      explicitOff = false, free80g))
    // …while a cluster-sized scratch (10 TB) keeps the shared shingle
    // cache at the same 5 M — pruning there trades CPU for nothing
    assert(!pruneVerifyChoice(5000000L, explicitOn = false,
      explicitOff = false, Some(10L << 40)))
    // a SMALLER volume prunes well below the 3 M box constant (the
    // "too late" direction the constant couldn't express): 1 M docs on
    // 20 GB free estimates past free/2
    assert(pruneVerifyChoice(1000000L, explicitOn = false,
      explicitOff = false, Some(20L << 30)))
    // the gate boundary is exactly estimate > free/2
    val nAtHalf = (40L << 30) / UnprunedVerifyScratchBytesPerDoc
    assert(!pruneVerifyChoice(nAtHalf, explicitOn = false,
      explicitOff = false, free80g))
    assert(pruneVerifyChoice(nAtHalf + 1, explicitOn = false,
      explicitOff = false, free80g))
    // explicit flags still win in the capacity regime
    assert(pruneVerifyChoice(1000L, explicitOn = true, explicitOff = false,
      Some(10L << 40)))
    assert(!pruneVerifyChoice(10000000L, explicitOn = false,
      explicitOff = true, Some(1L << 30)))
    // a degenerate (non-positive) estimate falls back to the constant
    assert(!pruneVerifyChoice(PruneVerifyAutoDocs, explicitOn = false,
      explicitOff = false, Some(0L)))

    // VERDICT r19 item 1: the per-doc estimate scales from MEASURED text
    // bytes with the 16 KB floor retained — a fat-document corpus flips
    // the choice where the corpus-blind constant would not.
    import CorpusScaleBench.{perDocScratchEstimate,
      UnprunedVerifyScratchBytesPerTextByte}
    // thin/synthetic docs sit AT the floor (the calibration corpus:
    // ~1.2 KB text × 14 ≈ 16.8 KB, floor 16.4 KB — same regime)
    assert(perDocScratchEstimate(None) == UnprunedVerifyScratchBytesPerDoc)
    assert(perDocScratchEstimate(Some(500L)) == UnprunedVerifyScratchBytesPerDoc)
    // fat docs scale linearly: 12 KB text → 168 KB/doc scratch
    assert(perDocScratchEstimate(Some(12000L)) ==
      12000L * UnprunedVerifyScratchBytesPerTextByte)
    // degenerate average falls back to the floor
    assert(perDocScratchEstimate(Some(0L)) == UnprunedVerifyScratchBytesPerDoc)
    // the FLIP: 1 M docs on 40 GB free — the constant estimates 16.4 GB
    // ≤ 20 GB (unpruned, which on a real 12 KB-doc corpus is the ENOSPC
    // direction), the measured-bytes estimate 168 GB > 20 GB (prune)
    val free40g = Some(40L << 30)
    assert(!pruneVerifyChoice(1000000L, explicitOn = false,
      explicitOff = false, free40g))
    assert(pruneVerifyChoice(1000000L, explicitOn = false,
      explicitOff = false, free40g, avgDocTextBytes = Some(12000L)))
    // a measured THIN average does not loosen the floor-derived gate
    assert(pruneVerifyChoice(5000000L, explicitOn = false,
      explicitOff = false, Some(80L << 30), avgDocTextBytes = Some(400L)))
  }

  test("sampledAvgDocBytes measures a deterministic text-bytes average") {
    import spark.implicits._
    // 1-in-4 pmod slice of 100 docs: sampled ids 0,4,…,96 — text length
    // = 100 + id, so the expected average is 100 + 48 = 148
    val docs = spark.range(100).map(i => (i, "x" * (100 + i.toInt)))
      .toDF("doc_id", "text")
    assert(CorpusScaleBench.sampledAvgDocBytes(docs, oneIn = 4L)
      .contains(148L))
    // an empty frame yields None (the no-estimate fallback), not a crash
    assert(CorpusScaleBench.sampledAvgDocBytes(docs.limit(0)).isEmpty)
  }

  test("scratch capacity dedupes dirs by backing volume") {
    // review r19: spark.local.dir=/d1,/d2 on ONE volume is the standard
    // shuffle-parallelism config — summing per-dir usable space would
    // double-count the volume and overstate capacity, the fail-DEADLY
    // direction (the gate would pick the unpruned verify past real
    // capacity, recreating the 5 M ENOSPC).
    import CorpusScaleBench.dedupedUsableBytes
    val one = dedupedUsableBytes("/tmp")
    assert(one.exists(_ > 0L))
    // the same volume listed twice (and with a redundant spelling) must
    // not double; usable space moves between calls, so compare within
    // a generous band rather than exactly
    val twice = dedupedUsableBytes("/tmp,/tmp,/tmp/.")
    assert(twice.isDefined)
    assert(twice.get < one.get * 3 / 2,
      s"same-volume dirs double-counted: $twice vs $one")
    // unreadable entries are skipped, not fatal; all-unreadable is None
    assert(dedupedUsableBytes("/does/not/exist,/tmp").isDefined)
    assert(dedupedUsableBytes("/does/not/exist").isEmpty)
    assert(dedupedUsableBytes("").isEmpty)
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
