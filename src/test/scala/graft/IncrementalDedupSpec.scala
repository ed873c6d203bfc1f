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

  // the index probe pins internal frames in the shared session's
  // CacheManager; sweep them (and the memoized shingle bases) so later
  // suites start from an unpinned session
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
