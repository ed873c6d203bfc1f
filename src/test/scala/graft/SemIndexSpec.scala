package graft

import graft.queries.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The standing semantic index (r14): frozen two-level quantizer +
  * appended assignment pieces — the SemDeDup twin of the minhash band
  * index. CI-scale proofs of the properties the daily maintenance loop
  * leans on; the loop's end-state equality itself runs through the job
  * in SemIndexJobSpec. */
class SemIndexSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark

  private def emb(lo: Long, hi: Long) = {
    import spark.implicits._
    spark.range(lo, hi).map(i => (i, gen.synVec(i)))
      .toDF("vec_id", "embedding")
  }

  test("frozen assignment is deterministic, single-label, and id-bounded") {
    val n = 1400L
    val index = SimilarityOps.semIndexTrain(spark, emb(0, n), n)
    val a1 = SimilarityOps.semIndexAssign(spark, emb(0, n), index)
    assert(a1.columns.toSeq == Seq("vec_id", "cluster", "embedding"),
      "assignment must carry the standing-piece schema")
    assert(a1.count() == n, "one label per vector")
    assert(a1.select("vec_id").distinct().count() == n)
    // deterministic: a second pass through the same frozen index agrees
    val a2 = SimilarityOps.semIndexAssign(spark, emb(0, n), index)
    assert(a1.select("vec_id", "cluster")
      .join(a2.select("vec_id", "cluster"), Seq("vec_id", "cluster"), "left_anti")
      .count() == 0, "frozen reassignment diverged")
    // composite (cell << 40) + sub stays within documented bounds
    val bad = a1.filter(shiftrightunsigned(col("cluster"), 40) >=
      SimilarityOps.semK(n) || (col("cluster").bitwiseAND(lit((1L << 40) - 1))) >= (1L << 40))
    assert(bad.count() == 0)
  }

  test("a batch assigned later lands exactly where the full-corpus assignment puts it") {
    // the frozen-geometry property: assignment is per-vector through
    // frozen centroids, so splitting the corpus into arrival batches
    // cannot move anyone. The index trains on an OFFSET id range —
    // the regression case where 0-based seed filtering produced an
    // empty centroid table and this equality held vacuously on empty
    // frames (r14) — hence the count asserts BEFORE the anti-joins.
    val n = 1400L
    val index = SimilarityOps.semIndexTrain(spark, emb(200, n), n - 200)
    assert(index.coarse.count() > 0, "bootstrap-trained coarse table is empty")
    val whole = SimilarityOps.semIndexAssign(spark, emb(0, n), index)
      .select("vec_id", "cluster")
    assert(whole.count() == n, "full-corpus assignment lost vectors")
    val pieces = SimilarityOps.semIndexAssign(spark, emb(0, 200), index)
      .unionByName(SimilarityOps.semIndexAssign(spark, emb(200, n), index))
      .select("vec_id", "cluster")
    assert(whole.join(pieces, Seq("vec_id", "cluster"), "left_anti").count() == 0)
    assert(pieces.join(whole, Seq("vec_id", "cluster"), "left_anti").count() == 0)
  }

  test("frozen assignment plan (map path): no row expansion, no window sort") {
    // under the SubMapMaxRows gate the sub table rides a broadcast
    // lookup map and the argmin is a task-local tight loop — the plan
    // must carry NO per-(vector × sub) expansion and no WindowGroupLimit
    // sort (the shape that OOMed the first 10 M daily run)
    val n = 1400L
    val index = SimilarityOps.semIndexTrain(spark, emb(0, n), n)
    val df = SimilarityOps.semIndexAssign(spark, emb(0, n), index)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // (denseCells' k1-row label-remap window survives in the coarse
    // lineage — benign; the killer shape is the group-LIMIT over the
    // per-(vector × sub) expansion)
    assert(!plan.contains("WindowGroupLimit"),
      s"map-path assignment regressed to a windowed expansion:\n$plan")
    assert(plan.contains("MapPartitions"),
      s"map-path assignment lost its task-local argmin:\n$plan")
  }

  test("frozen assignment plan (joined fallback): skinny map-side WindowGroupLimit, broadcast sub table, one vec_id exchange") {
    // the over-the-gate fallback: the sub-centroid argmin compiles to
    // the Partial-below-Exchange-below-Final WindowGroupLimit shape the
    // multiprobe path pins, over a broadcast-scored sub table — only the
    // winning SKINNY (vec_id, cell, sub, d2) row crosses the exchange;
    // the embedding is re-attached after the cut
    val n = 1400L
    val index = SimilarityOps.semIndexTrain(spark, emb(0, n), n)
    val df = SimilarityOps.semIndexAssignJoined(spark, emb(0, n), index)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("row_number(), 1, Partial")
    val finalIdx = plan.indexOf("row_number(), 1, Final")
    assert(partialIdx >= 0 && finalIdx >= 0,
      s"sub argmin did not compile to a partial+final WindowGroupLimit:\n$plan")
    val exIdx = plan.indexOf("Exchange hashpartitioning(vec_id", finalIdx)
    assert(exIdx >= 0 && exIdx < partialIdx,
      s"no vec_id exchange between the Final and Partial group limits:\n$plan")
    assert(plan.indexOf("BroadcastHashJoin", partialIdx) >= 0 ||
      plan.indexOf("BroadcastNestedLoopJoin", partialIdx) >= 0,
      s"sub-centroid scoring below the group limit is not broadcast:\n$plan")
  }

  test("map path and joined fallback assign bit-identically") {
    // the gate must be invisible: both paths replicate the same
    // float→double d² arithmetic and the same strict-< lower-sub
    // tie-break, so (vec_id, cluster) agree exactly — probed and not
    val n = 1400L
    val index = SimilarityOps.semIndexTrain(spark, emb(0, n), n)
    for ((p, m, sm) <- Seq((1, Double.PositiveInfinity, 0.0), (2, 1.1, 0.0),
        (2, 1.02, 1.1), (1, Double.PositiveInfinity, 1.1))) {
      val a = SimilarityOps.semIndexAssign(spark, emb(0, n), index, p, m, sm)
        .select("vec_id", "cluster")
      val b = SimilarityOps
        .semIndexAssignJoined(spark, emb(0, n), index, p, m, sm)
        .select("vec_id", "cluster")
      assert(a.count() == b.count(),
        s"path cardinality diverged at probes=$p subMargin=$sm")
      assert(a.join(b, Seq("vec_id", "cluster"), "left_anti").count() == 0 &&
        b.join(a, Seq("vec_id", "cluster"), "left_anti").count() == 0,
        s"map vs joined assignment diverged at probes=$p margin=$m subMargin=$sm")
      // membership bound: ≤ probes level-1 cells × ≤ 2 subs per cell
      assert(a.groupBy("vec_id").count()
        .filter(col("count") > p * (if (sm > 1.0) 2 else 1)).count() == 0)
    }
  }

  test("cell ids are dense: ids past 2^23 cannot overflow the composite shift") {
    // ADVICE r14: cell labels were raw seed vec_ids — on a doc-id space
    // past 2^23 the (cell << 40) pack wrapped Long and aliased distinct
    // cells. After the dense remap the max cell id is the cell COUNT − 1
    // regardless of the corpus's id range.
    val lo = 1L << 24 // seed ids would have overflowed the pre-fix pack
    val n = 1400L
    val index = SimilarityOps.semIndexTrain(spark, emb(lo, lo + n), n)
    val maxCell = index.coarse.agg(max(col("c"))).head().getLong(0)
    val k1 = math.ceil(math.sqrt(SimilarityOps.semK(n).toDouble)).toLong
    assert(maxCell < k1, s"cell ids not dense: max $maxCell vs k1 $k1")
    val a = SimilarityOps.semIndexAssign(spark, emb(lo, lo + n), index)
    assert(a.count() == n, "assignment through the offset-trained index lost vectors")
    assert(a.filter(shiftrightunsigned(col("cluster"), 40) >= k1).count() == 0,
      "a composite cluster id carries an out-of-range cell")
  }

  test("every coarse cell owns a sub row, and cross-distribution assignment is total") {
    // ADVICE r14: a coarse cell can end memberless after the last Lloyd
    // update; semIndexAssign joins on the cell id, so a batch vector
    // whose argmin lands there would silently vanish. semIndexTrain now
    // emits the cell's own coarse centroid as sub 0 for such cells.
    val n = 1400L
    val index = SimilarityOps.semIndexTrain(spark, emb(0, n), n)
    val subless = index.coarse.select(col("c").as("cell"))
      .join(index.sub.select("cell").distinct(), Seq("cell"), "left_anti")
    assert(subless.count() == 0, "a coarse cell has no sub rows")
    // totality under distribution shift: vectors the training corpus
    // never saw (a different geometry) must still all land somewhere
    import spark.implicits._
    val shifted = spark.range(5000, 5000 + 600)
      .map(i => (i, gen.synVecGeo(i, "mog")))
      .toDF("vec_id", "embedding")
    assert(SimilarityOps.semIndexAssign(spark, shifted, index).count() == 600,
      "a cross-distribution batch vector was dropped by the sub join")
  }

  test("boundary-margin multiprobe: bounded memberships, primary labels preserved") {
    val n = 1400L
    val index = SimilarityOps.semIndexTrain(spark, emb(0, n), n)
    val single = SimilarityOps.semIndexAssign(spark, emb(0, n), index)
      .select("vec_id", "cluster")
    val probed = SimilarityOps.semIndexAssign(spark, emb(0, n), index,
      probes = 2, probeMargin = 1.1)
    val m = probed.count()
    assert(m >= n && m <= 2 * n, s"memberships $m outside [n, 2n]")
    // the probed assignment is a SUPERSET of the single-probe one: the
    // argmin membership is always kept (rk = 1 bypasses the margin gate)
    assert(single.join(probed.select("vec_id", "cluster"),
      Seq("vec_id", "cluster"), "left_anti").count() == 0,
      "multiprobe dropped a primary (argmin) membership")
    // at most `probes` rows per vector
    assert(probed.groupBy("vec_id").count().filter(col("count") > 2).count() == 0)
  }

  test("sub-map gate derives from the heap budget and degrades, never OOMs") {
    // VERDICT r15 item 7: the broadcast-map fast path's row gate is a
    // heap fraction (1/16 of max heap at ~550 B/row), not a magic count —
    // a small-heap deployment falls to the joined path instead of
    // OOMing at the gate edge
    val g8 = SimilarityOps.subMapMaxRows(8L << 30)
    assert(g8 > 900000L && g8 < 1100000L,
      s"8 GiB heap gate $g8 left the measured-safe ~10^6 band")
    // tiny heap: floor, not zero (and far under the 8 GiB gate)
    assert(SimilarityOps.subMapMaxRows(64L << 20) == 10000L)
    // monotone in the budget, Int-safe at any heap
    assert(SimilarityOps.subMapMaxRows(256L << 30) >
      SimilarityOps.subMapMaxRows(8L << 30))
    assert(SimilarityOps.subMapMaxRows(Long.MaxValue) < Int.MaxValue.toLong)
    // the live gate is the runtime-heap instantiation of the same rule;
    // the session-aware variant mins in spark.executor.memory (a no-op
    // on local[N], where no executor conf is set)
    assert(SimilarityOps.subMapMaxRowsFor(spark) ==
      SimilarityOps.subMapMaxRows(Runtime.getRuntime.maxMemory))
    // budget resolution (ADVICE r16): on a NON-local master with
    // spark.executor.memory unset, executors run at Spark's 1 GiB
    // default — the budget must be that default, not the (possibly
    // huge) driver heap, or the gate admits a broadcast that OOMs
    // default-sized executors
    assert(SimilarityOps.subMapBudgetBytes(None, isLocal = false,
      driverMaxBytes = 64L << 30) == (1L << 30))
    // on local[N] the executor IS the driver JVM — its heap is the budget
    assert(SimilarityOps.subMapBudgetBytes(None, isLocal = true,
      driverMaxBytes = 8L << 30) == (8L << 30))
    // an explicit executor conf wins on a cluster, still capped by the
    // driver heap that must hold the collected map first
    assert(SimilarityOps.subMapBudgetBytes(Some(4L << 30), isLocal = false,
      driverMaxBytes = 8L << 30) == (4L << 30))
    assert(SimilarityOps.subMapBudgetBytes(Some(16L << 30), isLocal = false,
      driverMaxBytes = 8L << 30) == (8L << 30))
  }

  test("q_dedup_incremental_sem runs the exact chain at semK(bootstrap) <= FlatKCap") {
    // ADVICE r15: a bare n > 512 branch crashed any corpus in
    // (512, ~1365] on semIndexTrain's hierarchical-regime require
    // (semK(bootstrap) ≤ FlatKCap there). Such corpora must run the
    // exact chain instead. n = 1000: semK(750) = 12 ≤ 16.
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semgap").toString
    spark.range(0, 1000)
      .map(i => (i, gen.synVec(i), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_dedup_incremental_sem")(spark, dir)
    assert(out.count() > 0,
      "gap-regime corpus produced no pairs — exact-chain fallback broken")
    assert(out.columns.toSeq == Seq("vec_a", "vec_b", "cos"))
  }
}
