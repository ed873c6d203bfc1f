package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Corpus-side scale run, the LLM-pipeline analog of MergeScaleBench:
  * N synthetic documents through the full near-dup chain — shingle,
  * native minhash_sig, LSH banding, exact Jaccard verify, large-star/
  * small-star connected components, canonical-keeper apply — plus one
  * scan-local winnow_sel sketch pass over the whole corpus.
  *
  * The synthetic corpus is deterministic from doc_id (SplitMix-style
  * mixing, zipf-ish vocab of 200 common + 20k rare words, 80–270 words
  * per doc); every id ≡ 9 (mod 10) is a near-copy of id−9 with the last
  * three words dropped, so the expected duplicate fraction is 10% and
  * recall is checkable at any N.
  *
  * Usage: runMain graft.CorpusScaleBench [nDocs]  (default 1,000,000;
  * first all-digit arg anywhere; flags accept bare or -- spellings)
  *   --stages    sub-stage attribution of the minhash pair bill (with
  *               --semantic: per-stage task-metric rows)
  *   --semantic  instead run the SemDeDup hierarchical-blocking path at
  *               nDocs synthetic 64-dim embeddings with planted near-dups
  *               and report planted + exact-subsample recall
  *               (VERDICT r11 item 5). --runs=p1,p2m1.4,p2m1.4s1.1,…
  *               selects the (probes, level-1 margin, level-2 margin)
  *               matrix; `frontier` / `exact` name the SemPreset
  *               operating points. --geometry=iso|mog|lowrank picks the
  *               synthetic distribution (VERDICT r13 item 1);
  *               --calibrate prints the coarse d²-ratio quantiles the
  *               margin calibration rule reads.
  *   --daily     instead run the standing-index maintenance loop:
  *               `--days=K` (default 5) successive `--batch=P`-percent
  *               (default 5) batches against an appended-piece band
  *               index, with an end-state equality assert vs the
  *               full-batch pipeline (VERDICT r12 item 5).
  *               `--compact-every=K` (default 0 = never) rewrites the
  *               accumulated pieces into ONE parquet piece whenever
  *               more than K exist — the S11-compactor treatment of the
  *               standing index (VERDICT r13 item 3).
  *               Combined `--semantic --daily` (r14): the SEMANTIC
  *               maintenance loop — frozen two-level quantizer persisted
  *               as parquet, per-day assign→probe-touched-clusters→
  *               piece-append, end-state equality vs the full-batch run
  *               over the same frozen index; same --days/--batch/
  *               --compact-every/--geometry flags. r15 additions:
  *               `--index-probes=N --index-margin=F` run every frozen-
  *               index assignment boundary-margin multiprobed (the
  *               recall knob, VERDICT r14 item 2); `--geometry=drift`
  *               generates day d from a center window slid d+1 steps
  *               off the bootstrap's, and `--retrain-every=K` retrains +
  *               refreezes on the standing corpus every K days
  *               (staleness experiment, VERDICT r14 item 4).
  *               `--prune-verify` (r17, text loop only): semi-join the
  *               exact-verify base to the candidate-touched id set —
  *               the scratch-vs-CPU trade documented on
  *               minhashPairsFromDocs. AUTO-SELECTED above
  *               [[PruneVerifyAutoDocs]] (r18): the unpruned bootstrap
  *               is a guaranteed ENOSPC past the single-disk sort-spill
  *               regime; `--no-prune-verify` forces it off.
  */
object CorpusScaleBench {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic doc text for id (near-dup pairs planted at id%10==9). */
  def docText(id: Long): String = {
    val base = if (id % 10 == 9) id - 9 else id
    var x = mix(base)
    def next(): Long = { x = mix(x); x }
    val n = 80 + (next() >>> 56).toInt / 2 * 3 // 80..270 words
    val keep = if (id % 10 == 9) n - 3 else n // near-copy drops 3 words
    val sb = new java.lang.StringBuilder(keep * 6)
    var k = 0
    while (k < keep) {
      val r = next()
      if (k > 0) sb.append(' ')
      if ((r & 7) < 5) sb.append('w').append(((r >>> 3) % 200).toString)
      else sb.append('r').append(((r >>> 3) % 20000).toString)
      k += 1
    }
    sb.toString
  }

  /** Deterministic synthetic embedding for vec_id (64-dim, unit norm).
    * Every id ≡ 9 (mod 10) is a PLANTED semantic near-dup of id−9: the
    * base vector plus an ε=0.1 deterministic perturbation → cos ≈ 0.995.
    * Unplanted pairs are iid random directions in R⁶⁴ (cos ~ N(0, 1/64)),
    * so at τ = 0.9 the exact above-threshold pair set is the planted set
    * to ~1e-13 per-pair odds — the analytic ground truth the recall
    * figures lean on, CONFIRMED empirically by the brute-force subsample
    * pass in [[semanticRun]]. */
  def synVec(id: Long): Array[Float] = {
    val base = if (id % 10 == 9) id - 9 else id
    var x = mix(base ^ 0x5ca1ab1eL)
    def next(): Double = {
      x = mix(x)
      (x >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val v = new Array[Double](64)
    var i = 0
    while (i < 64) { v(i) = next(); i += 1 }
    if (id % 10 == 9) {
      var y = mix(id ^ 0x0ddba11L)
      def nz(): Double = {
        y = mix(y)
        (y >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
      var j = 0
      while (j < 64) { v(j) += 0.1 * nz(); j += 1 }
    }
    var s2 = 0.0
    var k = 0
    while (k < 64) { s2 += v(k) * v(k); k += 1 }
    val inv = 1.0 / math.sqrt(s2)
    val out = new Array[Float](64)
    var m = 0
    while (m < 64) { out(m) = (v(m) * inv).toFloat; m += 1 }
    out
  }

  /** Anisotropic synthetic geometries (VERDICT r13 item 1): the margin
    * band measured on [[synVec]]'s isotropic N(0, 1/64) cosines may be a
    * geometry artifact, so the sweep must also run on clustered and
    * spectrum-decayed corpora. Same planted-pair construction as synVec
    * (id ≡ 9 mod 10 = base + ε·0.1 perturbation, cos ≈ 0.98+), same unit
    * normalization — only the BASE vector distribution changes:
    *  - `mog`: mixture of 64 Gaussians — base = unit center(c) + 0.45·U
    *    noise, c = hash(base id) mod 64. Within-cluster cosine ≈ 0.5,
    *    cross ≈ 0 — density concentrated around 64 directions, the
    *    "topic cluster" shape real embedding corpora show.
    *  - `lowrank`: axis-aligned spectrum decay — dim i scaled by
    *    e^(−i/48), effective dimension ≈ 40 of 64. The "PCA spectrum"
    *    shape; random cosines widen to ~N(0, 1/40) but stay ~6σ below
    *    τ = 0.9, keeping the planted set the analytic ground truth. */
  def synVecGeo(id: Long, geometry: String): Array[Float] = geometry match {
    case "iso" => synVec(id)
    case "mog" | "lowrank" =>
      val base = if (id % 10 == 9) id - 9 else id
      var x = mix(base ^ 0x5ca1ab1eL)
      def next(): Double = {
        x = mix(x)
        (x >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
      val v = new Array[Double](64)
      if (geometry == "mog") {
        val c = java.lang.Math.floorMod(mix(base ^ 0x10fca7L), 64L)
        var xc = mix(c ^ 0xce17e4L)
        def nc(): Double = {
          xc = mix(xc)
          (xc >>> 11).toDouble / (1L << 53).toDouble - 0.5
        }
        val cen = Array.fill(64)(nc())
        val cn = 1.0 / math.sqrt(cen.map(t => t * t).sum)
        var i = 0
        while (i < 64) { v(i) = cen(i) * cn + 0.45 * next(); i += 1 }
      } else {
        var i = 0
        while (i < 64) { v(i) = next() * math.exp(-i / 48.0); i += 1 }
      }
      if (id % 10 == 9) {
        var y = mix(id ^ 0x0ddba11L)
        def nz(): Double = {
          y = mix(y)
          (y >>> 11).toDouble / (1L << 53).toDouble - 0.5
        }
        var j = 0
        while (j < 64) { v(j) += 0.1 * nz(); j += 1 }
      }
      var s2 = 0.0
      var k = 0
      while (k < 64) { s2 += v(k) * v(k); k += 1 }
      val inv = 1.0 / math.sqrt(s2)
      val out = new Array[Float](64)
      var m = 0
      while (m < 64) { out(m) = (v(m) * inv).toFloat; m += 1 }
      out
    case other => sys.error(s"unknown --geometry '$other' (iso, mog, lowrank)")
  }

  /** [[synVecGeo]]'s `mog` with a SLIDING 64-center window — the drifting
    * corpus for the standing-index staleness experiment (VERDICT r14
    * item 4). Window w draws its 64 mixture centers from [16·w, 16·w+64)
    * of an UNBOUNDED center sequence: consecutive windows share 75 % of
    * their topic mix, and window w shares max(0, 1 − w/4) of it with
    * window 0 (the bootstrap's distribution) — disjoint from day 4 on.
    * Window 0 is bit-identical to `mog`. The planted-pair construction is
    * untouched: both members of a pair share a base id, hence a center,
    * so ground truth stays analytic at every window. */
  def synVecMogWindow(id: Long, window: Int): Array[Float] = {
    val base = if (id % 10 == 9) id - 9 else id
    var x = mix(base ^ 0x5ca1ab1eL)
    def next(): Double = {
      x = mix(x)
      (x >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val v = new Array[Double](64)
    val c = 16L * window + java.lang.Math.floorMod(mix(base ^ 0x10fca7L), 64L)
    var xc = mix(c ^ 0xce17e4L)
    def nc(): Double = {
      xc = mix(xc)
      (xc >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    val cen = Array.fill(64)(nc())
    val cn = 1.0 / math.sqrt(cen.map(t => t * t).sum)
    var i = 0
    while (i < 64) { v(i) = cen(i) * cn + 0.45 * next(); i += 1 }
    if (id % 10 == 9) {
      var y = mix(id ^ 0x0ddba11L)
      def nz(): Double = {
        y = mix(y)
        (y >>> 11).toDouble / (1L << 53).toDouble - 0.5
      }
      var j = 0
      while (j < 64) { v(j) += 0.1 * nz(); j += 1 }
    }
    var s2 = 0.0
    var k = 0
    while (k < 64) { s2 += v(k) * v(k); k += 1 }
    val inv = 1.0 / math.sqrt(s2)
    val out = new Array[Float](64)
    var m = 0
    while (m < 64) { out(m) = (v(m) * inv).toFloat; m += 1 }
    out
  }

  /** VERDICT r11 item 5: the SemDeDup hierarchical-blocking path
    * (semK(N) ≫ FlatKCap → coarse cells + per-cell local Lloyd)
    * wall-measured at N synthetic embeddings, with TWO recall figures:
    * planted recall over the full corpus, and recall against the
    * brute-force exact pair set on a 100 k subsample. */
  private def semanticRun(spark: SparkSession, n: Long, probes: Int,
      margin: Double, subMargin: Double, agg: BenchMetrics, withStages: Boolean,
      geometry: String): Unit = {
    import spark.implicits._
    val tau = 0.9
    val tag0 = f"$geometry p$probes" +
      (if (!margin.isPosInfinity) f"m$margin%.2f" else "") +
      (if (subMargin > 1.0) f"s$subMargin%.2f" else "")
    var lastSnap = agg.snapshot()
    def stage[T](tag: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[sem] $tag0 $tag%-26s $sec%8.2f s")
      // task-metric attribution rows (--semantic --stages, VERDICT r12
      // item 1): where the multiprobe bill lands — task time, GC, spill,
      // shuffle bytes per stage. Settle waits happen after the pre-settle
      // timestamp above, so they never leak into a reported stage wall.
      if (withStages) {
        val now = agg.settled()
        println(agg.row(s"$tag0 $tag", sec, agg.delta(lastSnap, now)))
        lastSnap = now
      }
      (r, sec)
    }
    val t0 = System.nanoTime()
    // input-scaled gen slices, same rule as the doc corpus: fixed 32-way
    // slicing OOM'd the level-2 shuffle's map side at 10 M vectors
    // (312 k deserialized 64-dim arrays per task)
    val genSlices = math.max(32, (n / 30000L).toInt)
    val geo = geometry
    val emb = spark.range(0, n, 1, genSlices).as[Long]
      .mapPartitions(_.map(i => (i, synVecGeo(i, geo)))).toDF("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val (_, genSec) = stage("embedding gen")(emb.count())

    val clusters = queries.SimilarityOps
      .semClustersFromEmb(spark, emb, n, probes, margin, subMargin).cache()
    val ((nClusters, memberships), blockSec) = stage("hierarchical blocking")(
      (clusters.select("cluster").distinct().count(), clusters.count()))
    // memberships / n − 1 = the fraction of extra (probed) rows the
    // level-2 stage and pair verify pay for — blanket probes=2 doubles
    // it; boundary margins should keep it small
    println(f"[sem] $tag0 memberships $memberships (${memberships.toDouble / n}%.3f per vector)")

    val pairs = queries.SimilarityOps.semDupPairs(spark, emb, clusters, tau).cache()
    val (nPairs, pairSec) = stage("in-cluster pair verify")(pairs.count())

    // planted recall over the FULL corpus: pair (id−9, id) found? A miss
    // is attributed to the blocking level that separated it: different
    // coarse cells (cluster >> 40), or same cell but different local
    // sub-cluster — the knob each number argues for is different
    // (level-1 multiprobe vs bigger SemTargetCluster).
    val planted = n / 10
    val ((found, missL1, missL2), _) = stage("planted recall") {
      val hit = pairs
        .filter(col("vec_b") % 10 === 9 && col("vec_a") === col("vec_b") - 9)
        .count()
      // multi-membership-correct attribution: a pair is level-1-separated
      // iff its two cell SETS are disjoint; level-2 iff they share a cell
      // but no sub-cluster
      val pl = clusters.filter(col("vec_id") % 10 === 9)
        .select((col("vec_id") - 9).as("a_id"), col("cluster").as("cb"))
        .join(clusters.select(col("vec_id").as("a_id"), col("cluster").as("ca")),
          Seq("a_id"))
        .groupBy("a_id")
        .agg(
          max((shiftrightunsigned(col("ca"), 40) ===
            shiftrightunsigned(col("cb"), 40)).cast("int")).as("cell_sh"),
          max((col("ca") === col("cb")).cast("int")).as("clus_sh"))
      val l1 = pl.filter(col("cell_sh") === 0).count()
      val l2 = pl.filter(col("cell_sh") === 1 && col("clus_sh") === 0).count()
      (hit, l1, l2)
    }
    val plantedRecall = found.toDouble / planted.toDouble
    println(f"[sem] miss split: $missL1 pairs split across coarse cells, " +
      f"$missL2 split across sub-clusters within a cell")

    // exact ground truth on a 100 k subsample: brute-force all pairs at
    // τ (harness-side loop over a broadcast float matrix — ground truth
    // generation, not an engine operator; ~5·10⁹ dot products)
    val sub = math.min(100000L, n).toInt
    val ((nExact, nHit), exactSec) = stage(s"exact subsample ($sub)") {
      val mat = new Array[Float](sub * 64)
      var i = 0
      while (i < sub) {
        val v = synVec(i.toLong)
        System.arraycopy(v, 0, mat, i * 64, 64)
        i += 1
      }
      val bc = spark.sparkContext.broadcast(mat)
      val chunks = 256
      val exact = spark.range(chunks).as[Long].flatMap { c =>
        val m = bc.value
        val lo = (c * sub / chunks).toInt
        val hi = ((c + 1) * sub / chunks).toInt
        val out = Array.newBuilder[(Long, Long)]
        var a = lo
        while (a < hi) {
          var b = a + 1
          while (b < sub) {
            var dot = 0.0f
            var d = 0
            while (d < 64) { dot += m(a * 64 + d) * m(b * 64 + d); d += 1 }
            if (dot >= tau) out += ((a.toLong, b.toLong)) // unit vectors
            b += 1
          }
          a += 1
        }
        out.result().iterator
      }.toDF("vec_a", "vec_b").cache()
      val ne = exact.count()
      val hit = exact.join(pairs.select("vec_a", "vec_b"),
        Seq("vec_a", "vec_b"), "left_semi").count()
      exact.unpersist()
      bc.destroy()
      (ne, hit)
    }
    val exactRecall = if (nExact == 0) 1.0 else nHit.toDouble / nExact.toDouble

    val total = (System.nanoTime() - t0) / 1e9
    val marginJson = if (margin.isPosInfinity) "null" else f"$margin%.3f"
    println(f"""{"metric":"sem_scale","n_vecs":$n,"geometry":"$geometry","probes":$probes,"margin":$marginJson,"sub_margin":$subMargin%.3f,"memberships":$memberships,"clusters":$nClusters,"pairs":$nPairs,"planted_recall":$plantedRecall%.4f,"exact_sub_pairs":$nExact,"exact_sub_recall":$exactRecall%.4f,"gen_sec":$genSec%.1f,"block_sec":$blockSec%.1f,"pair_sec":$pairSec%.1f,"exact_sec":$exactSec%.1f,"total_sec":$total%.1f,"vecs_per_sec":${n / (blockSec + pairSec)}%.0f}""")
    pairs.unpersist(); clusters.unpersist(); emb.unpersist()
  }

  /** r14: the SEMANTIC standing-index maintenance loop — the SemDeDup
    * twin of [[dailyRun]]. Bootstrap (the last (1 − days·batch%) of ids)
    * trains the frozen two-level quantizer ([[queries.SimilarityOps
    * .semIndexTrain]]), PERSISTS it as parquet (the production shape),
    * and assigns itself through it (piece 0). Each day: assign the fresh
    * batch through the frozen index, pair it against ONLY the standing
    * members of the clusters it touches (cluster populations are ≈ 64 by
    * construction, so the probe bill is ∝ batch — never a corpus
    * re-shuffle), then append the batch's (vec_id, cluster, embedding)
    * rows as a new piece, with the same `--compact-every` parquet-rewrite
    * bound on the piece count. End-state require: bootstrap-internal ∪
    * per-day pair sets must equal the full-batch pipeline over the SAME
    * frozen index, value-exact on (vec_a, vec_b, cos) — cosines are
    * bit-equal because a pair's value never depends on who else shares
    * its cluster group ([[queries.SimilarityOps.semDupPairsAssigned]]).
    *
    * r15 knobs: `indexProbes`/`indexMargin` switch every assignment to
    * the frozen index's boundary-margin multiprobe (VERDICT r14 item 2 —
    * the recall knob; the equality above survives because membership
    * stays a pure per-vector function of the frozen index).
    * `geometry = "drift"` generates day d's batch from [[synVecMogWindow]]
    * window d+1 (bootstrap = window 0) — the staleness experiment
    * (item 4); per-day planted recall and probe-row counts are reported
    * either way. `retrainEvery = K > 0` retrains + refreezes the index on
    * the standing corpus every K days and reassigns the standing pieces
    * through it (one compacted piece — the rewrite IS the compaction);
    * day pairs found under superseded indexes make the single-frozen-
    * index equality inapplicable, so the full-batch oracle is skipped
    * (sym_diff reported as -1) and the claim is the recall curve. */
  private[graft] def semanticDailyRun(spark: SparkSession, n: Long,
      days: Int, batchPct: Int, compactEvery: Int,
      geometry: String, indexProbes: Int = 1,
      indexMargin: Double = Double.PositiveInfinity,
      indexSubMargin: Double = 0.0,
      retrainEvery: Int = 0): Unit = {
    import spark.implicits._
    import queries.SimilarityOps
    val tau = 0.9
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    def stage[T](tag: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[semdaily] $tag%-28s $sec%8.2f s")
      (r, sec)
    }
    val geo = geometry
    val batchN = n * batchPct / 100
    val initLo = batchN * days
    require(initLo > 0 && initLo < n,
      s"days=$days × batch=$batchPct% must leave a non-empty bootstrap corpus (n=$n)")
    require(batchN % 10 == 0 && initLo % 10 == 0,
      "batch and bootstrap boundaries must align to planted-pair decades")
    // drift mode: an id's generator window is derivable from the id alone
    // (bootstrap ids ≥ initLo → window 0, day-d ids → window d+1), so the
    // incremental loop and any oracle see bit-identical vectors
    val batchNC = batchN; val initLoC = initLo
    def embRange(lo: Long, hi: Long) =
      spark.range(lo, hi, 1,
          math.max(cpus, ((hi - lo) / 30000L).toInt)).as[Long]
        .mapPartitions(_.map { i =>
          val v =
            if (geo == "drift")
              synVecMogWindow(i,
                if (i >= initLoC) 0 else (i / batchNC).toInt + 1)
            else synVecGeo(i, geo)
          (i, v)
        })
        .toDF("vec_id", "embedding")
    val init = embRange(initLo, n)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sem-daily").toString

    // bootstrap: train + FREEZE the index on disk (parquet round-trip —
    // lineage-free, exactly what a production run reloads next day)
    val (index0, trainSec) = stage("index train+freeze") {
      val ix = SimilarityOps.semIndexTrain(spark, init, n - initLo)
      ix.coarse.write.mode("overwrite").parquet(s"$dir/coarse")
      ix.sub.write.mode("overwrite").parquet(s"$dir/sub")
      SimilarityOps.SemIndex(
        spark.read.parquet(s"$dir/coarse"), spark.read.parquet(s"$dir/sub"))
    }
    var index = index0 // rebound only by --retrain-every
    val (piece0, bootAssignSec) = stage("bootstrap assign") {
      SimilarityOps.semIndexAssign(spark, init, index, indexProbes,
          indexMargin, indexSubMargin)
        .write.mode("overwrite").parquet(s"$dir/piece_boot")
      spark.read.parquet(s"$dir/piece_boot")
    }
    val (bootPairs, bootPairSec) = stage("bootstrap pairs") {
      val p = SimilarityOps.semDupPairsAssigned(spark, piece0, tau,
        multiAssigned = indexProbes > 1 || indexSubMargin > 1.0)
        .localCheckpoint(true)
      p.count(); p
    }

    var pieces = List(piece0)
    var dayPairs = List.empty[org.apache.spark.sql.DataFrame]
    val daySecs = Array.ofDim[Double](days)
    val assignSecs = Array.ofDim[Double](days)
    val appendSecs = Array.ofDim[Double](days)
    val compactSecs = Array.ofDim[Double](days)
    val retrainSecs = Array.ofDim[Double](days)
    val pieceCounts = Array.ofDim[Int](days)
    val dayPairCounts = Array.ofDim[Long](days)
    val dayRecalls = Array.ofDim[Double](days)
    val probeRows = Array.ofDim[Long](days)
    for (d <- 0 until days) {
      val lo = d.toLong * batchN
      val hi = (d + 1).toLong * batchN
      val fresh = embRange(lo, hi)
      pieceCounts(d) = pieces.length
      // the assign leg is timed SEPARATELY from the probe (r15): day_secs
      // is the standing-index-dependent claim (probe must not grow with
      // the corpus), assign_secs the trivially-∝-batch leg — hiding the
      // latter would understate the day bill
      val (freshA, asnSec) = stage(s"day $d assign") {
        SimilarityOps
          .semIndexAssign(spark, fresh, index, indexProbes, indexMargin,
            indexSubMargin)
          .localCheckpoint(true)
      }
      assignSecs(d) = asnSec
      val (p, sec) = stage(s"day $d probe (${pieces.length} pieces)") {
        val standing = pieces.reduce(_ unionByName _)
        val members = standing.join(
          org.apache.spark.sql.functions.broadcast(
            freshA.select("cluster").distinct()),
          Seq("cluster"), "left_semi")
        val dp = SimilarityOps
          .semDupPairsAssigned(spark, members.unionByName(freshA), tau,
            multiAssigned = indexProbes > 1 || indexSubMargin > 1.0)
          // pairs between two STANDING members of a touched cluster were
          // already found (bootstrap or an earlier day) — keep only pairs
          // touching the fresh id range
          .filter((col("vec_a") >= lo && col("vec_a") < hi) ||
            (col("vec_b") >= lo && col("vec_b") < hi))
          .localCheckpoint(true)
        dayPairCounts(d) = dp.count()
        dp
      }
      daySecs(d) = sec
      // per-day recall through the CURRENT index (the drift/staleness
      // curve, VERDICT r14 item 4): a day's planted pairs sit entirely
      // inside its own id range (both members share a decade), so the
      // day's pair set is the complete evidence. Counted OUTSIDE the
      // timed stage, off the day's checkpointed pairs — the flatness
      // claim on day_secs is untouched.
      dayRecalls(d) = p.filter(col("vec_b") % 10 === 9 &&
        col("vec_a") === col("vec_b") - 9).count().toDouble / (batchN / 10)
      // probe bill in rows: standing members of the clusters the batch
      // touches (occupancy-skew signal — drift concentrates batches into
      // few stale cells long before recall moves). Also untimed.
      probeRows(d) = pieces.reduce(_ unionByName _).join(
        org.apache.spark.sql.functions.broadcast(
          freshA.select("cluster").distinct()),
        Seq("cluster"), "left_semi").count()
      dayPairs ::= p
      val (piece, asec) = stage(s"day $d piece append") {
        freshA.write.mode("overwrite").parquet(s"$dir/piece_d$d")
        spark.read.parquet(s"$dir/piece_d$d")
      }
      appendSecs(d) = asec
      pieces = pieces :+ piece
      if (retrainEvery > 0 && (d + 1) % retrainEvery == 0 && d + 1 < days) {
        // retrain + refreeze on the standing corpus, reassign everything
        // through the new index — the rewrite doubles as compaction, so
        // the piece list collapses to 1 (the drift analog of
        // --compact-every, with the training bill on top)
        val (frozen, rsec) = stage(s"day $d retrain+reassign") {
          // one row per VECTOR: pieces hold one row per membership, and
          // probed flags would otherwise multiply seam vectors through
          // the retrain's cells join (the SemIndexJob.retrain fix,
          // review r16 second pass — pair SETS stayed correct because
          // multiAssigned dedup collapses duplicate emissions, but rows,
          // probe bills and semK were membership-inflated)
          val standingVecs = pieces.map(_.select("vec_id", "embedding"))
            .reduce(_ unionByName _)
            .dropDuplicates("vec_id")
          val cnt = standingVecs.count()
          val ix = SimilarityOps.semIndexTrain(spark, standingVecs, cnt)
          ix.coarse.write.mode("overwrite").parquet(s"$dir/coarse_d$d")
          ix.sub.write.mode("overwrite").parquet(s"$dir/sub_d$d")
          val fr = SimilarityOps.SemIndex(
            spark.read.parquet(s"$dir/coarse_d$d"),
            spark.read.parquet(s"$dir/sub_d$d"))
          val rdir = s"$dir/piece_retrain_d$d"
          SimilarityOps
            .semIndexAssign(spark, standingVecs, fr, indexProbes,
              indexMargin, indexSubMargin)
            .write.mode("overwrite").parquet(rdir)
          pieces = List(spark.read.parquet(rdir))
          fr
        }
        index = frozen
        retrainSecs(d) = rsec
      } else if (compactEvery > 0 && pieces.length > compactEvery) {
        val (merged, csec) = stage(s"day $d compact ${pieces.length} pieces") {
          val cdir = s"$dir/piece_compact_d$d"
          pieces.reduce(_ unionByName _)
            .write.mode("overwrite").parquet(cdir)
          spark.read.parquet(cdir)
        }
        compactSecs(d) = csec
        pieces = List(merged)
      }
    }

    val chained = bootPairs.unionByName(dayPairs.reduce(_ unionByName _))
    val found = chained
      .filter(col("vec_b") % 10 === 9 && col("vec_a") === col("vec_b") - 9)
      .count()
    val bootRecall = bootPairs
      .filter(col("vec_b") % 10 === 9 && col("vec_a") === col("vec_b") - 9)
      .count().toDouble / ((n - initLo) / 10).toDouble
    // end-state equality vs the full-batch pipeline over the SAME frozen
    // index (assign everything, pair in-cluster) — symmetric difference
    // on (vec_a, vec_b, cos) must be empty. Inapplicable under
    // --retrain-every (day pairs were found through superseded indexes):
    // skipped and reported as -1; the retrain run's claim is the per-day
    // recall curve.
    val ((nFull, symDiff), fullSec) =
      if (retrainEvery > 0) ((-1L, -1L), 0.0)
      else stage("full-batch (frozen) oracle") {
        val fullA = SimilarityOps
          .semIndexAssign(spark, embRange(0L, n), index, indexProbes,
            indexMargin, indexSubMargin)
        val full = SimilarityOps
          .semDupPairsAssigned(spark, fullA, tau, multiAssigned = indexProbes > 1 || indexSubMargin > 1.0)
          .cache()
        val nf = full.count()
        val miss = full.join(chained, Seq("vec_a", "vec_b", "cos"), "left_anti").count()
        val extra = chained.join(full, Seq("vec_a", "vec_b", "cos"), "left_anti").count()
        full.unpersist()
        (nf, miss + extra)
      }
    val plantedRecall = found.toDouble / (n / 10).toDouble
    def fmt(xs: Array[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    def fmt4(xs: Array[Double]) = xs.map(x => f"$x%.4f").mkString("[", ",", "]")
    val marginJson =
      if (indexMargin.isPosInfinity) "null" else f"$indexMargin%.4f"
    val subMarginJson =
      if (indexSubMargin > 1.0) f"$indexSubMargin%.4f" else "null"
    println(s"""{"metric":"sem_daily_scale","n_vecs":$n,"geometry":"$geometry","days":$days,"batch":$batchN,""" +
      s""""compact_every":$compactEvery,"retrain_every":$retrainEvery,""" +
      s""""index_probes":$indexProbes,"index_margin":$marginJson,""" +
      s""""index_sub_margin":$subMarginJson,""" +
      s""""train_sec":${f"$trainSec%.1f"},""" +
      s""""boot_assign_sec":${f"$bootAssignSec%.1f"},"boot_pair_sec":${f"$bootPairSec%.1f"},""" +
      s""""day_secs":${fmt(daySecs)},"assign_secs":${fmt(assignSecs)},""" +
      s""""append_secs":${fmt(appendSecs)},""" +
      s""""compact_secs":${fmt(compactSecs)},"retrain_secs":${fmt(retrainSecs)},""" +
      s""""pieces":${pieceCounts.mkString("[", ",", "]")},""" +
      s""""day_pairs":${dayPairCounts.mkString("[", ",", "]")},""" +
      s""""day_recalls":${fmt4(dayRecalls)},""" +
      s""""probe_rows":${probeRows.mkString("[", ",", "]")},""" +
      s""""boot_recall":${f"$bootRecall%.4f"},""" +
      s""""full_pairs":$nFull,"sym_diff":$symDiff,"planted_recall":${f"$plantedRecall%.4f"},""" +
      s""""full_sec":${f"$fullSec%.1f"}}""")
    locally {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    // found > 0 / nFull > 0 guard the claims against vacuous truth: the
    // planted construction guarantees ~n/10 pairs, so an empty pair set
    // means a broken pipeline, not a clean one (this exact failure
    // shipped once: 0-based seed filtering emptied the bootstrap-trained
    // centroids and every set compared 0 == 0)
    require(found > 0, "incremental loop found no planted pairs — pipeline broken")
    if (retrainEvery == 0) {
      require(nFull > 0, "frozen full-batch run found no pairs — pipeline broken")
      require(symDiff == 0,
        s"incremental semantic pair set diverged from the frozen full-batch run by $symDiff rows")
    }
  }

  /** FALLBACK auto-selection cutover for `--prune-verify` (VERDICT r17
    * item 2), used only when the scratch capacity can't be measured:
    * with neither flag given, the daily loop prunes above this doc
    * count. 3 M is the last scale the UNPRUNED bootstrap completed on
    * THIS box's one local disk (5 M ENOSPC'd: the verify exchanges ate
    * > 53 GB of 80 GB free), and the pruned shape measured at-or-under
    * the unpruned wall at every scale (1 M 42.8/55.0 s vs 48.5/59.6;
    * 3 M 113.6/167.5 s) — so past the cutover pruning is strictly
    * safer, and below it the choice is a wash and OFF preserves the
    * shared shingle-cache behavior the verify-SF surface expects. */
  private[graft] val PruneVerifyAutoDocs = 3000000L

  /** FLOOR on the estimated peak scratch bytes of the UNPRUNED
    * bootstrap's verify exchanges, per doc (VERDICT r18 item 4): the
    * sort-merge verify shuffles the full corpus's string shingle arrays
    * on both sides plus their sort spill — the measured anchor is the
    * 5 M-doc ENOSPC at > 53 GB (~11 KB/doc of aggregate scratch on the
    * ~1.2 KB-text synthetic docs); 16 KB/doc rounds up for headroom so
    * the estimate errs toward pruning (the fail-safe direction: pruning
    * costs minutes of extra CPU, not-pruning past capacity costs the
    * whole run). Kept as a floor under the measured-bytes scaling below
    * (VERDICT r19 item 1) so a thin-document corpus never under-floors
    * the fixed per-row overheads (shuffle frames, sort metadata). */
  private[graft] val UnprunedVerifyScratchBytesPerDoc = 16384L

  /** Scratch bytes per byte of document TEXT (VERDICT r19 item 1): the
    * 16 KB/doc constant above encodes the synthetic corpus's ~1.2 KB
    * docs — a real corpus with 10–100 KB texts shingles 10–100× the
    * array bytes, and a corpus-blind constant under-estimates by that
    * factor in the fail-DEADLY direction (the gate chooses the unpruned
    * verify past real capacity → the 5 M-class ENOSPC returns on exactly
    * the fat-document corpora the LLM brief targets). 14×, from the same
    * anchor: 16384 B headroom-rounded scratch / ~1.2 KB text ≈ 13.4,
    * rounded UP so the scaled estimate stays at-or-above the constant on
    * the corpus it was calibrated on. Shingle arrays scale linearly with
    * text bytes (word 5-grams: each input byte lands in ~5 shingles). */
  private[graft] val UnprunedVerifyScratchBytesPerTextByte = 14L

  /** Per-doc scratch estimate from a measured (or caller-supplied)
    * average document-text size; the 16 KB synthetic-corpus floor is
    * retained so the measured basis can only RAISE the estimate. */
  private[graft] def perDocScratchEstimate(avgDocTextBytes: Option[Long]): Long =
    avgDocTextBytes match {
      case Some(b) if b > 0 =>
        math.max(UnprunedVerifyScratchBytesPerDoc,
          b * UnprunedVerifyScratchBytesPerTextByte)
      case _ => UnprunedVerifyScratchBytesPerDoc
    }

  /** Cheap sampled average text bytes/doc for a generic corpus frame:
    * one column-pruned pass over a deterministic 1-in-`oneIn` doc_id
    * slice (pmod, not sample() — the estimate must be stable across
    * re-evaluations). Library callers with a catalog statistic can skip
    * this and pass their own average to [[pruneVerifyChoice]]. */
  private[graft] def sampledAvgDocBytes(docs: org.apache.spark.sql.DataFrame,
      oneIn: Long = 64L): Option[Long] = {
    import org.apache.spark.sql.functions.{avg, col, octet_length, pmod, lit}
    val r = docs.filter(pmod(col("doc_id"), lit(oneIn)) === 0)
      .agg(avg(octet_length(col("text")))).head()
    if (r.isNullAt(0)) None else Some(math.ceil(r.getDouble(0)).toLong)
  }

  /** Explicit flags win both ways; otherwise derive the choice from
    * SCRATCH CAPACITY when it is measurable (VERDICT r18 item 4: the
    * bare 3 M constant encodes THIS box's 80 GB volume — on a cluster
    * with real scratch, pruning at 3 M docs trades CPU for nothing, and
    * on a smaller volume 3 M is already too late): prune iff the
    * estimated unpruned verify scratch exceeds HALF the free
    * spark.local.dir bytes (the other half stays for the shingle cache,
    * checkpointed pairs, and everything else the run co-locates on the
    * same volume). Anchors at 80 GB free: the 5 M ENOSPC estimates at
    * 1.0× of free — far past the gate; 3 M estimates at 0.6×, so on
    * this box the derived rule prunes slightly EARLIER than the old
    * constant (3 M completed unpruned at the measured ~11 KB/doc) —
    * the documented fail-safe direction of the rounded-up estimate,
    * and measured a wash on wall time at that scale. With no capacity
    * estimate the measured 3 M fallback applies. The per-doc scratch
    * estimate scales from the measured (or caller-supplied) average
    * text bytes with the synthetic-corpus 16 KB floor retained
    * ([[perDocScratchEstimate]], VERDICT r19 item 1) — a fat-document
    * corpus flips the choice toward pruning where the bare constant
    * would sail into the ENOSPC. Pinned by IncrementalDedupSpec (both
    * regimes + the fat-doc flip). */
  private[graft] def pruneVerifyChoice(n: Long, explicitOn: Boolean,
      explicitOff: Boolean,
      freeScratchBytes: Option[Long] = None,
      avgDocTextBytes: Option[Long] = None): Boolean =
    if (explicitOn) true
    else if (explicitOff) false
    else freeScratchBytes match {
      case Some(free) if free > 0 =>
        n * perDocScratchEstimate(avgDocTextBytes) > free / 2
      case _ => n > PruneVerifyAutoDocs
    }

  /** Usable bytes across the configured scratch volume(s) — what the
    * unpruned verify exchanges would spill to. Resolution order matches
    * Spark's own (SPARK_LOCAL_DIRS env overrides spark.local.dir
    * overrides java.io.tmpdir), and multiple dirs are DEDUPED BY VOLUME
    * before summing (review r19): the standard
    * `spark.local.dir=/mnt/d1,/mnt/d2` config for shuffle-I/O
    * parallelism usually points at ONE volume, and summing per-dir
    * usable space would double-count it — overstating capacity is the
    * fail-DEADLY direction here (the gate would choose the unpruned
    * verify past real capacity, recreating the 5 M ENOSPC the rule
    * exists to prevent). None when nothing is measurable, which sends
    * [[pruneVerifyChoice]] to its measured 3 M fallback. */
  private[graft] def freeScratchBytes(spark: SparkSession): Option[Long] =
    dedupedUsableBytes(sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp")))

  /** Sum of usable bytes across the DISTINCT volumes behind a
    * comma-separated dir list (spec-pinned: two dirs on one volume
    * count it once). Unreadable/missing dirs are skipped; an empty
    * survivor set is None. */
  private[graft] def dedupedUsableBytes(dirList: String): Option[Long] =
    try {
      val byStore = dirList.split(",").map(_.trim).filter(_.nonEmpty)
        .flatMap { d =>
          try {
            val store = java.nio.file.Files
              .getFileStore(java.nio.file.Paths.get(d))
            // FileStore.name on Linux is the backing device — the
            // volume identity two same-disk dirs share
            Some((store.name + "|" + store.`type`) -> store.getUsableSpace)
          } catch { case _: Throwable => None }
        }
        .toMap.values.filter(_ > 0L)
      if (byStore.isEmpty) None else Some(byStore.sum)
    } catch { case _: Throwable => None }

  /** VERDICT r12 item 5: the standing-index MAINTENANCE path, measured.
    * q_dedup_incremental proves ONE fresh batch against a persisted band
    * index; production runs K successive days — so here: bootstrap a
    * standing corpus (the last 75 % of ids) and its band index, then
    * ingest `days` batches of 5 % each. Each day probes the fresh batch
    * against the index-so-far, then APPENDS only the batch's own banding
    * rows as a new persisted piece (the parquet-partition-add shape: the
    * append bill is ∝ batch, never a rewrite of the standing index).
    * The flatness claim is the per-day probe seconds printed at the end;
    * the correctness claim is the end-state assert — bootstrap-internal
    * pairs ∪ all per-day pairs must equal the full-batch pipeline's pair
    * set on the identical corpus (the q_dedup_incremental oracle-twin
    * idea, iterated K times). */
  private[graft] def dailyRun(spark: SparkSession, n: Long, days: Int,
      batchPct: Int, compactEvery: Int,
      pruneVerify: Boolean = false): Unit = {
    import spark.implicits._
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // shuffle-write accounting per stage() block (r19) — rationale and
    // async-bus/attribution caveats on ShuffleWriteCounter
    val shuffleCounter = new ShuffleWriteCounter(spark.sparkContext)
    // try/finally (ADVICE r19): an exception mid-run — including the
    // end-state symDiff require — must not leak the counter's listener
    // onto the shared SparkContext, where it would silently double-count
    // the next campaign's shuffle writes.
    try {
      // async-bus settling + attribution caveats live on the shared
      // ShuffleWriteCounter (one definition for this loop and the
      // SemIndexJob ticks — VERDICT r19 item 5)
      def settledShuffleBytes(): Long = shuffleCounter.settled()
      def stage[T](tag: String)(f: => T): (T, Double) = {
        val b0 = settledShuffleBytes()
        val t0 = System.nanoTime()
        val r = f
        val sec = (System.nanoTime() - t0) / 1e9
        val gb = (settledShuffleBytes() - b0) / 1e9
        println(f"[daily] $tag%-24s $sec%8.2f s  shuffle_write $gb%7.2f GB")
        (r, sec)
      }
      def docsRange(lo: Long, hi: Long) =
        spark.range(lo, hi, 1,
            math.max(cpus, ((hi - lo) / 30000L).toInt)).as[Long]
          .mapPartitions(_.map(i => (i, docText(i)))).toDF("doc_id", "text")
      val batchN = n * batchPct / 100
      val initLo = batchN * days
      require(initLo > 0 && initLo < n,
        s"days=$days × batch=$batchPct% must leave a non-empty bootstrap corpus (n=$n)")
      val init = docsRange(initLo, n)
      // compacted pieces are parquet rewrites (the S11 compactor shape) —
      // a scratch dir this run owns and deletes
      val compactDir = java.nio.file.Files
        .createTempDirectory("graft-daily-compact").toString

      // bootstrap: the standing corpus's own internal pairs (the one-time
      // full pipeline the daily loop exists to avoid re-running) and its
      // band index — both billed here, not to any day
      // localCheckpoint (not cache): the pair frames survive to the
      // end-state assert, and truncating their lineage lets the loop's
      // per-day broadcasts and shuffle state be GC'd instead of staying
      // reachable through K days of retained plans (the r13 OOM).
      //
      // Pruned regime (r18): INDEX FIRST, pairs FROM the index. The
      // persisted banding rows are exactly what the pairs stage's
      // candidate join and touched set need, and re-deriving them from
      // scratch (the r17 shape) spent one extra full shingle+sign pass
      // per bootstrap — measured 181.8 s pairs + 188.8 s index at 4 M
      // docs before this reuse. The index bands straight off an uncached
      // base either way (ADVICE r17: the memoized base would transiently
      // re-create the O(init-corpus) DISK_ONLY shingle cache next to the
      // checkpointed bootstrap pairs at peak). Unpruned keeps the r12
      // order and the shared memoized base — the verify-SF parity shape.
      val (piece0, bootIxSec) = stage("bootstrap index") {
        val ix = queries.DedupOps
          .minhashIndex(spark, init, uncachedBase = pruneVerify)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        ix.count(); ix
      }
      val (bootPairs, bootPairSec) = stage("bootstrap pairs") {
        (if (pruneVerify)
          queries.DedupOps.minhashPairsFromIndex(spark, init, piece0)
        else queries.DedupOps.minhashPairsFromDocs(spark, init))
          .localCheckpoint(true)
      }
      queries.DedupOps.releaseMinhashBase(spark, init)

      var pieces = List(piece0)
      var dayPairs = List.empty[org.apache.spark.sql.DataFrame]
      val daySecs = Array.ofDim[Double](days)
      val appendSecs = Array.ofDim[Double](days)
      val compactSecs = Array.ofDim[Double](days)
      val pieceCounts = Array.ofDim[Int](days)
      val dayPairCounts = Array.ofDim[Long](days)
      for (d <- 0 until days) {
        val fresh = docsRange(d.toLong * batchN, (d + 1).toLong * batchN)
        val existing =
          if (d == 0) init
          else init.union(docsRange(0L, d.toLong * batchN))
        pieceCounts(d) = pieces.length
        val index = pieces.reduce(_ union _)
        val (p, sec) = stage(s"day $d probe+verify (${pieces.length} pieces)") {
          val dp = queries.DedupOps
            .minhashPairsAgainstIndex(spark, index, existing, fresh)
            .localCheckpoint(true)
          dayPairCounts(d) = dp.count()
          dp
        }
        daySecs(d) = sec
        dayPairs ::= p
        // append = persist ONLY the batch's banding rows as a new piece
        val (piece, asec) = stage(s"day $d band append") {
          val ix = queries.DedupOps.minhashIndex(spark, fresh)
            .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
          ix.count(); ix
        }
        appendSecs(d) = asec
        pieces = pieces :+ piece
        // compact-every-K (VERDICT r13 item 3): the standing index is K
        // appended pieces; unbounded K grows the probe plan's union depth
        // (and, in the parquet-partition-add production shape, its file
        // count). Every K days rewrite ALL pieces into ONE parquet piece —
        // the S11 compactor idea applied to the band index. The compact
        // bill is ∝ index size / K amortized; probing stays flat because
        // the piece count is bounded by K+1. Lineage fully truncates (a
        // parquet read, not a cached union plan).
        if (compactEvery > 0 && pieces.length > compactEvery) {
          val (merged, csec) = stage(s"day $d compact ${pieces.length} pieces") {
            val dir = s"$compactDir/piece_d$d"
            pieces.reduce(_ unionByName _)
              .write.mode("overwrite").parquet(dir)
            spark.read.parquet(dir)
          }
          compactSecs(d) = csec
          pieces.foreach(_.unpersist(false))
          pieces = List(merged)
        }
        // sweep ALL bases, not just `fresh`: the probe shingled an internal
        // touchedExisting frame this caller can't name — K days of those
        // leaked K persisted bases before the sweep existed (r13 OOM).
        // The index pieces themselves stay persisted by design (they ARE
        // the standing state) and were materialized by count(), so
        // dropping the bases costs only a possible recompute while they
        // stay on disk. The sweep ALSO drops the probe's candidate pin
        // and verifyPruned's touched-id pins — persisted frames, so like
        // the bases they only cost a recompute if read again, and this
        // tick's pair frame was already materialized by the
        // localCheckpoint(true)+count above.
        queries.DedupOps.releaseAllMinhashBases(spark)
      }

      // the oracle below is the run's peak scratch consumer (an all-docs
      // re-pair): drop everything the compare no longer needs BEFORE it
      // runs — the standing pieces (the chained pair sets are already
      // checkpointed; the loop is over) and, via an explicit GC pass, the
      // bootstrap/day shuffle files whose dependencies just became
      // unreachable (ContextCleaner removes them asynchronously — at 5 M
      // docs on one local disk their residue was the difference between
      // the oracle fitting and ENOSPC)
      pieces.foreach(_.unpersist(false))
      System.gc()
      Thread.sleep(3000)

      // end-state correctness: bootstrap-internal ∪ per-day pair sets must
      // equal the full-batch pipeline on the same n docs (value-exact on
      // (doc_a, doc_b, jaccard_r) — symmetric difference must be empty)
      val all = docsRange(0L, n)
      val ((nFull, symDiff), fullSec) = stage("full-batch oracle") {
        val full = queries.DedupOps.minhashPairsFromDocs(spark, all, pruneVerify)
          .cache()
        val nf = full.count()
        val chained = bootPairs.unionByName(dayPairs.reduce(_ unionByName _))
          .dropDuplicates("doc_a", "doc_b")
        val miss = full.join(chained, Seq("doc_a", "doc_b", "jaccard_r"),
          "left_anti").count()
        val extra = chained.join(full, Seq("doc_a", "doc_b", "jaccard_r"),
          "left_anti").count()
        full.unpersist()
        (nf, miss + extra)
      }
      queries.DedupOps.releaseMinhashBase(spark, all)
      def fmt(xs: Array[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
      // prune_verify and the run's total shuffle-write ride the artifact
      // line (r19): the per-stage prints carry them live, but the JSON
      // line is what campaign logs get grepped for later — a scale claim
      // ("exchanges ~3.5× smaller") should be re-checkable from the
      // artifact alone, and the regime flag disambiguates which shape a
      // recorded run actually measured.
      val totalShuffleGb = settledShuffleBytes() / 1e9
      println(s"""{"metric":"daily_scale","n_docs":$n,"days":$days,"batch":$batchN,""" +
        s""""compact_every":$compactEvery,"prune_verify":$pruneVerify,""" +
        s""""shuffle_write_gb":${f"$totalShuffleGb%.2f"},""" +
        s""""boot_pair_sec":${f"$bootPairSec%.1f"},"boot_index_sec":${f"$bootIxSec%.1f"},""" +
        s""""day_secs":${fmt(daySecs)},"append_secs":${fmt(appendSecs)},""" +
        s""""compact_secs":${fmt(compactSecs)},""" +
        s""""pieces":${pieceCounts.mkString("[", ",", "]")},""" +
        s""""day_pairs":${dayPairCounts.mkString("[", ",", "]")},""" +
        s""""full_pairs":$nFull,"sym_diff":$symDiff,"full_sec":${f"$fullSec%.1f"}}""")
      // drop the compaction scratch dir (same discipline as the merge bench)
      locally {
        import scala.jdk.CollectionConverters._
        val root = java.nio.file.Paths.get(compactDir)
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      require(symDiff == 0,
        s"daily-chained pair set diverged from the full-batch pipeline by $symDiff rows")
    } finally shuffleCounter.remove()
  }

  def main(args: Array[String]): Unit = {
    // n = the first all-digit arg ANYWHERE in args (ADVICE r12: the old
    // headOption-only check silently dropped `--semantic 3000000` back to
    // the 1 M default). Flags accept both bare and `--` spellings, same
    // as MergeScaleBench.
    val n = args.find(a => a.nonEmpty && a.forall(_.isDigit)).map(_.toLong)
      .getOrElse(1000000L)
    def flag(name: String): Boolean =
      args.contains(name) || args.contains(s"--$name")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Same input-scaled shuffle sizing as MergeScaleBench (r12): the
    // shingle/banding intermediates are ~KB per doc, so fixed cpus-sized
    // partitioning overloads per-task working sets as N grows past the
    // heap's comfort. ~30 k docs per shuffle partition keeps them flat.
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE")
      .map(_.toInt).getOrElse(math.max(cpus.toInt, (n / 30000L).toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // campaign-log hygiene (VERDICT r19 item 4): each localCheckpoint
    // unpersist logs a benign but alarming WARN ("RDD N was locally
    // checkpointed … cannot be recomputed after unpersisting"); here they
    // come from DedupOps.checkpointReleasable (connected-components
    // rounds, sem-dedup loser frames), released after their consumers
    // ran. Suppressed in the campaign MAINS only; library sessions keep it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)

    if (flag("daily")) {
      graft.functions.GraftFunctions.register(spark)
      // --days=K (default 5), --batch=P percent (default 5),
      // --compact-every=K (default 0 = never) — VERDICT r13 items 3 & 5
      def intOpt(name: String, dflt: Int): Int =
        args.find(_.startsWith(s"--$name=")).map(_.stripPrefix(s"--$name=").toInt)
          .getOrElse(dflt)
      // --semantic --daily = the embedding-side maintenance loop (r14);
      // r15: --index-probes/--index-margin (frozen-index multiprobe),
      // --geometry=drift + --retrain-every=K (staleness experiment)
      if (flag("semantic"))
        semanticDailyRun(spark, n, days = intOpt("days", 5),
          batchPct = intOpt("batch", 5),
          compactEvery = intOpt("compact-every", 0),
          geometry = args.find(_.startsWith("--geometry="))
            .map(_.stripPrefix("--geometry=")).getOrElse("iso"),
          indexProbes = intOpt("index-probes", 1),
          indexMargin = args.find(_.startsWith("--index-margin="))
            .map(_.stripPrefix("--index-margin=").toDouble)
            .getOrElse(Double.PositiveInfinity),
          indexSubMargin = args.find(_.startsWith("--index-sub-margin="))
            .map(_.stripPrefix("--index-sub-margin=").toDouble)
            .getOrElse(0.0),
          retrainEvery = intOpt("retrain-every", 0))
      else {
        // verify-side pruning is AUTO-SELECTED from scratch capacity
        // (VERDICT r17 item 2, r18 item 4): past the capacity the
        // unpruned bootstrap is a guaranteed ENOSPC, and the pruned
        // shape measured at-or-under the unpruned wall at EVERY scale —
        // the flag should not be the difference between 33 min and a
        // dead run. Explicit flags still win both ways
        // (--prune-verify / --no-prune-verify).
        val scratch = freeScratchBytes(spark)
        // measured bytes/doc (VERDICT r19 item 1): the corpus here is the
        // deterministic generator, so a 1024-id driver-side stride over
        // [0, n) measures it exactly without a cluster pass; a real-table
        // caller uses sampledAvgDocBytes (one column-pruned sampled scan)
        // or a catalog stat.
        val avgDocBytes = Some {
          val stride = math.max(1L, n / 1024L)
          val ids = 0L until n by stride
          ids.map(docText(_).length.toLong).sum / ids.size
        }
        val pv = pruneVerifyChoice(n, flag("prune-verify"),
          flag("no-prune-verify"), scratch, avgDocBytes)
        val perDoc = perDocScratchEstimate(avgDocBytes)
        val estGb = n * perDoc / (1L << 30)
        val basis = scratch match {
          case Some(b) =>
            s"estimated $estGb GB unpruned scratch (measured " +
              s"~${avgDocBytes.get} B/doc text -> $perDoc B/doc scratch, " +
              s"floor $UnprunedVerifyScratchBytesPerDoc) " +
              s"vs ${b / (1L << 31)} GB free/2"
          case None => s"no scratch estimate, fallback > $PruneVerifyAutoDocs docs"
        }
        println(s"[daily] prune-verify ${if (pv) "ON" else "OFF"} " +
          s"(n=$n, $basis; --prune-verify/--no-prune-verify override)")
        dailyRun(spark, n, days = intOpt("days", 5),
          batchPct = intOpt("batch", 5),
          compactEvery = intOpt("compact-every", 0),
          pruneVerify = pv)
      }
      spark.stop()
      return
    }

    if (flag("semantic")) {
      // Run matrix: p<probes>[m<level-1 margin>][s<level-2 margin>] per
      // comma-separated token, e.g. --runs=p1,p2,p2m1.3,p2m1.3s1.05.
      // Default: the r12 comparison points (one-label baseline, blanket
      // 2-probe) plus the boundary-margin variants (VERDICT r12 items
      // 1 & 4). With --stages each stage also prints a task-metric
      // attribution row (wall/task/GC/spill/shuffle).
      val semStages = flag("stages")
      val semAgg = new BenchMetrics
      if (semStages) spark.sparkContext.addSparkListener(semAgg)
      val geometry = args.find(_.startsWith("--geometry="))
        .map(_.stripPrefix("--geometry=")).getOrElse("iso")
      // per-geometry margin calibration (VERDICT r13 item 1), once per
      // invocation: quantiles of the coarse runner-up/best d² ratio over
      // the SAME level-1 centroids the blocking trains. A vector earns a
      // second membership iff its ratio ≤ margin, so margin = the
      // f-quantile of this distribution buys exactly fraction f of extra
      // memberships — the calibration rule that replaces a fixture-tuned
      // constant: pick f, read the margin off the corpus.
      if (flag("calibrate")) {
        val genSlices = math.max(32, (n / 30000L).toInt)
        val emb = spark.range(0, n, 1, genSlices).as[Long]
          .mapPartitions(_.map(i => (i, synVecGeo(i, geometry))))
          .toDF("vec_id", "embedding")
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        emb.count()
        val qs = Array(0.01, 0.02, 0.05, 0.10, 0.20, 0.50)
        val vals = queries.SimilarityOps.coarseMarginRatios(spark, emb, n)
          .stat.approxQuantile("ratio", qs, 0.001)
        println(s"""{"metric":"sem_margin_calibration","n_vecs":$n,""" +
          s""""geometry":"$geometry",""" +
          qs.zip(vals).map { case (q, v) => f""""q$q%.2f":$v%.5f""" }
            .mkString(",") + "}")
        emb.unpersist()
      }
      val spec = args.find(_.startsWith("--runs="))
        .map(_.stripPrefix("--runs=")).getOrElse("p1,p2,p2m1.4,p2m1.4s1.1")
      val runRe = """p(\d+)(?:m([\d.]+))?(?:s([\d.]+))?""".r
      spec.split(",").map(_.trim).filter(_.nonEmpty).foreach {
        // named operating points — the same constants CorpusBuild's
        // --sem-preset resolves, so the README frontier row is runnable
        // by name (VERDICT r13 item 4)
        case name @ ("frontier" | "exact") =>
          val pr = queries.SimilarityOps.SemPreset.parse(name).get
          semanticRun(spark, n, pr.probes, pr.probeMargin,
            pr.subProbeMargin, semAgg, semStages, geometry)
        case runRe(p, m, sm) =>
          semanticRun(spark, n, p.toInt,
            Option(m).map(_.toDouble).getOrElse(Double.PositiveInfinity),
            Option(sm).map(_.toDouble).getOrElse(0.0), semAgg, semStages,
            geometry)
        case other => sys.error(s"bad --runs token: $other")
      }
      spark.stop()
      return
    }

    // --stages also prints per-stage task-metric attribution rows
    // (wall/task/GC/spill/shuffle) — the corpus twin of MergeScaleBench's
    // droop-attribution mode
    val agg = new BenchMetrics
    val withMetrics = flag("stages")
    if (withMetrics) spark.sparkContext.addSparkListener(agg)
    var lastSnap = agg.snapshot()
    def stage[T](tag: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $tag%-22s $sec%8.2f s")
      if (withMetrics) {
        val now = agg.settled()
        println(agg.row(tag, sec, agg.delta(lastSnap, now)))
        lastSnap = now
      }
      (r, sec)
    }

    val t0 = System.nanoTime()
    // input splits scale with N too (a production run reads ~128 MB
    // file splits, so scan-stage task size is constant at any corpus
    // size; spark.range's default 32-way slicing is what made the
    // winnow/index scan stages superlinear past ~300 k docs)
    val docs = spark.range(0, n, 1, shuffleParts).as[Long]
      .mapPartitions(_.map(i => (i, docText(i)))).toDF("doc_id", "text")
    val (_, genSec) = stage("corpus gen")(docs.count())

    // near-dup pairs: shingle → minhash_sig → band → bucket join → verify
    val pairs = queries.DedupOps.minhashPairsFromDocs(spark, docs).cache()
    val (nPairs, pairSec) = stage("minhash pairs")(pairs.count())

    // connected components over the pair graph (large-star/small-star)
    val nodes = docs.select(col("doc_id").as("vec_id"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val cc = queries.DedupOps.starComponents(edges, nodes)
    val ((nClusters, rounds), ccSec) = stage("connected components") {
      (cc.labels.select("cluster_id").distinct().count(), cc.rounds)
    }

    // apply: keep the minimum doc_id per cluster, drop the rest
    val ((kept, recall), applySec) = stage("dedup apply") {
      val keepers = cc.labels.groupBy("cluster_id")
        .agg(min("vec_id").as("doc_id"))
      val k = keepers.count()
      // planted recall: id%10==9 docs must NOT be keepers (their base
      // doc has the smaller id and ≥0.6 overlap)
      val missed = keepers.filter(col("doc_id") % 10 === 9).count()
      (k, 1.0 - missed.toDouble / (n / 10).toDouble)
    }

    // the pair set has no further consumer — release it BEFORE the warm
    // sub-stage attribution below (r12: at 1 M docs, the warm candidates
    // pass OOM'd the 8 g heap when the pair cache and the shingle cache
    // were co-resident; at 300 k both fit and the ordering didn't matter)
    pairs.unpersist(false)
    // sub-stage attribution on a SECOND pass (shingle cache warm): how
    // the pair bill splits between banding and the exact verify
    if (withMetrics) {
      val cand = queries.DedupOps.minhashCandidatesFromDocs(spark, docs)
      stage("  candidates (warm)")(cand.count())
      stage("  pairs (warm)")(
        queries.DedupOps.minhashPairsFromDocs(spark, docs).count())
    }
    // shingles are done too — several GB of resident cached arrays
    // otherwise pin the storage pool (and the heap's old generation)
    // through the unrelated winnow/index stages that follow (r12: the
    // 1 M winnow pass ran 1.8× its linear cost with the caches resident
    // — the droop the last-consumer release discipline exists to stop)
    queries.DedupOps.releaseMinhashBase(spark, docs)

    // one scan-local winnow sketch pass over the full corpus
    val (nSel, winnowSec) = stage("winnow sketch") {
      queries.DedupOps.winnowSelectedFromDocs(spark, docs)
        .groupBy("doc_id").count().count()
    }

    // incremental ingest, production shape: the standing corpus's band
    // index is PERSISTED state (built once here, billed separately); a
    // 5% fresh batch is shingled+signed, probed against the index, and
    // verified against only the existing docs it actually collides with.
    // The claim behind q_dedup_incremental, measured at N: batch cost
    // tracks the batch, not the corpus.
    val batch = n / 20
    val existingDocs = spark.range(batch, n, 1, shuffleParts).as[Long]
      .mapPartitions(_.map(i => (i, docText(i)))).toDF("doc_id", "text")
    val freshDocs = spark.range(0, batch, 1,
        math.max(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
          (batch / 30000L).toInt)).as[Long]
      .mapPartitions(_.map(i => (i, docText(i)))).toDF("doc_id", "text")
    val (index, indexSec) = stage("band index build") {
      // DISK_ONLY: the standing corpus's band index is persisted state
      // (production keeps it as a parquet table between daily runs) —
      // and an in-heap deserialized copy was the 3 M-doc taper: the
      // ~16·N-row cache squeezed the 8 g heap exactly like the shingle
      // cache did (index_sec 18.7 s at 1 M → 152.6 s at 3 M, 8.2× for
      // 3× docs; DISK_ONLY restores ~linear)
      val ix = queries.DedupOps.minhashIndex(spark, existingDocs)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      ix.count()
      ix
    }
    val (nIncPairs, incSec) = stage("incremental 5% batch") {
      queries.DedupOps
        .minhashPairsAgainstIndex(spark, index, existingDocs, freshDocs)
        .count()
    }
    index.unpersist()

    val total = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"corpus_scale","n_docs":$n,"pairs":$nPairs,"clusters":$nClusters,"cc_rounds":$rounds,"kept":$kept,"planted_recall":$recall%.4f,"winnow_docs":$nSel,"inc_pairs":$nIncPairs,"gen_sec":$genSec%.1f,"pairs_sec":$pairSec%.1f,"cc_sec":$ccSec%.1f,"apply_sec":$applySec%.1f,"winnow_sec":$winnowSec%.1f,"index_sec":$indexSec%.1f,"inc_sec":$incSec%.1f,"total_sec":$total%.1f,"docs_per_sec":${n / total}%.0f}""")
    spark.stop()
  }
}

/** Fixture generator for driving [[graft.jobs.SemIndexJob]] at scale:
  * writes the bench's deterministic synthetic embeddings
  * ([[CorpusScaleBench.synVecGeo]]) for an id range to parquet, so the
  * CLI surface can be exercised on exactly the corpus the
  * `--semantic --daily` bench measures (same planted ground truth, same
  * geometry knobs). Usage:
  *   VectorGen <lo> <hi> <geometry> <outDir> [--window=W]
  * `--window=W` draws from [[CorpusScaleBench.synVecMogWindow]] window W
  * (ignoring <geometry>) — the drift experiment's day-d batch generator,
  * so the CLI auto-retrain trigger can be driven on REAL drift. */
object VectorGen {
  def main(args: Array[String]): Unit = {
    val Array(loS, hiS, geometry, outDir) = args.take(4)
    val (lo, hi) = (loS.toLong, hiS.toLong)
    val window: Option[Int] = args
      .find(_.startsWith("--window=")).map(_.stripPrefix("--window=").toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // campaign-log hygiene (VERDICT r19 item 4): each localCheckpoint
    // unpersist logs a benign but alarming WARN ("RDD N was locally
    // checkpointed … cannot be recomputed after unpersisting"); here they
    // come from DedupOps.checkpointReleasable (connected-components
    // rounds, sem-dedup loser frames), released after their consumers
    // ran. Suppressed in the campaign MAINS only; library sessions keep it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    import spark.implicits._
    val parts = math.max(cpus.toInt, ((hi - lo) / 30000L).toInt)
    spark.range(lo, hi, 1, parts).as[Long]
      .mapPartitions(_.map(i => (i, window match {
        case Some(w) => CorpusScaleBench.synVecMogWindow(i, w)
        case None    => CorpusScaleBench.synVecGeo(i, geometry)
      })))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(outDir)
    println(s"""{"metric":"vector_gen","lo":$lo,"hi":$hi,"geometry":"$geometry","window":${window.getOrElse(-1)},"out":"$outDir"}""")
    spark.stop()
  }
}
