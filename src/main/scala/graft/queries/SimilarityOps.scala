package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over the embedding column: brute-force cosine top-k
  * as the exact baseline (differential-tested), and a random-hyperplane
  * LSH-bucketed variant as the scale path (search only the query's bucket).
  */
object SimilarityOps {

  /** Corpus-derived index sizing (VERDICT r2 item 1): the per-probe
    * candidate set must stay BOUNDED as the corpus grows, so bucket and
    * centroid counts are functions of N, not constants.
    *
    * LSH: planes P = ceil(log2(N / targetBucket)) keeps the expected
    * bucket population ≈ targetBucket constant; multiprobe visits the
    * query bucket plus its P 1-bit neighbors, so a probe touches
    * ≈ (P+1)·targetBucket vectors — a fraction (P+1)/2^P of the corpus
    * that SHRINKS as N grows (0.31 at N=500 → 0.19 at N=2k → ~1e-7 at
    * N=1e10).
    *
    * IVF: k = ceil(sqrt(N)) centroids with nprobe = ceil(sqrt(k)) probed
    * lists scans ≈ N^(3/4) vectors per query — fraction nprobe/k ≈
    * N^(-1/4) → 0. Training stays a fixed 25 % sample, so quantizer cost
    * scales linearly with one pass over a corpus fraction.
    *
    * N itself comes from one `count()` — on parquet that is metadata, not
    * a scan, at any scale.
    */
  private val LshTargetBucket = 64.0

  def lshPlanes(n: Long): Int =
    math.max(4, math.ceil(math.log(n / LshTargetBucket) / math.log(2.0)).toInt)

  def ivfK(n: Long): Int = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  def ivfNprobe(k: Int): Int = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** SemDeDup blocking target: clusters sized so the in-cluster all-pairs
    * cosine stays ≈ SemTargetCluster² comparisons per cluster AT ANY N —
    * k = ⌈N / 64⌉ grows linearly with the corpus, so total pairwise work
    * is k · 64² = O(N), not (N/k)² · k = O(N²/k) with a fixed k. The
    * max(8, ·) floor makes the derived k coincide with the 8-seed
    * oracle chain at verify SF (N = 500 → k = 8), which is what
    * keeps q_dedup_semantic hash-checkable against DuckDB. */
  val SemTargetCluster = 64.0

  /** Composite cluster-id layout: cluster = (cell << SubBits) + sub.
    * ONE constant shared by train (both the in-query blocking and the
    * standing index) and BOTH assign paths (review r17: the 40 was
    * duplicated as two local vals and two literals — a change to one
    * would mis-layout ids with no require firing, and the daily
    * sym_diff can't see it because both sides mis-assign identically). */
  private[graft] val SubBits = 40

  def semK(n: Long): Int = {
    val k = math.ceil(n / SemTargetCluster).toLong
    // loud, not saturated (review r17): Double→Int silently clamps at
    // Int.MaxValue, which would FREEZE k past n ≈ 1.4e11 — per-cluster
    // population then grows with N and the in-cluster all-pairs cosine
    // degrades to O(N²/k) with no error. A corpus that big needs a
    // sharded index layout, and the tool must say so.
    require(k <= Int.MaxValue,
      s"semK($n) = $k overflows Int — the ⌈N/64⌉ single-index sizing " +
        "stops here; shard the corpus across indexes")
    math.max(8, k.toInt)
  }

  /** Named SemDeDup operating points (VERDICT r13 item 4): the
    * [[semClustersFromEmb]] knob triples measured by the 1 M–10 M
    * synthetic-embedding recall sweeps ([[graft.gen.synVecGeo]]),
    * reachable by NAME from CorpusBuild's CLI so the frontier point is
    * user-runnable without code edits. */
  final case class SemPreset(probes: Int, probeMargin: Double,
      subProbeMargin: Double)

  object SemPreset {
    /** One label per vector — the oracle-twin single-assignment contract
      * (recall 0.84 @ 1 M isotropic; the cheapest point). */
    val Exact: SemPreset = SemPreset(1, Double.PositiveInfinity, 0.0)
    /** The measured recall/cost frontier: 2-probe restricted to boundary
      * vectors at level-1 margin 1.02, plus level-2 sub-cluster margin
      * 1.1 (README "SemDeDup operating points": ~0.97 recall at ~1.1×
      * memberships vs blanket 2-probe's ~0.99 at 2.0×). */
    val Frontier: SemPreset = SemPreset(2, 1.02, 1.1)
    /** `off` → None (skip semantic dedup entirely). Unknown names error
      * with the valid set, so a CLI typo can't silently run `exact`. */
    def parse(name: String): Option[SemPreset] = name match {
      case "exact"    => Some(Exact)
      case "frontier" => Some(Frontier)
      case "off"      => None
      case other => sys.error(
        s"unknown --sem-preset '$other' (valid: frontier, exact, off)")
    }
  }

  /** The README calibration rule as a runnable operator (r14): a
    * [[SemPreset]] whose level-1 margin is READ OFF THE CORPUS — the
    * f-quantile of the coarse d²-ratio distribution
    * ([[coarseMarginRatios]]), which buys exactly fraction `f` of extra
    * level-1 memberships on this corpus regardless of its geometry
    * (isotropic q0.10 ≈ 1.004, mixture-of-Gaussians ≈ 1.016,
    * spectrum-decayed ≈ 1.007 — measured in README "r14"). Level-2 keeps
    * the frontier sub-margin. One extra pass over the corpus (broadcast
    * scoring + approxQuantile), billed once per build. */
  private[graft] def calibratedPreset(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame, n: Long,
      f: Double): SemPreset = {
    require(f > 0.0 && f < 1.0, s"quantile fraction f=$f outside (0, 1)")
    val qs = coarseMarginRatios(s, emb, n)
      .stat.approxQuantile("ratio", Array(f), 0.001)
    // loud, diagnostic failure instead of a bare NoSuchElementException
    // (review r19): on a (near-)identical corpus the trained coarse
    // quantizer collapses to ONE live centroid — no vector has a
    // runner-up cell, every ratio is NULL, and approxQuantile (which
    // ignores nulls) returns an empty array. A margin is meaningless
    // there; name the degeneracy and the way out.
    require(qs.nonEmpty,
      "margin calibration found no runner-up coarse cells — the trained " +
        "quantizer collapsed to a single live centroid (a (near-)identical " +
        "corpus); multi-probe margins are meaningless on it. Run with " +
        "--sem-preset=frontier, =exact, or =off instead of =calibrated")
    SemPreset(2, qs.head, SemPreset.Frontier.subProbeMargin)
  }

  /** [[semClustersFromEmb]] with a named operating point. */
  private[graft] def semClustersFromEmb(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame, n: Long,
      preset: SemPreset): org.apache.spark.sql.DataFrame =
    semClustersFromEmb(s, emb, n, preset.probes, preset.probeMargin,
      preset.subProbeMargin)

  /** Margin-calibration diagnostic (VERDICT r13 item 1): per vector, the
    * runner-up/best coarse-cell d² ratio over the SAME level-1 centroids
    * [[semClustersFromEmb]] trains. [[assignVecProbes]] keeps a second
    * membership iff ratio ≤ probeMargin, so the f-quantile of this
    * distribution IS the margin that buys fraction f of extra
    * memberships on THIS corpus — a per-geometry calibration rule
    * instead of a fixture-tuned constant. Same plan shape as the probe
    * path: broadcast centroids, map-side WindowGroupLimit to 2 rows per
    * vector, one vec_id shuffle. */
  private[graft] def coarseMarginRatios(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame, n: Long): org.apache.spark.sql.DataFrame = {
    import graft.functions.VecOps.vec_dot
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val k = semK(n)
    require(k > FlatKCap, s"margin calibration is a hierarchical-path tool; semK($n)=$k")
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val w = Window.partitionBy("vec_id")
    emb.crossJoin(broadcast(trainVecCentroids(emb, k1)))
      .withColumn("d2",
        vec_dot(col("embedding"), col("embedding"))
          - lit(2.0) * vec_dot(col("embedding"), col("m"))
          + vec_dot(col("m"), col("m")))
      // SKINNY before the window (review r17): the group-limit sort must
      // carry (vec_id, c, d2) only — with the embedding + centroid
      // arrays aboard, the N×k1 scored expansion is the exact
      // allocation shape the r15 note below records OOMing at 10 M
      .select(col("vec_id"), col("c"), col("d2"))
      .withColumn("rk", row_number().over(w.orderBy(col("d2"), col("c"))))
      .filter(col("rk") <= 2)
      .groupBy("vec_id")
      .agg(min(when(col("rk") === 1, col("d2"))).as("d_best"),
        min(when(col("rk") === 2, col("d2"))).as("d_second"))
      // float cancellation can push a tiny d² below 0 — on a
      // duplicate-heavy corpus the copies' cell centroid EQUALS the
      // duplicated vector, so d_best cancels to ±1e-16 with random sign.
      // Clamp BOTH distances at 0 and the ratio at 1 (review r19): the
      // old denominator-only clamp let a negative d_second produce a
      // ratio near -1e284, dragging the calibration quantile negative
      // and silently degrading the calibrated preset to single-probe.
      // A duplicate's legitimately huge positive ratio ("the runner-up
      // cell is relatively far — no second probe needed") lands above
      // any low quantile and leaves the margin representative. The NULL
      // case (no runner-up cell exists — the quantizer collapsed to one
      // live centroid) must stay NULL: Spark's greatest() SKIPS nulls,
      // so the bare clamp would manufacture ratio = 1.0 rows there and
      // defeat calibratedPreset's empty-quantile degeneracy detection.
      .select(col("vec_id"),
        when(col("d_second").isNull, lit(null).cast("double"))
          .otherwise(greatest(greatest(col("d_second"), lit(0.0)) /
            greatest(col("d_best"), lit(1e-300)), lit(1.0))).as("ratio"))
  }

  /** SemDeDup LOSER set (doc_id) over any (vec_id, embedding) frame at a
    * named operating point: blocking → in-cluster pairwise cosine at
    * `tau` → min-label components → every non-canonical member. The
    * CorpusBuild hook: drop the losers, keep everything else (a doc with
    * no embedding can never be detected — it is kept, same declared
    * semantics as q_dedup_apply). Below the hierarchical floor
    * (semK(n) ≤ 8, i.e. n ≤ 512) the preset knobs have no level-1/level-2
    * structure to act on, so a flat 8-centroid quantizer stands in. */
  /** Returns the loser doc ids plus a release hook. The connected-
    * components loop materializes eagerly (per-round localCheckpoints),
    * so the loser set is itself checkpointed here — O(dup rate × N) rows,
    * small by construction — and the corpus-sized CC label frame is freed
    * IMMEDIATELY (ADVICE r14); the hook frees the loser checkpoint and
    * must run after its last consumer. */
  private[graft] def semLosers(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame, preset: SemPreset,
      tau: Double = 0.9): (org.apache.spark.sql.DataFrame, () => Unit) = {
    val n = emb.count()
    val clusters =
      if (semK(n) > 8) semClustersFromEmb(s, emb, n, preset)
      else {
        graft.functions.GraftFunctions.register(s)
        assignVec(emb, trainVecCentroids(emb, 8))
          .select(col("vec_id"), col("c").as("cluster"))
      }
    // checkpoint the pair set BEFORE the CC loop (review r17): the loop
    // joins `edges` once per round, and an uncached lineage would re-run
    // the whole blocking + in-cluster cosine pipeline each time — the
    // other CC caller, ccLabels, pins its edges first (stage timings come
    // from the benchmark's traced run, dumpsterbench/README.md).
    // multiAssigned tracks the blocking actually used
    // (review r19): only the hierarchical branch with probing knobs can
    // co-locate a pair twice — the flat fallback and single-probe
    // presets are provably single-membership, so their pair-dedup
    // exchange is skipped.
    val multi = semK(n) > FlatKCap &&
      (preset.probes > 1 || preset.subProbeMargin > 1.0)
    val (pairs, relPairs) = DedupOps.checkpointReleasable(
      semDupPairs(s, emb, clusters, tau, multiAssigned = multi))
    val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .union(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val cc = DedupOps.minLabelComponents(edges, emb.select("vec_id"))
    val (losers, release) = DedupOps.checkpointReleasable(cc.labels
      .filter(col("vec_id") =!= col("cluster_id"))
      .select(col("vec_id").as("doc_id")))
    cc.release()
    relPairs()
    (losers, release)
  }

  /** Fraction of the corpus one LSH multiprobe query touches (expected). */
  def lshProbeFraction(n: Long): Double = {
    val p = lshPlanes(n)
    (p + 1).toDouble / (1L << p).toDouble
  }

  /** Fraction of the corpus one IVF query scans (expected). */
  def ivfProbeFraction(n: Long): Double = {
    val k = ivfK(n)
    ivfNprobe(k).toDouble / k
  }

  /** PQ building blocks shared by q_embed_pq and q_sim_ann_pq. */
  private object Pq {
    import org.apache.spark.sql.DataFrame

    /** Trained-once PQ index per (session, dataset): (codebook c1, code
      * table). In production PQ training is an offline index build and
      * every query reads the same artifact, so the three PQ queries share
      * one cached training chain — the same shape as
      * MempoolParse.mergeOutput and DedupOps.pairsCache. Bench pins the
      * build cost to q_embed_pq. */
    private val memo =
      scala.collection.concurrent.TrieMap.empty[(Int, String), (DataFrame, DataFrame)]

    def trained(s: SparkSession, dir: String): (DataFrame, DataFrame) =
      SessionCaches.memoize(memo, (System.identityHashCode(s), dir), {
        SessionCaches.onRelease(s, s"sim.pq:$dir")(() => release(s, dir))
        // the oracle's algorithm (strided-16 seeds, one Lloyd round over
        // the 25% sample, per-subspace argmin) scored array-native on
        // 8-dim slices by the codegen vec_nearest — no per-dim explode of
        // the corpus and no decimal arithmetic. The codebook keeps the
        // per-dim (c, i, cv) shape the ADC LUT joins consume.
        graft.functions.GraftFunctions.register(s)
        val sl = slices(s, dir)
        val c1 = codebookF(sl).cache()
        val codes = assignF(sl, cents8(c1)).cache()
        (c1, codes)
      })

    /** (vec_id, sub, e8): the 8 contiguous 8-dim slices of each vector —
      * literal-offset `slice` (codegen'd), 8 rows per vector. */
    private def slices(s: SparkSession, dir: String): DataFrame =
      Tables.embeddings(s, dir)
        .select(col("vec_id"), explode(array((0 until 8).map(b =>
          struct(lit(b).cast("long").as("sub"),
            slice(col("embedding"), b * 8 + 1, 8).as("e8"))): _*)).as("s"))
        .select(col("vec_id"), col("s.sub").as("sub"),
          transform(col("s.e8"), _.cast("double")).as("e8"))

    /** Regroup the per-dim codebook rows into (c, sub, m8 arrays). */
    private def cents8(c1: DataFrame): DataFrame =
      c1.groupBy(col("c"), floor((col("i") - 1) / 8).as("sub"))
        .agg(array_sort(collect_list(struct(col("i"), col("cv")))).as("im"))
        .select(col("c"), col("sub"), transform(col("im"), _.getField("cv")).as("m8"))

    /** vec_nearest argmin per (vector, subspace) with the oracle's (d2, c)
      * ordering, per row (no n·k expansion, no SortAggregate, no exchange
      * — the same rewrite as [[SimilarityOps.assignVec]], pinned by
      * VecNearestSpec). */
    private def assignF(rows: DataFrame, cents: DataFrame): DataFrame = {
      graft.functions.GraftFunctions.register(rows.sparkSession)
      val bySub = cents.groupBy("sub")
        .agg(collect_list(struct(col("c"), col("m8").as("m"))).as("cm"))
      rows.join(broadcast(bySub), Seq("sub"))
        .select(col("vec_id"), col("sub"),
          graft.functions.VecOps.vec_nearest(col("e8"), col("cm")).as("c"))
        .filter(col("c").isNotNull)
    }

    /** Trained codebook: strided-16 seeds ([[stridedSeedIds]], mirrored
      * in [[OracleCtes]]' pqsid CTE), one Lloyd round over the
      * deterministic 25% sample, means emitted straight in the per-dim
      * (c, i, cv) consumer shape. */
    private def codebookF(sl: DataFrame): DataFrame = {
      val samp = sl.filter(col("vec_id") % 4 === 0)
      val c0 = restrictToStridedSeeds(sl, 16)(sl)
        .select(col("vec_id").as("c"), col("sub"), col("e8").as("m8"))
      val a1 = assignF(samp, c0)
      samp.join(a1, Seq("vec_id", "sub"))
        .select(col("c"), col("sub"), posexplode(col("e8")))
        .groupBy(col("c"), (col("sub") * 8 + col("pos") + 1).as("i"))
        .agg(avg(col("col")).as("cv"))
    }

    def release(s: SparkSession, dir: String): Unit =
      memo.remove((System.identityHashCode(s), dir)).foreach { case (c1, codes) =>
        c1.unpersist(false); codes.unpersist(false)
      }

    /** (vec_id, i, sub, v): 1-based dim i, subspace sub = (i−1) div 8. */
    def flat(s: SparkSession, dir: String): DataFrame =
      Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).as("i"),
          floor(col("pos") / 8).as("sub"), col("col").cast("double").as("v"))

    /** The shared SQL chain: flat → sample-trained codebook c1 → codes. */
    val OracleCtes: String =
      """flat AS (
        |  SELECT vec_id, i, (i - 1) // 8 AS sub, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |samp AS (SELECT * FROM flat WHERE vec_id % 4 = 0),
        |pqspan AS (SELECT MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM embeddings),
        |pqsid AS (SELECT MIN(vec_id) AS vec_id FROM embeddings, pqspan
        |          GROUP BY ((vec_id - lo) * 16) // (hi - lo + 1)),
        |c0 AS (SELECT f.vec_id AS c, f.i, f.v AS cv
        |       FROM flat f JOIN pqsid ON f.vec_id = pqsid.vec_id),
        |d1 AS (
        |  SELECT f.vec_id, f.sub, c0.c,
        |    SUM(CAST((f.v - c0.cv) * (f.v - c0.cv) AS DECIMAL(28,12))) AS d2
        |  FROM samp f JOIN c0 ON f.i = c0.i GROUP BY 1, 2, 3),
        |a1 AS (
        |  SELECT vec_id, sub, c FROM (
        |    SELECT vec_id, sub, c,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rk
        |    FROM d1) WHERE rk = 1),
        |c1 AS (
        |  SELECT a1.c, f.i,
        |    CAST(SUM(CAST(f.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
        |  FROM samp f JOIN a1 ON f.vec_id = a1.vec_id AND f.sub = a1.sub
        |  GROUP BY 1, 2),
        |d2t AS (
        |  SELECT f.vec_id, f.sub, c1.c,
        |    SUM(CAST((f.v - c1.cv) * (f.v - c1.cv) AS DECIMAL(28,12))) AS d2
        |  FROM flat f JOIN c1 ON f.i = c1.i GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, sub, c FROM (
        |    SELECT vec_id, sub, c,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rk
        |    FROM d2t) WHERE rk = 1)""".stripMargin
  }

  /** Coarse k-means distance table (vec_id, c, d²) after one Lloyd round
    * from the strided-8 seeds — the chain q_embed_kmeans hashes against
    * DuckDB ([[KmeansOracleCtes]]), reused verbatim as the IVF-PQ coarse
    * quantizer. Trained once per (session, dataset) and cached, like
    * [[Pq.trained]]; Bench pins the build cost to q_embed_kmeans. */
  private object Coarse {
    import org.apache.spark.sql.DataFrame

    private val memo =
      scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

    def d2(s: SparkSession, dir: String): DataFrame =
      SessionCaches.memoize(memo, (System.identityHashCode(s), dir), {
        SessionCaches.onRelease(s, s"sim.coarse:$dir")(() => release(s, dir))
        train(s, dir).cache()
      })

    /** The oracle's algorithm — strided-8 seeds, one full-set Lloyd
      * round, all-centroid distance table — scored array-native by the
      * codegen vec_dot with float sums: no 64× dim explode, no decimal
      * arithmetic, no per-(vec, centroid) join rows beyond the k-way
      * broadcast cross. */
    private def train(s: SparkSession, dir: String): DataFrame = {
      graft.functions.GraftFunctions.register(s)
      import graft.functions.VecOps.vec_dot
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
      def dists(cents: DataFrame) =
        emb.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("c"),
            (vec_dot(col("e"), col("e")) - lit(2.0) * vec_dot(col("e"), col("m"))
              + vec_dot(col("m"), col("m"))).as("d2"))
      // the strided seed rule ([[stridedSeedIds]]), mirrored in
      // KmeansOracleCtes' ksid CTE
      val c0 = restrictToStridedSeeds(emb, 8)(emb)
        .select(col("vec_id").as("c"), col("e").as("m"))
      // argmin via the per-row codegen vec_nearest (identical float ops
      // and (d², c) ordering as the min(struct) over dists(c0) it
      // replaces — no k-way expansion or SortAggregate for the
      // assignment; the FULL distance table below stays as is, it IS the
      // chain's output)
      val c0Arr = c0.agg(collect_list(struct(col("c"), col("m"))).as("cm"))
      val a1 = emb.crossJoin(broadcast(c0Arr))
        .select(col("vec_id"),
          graft.functions.VecOps.vec_nearest(col("e"), col("cm")).as("c"))
        .filter(col("c").isNotNull)
      val c1 = emb.join(a1, Seq("vec_id"))
        .select(col("c"), posexplode(col("e")))
        .groupBy("c", "pos").agg(avg("col").as("m"))
        .groupBy("c")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("c"), transform(col("pm"), _.getField("m")).as("m"))
      dists(c1)
    }

    def release(s: SparkSession, dir: String): Unit =
      memo.remove((System.identityHashCode(s), dir)).foreach(_.unpersist(false))
  }

  /** Nearest-centroid assignment (vec_id, c): broadcast the (k × dim)
    * centroid table, score array-native via the codegen'd vec_dot
    * (d² = |v|² − 2·v·m + |m|²), keep the min-(d², c) struct. The groupBy
    * is partially aggregated map-side, so only N rows shuffle. Shared by
    * the IVF index build and the corpus-scaled SemDeDup blocking. */
  private def assignVec(rows: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(rows.sparkSession)
    // all centroids as ONE array<struct<c, m>> row (k×dim doubles — the
    // same broadcast bound as the table it replaces); the argmin then
    // runs per vector row via the codegen vec_nearest with the identical
    // float ops and (d², c) ordering as the old min(struct) — but with
    // no n·k scored expansion, no SortAggregate (struct buffers are not
    // hash-aggregatable, so the old agg SORTED the expansion) and no
    // exchange at all (VecNearestSpec pins the value parity)
    val centArr = cents.agg(collect_list(struct(col("c"), col("m"))).as("cm"))
    rows.crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        graft.functions.VecOps.vec_nearest(col("embedding"), col("cm")).as("c"))
      // empty centroid set ⇒ no assignments, as the old groupBy shape
      .filter(col("c").isNotNull)
  }

  /** [[assignVec]] keeping the `probes` NEAREST centroids per vector
    * (multiprobe): the blocking-recall knob for the hierarchical
    * SemDeDup path — the 1 M-embedding recall sweep measured 80 % of its missed
    * planted pairs split across COARSE cells, so probing the 2 nearest
    * cells recovers most of them for ~2× level-2 work. The window rank
    * compiles to a map-side WindowGroupLimit over the broadcast-scored
    * rows (centroids are broadcast, so every vector's k scores sit in
    * one task) — only `probes` rows per vector ever shuffle
    * (plan-asserted: ScalePlanSpec "map-side WindowGroupLimit"). */
  private def assignVecProbes(rows: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, probes: Int,
      margin: Double): org.apache.spark.sql.DataFrame =
    if (probes <= 1) assignVec(rows, cents)
    else {
      import graft.functions.VecOps.vec_dot
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("vec_id")
      val ranked = rows.crossJoin(broadcast(cents))
        .withColumn("d2",
          vec_dot(col("embedding"), col("embedding"))
            - lit(2.0) * vec_dot(col("embedding"), col("m"))
            + vec_dot(col("m"), col("m")))
        // SKINNY before the window (r15): the group-limit sort was
        // carrying the embedding and the centroid array through the
        // N×k scored expansion (~30× the bytes of the three columns the
        // output actually uses) — the same disease that OOMed
        // semIndexAssign's join path at 10 M
        .select(col("vec_id"), col("c"), col("d2"))
        .withColumn("rk", row_number().over(
          w.orderBy(col("d2"), col("c"))))
        .filter(col("rk") <= probes)
      // BOUNDARY-ONLY probing (VERDICT r12 item 1): a runner-up cell is
      // kept only when its distance is within `margin`× of the best —
      // the only vectors whose near-dup pairs can straddle a cell seam
      // sit close to it, and for such a pair BOTH members score the two
      // cells nearly equally (the pair is a tiny perturbation), so a
      // margin just above 1 recovers the same split pairs as blanket
      // 2-probing at a fraction of the extra memberships. The margin
      // filter runs as a second window over the ALREADY group-limited
      // rows (≤ probes per vector, same vec_id clustering — no extra
      // shuffle), so the map-side WindowGroupLimit contract above is
      // untouched.
      val kept =
        if (margin.isPosInfinity) ranked
        else ranked
          .withColumn("d2b", min(col("d2")).over(w))
          .filter(col("rk") === 1 ||
            col("d2") <= lit(margin) * greatest(col("d2b"), lit(0.0)))
      kept.select(col("vec_id"), col("c"))
    }

  /** Sample-trained vec_dot-scored k-means centroids (c, m: array<double>)
    * — the scale-path quantizer shared by q_sim_ann_ivf (k = ⌈√N⌉ lists)
    * and corpus-scaled SemDeDup blocking (k = ⌈N/64⌉). Deterministic:
    * seeds = one per id-range stride (below), `lloyd` iterations over
    * the 25 % (vec_id % 4 = 0) sample with exact-decimal means so
    * assignments are reproducible run-to-run. Clusters that lose all
    * sample members drop out — acceptable: k is a target, not an
    * invariant. The result is k×dim doubles — tiny and broadcastable at
    * any corpus size. */
  /** THE quantizer seed rule, one definition for every trained chain
    * (VERDICT r19 item 2): each id-range bucket's MINIMUM vec_id,
    * bucket = ((vec_id − lo) · k) div (hi − lo + 1) over the frame's own
    * [lo, hi] span. STRIDED, not the k smallest ids: lowest-k seeding
    * handed every seed the same vector on a corpus whose low-id block is
    * near-identical — collapsing the quantizer by construction, the
    * exact failure localKmeansFit's strided seeds already guard against
    * task-locally (r19 made it LOUD via calibratedPreset's degeneracy
    * require; this is the cure). Range striding keeps the properties
    * that matter at any N: deterministic (pure id arithmetic — no float
    * hashing, no shuffle-order dependence), id-offset-safe (the standing
    * semantic index trains on a bootstrap slice whose ids begin at
    * initLo ≫ k — the r14 empty-seed bug), and bounded driver work (the
    * lo/hi agg is one scan of a single long column; seeds stay ≤ k
    * rows). Sparse id spaces leave some buckets empty → fewer than k
    * seeds, same contract as dead centroids dropping out of Lloyd.
    * ((vec_id − lo) · k) stays well inside Long: the 2^40 id-space bound
    * denseCells documents × k ≤ 2^21 tops out near 2^61. Accepts any
    * frame carrying vec_id (duplicate vec_id rows — the exploded
    * per-dim/per-subspace shapes — bucket identically, so the per-bucket
    * min is unaffected). Mirrored CTE-for-CTE by every DuckDB oracle
    * twin (IvfOracleSql, KmeansOracleCtes, Pq.OracleCtes) — move Spark
    * and SQL together or the family's hashes break. */
  private def stridedSeedIds(ids: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val span = ids.agg(min(col("vec_id")).as("lo"),
      max(col("vec_id")).as("hi")).head()
    if (span.isNullAt(0))
      // empty frame: empty seed set (callers training on an empty slice
      // get an empty quantizer, not a crash)
      ids.select(col("vec_id")).limit(0)
    else {
      val lo = span.getLong(0)
      val width = span.getLong(1) - lo + 1
      ids.select(col("vec_id"))
        .groupBy(expr(s"((vec_id - ${lo}L) * ${k}L) div ${width}L").as("bk"))
        .agg(min("vec_id").as("vec_id")).select("vec_id")
    }
  }

  /** Literal-inlining threshold for the seed restriction below: 8 K seed
    * ids ≈ 64 KB of plan literals — trivially broadcast inside the plan
    * itself, and far above every memoized chain's k (8/16, ⌈√N⌉ IVF
    * lists at verify SFs, hierarchical k1 = ⌈√(N/64)⌉ ≈ 4 K at 10⁹
    * vectors). Only a > 4×10⁹-vector hierarchical coarse build crosses
    * it and takes the distributed-join path. */
  private val SeedInlineCap = 8192

  /** The strided-seed restriction as a reusable transform: picks the
    * seed ROWS of any frame carrying vec_id. For k ≤ [[SeedInlineCap]]
    * the seed ids are collected once and inlined as an InSet literal —
    * the trained chains re-evaluate their centroid plan once per Lloyd
    * iteration plus once per consumer, and a join-shaped restriction
    * re-ran the seed aggregate inside every one of those
    * re-evaluations; the literal makes them free. (An interleaved
    * cold-JVM A/B against the pre-striding commit measured the chains
    * at parity — the join form's extra jobs are small — but the
    * literal is strictly fewer re-evaluated stages and keeps the
    * trained-chain plans scan-shaped.) Past the cap the broadcast
    * semi-join stands — at that scale the chain is not re-evaluated
    * per sweep anyway. Seed VALUES are identical in both shapes and to
    * every DuckDB twin's span/sid CTEs. */
  private def restrictToStridedSeeds(ids: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    val seeds = stridedSeedIds(ids, k)
    if (k <= SeedInlineCap) {
      val seedIds = seeds.collect().map(_.getLong(0)).toSeq
      df => df.filter(col("vec_id").isInCollection(seedIds))
    } else
      df => df.join(broadcast(seeds), Seq("vec_id"))
  }

  /** Materialize a trained centroid table (k × dim doubles — tiny and
    * broadcastable by construction, or it would not be a quantizer) into
    * a LocalRelation via one bounded driver collect. This truncates the
    * Lloyd chain's plan: without it every downstream ACTION (and every
    * later Lloyd round) replayed the entire preceding train — measured
    * ~2.3 s per replay at bench SF for the standing index's coarse level,
    * several replays per consumer. A `.cache()` was deliberately rejected
    * for this (semIndexTrain scaladoc: CacheManager substitution flipped
    * pinned join/window shapes under cross-suite reuse); a LocalRelation
    * has no CacheManager involvement and exact (tiny) size statistics,
    * so broadcast decisions stay as they were. Values are unchanged —
    * the chain is deterministic and is now evaluated exactly once. */
  private def localizeCentroids(
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val rows = cents.select(col("c").cast("long").as("c"), col("m")).collect()
    cents.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("c", LongType, nullable = false),
        StructField("m", ArrayType(DoubleType, containsNull = true)))))
  }

  private def trainVecCentroids(emb: org.apache.spark.sql.DataFrame,
      k: Int, lloyd: Int = 2): org.apache.spark.sql.DataFrame = {
    // seeds = the strided id-range rule ([[restrictToStridedSeeds]]),
    // with c = the seed's own id
    var centroids = restrictToStridedSeeds(emb, k)(emb)
      .select(col("vec_id").as("c"),
        transform(col("embedding"), _.cast("double")).as("m"))
    val train = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
    for (_ <- 1 to lloyd) {
      val asg = assignVec(train, centroids)
      centroids = localizeCentroids(train.join(asg, Seq("vec_id"))
        .select(col("c"), posexplode(col("embedding")))
        .groupBy("c", "pos")
        .agg((sum(col("col").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy("c")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("c"), transform(col("pm"), _.getField("m")).as("m")))
    }
    centroids
  }

  /** Remap a trained centroid table's labels to DENSE [0, k). A trained
    * label is its seed's vec_id ([[trainVecCentroids]]) — bounded only by
    * the corpus's id SPACE, and the composite (cell << 40) + sub cluster
    * id packs the cell label into the high bits, so a corpus whose ids
    * exceed 2^23 (real doc-id spaces — exactly the offset-id ranges the
    * seed change exists to support) would silently wrap the shift and
    * alias distinct cells (ADVICE r14). After the remap the max cell id
    * is the cell COUNT − 1, which the existing k1 require bounds. k rows,
    * single-partition window — driver-trivial by construction (the table
    * is broadcastable or it wouldn't be a coarse quantizer). Ordered by
    * the original label so the remap is deterministic. */
  private def denseCells(cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cents.withColumn("c",
      row_number().over(Window.orderBy("c")).cast("long") - 1)
  }

  /** Single-level ceiling: one flat quantizer's centroid table is k×dim
    * doubles = N/64 × 512 B, which outgrows the broadcast budget around
    * k ≈ 2 M (N ≈ 10⁸ vectors) — so past [[FlatKCap]] the blocking goes
    * HIERARCHICAL: a √k-sized coarse quantizer (always broadcastable)
    * shuffles the corpus ONCE on the cell id, and each cell — now
    * task-sized — re-applies the same train-assign step locally
    * ([[localKmeansProbed]], the recursive unit; cells past [[CellSplitCap]]
    * members are split into bounded contiguous ranges — see the cap's
    * scaladoc for the duplicate-funnel failure it bounds). Blocking
    * quality is
    * unchanged — a cluster is a cluster regardless of the level that
    * produced it — only the id becomes a (cell, sub) composite. The cap
    * is deliberately low so the hierarchical path is EXERCISED at sf0.1
    * (k = 32), not just claimed. */
  private val FlatKCap = 16

  /** Per-task ceiling on one coarse cell's member count (review r19):
    * the FlatKCap scaladoc promised recursion for oversized cells, but
    * none existed — a heavily duplicated vector funnels its whole mass
    * into ONE cell (its copies' nearest centroid is the same), and that
    * cell's local Lloyd is a single task holding every copy (≥ 0.5 GB
    * boxed at 1 M copies) and running k2 ≈ len/64 centroids × len
    * vectors × dim flops (~3e12 at 1 M) — an executor OOM or an
    * hours-long straggler on exactly the workload semantic dedup
    * targets. Cells past the cap are split into MEMBER-HASH buckets
    * (VERDICT r19 item 3 — r19 split into contiguous id ranges, whose
    * adjacency argument the measured adversarial fixture below breaks),
    * each Lloyd'd independently, sub ids offset per split. The trade is
    * cross-split recall within an over-cap cell — and over-cap cells
    * only arise from heavy duplication at the default geometry (average
    * cell = 64·√(N/64) members stays under the cap through N ≈ 4×10⁸),
    * where a duplicate's partners are (near-)exact copies: hashing the
    * vector VALUE co-locates exact copies regardless of how their ids
    * scatter, where a contiguous range co-located only id-ADJACENT
    * partners (measured in LlmOpsSpec on scattered-id exact-copy pairs
    * at distance > cap: hash-bucket recall 1.0 vs contiguous 0.0).
    * Residual loss: near-but-not-bit-equal partners hash apart — the
    * same pairs the contiguous split also lost unless id-adjacent.
    * 2¹⁸ members bounds a split's Lloyd at ~2.7e11 flops and ~130 MB —
    * heavy but task-feasible. */
  private[graft] val CellSplitCap = 1 << 18

  /** Bounded splits of one over-cap cell, by vector-value hash: bucket =
    * floorMod(Arrays.hashCode(vector), nBuckets) with nBuckets sized to
    * ~cap/2 average load (overflow then needs a 2× concentration — at
    * the 2¹⁸ production cap the probability is nil for distinct
    * vectors). A bucket that still overflows (an exact-copy mass bigger
    * than the cap: every copy hashes identically) falls back to bounded
    * contiguous chunks — copies are interchangeable, so any chunk
    * self-contains partners. Deterministic (value hash, no seed, no
    * shuffle-order dependence); each split preserves the caller's
    * id-sorted order, the localKmeansProbed contract. Parameterized `cap` for
    * the spec; production uses [[CellSplitCap]]. */
  private[graft] def cellSplits(vs: Array[(Long, Array[Double])],
      cap: Int = CellSplitCap): Iterator[Array[(Long, Array[Double])]] =
    if (vs.length <= cap) Iterator.single(vs)
    else {
      val nBuckets = ((2L * vs.length + cap - 1) / cap).toInt
      val buckets = Array.fill(nBuckets)(
        new scala.collection.mutable.ArrayBuffer[(Long, Array[Double])])
      vs.foreach { p =>
        buckets(math.floorMod(java.util.Arrays.hashCode(p._2), nBuckets)) += p
      }
      buckets.iterator.filter(_.nonEmpty).flatMap { b =>
        if (b.length <= cap) Iterator.single(b.toArray)
        else b.toArray.grouped(cap)
      }
    }

  /** The Lloyd-fit half of [[localKmeansProbed]]: strided seeds, `lloyd`
    * iterations, dead centroids dropped — returns the SETTLED centroids.
    * Exposed separately so the standing semantic index
    * ([[semIndexTrain]]) can persist them. NOTE on reproducibility
    * (review r19): re-assigning a member through these centroids
    * reproduces its training assignment only up to float-summation
    * order — training's `nearest` accumulates (v(i)−m(i))² directly
    * while [[semIndexAssign]] scores the expansion ee − 2·em + mm in
    * three separate accumulations; mathematically equal, not
    * bit-identical, so a vector near-equidistant (≲ 1e-15 relative)
    * between two sub-centroids can flip its strict-< argmin between
    * train time and assign time. No consumer compares the two — the
    * daily loop's sym_diff equality holds because BOTH sides assign
    * through semIndexAssign — but a future consumer that persists
    * train-time memberships must not assume bit-equality. */
  private[graft] def localKmeansFit(vs: Array[(Long, Array[Double])], k: Int,
      lloyd: Int = 2): Array[Array[Double]] = {
    val dim = vs.head._2.length
    var cents = Array.tabulate(k)(j => vs((j.toLong * vs.length / k).toInt)._2.clone)
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        val m = cents(c)
        while (i < dim) { val t = v(i) - m(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    var asg = vs.map(p => nearest(p._2))
    for (it <- 1 to lloyd) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Int](cents.length)
      vs.indices.foreach { j =>
        val c = asg(j); cnts(c) += 1
        val v = vs(j)._2
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cents = cents.indices.toArray.collect {
        case c if cnts(c) > 0 =>
          val m = sums(c); var i = 0
          while (i < dim) { m(i) /= cnts(c); i += 1 }
          m
      }
      if (it < lloyd) asg = vs.map(p => nearest(p._2)) // final pass is the caller's
    }
    cents
  }

  /** Task-local deterministic Lloyd over one cell — the recursive unit of
    * the hierarchical blocking. Seeds = every (len/k)-th member of the
    * id-sorted cell (STRIDED, not the k lowest ids: near-dup pairs tend
    * to sit on ADJACENT ids, and lowest-k seeding made both members of
    * such a pair their own seed — two near-identical centroids that
    * Lloyd never merges, splitting exactly the pairs the blocking exists
    * to find; measured at 10 M vectors the low-id subsample's recall
    * collapsed to 0.46 vs 0.80 corpus-wide before the stride). Ties in
    * the argmin break toward the lower centroid id; `vs` MUST be sorted
    * by vec_id (the caller sorts) so the result is independent of
    * shuffle arrival order. Returns per vector (best sub-cluster, second
    * sub-cluster or -1): the BOUNDARY runner-up is kept only when its d²
    * is within `subMargin`× of the best — the level-2 twin of
    * [[assignVecProbes]]' margin knob, aimed at the pairs the r12 10 M
    * miss-split printout showed splitting across SUB-clusters within a
    * shared cell (VERDICT r12 item 4). subMargin ≤ 1 keeps the single-
    * assignment contract exactly (second is always -1). */
  private[graft] def localKmeansProbed(vs: Array[(Long, Array[Double])], k: Int,
      subMargin: Double, lloyd: Int = 2): Array[(Int, Int)] = {
    val dim = vs.head._2.length
    val cents = localKmeansFit(vs, k, lloyd)
    // final assignment pass over the settled centroids, tracking best AND
    // runner-up in one scan (best semantics identical to nearest():
    // strict <, ties toward the lower centroid id)
    val out = new Array[(Int, Int)](vs.length)
    var j = 0
    while (j < vs.length) {
      val v = vs(j)._2
      var b = -1; var bD = Double.MaxValue
      var s = -1; var sD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        val m = cents(c)
        while (i < dim) { val t = v(i) - m(i); d += t * t; i += 1 }
        if (d < bD) { sD = bD; s = b; bD = d; b = c }
        else if (d < sD) { sD = d; s = c }
        c += 1
      }
      // Gate on the knob actually being ON: at subMargin ≤ 1 the contract
      // is single-assignment, but `sD <= subMargin * bD` alone re-admits
      // the runner-up when bD == sD == 0 (vector bit-equal to two sub-
      // centroids — attainable with exact-duplicate embeddings plus a
      // dead centroid keeping its initial data-vector value), silently
      // emitting duplicate (vec_id, cluster) rows (ADVICE r13).
      val second = if (subMargin > 1.0 && s >= 0 && sD <= subMargin * bD) s else -1
      out(j) = (b, second)
      j += 1
    }
    out
  }

  /** SemDeDup blocking clusters (vec_id, cluster), corpus-scaled: k is
    * derived from N via [[semK]] so per-cluster population — and the
    * in-cluster pairwise cosine that follows — stays ≈ constant as the
    * corpus grows. Three regimes:
    *  - k ≤ 8 (verify SF): q_embed_kmeans's strided 8-seed table
    *    ([[Coarse]]), the blocking the DuckDB oracle replays;
    *  - 8 < k ≤ [[FlatKCap]]: one flat sample-trained vec_dot quantizer
    *    (the IVF recipe);
    *  - k > [[FlatKCap]]: hierarchical — broadcastable coarse cells, then
    *    the same train-assign applied task-locally per cell. */
  private val semMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), org.apache.spark.sql.DataFrame]

  private val ivfCentroidsMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), org.apache.spark.sql.DataFrame]

  private[graft] def semClusters(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    // Memoized + cached per (session, dataset), like [[Pq.trained]] and
    // [[Coarse.d2]]: a bench sweep that calls q_dedup_semantic repeatedly
    // reuses ONE cached assignment instead of stacking a new cached frame
    // per call (ADVICE r6 — executor storage accumulated across sweeps).
    SessionCaches.memoize(semMemo, (System.identityHashCode(s), dir), {
      SessionCaches.onRelease(s, s"sim.sem:$dir")(() =>
        semMemo.remove((System.identityHashCode(s), dir))
          .foreach(_.unpersist(false)))
      semClustersUncached(s, dir).cache()
    })

  private def semClustersUncached(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val n = emb.count() // parquet metadata, not a scan
    if (semK(n) <= 8) kmeansClusters(s, dir)
    else semClustersFromEmb(s, emb, n)
  }

  /** The production SemDeDup blocking over ANY (vec_id, embedding) frame
    * — the dir-independent core of [[semClusters]], exposed so
    * callers can block any embedding frame (the hierarchical path was
    * wall-measured this way at 1 M+ synthetic embeddings, VERDICT r11
    * item 5). Requires
    * semK(n) > 8 (the ≤ 8 regime is the dir-bound [[Coarse]] table).
    *
    * `probes` > 1 assigns each vector to its `probes` nearest coarse
    * cells (hierarchical regime only) — the output then carries up to
    * `probes` rows per vec_id and downstream pair detection must dedup,
    * which [[semDupPairs]] does. Default 1 preserves the one-label-per-
    * vector contract the oracle-twin queries rely on.
    *
    * `probeMargin` < ∞ restricts the extra probes to BOUNDARY vectors:
    * a runner-up cell is kept only when its d² ≤ probeMargin × the best
    * cell's (see [[assignVecProbes]]) — near-full multiprobe recall at a
    * fraction of the extra memberships, since only vectors near a cell
    * seam can have pairs split by it.
    *
    * `subProbeMargin` > 1 applies the same boundary rule one level down:
    * a vector near a SUB-cluster seam inside its cell is also emitted
    * under the runner-up sub-cluster ([[localKmeansProbed]]) — the knob
    * for pairs the level-1 probes cannot recover because they split
    * across sub-clusters of a shared cell. */
  private[graft] def semClustersFromEmb(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame, n: Long,
      probes: Int = 1, probeMargin: Double = Double.PositiveInfinity,
      subProbeMargin: Double = 0.0): org.apache.spark.sql.DataFrame = {
    val k = semK(n)
    require(k > 8, s"semClustersFromEmb is the production path; semK($n)=$k <= 8")
    if (k <= FlatKCap) {
      // the probe knobs act on the level-1/level-2 structure, which the
      // flat quantizer doesn't have — say so LOUDLY instead of silently
      // running a named multi-probe operating point as single-assignment
      // blocking (review r19; the file's own loud-failure rule —
      // SemPreset.parse errors on typos for the same reason)
      if (probes > 1 || subProbeMargin > 1.0)
        println(s"[sem] flat-regime blocking (semK($n) = $k ≤ $FlatKCap): " +
          "the multi-probe knobs (probes/probeMargin/subProbeMargin) have " +
          "no hierarchical structure to act on and are IGNORED — this " +
          "corpus runs single-assignment (exact-equivalent) blocking")
      graft.functions.GraftFunctions.register(s)
      assignVec(emb, trainVecCentroids(emb, k))
        .select(col("vec_id"), col("c").as("cluster"))
    } else {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      // level 1: √k coarse cells — the centroid block stays broadcastable
      // at ANY N; one shuffle on the cell id co-locates each cell
      val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
      // composite id layout: cluster = cell * 2^40 + sub. Collision-free
      // within documented bounds: sub < 2^40 would need a single cell of
      // > 2^40 · 64 ≈ 7e13 vectors, and cell < 2^23 holds up to
      // N = 64·(2^23)² ≈ 4.5e15 vectors — 4 orders past a 100 TB corpus
      // (N ≈ 4e11 at 256 B/vector). Both bounds are asserted, not assumed:
      // cell ids are DENSE [0, k1) ([[denseCells]] — seed vec_ids would
      // wrap the shift on real doc-id spaces past 2^23, ADVICE r14), so
      // the k1 count bound below IS the max-cell-id bound.
      require(k1.toLong < (1L << (63 - SubBits)),
        s"coarse cell count $k1 overflows the composite cluster id layout")
      val cells = assignVecProbes(emb, denseCells(trainVecCentroids(emb, k1)),
          probes, probeMargin)
        .select(col("vec_id"), col("c").as("cell"))
      // level 2: per-cell local Lloyd, sub-cluster target = SemTargetCluster
      flatMapVecGroups(s,
        emb.join(cells, Seq("vec_id"))
          .select(col("cell"), col("vec_id"), col("embedding")),
        (cell: Long, mit: Iterator[(Long, Array[Double])]) => {
          val vs = mit.toArray.sortBy(_._1)
          // over-cap cells split into bounded member-hash buckets (see
          // [[CellSplitCap]];
          // a single split — every current corpus — keeps base 0 and the
          // exact pre-split ids)
          var subBase = 0L
          cellSplits(vs).flatMap { part =>
            val k2 = math.max(1, math.ceil(part.length / SemTargetCluster).toInt)
            require(subBase + k2 < (1L << SubBits),
              s"cell $cell sub-cluster count overflows the composite id")
            val sub = localKmeansProbed(part, k2, subProbeMargin)
            val base = subBase
            subBase += k2
            part.iterator.zipWithIndex.flatMap { case ((id, _), j) =>
              val (best, secnd) = sub(j)
              val first = (id, (cell << SubBits) + base + best) // (cell, sub) id
              if (secnd < 0) Iterator.single(first)
              else Iterator(first, (id, (cell << SubBits) + base + secnd))
            }
          }
        })
        .toDF("vec_id", "cluster")
    }
  }

  /** SemDeDup's pair step: in-cluster pairwise cosine over the blocking
    * from [[semClustersFromEmb]], emitting (vec_a < vec_b, cos) for pairs
    * at cos ≥ tau. One shuffle (the cluster-id co-location the blocking
    * already defines); each group holds ≈ [[SemTargetCluster]] rows by
    * construction, so per-group work is bounded at ANY corpus size —
    * never an all-pairs join. */
  private[graft] def semDupPairs(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame,
      clusters: org.apache.spark.sql.DataFrame,
      tau: Double,
      multiAssigned: Boolean = true): org.apache.spark.sql.DataFrame =
    semDupPairsAssigned(s, emb.join(clusters, Seq("vec_id")), tau,
      multiAssigned)

  /** [[semDupPairs]] over an already-assigned (vec_id, cluster,
    * embedding) frame — the standing-piece schema of the incremental
    * semantic index, where the join above has no work to do. Per-pair
    * cosine depends only on the two vectors (each group member's inverse
    * norm is computed from its own embedding), so a pair's value is
    * BIT-IDENTICAL whether its cluster group holds the full corpus or
    * any subset containing both members — the property the daily loop's
    * end-state equality relies on. */
  /** Group a (key, vec_id, e) frame by its first column and run `f` over
    * each group's (vec_id, embedding-as-double) members. The embedding
    * crosses the typed-Dataset boundary as PACKED BYTES
    * ([[graft.functions.VecPack]], codegen'd): both the interpreted
    * `transform(_.cast("double"))` this shared and the object encoder's
    * own array deserializer (MapObjects, which `groupByKey`'s key
    * extraction runs over EVERY row) box each element — Float.valueOf ×
    * dim per row, ~10⁹ allocations at the 10 M probed bootstrap, two
    * successive GC-overhead OOMs (r15). A byte array crosses the
    * boundary as one copy; the task-local widen is bit-identical
    * (floatToRawIntBits round-trips exactly, and float→double is the
    * same widening the cast performed). */
  private def flatMapVecGroups[T](s: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      f: (Long, Iterator[(Long, Array[Double])]) => Iterator[T])(
      implicit enc: org.apache.spark.sql.Encoder[T])
      : org.apache.spark.sql.Dataset[T] = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.VecOps.vec_pack
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val width = df.schema(2).dataType match {
      case ArrayType(FloatType, _) => 4
      case _ => 8
    }
    df.select(col(df.columns(0)), col(df.columns(1)),
        vec_pack(col(df.columns(2))))
      .as[(Long, Long, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (k: Long, it: Iterator[(Long, Long, Array[Byte])]) =>
        f(k, it.map { case (_, id, bytes) =>
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val n = bytes.length / width
          val d = new Array[Double](n)
          var i = 0
          if (width == 4) while (i < n) { d(i) = bb.getFloat(i * 4).toDouble; i += 1 }
          else while (i < n) { d(i) = bb.getDouble(i * 8); i += 1 }
          (id, d)
        })
      }
  }

  private[graft] def semDupPairsAssigned(s: SparkSession,
      assigned: org.apache.spark.sql.DataFrame,
      tau: Double, multiAssigned: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val raw = flatMapVecGroups(s,
      assigned.select(col("cluster"), col("vec_id"), col("embedding")),
      (_: Long, mit: Iterator[(Long, Array[Double])]) => {
        val vs = mit.toArray.sortBy(_._1)
        val inv = vs.map { case (_, e) =>
          var s2 = 0.0; var i = 0
          while (i < e.length) { s2 += e(i) * e(i); i += 1 }
          if (s2 == 0.0) 0.0 else 1.0 / math.sqrt(s2)
        }
        val out = Array.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < vs.length) {
          var j = i + 1
          while (j < vs.length) {
            val a = vs(i)._2; val b = vs(j)._2
            var dot = 0.0; var d = 0
            while (d < a.length) { dot += a(d) * b(d); d += 1 }
            val cos = dot * inv(i) * inv(j)
            if (cos >= tau) out += ((vs(i)._1, vs(j)._1, cos))
            j += 1
          }
          i += 1
        }
        out.result().iterator
      })
      .toDF("vec_a", "vec_b", "cos")
    // a multiprobe blocking ([[semClustersFromEmb]] probes > 1, or a
    // probed [[semIndexAssign]]) can co-locate one pair in several
    // clusters — report each pair once. The dedup key shuffles only
    // found pairs (≈ dup rate × N rows) — but when the caller KNOWS the
    // assignment is single-membership (`multiAssigned = false`) every
    // pair is emitted by exactly one cluster group and even that shuffle
    // is skipped (r15: one exchange saved per single-probe call).
    if (multiAssigned) raw.dropDuplicates("vec_a", "vec_b") else raw
  }

  /** Standing semantic index (r14): the FROZEN two-level quantizer the
    * incremental embedding-ingest loop assigns against — the SemDeDup
    * twin of the minhash band index. `coarse` is the √k level-1 centroid
    * table (c, m) — broadcastable at ANY corpus size; `sub` is the full
    * level-2 sub-centroid table (cell, sub, m) — k ≈ N/64 rows × 512 B,
    * broadcast while it fits (size-gated) and a cell-co-partitioned join
    * past that. Production persists both as parquet between daily runs
    * ([[graft.jobs.SemIndexJob]] does exactly that), so the
    * blocking geometry is frozen: every vector — bootstrap or any later
    * batch — resolves to the same cluster id through the same argmin,
    * which is what makes incremental pair discovery equal the full-batch
    * run over the frozen index (the q_dedup_incremental argument, one
    * level up). */
  final case class SemIndex(coarse: org.apache.spark.sql.DataFrame,
      sub: org.apache.spark.sql.DataFrame)

  /** Train the standing index on the bootstrap corpus: the SAME level-1
    * train-assign and per-cell strided local Lloyd as
    * [[semClustersFromEmb]], but emitting the SETTLED sub-centroids
    * ([[localKmeansFit]]) instead of member assignments. k derives from
    * the bootstrap N (frozen thereafter — production retrains
    * periodically, the compaction analog for drift). */
  private[graft] def semIndexTrain(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame, n: Long): SemIndex = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val k = semK(n)
    require(k > FlatKCap,
      s"the standing index is a hierarchical-regime tool; semK($n)=$k <= $FlatKCap")
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    // dense cell labels (ADVICE r14): the composite (cell << SubBits) + sub id
    // needs cell < 2^23, a bound on the cell COUNT only after the remap —
    // raw seed vec_ids wrap the shift on offset doc-id spaces.
    require(k1.toLong < (1L << (63 - SubBits)),
      s"coarse cell count $k1 overflows the composite cluster id layout")
    // NOT cached, deliberately (review r17 revisited): a LIVE index's
    // consumers do re-evaluate `coarse` a few times per action (each
    // replay re-runs the level-1 Lloyd train — measured ~2.3 s at bench
    // SF; parquet-backed CLI indexes never hit this), but a .cache()
    // here makes the CacheManager substitute InMemoryRelations whose
    // size statistics flip downstream join strategies — the assign
    // plan's pinned partial WindowGroupLimit shape broke under
    // cross-suite cache reuse. The bounded replay is the cheaper side
    // of that trade; production persists the index as parquet anyway.
    val coarse = denseCells(trainVecCentroids(emb, k1))
    val cells = assignVec(emb, coarse)
      .select(col("vec_id"), col("c").as("cell"))
    val sub = flatMapVecGroups(s,
      emb.join(cells, Seq("vec_id"))
        .select(col("cell"), col("vec_id"), col("embedding")),
      (cell: Long, mit: Iterator[(Long, Array[Double])]) => {
        val vs = mit.toArray.sortBy(_._1)
        // same bounded-range split as the online blocking (see
        // [[CellSplitCap]]): sub ids offset per split, single-split
        // cells (every current corpus) keep the exact pre-split ids.
        // Int base on purpose — the persisted index's `sub` column stays
        // IntegerType (a member count can't overflow Int before it
        // overflows a task anyway)
        var subBase = 0
        cellSplits(vs).flatMap { part =>
          val k2 = math.max(1, math.ceil(part.length / SemTargetCluster).toInt)
          require(subBase.toLong + k2 < (1L << SubBits),
            s"cell $cell sub-centroid count overflows the composite id")
          val base = subBase
          subBase += k2
          localKmeansFit(part, k2).iterator.zipWithIndex
            .map { case (m, j) => (cell, base + j, m) }
        }
      })
      .toDF("cell", "sub", "m")
    // every coarse cell must own ≥ 1 sub row: a cell can end MEMBERLESS
    // in the final assignment (centroids move on the last Lloyd update),
    // and [[semIndexAssign]] joins on the cell id — a later batch vector
    // whose coarse argmin lands in a sub-less cell would silently vanish
    // from the standing index, and the daily sym_diff check can't see it
    // because both sides drop it identically (ADVICE r14). Memberless
    // cells carry their own coarse centroid as sub 0, keeping assignment
    // TOTAL by construction. The anti-join probes `cells` (the cheap
    // broadcast-scored assignment), not `sub` — sub's cell set equals the
    // assignment's by construction (flatMapGroups emits ≥ 1 row per
    // group), and re-deriving it would re-run the whole local-Lloyd
    // pipeline a second time.
    val orphans = coarse.select(col("c").as("cell"), col("m"))
      .join(cells.select("cell").distinct(), Seq("cell"), "left_anti")
      .select(col("cell"), lit(0).as("sub"), col("m"))
    SemIndex(coarse, sub.unionByName(orphans))
  }

  /** Assign any (vec_id, embedding) frame through a FROZEN [[SemIndex]]:
    * nearest coarse cell (broadcast, the [[assignVec]] shape), then
    * nearest sub-centroid within the cell. The sub step scores against
    * the size-gated-broadcast sub table and cuts to one row per vector
    * via the same map-side WindowGroupLimit shape the multiprobe path
    * pins — only the winning (vec_id, cluster, embedding) row crosses
    * the exchange. Output schema IS the standing-piece schema: the index
    * stores the vectors it indexes, exactly like the minhash band index
    * stores its banding rows, so the daily probe never re-reads or
    * re-shuffles the full corpus. Deterministic: ties break toward the
    * lower sub id, matching [[localKmeansProbed]]'s in-training argmin.
    *
    * `probes`/`probeMargin` (VERDICT r14 item 2) apply the online path's
    * boundary-margin multiprobe ([[assignVecProbes]] — the exact same
    * code) to the FROZEN coarse level: a vector near a cell seam is also
    * emitted under its runner-up cell when that cell's d² is within
    * `probeMargin`× of the best, recovering the seam-split pairs that
    * cost the frozen index its recall gap vs the online blocking. Each
    * probed membership resolves its own best sub-centroid (the window
    * below partitions by (vec_id, cell)), so the output carries at most
    * `probes` rows per vector — duplicate pair emissions are collapsed by
    * [[semDupPairsAssigned]]'s existing pair dedup, and the incremental =
    * full-batch equality is preserved because membership is still a pure
    * per-vector function of the frozen index. Defaults reproduce the
    * single-label r14 behavior exactly. */
  /** Sub-table row gate for [[semIndexAssign]]'s broadcast-map fast
    * path, derived from a HEAP BUDGET rather than a magic row count
    * (VERDICT r15 item 7): each collected row costs ~550 B in the
    * cell → centroid-block map (64 float64 = 512 B + tuple/array
    * headers), and the gate admits 1/16 of the JVM's max heap — the
    * same degrade-don't-OOM posture as [[graft.ops.Hints
    * .broadcastIfSmall]] (there the session's broadcast threshold gates;
    * here the structure is a collected Scala map, so the budget is tied
    * to the heap that must hold it on the driver AND under the broadcast
    * on every executor). On the 8 GiB test/bench heap this lands at
    * ~970 k rows — the measured-safe r15 operating point (10⁶ rows ≈
    * 550 MB) — while a small-heap deployment degrades to the joined
    * fallback instead of OOMing at the gate edge, and a big-heap cluster
    * admits proportionally larger indexes. Floor 10⁴ (below that the
    * joined path is noise anyway), ceiling 2³¹⁻¹-safe. */
  private[graft] val SubRowBytes = 550L
  private[graft] def subMapMaxRows(maxHeapBytes: Long): Long =
    math.min(Int.MaxValue.toLong - 1,
      math.max(10000L, maxHeapBytes / 16 / SubRowBytes))

  /** Session-aware gate: the collected map lives on the DRIVER heap and
    * a deserialized copy lands on every EXECUTOR via the broadcast, so
    * the budget is the smaller of the two (review r16: gating on the
    * driver's Runtime.maxMemory alone would admit a broadcast that OOMs
    * small executors on a real cluster — on local[N] both heaps are
    * this JVM and the min is a no-op).
    *
    * Pure core, so the non-local branch is spec-testable without a
    * cluster: when `spark.executor.memory` is UNSET on a non-local
    * master, executors run at Spark's own 1 GiB default — falling back
    * to the driver's heap there would admit a broadcast that OOMs
    * default-sized executors under a large driver, the exact mode this
    * gate exists to prevent (ADVICE r16). On local[N] the executor IS
    * this JVM, so the driver heap is the true budget. */
  private[graft] def subMapBudgetBytes(execMemBytes: Option[Long],
      isLocal: Boolean, driverMaxBytes: Long): Long = {
    val SparkExecutorDefaultBytes = 1L << 30 // Spark's executor-memory default (1g)
    val exec = execMemBytes.getOrElse(
      if (isLocal) driverMaxBytes else SparkExecutorDefaultBytes)
    math.min(driverMaxBytes, exec)
  }

  private[graft] def subMapMaxRowsFor(s: SparkSession): Long = {
    // getSizeAsMb, not byteStringAsBytes: Spark itself reads
    // spark.executor.memory with MiB default units, so a suffix-less
    // "4096" means 4096 MiB — parsing it as bytes would collapse the
    // gate to the floor and silently strand every assignment on the
    // joined path (review r16 second pass)
    val execBytes = s.sparkContext.getConf
      .getOption("spark.executor.memory")
      .map(_ => s.sparkContext.getConf
        .getSizeAsMb("spark.executor.memory") * (1L << 20))
    subMapMaxRows(subMapBudgetBytes(execBytes, s.sparkContext.isLocal,
      Runtime.getRuntime.maxMemory))
  }

  /** Per-index broadcast of the collected sub table (the map fast path).
    * WEAK keys: a replaced index (retrain) drops out and Spark's context
    * cleaner reclaims the orphaned broadcast. */
  private val subMapCache = new java.util.WeakHashMap[SemIndex,
    org.apache.spark.broadcast.Broadcast[Map[Long, Array[(Int, Array[Double])]]]]

  private[graft] def semIndexAssign(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame,
      index: SemIndex, probes: Int = 1,
      probeMargin: Double = Double.PositiveInfinity,
      subProbeMargin: Double = 0.0)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val floatEmb = emb.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false) ||
      emb.schema("embedding").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true)
    // fast path (r15 — found by the first 10 M daily run, which OOMed
    // the join plan below): the sub table collapses to a broadcast
    // cell → centroid-block map and each vector resolves its best sub
    // in a tight task-local argmin — NO per-(vector × sub) row
    // expansion, no sort, nothing but the coarse exchange the cells
    // join already pays. Arithmetic mirrors the vec_dot chain of the
    // join path term for term (three separate float→double
    // accumulations, d² = ee − 2·em + mm, strict-< argmin over
    // sub-ascending blocks), so both paths assign bit-identically —
    // spec-pinned by SemIndexSpec's path-equality test.
    //
    // The size gate IS the collect: limit(max+1) computes the sub plan
    // ONCE and doubles as both the row-count test and the data (a
    // separate count() re-ran the whole sub-training pipeline when the
    // index was live rather than parquet-backed — measured +2.3 s on the
    // gated oracle query). One collect+broadcast per INDEX, not per call
    // (weak-keyed on the SemIndex instance, so a retrained index's
    // predecessor — and its broadcast — become collectable); in the
    // over-gate regime the bounded wasted collect is noise against the
    // giant index's own build cost.
    val subGate = subMapMaxRowsFor(s)
    // the monitor guards only the map lookups — the gate-bounded collect
    // and the broadcast run OUTSIDE it (review r17: holding a global
    // lock across a Spark job serialized every concurrent assign behind
    // one potentially minutes-long build). Two racing builders for the
    // SAME index both build; putIfAbsent-style re-check keeps one, the
    // loser's broadcast is destroyed eagerly.
    val bc = if (!floatEmb) null else {
      val cached = subMapCache.synchronized { subMapCache.get(index) }
      if (cached != null) cached
      else {
        val rows = index.sub.select(col("cell"), col("sub"), col("m"))
          .limit(subGate.toInt + 1).collect()
        if (rows.length > subGate) null
        else {
          val subMap: Map[Long, Array[(Int, Array[Double])]] = rows
            .groupBy(_.getLong(0))
            .map { case (cell, rs) =>
              cell -> rs
                .map(r => (r.getInt(1), r.getSeq[Double](2).toArray))
                .sortBy(_._1)
            }
          val b = s.sparkContext.broadcast(subMap)
          subMapCache.synchronized {
            val raced = subMapCache.get(index)
            if (raced != null) { b.destroy(); raced }
            else { subMapCache.put(index, b); b }
          }
        }
      }
    }
    if (bc != null) {
      import s.implicits._
      val cells = assignVecProbes(emb, index.coarse, probes, probeMargin)
        .select(col("vec_id"), col("c").as("cell"))
      val subM = subProbeMargin
      // the embedding crosses the object boundary packed ([[VecPack]]/
      // [[VecUnpackFloat]], bit-exact round-trip): MapObjects would box
      // every element twice per row (deserialize AND re-serialize) — the
      // allocation shape that OOMed the grouped passes at 10 M
      import graft.functions.VecOps.{vec_pack, vec_unpack_float}
      emb.join(cells, Seq("vec_id"))
        .select(col("vec_id"), vec_pack(col("embedding")).as("eb"), col("cell"))
        .as[(Long, Array[Byte], Long)]
        .mapPartitions { it =>
          val subs = bc.value
          it.flatMap { case (id, eb, cell) =>
            val ebb = java.nio.ByteBuffer.wrap(eb)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val e = new Array[Double](eb.length / 4)
            var ee = 0.0
            var i = 0
            while (i < e.length) {
              e(i) = ebb.getFloat(i * 4).toDouble
              ee += e(i) * e(i)
              i += 1
            }
            val block = subs(cell) // total by construction (sub-0 orphans)
            var best = -1; var bestD = Double.PositiveInfinity
            var secnd = -1; var secndD = Double.PositiveInfinity
            var j = 0
            while (j < block.length) {
              val m = block(j)._2
              val n = math.min(e.length, m.length)
              var em = 0.0; var mm = 0.0
              var d = 0
              while (d < n) { em += e(d) * m(d); d += 1 }
              d = 0
              while (d < m.length) { mm += m(d) * m(d); d += 1 }
              val d2 = ee - 2.0 * em + mm
              if (d2 < bestD) {
                secndD = bestD; secnd = best; bestD = d2; best = block(j)._1
              } else if (d2 < secndD) { secndD = d2; secnd = block(j)._1 }
              j += 1
            }
            val first = (id, (cell << SubBits) + best, eb)
            // level-2 boundary runner-up, the [[localKmeansProbed]] rule
            // verbatim (knob-ON gate, within-margin, lower-sub ties)
            if (subM > 1.0 && secnd >= 0 && secndD <= subM * bestD)
              Iterator(first, (id, (cell << SubBits) + secnd, eb))
            else Iterator.single(first)
          }
        }
        .toDF("vec_id", "cluster", "eb")
        .select(col("vec_id"), col("cluster"),
          vec_unpack_float(col("eb")).as("embedding"))
    } else semIndexAssignJoined(s, emb, index, probes, probeMargin,
      subProbeMargin)
  }

  /** [[semIndexAssign]]'s over-the-gate fallback: broadcast-or-
    * co-partitioned join against the sub table, map-side WindowGroupLimit
    * argmin. The scored rows are cut to SKINNY (vec_id, cell, sub, d2)
    * BEFORE the window (r15): the first 10 M daily run OOMed because the
    * sort under the group limit carried the embedding AND the sub
    * centroid through a ≈ √k-way row expansion — ~3·10⁹ × 900 B at 10 M.
    * Skinny rows make the sorted expansion 32 B/row, and the embedding is
    * re-attached afterwards by one corpus-sized vec_id join (the price of
    * the giant-index regime; under the gate the map path pays neither). */
  private[graft] def semIndexAssignJoined(s: SparkSession,
      emb: org.apache.spark.sql.DataFrame,
      index: SemIndex, probes: Int = 1,
      probeMargin: Double = Double.PositiveInfinity,
      subProbeMargin: Double = 0.0)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.VecOps.vec_dot
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val cells = assignVecProbes(emb, index.coarse, probes, probeMargin)
      .select(col("vec_id"), col("c").as("cell"))
    val w = Window.partitionBy("vec_id", "cell")
      .orderBy(col("d2"), col("sub"))
    val keepN = if (subProbeMargin > 1.0) 2 else 1
    // broadcast the sub table iff a bounded row probe fits it under the
    // broadcast threshold. A live index's sub lineage estimates at GBs
    // for a KB table, so an estimate-gated hint never fired and AQE
    // broadcast whichever join side's stage finished first: the plan
    // (and its map-side partial group limit) followed task timing.
    val subCap = math.min(Int.MaxValue - 1L,
      s.sessionState.conf.autoBroadcastJoinThreshold / SubRowBytes)
    val sub =
      if (subCap > 0 && index.sub.limit(subCap.toInt + 1).count() <= subCap)
        broadcast(index.sub)
      else index.sub
    val ranked = emb.join(cells, Seq("vec_id"))
      .join(sub, Seq("cell"))
      .withColumn("d2",
        vec_dot(col("embedding"), col("embedding"))
          - lit(2.0) * vec_dot(col("embedding"), col("m"))
          + vec_dot(col("m"), col("m")))
      .select(col("vec_id"), col("cell"), col("sub"), col("d2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= keepN)
    // level-2 boundary runner-up: the same post-group-limit margin pass
    // the coarse multiprobe uses ([[assignVecProbes]]) — runs over the
    // ALREADY group-limited ≤2 rows per (vec_id, cell), no extra shuffle
    val kept =
      if (keepN == 1) ranked
      else ranked
        .withColumn("d2b",
          min(col("d2")).over(Window.partitionBy("vec_id", "cell")))
        .filter(col("rk") === 1 ||
          col("d2") <= lit(subProbeMargin) * col("d2b"))
    val best = kept.select(col("vec_id"),
      (shiftleft(col("cell"), SubBits) + col("sub")).as("cluster"))
    best.join(emb, Seq("vec_id"))
      .select(col("vec_id"), col("cluster"), col("embedding"))
  }

  /** Bench attribution hooks: materialize the shared trained artifacts so
    * their build cost is billed to one named query, not to whichever
    * consumer happens to run first. */
  def warmPqIndex(s: SparkSession, dir: String): Long = Pq.trained(s, dir)._2.count()
  def warmCoarseKmeans(s: SparkSession, dir: String): Long = Coarse.d2(s, dir).count()

  /** Last-consumer release hooks (Bench; see [[SessionCaches]]) —
    * unpersist a trained artifact once its final consumer has run, so a
    * long sweep's executor storage steps back to baseline per family
    * instead of accumulating until LRU eviction. Idempotent. */
  def releasePqIndex(s: SparkSession, dir: String): Unit = Pq.release(s, dir)
  def releaseCoarseKmeans(s: SparkSession, dir: String): Unit = Coarse.release(s, dir)
  def releaseSemClusters(s: SparkSession, dir: String): Unit =
    SessionCaches.release(s, s"sim.sem:$dir")
  def releaseIvfCentroids(s: SparkSession, dir: String): Unit =
    SessionCaches.release(s, s"sim.ivf:$dir")

  /** Final k-means assignment (vec_id, cluster) — argmin over the shared
    * cached distance table. The Spark twin of the `clus` CTE below; shared
    * by q_embed_kmeans and q_dedup_semantic. */
  private def kmeansClusters(s: SparkSession, dir: String) = {
    import org.apache.spark.sql.expressions.Window
    Coarse.d2(s, dir)
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2"), col("c"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("c").as("cluster"))
  }

  /** The exact-decimal k-means CTE chain (8 strided seeds, one Lloyd
    * round, final assignment in `clus`) — the DuckDB twin of
    * [[kmeansClusters]], shared verbatim by the q_embed_kmeans and
    * q_dedup_semantic oracles. */
  private val KmeansOracleCtes: String =
    """flat AS (
      |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, generate_series(1, 64) t(i)),
      |kspan AS (SELECT MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM embeddings),
      |ksid AS (SELECT MIN(vec_id) AS vec_id FROM embeddings, kspan
      |         GROUP BY ((vec_id - lo) * 8) // (hi - lo + 1)),
      |c0 AS (SELECT f.vec_id AS c, f.i, f.v AS cv
      |       FROM flat f JOIN ksid ON f.vec_id = ksid.vec_id),
      |d1 AS (
      |  SELECT f.vec_id, c0.c,
      |    SUM(CAST((f.v - c0.cv) * (f.v - c0.cv) AS DECIMAL(28,12))) AS d2
      |  FROM flat f JOIN c0 ON f.i = c0.i GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, c FROM (
      |    SELECT vec_id, c,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
      |    FROM d1) WHERE rk = 1),
      |c1 AS (
      |  SELECT a1.c, f.i,
      |    CAST(SUM(CAST(f.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
      |  FROM flat f JOIN a1 ON f.vec_id = a1.vec_id GROUP BY 1, 2),
      |d2t AS (
      |  SELECT f.vec_id, c1.c,
      |    SUM(CAST((f.v - c1.cv) * (f.v - c1.cv) AS DECIMAL(28,12))) AS d2
      |  FROM flat f JOIN c1 ON f.i = c1.i GROUP BY 1, 2),
      |clus AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT vec_id, c,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
      |    FROM d2t) WHERE rk = 1)""".stripMargin

  /** DuckDB twin of the LSH ANN path. The nonzero splitmix64 ternary
    * weights for planes 0..[[LshOracleMaxPlanes]]-1 are generated into a
    * VALUES table at SQL-construction time (they are pure functions of
    * (plane, dim) — see [[graft.functions.LshOps.weight]]); P itself is
    * derived from N inside the SQL with the engine's formula. Covers
    * corpora up to N = 64·2^24 ≈ 10⁹ vectors — far past any verify SF;
    * a bigger corpus only needs the constant raised. */
  private val LshOracleMaxPlanes = 24

  private def lshOracleSql: String = {
    val wtRows = (for {
      h <- 0 until LshOracleMaxPlanes
      d <- 0 until 64
      w = graft.functions.LshOps.weight(h, d)
      if w != 0
    } yield s"($h,$d,$w)").mkString(",")
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |pp AS (SELECT GREATEST(4, CAST(CEIL(LOG2(n / 64.0)) AS INT)) AS p FROM nn),
       |pl AS (SELECT unnest(generate_series(0, p - 1)) AS plane FROM pp),
       |wt(plane, dim, w) AS (VALUES $wtRows),
       |flat AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, generate_series(1, 64) t(i)),
       |proj AS (
       |  SELECT f.vec_id, pl.plane,
       |    COALESCE(SUM(CAST(f.v * wt.w AS DECIMAL(28,12))), 0) AS s
       |  FROM flat f CROSS JOIN pl
       |  LEFT JOIN wt ON wt.plane = pl.plane AND wt.dim = f.i - 1
       |  GROUP BY 1, 2),
       |bkt AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN CAST(s AS DOUBLE) >= 0
       |    THEN CAST(1 AS BIGINT) << plane ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1),
       |mk AS (SELECT CAST(0 AS BIGINT) AS m
       |       UNION ALL SELECT CAST(1 AS BIGINT) << plane FROM pl),
       |qb AS (SELECT bucket FROM bkt WHERE vec_id = 0),
       |pr AS (SELECT DISTINCT xor(qb.bucket, mk.m) AS bucket FROM qb CROSS JOIN mk),
       |cand AS (
       |  SELECT bkt.vec_id FROM bkt JOIN pr ON bkt.bucket = pr.bucket
       |  WHERE bkt.vec_id <> 0),
       |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2
       |        FROM flat GROUP BY vec_id),
       |dots AS (
       |  SELECT f.vec_id, SUM(CAST(f.v * qq.v AS DECIMAL(28,12))) AS dot
       |  FROM flat f JOIN cand c ON f.vec_id = c.vec_id
       |  JOIN (SELECT i, v FROM flat WHERE vec_id = 0) qq ON f.i = qq.i
       |  GROUP BY 1)
       |SELECT d.vec_id,
       |  round(CAST(dot AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)), 6) AS score
       |FROM dots d JOIN nrm n ON d.vec_id = n.vec_id
       |ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) DESC, d.vec_id
       |LIMIT 10""".stripMargin
  }

  /** The DuckDB twin of q_sim_ann_ivf — k and nprobe derived from N
    * inside the SQL with the engine's formulas, the 2 Lloyd rounds
    * unrolled. */
  private val IvfOracleSql: String = {
    def distsSql(name: String, rows: String, cents: String) =
      s"""$name AS (
         |  SELECT f.vec_id, $cents.c,
         |    SUM(CAST((f.v - $cents.cv) * (f.v - $cents.cv) AS DECIMAL(28,12))) AS d2
         |  FROM $rows f JOIN $cents ON f.i = $cents.i GROUP BY 1, 2)""".stripMargin
    def argminSql(name: String, d: String) =
      s"""$name AS (
         |  SELECT vec_id, c FROM (
         |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
         |    FROM $d) WHERE rk = 1)""".stripMargin
    def meansSql(name: String, asg: String) =
      s"""$name AS (
         |  SELECT $asg.c, f.i,
         |    CAST(SUM(CAST(f.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
         |  FROM samp f JOIN $asg ON f.vec_id = $asg.vec_id GROUP BY 1, 2)""".stripMargin
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |kp AS (SELECT k, GREATEST(2, CAST(CEIL(SQRT(k)) AS INT)) AS np FROM
       |       (SELECT GREATEST(8, CAST(CEIL(SQRT(n)) AS INT)) AS k FROM nn)),
       |flat AS (
       |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, generate_series(1, 64) t(i)),
       |span AS (SELECT MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM embeddings),
       |sid AS (
       |  SELECT MIN(vec_id) AS vec_id FROM embeddings, span, kp
       |  GROUP BY ((vec_id - lo) * k) // (hi - lo + 1)),
       |c0 AS (SELECT f.vec_id AS c, f.i, f.v AS cv
       |       FROM flat f JOIN sid ON f.vec_id = sid.vec_id),
       |samp AS (SELECT * FROM flat WHERE vec_id % 4 = 0),
       |${distsSql("d1", "samp", "c0")},
       |${argminSql("a1", "d1")},
       |${meansSql("c1", "a1")},
       |${distsSql("d2t", "samp", "c1")},
       |${argminSql("a2", "d2t")},
       |${meansSql("c2", "a2")},
       |${distsSql("df", "flat", "c2")},
       |${argminSql("lists", "df")},
       |probes AS (
       |  SELECT c FROM (
       |    SELECT c, ROW_NUMBER() OVER (ORDER BY d2, c) AS rk
       |    FROM df WHERE vec_id = 0), kp WHERE rk <= np),
       |cand AS (
       |  SELECT lists.vec_id FROM lists JOIN probes ON lists.c = probes.c
       |  WHERE lists.vec_id <> 0),
       |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2
       |        FROM flat GROUP BY 1),
       |q AS (SELECT i, v FROM flat WHERE vec_id = 0),
       |dots AS (
       |  SELECT f.vec_id, SUM(CAST(f.v * q.v AS DECIMAL(28,12))) AS dot
       |  FROM flat f JOIN cand ON f.vec_id = cand.vec_id JOIN q ON f.i = q.i
       |  GROUP BY 1)
       |SELECT d.vec_id,
       |  round(CAST(dot AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)), 6) AS score
       |FROM dots d JOIN nrm n ON d.vec_id = n.vec_id
       |ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) DESC, d.vec_id
       |LIMIT 10""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(

    // Brute-force cosine top-k of a fixed query vector (vec_id=0), one
    // plan at every N: the query vector is collected once (64 floats)
    // and baked into the plan as a literal array; every corpus row is
    // scored by the codegen'd vec_dot in ONE narrow map (no explode, no
    // join, no aggregation) and the top-k is a map-side partial
    // TakeOrderedAndProject, never a full sort. At 100 TB this is a pure
    // scan: zero shuffle beyond the k-row driver-side merge. The SQL
    // below is the exact-decimal DuckDB reference it is hashed against.
    "q_sim_topk" -> QueryDef.sql(
      "brute-force cosine top-k vs query vector (exact baseline)",
      """WITH flat AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |q AS (SELECT i, v FROM flat WHERE vec_id = 0),
        |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2 FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT f.vec_id, SUM(CAST(f.v * q.v AS DECIMAL(28,12))) AS dot
        |  FROM flat f JOIN q ON f.i = q.i WHERE f.vec_id <> 0 GROUP BY f.vec_id)
        |SELECT d.vec_id,
        |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))), 6) AS cos_r
        |FROM dots d JOIN nrm n ON d.vec_id = n.vec_id
        |CROSS JOIN (SELECT n2 FROM nrm WHERE vec_id = 0) qn
        |ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))) DESC, d.vec_id
        |LIMIT 10""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.VecOps.vec_dot
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val qv = emb.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).map(_.toDouble)
      val qlit = array(qv.map(lit(_)): _*)
      val qnorm = math.sqrt(qv.map(x => x * x).sum)
      emb.filter(col("vec_id") =!= 0)
        .withColumn("cos", vec_dot(col("embedding"), qlit) /
          (sqrt(vec_dot(col("embedding"), col("embedding"))) * lit(qnorm)))
        .orderBy(col("cos").desc, col("vec_id"))
        .select(col("vec_id"), round(col("cos"), 6).as("cos_r"))
        .limit(10)
    },

    // Batched exact top-k (differential-tested): MANY query vectors at
    // once — the shape a retrieval/labeling pipeline actually runs, not
    // one ad-hoc probe. One plan at every N, like q_sim_topk: the Q query
    // vectors are baked into the plan as literal arrays, each corpus row
    // emits Q (qid, cos) structs scored by the codegen'd vec_dot — ONE
    // scan, no dim explode, no join — and the per-query top-k is a window
    // over (qid). At 100 TB: the only shuffle is the skinny (qid, vec_id,
    // cos) scored rows into the window (Q·N 24-byte rows, 64× less than
    // the exploded reference's partial dots), Q bounded by the plan-
    // literal budget (a few thousand 64-dim queries ≈ MBs).
    "q_sim_batch_topk" -> QueryDef.sql(
      "batched cosine top-k: 5 query vectors, one corpus pass, per-query window",
      """WITH flat AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |q AS (SELECT vec_id AS qid, i, v AS qv FROM flat WHERE vec_id < 5),
        |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2 FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT q.qid, f.vec_id, SUM(CAST(f.v * q.qv AS DECIMAL(28,12))) AS dot
        |  FROM flat f JOIN q ON f.i = q.i WHERE f.vec_id >= 5 GROUP BY 1, 2),
        |scored AS (
        |  SELECT qid, d.vec_id,
        |    CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))) AS cos
        |  FROM dots d JOIN nrm n ON d.vec_id = n.vec_id
        |  JOIN nrm qn ON d.qid = qn.vec_id)
        |SELECT qid, vec_id, round(cos, 6) AS cos_r FROM (
        |  SELECT qid, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored)
        |WHERE rk <= 3""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.register(s)
      import graft.functions.VecOps.vec_dot
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val qs = emb.filter(col("vec_id") < 5)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      val scores = array(qs.toIndexedSeq.map { case (qid, qv) =>
        val qlit = array(qv.map(lit(_)): _*)
        val qnorm = math.sqrt(qv.map(x => x * x).sum)
        struct(lit(qid).as("qid"),
          (vec_dot(col("embedding"), qlit) / (col("nrm") * lit(qnorm))).as("cos"))
      }: _*)
      emb.filter(col("vec_id") >= 5)
        .withColumn("nrm", sqrt(vec_dot(col("embedding"), col("embedding"))))
        .select(col("vec_id"), explode(scores).as("s"))
        .select(col("s.qid").as("qid"), col("vec_id"), col("s.cos").as("cos"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cos_r"))
    },

    // K-means topic clustering, differential-tested: k = 8 deterministic
    // seeds (one per id-range stride, see stridedSeedIds), one Lloyd
    // update, final assignment, ties broken by centroid id. The plan
    // scores with the codegen vec_dot over a broadcast k×dim centroid
    // block ([[Coarse]]); the SQL is the exact-decimal DuckDB reference
    // it is hashed against.
    "q_embed_kmeans" -> QueryDef.sql(
      "k-means clustering: 8 fixed seeds, one Lloyd round + assignment",
      s"""WITH $KmeansOracleCtes
         |SELECT vec_id, cluster FROM clus""".stripMargin) { (s, dir) =>
      // final assignment = argmin over the shared cached distance table
      // (also the IVF-PQ coarse quantizer — trained once per dataset)
      kmeansClusters(s, dir)
    },

    // SemDeDup (differential-tested): semantic deduplication à la Abbas et
    // al. 2023 — block the corpus by LEARNED k-means clusters (not by a
    // hash prefix), compute pairwise cosine only inside each cluster, and
    // drop every vector that has a lower-id cluster-mate above the
    // similarity threshold (keep-first). Blocking k is CORPUS-DERIVED
    // ([[semK]]: k = ⌈N/64⌉) so per-cluster population — and therefore
    // per-cluster pairwise work — stays CONSTANT as the corpus grows;
    // total work is k·64² = O(N). At verify SF the derived k hits the
    // floor of 8 and the blocking is the same trained-once k-means table
    // as q_embed_kmeans / IVF-PQ, so the whole chain — including
    // the exploded exact-decimal in-cluster dots — hash-matches DuckDB.
    // Above the floor, blocking comes from the sample-trained vec_dot
    // quantizer and the in-cluster cosine goes array-native (codegen
    // vec_dot on the packed embeddings — no 64-way explode); the cluster
    // id is the one shuffle key (same partitioning the IVF index already
    // maintains, so the blocks are free if both run).
    // Incremental SEMANTIC dedup, oracle-gated (r14): the
    // q_dedup_incremental argument one level up — a FROZEN quantizer
    // trained on the BOOTSTRAP corpus (vec_id ≥ N/4; seeds = its 8
    // smallest ids, one exact-decimal Lloyd round over bootstrap only),
    // every vector assigned through the frozen centroids, in-cluster
    // exact-decimal cosine at τ = 0.25, and the result restricted to
    // pairs TOUCHING the fresh quarter — exactly the per-day emission of
    // the standing-index maintenance loop. Two plans, split on the
    // bootstrap's blocking k (the exact chain is O(n²·d/8) with k frozen
    // at 8 regardless of n — 14 % of the clean suite at 2,000 vectors):
    //  - semK(N − N/4) ≤ FlatKCap: the exact-decimal fixed-k=8 chain
    //    below, hash-green vs DuckDB (sf0.01, the driver's gate);
    //  - above: the PRODUCTION path — semIndexTrain on the bootstrap
    //    three-quarters (k = semK(N), hierarchical), semIndexAssign of
    //    the full corpus through the frozen index, in-cluster float
    //    cosine via semDupPairsAssigned, restricted to pairs touching
    //    the fresh quarter. A designed mismatch vs the exact oracle at
    //    sf0.1 (different blocking k and float arithmetic — the
    //    q_dedup_semantic convention); its correctness is carried by
    //    SemIndexSpec (batch-vs-whole assignment equality,
    //    WindowGroupLimit plan pin) and SemIndexJobSpec (the compacted
    //    daily loop's sym_diff-0 end state through the job).
    "q_dedup_incremental_sem" -> QueryDef.sql(
      "incremental semantic dedup: fresh batch through a frozen bootstrap-trained quantizer",
      """WITH nn AS (SELECT COUNT(*) // 4 AS k FROM embeddings),
        |flat AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |seeds AS (
        |  SELECT vec_id FROM embeddings, nn WHERE vec_id >= nn.k
        |  ORDER BY vec_id LIMIT 8),
        |c0 AS (
        |  SELECT f.vec_id AS c, f.i, f.v AS cv
        |  FROM flat f JOIN seeds s ON f.vec_id = s.vec_id),
        |d1 AS (
        |  SELECT f.vec_id, c0.c,
        |    SUM(CAST((f.v - c0.cv) * (f.v - c0.cv) AS DECIMAL(28,12))) AS d2
        |  FROM flat f JOIN c0 ON f.i = c0.i, nn WHERE f.vec_id >= nn.k
        |  GROUP BY 1, 2),
        |a1 AS (
        |  SELECT vec_id, c FROM (
        |    SELECT vec_id, c,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
        |    FROM d1) WHERE rk = 1),
        |c1 AS (
        |  SELECT a1.c, f.i,
        |    CAST(SUM(CAST(f.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
        |  FROM flat f JOIN a1 ON f.vec_id = a1.vec_id GROUP BY 1, 2),
        |d2t AS (
        |  SELECT f.vec_id, c1.c,
        |    SUM(CAST((f.v - c1.cv) * (f.v - c1.cv) AS DECIMAL(28,12))) AS d2
        |  FROM flat f JOIN c1 ON f.i = c1.i GROUP BY 1, 2),
        |clus AS (
        |  SELECT vec_id, c AS cluster FROM (
        |    SELECT vec_id, c,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
        |    FROM d2t) WHERE rk = 1),
        |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2
        |        FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    SUM(CAST(a.v * b.v AS DECIMAL(28,12))) AS dot
        |  FROM flat a JOIN clus ca ON a.vec_id = ca.vec_id
        |  JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
        |  JOIN clus cb ON b.vec_id = cb.vec_id AND cb.cluster = ca.cluster
        |  GROUP BY 1, 2)
        |SELECT vec_a, vec_b,
        |  CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) AS cos
        |FROM dots JOIN nrm x ON vec_a = x.vec_id
        |JOIN nrm y ON vec_b = y.vec_id, nn
        |WHERE CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) >= 0.25
        |  AND (vec_a < nn.k OR vec_b < nn.k)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val n = emb.count()
      val cut = n / 4
      if (semK(n - cut) > FlatKCap) {
        // production: the frozen standing index itself (float path) —
        // ONLY in the hierarchical regime its train require demands;
        // smaller corpora (up to ~1365 vectors) run the exact chain
        // below, which is also the oracle. sf0.1 is the smallest driver
        // SF on this branch: N = 2000, bootstrap 1500, semK = 24.
        val boot = emb.select("vec_id", "embedding")
          .filter(col("vec_id") >= cut)
        val index = semIndexTrain(s, boot, n - cut)
        val assigned = semIndexAssign(s, emb.select("vec_id", "embedding"), index)
        semDupPairsAssigned(s, assigned, 0.25, multiAssigned = false)
          .filter(col("vec_a") < cut || col("vec_b") < cut)
          .select("vec_a", "vec_b", "cos")
      } else {
      val flat = emb.select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).as("i"),
          col("col").cast("double").as("v"))
      def dists(rows: org.apache.spark.sql.DataFrame,
          cents: org.apache.spark.sql.DataFrame) =
        rows.join(broadcast(cents), Seq("i"))
          .groupBy("vec_id", "c")
          .agg(sum(((col("v") - col("cv")) * (col("v") - col("cv")))
            .cast(DecimalType(28, 12))).as("d2"))
      def argmin(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("rk", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2"), col("c"))))
          .filter(col("rk") === 1)
      val bootFlat = flat.filter(col("vec_id") >= cut)
      val seeds = emb.filter(col("vec_id") >= cut)
        .orderBy("vec_id").limit(8).select("vec_id")
      val c0 = bootFlat.join(broadcast(seeds), Seq("vec_id"))
        .select(col("vec_id").as("c"), col("i"), col("v").as("cv"))
      val a1 = argmin(dists(bootFlat, c0)).select("vec_id", "c")
      val c1 = flat.join(a1, Seq("vec_id"))
        .groupBy("c", "i")
        .agg((sum(col("v").cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("cv"))
      val clus = argmin(dists(flat, c1))
        .select(col("vec_id"), col("c").as("cluster"))
      val nrm = flat.groupBy("vec_id")
        .agg(sum((col("v") * col("v")).cast(DecimalType(28, 12))).as("n2"))
      val fa = flat.join(clus, Seq("vec_id"))
        .select(col("cluster"), col("i"), col("vec_id").as("vec_a"),
          col("v").as("va"))
      val fb = flat.join(clus, Seq("vec_id"))
        .select(col("cluster"), col("i"), col("vec_id").as("vec_b"),
          col("v").as("vb"))
      fa.join(fb, Seq("cluster", "i"))
        .filter(col("vec_a") < col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(sum((col("va") * col("vb")).cast(DecimalType(28, 12))).as("dot"))
        .join(nrm.select(col("vec_id").as("vec_a"), col("n2").as("na")), Seq("vec_a"))
        .join(nrm.select(col("vec_id").as("vec_b"), col("n2").as("nb")), Seq("vec_b"))
        .withColumn("cos", col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        .filter(col("cos") >= 0.25 &&
          (col("vec_a") < cut || col("vec_b") < cut))
        .select("vec_a", "vec_b", "cos")
      }
    },

    "q_dedup_semantic" -> QueryDef.sql(
      "SemDeDup: k-means-blocked pairwise cosine, drop lower-priority near-dups",
      s"""WITH $KmeansOracleCtes,
         |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2
         |        FROM flat GROUP BY vec_id),
         |m AS (SELECT clus.cluster, f.vec_id, f.i, f.v
         |      FROM flat f JOIN clus ON f.vec_id = clus.vec_id),
         |dots AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    SUM(CAST(a.v * b.v AS DECIMAL(28,12))) AS dot
         |  FROM m a JOIN m b ON a.cluster = b.cluster AND a.i = b.i
         |    AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2),
         |dup AS (
         |  SELECT DISTINCT d.vec_b AS vec_id
         |  FROM dots d JOIN nrm x ON d.vec_a = x.vec_id
         |  JOIN nrm y ON d.vec_b = y.vec_id
         |  WHERE CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) >= 0.25)
         |SELECT c.vec_id, c.cluster,
         |  CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
         |FROM clus c LEFT JOIN dup ON c.vec_id = dup.vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      if (semK(emb.count()) <= 8) {
        // verify SF: the exact-decimal oracle twin, hash-equal to DuckDB
        val clus = kmeansClusters(s, dir)
        val flat = Pq.flat(s, dir).select("vec_id", "i", "v")
        val nrm = flat.groupBy("vec_id")
          .agg(sum((col("v") * col("v")).cast(DecimalType(28, 12))).as("n2"))
        val m = flat.join(clus, Seq("vec_id"))
        val a = m.select(col("cluster"), col("i"),
          col("vec_id").as("vec_a"), col("v").as("va"))
        val b = m.select(col("cluster"), col("i"),
          col("vec_id").as("vec_b"), col("v").as("vb"))
        val dots = a.join(b, Seq("cluster", "i"))
          .filter(col("vec_a") < col("vec_b"))
          .groupBy("vec_a", "vec_b")
          .agg(sum((col("va") * col("vb")).cast(DecimalType(28, 12))).as("dot"))
        val dup = dots
          .join(nrm.select(col("vec_id").as("vec_a"), col("n2").as("na")), Seq("vec_a"))
          .join(nrm.select(col("vec_id").as("vec_b"), col("n2").as("nb")), Seq("vec_b"))
          .filter(col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))) >= 0.25)
          .select(col("vec_b").as("vec_id")).distinct()
        clus.join(dup.withColumn("isdup", lit(1)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cluster"),
            when(col("isdup").isNull, 1).otherwise(0).as("kept"))
      } else {
        // corpus-scaled path: derived-k blocking, then the ONE in-cluster
        // pair scan the whole sem family shares (review r17: this branch
        // re-implemented it as an embedding-carrying DataFrame self-join
        // — two full embedding shuffles and ~2016 join rows per 64-member
        // cluster each dragging two float arrays, missing the vec_pack
        // hardening semDupPairs carries)
        graft.functions.GraftFunctions.register(s)
        val clus = semClusters(s, dir) // memoized + cached per dataset
        // single-membership blocking (semClusters uses the probes = 1
        // defaults), so the pair-dedup exchange is provably redundant —
        // skip it (review r19: this caller paid the multiAssigned
        // dropDuplicates the r15 note eliminated for the incremental one)
        val dup = semDupPairs(s, emb, clus, 0.25, multiAssigned = false)
          .select(col("vec_b").as("vec_id")).distinct()
        clus.join(dup.withColumn("isdup", lit(1)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cluster"),
            when(col("isdup").isNull, 1).otherwise(0).as("kept"))
      }
    },

    // Product quantization (differential-tested): the vector-compression
    // path every 100 TB ANN deployment ships — 64 dims cut into 8
    // subspaces of 8, one 16-centroid codebook per subspace (seeds =
    // 16 id-range-strided vectors' subvectors, one Lloyd round over the
    // deterministic 25 % sample), every vector encoded as 8 one-byte
    // codes: 32× smaller than the float vectors, scored at query time
    // via per-subspace lookup tables. Codebooks are k×dim tiny and
    // BROADCAST; assignment is a scan-local argmin + one (vec, sub) keyed
    // window — the corpus shuffles nothing but its codes. Composes with
    // q_sim_ann_ivf as IVF-PQ (coarse lists + in-list PQ scoring).
    "q_embed_pq" -> QueryDef.sql(
      "product quantization: 8 subspaces × 16 codes, sample-trained, per-vector code table",
      s"""WITH ${Pq.OracleCtes}
         |SELECT vec_id, CAST(sub AS BIGINT) AS subspace, c AS code
         |FROM codes""".stripMargin) { (s, dir) =>
      Pq.trained(s, dir)._2
        .select(col("vec_id"), col("sub").as("subspace"), col("c").as("code"))
    },

    // PQ-ADC search (differential-tested): the query path over the
    // compressed corpus — build the query's per-subspace lookup table
    // (16×8 partial distances to every codebook entry, exact decimals),
    // then score every vector as the sum of 8 LUT entries selected by its
    // codes. The corpus side touches ONLY the code table (8 bytes/vector)
    // — never the float vectors — which is the entire point of PQ at
    // 100 TB; the LUT broadcasts. Top-k by exact-decimal distance, so
    // Spark and DuckDB rank identically.
    //
    // Accuracy note (measured): ADC d2 tracks exact L2 within ~0.26-0.30
    // mean relative error on all three SF datasets (LlmOpsSpec bound).
    // Top-k overlap with exact is chance-dominated HERE because iid
    // synthetic embeddings concentrate pairwise distances below the
    // quantization noise; on structured real embeddings the standard
    // production recipe is ADC top-R then exact re-rank (compose with
    // q_sim_topk over the candidate ids).
    "q_sim_ann_pq" -> QueryDef.sql(
      "ANN: PQ-ADC search — LUT over codebooks, score codes only, top-10",
      s"""WITH ${Pq.OracleCtes},
         |q AS (SELECT i, (i - 1) // 8 AS sub, v FROM flat WHERE vec_id = 0),
         |lut AS (
         |  SELECT c1.c, q.sub,
         |    SUM(CAST((q.v - c1.cv) * (q.v - c1.cv) AS DECIMAL(28,12))) AS pd
         |  FROM q JOIN c1 ON q.i = c1.i GROUP BY 1, 2),
         |sc AS (
         |  SELECT codes.vec_id, SUM(pd) AS d2
         |  FROM codes JOIN lut ON codes.sub = lut.sub AND codes.c = lut.c
         |  WHERE codes.vec_id <> 0 GROUP BY 1)
         |SELECT vec_id, round(CAST(d2 AS DOUBLE), 6) AS adc_r
         |FROM sc ORDER BY d2, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      // the shared trained index: codebook feeds the query LUT, the code
      // table is the only corpus-side input (8 bytes/vector — the point)
      val (c1, codes) = Pq.trained(s, dir)
      val q = Pq.flat(s, dir).filter(col("vec_id") === 0)
        .select(col("i"), col("sub"), col("v").as("qv"))
      val lut = q.join(broadcast(c1), Seq("i"))
        .groupBy("c", "sub")
        .agg(sum(((col("qv") - col("cv")) * (col("qv") - col("cv")))
          .cast(DecimalType(28, 12))).as("pd"))
      codes.filter(col("vec_id") =!= 0)
        .join(broadcast(lut), Seq("sub", "c"))
        .groupBy("vec_id")
        .agg(sum("pd").as("d2"))
        .orderBy(col("d2"), col("vec_id"))
        .select(col("vec_id"), round(col("d2").cast("double"), 6).as("adc_r"))
        .limit(10)
    },

    // IVF + PQ-ADC composed (differential-tested): the full shape of a
    // production vector index — a coarse quantizer narrows the search to
    // nprobe inverted lists, and ONLY those lists' members are scored,
    // from their 8-byte PQ codes via the query LUT. The coarse quantizer
    // here is q_embed_kmeans's shared table ([[Coarse]]), and every stage
    // — lists, codes, LUT, scores, ranking — hash-matches DuckDB at the
    // verify SF. At 100 TB: list id is the
    // partition key, a probe reads nprobe/k of the code table (N·8 bytes
    // total), and the float vectors are touched only at train time.
    "q_sim_ann_ivfpq" -> QueryDef.sql(
      "ANN: IVF-PQ — coarse k-means lists, in-list PQ-ADC scoring, top-10",
      s"""WITH ${Pq.OracleCtes},
         |ksid AS (SELECT MIN(vec_id) AS vec_id FROM embeddings, pqspan
         |         GROUP BY ((vec_id - lo) * 8) // (hi - lo + 1)),
         |kc0 AS (SELECT f.vec_id AS c, f.i, f.v AS cv
         |        FROM flat f JOIN ksid ON f.vec_id = ksid.vec_id),
         |cd1 AS (
         |  SELECT f.vec_id, kc0.c,
         |    SUM(CAST((f.v - kc0.cv) * (f.v - kc0.cv) AS DECIMAL(28,12))) AS d2
         |  FROM flat f JOIN kc0 ON f.i = kc0.i GROUP BY 1, 2),
         |ca1 AS (
         |  SELECT vec_id, c FROM (
         |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
         |    FROM cd1) WHERE rk = 1),
         |cc1 AS (
         |  SELECT ca1.c, f.i,
         |    CAST(SUM(CAST(f.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
         |  FROM flat f JOIN ca1 ON f.vec_id = ca1.vec_id GROUP BY 1, 2),
         |cd2 AS (
         |  SELECT f.vec_id, cc1.c,
         |    SUM(CAST((f.v - cc1.cv) * (f.v - cc1.cv) AS DECIMAL(28,12))) AS d2
         |  FROM flat f JOIN cc1 ON f.i = cc1.i GROUP BY 1, 2),
         |lists AS (
         |  SELECT vec_id, c AS list FROM (
         |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
         |    FROM cd2) WHERE rk = 1),
         |probes AS (
         |  SELECT c AS list FROM cd2 WHERE vec_id = 0 ORDER BY d2, c LIMIT 2),
         |q AS (SELECT i, (i - 1) // 8 AS sub, v FROM flat WHERE vec_id = 0),
         |lut AS (
         |  SELECT c1.c, q.sub,
         |    SUM(CAST((q.v - c1.cv) * (q.v - c1.cv) AS DECIMAL(28,12))) AS pd
         |  FROM q JOIN c1 ON q.i = c1.i GROUP BY 1, 2),
         |cand AS (
         |  SELECT lists.vec_id FROM lists JOIN probes ON lists.list = probes.list
         |  WHERE lists.vec_id <> 0),
         |sc AS (
         |  SELECT codes.vec_id, SUM(pd) AS d2
         |  FROM codes JOIN cand ON codes.vec_id = cand.vec_id
         |  JOIN lut ON codes.sub = lut.sub AND codes.c = lut.c
         |  GROUP BY 1)
         |SELECT vec_id, round(CAST(d2 AS DOUBLE), 6) AS adc_r
         |FROM sc ORDER BY d2, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // coarse quantizer: the shared cached k-means distance table (the
      // same chain q_embed_kmeans hashes against DuckDB)
      val cd2 = Coarse.d2(s, dir)
      val lists = cd2
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("d2"), col("c"))))
        .filter(col("rk") === 1).select(col("vec_id"), col("c").as("list"))
      val probes = cd2.filter(col("vec_id") === 0)
        .orderBy(col("d2"), col("c")).limit(2)
        .select(col("c").as("list"))
      // fine quantizer: the shared trained PQ index (codes + query LUT)
      val (c1, codes) = Pq.trained(s, dir)
      val q = Pq.flat(s, dir).filter(col("vec_id") === 0)
        .select(col("i"), col("sub"), col("v").as("qv"))
      val lut = q.join(broadcast(c1), Seq("i"))
        .groupBy("c", "sub")
        .agg(sum(((col("qv") - col("cv")) * (col("qv") - col("cv")))
          .cast(DecimalType(28, 12))).as("pd"))
      val cand = lists.join(broadcast(probes), Seq("list"))
        .filter(col("vec_id") =!= 0).select("vec_id")
      codes.join(cand, Seq("vec_id"))
        .join(broadcast(lut), Seq("sub", "c"))
        .groupBy("vec_id")
        .agg(sum("pd").as("d2"))
        .orderBy(col("d2"), col("vec_id"))
        .select(col("vec_id"), round(col("d2").cast("double"), 6).as("adc_r"))
        .limit(10)
    },

    // LSH-bucketed ANN, corpus-scaled + multiprobe. Plane count is derived
    // from N (expected bucket population stays ≈ LshTargetBucket), buckets
    // are computed by the native codegen `lsh_bucket` expression — a pure
    // narrow map, NO shuffle until the candidate join — and the query
    // probes its own bucket plus all P 1-bit-neighbor buckets (multiprobe)
    // so recall survives the finer partitioning. The 100 TB shape: bucket
    // id is the one shuffle key; a probe touches (P+1)/2^P of the corpus,
    // a vanishing fraction as N grows.
    //
    // Differential-tested (VERDICT r6 item 4, the simhash generated-twin
    // precedent): the splitmix64 ternary hyperplane weights are
    // data-independent CONSTANTS, so the DuckDB twin embeds the generated
    // (plane, dim) weight table as VALUES, derives P from N with the same
    // formula, and replays bucket assignment + multiprobe + in-bucket
    // ranking in SQL. Projections use exact-decimal sums — only the SIGN
    // feeds the bucket bit, so the engine's double accumulation agrees
    // unless a projection lands within ~1e-13 of zero (never, on real
    // embeddings).
    "q_sim_ann_lsh" -> QueryDef.sql(
      "ANN: corpus-scaled LSH buckets (P=log2(N/64)) + 1-bit multiprobe + in-bucket cosine top-k",
      lshOracleSql) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.VecOps.{lsh_bucket, vec_dot}
      val emb = Tables.embeddings(s, dir)
      // index size from corpus size — on parquet, count() is metadata-only
      val n = emb.count()
      val p = lshPlanes(n)
      val bucketed = emb.withColumn("bucket", lsh_bucket(col("embedding"), lit(p)))
      // multiprobe set: the query's bucket XOR {0, 1<<0, …, 1<<(P-1)} —
      // P+1 distinct bucket ids, broadcast to the candidate join
      val masks = array((lit(0L) +: (0 until p).map(h => lit(1L << h))): _*)
      val probes = bucketed.filter(col("vec_id") === 0)
        .select(explode(masks).as("mask"), col("bucket"), col("embedding"))
        .select(col("bucket").bitwiseXOR(col("mask")).as("bucket"),
          col("embedding").as("q_emb"))
      // candidates: each vector lives in exactly one bucket and probe ids
      // are distinct, so the equi-join yields each candidate at most once.
      // Scoring is array-native via codegen'd vec_dot — no explode, no
      // per-candidate aggregation shuffle.
      bucketed.filter(col("vec_id") =!= 0)
        .join(broadcast(probes), Seq("bucket"))
        .withColumn("cos",
          vec_dot(col("embedding"), col("q_emb")) /
            sqrt(vec_dot(col("embedding"), col("embedding")))) // q-norm cancels
        .orderBy(col("cos").desc, col("vec_id"))
        .select(col("vec_id"), round(col("cos"), 6).as("score"))
        .limit(10)
    },

    // IVF ANN, corpus-scaled: k = ceil(sqrt(N)) centroids (deterministic
    // seed = one vector per id-range stride (see trainVecCentroids —
    // strided since r20), 2 Lloyd iterations over a 25 % sample,
    // exact-decimal means) → inverted lists keyed by centroid → probe the
    // nprobe = ceil(sqrt(k)) nearest lists. Assignment is ARRAY-NATIVE:
    // distance d² = |v|² − 2·v·m + |m|² via the codegen'd vec_dot against
    // a broadcast centroid table — N·k narrow rows with a map-side
    // partial min, instead of the 64-way posexplode blowup. The 100 TB
    // shape: lists are partition keys; a query scans ≈ N^(3/4) vectors
    // (fraction nprobe/k ≈ N^(-1/4) → 0), and training cost is one pass
    // over a fixed corpus fraction.
    //
    // Differential-tested: this one plan runs at every N and hash-matches
    // the unrolled exact-decimal DuckDB twin ([[IvfOracleSql]]) at the
    // verify SF, and is recall-spec'd at sf0.1.
    "q_sim_ann_ivf" -> QueryDef.sql(
      "ANN: IVF coarse quantizer (k=ceil(sqrt(N)), sample-trained) + nprobe=ceil(sqrt(k)) search",
      IvfOracleSql) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.VecOps.vec_dot
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val n = emb.count() // parquet metadata, not a scan
      val k = ivfK(n)
      val nprobe = ivfNprobe(k)

      // the trained quantizer (k×dim doubles, [[trainVecCentroids]]) feeds
      // BOTH the probe selection and the full-corpus assignment — memoized
      // + cached per dataset so the Lloyd chain is neither recomputed
      // within a call nor re-cached per sweep call (ADVICE r6)
      val centroids = SessionCaches.memoize(
        ivfCentroidsMemo, (System.identityHashCode(s), dir), {
          SessionCaches.onRelease(s, s"sim.ivf:$dir")(() =>
            ivfCentroidsMemo.remove((System.identityHashCode(s), dir))
              .foreach(_.unpersist(false)))
          trainVecCentroids(emb, k).cache()
        })

      // query = vec 0: its nprobe nearest centroids
      val qEmb = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val probes = centroids.crossJoin(broadcast(qEmb))
        .withColumn("d2",
          vec_dot(col("q_emb"), col("q_emb"))
            - lit(2.0) * vec_dot(col("q_emb"), col("m"))
            + vec_dot(col("m"), col("m")))
        .orderBy(col("d2"), col("c")).limit(nprobe)
        .select("c")

      // inverted lists over the FULL corpus, probed lists only, then
      // array-native candidate scoring (codegen'd vec_dot, no explode)
      val cands = assignVec(emb, centroids)
        .join(broadcast(probes), Seq("c")).select("vec_id")
      emb.join(cands, Seq("vec_id")).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qEmb))
        .withColumn("cos",
          vec_dot(col("embedding"), col("q_emb")) /
            sqrt(vec_dot(col("embedding"), col("embedding"))))
        .orderBy(col("cos").desc, col("vec_id"))
        .select(col("vec_id"), round(col("cos"), 6).as("score"))
        .limit(10)
    },

    // Random projection (differential-tested): Johnson–Lindenstrauss
    // dimensionality reduction 64 → 16 with a deterministic ±1 sign
    // matrix (sign(j,i) = +1 iff the first md5 nibble of "j_i" is < 8),
    // scaled by 1/√16 — the cheap preprocessing step before LSH/clustering
    // when the embedding dim is large. One plan at every N: the 16 sign
    // rows are baked into the plan as ±1 array LITERALS and scored by the
    // codegen'd vec_dot in ONE narrow map over the packed embeddings: no
    // explode, no join, no aggregation, ZERO shuffle. The only row
    // expansion is the 16 final (dim, score) structs per vector, emitted
    // post-scoring. At 100 TB this is a pure scan — output volume is the
    // input's 16/64. The SQL below is the exact-decimal DuckDB reference.
    "q_embed_rp" -> QueryDef.sql(
      "random projection (JL): 64-dim -> 16-dim via deterministic ±1 signs / sqrt(16)",
      """WITH flat AS (
        |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |sgn AS (
        |  SELECT i, j,
        |    CASE WHEN substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)
        |      BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END AS sg
        |  FROM generate_series(1, 64) a(i), generate_series(1, 16) b(j))
        |SELECT f.vec_id, CAST(s.j AS BIGINT) AS dim,
        |  round(CAST(SUM(CAST(f.v * s.sg AS DECIMAL(28,12))) AS DOUBLE) / 4, 6) AS r
        |FROM flat f JOIN sgn s ON f.i = s.i
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // the sign matrix as plan literals, computed once on the driver
      // with the same md5 derivation the oracle uses
      graft.functions.GraftFunctions.register(s)
      import graft.functions.VecOps.vec_dot
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      def sign(j: Int, i: Int): Double = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${j}_$i".getBytes("UTF-8"))
        if ((d(0) & 0xff) < 0x80) 1.0 else -1.0
      }
      val scores = array((1 to 16).map { j =>
        val sg = array((1 to 64).map(i => lit(sign(j, i))): _*)
        struct(lit(j.toLong).as("dim"),
          round(vec_dot(col("embedding"), sg) / 4, 6).as("r"))
      }: _*)
      emb.select(col("vec_id"), explode(scores).as("s"))
        .select(col("vec_id"), col("s.dim").as("dim"), col("s.r").as("r"))
    }
  )
}
