package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fuzzy-dedup operators for the training-data pipeline: MinHash+LSH,
  * SimHash, blocked n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every operator is candidate-generation (LSH bands /
  * blocking) followed by exact verification on candidates only — the only
  * all-pairs work happens inside buckets. Everything is Spark built-ins
  * (higher-order array functions + hash), fully codegen'd; no UDFs.
  */
object DedupOps {

  /** Word 3-shingle set of `text` (lowercased, distinct) via the native
    * codegen word_ngrams expression (the interpreted transform/slice
    * lambda chain measured ~15x slower; session must have
    * GraftFunctions.register'd, which every caller does). */
  private def shingles(text: Column): Column =
    array_distinct(graft.functions.TextNgrams.word_ngrams(lower(trim(text)), lit(3)))

  /** One materialized near-dup pair set per (session, dir), shared by the
    * four queries that consume it (cos pairs, both clusterings, apply) —
    * the corpus analog of MempoolParse.mergeOutput: a pipeline computes
    * near-dup pairs once and every downstream stage reads them. Bench
    * materializes this in a timed block billed to q_dedup_embedding_cos
    * so the cost is attributed, not smeared over whichever query runs
    * first. */
  private val pairsMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  def pairsCache(s: SparkSession, dir: String): DataFrame =
    SessionCaches.memoize(pairsMemo, (System.identityHashCode(s), dir), {
      SessionCaches.onRelease(s, s"dedup.pairs:$dir")(() => releasePairs(s, dir))
      embeddingCosPairs(s, dir).cache()
    })

  /** Unpersist + evict the shared pair set — called by Bench after the
    * last pair consumer (q_dedup_embedding_cos/clusters/clusters_star/
    * apply) and by the session-end sweep. Idempotent; a later
    * [[pairsCache]] call simply retrains. */
  def releasePairs(s: SparkSession, dir: String): Unit =
    pairsMemo.remove((System.identityHashCode(s), dir))
      .foreach(_.unpersist(false))

  /** SimHash fingerprints, one row per doc (doc_id + eight 16-bit majority
    * chunks), cached because the band self-join reads it from BOTH sides
    * and Spark does not reuse the exchange across them. Tiny at any scale
    * (9 longs per doc); released after q_dedup_simhash runs. */
  private val simhashFpMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  private[graft] def simhashFp(s: SparkSession, dir: String): DataFrame =
    SessionCaches.memoize(simhashFpMemo, (System.identityHashCode(s), dir), {
      SessionCaches.onRelease(s, s"dedup.simhash.fp:$dir")(() =>
        releaseSimhashFp(s, dir))
      graft.functions.GraftFunctions.register(s)
      // explode words once; ALL 128 majority votes run inside ONE custom
      // typed aggregate (long[129] buffer) — the per-bit `sum` column
      // form was semantically identical but its 129-field generated
      // aggregate class billed multi-second Janino compilation to the
      // first run and fell outside the whole-stage-codegen field budget
      val wordRows = withPlanted(s, dir).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      val fp = wordRows.groupBy("doc_id")
        .agg(call_function("simhash_chunks", col("w")).as("mc"))
        .select(col("doc_id") +: (0 until 8).map(j =>
          element_at(col("mc"), j + 1).as(s"m$j")): _*)
        .cache()
      // materialize NOW: the band self-join reads fp from two concurrent
      // jobs (broadcast build + probe), and a lazily-cached plan gets
      // computed by BOTH before either fills the cache. Unpersist on a
      // FAILED materialization (review r19, the jaccardPerDoc r17 fix's
      // class): a count() that dies mid-job leaves partially-cached
      // blocks pinned with no memo entry for the release hook to find.
      try fp.count()
      catch { case t: Throwable => fp.unpersist(false); throw t }
      fp
    })

  /** Unpersist + evict the fingerprint table — Bench calls this right
    * after q_dedup_simhash (its only consumer); idempotent. */
  def releaseSimhashFp(s: SparkSession, dir: String): Unit =
    simhashFpMemo.remove((System.identityHashCode(s), dir))
      .foreach(_.unpersist(false))

  /** Cached (doc_id, sh[, extra…]) shingle-array table — the one branch
    * point the signature pass and both verify joins read. Memoized on the
    * input plan's identity so repeated calls over the same docs frame
    * (pairs + index + incremental variants within one Verify/Bench
    * session) share ONE cache instead of pinning a fresh copy each; the
    * session-end sweep (or an explicit release) unpersists it once.
    * The key pairs the 32-bit semanticHash with an md5 of the
    * canonicalized plan (review r17): this key controls CACHE IDENTITY —
    * a bare-Int collision between two of the many distinct frames a
    * daily-ingest loop accumulates would silently serve the wrong
    * corpus's shingles to minhashVerify, wrong pairs and no error. */
  private val minhashBaseMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  private def minhashBaseKey(s: SparkSession, docs: DataFrame): (Int, String) = {
    val analyzed = docs.queryExecution.analyzed
    val md = java.security.MessageDigest.getInstance("MD5")
    val planMd5 = md.digest(analyzed.canonicalized.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
    (System.identityHashCode(s), s"${analyzed.semanticHash()}_$planMd5")
  }

  /** The memoized, DISK_ONLY-persisted (doc_id, sh[, extra…]) shingle
    * table the MinHash builders band and verify — shared by
    * q_dedup_minhash, q_dedup_incremental and the index twin in one
    * session. */
  private[graft] def minhashBase(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val key = minhashBaseKey(s, docs)
    SessionCaches.memoize(minhashBaseMemo, key, {
      SessionCaches.onRelease(s, s"dedup.minhash.base:${key._2}")(() =>
        minhashBaseMemo.remove(key).foreach(_.unpersist(false)))
      val extra = docs.columns.filter(c => c != "doc_id" && c != "text").map(col)
      // DISK_ONLY, same measured rule as the merge DAG's parsed stage:
      // the shingle arrays are an O(corpus) fat intermediate read a
      // bounded number of times (both sides of the band join, the warm
      // probes), and in-heap caching made them COMPETE with the band
      // join's execution memory — at 1 M docs the deserialized cache
      // drove 30 % task GC and OOM'd the 8 g heap outright on the warm
      // re-probe (r12, 1 M-doc stage attribution); DISK_ONLY reads come
      // back through the OS page cache at near-memory speed without
      // squeezing the unified pool.
      docs.select(col("doc_id") +: shingles(col("text")).as("sh") +: extra.toSeq: _*)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    })
  }

  /** Release EVERY memoized shingle base for `s` — for callers that
    * create bases on frames they never see (minhashPairsAgainstIndex
    * shingles an internal `touchedExisting` semi-join; a K-day ingest
    * loop makes K distinct such frames, and without this sweep each
    * day's base stays persisted for the session's lifetime — the r13
    * daily-loop bench OOM'd its full-batch oracle exactly this way). */
  private[graft] def releaseAllMinhashBases(s: SparkSession): Unit = {
    val sid = System.identityHashCode(s)
    minhashBaseMemo.keys.filter(_._1 == sid)
      .foreach(k => SessionCaches.release(s, s"dedup.minhash.base:${k._2}"))
    // the internal frames persistTracked pins ride the same sweep
    // (ADVICE r18): the CALLER never sees them to release them.
    pinnedMemo.keys.filter(_._1 == sid)
      .foreach(k => SessionCaches.release(s, s"dedup.pinned:${k._2}"))
  }

  private val pinnedMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, Long), DataFrame]
  private val pinnedSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Eager `persist(MEMORY_AND_DISK)` + count of an internal frame —
    * [[minhashPairsAgainstIndex]]'s candidate pairs — tracked so the
    * [[releaseAllMinhashBases]] sweep (or session end) unpersists it; a
    * K-day loop otherwise retained K pins for the session's lifetime.
    * Keyed by a per-call sequence, not a plan hash. Returns the frame and
    * an idempotent early-release thunk. A cache, not a localCheckpoint:
    * the plan keeps its lineage, so a release before a consumer's action
    * costs that action a recompute, never a "Checkpoint block not
    * found". Calls on semantically equal plans share ONE CacheManager
    * entry, so it is unpersisted only with the last of their pins. */
  private def persistTracked(df: DataFrame): (DataFrame, () => Unit) = {
    val s = df.sparkSession
    val t = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t.count()
    val key = (System.identityHashCode(s), pinnedSeq.incrementAndGet())
    pinnedMemo.put(key, t)
    SessionCaches.onRelease(s, s"dedup.pinned:${key._2}")(() =>
      pinnedMemo.remove(key).foreach { mine =>
        val plan = mine.queryExecution.analyzed
        if (!pinnedMemo.exists { case (k, other) =>
            k._1 == key._1 && other.queryExecution.analyzed.sameResult(plan) })
          mine.unpersist(false)
      })
    (t, () => SessionCaches.release(s, s"dedup.pinned:${key._2}"))
  }

  /** LSH banding rows (doc_id, band, bucket[, extra…]) via the scan-local
    * native signature (md5 + 16 permutation minima in one pass over the
    * shingle array) — the explode → md5 → hex-conv → 16-column min
    * aggregate it replaces materialized one row per shingle; values are
    * bit-identical so the twins stay hash-green. minhash_sig is null for
    * empty shingle arrays, matching docs that produced zero exploded
    * rows. */
  private def minhashBanded(base: DataFrame): DataFrame = {
    val extra = base.columns.filter(c => c != "doc_id" && c != "sh").map(col)
    val sig = base
      .select(col("doc_id") +: call_function("minhash_sig", col("sh")).as("sig")
        +: extra.toSeq: _*)
      .filter(col("sig").isNotNull)
      .select((col("doc_id") +: extra.toSeq) ++ (0 until 16).map(k =>
        element_at(col("sig"), k + 1).as(s"mh$k")): _*)
    sig.select(col("doc_id") +: extra.toSeq :+
      posexplode(array((0 until 4).map(b =>
        concat_ws("_", (b * 4 until b * 4 + 4).map(k =>
          col(s"mh$k").cast("string")): _*)): _*)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Exact Jaccard verify of candidate id pairs against the shingle
    * table. Sort-merge hints — the rows carry full shingle arrays, and
    * letting the optimizer broadcast a fat pairs-with-arrays intermediate
    * collects it to the driver (observed: >1 GiB at 300k docs, killed by
    * maxResultSize). SMJ shuffles on the doc ids only and holds at any
    * corpus size. */
  private def minhashVerify(cand: DataFrame, base: DataFrame): DataFrame =
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("merge"), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("merge"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard_r"))

  /** Verify-side base with each shingle replaced by its 64-bit xxhash
    * (r18): the index probe's scratch hog is the exact-verify
    * exchanges, which sort/shuffle the TOUCHED docs' full shingle arrays
    * — ~15 KB/doc as strings, and on the planted corpora ~20 % of docs
    * are touched, so at 15 M docs the sort spill alone blew the 80 GB
    * disk (measured ENOSPC at 15 M AND 20 M under the index-reuse
    * shape). Longs cut the exchanged bytes ~3.5× and the sort compares
    * with them. Exact-Jaccard semantics are preserved modulo 64-bit
    * collisions WITHIN one doc pair's union (~1,200 elements →
    * P ≈ 1200²/2⁶⁵ ≈ 4e-14 per pair — the q_text_dup_ngrams precedent:
    * a collision can only merge two shingles and shift one pair's
    * jaccard by one count). The banding path is untouched — minhash_sig
    * consumes the STRING shingles, so signatures, buckets and the
    * candidate set stay bit-identical; spec-pinned result equality
    * against the string-verify builders covers the whole chain. */
  private def hashShingles(base: DataFrame): DataFrame =
    base.withColumn("sh", expr("transform(sh, x -> xxhash64(x))"))

  /** THE banded candidate construction — one definition for the three
    * builders (review r19: the block was copy-pasted across every
    * builder, so a change to candidate semantics had to land identically
    * in 4–6 places or the spec-pinned builder equalities silently
    * diverged). Joins `probe` against `build` on the (band, bucket) key:
    * with probe = build = the full banding set (`fullSelfJoin`), the
    * a < b filter emits each unordered pair once; with a probe
    * RESTRICTED to a subset (the incremental/daily shapes), ids meet in
    * either role, so the filter is inequality + least/greatest
    * normalization — each probe-touching pair exactly once after the
    * distinct, in both regimes. */
  private def bandedCandidates(probe: DataFrame, build: DataFrame,
      fullSelfJoin: Boolean): DataFrame = {
    val j = probe.as("a").join(build.as("b"), Seq("band", "bucket"))
    (if (fullSelfJoin)
      j.filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    else
      j.filter(col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b")))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs over any (doc_id, text) frame — used by
    * q_dedup_minhash (over the planted corpus) and measured on
    * million-doc synthetic corpora ([[graft.gen.docText]]). Returns
    * (doc_a, doc_b, jaccard_r ≥ 0.6), candidates banded and
    * exact-verified against the MEMOIZED shingle cache, which
    * q_dedup_minhash / q_dedup_incremental / the index twin share in one
    * session. */
  private[graft] def minhashPairsFromDocs(
      s: SparkSession, docs: DataFrame): DataFrame = {
    val base = minhashBase(s, docs)
    val banded = minhashBanded(base)
    minhashVerify(bandedCandidates(banded, banded, fullSelfJoin = true), base)
  }

  /** Incremental near-dup pairing: every pair TOUCHING a `fresh` doc
    * (fresh↔existing and fresh↔fresh), WITHOUT the existing↔existing
    * bucket self-join — the daily-ingest shape at corpus scale, where
    * re-pairing the whole archive per batch is the thing you cannot do.
    * The existing side's banding rows are exactly the persisted LSH index
    * a production deployment would keep (like the ANN index tables); here
    * they are recomputed because the oracle owns no state between runs.
    * Same candidate bound per bucket, and the bucket join volume scales
    * with |fresh|, not |existing∪fresh|. */
  private[graft] def minhashPairsIncremental(
      s: SparkSession, existing: DataFrame, fresh: DataFrame): DataFrame = {
    val all = existing.select(col("doc_id"), col("text"), lit(false).as("fresh"))
      .union(fresh.select(col("doc_id"), col("text"), lit(true).as("fresh")))
    val base = minhashBase(s, all)
    val banded = minhashBanded(base)
    // probe side: fresh only; build side: everything — a pair of two
    // existing docs can never form
    val cand = bandedCandidates(banded.filter(col("fresh")), banded,
      fullSelfJoin = false)
    minhashVerify(cand, base.drop("fresh"))
  }

  /** The banding rows (doc_id, band, bucket) of a corpus — what a
    * production deployment persists per ingested batch as the standing
    * LSH index. */
  private[graft] def minhashIndex(s: SparkSession, docs: DataFrame): DataFrame =
    minhashBanded(minhashBase(s, docs)).select("doc_id", "band", "bucket")

  /** The production incremental shape: a fresh batch against a PERSISTED
    * band index — nothing about the standing corpus is recomputed except
    * the shingle sets of the existing docs that actually collide with the
    * batch (a semi-join read of the archive). Work scales with the batch:
    * shingle+sign the fresh docs, probe the index, verify the touched
    * pairs. Same result as [[minhashPairsIncremental]] (spec-asserted). */
  private[graft] def minhashPairsAgainstIndex(
      s: SparkSession, index: DataFrame, existing: DataFrame,
      fresh: DataFrame): DataFrame =
    minhashPairsAgainstIndexReleasable(s, index, existing, fresh)._1

  /** [[minhashPairsAgainstIndex]] plus the release thunk for its
    * internal candidate pin (VERDICT r19 item 4), for library consumers
    * without the daily loop's [[releaseAllMinhashBases]] sweep. Call it
    * once the returned pairs are materialized; an earlier call only
    * makes that action recompute the candidates. Idempotent. */
  private[graft] def minhashPairsAgainstIndexReleasable(
      s: SparkSession, index: DataFrame, existing: DataFrame,
      fresh: DataFrame): (DataFrame, () => Unit) = {
    val freshBase = minhashBase(s, fresh)
    val freshBanded = minhashBanded(freshBase).select("doc_id", "band", "bucket")
    val allBanded = index.union(freshBanded)
    // pinned (review r19): cand feeds the final verify join AND —
    // via `touched` below — the semi that selects which existing docs
    // get shingled, so left lazy the freshBanded×index probe join
    // re-evaluates in every consumer (a cand-derived id set measured
    // 2.5× the whole pipeline's wall at 1 M docs).
    // Registry-tracked: the daily loop's per-tick
    // releaseAllMinhashBases sweep frees it after the tick's pairs are
    // materialized; the release thunk is ALSO surfaced to the caller
    // (VERDICT r19 item 4) for sweep-less library sessions.
    val (cand, releaseCand) = persistTracked(
      bandedCandidates(freshBanded, allBanded, fullSelfJoin = false))
    // verify reads shingles for fresh docs from the batch and, for the
    // existing side, ONLY for docs that actually appear in a candidate.
    // Hashed to 64-bit (VERDICT r18 item 2): at a 15 M-doc standing
    // corpus this daily tick's touched-existing exchange was the last
    // verify path still moving ~15 KB/doc STRING shingle arrays — a
    // ~3.5× exchange cut at a ~4e-14/pair collision rate (see
    // [[hashShingles]]). Applied
    // AFTER the memoized bases so the banding above and the probe's
    // reuse of freshBase keep consuming strings — signatures, buckets
    // and the candidate set stay bit-identical; IncrementalDedupSpec
    // pins the pair sets and jaccard values against the string-verify
    // inline path.
    val touched = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val touchedExisting = existing
      .join(touched.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
    // project BOTH union sides to (doc_id, sh) (review r19): minhashBase
    // passes extra columns through, so an `existing` frame carrying any
    // column beyond (doc_id, text) — a shape minhashBase explicitly
    // supports — would fail the positional union at plan build
    val verifyBase = hashShingles(minhashBase(s, touchedExisting)
      .select("doc_id", "sh")
      .union(freshBase.select("doc_id", "sh")))
    (minhashVerify(cand, verifyBase), releaseCand)
  }

  /** Blocked embedding-cosine near-dup pairs (vec_a < vec_b, cos ≥ 0.25)
    * — shared by the pair query and the connected-components clustering.
    * One plan at every N: ONE self-join of the packed (vec_id, block,
    * label, embedding, nrm) rows on the (label, block) blocking key,
    * scored array-native by the codegen'd vec_dot — no dim explode, no
    * 64× row amplification, no separate norm join (the norm rides the
    * row from the scan). At 100 TB the only shuffle is the packed vectors
    * once per side on the blocking key; per-block populations are
    * bounded by the blocking scheme, so the in-block pair loop is
    * O(block²) with block ≤ 100, never all-pairs. The exact-decimal
    * DuckDB oracles of the [[pairsCache]] consumers hash it. */
  private[graft] def embeddingCosPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import graft.functions.VecOps.vec_dot
    val packed = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        (col("vec_id") / 100).cast("long").as("block"), col("embedding"))
      .withColumn("nrm", sqrt(vec_dot(col("embedding"), col("embedding"))))
    val a = packed.select(col("label"), col("block"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = packed.select(col("label"), col("block"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("label", "block"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", vec_dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.25)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Connected-components result: (vec_id, cluster_id) labels plus the
    * number of contraction rounds the loop took (bounded-rounds proof
    * surface for the specs). `release` frees the final round's
    * localCheckpoint blocks (ADVICE r14 — the loops themselves free each
    * SUPERSEDED round as soon as its successor materializes, but the last
    * frame backs `labels` and must outlive its consumers): call it after
    * the last action on `labels`; the lineage is truncated, so `labels`
    * is unusable afterwards. */
  final case class CcResult(labels: DataFrame, rounds: Int,
      release: () => Unit = () => ())

  /** Eager localCheckpoint plus a handle that frees its blocks.
    * Dataset.localCheckpoint persists the materialized RDD OUTSIDE the
    * cache manager — df.unpersist can't reach it, which is how the CC
    * loops leaked one corpus-sized label frame per round until session
    * end (ADVICE r14). The checkpointed RDD is held DIRECTLY: it is the
    * nearest persisted ancestor in `out.rdd`'s dependency chain (the
    * checkpointed Dataset scans exactly that RDD, under a deserializing
    * map). ADVICE r15: the previous global getPersistentRDDs set-diff
    * swept up any RDD persisted CONCURRENTLY in the same context —
    * fine in the sequential test JVM, wrong on the production path
    * (CorpusBuild → semLosers) where release() could unpersist an
    * unrelated live cache. */
  private[graft] def checkpointReleasable(df: DataFrame)
      : (DataFrame, () => Unit) = {
    val out = df.localCheckpoint()
    def persistedAncestor(r: org.apache.spark.rdd.RDD[_])
        : Option[org.apache.spark.rdd.RDD[_]] =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        Some(r)
      else r.dependencies.view.flatMap(d => persistedAncestor(d.rdd))
        .headOption
    val target = persistedAncestor(out.rdd)
    (out, () => target.foreach(_.unpersist(false)))
  }

  /** Min-label propagation + pointer jumping: label(v) starts as vec_id,
    * each round takes the min over direct neighbors AND over
    * label(label(v)) — the jump roughly doubles propagation distance per
    * round, so O(log diameter) rounds. Right when components are small
    * (near-dup clusters); the 100 TB general-graph path is
    * [[starComponents]]. `edges` must carry BOTH directions of each pair.
    *
    * r22 restructure (guide §1.2 step 1 / §2.4 — fewer distributed ops
    * per round): the pointer jump used to be a separate `prop ⋈ prop`
    * self-join (its own exchanges, and its join tree evaluated the
    * neighbor-min subtree twice when exchange reuse missed). The label
    * pointer (v → label(v)) now RIDES THE EDGE SET into the one
    * neighbor-min join — joining the pointer edge against the label table
    * yields exactly label(label(v)) — so each round is ONE join + one
    * aggregate + one left join back, two exchanges fewer. The jump reads
    * the PREVIOUS round's labels where the old self-join jumped through
    * the current round's post-min labels (one round weaker per doubling,
    * measured +0–1 rounds on the bench graphs); the FIXPOINT is
    * unchanged — at convergence adjacent labels are equal, which forces
    * every component to its minimum id, the same canonical labeling
    * (DedupClusterSpec's union-find differential pins it). */
  def minLabelComponents(edges: DataFrame, nodes: DataFrame): CcResult = {
    val init = checkpointReleasable(nodes
      .select(col("vec_id"), col("vec_id").as("cluster_id")))
    var labels = init._1
    var release = init._2
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // localCheckpoint truncates the lineage each round; without it the
      // round-over-round joins double the logical plan every iteration
      // and planning blows up exponentially.
      val aug = edges.union(
        labels.select(col("vec_id").as("src"), col("cluster_id").as("dst")))
      val nbrMin = aug
        .join(labels.select(col("vec_id").as("dst"), col("cluster_id").as("nbr")), Seq("dst"))
        .groupBy("src").agg(min("nbr").as("nbr_min"))
      // eager checkpoint: one job per round, constant-size plan — and the
      // superseded round's blocks are freed as soon as this one lands
      val (updated, relNew) = checkpointReleasable(labels
        .join(nbrMin.select(col("src").as("vec_id"), col("nbr_min")), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster_id").as("old"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("c1"))
        .select(col("vec_id"), col("c1").as("cluster_id"),
          (col("c1") < col("old")).as("chg")))
      // coalesce(sum, 0): sum() over an EMPTY frame is SQL-null, and
      // getLong on it NPEs — an empty node set must converge in one
      // round, not crash (review r19; starComponents' checksum already
      // tolerates the same edge)
      converged = updated
        .agg(coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L)))
        .head().getLong(0) == 0
      release()
      release = relNew
      labels = updated.drop("chg")
      rounds += 1
    }
    CcResult(labels, rounds, release)
  }

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * 100 TB general-graph path. State is just the edge set; each round is
    * two hash-partitioned window-min passes on the node id (no per-node
    * label table, no growing joins), edges monotonically bend toward each
    * component's minimum, and convergence takes O(log² n) rounds even on
    * adversarial long chains where min-label needs O(diameter).
    *
    *   large-star(u): every neighbor v > u re-attaches to
    *                  m = min(Γ(u) ∪ {u})
    *   small-star(u): every neighbor v ≤ u, and u itself, attach to m
    *
    * Convergence = edge-set fixpoint, detected by (count, hash-sum)
    * checksum — one tiny aggregate per round instead of a full
    * self-anti-join. `edges0` may be one-directional pairs; orientation
    * and symmetry are handled here. */
  def starComponents(edges0: DataFrame, nodes: DataFrame): CcResult = {
    import org.apache.spark.sql.expressions.Window
    def checksum(df: DataFrame): Seq[Any] = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast(DecimalType(38, 0)))).head()
      Seq(r.get(0), r.get(1))
    }
    // canonical orientation src > dst, self-loops dropped
    val init = checkpointReleasable(
      edges0.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct())
    var edges = init._1
    var release = init._2
    var sig = checksum(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // large-star over the symmetrized neighborhood: (v, m) for v > u
      val sym = edges.union(edges.select(col("dst"), col("src")).toDF("src", "dst"))
      val ls = sym
        .withColumn("m", least(min("dst").over(Window.partitionBy("src")), col("src")))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")) // src > dst by construction
        .filter(col("src") =!= col("dst"))
        .distinct()
      // small-star over the now-oriented edges: every smaller neighbor
      // and u itself attach to u's minimum neighbor
      val withM = ls.withColumn("m", min("dst").over(Window.partitionBy("src")))
      // constant-size plan per round; the superseded round's checkpoint
      // blocks are freed once this one is materialized and checksummed
      val (ss, relNew) = checkpointReleasable(
        withM.select(col("dst").as("src"), col("m").as("dst"))
          .union(withM.select(col("src"), col("m")).toDF("src", "dst"))
          .filter(col("src") =!= col("dst"))
          .select(greatest(col("src"), col("dst")).as("src"),
            least(col("src"), col("dst")).as("dst"))
          .distinct())
      val s2 = checksum(ss)
      converged = s2 == sig
      sig = s2
      release()
      release = relNew
      edges = ss
      rounds += 1
    }
    // free the final round's blocks before throwing — a non-converged
    // abort must not leak what the caller can never release (review r17)
    if (!converged) release()
    require(converged, s"star contraction did not converge within $rounds rounds")
    // at the fixpoint every edge points a node at its component minimum
    val labels = nodes
      .join(edges.select(col("src").as("vec_id"), col("dst").as("root")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("root"), col("vec_id")).as("cluster_id"))
    CcResult(labels, rounds, release)
  }

  /** Memoized connected-component labels over the shared near-dup pair
    * set — q_dedup_clusters and q_dedup_apply consume the min-label
    * variant, q_dedup_clusters_star the star-contraction one. A CC run
    * ends holding its final round's localCheckpoint blocks (OUTSIDE the
    * cache manager — df.unpersist can't reach them), so query lambdas
    * returning bare `.labels` leaked one label frame per RUN until
    * session end (review r17: the ADVICE-r14 leak class re-introduced at
    * the query boundary). Memoizing the CcResult gives repeated runs one
    * shared frame, and the release path frees it — Bench after each
    * variant's last consumer, the session sweep otherwise. */
  private val ccLabelsMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String), CcResult]

  private def ccLabels(s: SparkSession, dir: String,
      star: Boolean): DataFrame = {
    val variant = if (star) "star" else "minlabel"
    val key = (System.identityHashCode(s), dir, variant)
    SessionCaches.memoize(ccLabelsMemo, key, {
      SessionCaches.onRelease(s, s"dedup.cc.labels:$variant:$dir")(() =>
        ccLabelsMemo.remove(key).foreach(_.release()))
      val nodes = Tables.embeddings(s, dir).select("vec_id")
      if (star)
        starComponents(pairsCache(s, dir)
          .select(col("vec_a").as("src"), col("vec_b").as("dst")), nodes)
      else {
        val pairs = pairsCache(s, dir).select("vec_a", "vec_b")
        minLabelComponents(
          pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
            .union(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst"))),
          nodes)
      }
    }).labels
  }

  /** Free one variant's memoized CC label frame (idempotent) — Bench
    * calls min-label after q_dedup_apply and star after
    * q_dedup_clusters_star, each variant's last consumer. */
  def releaseCcLabels(s: SparkSession, dir: String, star: Boolean): Unit =
    SessionCaches.release(s,
      s"dedup.cc.labels:${if (star) "star" else "minlabel"}:$dir")

  /** Memoized canonical int-coded shingle sets for q_dedup_ngram_jaccard
    * (review r17: docSh/dict/perDoc were cached per RUN with no release
    * path — corpus-sized frames pinned until application end, the exact
    * stale-resident-cache class the r12 note measures at 1.8×). The
    * build materializes perDoc ONCE, eagerly drops the two build-only
    * caches (the packed-codepoint shingle arrays and the charset³ dict —
    * dead weight once perDoc exists), and memoizes perDoc with a release
    * hook (Bench after q_dedup_ngram_jaccard, its only consumer; the
    * session sweep otherwise).
    *
    * Tokenize ONCE — straight to SORTED DISTINCT packed-codepoint codes
    * (codegen char_ngram_codes): no per-window string allocation, no
    * boxed-hash array_distinct (the string tokenize dominated the whole
    * pipeline before, r8). Global document frequency per shingle code
    * broadcasts at ANY corpus size (charset³-bounded), and a dense
    * df-ascending id (sid) replaces the shingle everywhere downstream
    * (VERDICT r6 item 5) — packed-codepoint long order equals the old
    * string order, so even the tie-break is unchanged. perDoc itself is
    * int-coded arrays ~4 bytes/shingle, megabytes at any verify SF. */
  private val jaccardPerDocMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  private def jaccardPerDoc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val t = 0.7
    val key = (System.identityHashCode(s), dir)
    SessionCaches.memoize(jaccardPerDocMemo, key, {
      SessionCaches.onRelease(s, s"dedup.jaccard.perdoc:$dir")(() =>
        jaccardPerDocMemo.remove(key).foreach(_.unpersist(false)))
      val docSh = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          graft.functions.TextNgrams.char_ngram_codes(
            col("text"), lit(3)).as("shs")).cache()
      val sh2 = docSh.select(col("doc_id"), col("lang"), col("source"),
        explode(col("shs")).as("s"))
      val dfreq = sh2.groupBy("s").agg(count(lit(1)).as("df"))
      // (a driver-side literal map + transform lookup was tried and
      // measured SLOWER: higher-order lambdas run interpreted, the same
      // 17× trap the vec_dot scaladoc records)
      val dict = dfreq.select(col("s"),
        row_number().over(Window.orderBy(col("df"), col("s"))).as("sid"))
        .cache()
      val perDoc = sh2.join(broadcast(dict), Seq("s"))
        .groupBy("doc_id", "lang", "source")
        .agg(array_sort(collect_list(col("sid"))).as("sh"))
        .withColumn("n", size(col("sh")))
        .withColumn("plen", (col("n") - ceil(col("n") * t) + 1).cast("int"))
        .cache()
      // the materializing action is the only runtime throw site in the
      // build (everything above is lazy plan construction); a failure
      // here must not strand the two build-only caches — the memo key is
      // never filled on a throw, so the onRelease hook would have
      // nothing to unpersist and the corpus-sized shingle cache would
      // stay pinned for the session (review r17 third pass)
      try perDoc.count()
      catch {
        case e: Throwable =>
          perDoc.unpersist(false)
          docSh.unpersist(false)
          dict.unpersist(false)
          throw e
      }
      docSh.unpersist(false)
      dict.unpersist(false)
      perDoc
    })
  }

  /** Free the memoized jaccard shingle-set table (idempotent). */
  def releaseJaccardPerDoc(s: SparkSession, dir: String): Unit =
    SessionCaches.release(s, s"dedup.jaccard.perdoc:$dir")

  /** Winnowing selected-fingerprint set (doc_id, mh, np): the window-min
    * chain shared by q_dedup_winnow and the LlmOpsSpec overlap check. */
  private[graft] def winnowSelected(s: SparkSession, dir: String): DataFrame =
    winnowSelectedFromDocs(s, withPlanted(s, dir))

  /** The same chain over any (doc_id, text) frame — the PropertySpec
    * drives it on constructed documents to check the winnowing guarantee
    * itself (a shared substring of ≥ k+w−1 chars ⟹ a shared selected
    * fingerprint). */
  private[graft] def winnowSelectedFromDocs(
      s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // one scan-local pass per doc (native winnow_sel: md5 per gram +
    // monotonic-deque window minimum) — the posexplode → md5 → window-min
    // chain this replaces shuffled and sorted one row per corpus char;
    // values are bit-identical so the DuckDB twin stays hash-green
    val d = docs.select(col("doc_id"),
      lower(regexp_replace(trim(col("text")), "\\s+", " ")).as("t"))
    d.select(col("doc_id"),
        explode(call_function("winnow_sel", col("t"), lit(5), lit(4))).as("mh"),
        (length(col("t")) - lit(4)).cast("long").as("np"))
      .select(col("doc_id"), col("mh"), col("np"))
  }

  private[graft] def withPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val words = split(trim(col("text")), "\\s+")
    val perturbed = docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(words, lit(1), greatest(size(words) - 2, lit(1)))).as("text"))
    docs.union(perturbed)
  }

  /** MinHash permutation family: perm_k(s) = (a_k·h(s) + b_k) mod P over
    * the 48-bit shingle hash h = first 12 hex digits of md5(s). One md5
    * per shingle row instead of 16 (16× less hashing — md5 dominated the
    * signature aggregate); a_k stays below 2^15 so a_k·h < 2^63 in signed
    * 64-bit on BOTH engines. The constants are mirrored verbatim into the
    * DuckDB oracle's VALUES block. */
  // single source with the native minhash_sig expression
  private val MinhashP = graft.functions.MinhashOps.P
  private val MinhashA: Seq[Long] = graft.functions.MinhashOps.A.toSeq
  private val MinhashB: Seq[Long] = graft.functions.MinhashOps.B.toSeq

  /** 16 minhash minima as COLUMNS of one grouped aggregate (mirrors the
    * Spark plan; the k-row CROSS JOIN shape measured 48× slower in
    * DuckDB). */
  private def minhashMinColsSql: String =
    (0 until 16).map(k =>
      s"MIN((${MinhashA(k)} * h + ${MinhashB(k)}) % $MinhashP) AS mh$k").mkString(", ")

  private def minhashBandKeysSql: String =
    (0 until 4).map(b => "(" +
      (4 * b until 4 * b + 4).map(k => s"mh$k::VARCHAR").mkString(" || '_' || ") +
      ")").mkString(", ")

  /** The planted-docs CTE shared by the minhash and simhash oracles —
    * the exact SQL twin of [[withPlanted]]. */
  private val PlantedDocsSql =
    """docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    array_to_string(ws[1:greatest(len(ws)-2,1)], ' ')
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents))""".stripMargin

  /** DuckDB twin of the md5-keyed simhash pipeline (generated: 8 hex-digit
    * chunks → 128 majority votes → banded keys → hamming verify). */
  private def simhashOracleSql: String = {
    def hx(i: Int) = s"strpos('0123456789abcdef', substr(h, $i, 1)) - 1"
    val chunks = (0 until 8).map(j => "(" +
      (1 to 4).map(d => s"(${hx(4 * j + d)}) * ${math.pow(16, 4 - d).toLong}")
        .mkString(" + ") + s") AS c$j").mkString(", ")
    val votes = (for (j <- 0 until 8; b <- 0 until 16) yield
      s"SUM(CASE WHEN ((c$j >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v${j}_$b")
      .mkString(", ")
    val maj = (0 until 8).map(j => "(" +
      (0 until 16).map(b => s"CASE WHEN v${j}_$b >= 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ") + s") AS m$j").mkString(", ")
    val bands = ((0 until 8).map(i => s"(CAST(m$i AS BIGINT) * 65536 + m${(i + 1) % 8})") ++
      (0 until 8).map(i => s"(CAST(m$i AS BIGINT) * 65536 + m${(i + 2) % 8})")).mkString(", ")
    val ham = (0 until 8).map(j => s"bit_count(CAST(xor(a.m$j, b.m$j) AS BIGINT))")
      .mkString(" + ")
    s"""WITH $PlantedDocsSql,
       |w AS (SELECT doc_id, md5(unnest(string_split_regex(lower(trim(text)), '\\s+'))) AS h
       |      FROM docs),
       |ch AS (SELECT doc_id, $chunks FROM w),
       |v AS (SELECT doc_id, $votes FROM ch GROUP BY doc_id),
       |fp AS (SELECT doc_id, $maj FROM v),
       |blocked AS (
       |  SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7,
       |    unnest([$bands]) AS bkey,
       |    unnest(range(16)) AS block
       |  FROM fp)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST($ham AS BIGINT) AS hamming
       |FROM blocked a JOIN blocked b ON a.block = b.block AND a.bkey = b.bkey
       |  AND a.doc_id < b.doc_id
       |WHERE $ham <= 24""".stripMargin
  }

  /** DuckDB twin of the full minhash pipeline (shared by q_dedup_minhash
    * and, filtered, by q_dedup_incremental). */
  private def minhashOracleSql: String =
    s"""WITH $PlantedDocsSql,
       |w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM docs),
       |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |       FROM (SELECT doc_id, ws,
       |             unnest(generate_series(1, len(ws) - 2)) AS i FROM w)),
       |hh AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 12) AS BIGINT) AS h FROM sh),
       |mh AS (SELECT doc_id, $minhashMinColsSql FROM hh GROUP BY doc_id),
       |band AS (SELECT doc_id, unnest(range(4)) AS band,
       |         unnest([$minhashBandKeysSql]) AS bkey FROM mh),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey
       |           AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
       |          FROM cand c JOIN sh x ON x.doc_id = c.doc_a
       |          JOIN sh y ON y.doc_id = c.doc_b AND x.s = y.s
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(i * 1.0 / (sx.n + sy.n - i), 6) AS jaccard_r
       |FROM inter JOIN sz sx ON doc_a = sx.doc_id JOIN sz sy ON doc_b = sy.doc_id
       |WHERE i * 1.0 / (sx.n + sy.n - i) >= 0.6""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // MinHash + LSH banding: shingle → 16 minhashes → 4 bands of 4 →
    // band-bucket join → exact Jaccard verify on candidates.
    // Plan shape: shingles are EXPLODED once and the 16 permutation minima
    // run as one codegen'd 16-column hash aggregate (per-row higher-order
    // lambdas are interpreted in Spark and were 3× slower).
    //
    // The permutation values are (a_k·h + b_k) mod (2^61−1) over the
    // 48-bit shingle hash h = first 12 hex digits of md5(shingle) — md5
    // and 64-bit integer arithmetic are identical in Spark and DuckDB, so
    // the ENTIRE sketch pipeline (signatures, band keys, candidate set,
    // verify) is differential-tested, not just rows-counted. One md5 per
    // shingle row; the 16 permutation minima are cheap mul/mod columns in
    // one codegen hash aggregate. At 100 TB everything before the bucket
    // join is scan-local.
    "q_dedup_minhash" -> QueryDef.sql(
      "MinHash+LSH near-dup: shingle, md5+linear-perm minhash, band, bucket-join, verify",
      minhashOracleSql) { (s, dir) =>
      minhashPairsFromDocs(s, withPlanted(s, dir))
    },

    // Incremental near-dup pairing: the daily-ingest shape — only pairs
    // touching the "fresh" batch (doc_id ≡ 0 mod 5 plays the new batch)
    // form; the existing↔existing bucket self-join never runs. The twin
    // is the FULL batch pipeline filtered to fresh-touching pairs, so the
    // hash check proves the incremental path finds exactly the pairs the
    // batch path finds — same candidates, same exact-verify values.
    "q_dedup_incremental" -> QueryDef.sql(
      "incremental MinHash dedup: fresh batch banded against the standing corpus",
      s"""SELECT doc_a, doc_b, jaccard_r FROM ($minhashOracleSql) t
         |WHERE doc_a % 5 = 0 OR doc_b % 5 = 0""".stripMargin) { (s, dir) =>
      val all = withPlanted(s, dir)
      minhashPairsIncremental(s,
        all.filter(col("doc_id") % 5 =!= 0),
        all.filter(col("doc_id") % 5 === 0))
    },

    // SimHash: per-word hashes → bitwise majority fingerprint → block
    // buckets → hamming-distance verify via bit_count(xor).
    //
    // The fingerprint is 128 bits (two independently-seeded 64-bit
    // halves), cut into eight 16-bit chunks that pair up into 16 banded
    // bucket keys of 32 bits each (chunk_i ++ chunk_{i+1 mod 8} and
    // chunk_i ++ chunk_{i+2 mod 8}): 2^32 possible keys per band, so
    // per-bucket candidate count stays bounded as the corpus grows (the
    // r1 16-bit blocks capped at 65,536 buckets — in-bucket self-join
    // volume grew quadratically with corpus size). A pair at fractional
    // hamming distance d collides on a band when both its chunks are
    // clean (prob ~(1-d)^32); 16 bands give near-dups >= 1 collision
    // with high probability (LlmOpsSpec asserts planted recall >= 0.8).
    // The 128 fingerprint bits come from md5(word) — identical in Spark
    // and DuckDB — held as eight 16-bit chunks (hex digits 4j+1..4j+4),
    // so the whole pipeline (votes, fingerprint, band keys, candidate
    // set, hamming verify) is differential-tested against a generated
    // DuckDB twin instead of rows-counted.
    "q_dedup_simhash" -> QueryDef.sql(
      "SimHash near-dup: 128-bit md5 majority fingerprint, 32-bit block buckets, hamming verify",
      simhashOracleSql) { (s, dir) =>
      // the fingerprint table feeds BOTH sides of the band self-join, and
      // Spark does not reuse the exchange across the sides (the two
      // branches canonicalize differently once the join's constraints
      // propagate into them) — without the memoized cache the whole
      // explode + md5 + 129-column vote aggregate ran twice per query
      val fp = simhashFp(s, dir)
      val bands = (0 until 8).map(i => col(s"m$i") * 65536L + col(s"m${(i + 1) % 8}")) ++
        (0 until 8).map(i => col(s"m$i") * 65536L + col(s"m${(i + 2) % 8}"))
      val blocked = fp.select(
        col("doc_id") +: (0 until 8).map(j => col(s"m$j")) :+
          posexplode(array(bands: _*)): _*)
        .withColumnRenamed("pos", "block").withColumnRenamed("col", "bkey")
      def side(tag: String) = blocked.select(
        col("block") +: col("bkey") +: col("doc_id").as(s"doc_$tag") +:
          (0 until 8).map(j => col(s"m$j").as(s"$tag$j")): _*)
      val ham = (0 until 8).map(j =>
        bit_count(col(s"a$j").bitwiseXOR(col(s"b$j")))).reduce(_ + _)
      side("a").join(side("b"), Seq("block", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), ham.cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 24)
    },

    // Blocked exact n-gram Jaccard (differential-tested): char 3-gram sets,
    // pairs within (lang, source) blocks, exact Jaccard on full sets.
    //
    // Candidate generation uses AllPairs prefix filtering (Bayardo et al.,
    // WWW'07): order each doc's shingles by ascending GLOBAL document
    // frequency; any pair with J >= t shares its globally-smallest common
    // shingle, which must sit within the first n - ceil(t*n) + 1 shingles
    // of BOTH docs (if all o >= ceil(t*n) common shingles sat outside the
    // prefix they would need more than the ceil(t*n) - 1 suffix slots).
    // So only ~30% of shingles — the RAREST ones — enter the self-join:
    // hot keys ("the", " an") sort last and never join, which removes the
    // r1 skew (10.7 s -> the join now scales with rare-key volume) while
    // staying exact: candidates are verified on their full shingle sets.
    "q_dedup_ngram_jaccard" -> QueryDef.sql(
      "blocked n-gram Jaccard near-dup (char 3-grams, exact, prefix-filtered)",
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, lang, source, substr(text, i, 3) AS s
        |  FROM (SELECT doc_id, lang, source, text,
        |        unnest(generate_series(1, length(text) - 2)) AS i
        |        FROM documents)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang
        |    AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard_r
        |FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        |WHERE i * 1.0 / (x.n + y.n - i) >= 0.7""".stripMargin) { (s, dir) =>
      val t = 0.7 // = 7/10 — the integer bounds below use the exact rational
      val perDoc = jaccardPerDoc(s, dir)
      // only the PREFIX slice (each doc's rarest ~30 %) enters the
      // self-join, with its 0-based position for the filter below
      val prefix = perDoc.select(col("doc_id"), col("n"), col("lang"),
          col("source"), posexplode(slice(col("sh"), lit(1), col("plen"))))
        .select(col("doc_id"), col("n"), col("lang"), col("source"),
          col("pos").as("p"), col("col").as("sid"))
      val key = xxhash64(col("lang"), col("source"), col("sid"))
      val a = prefix.select(key.as("k"), col("doc_id").as("doc_a"),
        col("n").as("na"), col("p").as("pa"))
      val b = prefix.select(key.as("k"), col("doc_id").as("doc_b"),
        col("n").as("nb"), col("p").as("pb"))
      // J >= 7/10 needs overlap o >= ceil(7(na+nb)/17) [t/(1+t) exact as
      // a rational]; a pair's first common shingle sits at (pa, pb) with
      // all common shingles at or after it, so o <= 1 + min(na-pa-1,
      // nb-pb-1) — the PPJoin positional filter. Pruning matched tuples
      // that violate it keeps at least the first-common-shingle tuple per
      // qualifying pair (no false negatives) while cutting the hot-key
      // multiplicity feeding the distinct. Size bounds as exact integer
      // inequalities (10·na >= 7·nb), never FP, so a boundary pair can't
      // be dropped by a rounding error.
      val minO = floor((lit(7) * (col("na") + col("nb")) + lit(16)) / lit(17))
      val cand = a.join(b, Seq("k"))
        .filter(col("doc_a") < col("doc_b") &&
          col("na") * 10 >= col("nb") * 7 && col("nb") * 10 >= col("na") * 7 &&
          lit(1) + least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1) >= minO)
        .select("doc_a", "doc_b", "na", "nb").distinct()
      // exact verification on the FULL int shingle arrays, candidates
      // only; the candidate table is near-dup-bounded and broadcasts, so
      // the verify is two map-side joins against the cached perDoc. The
      // arrays are sorted sets, so |a ∩ b| is the codegen'd merge walk
      // (sorted_intersect_count) — array_intersect built a hash set AND
      // materialized the intersection array per pair just to size it,
      // which dominated the verify at 70k+ candidates (r8)
      val sets = perDoc.select(col("doc_id"), col("sh"))
      broadcast(cand)
        .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .withColumn("i", graft.functions.VecOps.sorted_intersect_count(
          col("sh_a"), col("sh_b")).cast("double"))
        .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
        .filter(col("jaccard") >= t)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard_r"))
    },

    // Winnowing fingerprints (differential-tested): the Schleimer et al.
    // 2003 (MOSS) local document fingerprinting — hash every char
    // 5-gram, keep the MINIMUM hash of each sliding window of 4. The
    // guarantee: any shared substring of length ≥ k+w−1 = 8 chars yields
    // at least one shared selected fingerprint, while only ~2/(w+1) ≈
    // 40 % of positions are selected — the position-aware fourth member
    // of the fingerprint family (exact md5, minhash, simhash are
    // position-blind). The query emits the per-doc SKETCH (selected
    // count + an order-independent digest) — the artifact an index
    // stores; matching joins the selected sets (LlmOpsSpec: planted
    // near-dup copies overlap their originals ≈ 0.95 vs ≈ 0.29 for
    // unrelated template-sharing docs). Shuffle shape at 100 TB: the
    // window pass is one doc-keyed sort (scan-local per doc), the sketch
    // one doc-keyed aggregate; pair matching shuffles only selected
    // fingerprints with the same hot-key discipline as the AllPairs
    // prefix filter above.
    "q_dedup_winnow" -> QueryDef.sql(
      "winnowing sketch: char-5-gram window-min fingerprints per doc (k=5, w=4)",
      s"""WITH $PlantedDocsSql,
         |d AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ')) AS t
         |      FROM docs),
         |g AS (SELECT doc_id, i, md5(substr(t, i, 5)) AS h
         |      FROM (SELECT doc_id, t,
         |            unnest(generate_series(1, length(t) - 4)) AS i FROM d)),
         |wmin AS (
         |  SELECT doc_id, i,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
         |    COUNT(*) OVER (PARTITION BY doc_id) AS np
         |  FROM g),
         |sel AS (SELECT doc_id, mh, MAX(np) AS np FROM wmin
         |        WHERE i <= np - 3 GROUP BY doc_id, mh)
         |SELECT doc_id, CAST(MAX(np) AS BIGINT) AS n_positions,
         |  CAST(COUNT(*) AS BIGINT) AS n_selected,
         |  md5(string_agg(mh, '' ORDER BY mh)) AS sketch_md5
         |FROM sel GROUP BY doc_id""".stripMargin) { (s, dir) =>
      winnowSelected(s, dir)
        .groupBy("doc_id")
        .agg(max("np").cast("long").as("n_positions"),
          count(lit(1)).as("n_selected"),
          md5(concat_ws("", array_sort(collect_list(col("mh"))))
            .cast("binary")).as("sketch_md5"))
    },

    // Embedding-cosine near-dup (differential-tested): blocked all-pairs
    // with exact decimal dot products so Spark and DuckDB agree bitwise.
    "q_dedup_embedding_cos" -> QueryDef.sql(
      "embedding cosine near-dup, blocked, exact decimal accumulation",
      """WITH flat AS (
        |  SELECT vec_id, label, vec_id // 100 AS block, i,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2 FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    SUM(CAST(a.v * b.v AS DECIMAL(28,12))) AS dot
        |  FROM flat a JOIN flat b ON a.label = b.label AND a.block = b.block
        |    AND a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2)
        |SELECT vec_a, vec_b,
        |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))), 6) AS cos_r
        |FROM dots JOIN nrm x ON vec_a = x.vec_id JOIN nrm y ON vec_b = y.vec_id
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) >= 0.25""".stripMargin) { (s, dir) =>
      pairsCache(s, dir)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_r"))
    },

    // Connected-components dedup clustering (differential-tested against a
    // DuckDB recursive CTE): near-dup PAIRS are not enough to dedup a
    // corpus — transitive clusters are, with one canonical keeper each.
    // Iterative min-label propagation to fixpoint: label(v) starts as
    // vec_id, each round takes the min over direct neighbors; converges in
    // diameter rounds (near-dup components are small and blocked, so the
    // loop is short — at 100 TB swap in the large-star/small-star variant,
    // which keeps the same per-round shuffle shape on (src) keys).
    "q_dedup_clusters" -> QueryDef.sql(
      "connected-components near-dup clusters (min-label propagation)",
      """WITH RECURSIVE flat AS (
        |  SELECT vec_id, label, vec_id // 100 AS block, i,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2 FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    SUM(CAST(a.v * b.v AS DECIMAL(28,12))) AS dot
        |  FROM flat a JOIN flat b ON a.label = b.label AND a.block = b.block
        |    AND a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT vec_a, vec_b FROM dots JOIN nrm x ON vec_a = x.vec_id
        |  JOIN nrm y ON vec_b = y.vec_id
        |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) >= 0.25),
        |edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v)
        |SELECT v AS vec_id, CAST(MIN(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY v""".stripMargin) { (s, dir) =>
      ccLabels(s, dir, star = false)
    },

    // The same clustering via large-star/small-star contraction — the
    // 100 TB swap-in documented on q_dedup_clusters, differential-tested
    // against the same DuckDB recursive-CTE oracle (and against min-label
    // + a union-find ground truth on random graphs in DedupClusterSpec).
    "q_dedup_clusters_star" -> QueryDef.sql(
      "connected-components near-dup clusters (large-star/small-star contraction)",
      """WITH RECURSIVE flat AS (
        |  SELECT vec_id, label, vec_id // 100 AS block, i,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2 FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    SUM(CAST(a.v * b.v AS DECIMAL(28,12))) AS dot
        |  FROM flat a JOIN flat b ON a.label = b.label AND a.block = b.block
        |    AND a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT vec_a, vec_b FROM dots JOIN nrm x ON vec_a = x.vec_id
        |  JOIN nrm y ON vec_b = y.vec_id
        |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) >= 0.25),
        |edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v)
        |SELECT v AS vec_id, CAST(MIN(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY v""".stripMargin) { (s, dir) =>
      ccLabels(s, dir, star = true)
    },

    // End-to-end dedup APPLY (differential-tested): what a corpus run
    // actually does with near-dup clusters — keep one canonical document
    // per cluster (the minimum id, i.e. the cluster label itself) and
    // report the surviving corpus per language. At this SF the keeper set
    // broadcasts; at 100 TB it is one (long) row per kept doc, so the
    // apply becomes a hash semi-join on doc_id — two narrow long columns
    // shuffled, never the document text itself (project-before-shuffle).
    "q_dedup_apply" -> QueryDef.sql(
      "dedup apply: drop non-canonical near-dup cluster members, per-lang survivors",
      """WITH RECURSIVE flat AS (
        |  SELECT vec_id, label, vec_id // 100 AS block, i,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |nrm AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(28,12))) AS n2 FROM flat GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    SUM(CAST(a.v * b.v AS DECIMAL(28,12))) AS dot
        |  FROM flat a JOIN flat b ON a.label = b.label AND a.block = b.block
        |    AND a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT vec_a, vec_b FROM dots JOIN nrm x ON vec_a = x.vec_id
        |  JOIN nrm y ON vec_b = y.vec_id
        |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) >= 0.25),
        |edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v),
        |labels AS (
        |  SELECT v AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
        |SELECT d.lang, COUNT(*) AS n_kept,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
        |FROM documents d
        |WHERE d.doc_id NOT IN
        |  (SELECT vec_id FROM labels WHERE vec_id <> cluster_id)
        |GROUP BY d.lang""".stripMargin) { (s, dir) =>
      val labels = ccLabels(s, dir, star = false)
      // Drop the LOSERS (non-canonical cluster members) rather than
      // keeping the keepers: keepers ≈ the whole corpus (every singleton
      // is its own canonical), while losers scale with the DUPLICATE
      // RATE. The anti-join's build side is therefore the small set by
      // construction; the hint stays size-gated (dup rate is data, not a
      // contract) so a pathological corpus degrades to a shuffle instead
      // of a corpus-sized driver broadcast.
      //
      // Declared semantics (ADVICE r11): a document with NO embeddings
      // row can never be DETECTED as a near-dup, so it is KEPT — the
      // oracle's `doc_id NOT IN (losers)` states exactly the anti-join,
      // with no embeddings-covers-documents invariant in either
      // direction (the old keeper inner-join silently dropped
      // unembedded docs). DedupClusterSpec pins this on a fixture with an
      // unembedded document.
      val losers = labels.filter(col("vec_id") =!= col("cluster_id"))
        .select(col("vec_id").as("doc_id"))
      Tables.documents(s, dir)
        .join(graft.ops.Hints.broadcastIfSmall(losers), Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum("n_chars").cast("long").as("kept_chars"))
    }
  )
}
