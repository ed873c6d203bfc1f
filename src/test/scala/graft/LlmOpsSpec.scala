package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior checks for the training-data-pipeline operators. */
class LlmOpsSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // the tests cache their query results, and the queries memoize shared
  // artifacts (pair sets, trained indexes) for the session; drop both so
  // later suites start from an unpinned session
  override def afterAll(): Unit =
    try {
      queries.SessionCaches.releaseAll(spark)
      spark.catalog.clearCache()
    } finally super.afterAll()

  test("minhash LSH recalls every planted near-dup pair") {
    val pairs = SparkEntry.queries("q_dedup_minhash")(spark, sf).cache()
    val nDocs = Tables.documents(spark, sf).count()
    // planted pair = (doc_id, doc_id + 1000000) with only 2 words dropped
    val planted = pairs.filter(col("doc_b") === col("doc_a") + 1000000L).count()
    assert(planted >= (nDocs * 0.8).toLong,
      s"recall too low: $planted of $nDocs planted pairs found")
    // verified candidates must actually be similar
    assert(pairs.filter(col("jaccard_r") < 0.6).count() == 0)
  }

  test("simhash buckets recall planted near-dups") {
    val pairs = SparkEntry.queries("q_dedup_simhash")(spark, sf).cache()
    val nDocs = Tables.documents(spark, sf).count()
    val planted = pairs.filter(col("doc_b") === col("doc_a") + 1000000L).count()
    assert(planted >= (nDocs * 0.8).toLong)
    // 128-bit fingerprint: same 0.1875 fractional distance bound as the
    // r1 64-bit/12 threshold
    assert(pairs.agg(max("hamming")).head().getLong(0) <= 24L)
  }

  test("IVF ANN achieves high recall vs exact top-k") {
    val exact = SparkEntry.queries("q_sim_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("q_sim_ann_ivf")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall@10 too low: $recall")
  }

  test("brute-force topk and ANN agree on the bucket's members") {
    val topk = SparkEntry.queries("q_sim_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val ann = SparkEntry.queries("q_sim_ann_lsh")(spark, sf).cache()
    assert(ann.count() >= 1)
    // every ANN result must rank by descending score
    val scores = ann.collect().map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    assert(topk.size == 10)
  }

  test("ANN index sizes grow with the corpus; probe fraction shrinks") {
    import graft.queries.SimilarityOps._
    // sf0.001 has 500 vectors, sf0.1 has 2000 — the index must be larger
    // at the larger corpus…
    assert(lshPlanes(500) < lshPlanes(2000))
    assert(ivfK(500) < ivfK(2000))
    assert(ivfNprobe(ivfK(500)) <= ivfNprobe(ivfK(2000)))
    // …and the fraction of the corpus a single probe touches must SHRINK
    // (this is the bounded-candidate-set property that makes the 100 TB
    // probe cost sublinear)
    assert(lshProbeFraction(2000) < lshProbeFraction(500))
    assert(ivfProbeFraction(2000) < ivfProbeFraction(500))
    // asymptotics: at a billion vectors a probe touches a vanishing slice
    assert(lshProbeFraction(1L << 30) < 1e-5)
    assert(ivfProbeFraction(1L << 30) < 0.01)
  }

  test("ANN recall holds at the larger SF with the larger index") {
    val sfBig = "/root/testdata/sf0.1"
    val exact = SparkEntry.queries("q_sim_topk")(spark, sfBig)
      .collect().map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("q_sim_ann_ivf")(spark, sfBig)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall@10 at sf0.1 too low: $recall")

    val lsh = SparkEntry.queries("q_sim_ann_lsh")(spark, sfBig).collect()
    assert(lsh.nonEmpty)
    val scores = lsh.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    // multiprobe must keep the true neighborhood reachable: the exact
    // top-10 and the LSH answer overlap
    assert(exact.intersect(lsh.map(_.getLong(0)).toSet).nonEmpty,
      "LSH multiprobe answer disjoint from exact top-10")
  }

  test("multimodal stub: features are deterministic and batch-shaped") {
    val f1 = Multimodal.featuresDF(spark, sf).orderBy("media_id").collect()
    val f2 = Multimodal.featuresDF(spark, sf).orderBy("media_id").collect()
    assert(f1.toSeq == f2.toSeq)
    assert(f1.length == Tables.documents(spark, sf).count())
    val types = f1.map(_.getString(1)).toSet
    assert(types == Set("image", "audio", "video"))
  }

  test("exact dedup keeper is stable") {
    val d = SparkEntry.queries("q_dedup_exact")(spark, sf)
    val total = d.agg(sum("n_copies")).head().getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("repetition signals: fractions bounded, verdict consistent") {
    val r = SparkEntry.queries("q_text_repetition")(spark, sf).cache()
    assert(r.count() == Tables.documents(spark, sf).count())
    assert(r.filter(col("top_word_frac") <= 0 || col("top_word_frac") > 1).count() == 0)
    assert(r.filter(col("dup_bigram_frac") < 0 || col("dup_bigram_frac") >= 1).count() == 0)
    // the verdict must match its own thresholds
    assert(r.filter(col("verdict") === "repetitive" &&
      col("top_word_frac") <= 0.12 && col("dup_bigram_frac") <= 0.1).count() == 0)
  }

  test("dup-ngram fraction: bounded and consistent") {
    val docs = Tables.documents(spark, sf)
    val r = SparkEntry.queries("q_text_dup_ngrams")(spark, sf).cache()
    assert(r.count() == docs.count())
    assert(r.filter(col("shared_frac") < 0 || col("shared_frac") > 1).count() == 0)
    assert(r.filter(col("n_shared") > col("n_grams")).count() == 0)
    // identical texts (they exist in the corpus) must score shared_frac = 1
    val nDupTexts = docs.groupBy("text").count().filter(col("count") > 1).count()
    if (nDupTexts > 0)
      assert(r.filter(col("shared_frac") === 1.0).count() > 0)
  }

  test("dedup apply keeps exactly one doc per cluster") {
    val labels = SparkEntry.queries("q_dedup_clusters")(spark, sf).cache()
    val kept = SparkEntry.queries("q_dedup_apply")(spark, sf)
      .agg(sum("n_kept")).head().getLong(0)
    val nClusters = labels.select("cluster_id").distinct().count()
    assert(kept == nClusters, s"kept $kept docs but there are $nClusters clusters")
  }

  test("batch topk: every query gets exactly k ranked neighbors") {
    val r = SparkEntry.queries("q_sim_batch_topk")(spark, sf).cache()
    val perQ = r.groupBy("qid").count().collect()
    assert(perQ.length == 5)
    assert(perQ.forall(_.getLong(1) == 3))
    // per-query scores descend
    r.collect().groupBy(_.getLong(0)).values.foreach { rows =>
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq
      assert(scores.sorted.reverse.head == scores.max)
    }
  }

  test("k-means: every vector labeled once, clusters from the seed set") {
    val km = SparkEntry.queries("q_embed_kmeans")(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(km.count() == n)
    assert(km.select("vec_id").distinct().count() == n)
    val clusters = km.select("cluster").distinct().collect().map(_.getLong(0)).toSet
    // labels are the seed vec_ids: one per id-range stride (r20 — the
    // smallest id with (id·8) div n == j, i.e. ceil(j·n/8) on this
    // 0-based contiguous corpus)
    val seedIds = (0L until 8L).map(j => (j * n + 7) / 8).toSet
    assert(clusters.subsetOf(seedIds), s"labels $clusters not in $seedIds")
    assert(clusters.size >= 2, "k-means collapsed to a single cluster")
  }

  test("PQ-ADC distances approximate exact L2 within bounded relative error") {
    // Top-k OVERLAP is chance-dominated on iid-random synthetic
    // embeddings (pairwise distances concentrate, so the true top-10 gap
    // is below quantization noise — measured 1-8/10 across the SF
    // datasets with identical code). The property PQ actually promises
    // is DISTANCE approximation: ADC d2 within a bounded relative error
    // of the exact d2 (measured ~0.26-0.30 mean across all three SFs).
    import org.apache.spark.sql.types.DecimalType
    val flat = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"), col("col").cast("double").as("v"))
    val q = flat.filter(col("vec_id") === 0).select(col("i"), col("v").as("qv"))
    val exact = flat.filter(col("vec_id") =!= 0)
      .join(q, Seq("i"))
      .groupBy("vec_id")
      .agg(sum(((col("v") - col("qv")) * (col("v") - col("qv")))
        .cast(DecimalType(28, 12))).cast("double").as("d2x"))
    val rel = SparkEntry.queries("q_sim_ann_pq")(spark, sf)
      .join(exact, Seq("vec_id"))
      .select((abs(col("adc_r") - col("d2x")) / col("d2x")).as("rel"))
    val meanErr = rel.agg(avg("rel")).head().getDouble(0)
    assert(meanErr <= 0.45, f"ADC mean relative distance error $meanErr%.3f > 0.45")
    assert(rel.filter(col("rel") > 1.0).count() == 0, "an ADC distance is off by >2x")
  }

  test("product quantization: 8 codes per vector from 16-entry codebooks") {
    val pq = SparkEntry.queries("q_embed_pq")(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(pq.count() == n * 8, "one code per (vector, subspace)")
    assert(pq.groupBy("vec_id").count().filter(col("count") =!= 8).count() == 0)
    // codes are the codebook seed vec_ids: one per id-range stride (r20
    // — ceil(j·n/16) on this 0-based contiguous corpus), ≤ 16 of them
    val seedIds = (0L until 16L).map(j => (j * n + 15) / 16)
    assert(pq.filter(!col("code").isin(seedIds: _*)).count() == 0,
      "codes outside the strided seed set")
    assert(pq.select("code").distinct().count() <= 16)
    assert(pq.select("subspace").distinct().count() == 8)
  }

  test("HLL vocab sketch within 5% of the exact distinct count") {
    val sk = SparkEntry.queries("q_vocab_sketch")(spark, sf)
    val words = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
    val exact = words.groupBy("lang").agg(countDistinct("w").as("exact_vocab"))
    val errs = sk.join(exact, Seq("lang"))
      .select((abs(col("approx_vocab_r") - col("exact_vocab")) /
        col("exact_vocab")).as("rel"))
    assert(errs.filter(col("rel") > 0.05).count() == 0,
      "HLL estimate off by more than 5% for some language")
  }

  test("n-gram decontamination is at least as strict as exact-fingerprint") {
    val exact = SparkEntry.queries("q_decontaminate")(spark, sf)
      .agg(sum("n_kept")).head().getLong(0)
    val ngram = SparkEntry.queries("q_decontaminate_ngram")(spark, sf)
      .agg(sum("n_kept")).head().getLong(0)
    // any verbatim copy shares all its 13-grams, so n-gram overlap drops a
    // superset of the exact-dup contamination
    assert(ngram <= exact, s"ngram kept $ngram > exact kept $exact")
  }

  test("bigram LM scores are non-negative (self-trained counts)") {
    val r = SparkEntry.queries("q_text_lm_score")(spark, sf).cache()
    // C(w1) >= C(w1,w2) always, so every per-bigram NLL term is >= 0
    assert(r.filter(col("mean_nll_r") < 0).count() == 0)
    assert(r.filter(col("n_bigrams") <= 0).count() == 0)
  }

  test("PII redaction scrubs planted emails, phones, and account ids") {
    import spark.implicits._
    val rows = Seq(
      "contact john.doe+test@example.com for details",
      "call 25-989-741-2988 before noon",
      "account 123456789 is overdrawn, pin 1234 stays",
      "nothing sensitive here").toDF("t")
    val red = rows.select(graft.queries.TextOps.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0))
    assert(red(0) == "contact <PII> for details")
    assert(red(1) == "call <PII> before noon")
    // 6+ digit run redacted, 4-digit pin kept
    assert(red(2) == "account <PII> is overdrawn, pin 1234 stays")
    assert(red(3) == "nothing sensitive here")
  }

  test("BM25: 3 queries, 5 ranked docs each, scores descend") {
    val r = SparkEntry.queries("q_text_bm25")(spark, sf).cache()
    val perQ = r.groupBy("qid").count().collect()
    assert(perQ.length == 3)
    assert(perQ.forall(_.getLong(1) == 5))
    r.collect().groupBy(_.getInt(0)).values.foreach { rows =>
      val scores = rows.map(_.getDouble(2)).toSeq
      assert(scores.forall(_ > 0))
    }
  }

  test("sequence packing: bins fill to capacity, token mass conserved") {
    val bins = SparkEntry.queries("q_pack_sequences")(spark, sf).cache()
    val docs = Tables.documents(spark, sf)
    val totalTok = docs.select(
      sum(size(split(trim(col("text")), "\\s+")).cast("long"))).head().getLong(0)
    assert(bins.agg(sum("bin_tokens")).head().getLong(0) == totalTok)
    // every non-final bin of a language stream holds >= capacity worth of
    // doc starts: its last doc begins before the 2048 boundary, so bins are
    // contiguous (no gaps in bin ids per lang)
    import org.apache.spark.sql.expressions.Window
    val gaps = bins.withColumn("prev",
        lag("bin", 1).over(Window.partitionBy("lang").orderBy("bin")))
      .filter(col("prev").isNotNull && col("bin") =!= col("prev") + 1)
    assert(gaps.count() == 0, "bin ids must be contiguous per language")
  }

  test("line dedup: shared segments removed, unique text survives intact") {
    val r = SparkEntry.queries("q_text_line_dedup")(spark, sf).cache()
    val docs = Tables.documents(spark, sf)
    assert(r.count() == docs.count(), "every doc must survive (possibly empty)")
    // the corpus plants near-dup pairs, so shared segments must exist…
    assert(r.agg(sum("n_dropped")).head().getLong(0) > 0, "nothing was dropped")
    // …and dropping is bounded by what exists
    assert(r.filter(col("n_dropped") > col("n_chunks")).count() == 0)
    // a doc with nothing dropped reassembles to its exact original text
    val intact = r.filter(col("n_dropped") === 0).select("doc_id", "clean_md5")
    val orig = docs.select(col("doc_id"),
      md5(trim(col("text")).cast("binary")).as("orig_md5"))
    val broken = intact.join(orig, Seq("doc_id"))
      .filter(col("clean_md5") =!= col("orig_md5"))
    assert(broken.count() == 0, "untouched docs must reassemble bit-exact")
  }

  test("corpus sharding balances docs and tokens across all 16 shards") {
    val r = SparkEntry.queries("q_corpus_shard")(spark, sf).cache()
    assert(r.count() == 16, "md5 nibble must populate all 16 shards")
    val counts = r.select("n_docs").collect().map(_.getLong(0))
    val (mn, mx) = (counts.min, counts.max)
    // md5 is uniform in doc_id: no shard may be pathologically skewed
    assert(mx <= mn * 3, s"shard skew: min=$mn max=$mx")
    val total = SparkEntry.queries("q_corpus_shard")(spark, sf)
      .agg(sum("n_docs")).head().getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("random projection keeps near-dup vectors closer than random pairs") {
    // the property that makes JL projection useful as a dedup/blocking
    // preprocessor: genuinely-similar vectors (the cos ≥ 0.25 pairs the
    // exact near-dup query finds) must stay closer in the 16-dim image
    // than unrelated pairs. (A tight per-pair ε needs more target dims
    // than 16 — on iid synthetic vectors distances concentrate, so we
    // assert the separation of MEANS, which is what blocking relies on.)
    val proj = SparkEntry.queries("q_embed_rp")(spark, sf)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray }
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val near = SparkEntry.queries("q_dedup_embedding_cos")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.nonEmpty, "fixture must contain near-dup vector pairs")
    val nearSet = near.toSet
    val rand = (0L until 400L).map(i => (i, i + 57L))
      .filterNot(nearSet.contains).filter { case (a, b) =>
        proj.contains(a) && proj.contains(b) }
    val nearMean = near.map { case (a, b) => d2(proj(a), proj(b)) }.sum / near.size
    val randMean = rand.map { case (a, b) => d2(proj(a), proj(b)) }.sum / rand.size
    assert(nearMean < randMean * 0.8,
      s"projection lost the near-dup structure: near=$nearMean rand=$randMean")
  }

  test("JL production path (vec_dot sign literals) matches the exact twin") {
    // sf0.1 (N = 2000 > 512) routes q_embed_rp to the production plan:
    // sign matrix as array literals scored by codegen vec_dot, zero
    // shuffle. Its projections must agree with the exploded exact-decimal
    // oracle twin to the rounding precision (the decimal chain truncates
    // each term at 12 frac digits, so the two rounded-to-6 values can sit
    // one ulp-of-round apart at a boundary — hence the 1e-6 tolerance).
    import org.apache.spark.sql.types.DecimalType
    val sfBig = "/root/testdata/sf0.1"
    assert(Tables.embeddings(spark, sfBig).count() > queries.SimilarityOps.VerifyExactGate,
      "sf0.1 no longer exercises the production JL path")
    val fast = SparkEntry.queries("q_embed_rp")(spark, sfBig)
      .select(col("vec_id"), col("dim"), col("r").as("r_fast"))
    val flat = Tables.embeddings(spark, sfBig)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("i"), col("col").cast("double").as("v"))
    val sgn = spark.range(1, 65).select(col("id").as("i"))
      .crossJoin(spark.range(1, 17).select(col("id").as("j")))
      .withColumn("sg", when(
        substring(md5(concat(col("j").cast("string"), lit("_"),
          col("i").cast("string")).cast("binary")), 1, 1) <= "7", 1.0)
        .otherwise(-1.0))
    val exact = flat.join(broadcast(sgn), Seq("i"))
      .groupBy(col("vec_id"), col("j").as("dim"))
      .agg(round(sum((col("v") * col("sg")).cast(DecimalType(28, 12)))
        .cast("double") / 4, 6).as("r_exact"))
    val joined = fast.join(exact, Seq("vec_id", "dim"), "full").cache()
    assert(joined.filter(col("r_fast").isNull || col("r_exact").isNull).count() == 0,
      "production and exact JL paths disagree on the output key set")
    val worst = joined.agg(max(abs(col("r_fast") - col("r_exact")))).head().getDouble(0)
    assert(worst <= 1.0000001e-6, s"JL fast path diverges from exact twin: $worst")
  }

  test("count-min sketch never undercounts and stays within the eps*N bound") {
    val r = SparkEntry.queries("q_vocab_cms")(spark, sf).cache()
    assert(r.count() == 20)
    // the deterministic CMS guarantee: min-of-rows can only overcount
    assert(r.filter(col("c_est") < col("c_exact")).count() == 0, "CMS undercounted")
    // the probabilistic guarantee, checked concretely on this corpus:
    // overestimate ≤ εN with ε = e/width
    val n = Tables.documents(spark, sf)
      .select(explode(split(lower(trim(col("text"))), "\\s+"))).count()
    val bound = math.ceil(math.E / 256.0 * n).toLong
    val worst = r.agg(max(col("c_est") - col("c_exact"))).head().getLong(0)
    assert(worst <= bound, s"CMS overestimate $worst exceeds eps*N=$bound")
  }

  test("DSIR selection prefers the target-domain (English) documents") {
    val langs = SparkEntry.queries("q_select_dsir")(spark, sf)
      .join(Tables.documents(spark, sf), Seq("doc_id"))
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 5 languages ≈ 10 docs each under a uniform draw of 50; the hashed
    // importance weights must pull the target language far above that
    assert(langs.getOrElse("en", 0L) >= 20L, s"top-50 not English-heavy: $langs")
  }

  test("SemDeDup keeps a canonical member per cluster and finds dups") {
    val r = SparkEntry.queries("q_dedup_semantic")(spark, sf).cache()
    assert(r.count() == Tables.embeddings(spark, sf).count())
    // the lowest-id member of every cluster survives by construction
    val clustersAll = r.select("cluster").distinct().count()
    val clustersKept = r.filter(col("kept") === 1).select("cluster").distinct().count()
    assert(clustersKept == clustersAll, "a cluster lost all its members")
    assert(r.filter(col("kept") === 0).count() > 0, "no semantic dups found")
  }

  test("SemDeDup blocking population stays ~constant across scale factors") {
    // the whole point of corpus-derived k (VERDICT r4/r5 item 1): cluster
    // population — the quadratic term — must NOT grow with the corpus
    val pops = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").map { d =>
      val n = Tables.embeddings(spark, d).count()
      val clusters = queries.SimilarityOps.semClusters(spark, d)
        .select("cluster").distinct().count()
      val meanPop = n.toDouble / clusters
      // k grows linearly with N (floor 8), so population stays near the
      // 64-vector target; Lloyd drop-out can shrink the divisor, hence
      // the asymmetric upper band. The hierarchical path rounds the
      // sub-cluster count up per cell, so allow that slack over semK.
      assert(clusters <= 2 * queries.SimilarityOps.semK(n),
        s"$d: $clusters clusters >> derived k")
      assert(meanPop >= 16 && meanPop <= 256,
        s"$d: mean cluster population $meanPop outside [16, 256]")
      meanPop
    }
    // 4x the corpus, ~same block size: the quadratic term is flat
    assert(pops.max / pops.min <= 4.0,
      s"per-cluster population not scale-stable: $pops")
  }

  test("calibrated preset: the f-quantile margin buys ≈ fraction f of level-1 memberships") {
    import spark.implicits._
    // the README r14 calibration rule as an operator: margin = f-quantile
    // of the coarse d²-ratio ⇒ extra level-1 memberships ≈ f·n. Verify on
    // a synthetic corpus in the hierarchical regime, with the level-2
    // knob off so only the rule's own memberships are counted.
    val n = 1100L
    val emb = spark.range(n).map(i => (i, gen.synVec(i)))
      .toDF("vec_id", "embedding")
    val f = 0.2
    val p = queries.SimilarityOps.calibratedPreset(spark, emb, n, f)
    assert(p.probes == 2 && p.subProbeMargin == 1.1)
    assert(p.probeMargin > 1.0 && p.probeMargin < 2.0, s"margin ${p.probeMargin}")
    val members = queries.SimilarityOps
      .semClustersFromEmb(spark, emb, n, p.probes, p.probeMargin, 0.0)
      .count()
    val extra = (members - n).toDouble / n
    assert(extra > f / 2 && extra < 2 * f,
      s"f=$f bought extra-membership fraction $extra (margin ${p.probeMargin})")
  }

  test("duplicate-heavy corpora: clamped margins, loud degeneracy, bounded cell splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, isnan}
    // (1) duplicate-heavy but non-degenerate: 30 % of the corpus is one
    // repeated vector — its cell centroid converges onto the vector and
    // d_best float-cancels to ±1e-16 with random sign. The old
    // denominator-only clamp let a negative d_second produce ratios near
    // -1e284, dragging the calibration quantile negative and silently
    // degrading the calibrated preset to single-probe (review r19).
    // Every ratio must now be finite, non-null and ≥ 1.
    val n = 1100L
    val emb = spark.range(n).map(i =>
        (i, if (i >= 770) gen.synVec(7L)
            else gen.synVec(i)))
      .toDF("vec_id", "embedding")
    val ratios = queries.SimilarityOps.coarseMarginRatios(spark, emb, n)
    val bad = ratios.filter(col("ratio").isNull || isnan(col("ratio")) ||
      col("ratio") < 1.0).count()
    assert(bad == 0, s"$bad ratios null / NaN / below 1")
    val p = queries.SimilarityOps.calibratedPreset(spark, emb, n, 0.2)
    assert(p.probeMargin >= 1.0 && !p.probeMargin.isNaN)
    // (1b) the SAME duplicate mass parked at LOW ids (VERDICT r19
    // item 2): k-smallest-id seeding handed every coarse seed the one
    // repeated vector and collapsed the quantizer by construction —
    // r19's loud degeneracy require was the detector, the r20 strided
    // seeds are the cure. The require must now be UNREACHABLE here:
    // range-strided seeds land mostly outside the duplicate block, the
    // preset calibrates, and the quantizer keeps >1 live centroid.
    val lowDup = spark.range(n).map(i =>
        (i, if (i < 330) gen.synVec(7L)
            else gen.synVec(i)))
      .toDF("vec_id", "embedding")
    val pLow = queries.SimilarityOps.calibratedPreset(spark, lowDup, n, 0.2)
    assert(pLow.probeMargin >= 1.0 && !pLow.probeMargin.isNaN,
      s"low-id duplicate block still collapses the quantizer: $pLow")
    // (2) a fully identical corpus collapses the trained quantizer to a
    // single live centroid: no vector has a runner-up cell, and
    // calibratedPreset must fail LOUD and diagnostic (naming the way
    // out), not with a bare NoSuchElementException off an empty quantile
    val same = spark.range(n).map(i => (i, gen.synVec(3L)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      queries.SimilarityOps.calibratedPreset(spark, same, n, 0.2)
    }
    assert(ex.getMessage.contains("single live centroid"))
    // (3) the over-cap cell splitter (the duplicate-funnel task bound):
    // size-capped, membership-preserving, per-split id-sorted (the
    // localKmeansProbed contract); a cell under the cap passes through as
    // the identical single array
    val vs = Array.tabulate(1000)(i => (i.toLong, Array(i.toDouble)))
    val one = queries.SimilarityOps.cellSplits(vs).toSeq
    assert(one.length == 1 && (one.head eq vs))
    val parts = queries.SimilarityOps.cellSplits(vs, cap = 64).toSeq
    assert(parts.forall(_.length <= 64))
    assert(parts.map(_.length).sum == 1000)
    assert(parts.flatMap(_.map(_._1)).sorted == vs.map(_._1).toSeq)
    assert(parts.forall(p => p.map(_._1).toSeq == p.map(_._1).sorted.toSeq))
    // an exact-copy mass bigger than the cap (every copy hashes to ONE
    // bucket) still comes out bounded via the contiguous fallback
    val copies = Array.tabulate(300)(i => (i.toLong, Array(42.0, 7.0)))
    val massParts = queries.SimilarityOps.cellSplits(copies, cap = 64).toSeq
    assert(massParts.forall(_.length <= 64))
    assert(massParts.map(_.length).sum == 300)
  }

  test("over-cap cell split keeps scattered-id duplicate partners co-located (measured)") {
    // VERDICT r19 item 3: the r19 CONTIGUOUS-range split argued that
    // over-cap cells "self-contain duplicate partners" by id adjacency —
    // the shape that argument does not cover is a duplicate set whose
    // partners sit at SCATTERED ids (distance > cap in the sorted
    // order). Adversarial fixture: 500 exact-copy pairs (i, i+500),
    // partner distance 500, cap 128 — contiguous grouped(128) co-locates
    // ZERO pairs; the member-hash bucket split must co-locate (nearly)
    // all of them, bounded splits included.
    def vec(i: Int): Array[Double] = {
      var x = i.toLong ^ 0x9e3779b97f4a7c15L
      Array.tabulate(8) { d =>
        x = (x ^ (x >>> 30)) * (0xbf58476d1ce4e5b9L + d); (x >>> 11) / 1e18
      }
    }
    val vs = Array.tabulate(1000)(i =>
      (i.toLong, vec(if (i >= 500) i - 500 else i)))
    def recall(splits: Seq[Array[(Long, Array[Double])]]): Double = {
      val where = splits.zipWithIndex
        .flatMap { case (p, s) => p.map(_._1 -> s) }.toMap
      (0 until 500).count(i => where(i.toLong) == where(i + 500L)) / 500.0
    }
    val hashed = queries.SimilarityOps.cellSplits(vs, cap = 128).toSeq
    assert(hashed.forall(_.length <= 128))
    assert(hashed.map(_.length).sum == 1000)
    val hashedRecall = recall(hashed)
    // the r19 contiguous split, re-derived here as the measured baseline
    val contiguousRecall = recall(vs.grouped(128).toSeq)
    info(f"co-location recall: hash-bucket $hashedRecall%.3f vs " +
      f"contiguous $contiguousRecall%.3f")
    assert(contiguousRecall == 0.0,
      s"fixture is not adversarial for the contiguous split: $contiguousRecall")
    assert(hashedRecall >= 0.9,
      s"hash-bucket split lost scattered-id partners: recall $hashedRecall")
  }

  test("localKmeansProbed: all-zero-distance tie emits no runner-up unless the knob is on") {
    // ADVICE r13 (medium): with bD == sD == 0 (vector bit-equal to TWO
    // sub-centroids — here forced via lloyd=0 so strided seeds keep their
    // raw duplicate values), `sD <= subMargin * bD` holds even at the
    // default subMargin=0.0, silently emitting a duplicate membership.
    // The runner-up must be gated on subMargin > 1 (the knob being ON).
    val v = Array(1.0, 2.0, 3.0)
    val vs = Array.tabulate(4)(i => (i.toLong, v.clone))
    // k=2, lloyd=0: seeds = vs(0), vs(2) → two bit-equal centroids survive
    val off = queries.SimilarityOps.localKmeansProbed(vs, 2, 0.0, lloyd = 0)
    assert(off.forall(_._2 == -1),
      s"subMargin=0 (knob off) emitted a runner-up on a zero-distance tie: ${off.toSeq}")
    val on = queries.SimilarityOps.localKmeansProbed(vs, 2, 1.1, lloyd = 0)
    assert(on.forall { case (b, s) => b == 0 && s == 1 },
      s"subMargin>1 must keep the tied runner-up: ${on.toSeq}")
  }

  test("BPE training matches an independent in-memory implementation") {
    // reference: greedy left-to-right merges over the collected corpus,
    // run to 6 rounds so it covers both the 3-round query and the
    // checkpointed 6-round variant
    var seqs = Tables.documents(spark, sf)
      .select(lower(trim(col("text")))).collect()
      .flatMap(_.getString(0).split("\\s+")).filter(_.nonEmpty)
      .map(w => w.map(_.toString).toVector)
    val expected = (1 to 6).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.foreach(s => s.indices.dropRight(1).foreach { i =>
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + 1
      })
      val ((a, b), n) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
      seqs = seqs.map { s =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += a + b; i += 2 }
          else { out += s(i); i += 1 }
        }
        out.result()
      }
      (step, s"$a $b", a + b, n)
    }
    def got(q: String) = SparkEntry.queries(q)(spark, sf)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got("q_bpe_train") == expected.take(3),
      s"3-round merge rules diverge")
    // the checkpointed trainer must learn the IDENTICAL rules — lineage
    // truncation is not allowed to change a single count
    assert(got("q_bpe_train6") == expected, s"6-round merge rules diverge")
  }

  test("filter funnel counts are monotonically non-increasing") {
    val rows = SparkEntry.queries("q_filter_funnel")(spark, sf)
      .orderBy("stage").collect()
    assert(rows.length == 5)
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"funnel not monotone: ${counts.mkString(",")}")
    assert(counts.head == Tables.documents(spark, sf).count())
  }

  test("Bloom decontamination drops every contaminated doc, over-drops ~1%") {
    val exact = SparkEntry.queries("q_decontaminate")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bloom = SparkEntry.queries("q_decontaminate_bloom")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // no false negatives: the Bloom keep-set is a subset of the exact one
    bloom.foreach { case (lang, n) =>
      assert(n <= exact(lang), s"$lang: bloom kept $n > exact ${exact(lang)}")
    }
    // the 1% FP rate may over-drop only a bounded sliver of clean docs
    val (eTot, bTot) = (exact.values.sum, bloom.values.sum)
    assert(bTot >= (eTot * 0.95).toLong, s"bloom over-dropped: $bTot of $eTot")
  }

  test("span removal cuts planted dup spans, leaves unique docs bit-intact") {
    val r = SparkEntry.queries("q_text_span_dedup")(spark, sf).cache()
    assert(r.count() == Tables.documents(spark, sf).count())
    // planted near-dup pairs share long word runs: both members must lose
    // words to the cross-doc duplicate-5-gram spans
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 1000000L).select("doc_id")
    val touched = r.join(planted, Seq("doc_id"))
    assert(touched.filter(col("n_kept") === col("n_words")).count() == 0,
      "a planted near-dup doc kept all its words")
    // an untouched doc's reassembly must be bit-exact: md5 of its own
    // whitespace-normalized words
    val expect = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(concat_ws(" ",
        split(lower(trim(col("text"))), "\\s+")).cast("binary")).as("own_md5"))
    val intact = r.filter(col("n_kept") === col("n_words"))
    assert(intact.count() > 0, "no doc survived untouched")
    assert(intact.join(expect, Seq("doc_id"))
      .filter(col("clean_md5") =!= col("own_md5")).count() == 0,
      "reassembly corrupted an untouched doc")
  }

  test("mixing apply: water-filled quotas drawn exactly, budget conserved") {
    val r = SparkEntry.queries("q_sample_mixed")(spark, sf).cache()
    val pops = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val rows = r.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    // every stratum draws exactly min(quota, population) and never more
    rows.foreach { case (lang, quota, kept) =>
      assert(kept == math.min(quota, pops(lang)), s"$lang: $kept of quota $quota")
    }
    assert(rows.map(_._3).sum == math.min(200L, pops.values.sum),
      "budget not conserved")
  }

  test("winnowing: guaranteed density, planted copies overlap their originals") {
    val sketch = SparkEntry.queries("q_dedup_winnow")(spark, sf).cache()
    // selection density ≈ 2/(w+1) = 0.4 of window positions
    val density = sketch
      .agg(avg(col("n_selected") / (col("n_positions") - 3))).head().getDouble(0)
    assert(density > 0.25 && density < 0.55, s"winnow density off: $density")
    // matching on the selected sets: a planted copy (last 2 words cut)
    // must overlap its original far more than unrelated template-sharing
    // docs — measured ≈ 0.95 vs ≈ 0.29 on this corpus
    val sel = graft.queries.DedupOps.winnowSelected(spark, sf).cache()
    def overlap(shift: Long, baseOnly: Boolean) = {
      val a = sel.select(col("doc_id"), col("mh"))
      val b = sel.select((col("doc_id") - shift).as("doc_id"), col("mh"))
      val base = if (baseOnly) a.filter(col("doc_id") < 1000000L &&
        col("doc_id") + shift < 1000000L) else a
      val inter = base.join(b, Seq("doc_id", "mh")).groupBy("doc_id")
        .agg(count(lit(1)).as("inter"))
      val sz = base.groupBy("doc_id").agg(count(lit(1)).as("n"))
      inter.join(sz, Seq("doc_id"))
        .agg(avg(col("inter") / col("n"))).head().getDouble(0)
    }
    val planted = overlap(1000000L, baseOnly = false)
    val random = overlap(57L, baseOnly = true)
    assert(planted >= 0.8, s"planted overlap too low: $planted")
    assert(planted > random * 2,
      s"no separation: planted=$planted random=$random")
  }

  test("vocab top-k reports the true frequency of the top English term") {
    val r = SparkEntry.queries("q_vocab_topk")(spark, sf).cache()
    val langs = Tables.documents(spark, sf).select("lang").distinct().count()
    assert(r.count() == langs * 10)
    val top = r.filter(col("lang") === "en").orderBy(col("c").desc).head()
    val exact = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") === top.getString(1)).count()
    assert(top.getLong(2) == exact,
      s"top term '${top.getString(1)}' count ${top.getLong(2)} != exact $exact")
  }
}
