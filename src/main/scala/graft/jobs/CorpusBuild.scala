package graft.jobs

import graft.queries.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-corpus build pipeline — the engine's North-star operators
  * composed into one runnable job, the training-data twin of the mempool
  * [[Merge]] DAG: quality gate → PII redaction → exact dedup (earliest
  * keeper) → eval-set decontamination → deterministic shard assignment →
  * sharded parquet write, plus the per-stage attrition report and
  * per-shard balance stats a pipeline operator reads after every run.
  *
  * Scale shape (the same discipline as Merge.run): the flag gates are
  * scan-local; PII redaction is a narrow map; dedup shuffles a 128-bit
  * digest, never the text; decontamination anti-joins a BROADCAST eval
  * fingerprint set (or its Bloom form at larger eval scale — see
  * q_decontaminate_bloom); the shard id is the final partitionBy key, so
  * the write is one shuffle on a uniform md5 nibble. Near-dup clustering
  * composes upstream of this job at the embedding level (q_dedup_apply).
  */
object CorpusBuild {

  /** Optional SemDeDup stage: embeddings keyed by vec_id = doc_id plus a
    * named operating point ([[graft.queries.SimilarityOps.SemPreset]] —
    * the measured recall/cost points, VERDICT r13 item 4). */
  final case class SemDedup(embeddings: DataFrame,
      preset: graft.queries.SimilarityOps.SemPreset, tau: Double = 0.9)

  final case class Inputs(docs: DataFrame, evalDocs: Option[DataFrame],
      semDedup: Option[SemDedup] = None)

  /** `kept` is the final sharded corpus; `funnel` the attrition report;
    * `shards` the per-shard balance table. All unmaterialized plans —
    * EXCEPT when the semantic stage is on: computing the loser set runs
    * the connected-components loop eagerly at construction time (its
    * per-round state is checkpointed — there is no lazy form of an
    * iterate-to-convergence loop), leaving only the small checkpointed
    * loser-id frame resident. `release` unpersists the run's internal
    * post-redaction cache and that loser checkpoint — call it after the
    * last consumer (the same ownership contract as
    * [[Merge.Output.parsed]]). */
  final case class Result(kept: DataFrame, funnel: DataFrame, shards: DataFrame,
      release: () => Unit = () => ())

  def run(spark: SparkSession, in: Inputs): Result = {
    // semantic near-dup drop FIRST (it composes upstream at the embedding
    // level): losers scale with the duplicate rate, so the anti-join's
    // build side is small by construction — size-gated broadcast, the
    // q_dedup_apply shape. A doc with no embeddings row is KEPT.
    val (docs, semRelease) = in.semDedup match {
      case Some(sd) =>
        val (losers, rel) = graft.queries.SimilarityOps
          .semLosers(spark, sd.embeddings, sd.preset, sd.tau)
        (in.docs.join(graft.ops.Hints.broadcastIfSmall(losers),
          Seq("doc_id"), "left_anti"), rel)
      case None => (in.docs, () => ())
    }
    // the SAME gate predicates the differential-tested q_filter_funnel
    // uses — one definition, no drift
    val f1 = TextOps.gateMinLength
    val f2 = TextOps.gateStopword

    // gate, then redact — the digest (and the corpus) must never carry
    // PII. Persisted: the regex+digest pass is the expensive narrow work
    // and feeds dedup, decon, the funnel tail, AND the final write —
    // without it the chain re-executes once per downstream action.
    // DISK_ONLY for the same measured reason as Merge's parsed stage
    // (jobs/Merge.scala): an O(corpus) intermediate read a handful of
    // times shouldn't compete with the dedup window and the sharded
    // write for the unified memory pool.
    val gated = docs.filter(f2)
      .withColumn("text", TextOps.redactPii(col("text")))
      .withColumn("h", md5(col("text")))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)

    // earliest-keeper exact dedup: at most ONE digest-keyed exchange —
    // and Catalyst compiles the rn=1 filter to a partial+final
    // WindowGroupLimit (ScalePlanSpec-asserted), so each input task
    // forwards only its best candidate per digest and the exchange
    // carries keeper candidates, not the corpus. Replaces the previous
    // digest aggregate + (h, doc_id) semi-join, which moved the full
    // text through a second exchange for the same emission set.
    val keepWin = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("doc_id")
    val deduped = gated.withColumn("rn", row_number().over(keepWin))
      .filter(col("rn") === 1).drop("rn")

    // decontamination: eval fingerprints broadcast (bounded BY CONTRACT —
    // an eval benchmark is a fixed set, not a scaling input), training
    // side streams
    val clean = in.evalDocs match {
      case Some(ev) =>
        val fps = ev.select(md5(TextOps.redactPii(col("text"))).as("h")).distinct()
        deduped.join(broadcast(fps), Seq("h"), "left_anti")
      case None => deduped
    }

    val kept = clean
      .withColumn("shard",
        expr("instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1"))
      .drop("h")

    // funnel stage numbering: with the optional semantic stage ON, the
    // pre-drop corpus is stage 0 "all" and the post-drop count slots in
    // as "semantic_dedup"; with it OFF the shape is byte-identical to the
    // q_corpus_build oracle's five rows.
    val off = if (in.semDedup.isDefined) 1 else 0
    val flagCounts = docs
      .select(f1.cast("long").as("p1"), f2.cast("long").as("p2"))
      .agg(count(lit(1)).as("n0"), sum("p1").as("n1"), sum("p2").as("n2"))
    val gate0 = if (in.semDedup.isDefined) "semantic_dedup" else "all"
    val head = flagCounts.select(explode(array(
      struct(lit(0 + off).as("stage"), lit(gate0).as("gate"), col("n0").as("n_docs")),
      struct(lit(1 + off).as("stage"), lit("min_length").as("gate"), col("n1").as("n_docs")),
      struct(lit(2 + off).as("stage"), lit("stopword_evidence").as("gate"), col("n2").as("n_docs"))))
      .as("r")).select("r.*")
    val preHead = in.semDedup.map { _ =>
      in.docs.agg(count(lit(1)).as("n")).select(
        lit(0).as("stage"), lit("all").as("gate"), col("n").as("n_docs"))
    }
    val tail = deduped.agg(count(lit(1)).as("n3"))
      .crossJoin(kept.agg(count(lit(1)).as("n4")))
      .select(explode(array(
        struct(lit(3 + off).as("stage"), lit("exact_dedup").as("gate"), col("n3").as("n_docs")),
        struct(lit(4 + off).as("stage"), lit("decontaminate").as("gate"), col("n4").as("n_docs"))))
        .as("r")).select("r.*")
    val funnel = preHead.map(_.unionAll(head)).getOrElse(head).unionAll(tail)

    val shards = kept.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+"))).cast("long").as("n_tokens"))

    Result(kept, funnel, shards,
      () => { gated.unpersist(false); semRelease(); () })
  }

  /** Write the corpus sharded (`shard=N/` dirs) plus the two report CSVs. */
  def write(result: Result, outDir: String): Unit = {
    result.kept
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/corpus")
    result.funnel.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/funnel")
    result.shards.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/shards")
  }
}

/** CLI: corpus build over JSONL or parquet document inputs.
  *
  * usage: CorpusBuildJob <docsPath> <outDir> [evalDocsPath]
  *          [--embeddings=<path>
  *           --sem-preset=frontier|exact|off|calibrated:<f>
  *           --sem-tau=<cos threshold, default 0.9>]
  *
  * `docsPath` ending in .parquet reads the parquet documents table;
  * anything else is JSON-lines (plain or .gz) in the documents schema.
  * `--sem-preset` (with `--embeddings`) runs SemDeDup upstream of the
  * gates at a measured named operating point — `frontier` is the
  * README's p2 m1.02 s1.1 recall/cost point (VERDICT r13 item 4). */
object CorpusBuildJob {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def opt(name: String): Option[String] =
      args.find(_.startsWith(s"--$name=")).map(_.stripPrefix(s"--$name="))
    val pos = args.filterNot(_.startsWith("--")).toSeq
    val (docsPath, outDir, evalPath) = pos match {
      case Seq(d, o)     => (d, o, None)
      case Seq(d, o, e)  => (d, o, Some(e))
      case _ => sys.error("usage: CorpusBuildJob <docsPath> <outDir> [evalDocsPath] " +
        "[--embeddings=<path> --sem-preset=frontier|exact|off]")
    }
    def read(p: String) =
      if (p.endsWith(".parquet")) spark.read.parquet(p)
      else graft.ops.Sources.readDocumentsJsonl(spark, p)

    import graft.queries.SimilarityOps
    val semDedup = opt("sem-preset").filterNot(_ == "off").map { name =>
      val embPath = opt("embeddings").getOrElse(
        sys.error("--sem-preset requires --embeddings=<path>"))
      val emb = spark.read.parquet(embPath)
      // calibrated:<f> reads the level-1 margin off THIS corpus (the
      // f-quantile of its coarse d²-ratio — requires the hierarchical
      // regime, i.e. > ~1k embeddings); named presets are the measured
      // constants.
      val preset =
        if (name.startsWith("calibrated:"))
          SimilarityOps.calibratedPreset(spark, emb, emb.count(),
            name.stripPrefix("calibrated:").toDouble)
        else SimilarityOps.SemPreset.parse(name).get
      // --sem-tau: the dup-pair cosine threshold. 0.9 is the SemDeDup
      // paper's near-exact regime (and the synthetic-bench default);
      // corpora whose "duplicate" notion is looser pass their own
      // (the parquet fixtures' planted scale is 0.25, matching
      // q_dedup_semantic / q_dedup_apply).
      CorpusBuild.SemDedup(emb, preset,
        tau = opt("sem-tau").map(_.toDouble).getOrElse(0.9))
    }
    val result = CorpusBuild.run(spark,
      CorpusBuild.Inputs(read(docsPath), evalPath.map(read), semDedup))
    CorpusBuild.write(result, outDir)
    result.funnel.orderBy("stage").collect().foreach { r =>
      println(f"${r.getInt(0)}%d ${r.getString(1)}%-20s ${r.getLong(2)}%d")
    }
    result.release()
    spark.stop()
  }
}
