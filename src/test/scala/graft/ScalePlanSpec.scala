package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the properties that make the engine
  * survive a 100 TB corpus are locked in here, not just claimed in
  * comments: filters reach the parquet scan, partition pruning limits the
  * files read, dimension joins broadcast, and bucketed tables join
  * without a shuffle.
  */
class ScalePlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit =
    try {
      queries.SessionCaches.releaseAll(spark)
      spark.catalog.clearCache()
    } finally super.afterAll()

  /** Final (post-AQE) physical plan as text. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  test("predicate pushdown reaches the parquet scan") {
    val df = Tables.documents(spark, sf).filter(col("n_chars") > 100)
      .select("doc_id", "n_chars")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(n_chars,100)"),
      s"filter not pushed to scan:\n$scan")
  }

  test("column pruning: a two-column projection reads two columns") {
    val df = Tables.documents(spark, sf).select("doc_id", "lang")
    val scan = df.queryExecution.executedPlan.toString
    // ReadSchema must NOT include the wide text column
    assert(scan.contains("ReadSchema") && !scan.contains("text"),
      s"text column not pruned from scan:\n$scan")
  }

  test("partition pruning: a lang filter reads only that partition's files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Files.createTempDirectory("graft_part").toString
    Tables.documents(spark, sf)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("lang") === "en")
    read.collect()
    val scans = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in plan")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"no partition filters on scan:\n${scan.toString}")
    // the pruned scan must select exactly the one matching partition of 5
    val selected = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters)
    assert(selected.length == 1 && selected.head.files.nonEmpty,
      s"expected exactly the lang=en partition, got ${selected.length}")
  }

  test("dimension-chain join broadcasts the small sides") {
    val plan = finalPlan(SparkEntry.queries("q_join_dim_chain")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"dim join did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dim join fell back to sort-merge (full shuffle of the fact side):\n$plan")
  }

  test("merge broadcast hints are size-gated: a large blocks dim degrades to shuffle") {
    // VERDICT r10 #1: blocks is the included-tx subset (~25 % of input
    // rows), so a FORCED broadcast hint OOMs the driver at 100× scale.
    // broadcastIfSmall must hint only when Catalyst's estimate fits the
    // session threshold — otherwise the initial plan must already be a
    // shuffle join (AQE can still promote it at runtime from observed
    // sizes, which is the desired degradation, not a forced plan).
    val s = spark
    import s.implicits._
    def inputs = {
      val raws = (0 until 64).map(i => (1000L + i, f"0x$i%064x", "0x02dead"))
        .toDF("timestamp_ms", "hash", "raw_tx_hex")
      val slog = (0 until 64).map(i => (1000L + i, f"0x$i%064x", "src"))
        .toDF("timestamp_ms", "hash", "source")
      val blocks = (0 until 64).map(i => (f"0x$i%064x", 100L + i, 2000L + i))
        .toDF("hash", "block_number", "block_ts_ms")
      val bl = Seq(Tuple1(f"0x${9999}%064x")).toDF("hash")
      jobs.Merge.Inputs(raws, slog, Some(bl), Some(blocks))
    }
    // "large dim" regime: any non-empty estimate exceeds a 1-byte
    // threshold, so no hint may be emitted and join selection (same conf)
    // must pick a shuffle join in the pre-AQE plan
    val bigOut = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val out = jobs.Merge.run(spark, inputs)
      val plan = out.transactions.queryExecution.sparkPlan.toString
      out.parsed.unpersist(false)
      plan
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(!bigOut.contains("BroadcastHashJoin"),
      s"large dims must not be force-broadcast:\n$bigOut")
    assert("(SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(bigOut).isDefined,
      s"large-dim join did not degrade to a shuffle join:\n$bigOut")
    // small-dim regime: default 10 MB threshold, tiny local dims → the
    // hint applies and the dims broadcast as before
    val smallRun = jobs.Merge.run(spark, inputs)
    val smallPlan = smallRun.transactions.queryExecution.sparkPlan.toString
    smallRun.parsed.unpersist(false)
    assert(smallPlan.contains("BroadcastHashJoin"),
      s"small dims should still broadcast:\n$smallPlan")
  }

  test("merge DAG: no exchange under the blacklist broadcast, one on the sourcelog side") {
    // the anti-join only tests existence, so the blacklist broadcasts as
    // read; the sourcelog side is one groupBy(hash) (a partial and a final
    // node around one exchange), and neither dedup sorts: a SortAggregate
    // brings a Sort stage and its generated classes. AQE is off so that
    // the plan holds every exchange EnsureRequirements plans, including
    // those inside the cached parse stage.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val s = spark
    import s.implicits._
    val raws = (0 until 64).map(i => (1000L + i, f"0x$i%064x", "0x02dead"))
      .toDF("timestamp_ms", "hash", "raw_tx_hex")
    val slog = (0 until 64).flatMap(i => Seq((1000L + i, f"0x$i%064x", "a"), (900L + i, f"0x$i%064x", "b")))
      .toDF("timestamp_ms", "hash", "source")
    val blocks = (0 until 8).map(i => (f"0x$i%064x", 100L + i, 2000L + i))
      .toDF("hash", "block_number", "block_ts_ms")
    val bl = Seq(f"0x${3}%064x", f"0x${3}%064x").toDF("hash")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }).flatMap(nodes)
    def shuffles(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeExec])
    val plan = ops.SessionConf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val out = jobs.Merge.run(spark, jobs.Merge.Inputs(raws, slog, Some(bl), Some(blocks)))
      try out.transactions.queryExecution.executedPlan finally out.parsed.unpersist(false)
    }
    val blacklist = nodes(plan).collect {
      case b: BroadcastExchangeExec if b.child.output.map(_.name) == Seq("hash") => b
    }
    assert(blacklist.size == 1, s"no single blacklist broadcast:\n$plan")
    assert(shuffles(blacklist.head) == 0, s"exchange under the blacklist broadcast:\n${blacklist.head}")
    val sources = nodes(plan).collectFirst {
      case a: BaseAggregateExec if a.output.exists(_.name == "sources") => a
    }
    assert(sources.exists(shuffles(_) == 1), s"sourcelog side:\n$plan")
    val sourceAggs = sources.toSeq.flatMap(nodes).collect { case a: BaseAggregateExec => a }
    assert(sourceAggs.size == 2 &&
      sourceAggs.forall(_.groupingExpressions.map(_.sql) == Seq("hash")),
      s"sourcelog side is not one groupBy(hash):\n${sources.get}")
    assert(!nodes(plan).exists(_.isInstanceOf[SortAggregateExec]), s"SortAggregate in the merge:\n$plan")
  }

  test("trash sink: one sorted file, no range sampling, two jobs") {
    // the trash CSV is one ts-sorted file: a single-partition exchange and
    // a sort inside it, where a global orderBy samples the input for its
    // range bounds in a job of its own and writes a file per range
    import org.apache.spark.JobCounter
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val trash = spark.range(0, 400, 1, 4).select(
      (lit(5000L) - col("id") * 7 % 1000).as("timestamp_ms"),
      format_string("0x%064x", col("id")).as("hash"), lit("merge").as("source"),
      lit("decode-error").as("reason"), lit("").as("notes"))
    val dir = Files.createTempDirectory("graft_trash").toString
    var plans = Seq.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans :+= qe.executedPlan.toString
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (_, jobs) = try JobCounter(spark.sparkContext)(ops.Sinks.writeTrashCsv(trash, s"$dir/out"))
      finally spark.listenerManager.unregister(listener)
    assert(jobs == 2, s"$jobs jobs")
    assert(plans.size == 1 && !plans.head.toLowerCase.contains("rangepartitioning"),
      s"trash sink plan:\n${plans.mkString("\n")}")
    val files = new java.io.File(s"$dir/out").listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length == 1, files.map(_.getName).mkString(", "))
    val ts = Files.readString(files.head.toPath).split("\n").toSeq.drop(1).map(_.takeWhile(_ != ',').toLong)
    assert(ts.size == 400 && ts == ts.sorted)
  }

  test("hash columns never case-map, and the merge runs one hash rule per input") {
    // Spark builds ICU's case tables the first time Lower, Upper or InitCap
    // runs in a JVM (about 0.7 s of a cold merge); hex hashes fold without
    // them. Each reader applies Sources.hexHash once and Merge.run folds only
    // the blocks dim, which has no reader: a re-check of the readers' output
    // would run the rule again, inlined into the scans' filters.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, RLike, Upper}
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_casemap").toString
    val h = f"0x${7}%064x"
    def csv(name: String, line: String): String = {
      Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), line + "\n")
      s"$dir/$name"
    }
    def caseMaps(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: Lower | _: Upper | _: InitCap) => e.sql
      }))
    val txs = ops.Sources.readTxCsv(spark, csv("tx.csv", s"1,$h,0x02"))
    val slog = ops.Sources.readSourcelogCsv(spark, csv("sl.csv", s"1,$h,a"))
    val meta = ops.Sources.readMetadataHashes(spark, csv("meta.csv", s"1,$h"))
    val blocks = Seq((h, 100L, 2000L)).toDF("hash", "block_number", "block_ts_ms")
    val out = jobs.Merge.run(spark, jobs.Merge.Inputs(txs, slog, Some(meta), Some(blocks)))
    try {
      val plans = Seq(
        "readTxCsv" -> txs,
        "readSourcelogCsv" -> slog,
        "readTrashCsv" -> ops.Sources.readTrashCsv(spark, csv("trash.csv", s"1,$h,a,r,n")),
        "readMetadataHashes" -> meta,
        "readTxCsvZip" -> ops.Sources.readTxCsvZip(spark, s"$dir/*.csv.zip"),
        "Merge.run transactions" -> out.transactions,
        "Merge.run trash" -> out.trash,
        "Collect.inclusionCheck" -> streaming.Collect.inclusionCheck(
          txs.withColumn("reason", lit(null).cast("string")), blocks.select("hash")))
      plans.foreach { case (name, df) =>
        assert(caseMaps(df).isEmpty, s"$name case-maps: ${caseMaps(df)}")
      }
      val rules = out.transactions.queryExecution.analyzed
        .flatMap(_.expressions.flatMap(_.collect { case r: RLike => r.sql }))
      assert(rules.size == 4, s"three readers and the blocks dim: $rules")
    } finally out.parsed.unpersist(false)
  }

  test("ungated merge joins: AQE promotes to broadcast from observed sizes") {
    // The other half of the gate's contract: when the STATIC estimate is
    // too coarse to hint (a range+filter plan estimates at the unfiltered
    // size, far over the threshold) but the dims are actually tiny at
    // runtime, AQE converts the shuffle join to a broadcast join from
    // observed shuffle sizes — the fallback costs nothing when the data
    // turns out small, it only removes the driver-OOM cliff when it isn't.
    val s = spark
    import s.implicits._
    val raws = s.range(0L, 20000000L).as[Long]
      .filter((i: Long) => i % 300000 == 0)
      .mapPartitions(_.map(functions.TxFixtures.rawRow))
      .toDF("timestamp_ms", "hash", "raw_tx_hex")
    val slog = raws.select(col("timestamp_ms"), col("hash"),
      lit("src").as("source"))
    val blocks = s.range(0L, 10000000L).as[Long]
      .filter((i: Long) => i % 2000000 == 0)
      .mapPartitions(_.map { i: Long =>
        val (ts, h, _) = functions.TxFixtures.rawRow(i)
        (h, 100L + i, ts + 4000L)
      }).toDF("hash", "block_number", "block_ts_ms")
    val out = jobs.Merge.run(s, jobs.Merge.Inputs(raws, slog, None, Some(blocks)))
    try {
      val init = out.transactions.queryExecution.sparkPlan.toString
      assert(!init.contains("BroadcastHashJoin"),
        s"inflated estimates must not statically broadcast:\n$init")
      out.transactions.collect()
      val fin = out.transactions.queryExecution.executedPlan.toString
      assert(fin.contains("BroadcastHashJoin"),
        s"AQE did not promote the tiny dim join to broadcast:\n$fin")
    } finally out.parsed.unpersist(false)
  }

  test("corpus build: exact dedup is ONE digest exchange, decon broadcasts") {
    // the r11 window-rank restructure: gate/redact are narrow, dedup
    // ranks within a single hashpartitioning(h) exchange, and the
    // eval-fingerprint anti-join broadcasts — no second full-row shuffle,
    // no sort-merge join anywhere in the kept plan
    val r = queries.TextOps.corpusBuildResult(spark, sf)
    try {
      val plan = r.kept.queryExecution.sparkPlan.toString
      assert(plan.contains("Window"), s"dedup is not a window rank:\n$plan")
      // rn=1 compiles to a partial+final WindowGroupLimit: each input
      // task forwards at most one candidate per digest, so the (single)
      // exchange carries keeper candidates, not the corpus
      assert(plan.contains("WindowGroupLimit"),
        s"no map-side group-limit below the window:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1, // 0 at single-partition fixture scale
        s"expected at most one digest exchange in kept, got $exchanges:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"kept plan fell back to a full-shuffle join:\n$plan")
    } finally queries.TextOps.releaseCorpusBuild(spark, sf)
  }

  test("JDBC read: range predicate pushed to the database, 4-way partitioned scan") {
    // The query body REQUIREs PushedFilters + numPartitions=4 on its scan
    // leaf (SinkOracles.jdbcPushdownRead) — running it at all asserts the
    // plan; here additionally pin the result against a local recompute so
    // the pushed read returns the same rows a full pull would.
    val out = queries.SinkOracles.jdbcPushdownRead(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val expected = Tables.events(spark, sf)
      .filter(col("event_id") % 7 === 0)
      .select(col("user_id"), (col("event_id") % 3).as("b")).distinct()
      .select(col("user_id"), (lit(1700000000000L) + col("user_id") * 1000L).as("ts"),
        (col("user_id") * 1000003L % 97L).as("fee"),
        concat(lit("src"), (col("user_id") % 5).cast("string")).as("source"))
      .filter(col("ts") >= 1700000003000L && col("ts") < 1700100000000L)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), min("ts").as("min_ts"),
        max("ts").as("max_ts"), sum("fee").cast("long").as("fees"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == expected, s"pushed JDBC read diverges: $out vs $expected")
    assert(out.nonEmpty)
  }

  test("bucketed tables join with zero shuffle exchanges") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
      docs.write.mode("overwrite").bucketBy(4, "doc_id")
        .sortBy("doc_id").saveAsTable("b_docs")
      docs.select(col("doc_id"), col("n_chars").as("nc2"))
        .write.mode("overwrite").bucketBy(4, "doc_id")
        .sortBy("doc_id").saveAsTable("b_meta")
      val joined = spark.table("b_docs").join(spark.table("b_meta"), "doc_id")
      val plan = finalPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == docs.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_meta")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("corpus aggregate uses map-side partial aggregation") {
    // partial_count/partial_sum before the exchange = the map-side combine
    // that keeps a 100 TB groupBy's shuffle proportional to #groups
    val plan = finalPlan(SparkEntry.queries("q_text_tokens")(spark, sf))
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("BM25 broadcasts the query block and stats, never the corpus") {
    val plan = finalPlan(SparkEntry.queries("q_text_bm25")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query block did not broadcast:\n$plan")
    // no cartesian product anywhere — the only nested-loop join allowed is
    // the single-row stats broadcast
    assert(!plan.contains("CartesianProduct"), s"cartesian in BM25 plan:\n$plan")
  }

  test("PQ-ADC scores from broadcast LUT + codes, no shuffle of vectors") {
    val plan = finalPlan(SparkEntry.queries("q_sim_ann_pq")(spark, sf))
    // the LUT and codebook joins must broadcast; the corpus side only
    // aggregates its codes (map-side partial min/sum)
    assert(plan.contains("BroadcastHashJoin"), s"LUT did not broadcast:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in ADC plan:\n$plan")
  }

  test("decontamination anti-joins against a broadcast eval side") {
    val plan = finalPlan(SparkEntry.queries("q_decontaminate_ngram")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams / contaminated ids did not broadcast:\n$plan")
  }

  test("minhash signatures compute scan-locally, no cartesian") {
    val plan = finalPlan(SparkEntry.queries("q_dedup_minhash")(spark, sf))
    // the 16 permutation minima come from the native minhash_sig pass
    // over each doc's shingle array — no per-shingle row explosion, no
    // signature aggregate exchange
    assert(plan.contains("minhash_sig"), s"no native signature pass:\n$plan")
    assert(!plan.contains("partial_min"), s"per-shingle min aggregate is back:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in minhash plan:\n$plan")
  }

  test("incremental dedup verifies via sort-merge, no cartesian") {
    // the exact-verify joins carry full shingle arrays: SMJ is pinned so
    // the optimizer can never broadcast a fat pairs-with-arrays
    // intermediate to the driver (observed >1 GiB at 300k docs)
    val plan = finalPlan(SparkEntry.queries("q_dedup_incremental")(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"verify joins not SMJ:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in incremental plan:\n$plan")
  }

  test("BPE encode is one scan of the symbol stream plus a token count") {
    val plan = finalPlan(SparkEntry.queries("q_bpe_encode")(spark, sf))
    assert(!plan.contains("Join"), s"unexpected join in encode plan:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side token count:\n$plan")
  }

  test("winnow selection computes scan-locally: no window exchange") {
    val plan = finalPlan(SparkEntry.queries("q_dedup_winnow")(spark, sf))
    // fingerprint selection is the native winnow_sel pass per doc — the
    // per-character-position window sort would shuffle more bytes than
    // the corpus itself at scale
    assert(plan.contains("winnow_sel"), s"no native winnow selection:\n$plan")
    assert(!plan.contains("Window"), s"window exec in winnow plan:\n$plan")
  }

  test("simhash votes run as one partial typed aggregate, no cartesian") {
    // the fingerprint build: all 128 votes live in ONE custom aggregate
    // (long[129] buffer) with map-side partial aggregation — the
    // 129-column sum form compiled a >100-field aggregate class
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val votePlan = queries.DedupOps.withPlanted(spark, sf)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy("doc_id")
      .agg(call_function("simhash_chunks", col("w")).as("mc"))
      .queryExecution.executedPlan.toString
    assert(votePlan.contains("partial_simhash_chunks"),
      s"no map-side partial vote aggregate:\n$votePlan")
    // the full query joins the cached fingerprints; still no cartesian
    val plan = finalPlan(SparkEntry.queries("q_dedup_simhash")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian in simhash plan:\n$plan")
  }

  test("DSIR scores via broadcast bucket tables, no cartesian") {
    // the 256-row weight table must broadcast so scoring is one corpus
    // scan + a doc-keyed aggregate — the entire point of hashed features
    val plan = finalPlan(SparkEntry.queries("q_select_dsir")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket weight table did not broadcast:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in DSIR plan:\n$plan")
  }

  test("filter funnel reads the corpus at most three times") {
    // stages 0-2 fold into one conditional-aggregation scan; stages 3-4
    // share one digest pass; the eval split is the third — a per-stage
    // re-scan design would read the corpus five times. Counted in the
    // final-plan STRING: the executed plan is AQE-wrapped
    // (AdaptiveSparkPlanExec is a leaf to TreeNode.collect, so collecting
    // FileSourceScanExec nodes would vacuously find zero), but toString
    // renders the final inner plan with one `Location ...documents` line
    // per scan node.
    // toString renders BOTH the final and the initial AQE plan — count
    // scan nodes in the final section only
    val plan = finalPlan(SparkEntry.queries("q_filter_funnel")(spark, sf))
      .split("== Initial Plan ==").head
    val scans = "documents\\.parquet".r.findAllMatchIn(plan).length
    assert(scans >= 1, s"no document scan found — counting is broken:\n$plan")
    assert(scans <= 3, s"funnel re-scans the corpus: $scans document scans")
  }

  test("SemDeDup pairwise stays cluster-blocked: no cartesian product") {
    val plan = finalPlan(SparkEntry.queries("q_dedup_semantic")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"semantic dedup plan degenerated to all-pairs:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
  }

  test("corpus-scaled SemDeDup (derived k > floor) keeps cluster blocking") {
    // sf0.1 is above the k=8 floor, so this exercises the sample-trained
    // vec_dot quantizer path — the 100 TB shape
    val sf01 = "/root/testdata/sf0.1"
    val n = Tables.embeddings(spark, sf01).count()
    assert(queries.SimilarityOps.semK(n) > 8, "sf0.1 no longer exercises the scaled path")
    val plan = finalPlan(SparkEntry.queries("q_dedup_semantic")(spark, sf01))
    assert(!plan.contains("CartesianProduct"),
      s"scaled semantic dedup degenerated to all-pairs:\n$plan")
    // the k×dim centroid table must broadcast (assignment + probe scoring)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"quantizer join did not broadcast:\n$plan")
  }

  test("SemDeDup multiprobe: ≤probes memberships, dedup'd pairs, recall ≥ single-probe") {
    import spark.implicits._
    // n must push semK past FlatKCap so the hierarchical branch (the only
    // regime with a level-1 probe step) runs: semK(1100)=18 > 16
    val n = 1100L
    val emb = spark.range(n).map(i => (i, gen.synVec(i)))
      .toDF("vec_id", "embedding")
    def run(probes: Int): (Map[Long, Long], Long) = {
      val clusters = queries.SimilarityOps.semClustersFromEmb(spark, emb, n, probes)
      val perVec = clusters.groupBy("vec_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pairs = queries.SimilarityOps.semDupPairs(spark, emb, clusters, 0.9)
      val found = pairs
        .filter(col("vec_b") % 10 === 9 && col("vec_a") === col("vec_b") - 9)
        .count()
      // pair list carries no duplicates even when blocking is multiprobe
      assert(pairs.groupBy("vec_a", "vec_b").count()
        .filter(col("count") > 1).count() == 0)
      (perVec, found)
    }
    val (m1, f1) = run(1)
    assert(m1.size == n && m1.values.forall(_ == 1L),
      "single-probe must keep the one-label-per-vector contract")
    val (m2, f2) = run(2)
    assert(m2.size == n && m2.values.forall(c => c >= 1L && c <= 2L))
    assert(f2 >= f1, s"2-probe recall $f2 must not drop below single-probe $f1")
  }

  test("SemDeDup multiprobe: map-side WindowGroupLimit — only `probes` rows per vector shuffle") {
    import spark.implicits._
    // assignVecProbes' scaladoc claims the probe-selection window rank
    // compiles to a map-side WindowGroupLimit over the broadcast-scored
    // rows, so the vec_id exchange carries ≤ probes rows per vector — not
    // all k1 centroid scores. Pin that plan shape (VERDICT r12 item 2),
    // same treatment the corpus-build dedup got.
    val n = 1100L // semK(1100)=18 > FlatKCap → hierarchical (probed) regime
    val emb = spark.range(n).map(i => (i, gen.synVec(i)))
      .toDF("vec_id", "embedding")
    val clusters = queries.SimilarityOps.semClustersFromEmb(spark, emb, n, 2)
    val plan = finalPlan(clusters)
    val partialIdx = plan.indexOf("row_number(), 2, Partial")
    val finalIdx = plan.indexOf("row_number(), 2, Final")
    assert(partialIdx >= 0 && finalIdx >= 0,
      s"probe-selection rank did not compile to a partial+final WindowGroupLimit:\n$plan")
    // plan text prints root-first, so the map-side (Partial) limit must
    // appear BELOW (= after, in text) the vec_id exchange it feeds, and
    // the Final above it — i.e. the shuffle sits between the two limits
    // and carries only the pre-limited rows
    val exIdx = plan.indexOf("Exchange hashpartitioning(vec_id", finalIdx)
    assert(exIdx >= 0 && exIdx < partialIdx,
      s"no vec_id exchange between the Final and Partial group limits — " +
        s"full score set would shuffle:\n$plan")
    // and the score source below the limit is the broadcast centroid
    // table (never a shuffled join)
    assert(plan.indexOf("BroadcastNestedLoopJoin", partialIdx) >= 0 ||
      plan.indexOf("BroadcastHashJoin", partialIdx) >= 0,
      s"centroid scoring below the group limit is not broadcast:\n$plan")
  }

  test("SemDeDup boundary margin: finite probeMargin keeps the map-side limit shape, no second vec_id exchange") {
    import spark.implicits._
    // assignVecProbes claims the finite-margin second window (min over
    // vec_id) runs over the ALREADY group-limited rows with the same
    // vec_id clustering — i.e. the Partial/Final limit and shuffle shape
    // are untouched and NO second vec_id exchange appears (ADVICE r13).
    val n = 1100L
    val emb = spark.range(n).map(i => (i, gen.synVec(i)))
      .toDF("vec_id", "embedding")
    val clusters = queries.SimilarityOps.semClustersFromEmb(spark, emb, n, 2, 1.4)
    val plan = finalPlan(clusters)
    val partialIdx = plan.indexOf("row_number(), 2, Partial")
    val finalIdx = plan.indexOf("row_number(), 2, Final")
    assert(partialIdx >= 0 && finalIdx >= 0,
      s"finite-margin probe rank lost the partial+final WindowGroupLimit:\n$plan")
    val exIdx = plan.indexOf("Exchange hashpartitioning(vec_id", finalIdx)
    assert(exIdx >= 0 && exIdx < partialIdx,
      s"no vec_id exchange between the Final and Partial group limits:\n$plan")
    // the margin window must NOT add a vec_id exchange over the
    // margin=∞ plan (the downstream vec_id join keeps its own; the count
    // must be IDENTICAL between the two plans)
    def countVecEx(p: String): Int =
      "Exchange hashpartitioning\\(vec_id".r.findAllIn(p).length
    val planInf = finalPlan(
      queries.SimilarityOps.semClustersFromEmb(spark, emb, n, 2))
    assert(countVecEx(plan) == countVecEx(planInf),
      s"finite margin changed the vec_id exchange count: " +
        s"${countVecEx(plan)} vs ${countVecEx(planInf)}\n$plan")
    assert(plan.indexOf("BroadcastNestedLoopJoin", partialIdx) >= 0 ||
      plan.indexOf("BroadcastHashJoin", partialIdx) >= 0,
      s"centroid scoring below the group limit is not broadcast:\n$plan")
  }

  test("ngram-Jaccard: dict broadcasts, candidates broadcast, no cartesian") {
    val plan = finalPlan(SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf))
    // the charset³-bounded dictionary and the near-dup-bounded candidate
    // table must broadcast; the only self-join key is the hashed shingle
    assert(plan.contains("BroadcastHashJoin"),
      s"dict/candidate join did not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in ngram-jaccard plan:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
  }

  test("daily archive: a day filter selects exactly one of 30 partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the exact scan q_archive_day runs (same memoized day=… layout, same
    // partition-column filter), kept free of aggregates so the scan node
    // is reachable outside the AQE wrapper
    val archive = queries.Core.dailyEventsArchive(spark, sf)
    val read = spark.read.parquet(archive)
      .filter(col("day") === lit("2024-01-15").cast("date"))
    read.collect()
    val scan = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty, "day filter missed the partition column")
    val selected = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters)
    val all = scan.relation.location.listFiles(Nil, Nil)
    assert(all.length >= 28, s"fixture archive should span ~30 days, got ${all.length}")
    assert(selected.length == 1,
      s"expected exactly the 2024-01-15 partition, got ${selected.length} of ${all.length}")
    // and the query over that layout actually answers
    assert(SparkEntry.queries("q_archive_day")(spark, sf).count() > 0)
  }

  test("BPE checkpointing bounds the symbol column's replace lineage") {
    // 6 rounds, checkpoint every 2: without truncation the final symbol
    // plan nests 6 merge replaces; with it, at most checkpointEvery (the
    // rounds since the last checkpoint) survive above an RDD scan leaf
    val (learned, words) = queries.TextOps.bpeTrain(spark, sf,
      rounds = 6, checkpointEvery = 2)
    assert(learned.length == 6)
    val plan = words.queryExecution.optimizedPlan.toString
    val merges = "(?<!regexp_)replace\\(".r.findAllMatchIn(plan).length
    assert(merges <= 2, s"lineage not truncated: $merges merge replaces in\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      s"no checkpoint scan leaf in the final symbol plan:\n$plan")
  }

  test("JL production path is one zero-shuffle scan (no exchange, no join)") {
    // the projection must be a pure narrow map: sign literals + codegen
    // vec_dot + a 16-struct explode — nothing to shuffle, nothing to
    // join, at any corpus size
    val plan = finalPlan(SparkEntry.queries("q_embed_rp")(spark, "/root/testdata/sf0.1"))
    assert(!plan.contains("Exchange"), s"JL production plan shuffles:\n$plan")
    assert(!plan.contains("Join"), s"JL production plan joins:\n$plan")
  }

  test("one-plan sweep: vector queries are vec_dot-native at sf0.01 and sf0.1") {
    // The correctness gate hashes sf0.01 and the bench times sf0.1, so
    // both must run the SAME plan: no query may fall back to the 64-way
    // exploded exact-decimal chain at either scale — no posexplode of
    // the corpus embeddings, no decimal(28,12) arithmetic, and the
    // codegen vec_dot scoring present.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      def assertNative(name: String, plan: String): Unit = {
        assert(!plan.contains("posexplode"),
          s"$name @ $dir: dim explode in the plan:\n$plan")
        assert(!plan.contains("decimal(28,12)"),
          s"$name @ $dir: exact-decimal arithmetic in the plan:\n$plan")
        assert(plan.contains("vec_dot"), s"$name @ $dir: no vec_dot scoring:\n$plan")
      }
      for (name <- Seq("q_embed_rp", "q_sim_topk", "q_sim_batch_topk"))
        assertNative(name, finalPlan(SparkEntry.queries(name)(spark, dir)))
      // the shared near-dup pair chain (memo bypassed so the plan is visible)
      assertNative("embeddingCosPairs",
        finalPlan(queries.DedupOps.embeddingCosPairs(spark, dir)))
      // the coarse k-means distance table: the cached relation's stored
      // plan carries no explode of the scanned embedding column and no
      // decimal distances (the Lloyd means explode the cast vectors of
      // the assigned rows once, a training step, not the exact chain)
      queries.SimilarityOps.releaseCoarseKmeans(spark, dir)
      val coarsePlan = {
        queries.SimilarityOps.warmCoarseKmeans(spark, dir)
        finalPlan(SparkEntry.queries("q_embed_kmeans")(spark, dir))
      }
      assert(!coarsePlan.contains("posexplode(embedding"),
        s"q_embed_kmeans @ $dir: corpus dim explode in the coarse table:\n$coarsePlan")
      assert(!coarsePlan.contains("decimal(28,12)"),
        s"q_embed_kmeans @ $dir: exact-decimal distances in the coarse table:\n$coarsePlan")
      queries.SimilarityOps.releaseCoarseKmeans(spark, dir)
      // IVF: the training relation keeps decimal Lloyd means by design,
      // so the lock is on the scoring kernel — the vec_nearest assignment
      // (the exact twin scored with a decimal distance fold instead)
      val ivf = finalPlan(SparkEntry.queries("q_sim_ann_ivf")(spark, dir))
      assert(ivf.contains("vec_nearest"),
        s"q_sim_ann_ivf @ $dir: not the vec_nearest production plan:\n$ivf")
      queries.SimilarityOps.releaseIvfCentroids(spark, dir)
    }
  }

  test("exact-cosine production shapes: scan-only top-k, single blocked pair join") {
    val big = "/root/testdata/sf0.1"
    val topk = finalPlan(SparkEntry.queries("q_sim_topk")(spark, big))
    assert(!topk.contains("Join"), s"q_sim_topk production plan joins:\n$topk")
    assert(topk.contains("TakeOrderedAndProject"),
      s"q_sim_topk materializes a full sort instead of partial top-k:\n$topk")
    val batch = finalPlan(SparkEntry.queries("q_sim_batch_topk")(spark, big))
    assert(!batch.contains("Join"), s"q_sim_batch_topk production plan joins:\n$batch")
    // pairs: exactly ONE join — the packed self-join on the blocking key;
    // the norm rides the scan, so no second norm-attach join exists
    // (AQE echoes the initial plan after the final one — count only the
    // final section or every operator double-counts)
    val pairs = finalPlan(queries.DedupOps.embeddingCosPairs(spark, big))
      .split("== Initial Plan ==")(0)
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllMatchIn(pairs).length
    assert(joins == 1, s"expected 1 blocked self-join, found $joins:\n$pairs")
  }

  test("HLL vocab sketch: registers partial-aggregate map-side") {
    // the 100 TB claim: only (lang, register, max-rank) partials shuffle,
    // never the token stream
    val plan = finalPlan(SparkEntry.queries("q_vocab_sketch")(spark, sf))
    assert(plan.contains("partial_max") || plan.contains("partial_"),
      s"no map-side register aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in HLL plan:\n$plan")
  }

  test("Bloom decontamination probes scan-local: no join on the training side") {
    // the broadcast-bitset probe is a filter, not a join — the entire
    // point of the Bloom path when the eval set outgrows a join build
    val plan = finalPlan(SparkEntry.queries("q_decontaminate_bloom")(spark, sf))
    assert(!plan.contains("Join"), s"bloom probe degenerated to a join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in bloom plan:\n$plan")
  }

  test("count-min sketch aggregates partially; no cartesian") {
    val plan = finalPlan(SparkEntry.queries("q_vocab_cms")(spark, sf))
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in CMS plan:\n$plan")
  }

  test("partitioned sinks rebalance on the bucket keys before the write") {
    import org.apache.spark.sql.catalyst.plans.logical.RebalancePartitions
    // a misspelled hint is dropped by Catalyst with only a warning — assert
    // the sink's pre-write plan carries a resolved RebalancePartitions on
    // the bucket keys, so each key clusters into as few tasks as its size
    // needs (no per-(task × bucket) small files, no serialized hot keys)
    val rows = Tables.events(spark, sf).select("event_id", "ts")
    val hourly = ops.Sinks.hourlyBucketedRows(rows, "ts")
    val reb = hourly.queryExecution.optimizedPlan.collect {
      case r: RebalancePartitions => r
    }
    assert(reb.nonEmpty, "hourly sink plan lost its rebalance:\n" +
      hourly.queryExecution.optimizedPlan)
    assert(reb.head.partitionExpressions.size == 2,
      s"expected rebalance on (date, hour): ${reb.head.partitionExpressions}")
  }
}
