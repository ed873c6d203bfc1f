package graft.streaming

import graft.functions.ParseTx
import graft.ops.Sources
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapred.lib.MultipleTextOutputFormat
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The collector as a Structured Streaming job (SURVEY.md §2.7/§3.3;
  * reference collector/tx_processor.go:201-416 semantics):
  *
  *   sources → union stream → 30-min TTL dedup → F2 validation →
  *   one micro-batch write: hourly-bucketed tx CSVs + trash CSVs
  *   (+ per-minute metrics, [[sourceMetrics]])
  *
  * One streaming query, one checkpoint, one dedup state: each envelope is
  * decoded, deduped and validated once, and one Spark job per micro-batch
  * writes both outputs from that pass (SURVEY F2, "one pass, two
  * outputs"); [[writeBatch]] states the per-batch publish contract that
  * replaces the file sinks' logs.
  *
  * Event time = receive time stamped at the adapter (processing ≈ event
  * time). Contract matches the reference: at-least-once ingest, real dedup
  * happens in the daily merge (README.md:218) — the streaming dedup is a
  * 30-minute duplicate suppressor, exactly like the collector's
  * `knownTxs` TTL map (collector/consts.go:10-11).
  */
object Collect {

  /** Wire schema of a collector feed event (FIXTURES.md §A2 + source tag). */
  val feedSchema: StructType = StructType(Seq(
    StructField("timestamp_ms", LongType),
    StructField("hash", StringType),
    StructField("raw_tx_hex", StringType),
    StructField("source", StringType)))

  /** File-based feed (each dropped CSV file ≈ one WS message batch). */
  def feed(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema(feedSchema)
      .option("maxFilesPerTrigger", 16)
      .csv(inDir)
      .withColumn("ts", timestamp_millis(col("timestamp_ms")))

  /** Wire-envelope shape of the push-feed sources, one merged JSON schema:
    * bloXroute puts the 0x-hex RLP at params.result.rawTx (BlxRawTxMsg,
    * common/types.go:16-22; collector/node_conn_bloxroute.go:134-160) and
    * Eden at params.result.rlp (EdenRawTxMsg, common/types.go:24-30;
    * collector/node_conn_eden.go:131-157). Fields absent from a given
    * source's message parse to null. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("params", StructType(Seq(
      StructField("result", StructType(Seq(
        StructField("rawTx", StringType),
        StructField("rlp", StringType)))))))))

  /** Raw-envelope feed: JSON-lines files of
    * `{timestamp_ms, source, msg}` where `msg` is the verbatim WS push
    * message — timestamp and source tag are connection context the adapter
    * stamps on receipt (TxIn, collector/node_conn_bloxroute.go:161-165). */
  val envelopeFeedSchema: StructType = StructType(Seq(
    StructField("timestamp_ms", LongType),
    StructField("source", StringType),
    StructField("msg", StringType)))

  def envelopeFeed(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema(envelopeFeedSchema)
      .option("maxFilesPerTrigger", 16)
      .json(inDir)

  /** S6-S10 socket adapter: the reference's push-feed subscription minus
    * only the remote dial (collector/node_conn.go:87-101 reads messages
    * off an established connection and stamps them into TxIn — this is
    * that read loop as a streaming source). Each line on the socket is
    * one `{timestamp_ms, source, msg}` envelope, exactly what the remote
    * WS/gRPC client would enqueue, and it flows through the same
    * [[decodeEnvelopes]] columnar path as the file feed — so every engine
    * stage downstream of the dial is shared and parity-tested. */
  def socketEnvelopeFeed(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load() // value STRING: one JSON envelope per line
      .select(from_json(col("value"), envelopeFeedSchema).as("e"))
      .select(col("e.timestamp_ms").as("timestamp_ms"),
        col("e.source").as("source"), col("e.msg").as("msg"))
      .filter(col("timestamp_ms").isNotNull) // skip-on-error: junk lines drop

  /** Put this session's streaming state into the RocksDB provider
    * (bundled with Spark 4): the default HDFS-backed provider keeps every
    * key's state on the executor HEAP, which is fine for the collector's
    * mempool-scale TTL map but caps out long before a corpus-scale dedup
    * window — RocksDB spills state to local disk with a bounded block
    * cache, so state size is bounded by disk, not heap. Takes effect for
    * queries STARTED after the call (the provider is captured per query
    * from the session conf at start). */
  def useRocksDbState(spark: SparkSession): Unit =
    spark.conf.set(StateStoreProvider, RocksDbProvider)

  /** The session conf key and value [[useRocksDbState]] sets. */
  private[graft] val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"
  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** One-time streaming-engine warm-up (Bench calls this in its UNTIMED
    * warm-up window; VERDICT r11 item 4): a 3-row feed driven through the
    * three stateful shapes the streaming oracles use —
    * flatMapGroupsWithState dedup on BOTH state-store providers (the
    * RocksDB pass loads the JNI library and spins up its first store —
    * fixed provider setup cost, not data cost), the watermarked windowed
    * aggregate, and the stream-static broadcast join. Classloading of the
    * micro-batch engine, Janino compilation of the stateful operators,
    * and provider init stop being billed to whichever streaming oracle
    * happens to run first in a sweep. Idempotent; all sinks are throwaway
    * memory tables dropped before returning. */
  def warmStreamEngine(spark: SparkSession): Unit = {
    val p = java.nio.file.Files.createTempDirectory("graft-stream-warm")
    try {
      java.nio.file.Files.writeString(p.resolve("in.csv"),
        "1700000000000,0xaa,0x01,src0\n" +
        "1700000000001,0xaa,0x01,src0\n" +
        "1700000000002,0xbb,0x02,src1\n")
      val in = p.toString
      def drain(df: DataFrame, name: String, mode: String): Unit = {
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        try q.processAllAvailable() finally q.stop()
        spark.catalog.dropTempView(name)
      }
      graft.ops.SessionConf.withConf(spark, StateStoreProvider -> RocksDbProvider) {
        drain(dedupStateful(feed(spark, in)), "graft_warm_rocks", "append")
      }
      drain(dedupStateful(feed(spark, in)), "graft_warm_dedup", "append")
      drain(sourceMetrics(feed(spark, in)), "graft_warm_win", "complete")
      import spark.implicits._
      drain(inclusionCheck(
        feed(spark, in).withColumn("reason", lit(null).cast("string")),
        Seq(f"0x${0xaa}%064x").toDF("hash")), "graft_warm_incl", "append")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Full collector wiring over a live socket feed (S6-S10 minus dial). */
  def runSocketEnvelopes(spark: SparkSession, host: String, port: Int,
      outDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): Seq[StreamingQuery] =
    runWith(decodeEnvelopes(socketEnvelopeFeed(spark, host, port)), outDir, trigger)

  /** S6-S8 envelope decode as columnar transforms — the engine half of the
    * push-feed adapters (the WS dial/backoff loop is driver-side
    * plumbing): bloXroute and Eden carry a 0x-hex RLP payload inside
    * their message JSON (from_json path extraction); every other source
    * (geth newPendingTransactions full-tx mode, alchemy, infura) pushes a
    * tx JSON OBJECT, which [[graft.functions.EthTxEncode]] re-encodes to
    * the canonical raw bytes. Mirrors the reference's skip-on-error
    * `continue` branches: empty payloads and undecodable messages are
    * dropped. Produces exactly the plain [[feed]] row shape, so
    * everything downstream (dedup, validate, sinks) is source-agnostic.
    *
    * The dedup key is the hash-only decode ([[ParseTx.raw_tx_hash]]): the
    * same null set as the full parse, without sender recovery, which
    * [[validate]] runs once per deduped row. Each of `from_json`, the
    * re-encode UDF and the hash runs once per row inside a generator
    * ([[ParseTx.evalOnce]]): a plain `withColumn` + `filter` re-runs them
    * in the pushed-down Filter. */
  def decodeEnvelopes(msgs: DataFrame, msgCol: String = "msg"): DataFrame =
    msgs
      // the envelope JSON, parsed only for the sources that carry raw hex
      .withColumn("r", explode(array(
        when(col("source").isin(HexSources: _*),
          from_json(col(msgCol), envelopeSchema).getField("params").getField("result")))))
      .withColumn("raw_tx_hex", ParseTx.evalOnce(
        when(col("source") === "bloxroute", col("r.rawTx"))
          // eden carries `rlp` in its WS envelope; the chainbound gRPC
          // codec ([[ProtoWire.ChainboundProto]]) spools the same shape
          .when(col("source").isin("eden", "chainbound"), col("r.rlp"))
          .otherwise(rebuildRawTxUdf(col(msgCol))),
        x => x.isNotNull && length(x) > 0))
      .withColumn("hash", ParseTx.evalOnce(ParseTx.raw_tx_hash(col("raw_tx_hex"))))
      .select(col("timestamp_ms"), col("hash"), col("raw_tx_hex"), col("source"))
      .withColumn("ts", timestamp_millis(col("timestamp_ms")))

  /** Sources whose envelope carries the raw hex itself. */
  private val HexSources = Seq("bloxroute", "eden", "chainbound")

  /** S6: tx-object envelope → canonical raw hex (genuinely custom RLP
    * re-encode, so a UDF like the parse projection itself). */
  private val rebuildRawTxUdf =
    udf((msg: String) =>
      if (msg == null) None else graft.functions.EthTxEncode.fromRpcEnvelope(msg))
      .withName("rebuild_raw_tx")

  /** A5: 30-minute-TTL streaming dedup on the tx hash
    * (dropDuplicatesWithinWatermark ≈ knownTxs map + sweeper). */
  def dedup(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("hash")

  /** One feed row as a typed record (the custom-state path needs an
    * Encoder; the column order matches [[feed]]'s output). */
  final case class FeedRow(timestamp_ms: Long, hash: String,
      raw_tx_hex: String, source: String, ts: java.sql.Timestamp)

  /** A5 via CUSTOM per-key state: the reference collector's `knownTxs`
    * TTL map (collector/consts.go:10-11, tx_processor.go:201-232)
    * implemented literally with
    * `KeyValueGroupedDataset.flatMapGroupsWithState` — first arrival of a
    * hash emits and records state, later arrivals inside the 30-minute
    * TTL are suppressed, and the state entry EVICTS on event-time timeout
    * exactly like the map's cleanup loop. Keep rule within a micro-batch:
    * EARLIEST timestamp wins (the same deterministic rule as the batch
    * merge's A1 dedup), which strengthens [[dedup]]'s arrival-order keep —
    * the two paths emit identical rows whenever same-hash duplicates are
    * byte-identical re-sends (the collector case; CollectStreamSpec
    * asserts that parity), and differ only in WHICH payload represents a
    * hash when sources disagree in one batch. This is the extension point
    * for pipelines needing richer per-key state than suppression —
    * arrival counts, per-source first-seen, inclusion status — where the
    * built-in dropDuplicates cannot go. State is hash-partitioned and
    * per-key constant-size, so it scales exactly like the built-in's
    * state store. */
  def dedupStateful(stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import stream.sparkSession.implicits._
    val TtlMs = 30L * 60000L
    stream
      .select("timestamp_ms", "hash", "raw_tx_hex", "source", "ts")
      .withWatermark("ts", "30 minutes")
      .as[FeedRow]
      .groupByKey(_.hash)
      .flatMapGroupsWithState[Long, FeedRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[FeedRow], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists &&
              state.getCurrentWatermarkMs() < state.get + TtlMs) {
            // duplicate within the TTL: suppress — and RE-ARM the timeout,
            // because Spark cancels a key's timeout on every invocation;
            // the TTL stays anchored at the FIRST-seen time, never
            // refreshed by duplicates (tx_processor.go:241-245 checks,
            // :310-312 records only on first processing)
            state.setTimeoutTimestamp(state.get, "30 minutes")
            Iterator.empty
          } else {
            // no state, or an entry past its exact TTL that eviction has
            // not swept yet (timeouts only fire in a batch where the key
            // has no data): either way the hash is FRESH again — emit and
            // restart the TTL, like a re-arrival after the reference's
            // minute sweeper dropped the entry
            val first = rows.minBy(_.timestamp_ms)
            if (first.ts.getTime + TtlMs <= state.getCurrentWatermarkMs()) {
              // a late first row whose TTL already passed in event time:
              // emit it and keep no state (a timeout behind the
              // watermark is refused and would fail the query)
              state.remove()
            } else {
              state.update(first.timestamp_ms)
              state.setTimeoutTimestamp(first.ts.getTime, "30 minutes")
            }
            Iterator.single(first)
          }
      }
      .toDF()
  }

  /** F2 validation split: adds a `reason` column (null = valid). Runs the
    * full parse so signature/blob problems are caught like the collector's
    * inline validation (collector/tx_processor.go:355-416). */
  def validate(stream: DataFrame): DataFrame =
    stream
      // a generator keeps the parse out of the branches' pushed-down
      // `reason` filters, which would each re-run it
      .withColumn("p", explode(array(ParseTx.parse_raw_tx(col("raw_tx_hex")))))
      .withColumn("reason",
        when(col("p").isNull, "decode-error").otherwise(col("p.reason")))
      .drop("p")

  /** J4: collector inline inclusion check (collector/tx_processor.go:260-276)
    * as a stream-static broadcast join — txs already on-chain get reason
    * `tx-already-onchain` and flow to trash with the other F2 rejects. */
  def inclusionCheck(stream: DataFrame, blocks: DataFrame): DataFrame = {
    // forced broadcast is correct HERE (unlike the batch merge's blocks
    // side): the collector's dim is the recent-blocks hash set the
    // reference holds in its bounded in-memory known-tx cache, and a
    // non-broadcast stream-static join would re-shuffle the stream every
    // micro-batch
    val dim = broadcast(blocks.select(Sources.hexHash(col("hash")).as("hash"))
      .withColumn("onchain", lit(true)))
    stream.join(dim, Seq("hash"), "left")
      .withColumn("reason",
        coalesce(col("reason"), when(col("onchain"), "tx-already-onchain")))
      .drop("onchain")
  }

  /** A13/A14: per-minute tumbling counters per source — the SourceMetrics
    * map as a windowed aggregation (approximate uniques: the streaming
    * counter is monitoring, not archive truth). */
  def sourceMetrics(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("source"))
      .agg(count(lit(1)).as("n_all"),
        approx_count_distinct("hash").as("n_unique_approx"))
      .select(col("window.start").as("minute"), col("source"),
        col("n_all"), col("n_unique_approx"))

  /** Full wiring: valid txs → hourly-bucketed CSVs (S15 layout), trash →
    * its own dir, from one streaming query (see [[runWith]]). Returns the
    * query so callers control its lifecycle. */
  def run(spark: SparkSession, inDir: String, outDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): Seq[StreamingQuery] =
    runWith(feed(spark, inDir), outDir, trigger)

  /** Same collector wiring over raw wire envelopes (S6-S8 sources). */
  def runEnvelopes(spark: SparkSession, inDir: String, outDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): Seq[StreamingQuery] =
    runWith(decodeEnvelopes(envelopeFeed(spark, inDir)), outDir, trigger)

  /** Create + register the metrics surface for this session: counters
    * land in the returned [[CollectorMetrics]] as micro-batches commit.
    * Pass the configured source tags to [[runWith]]'s `observeSources` to
    * light up the per-stage observations. */
  def instrument(spark: SparkSession): CollectorMetrics = {
    val m = new CollectorMetrics
    spark.streams.addListener(new GraftMetricsListener(m))
    m
  }

  /** The collector pipeline over any stream in the feed row shape — the
    * source adapters above all normalize to it — as ONE streaming query
    * with one checkpoint at `$outDir/_chk/collector`, writing both sinks
    * from each micro-batch like the reference's single processing path
    * (collector/tx_processor.go:201-416): every envelope is read, decoded,
    * deduped and validated once, and one dedup state holds the TTL map.
    * The returned Seq holds that one query.
    *
    * Each batch runs as one Spark job that sends its `reason IS NULL`
    * rows to `transactions/date=…/hour=…/` and the rest to `trash/` (see
    * [[writeBatch]] for the publish contract). Nothing is persisted: the
    * batch's plan runs in exactly one action, so the plan's `observe()`
    * accumulators count each row once.
    *
    * With `observeSources` set, the plan carries the observations feeding
    * the reference's tx_received counters (see [[CollectorMetrics]]):
    * `received` pre-dedup, `first` and `trash` on the validated stream,
    * split by `reason`. `dedupWith` selects the suppression operator: the
    * built-in [[dedup]] (arrival-order keep) by default, or
    * [[dedupStateful]] when the deterministic earliest-timestamp keep must
    * match the batch merge's A1 rule — the day-chain composition
    * (DayChainSpec) runs the stateful path so collector output merged
    * downstream is row-identical to merging the raw day directly.
    *
    * An output dir that still holds the former per-sink checkpoints
    * (`_chk/transactions`, `_chk/trash`) and no `_chk/collector` is
    * refused: a fresh checkpoint would restart the feed at offset 0 and
    * re-emit everything already written there. */
  def runWith(stream: DataFrame, outDir: String,
      trigger: Trigger, observeSources: Option[Seq[String]] = None,
      dedupWith: DataFrame => DataFrame = dedup): Seq[StreamingQuery] =
    Seq(startCollector(stream, outDir, trigger, observeSources, dedupWith, _ => ()))

  /** [[runWith]]'s query; `beforeTrashPublish` runs between the two
    * publishes of each batch, where a test injects a crash. */
  private[graft] def startCollector(stream: DataFrame, outDir: String,
      trigger: Trigger, observeSources: Option[Seq[String]],
      dedupWith: DataFrame => DataFrame,
      beforeTrashPublish: Long => Unit): StreamingQuery = {
    graft.ops.LocalFs.install(stream.sparkSession)
    val fs = new Path(outDir).getFileSystem(stream.sparkSession.sparkContext.hadoopConfiguration)
    val chk = new Path(outDir, "_chk")
    val old = Seq("transactions", "trash").map(new Path(chk, _)).filter(fs.exists)
    if (old.nonEmpty && !fs.exists(new Path(chk, "collector")))
      throw new IllegalStateException(
        s"$outDir holds per-sink collector checkpoints (${old.mkString(", ")}) and no " +
          s"${new Path(chk, "collector")}: a new checkpoint would re-read the feed from " +
          "offset 0 and re-emit its rows; use a fresh output dir")

    def obs(df: DataFrame, stage: String, where: Column): DataFrame =
      observeSources.fold(df)(CollectorMetrics.observed(df, stage, _, where))
    val validated = validate(dedupWith(obs(stream, "received", lit(true))))
    obs(obs(validated, "first", col("reason").isNull), "trash", col("reason").isNotNull)
      .writeStream
      .foreachBatch(writeBatch(outDir, beforeTrashPublish) _)
      .option("checkpointLocation", new Path(chk, "collector").toString)
      .trigger(trigger)
      .start()
  }

  /** One validated micro-batch → both sinks in one Spark job, exactly
    * once per batch id. Without a file sink's `_spark_metadata` log, a
    * replayed batch must replace its own files, never add to them:
    *
    *  1. [[sinkLines]] projects each row to its destination dir and CSV
    *     line, and one pass writes them under `$outDir/_staging/<id>/`
    *     with [[DestinationTextOutputFormat]]: one `part-NNNNN.csv` per
    *     task and destination, and no sort (Spark readers skip
    *     `_`-prefixed names, and a replay first deletes a half-written
    *     stage);
    *  2. in each directory the staged batch writes, the final
    *     directory's `batch-<id>-part-NNNNN.csv` for every task number of
    *     the write is deleted by name (the final directory is never
    *     listed), and the staged files are moved in under those names —
    *     transactions first, then trash;
    *  3. the staging dir is deleted, and the query commits the batch.
    *
    * What is left: between a crash inside step 2 and the replay of that
    * batch, a reader can see a half-published batch (some of its hour
    * dirs, or its transactions without its trash). The replay republishes
    * the whole batch in place. Readers that glob the hour dirs never
    * consulted a file sink's log, so for them this is strictly stronger
    * than per-sink file sinks, which left an uncommitted batch's files in
    * place beside the replay's. */
  private def writeBatch(outDir: String, beforeTrashPublish: Long => Unit)(
      batch: DataFrame, id: Long): Unit = {
    val staged = new Path(outDir, s"_staging/$id")
    val fs = staged.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(staged, true)
    val lines = sinkLines(batch).queryExecution.toRdd
      .map(r => (r.getUTF8String(0).toString, new Text(r.getUTF8String(1).getBytes)))
    lines.saveAsHadoopFile(staged.toString, classOf[String], classOf[Text],
      classOf[DestinationTextOutputFormat])
    val parts = lines.getNumPartitions
    publish(fs, new Path(staged, "transactions"), new Path(outDir, "transactions"), id, parts)
    beforeTrashPublish(id)
    publish(fs, new Path(staged, "trash"), new Path(outDir, "trash"), id, parts)
    fs.delete(staged, true)
  }

  /** A validated batch as (`dest`, `line`): `dest` is
    * `transactions/date=…/hour=…` for a valid row and `trash` otherwise,
    * and `line` is that sink's columns as `DataFrame.write.csv` writes
    * them — (timestamp_ms, hash, raw_tx_hex, source) for a tx, (timestamp_ms,
    * hash, source, reason, notes = "") for trash. A null `ts` buckets
    * into the partition dir name Spark's partitioned writer gives it. */
  private[graft] def sinkLines(batch: DataFrame): DataFrame = {
    def part(name: String, fmt: String): Column = concat(lit(s"$name="),
      coalesce(date_format(col("ts"), fmt), lit("__HIVE_DEFAULT_PARTITION__")))
    val valid = col("reason").isNull
    batch.select(
      when(valid, concat_ws("/", lit("transactions"),
        part("date", "yyyy-MM-dd"), part("hour", "HH"))).otherwise(lit("trash")).as("dest"),
      when(valid, to_csv(struct(col("timestamp_ms"), col("hash"), col("raw_tx_hex"),
        col("source")))).otherwise(to_csv(struct(col("timestamp_ms"), col("hash"),
        col("source"), col("reason"), lit("").as("notes")))).as("line"))
  }

  /** Moves the staged files under `from` to the same relative dirs under
    * `to` as `batch-<id>-<name>`. In each dir the batch writes, it first
    * deletes by name the files this batch id can have, one per task of
    * the `parts` the write ran: no listing of the final dirs, whose
    * `trash/` grows with every batch. */
  private def publish(fs: FileSystem, from: Path, to: Path, id: Long, parts: Int): Unit = {
    val prefix = s"batch-$id-"
    val (dirs, files) = (if (fs.exists(from)) fs.listStatus(from) else Array.empty[FileStatus])
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .partition(_.isDirectory)
    if (files.nonEmpty) {
      fs.mkdirs(to)
      (0 until parts).foreach(k => fs.delete(new Path(to, prefix + f"part-$k%05d.csv"), false))
      files.foreach { f =>
        val dest = new Path(to, prefix + f.getPath.getName)
        if (!fs.rename(f.getPath, dest))
          throw new java.io.IOException(s"cannot move ${f.getPath} to $dest")
      }
    }
    dirs.foreach(d => publish(fs, d.getPath, new Path(to, d.getPath.getName), id, parts))
  }

  /** The staging writer: a (destination, line) pair is written as `line`
    * to `<destination>/part-NNNNN.csv`, one open file per destination a
    * task sees, in arrival order — no sort on the destination. */
  final class DestinationTextOutputFormat extends MultipleTextOutputFormat[String, Text] {
    override protected def generateFileNameForKeyValue(dest: String, line: Text,
        name: String): String = s"$dest/$name.csv"
    override protected def generateActualKey(dest: String, line: Text): String = null
  }
}
