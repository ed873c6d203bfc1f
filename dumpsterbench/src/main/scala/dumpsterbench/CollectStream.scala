package dumpsterbench

import java.nio.file.Path
import graft.streaming.{Collect, CollectorMetrics}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** `collect_stream`: each round drains the same seeded backlog of push-feed
  * envelope files through the collector — `Collect.decodeEnvelopes` over
  * the file feed into `Collect.runWith` with `Trigger.AvailableNow`, the
  * per-source observations and the stateful dedup — into fresh output and
  * checkpoint directories. A fixed backlog, not a paced feed: the timed
  * unit is the micro-batch, whose cost is mostly per-batch overhead (state
  * store, offset and commit logs, file listing, the repeated parse).
  */
final class CollectStream(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
    nTx: Int, files: Int) extends Workload(spark, tracer, work, seed) {

  private val feedDir = work.resolve("feed")
  private var expect: Gen.FeedExpect = _
  private lazy val metrics: CollectorMetrics = {
    val m = Collect.instrument(spark)
    tracer.watchStreams()
    m
  }
  /** Each round's two streaming run ids, and its collector counters. */
  private val roundRuns = scala.collection.mutable.Map[Int, Seq[java.util.UUID]]()
  private val roundCounts = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
  def unitName = "micro-batch"
  def nominalRoundS = 6.0

  def setup(): Unit = {
    deleteTree(feedDir)
    expect = Gen.feed(feedDir, seed, nTx, files)
    metrics // registers the collector's listener, then the benchmark's
  }

  private def counter(base: String): Long = metrics.get(base)

  def round(i: Int): RoundResult = {
    val out = work.resolve(s"out-$i")
    val before = Seq(CollectorMetrics.TxReceived, CollectorMetrics.TxReceivedFirst,
      CollectorMetrics.TxReceivedTrash).map(counter)
    val (queries, ns, cpu) = timed(tracer.span("streaming.collect") {
      val qs = Collect.runWith(Collect.decodeEnvelopes(Collect.envelopeFeed(spark, feedDir.toString)),
        out.toString, Trigger.AvailableNow(), Some(Gen.FeedSources), Collect.dedupStateful)
      qs.foreach(_.awaitTermination())
      qs
    })
    val progress = queries.flatMap(_.recentProgress).toSeq
    queries.foreach(q => tracer.awaitProgress(q.runId, q.recentProgress.length))
    val Seq(received, first, trash) = Seq(CollectorMetrics.TxReceived,
      CollectorMetrics.TxReceivedFirst, CollectorMetrics.TxReceivedTrash).map(counter)
      .zip(before).map { case (a, b) => a - b }
    roundRuns(i) = queries.map(_.runId)
    roundCounts(i) = (received, first, trash)

    val e = expect
    def csvRows(d: String) = spark.read.csv(s"$out/$d").count()
    val failed = Seq(
      check("received", received == e.received, s"$received != ${e.received}"),
      check("first", first == e.first, s"$first != ${e.first}"),
      check("trash", trash == e.trash, s"$trash != ${e.trash}"),
      check("transactions csv rows", csvRows("transactions") == e.first),
      check("trash csv rows", csvRows("trash") == e.trash),
      check("queries ended cleanly", queries.forall(_.exception.isEmpty))
    ).sum
    val outBytes = dataBytes(out)
    deleteTree(out)
    val left = leftovers(out)
    RoundResult(progress.map(_.batchDuration.toDouble), e.lines, ns, cpu, 1,
      math.min(1, failed + check("round hygiene", left.isEmpty, left.mkString(", "))), outBytes)
  }

  def layerMetrics(rounds: Seq[Int]): Map[String, Double] = {
    // progress as the StreamingQueryListener delivered it, per round
    def progressOf(r: Int): Seq[StreamingQueryProgress] =
      roundRuns(r).flatMap(id => tracer.progress.get(id).map(_.toSeq).getOrElse(Seq.empty))
    val ps = rounds.flatMap(progressOf)
    def dur(key: String) = median(ps.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      median(ps.filter(_.stateOperators.nonEmpty).map(p => p.stateOperators.map(f).sum.toDouble))
    def counts(f: ((Long, Long, Long)) => Long) = median(rounds.map(r => f(roundCounts(r)).toDouble))
    Map(
      "streaming.collect.batches" -> median(rounds.map(r => progressOf(r).size.toDouble)),
      "streaming.collect.input_rows_per_batch" -> median(ps.map(_.numInputRows.toDouble)),
      "streaming.collect.add_batch_ms" -> dur("addBatch"),
      "streaming.collect.wal_commit_ms" -> dur("walCommit"),
      "streaming.collect.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.collect.query_planning_ms" -> dur("queryPlanning"),
      "streaming.collect.latest_offset_ms" -> dur("latestOffset"),
      "streaming.collect.state_rows_total" -> state(_.numRowsTotal),
      "streaming.collect.state_memory_bytes" -> state(_.memoryUsedBytes),
      "streaming.collect.received" -> counts(_._1),
      "streaming.collect.first" -> counts(_._2),
      "streaming.collect.trash" -> counts(_._3),
      "streaming.collect.decode_keep_ratio" -> counts(_._1) / expect.lines
    ) ++ sourceMetrics(rounds)
  }
}
