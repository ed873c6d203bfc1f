package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** The collector's observability surface (metrics/metrics.go:10-29) —
  * counter names match the reference exactly, including the
  * per-source label form `…{source="x"}`.
  *
  * Spark-first design: instead of incrementing a process-global counter
  * per row (the reference's VictoriaMetrics calls), each pipeline stage
  * carries a Spark `observe()` node — exact per-micro-batch aggregates
  * computed INSIDE the existing query plan, no extra pass, no extra
  * streaming query, nothing row-at-a-time — and a
  * [[GraftMetricsListener]] folds the per-batch observations into the
  * counters as progress events arrive on the driver.
  */
final class CollectorMetrics {
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  def add(name: String, n: Long): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(n)

  def get(name: String): Long =
    Option(counters.get(name)).map(_.get()).getOrElse(0L)

  def snapshot: Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.get() }.toMap

  /** Prometheus text exposition format (sorted for stable scrapes). */
  def render: String =
    snapshot.toSeq.sortBy(_._1).map { case (k, v) => s"$k $v" }.mkString("\n")
}

object CollectorMetrics {
  // metrics/metrics.go:10-12 + 22-25 label forms
  val TxReceived = "mempool_dumpster_tx_received_total"
  val TxReceivedFirst = "mempool_dumpster_tx_received_first"
  val TxReceivedTrash = "mempool_dumpster_tx_received_trash"
  /** Rows the collector's dedup dropped behind its watermark: they reach
    * neither sink and no `received_*` split. The reference has no such
    * drop (its TTL keys on receipt), so the counter is this engine's. */
  val TxDroppedLate = "mempool_dumpster_tx_dropped_late_total"
  // metrics/metrics.go:14-18 sink counters
  val ChErrors = "mempool_dumpster_clickhouse_errors_total"
  val ChErrorsBatchSave = "mempool_dumpster_clickhouse_errors_batch_save_total"
  val ChBatchSaveRetries = "mempool_dumpster_clickhouse_batch_save_retries_total"
  val ChBatchSaveGiveup = "mempool_dumpster_clickhouse_batch_save_giveup_total"
  val ChBatchSaveSuccess = "mempool_dumpster_clickhouse_batch_save_success_total"

  def labeled(base: String, source: String): String =
    s"""$base{source="$source"}"""

  /** Observation-name prefix → reference counter it feeds. */
  private[streaming] val stageMetric = Map(
    "graft_received" -> TxReceived, // tx_processor.go:207
    "graft_first" -> TxReceivedFirst, // tx_processor.go:291
    "graft_trash" -> TxReceivedTrash) // tx_processor.go:251,271

  /** The state operators [[Collect.dedup]] and [[Collect.dedupStateful]]
    * plan, by `StateOperatorProgress.operatorName`. */
  private[streaming] val dedupOperators =
    Set("dedupeWithinWatermark", "flatMapGroupsWithState")

  /** Attach a metrics observation to a stage: one exact count of the rows
    * matching `where` plus a count per configured source tag (the
    * collector's source set is its configured connections, so it is known
    * per run) and an `other` catch-all. Pure plan decoration — the stream
    * is returned unchanged, so stages that split one stream (`first`,
    * `trash`) stack on it with complementary predicates. */
  def observed(df: DataFrame, stage: String, sources: Seq[String],
      where: Column): DataFrame = {
    val aggs =
      (count_if(where).as("total") +:
        sources.map(s => count_if(where && col("source") === s).as(s))) :+
        count_if(where && !col("source").isin(sources: _*)).as("other")
    df.observe(s"graft_$stage", aggs.head, aggs.tail: _*)
  }
}

/** Folds per-batch `observe()` rows into [[CollectorMetrics]] counters,
  * and the dedup operators' `numRowsDroppedByWatermark` into
  * [[CollectorMetrics.TxDroppedLate]]. Register once per session:
  * `spark.streams.addListener(…)`. Events are delivered asynchronously
  * after each micro-batch commits. */
final class GraftMetricsListener(metrics: CollectorMetrics)
    extends StreamingQueryListener {

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val late = e.progress.stateOperators
      .filter(op => CollectorMetrics.dedupOperators(op.operatorName))
      .map(_.numRowsDroppedByWatermark).sum
    if (late != 0L) metrics.add(CollectorMetrics.TxDroppedLate, late)
    e.progress.observedMetrics.asScala.foreach { case (name, row) =>
      CollectorMetrics.stageMetric.get(name).foreach { base =>
        val fields = row.schema.fieldNames
        var i = 0
        while (i < fields.length) {
          if (!row.isNullAt(i)) {
            val n = row.getLong(i)
            if (n != 0L) {
              if (fields(i) == "total") metrics.add(base, n)
              else metrics.add(CollectorMetrics.labeled(base, fields(i)), n)
            }
          }
          i += 1
        }
      }
    }
  }
}
