package graft.jobs

import graft.functions.ParseTx
import graft.ops.{Analyze, Sources}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship batch job (SURVEY.md §3.1; cmd/merge/transactions.go:22-185)
  * as one declarative Spark DAG:
  *
  *   raw tx CSVs (validated by the reader, P11) ─ dedup earliest-wins on RAW rows (A1)
  *      ─ blacklist anti-join (J2) ─ parse_raw_tx (P1) ─ split valid/trash (F2)
  *      ─ sources-attach (J1/A2/O3) ─ inclusion enrich (J3/P13)
  *      ─ already-included filter (F1) ─ global sort (O1)
  *
  * Scale notes (100 TB design):
  *  - dedup + anti-join run on the cheap 3-column raw rows BEFORE the
  *    expensive parse UDF (§4.1 design rule — Catalyst cannot reorder
  *    through a non-deterministic-looking UDF, so the DAG orders it);
  *  - the two aggregations and the attach join all hash-partition on
  *    `hash`. Each aggregation is one `groupBy("hash")` with one exchange:
  *    A1 keeps [[Merge.earliestRow]] (`array_min(collect_list(struct))`, an
  *    ObjectHashAggregate with no sort stage), and A2 builds the sources
  *    list with [[Merge.sourcesByFirstSeen]], which folds the per-(hash,
  *    source) `min` into the same aggregate. Fewer operators mean fewer
  *    generated classes per run, and Spark's codegen cache (100 entries
  *    by default, each class keyed twice: driver and task classloader)
  *    then holds more of a repeated merge's classes;
  *  - blacklist and blocks broadcast only when Catalyst's size estimate
  *    fits the session threshold (blocks is ~25 % of input rows, not a
  *    bounded dim — see [[Merge.broadcastIfSmall]]), else the join
  *    degrades to a shuffle on the already-partitioned `hash` key;
  *  - the final sort is a range-partitioned total order (SortExec spills).
  */
object Merge {

  /** `rawTxs`, `sourcelog` and `blacklist` are taken as the [[Sources]]
    * readers return them: `hash` already passed [[Sources.hexHash]] (valid,
    * lowercase, never null) and `timestamp_ms` is never null. The merge does
    * not check them again, as the reference's merge trusts its loaders
    * (common/sourcelog.go:41-48). `blocks` has no reader and is folded
    * here. */
  final case class Inputs(
      rawTxs: DataFrame, // timestamp_ms LONG, hash STRING, raw_tx_hex STRING
      sourcelog: DataFrame, // timestamp_ms LONG, hash STRING, source STRING
      blacklist: Option[DataFrame] = None, // hash STRING
      blocks: Option[DataFrame] = None, // hash STRING, block_number LONG, block_ts_ms LONG
      // live-RPC alternative to `blocks` (reference's actual shape —
      // cmd/merge/inclusioncheck.go); used only when `blocks` is None
      inclusionRpc: Option[InclusionCheck.ResolverFactory] = None)

  /** `parsed` is the job's internal post-parse cache (both outputs read
    * it); exposed so owners can unpersist it with the rest of the DAG
    * instead of pinning ~1 KB/row of raw-tx hex until session end. */
  final case class Output(transactions: DataFrame, trash: DataFrame,
      parsed: DataFrame)

  /** [[graft.ops.Hints.broadcastIfSmall]] for the blacklist and blocks
    * sides: both derive from the scaling input (blocks is the included-tx
    * subset, ~25 % of all rows), so the hint is size-gated — and since
    * `hash` is already the partition key of the adjacent exchanges, the
    * shuffle fallback adds no new exchange for the big side. */
  private[jobs] def broadcastIfSmall(df: DataFrame): DataFrame =
    graft.ops.Hints.broadcastIfSmall(df)

  def run(spark: SparkSession, in: Inputs): Output = {
    graft.ops.LocalFs.install(spark)
    // ── dedup raw rows (A1) ───────────────────────────────────────────
    val deduped = in.rawTxs
      .groupBy("hash")
      .agg(earliestRow(col("timestamp_ms"), col("raw_tx_hex")).as("f"))
      .select(col("hash"), col("f.timestamp_ms").as("timestamp_ms"),
        col("f.raw_tx_hex").as("raw_tx_hex"))

    // ── blacklist anti-join before the parse (J2) ─────────────────────
    // no distinct on the blacklist: an anti-join only tests existence, and
    // a distinct there costs a shuffle of its own
    val fresh = in.blacklist match {
      case Some(bl) =>
        deduped.join(broadcastIfSmall(bl.select("hash")), Seq("hash"), "left_anti")
      case None => deduped
    }

    // ── parse (P1) + validation split (F2) ────────────────────────────
    // DISK_ONLY by measurement (VERDICT r10 #4, all at the default 8 g
    // fork heap, 10 M txs): MEMORY_AND_DISK 303 s — cached columnar
    // batches squeeze the unified pool and the sort/shuffle working set
    // thrashes; MEMORY_AND_DISK_SER OOMs — building serialized blocks
    // adds a peak-memory copy; DISK_ONLY 276 s, faster than r10's
    // 48 g-heap run (282 s). The parsed stage is O(input bytes) and read
    // at most twice (valid + trash branches), so per-executor memory is
    // better spent on the joins and the range sort than on caching it —
    // the reads come back through the OS page cache anyway.
    val parsed = ParseTx.project(fresh.drop("hash"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val valid = parsed.filter(col("reason").isNull).drop("reason")
    val trash = parsed.filter(col("reason").isNotNull)
      .select(col("timestamp").as("timestamp_ms"), col("hash"),
        lit("merge").as("source"), col("reason"), lit("").as("notes"))

    // ── sources attach (A2 dedup → J1 join, O3 order) ─────────────────
    val sourcesByHash = in.sourcelog
      .groupBy("hash")
      .agg(sourcesByFirstSeen(col("timestamp_ms"), col("source")).as("sources"))

    val withSources = valid
      .join(sourcesByHash, Seq("hash"), "left")
      .withColumn("sources", coalesce(col("sources"), array()))

    // ── inclusion enrichment (J3) + delay (P13) ───────────────────────
    val enriched = (in.blocks, in.inclusionRpc) match {
      case (Some(blocks), _) =>
        val dim = blocks.select(Sources.hexHash(col("hash")).as("hash"),
          col("block_number"), col("block_ts_ms"))
        withSources.join(broadcastIfSmall(dim), Seq("hash"), "left")
          .withColumn("includedAtBlockHeight", coalesce(col("block_number"), lit(0L)))
          .withColumn("includedBlockTimestamp", coalesce(col("block_ts_ms"), lit(0L)))
          .withColumn("inclusionDelayMs",
            when(col("block_ts_ms").isNotNull, col("block_ts_ms") - col("timestamp"))
              .otherwise(lit(0L)))
          .drop("block_number", "block_ts_ms")
      case (None, Some(factory)) =>
        InclusionCheck.enrich(withSources, factory)
      case (None, None) =>
        withSources
          .withColumn("includedAtBlockHeight", lit(0L))
          .withColumn("includedBlockTimestamp", lit(0L))
          .withColumn("inclusionDelayMs", lit(0L))
    }

    // ── F1 discard + O1 global sort, reference column order ───────────
    val out = enriched
      .filter(!Analyze.alreadyIncluded)
      .select("timestamp", "hash", "chainId", "txType", "from", "to", "value",
        "nonce", "gas", "gasPrice", "gasTipCap", "gasFeeCap", "dataSize",
        "data4Bytes", "sources", "includedAtBlockHeight",
        "includedBlockTimestamp", "inclusionDelayMs", "rawTx")
      .orderBy("timestamp")

    Output(out, trash, parsed)
  }

  /** A1 earliest-wins: the least `(ts, payload)` struct of the group, the
    * row `min(struct(ts, payload))` picks (a timestamp tie goes to the
    * smaller payload). `min` over a struct with a string field has no
    * mutable aggregation buffer and plans a SortAggregate with a sort on
    * each side of its exchange; `array_min(collect_list(..))` plans an
    * ObjectHashAggregate with no sort. */
  private[graft] def earliestRow(ts: Column, payload: Column): Column =
    array_min(collect_list(struct(ts, payload)))

  /** A2 + O3 in one aggregate: a group's distinct sources, each at its
    * earliest timestamp, ordered by (that timestamp, source). Sorting every
    * (ts, source) pair and keeping each source's first occurrence gives
    * the order of a per-(hash, source) `min(ts)` followed by a sorted
    * `collect_list`, without the second aggregate. */
  private[graft] def sourcesByFirstSeen(ts: Column, source: Column): Column =
    array_distinct(transform(
      array_sort(collect_list(struct(ts.as("ts"), source.as("source")))),
      x => x.getField("source")))

  /** A2 standalone: sourcelog merge (cmd/merge/sourcelog.go:64-108 +
    * common/sourcelog.go:12-65): normalize source tags, keep the earliest
    * timestamp per (hash, source). One hash-partitioned aggregate with
    * map-side partial min — no other shuffle at any scale. */
  def mergeSourcelog(sourcelog: DataFrame): DataFrame =
    sourcelog
      .withColumn("source", Sources.normalizeSource(col("source")))
      .groupBy("hash", "source")
      .agg(min("timestamp_ms").as("timestamp_ms"))
      .select("timestamp_ms", "hash", "source")

  /** A3 standalone: trash merge (cmd/merge/trash.go:64-108 +
    * common/trashfile.go:66-103): earliest entry per (hash, source) wins,
    * carrying its reason/notes (the least struct, the row A1 keeps). */
  def mergeTrash(trash: DataFrame): DataFrame =
    trash
      .withColumn("source", Sources.normalizeSource(col("source")))
      .withColumn("notes", coalesce(col("notes"), lit("")))
      .groupBy("hash", "source")
      .agg(min(struct(col("timestamp_ms"), col("reason"), col("notes"))).as("f"))
      .select(col("f.timestamp_ms").as("timestamp_ms"), col("hash"),
        col("source"), col("f.reason").as("reason"), col("f.notes").as("notes"))
}
