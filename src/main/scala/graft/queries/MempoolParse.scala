package graft.queries

import graft.QueryDef
import graft.functions.{ParseTx, TxFixtures}
import graft.jobs.Merge
import graft.ops.Analyze
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parse-UDF and end-to-end merge-job queries over deterministic synthetic
  * mempool data. keccak/secp256k1 are not SQL, so DuckDB cannot recompute
  * the PARSE stage — q_parse_raw_tx and q_envelope_decode carry a frozen
  * golden-result oracle ([[QueryDef.golden]]): their own sf0.01 output,
  * generated once by [[graft.GoldenGen]] after the parse path was validated
  * against the reference golden vectors (EthTxSpec / PropertySpec), checked
  * into /root/repo/golden/, and hash-compared by the driver like any SQL
  * oracle. GoldenParitySpec gates drift at test time.
  *
  * Everything DOWNSTREAM of parse (A1 dedup, J2 blacklist anti-join, F2
  * split, J1/A2/O3 sources attach, J3/P13 enrichment, F1 discard) is
  * re-derived independently in DuckDB SQL over the frozen parse output plus
  * two frozen fixture INPUT tables (in_sourcelog, in_blocks — DuckDB cannot
  * regenerate them because their hashes are keccak outputs), so the
  * merge/trash/analyze oracles differential-test the pipeline rather than
  * pass its own output through (ADVICE r9). The frozen-at-generation-time
  * facts this relies on, asserted by GoldenParitySpec: duplicate fixture
  * hashes differ ONLY in timestamp (so earliest-wins ≡ rank-by-timestamp),
  * and the parse `timestamp` column IS the raw row's timestamp_ms.
  */
object MempoolParse {

  /** Rows scale with the sf dir so bench tracks parse throughput. */
  def nFor(dir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)
    math.max(2000L, math.min(200000L, (sf * 1000000L).toLong))
  }

  def rawTxs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(nFor(dir)).as[Long].mapPartitions(_.map(TxFixtures.rawRow))
      .toDF("timestamp_ms", "hash", "raw_tx_hex")
  }

  def sourcelog(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(nFor(dir)).as[Long].mapPartitions(_.flatMap(TxFixtures.sourcelogRows))
      .toDF("timestamp_ms", "hash", "source")
  }

  /** Synthetic blocks dim: ~1/4 of txs included; some with negative delay
    * beyond the −12 s threshold to exercise the F1 discard. */
  def blocks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(nFor(dir)).as[Long].filter((i: Long) => i % 4 == 0).mapPartitions(_.map { i: Long =>
      val (ts, hash, _) = TxFixtures.rawRow(i)
      val delta = if (i % 12 == 4) -20000L else 4000L + (i % 2000)
      (hash, 18000000L + i / 100, ts + delta)
    }).toDF("hash", "block_number", "block_ts_ms")
  }

  /** The three synthetic inputs, cached once per (session, dir). Fixture
    * GENERATION (per-row RLP + keccak + secp SIGNING) is test-harness
    * input synthesis, not engine work — in production these rows arrive
    * as CSV/parquet on disk. Bench materializes them via [[warmInputs]]
    * BEFORE its timed windows so ~200k EC operations of synthesis stop
    * being billed (GC-noisily — VERDICT r9 item 3: 3× run-to-run swing)
    * to q_mempool_merge. */
  private val inputsMemo = scala.collection.concurrent.TrieMap
    .empty[(Int, String), (DataFrame, DataFrame, DataFrame)]

  private def inputs(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    SessionCaches.memoize(inputsMemo, (System.identityHashCode(s), dir), {
      SessionCaches.onRelease(s, s"mempool.inputs:$dir")(() =>
        releaseInputs(s, dir))
      (rawTxs(s, dir).cache(), sourcelog(s, dir).cache(), blocks(s, dir).cache())
    })

  /** Force-materialize the cached fixture inputs (Bench setup, untimed). */
  def warmInputs(s: SparkSession, dir: String): Unit = {
    val (raws, slog, blks) = inputs(s, dir)
    raws.count(); slog.count(); blks.count()
  }

  def releaseInputs(s: SparkSession, dir: String): Unit =
    inputsMemo.remove((System.identityHashCode(s), dir)).foreach {
      case (r, sl, b) => r.unpersist(false); sl.unpersist(false); b.unpersist(false)
    }

  /** One merge DAG per (session, dir), shared by the three queries that
    * read it — exactly the reference's shape: a single merge job emits the
    * archive, the trash side-output, and the analyzer input together
    * (cmd/merge/transactions.go). Without this, each query re-ran the
    * full 100k-row parse. */
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(Int, String), Merge.Output]

  /** Run `f` (which must EXECUTE the merge DAG's jobs) under a 64k AQE
    * coalescing floor, session conf restored after — the STAGE-LOCAL form
    * of the r21 session-wide experiment (VERDICT r21 item 5 / guide §2.2:
    * partition sizing is per-stage, not per-session). AQE sizes
    * post-shuffle partitions by shuffle BYTES, and the A1 dedup exchange's
    * output is small enough at bench volume that the default 1 MB floor
    * coalesces the CPU-BOUND secp-recover parse stage to half the cores
    * (measured r21: 16 → 32 partitions, 1.6 → 1.2 s warm under the
    * floor); applied session-wide it cost ~10 % via tiny tasks on the
    * ~15 small shuffle-heavy text/dedup queries, so it is scoped to the
    * merge DAG's materializing actions only. AQE reads the conf at
    * EXECUTION time, which is why the wrapper surrounds the action, not
    * the plan construction. */
  private def withMergeAqeFloor[A](s: SparkSession)(f: => A): A =
    graft.ops.SessionConf.withConf(s,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")(f)

  def mergeOutput(s: SparkSession, dir: String): Merge.Output =
    SessionCaches.memoize(memo, (System.identityHashCode(s), dir), {
      SessionCaches.onRelease(s, s"mempool.merge:$dir")(() =>
        releaseMerge(s, dir))
      val (raws, slog, blks) = inputs(s, dir)
      val out = Merge.run(s, Merge.Inputs(
        rawTxs = raws,
        sourcelog = slog,
        blacklist = Some(raws.filter(col("timestamp_ms") % 31 === 0).select("hash")),
        blocks = Some(blks)))
      // the archive side feeds all three reader queries — materialize the
      // joined/sorted result once, not just the parse stage inside Merge.
      // Materialized EAGERLY here (values unchanged — the DAG is
      // deterministic) so the one real execution of the DAG runs under
      // the scoped AQE floor; callers that timed their own first count
      // (Bench's merge_sec) wrap this builder call, so attribution is
      // unchanged.
      val tx = out.transactions.cache()
      withMergeAqeFloor(s) { tx.count() }
      out.copy(transactions = tx)
    })

  /** Unpersist + evict the shared merge DAG and its cached fixture inputs
    * — Bench calls this after the last q_mempool_* reader; the session-end
    * sweep covers everything else. Idempotent. */
  def releaseMerge(s: SparkSession, dir: String): Unit = {
    memo.remove((System.identityHashCode(s), dir)).foreach { out =>
      out.transactions.unpersist(false)
      out.parsed.unpersist(false)
    }
    releaseInputs(s, dir)
  }

  /** Same-SHAPE warm-up merge over DISJOINT fixture rows ([n, 2n)):
    * identical row counts, widths, and cached-input plan nodes → AQE makes
    * the same join/coalesce choices and janino compiles the same generated
    * stages as the real merge at this dir's scale — but none of the real
    * data, caches, or memo entries are touched. Bench materializes this
    * before its timed windows so the real `mergeOutput` materialization
    * measures engine work, not one-time codegen/JIT (an sf0.01-shaped
    * warm-up was not enough: at 10k rows AQE picks different plans and
    * ~9 s of compile cost was still billed to q_mempool_merge). */
  def warmMergeShape(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val n = nFor(dir)
    val raws = s.range(n, 2 * n).as[Long].mapPartitions(_.map(TxFixtures.rawRow))
      .toDF("timestamp_ms", "hash", "raw_tx_hex").cache()
    val slog = s.range(n, 2 * n).as[Long].mapPartitions(_.flatMap(TxFixtures.sourcelogRows))
      .toDF("timestamp_ms", "hash", "source").cache()
    val blks = s.range(n, 2 * n).as[Long].filter((i: Long) => i % 4 == 0)
      .mapPartitions(_.map { i: Long =>
        val (ts, hash, _) = TxFixtures.rawRow(i)
        val delta = if (i % 12 == 4) -20000L else 4000L + (i % 2000)
        (hash, 18000000L + i / 100, ts + delta)
      }).toDF("hash", "block_number", "block_ts_ms").cache()
    val out = Merge.run(s, Merge.Inputs(
      rawTxs = raws,
      sourcelog = slog,
      blacklist = Some(raws.filter(col("timestamp_ms") % 31 === 0).select("hash")),
      blocks = Some(blks)))
    val warmTx = out.transactions.cache()
    // warm under the same scoped AQE floor the real merge runs under, so
    // the compiled stages and AQE choices match the real plan exactly
    try { withMergeAqeFloor(s) { warmTx.count() }; out.trash.count() }
    finally {
      warmTx.unpersist(false); out.parsed.unpersist(false)
      raws.unpersist(false); slog.unpersist(false); blks.unpersist(false)
    }
  }

  private def gp(name: String): String = s"${QueryDef.goldenDir}/$name.parquet"

  /** Shared CTE prelude for the SQL-derived merge-family oracles: re-derives
    * the pipeline stages downstream of parse from the frozen tables.
    *  - `deduped`: A1 earliest-wins over the parse golden (duplicate fixture
    *    hashes carry identical payloads, distinct timestamps — so
    *    min-struct ≡ rank by timestamp);
    *  - `fresh`: J2 blacklist anti-join (the blacklist is every hash ANY of
    *    whose raw rows has timestamp_ms % 31 == 0, derived pre-dedup);
    *  - `srcs`: A2 per-(hash,source) earliest + O3 (first_ts, source)
    *    attach order, space-joined like the Spark side's concat_ws;
    *  - `merged`: J3/P13 enrichment off the blocks dim + F1 discard,
    *    valid (reason IS NULL) rows only. */
  private def mergeCtes: String = s"""
    |WITH deduped AS (
    |  SELECT * FROM (
    |    SELECT *, row_number() OVER (PARTITION BY hash ORDER BY timestamp) AS rn
    |    FROM read_parquet('${gp("q_parse_raw_tx")}')
    |  ) WHERE rn = 1
    |),
    |fresh AS (
    |  SELECT * FROM deduped WHERE hash NOT IN (
    |    SELECT hash FROM read_parquet('${gp("q_parse_raw_tx")}')
    |    WHERE timestamp % 31 = 0)
    |),
    |srcs AS (
    |  SELECT hash, string_agg(source, ' ' ORDER BY first_ts, source) AS sources
    |  FROM (
    |    SELECT lower(hash) AS hash, source, min(timestamp_ms) AS first_ts
    |    FROM read_parquet('${gp("in_sourcelog")}')
    |    WHERE regexp_full_match(lower(hash), '0x[0-9a-f]{64}')
    |    GROUP BY lower(hash), source)
    |  GROUP BY hash
    |),
    |blk AS (
    |  SELECT lower(hash) AS hash, block_number, block_ts_ms
    |  FROM read_parquet('${gp("in_blocks")}')
    |),
    |merged AS (
    |  SELECT f.timestamp, f.hash, f.chainId, f.txType, f."from", f."to",
    |         f.value, f.nonce, f.gas, f.gasPrice, f.gasTipCap, f.gasFeeCap,
    |         f.dataSize, f.data4Bytes,
    |         coalesce(s.sources, '') AS sources,
    |         coalesce(b.block_number, 0) AS includedAtBlockHeight,
    |         coalesce(b.block_ts_ms, 0) AS includedBlockTimestamp,
    |         CASE WHEN b.block_ts_ms IS NOT NULL
    |              THEN b.block_ts_ms - f.timestamp ELSE 0 END AS inclusionDelayMs
    |  FROM fresh f
    |  LEFT JOIN srcs s ON f.hash = s.hash
    |  LEFT JOIN blk b ON f.hash = b.hash
    |  WHERE f.reason IS NULL
    |    AND NOT (coalesce(b.block_number, 0) > 0
    |      AND (CASE WHEN b.block_ts_ms IS NOT NULL
    |           THEN b.block_ts_ms - f.timestamp ELSE 0 END) <= -12000)
    |)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // P1/P2/P3: the core RLP+keccak+secp256k1 projection.
    "q_parse_raw_tx" -> QueryDef.golden(
      "P1: parse_raw_tx UDF — RLP decode, keccak hash, sender recovery",
      "q_parse_raw_tx") { (s, dir) =>
      // reads the CACHED fixture input so bench measures parse throughput,
      // not per-row fixture signing (input synthesis)
      ParseTx.project(inputs(s, dir)._1)
        .drop("rawTx") // binary column: keep the dump light
    },

    // §3.1 flagship end-to-end merge DAG on synthetic mempool data.
    // The dump stringifies `sources` (space-joined, the reference's own CSV
    // layout — common/txsummary.go:104) so the driver's pandas rows-check can
    // sort it; ArrayType columns are unhashable in the comparer.
    "q_mempool_merge" -> QueryDef.sql(
      "§3.1 merge job end-to-end: dedup, anti-join, parse, attach, enrich, F1, sort",
      s"""$mergeCtes
         |SELECT timestamp, hash, chainId, txType, "from", "to", value, nonce,
         |       gas, gasPrice, gasTipCap, gasFeeCap, dataSize, data4Bytes,
         |       sources, includedAtBlockHeight, includedBlockTimestamp,
         |       inclusionDelayMs
         |FROM merged""".stripMargin) { (s, dir) =>
      mergeOutput(s, dir).transactions.drop("rawTx")
        .withColumn("sources", concat_ws(" ", col("sources")))
    },

    // F2 trash side-output of the same run.
    "q_mempool_trash" -> QueryDef.sql(
      "F2: validation-reject side output (trash) of the merge job",
      s"""$mergeCtes
         |SELECT timestamp AS timestamp_ms, hash, 'merge' AS source, reason,
         |       '' AS notes
         |FROM fresh WHERE reason IS NOT NULL""".stripMargin) { (s, dir) =>
      mergeOutput(s, dir).trash
    },

    // §3.2 analyzer per-source stats on the merged archive.
    "q_mempool_analyze" -> QueryDef.sql(
      "§3.2 analyzer: per-source landed/exclusive aggregate pack",
      s"""$mergeCtes,
         |exploded AS (
         |  SELECT includedAtBlockHeight <> 0 AS included,
         |         len(string_split(sources, ' ')) AS nsrc,
         |         unnest(string_split(sources, ' ')) AS source
         |  FROM merged WHERE sources <> ''
         |)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN included THEN 1 ELSE 0 END) AS BIGINT) AS on_chain,
         |  CAST(sum(CASE WHEN NOT included THEN 1 ELSE 0 END) AS BIGINT) AS not_on_chain,
         |  CAST(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exclusive
         |FROM exploded GROUP BY source""".stripMargin) { (s, dir) =>
      Analyze.perSourceStats(mergeOutput(s, dir).transactions)
    },

    // S6-S8 wire-envelope decode as a batch query (the same columnar
    // transforms the streaming collector runs): bloXroute raw-hex, Eden
    // raw-hex, and geth/alchemy tx-object envelopes over the fixture txs,
    // decoded back to feed rows. The dump hash-checks that every envelope
    // shape reproduces its tx hash.
    "q_envelope_decode" -> QueryDef.golden(
      "S6-S8: wire-envelope decode (raw-hex paths + tx-object RLP re-encode)",
      "q_envelope_decode") { (s, dir) =>
      import s.implicits._
      val n = math.min(nFor(dir), 20000L)
      val envelopes = s.range(n).as[Long].mapPartitions(_.map { i =>
        val (ts, _, raw) = TxFixtures.rawRow(i)
        i % 3 match {
          case 0 => (ts, "bloxroute", s"""{"params":{"result":{"rawTx":"$raw"}}}""")
          case 1 => (ts, "eden", s"""{"params":{"result":{"rlp":"$raw"}}}""")
          case _ => (ts, "local", TxFixtures.rpcEnvelopeJson(raw))
        }
      }).toDF("timestamp_ms", "source", "msg")
      graft.streaming.Collect.decodeEnvelopes(envelopes)
        .drop("ts")
        .orderBy("timestamp_ms", "source")
    }
  )
}
