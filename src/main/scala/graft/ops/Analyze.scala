package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The analyzer aggregate pack (SURVEY.md §3.2; common/analyzer.go:53-213):
  * A6-A12 computed as ONE Spark aggregation over the transactions, plus a
  * driver-side text renderer in the reference's summary layout. Only the
  * aggregate's few dozen rows are collected — never the data.
  */
object Analyze {

  final case class TypeStat(txType: Long, n: Long, bytes: Long)
  final case class SourceStat(source: String, n: Long, onChain: Long, notOnChain: Long,
      exclusive: Long, exclusiveIncluded: Long)
  final case class Summary(
      nUnique: Long, nIncluded: Long, nNotIncluded: Long,
      tsFirstMs: Long, tsLastMs: Long,
      perType: Seq[TypeStat], perSource: Seq[SourceStat])

  val TxAlreadyIncludedThresholdMs = 12000L

  /** F1 (common/analyzer.go:68-73, common/consts.go:23-24): a tx
    * included on-chain at least [[TxAlreadyIncludedThresholdMs]] before its
    * first receipt was already included when collected. The merge discards
    * such rows and the analyzer skips them. */
  def alreadyIncluded: Column = col("includedAtBlockHeight") > 0 &&
    col("inclusionDelayMs") <= -TxAlreadyIncludedThresholdMs

  /** txs: the merged transactions DataFrame (reference parquet schema).
    * Applies the F1 filter itself, like NewAnalyzer2 (common/analyzer.go:68-73).
    *
    * One `groupBy(txType, source)` over `posexplode_outer(sources)`: each
    * tx yields one row per source (one row with a null `pos` when its
    * sources are null or empty). The tx-level stats (A6-A8, A12) read only
    * a tx's first row, the per-source stats (A9-A11) only rows with a
    * position, so the groups number at most types × sources. The driver
    * folds them into the summary, in Spark's ascending order with nulls
    * first. Two Spark jobs (the shuffle map stage and the result), no
    * cache. */
  def summarize(txsIn: DataFrame): Summary = {
    // metadata-only archives (no rawTx) still analyze; byte stats become 0
    val rawBytes =
      if (txsIn.columns.contains("rawTx")) length(col("rawTx")).cast("long")
      else lit(0L)
    val included = col("includedAtBlockHeight") =!= 0
    val exclusive = size(col("sources")) === 1
    def flag(c: Column) = when(c, 1L).otherwise(0L)
    val first = col("pos").isNull || col("pos") === 0
    val listed = col("pos").isNotNull
    val groups = txsIn
      .filter(!alreadyIncluded)
      .select(col("txType"), rawBytes.as("rawBytes"), col("timestamp").cast("long").as("ts"),
        flag(included).as("inc"), flag(!included).as("notInc"),
        flag(exclusive).as("excl"), flag(exclusive && included).as("exclInc"),
        posexplode_outer(col("sources")).as(Seq("pos", "source")))
      .groupBy("txType", "source")
      .agg(
        // A6, A7, A8, A12: each tx once, on its first row
        count(when(first, 1)).as("n"), sum(when(first, col("inc"))).as("nInc"),
        sum(when(first, col("rawBytes"))).as("bytes"),
        min(when(first, col("ts"))).as("tsFirst"), max(when(first, col("ts"))).as("tsLast"),
        // A9-A11: per source: totals, landed split, exclusive orderflow
        count(when(listed, 1)).as("srcN"), sum(when(listed, col("inc"))).as("srcInc"),
        sum(when(listed, col("notInc"))).as("srcNotInc"),
        sum(when(listed, col("excl"))).as("srcExcl"),
        sum(when(listed, col("exclInc"))).as("srcExclInc"))
      .collect().toSeq

    def opt(r: Row, agg: String) = Option(r.getAs[java.lang.Long](agg)).map(_.longValue)
    def long(r: Row, agg: String) = opt(r, agg).getOrElse(0L)
    def total(rs: Seq[Row], agg: String) = rs.map(long(_, agg)).sum
    def bound(agg: String)(pick: (Long, Long) => Long) =
      groups.flatMap(opt(_, agg)).reduceOption(pick).getOrElse(0L)
    val n = total(groups, "n")
    val inc = total(groups, "nInc")

    val perType = groups.filter(long(_, "n") > 0).groupBy(r => r.getLong(r.fieldIndex("txType")))
      .toSeq.sortBy(_._1)
      .map { case (t, rs) => TypeStat(t, total(rs, "n"), total(rs, "bytes")) }

    val byUtf8: Ordering[String] = Ordering.by(UTF8String.fromString)
    val perSource = groups.filter(long(_, "srcN") > 0).groupBy(r => Option(r.getAs[String]("source")))
      .toSeq.sortBy(_._1)(Ordering.Option(byUtf8))
      .map { case (src, rs) =>
        SourceStat(src.orNull, total(rs, "srcN"), total(rs, "srcInc"), total(rs, "srcNotInc"),
          total(rs, "srcExcl"), total(rs, "srcExclInc"))
      }

    Summary(n, inc, n - inc, bound("tsFirst")(math.min), bound("tsLast")(math.max), perType, perSource)
  }

  /** Per-source stats as a DataFrame (for queries / sinks) — same
    * aggregation, fully distributed. */
  def perSourceStats(txs: DataFrame): DataFrame =
    txs
      .filter(!alreadyIncluded)
      .select((col("includedAtBlockHeight") =!= 0).as("included"),
        size(col("sources")).as("nSrc"), explode(col("sources")).as("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("included"), 1L).otherwise(0L)).as("on_chain"),
        sum(when(!col("included"), 1L).otherwise(0L)).as("not_on_chain"),
        sum(when(col("nSrc") === 1, 1L).otherwise(0L)).as("exclusive"))

  private def pct(a: Long, b: Long): String =
    if (b == 0) "0.0%" else f"${math.floor(a.toDouble / b * 1000) / 10}%.1f%%"

  private def fmtUtc(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString.replace("T", " ").replace("Z", "")

  /** Text report in the reference's summary.txt layout
    * (common/analyzer.go:156-213). */
  def sprint(s: Summary): String = {
    val sb = new StringBuilder
    sb.append("Mempool Summary\n")
    sb.append("===============\n\n")
    sb.append(s"- From: ${fmtUtc(s.tsFirstMs)} UTC\n")
    sb.append(s"- To:   ${fmtUtc(s.tsLastMs)} UTC\n\n")
    sb.append(f"Unique transactions: ${s.nUnique}%,10d\n\n")
    sb.append(f"- Included on-chain: ${s.nIncluded}%,10d (${pct(s.nIncluded, s.nUnique)}%5s)\n")
    sb.append(f"- Not included:      ${s.nNotIncluded}%,10d (${pct(s.nNotIncluded, s.nUnique)}%5s)\n\n")
    sb.append("| Tx Type | Count | Bytes |\n|---|---|---|\n")
    s.perType.foreach(t => sb.append(f"| ${t.txType} | ${t.n}%,d (${pct(t.n, s.nUnique)}) | ${t.bytes}%,d |\n"))
    sb.append("\n| Source | Count | OnChain | NotOnChain | Exclusive |\n|---|---|---|---|---|\n")
    s.perSource.foreach(src => sb.append(
      f"| ${src.source} | ${src.n}%,d | ${src.onChain}%,d | ${src.notOnChain}%,d | ${src.exclusive}%,d |\n"))
    sb.toString
  }
}
