package dumpsterbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.jobs.Merge
import graft.ops.{Analyze, Sinks, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** `merge_day`: the `merge` CLI path, once per round, through the public
  * functions `MergeJob.main` calls — collector CSVs in, `Merge.run` with
  * the blocks dimension, then the parquet archive, the daily archive, the
  * metadata and trash CSVs and the summary. The merged transactions are
  * materialised by a count inside the `jobs.merge` span, so the merge DAG
  * and each sink are timed apart (`MergeJob` counts them too, at its end).
  */
final class MergeDay(spark: SparkSession, tracer: Tracer, work: Path, seed: Long, nTx: Int)
    extends Workload(spark, tracer, work, seed) {

  private val in = work.resolve("in")
  private var expect: Gen.MergeExpect = _

  private val sinks = Seq("archive_parquet" -> "transactions.parquet", "daily_archive" -> "archive",
    "metadata_csv" -> "metadata_csv", "trash_csv" -> "trash_csv")
  private val filesWritten = scala.collection.mutable.Map[(Int, String), Long]()
  private val keptRows = scala.collection.mutable.Map[Int, Long]()
  def unitName = "round"
  def nominalRoundS = 6.0

  def setup(): Unit = {
    deleteTree(in)
    expect = Gen.mergeDay(in, seed, nTx)
  }

  private val blocksSchema = StructType(Seq(StructField("hash", StringType),
    StructField("block_number", LongType), StructField("block_ts_ms", LongType)))

  def round(i: Int): RoundResult = {
    val out = work.resolve(s"out-$i")
    var result: Merge.Output = null
    var txs: DataFrame = null
    var rowsOut = 0L
    val (summary, ns, cpu) = timed(tracer.span("round") {
      val inputs = tracer.span("ops.sources.read") {
        Merge.Inputs(
          rawTxs = Sources.readTxCsv(spark, s"$in/tx/*.csv"),
          sourcelog = Sources.readSourcelogCsv(spark, s"$in/sourcelog/*.csv"),
          blacklist = Some(Sources.readMetadataHashes(spark, s"$in/blacklist/*.csv")),
          blocks = Some(spark.read.schema(blocksSchema).csv(s"$in/blocks/*.csv")))
      }
      tracer.span("jobs.merge") {
        result = Merge.run(spark, inputs)
        txs = result.transactions.persist(StorageLevel.DISK_ONLY)
        rowsOut = txs.count()
      }
      tracer.span("ops.sinks.archive_parquet")(Sinks.writeParquetArchive(txs, s"$out/transactions.parquet"))
      tracer.span("ops.sinks.daily_archive")(Sinks.writeDailyArchive(txs, s"$out/archive",
        date_format(timestamp_millis(col("timestamp").cast("long")), "yyyy-MM-dd")))
      tracer.span("ops.sinks.metadata_csv")(Sinks.writeMetadataCsv(txs, s"$out/metadata_csv"))
      tracer.span("ops.sinks.trash_csv")(Sinks.writeTrashCsv(result.trash, s"$out/trash_csv"))
      val s = tracer.span("ops.analyze.summarize")(Analyze.summarize(txs))
      Files.writeString(out.resolve("summary.txt"), Analyze.sprint(s))
      s
    })

    // checks against the generator's answers (untimed)
    val e = expect
    val arch = spark.read.parquet(s"$out/transactions.parquet")
      .agg(count(lit(1)), sum("inclusionDelayMs"), collect_set("from")).head()
    val days = Files.list(out.resolve("archive")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("day=")).map(_.stripPrefix("day=")).toSet
    def csvRows(d: String) = spark.read.option("header", "true").csv(s"$out/$d").count()
    val parsedRows = result.parsed.count() // the persisted parse stage: dedup and blacklist survivors
    keptRows(i) = parsedRows
    val failed = Seq(
      check("rows kept by dedup and blacklist", parsedRows == e.kept, s"$parsedRows != ${e.kept}"),
      check("merged rows", rowsOut == e.archived, s"$rowsOut != ${e.archived}"),
      check("summary", summary == e.summary, s"\n  got  $summary\n  want ${e.summary}"),
      check("parquet archive rows", arch.getLong(0) == e.archived),
      check("inclusion delay sum", arch.getLong(1) == e.delaySum, s"${arch.getLong(1)} != ${e.delaySum}"),
      check("recovered senders", arch.getSeq[String](2).toSet == e.senders),
      check("daily archive days", days == e.days, s"$days != ${e.days}"),
      check("daily archive rows", spark.read.parquet(s"$out/archive").count() == e.archived),
      check("metadata csv rows", csvRows("metadata_csv") == e.archived),
      check("trash csv rows", csvRows("trash_csv") == e.trash, s"${csvRows("trash_csv")} != ${e.trash}")
    ).sum
    val outBytes = dataBytes(out)
    sinks.foreach { case (s, d) => filesWritten((i, s)) = dataFiles(out.resolve(d)).size.toLong }

    txs.unpersist(blocking = true)
    result.parsed.unpersist(blocking = true)
    deleteTree(out)
    val left = leftovers(out)
    RoundResult(Seq(ns / 1e6), e.rawRows, ns, cpu, 1,
      math.min(1, failed + check("round hygiene", left.isEmpty, left.mkString(", "))), outBytes)
  }

  def layerMetrics(rounds: Seq[Int]): Map[String, Double] = {
    def m(name: String)(f: Counters => Long) = perRound(rounds, name)(ss => total(ss)(f))
    def sink(s: String) = Map(
      s"ops.sinks.$s.write_s" -> perRound(rounds, s"ops.sinks.$s")(_.map(_.seconds).sum),
      s"ops.sinks.$s.bytes_written" -> m(s"ops.sinks.$s")(_.bytesWritten),
      s"ops.sinks.$s.files_written" -> median(rounds.map(r => filesWritten((r, s)).toDouble)))
    val merge = "jobs.merge"
    val rowsIn = m(merge)(_.recordsRead)
    Map(
      "jobs.merge.dag_s" -> perRound(rounds, merge)(_.map(_.seconds).sum),
      "jobs.merge.executor_cpu_s" -> m(merge)(_.cpuNs) / 1e9,
      "jobs.merge.gc_s" -> m(merge)(_.gcMs) / 1e3,
      "jobs.merge.shuffle_write_bytes" -> m(merge)(_.shuffleWrite),
      "jobs.merge.shuffle_read_bytes" -> m(merge)(_.shuffleRead),
      "jobs.merge.spill_bytes" -> m(merge)(_.spill),
      "jobs.merge.stages" -> m(merge)(_.stages),
      "jobs.merge.tasks" -> m(merge)(_.tasks),
      "jobs.merge.rows_in" -> rowsIn,
      "jobs.merge.rows_out" -> m("ops.sinks.archive_parquet")(_.recordsWritten),
      "jobs.merge.trash_rows" -> m("ops.sinks.trash_csv")(_.recordsWritten),
      "jobs.merge.dedup_ratio" -> median(rounds.map(r => keptRows(r).toDouble / expect.rawRows)),
      "ops.analyze.summarize_s" -> perRound(rounds, "ops.analyze.summarize")(_.map(_.seconds).sum),
      "ops.analyze.jobs" -> m("ops.analyze.summarize")(_.jobs),
      "ops.analyze.executor_cpu_s" -> m("ops.analyze.summarize")(_.cpuNs) / 1e9
    ) ++ sinks.map(_._1).flatMap(sink) ++
      sourceMetrics(rounds)
  }
}
