package graft

import java.nio.file.Files
import graft.functions.TxFixtures
import graft.jobs.{ArchiveSite, Merge}
import graft.ops.{Analyze, Sinks}
import graft.queries.MempoolParse
import graft.streaming.Collect
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r12 item 7: the reference's production day CHAINS the
  * subcommands — collector hourly files feed the merge, whose archive
  * feeds the analyzer and the website build (reference README.md:199-201,
  * scripts/upload.sh:50-66). Every stage is oracle-tested piecewise; this
  * spec proves the COMPOSITION is lossless: drive the fixture day's raw
  * stream through the streaming collector, merge the collector's hourly
  * CSV output, and require the result to be byte-identical (JSON-row
  * compare, order included) to q_mempool_merge's direct merge of the same
  * day — then run analyze and website off the chained archive.
  *
  * The collector runs the [[Collect.dedupStateful]] suppression (the
  * reference's knownTxs TTL map, earliest-timestamp keep) so its hourly
  * output resolves same-hash re-sends exactly like the batch merge's A1
  * rule — the property that makes collect→merge commute with merge-alone.
  */
class DayChainSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark

  test("collect → merge → analyze → website: chained day equals the direct merge") {
    runChain("/root/testdata/sf0.001")
  }

  test("day chain holds at sf0.01 (the driver's gate SF) — not a single-scale claim") {
    // VERDICT r13 item 6: the byte-identity seam re-proven at 10× the
    // fixture day, the same SF the correctness gate runs at
    runChain("/root/testdata/sf0.01")
  }

  private def runChain(sf: String): Unit = {
    val n = MempoolParse.nFor(sf).toInt
    val in = Files.createTempDirectory("graft-day-feed").toString
    val out = Files.createTempDirectory("graft-day-collect").toString
    val pub = Files.createTempDirectory("graft-day-publish").toString

    // the day's raw stream: one feed event per fixture tx-CSV row (the
    // same rows q_mempool_merge reads directly), in receive order —
    // including the every-10th same-hash re-sends at later timestamps
    // that give both dedup stages real work
    val files = 4
    (0 until files).foreach { f =>
      val lines = (f * n / files until (f + 1) * n / files).map { i =>
        val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
        s"$ts,$hash,$raw,src${i % 5}"
      }
      Files.writeString(java.nio.file.Paths.get(f"$in/feed-$f%03d.csv"),
        lines.mkString("\n"))
    }

    // stage 1: the streaming collector → hourly-bucketed CSVs
    val queries = Collect.runWith(Collect.feed(spark, in), out,
      Trigger.AvailableNow(), None, Collect.dedupStateful)
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())

    // stage 2: merge the collector's hourly output — sourcelog/blacklist/
    // blocks are the same day inputs the direct merge consumes (in the
    // reference these are files on disk; identical frames here)
    val chainedRaw = spark.read
      .schema("timestamp_ms LONG, hash STRING, raw_tx_hex STRING, source STRING")
      .csv(s"$out/transactions/*/*/")
      .select("timestamp_ms", "hash", "raw_tx_hex")
    val chained = Merge.run(spark, Merge.Inputs(
      rawTxs = chainedRaw,
      sourcelog = MempoolParse.sourcelog(spark, sf),
      blacklist = Some(MempoolParse.rawTxs(spark, sf)
        .filter(col("timestamp_ms") % 31 === 0).select("hash")),
      blocks = Some(MempoolParse.blocks(spark, sf))))
    val direct = MempoolParse.mergeOutput(spark, sf)

    try {
      // the seam: chained archive rows must be BYTE-identical to the
      // direct merge's, in the same (globally sorted) order
      val chainedRows = chained.transactions.toJSON.collect().toSeq
      val directRows = direct.transactions.toJSON.collect().toSeq
      assert(chainedRows.nonEmpty)
      assert(chainedRows == directRows,
        s"chained merge diverged from direct merge: " +
          s"${chainedRows.size} vs ${directRows.size} rows; first diff: " +
          chainedRows.zipAll(directRows, "<missing>", "<missing>")
            .find { case (a, b) => a != b }.getOrElse(("", "")))

      // stage 3: analyzer over the chained archive — same report text
      val chainedReport = Analyze.sprint(Analyze.summarize(chained.transactions))
      val directReport = Analyze.sprint(Analyze.summarize(direct.transactions))
      assert(chainedReport == directReport)

      // stage 4: publish layout + website build off the chained archive
      Sinks.writeDailyArchive(chained.transactions, s"$pub/archive",
        date_format(timestamp_millis(col("timestamp").cast("long")), "yyyy-MM-dd"))
      val pages = ArchiveSite.build(s"$pub/archive", s"$pub/site")
      assert(pages.exists(_.getFileName.toString == "index.html"))
      val root = Files.readString(pages.head)
      assert(root.contains("2023-09") || pages.size > 1,
        s"site index carries no month entry:\n$root")
    } finally {
      chained.parsed.unpersist(false)
      MempoolParse.releaseMerge(spark, sf)
    }
  }
}
