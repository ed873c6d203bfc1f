package graft

import graft.functions.TxFixtures
import graft.ops.Sinks
import graft.jobs.Merge
import org.apache.spark.sql.SparkSession

/** BASELINE.md comparison run: merge N synthetic raw txs end-to-end
  * (dedup → anti-join → parse w/ sender recovery → sources attach →
  * enrichment → F1 → sort → gzip parquet archive). The reference merges a
  * 1-2M-tx day in ≤30 min on one node (README.md:82).
  *
  * Usage: runMain graft.MergeScaleBench [nTx] [stages]
  *   nTx    input size (default 1,000,000)
  *   stages also print a per-phase attribution table (wall, task time,
  *          GC, spill, shuffle bytes) from real task metrics — the tool
  *          behind the r12 throughput-droop attribution (VERDICT r11
  *          item 1). The headline JSON line measures the same work
  *          either way: observer settle waits sit outside every timed
  *          window, and the phase-splitting barrier's one extra cache
  *          re-read is timed warm and subtracted (ADVICE r12).
  */
object MergeScaleBench {

  def main(args: Array[String]): Unit = {
    val n = args.find(a => a.nonEmpty && a.forall(_.isDigit)).map(_.toLong)
      .getOrElse(1000000L)
    val stages = args.contains("stages") || args.contains("--stages")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partition count scales with INPUT SIZE, not core count —
    // the §4 design rule ("size spark.sql.shuffle.partitions so
    // partitions fit in executor memory"), applied and measured here
    // (r12): at 10 M txs the fixed cpus=32 partitioning put ~312 k rows
    // in every dedup/parse task and ~300 MB in every sort partition; 32
    // concurrent tasks of that size drove the default 8 g heap into GC
    // collapse (task GC 2185 s of 5952 s task time — the whole 4 M→10 M
    // throughput droop; non-GC task time scales 2.45× for 2.5× data,
    // i.e. perfectly linearly) plus 7.15 GB of sort spill. At ~100 k
    // rows/partition both vanish: GC 271 s, spill 1.4 GB, wall 247→178 s
    // (40.5 k→56.3 k tx/s). On a real cluster the same rule is
    // input_bytes / target_partition_bytes.
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE")
      .map(_.toInt).getOrElse(math.max(cpus.toInt, (n / 100000L).toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val agg = new BenchMetrics
    if (stages) spark.sparkContext.addSparkListener(agg)
    var last = agg.snapshot()
    // Returns (result, fsec) where fsec is the PRE-settle wall of f alone
    // — the observer settle wait (>=200 ms, up to 10 s) happens after the
    // timestamp, so it can never leak into a headline number (ADVICE r12).
    def phase[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      if (stages) {
        val now = agg.settled()
        println(agg.row(label, sec, agg.delta(last, now)))
        last = now
      }
      (r, sec)
    }

    val out = java.nio.file.Files.createTempDirectory("merge-scale").toString
    val t0 = System.nanoTime()
    // input splits scale with N like the shuffles do: a production run
    // reads ~128 MB file splits, so scan/gen task size is constant at
    // any input size. The fixed 32-way spark.range slicing was the 50 M
    // point's residual taper (625 k+ secp-signed rows per gen task).
    val raw = spark.range(0, n, 1, shuffleParts).as[Long]
      .mapPartitions(_.map(TxFixtures.rawRow))
      .toDF("timestamp_ms", "hash", "raw_tx_hex")
    val sl = spark.range(0, n, 1, shuffleParts).as[Long]
      .mapPartitions(_.flatMap(TxFixtures.sourcelogRows))
      .toDF("timestamp_ms", "hash", "source")
    val blocks = spark.range(0, n, 1, shuffleParts).as[Long]
      .filter((i: Long) => i % 4 == 0)
      .mapPartitions(_.map { i =>
        val (ts, hash, _) = TxFixtures.rawRow(i)
        (hash, 18000000L + i / 100, ts + 4000 + i % 2000)
      }).toDF("hash", "block_number", "block_ts_ms")

    val result = Merge.run(spark, Merge.Inputs(raw, sl, None, Some(blocks)))
    // Phase split mirrors the DAG's one materialization barrier (the
    // DISK_ONLY parsed cache): everything up to the parse runs under
    // "gen+dedup+parse"; the archive write then re-reads parsed from
    // disk and runs sources-agg, joins, range sort and the gzip write.
    //
    // Headline timing (ADVICE r12): stages mode keeps both observer
    // settle waits AND its phase-splitting barrier out of the headline,
    // so the JSON line measures the same work either way. Plain mode
    // folds the parse-cache materialization into the write's single
    // pass; the stages barrier (parsed.count()) adds one warm cache
    // re-read to the write — so we time that re-read explicitly (a
    // second count() over the now-materialized cache) and subtract it:
    // headline = parse_fsec − reread_fsec + write_fsec ≈ plain wall.
    val secs =
      if (stages) {
        val (_, parseSec) = phase("gen+dedup+parse")(result.parsed.count())
        val (_, rereadSec) = phase("cache re-read (excl.)")(result.parsed.count())
        val (_, writeSec) = phase("attach+sort+write")(
          Sinks.writeParquetArchive(result.transactions, s"$out/archive"))
        // Clamp the re-read correction (ADVICE r13): the subtraction
        // assumes the warm cache re-read exactly prices the barrier's
        // extra read; on a contended / cold-page-cache box rereadSec can
        // exceed what the barrier actually cost and the corrected
        // headline drifts below — or goes negative vs — the plain-mode
        // wall it claims to equal. Cap the correction at parseSec and
        // floor the headline at writeSec; print the uncorrected wall too
        // so the correction stays auditable.
        val corrected = math.max(writeSec,
          parseSec - math.min(rereadSec, parseSec) + writeSec)
        println(f"""{"stages_uncorrected_wall_sec":${parseSec + writeSec}%.1f,"reread_correction_sec":$rereadSec%.1f}""")
        corrected
      } else {
        Sinks.writeParquetArchive(result.transactions, s"$out/archive")
        (System.nanoTime() - t0) / 1e9
      }
    val (archived, _) = phase("verify count")(
      spark.read.parquet(s"$out/archive").count())
    val sizeMb = new java.io.File(s"$out/archive").listFiles()
      .map(_.length()).sum / 1e6
    println(f"""{"metric":"merge_1m","n_input":$n,"archived":$archived,"wall_sec":$secs%.1f,"archive_mb":$sizeMb%.1f,"tx_per_sec":${n / secs}%.0f}""")
    spark.stop()
    // drop the throwaway archive — repeated curve runs used to strand
    // gigabytes of gzip parquet in /tmp
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(out)
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }
}
