package dumpsterbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints the run's metrics as the last line of stdout.
  *
  * An untraced run (`--trace 0`) reports the end-to-end metrics. A traced
  * run (`--trace 1`) alternates traced and untraced rounds and reports the
  * per-layer metrics of the traced ones, plus the tracing overhead: the
  * traced rounds' median unit time minus the untraced rounds'.
  */
object Main {

  /** (name, unit) of the metrics BENCHMARK.json lists under `key`. */
  def listed(key: String): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("BENCHMARK.json").toFile)
    root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  /** Units needed for a tail percentile with ten samples beyond it. */
  val MinUnits = 11
  /** Untimed rounds before timing: one, the cold round (see the README for
    * the settling curves). */
  val WarmupRounds = 1

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val t0 = System.nanoTime

    // two task threads on four cores: the rounds are mostly planning and
    // scheduling on the session's own thread, and the JIT compiler threads
    // still spend 4–20 CPU-seconds a round compiling during the timed rounds.
    // With a task on every core those queue behind the tasks (merge_day
    // items_per_s spread 0.24 with four threads, 0.07 with three); with two
    // rather than three, runs are up to 10 % shorter and rounds no slower
    val threads = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors - 1))
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"dumpsterbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime - t0) / 1e9

    val tracer = new Tracer(spark)
    val wl = create(workload, spark, tracer, work, seed)

    var attempted = 0L
    var failed = 0L
    def count(r: RoundResult): RoundResult = { attempted += r.attempted; failed += r.failed; r }

    val g0 = System.nanoTime
    wl.setup()
    val genS = (System.nanoTime - g0) / 1e9
    val w0 = System.nanoTime
    val warm = (1 to WarmupRounds).map(k => count(wl.round(-k)).timedNs / 1e6)
    val warmS = (System.nanoTime - w0) / 1e9
    val setupS = sessionS + genS + warmS
    System.err.println(f"[dumpsterbench] set-up: session $sessionS%.2f s, inputs $genS%.2f s, " +
      s"warm-up rounds ${warm.map(w => f"$w%.0f").mkString(", ")} ms")

    val kernels = if (trace) Kernels.measure(seed) else Map.empty[String, Double]

    // ── timed rounds ──────────────────────────────────────────────────
    // a fixed number of rounds for a given `--seconds`: `seconds` over the
    // workload's nominal round time, at least two (a traced run needs one
    // traced and one untraced round for the overhead). Every run thus times
    // the same rounds after warm-up, however fast the machine runs that day.
    val nRounds = math.max(2, math.round(seconds / wl.nominalRoundS).toInt)
    val rounds = ArrayBuffer[(Int, Boolean, RoundResult)]()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val ticks0 = cpuTicks()
    for (i <- 0 until nRounds) {
      val traced = trace && i % 2 == 0
      tracer.round = i
      tracer.setTracing(traced)
      val jit0 = jit.getTotalCompilationTime
      val r = count(wl.round(i))
      if (traced) tracer.barrier()
      System.err.println(f"[dumpsterbench] round $i${if (traced) " (traced)" else ""}: ${r.timedNs / 1e6}%.0f ms, " +
        f"median unit ${wl.median(r.unitsMs)}%.0f ms, cpu ${r.cpuNs / 1e9}%.1f s, " +
        s"JIT compiling ${jit.getTotalCompilationTime - jit0} ms")
      rounds += ((i, traced, r))
    }
    tracer.setTracing(false)
    val (steal, all) = { val t = cpuTicks(); (t._1 - ticks0._1, t._2 - ticks0._2) }
    System.err.println(f"[dumpsterbench] steal: the hypervisor took ${100.0 * steal / math.max(1L, all)}%.1f %% " +
      "of this machine's CPU time during the timed rounds")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val rs = rounds.map(_._3)
        val samples = rs.flatMap(_.unitsMs).sorted.toSeq
        val n = samples.size
        // the highest percentile with at least ten samples beyond it, but
        // never below the median: with fewer than 21 samples it is the upper
        // median (of merge_day's two rounds, the slower)
        val tailIdx = math.max(n - MinUnits, n / 2)
        println(f"[dumpsterbench] $workload seed $seed: ${rs.size} rounds, n=$n ${wl.unitName} samples; " +
          f"p50_ms is their median, tail_ms is p${100.0 * (tailIdx + 1) / n}%.0f " +
          s"(${n - tailIdx - 1} samples beyond it)")
        val e2e = Map(
          "setup_s" -> setupS,
          "items_per_s" -> rs.map(_.items).sum / (rs.map(_.timedNs).sum / 1e9),
          "p50_ms" -> wl.median(samples),
          "tail_ms" -> samples(tailIdx),
          "cpu_s" -> rs.map(_.cpuNs).sum / 1e9 / rs.size,
          "peak_rss_mb" -> peakRssMb(),
          "out_bytes_per_item" -> rs.map(_.outBytes).sum.toDouble / rs.map(_.items).sum)
        listed("end_to_end").map { case (k, u) => (k, e2e(k), u) }
      } else {
        val (on, off) = rounds.partition(_._2)
        def med(rs: Seq[(Int, Boolean, RoundResult)]) = wl.median(rs.flatMap(_._3.unitsMs).toSeq)
        val base = med(off.toSeq)
        val overheadMs = med(on.toSeq) - base
        val layer = kernels ++ wl.engineMetrics(on.map(_._1).toSeq, threads) ++
          wl.layerMetrics(on.map(_._1).toSeq) ++ Map(
            "trace.overhead_ms" -> overheadMs,
            "trace.overhead_ratio" -> (if (base > 0) overheadMs / base else 0.0))
        val perLayer = listed("per_layer")
        val unknown = layer.keySet -- perLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from BENCHMARK.json: $unknown")
        tracer.writeSpans(work.getParent.resolve(s"spans-$workload-$seed.jsonl"))
        // a layer the workload does not drive reports 0
        perLayer.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) }
      }

    spark.stop()
    val ok = failed == 0 && attempted > 0
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** The three workloads at their benchmark sizes. */
  def create(name: String, spark: SparkSession, tracer: Tracer, work: java.nio.file.Path,
      seed: Long): Workload = name match {
    case "merge_day" => new MergeDay(spark, tracer, work, seed, nTx = 1000)
    case "archive_query" => new ArchiveQuery(spark, tracer, work, seed, nRows = 60000, days = 8)
    case "collect_stream" => new CollectStream(spark, tracer, work, seed, nTx = 600, files = 48)
    case other => sys.error(s"unknown workload $other")
  }

  /** The machine's (steal, total) CPU ticks from /proc/stat, zeros where
    * there is none. Steal is time the hypervisor gave the vCPUs to other
    * guests; the run logs its share, as it slows every timing. */
  def cpuTicks(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length == 8) f(7) else 0L, f.sum)
    }
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
