package dumpsterbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one round did: its timed units (a round, a query or a micro-batch),
  * the input items it covered, and how many of its checked operations
  * failed. `timedNs`/`cpuNs` cover only the timed part, not the checks. */
final case class RoundResult(unitsMs: Seq[Double], items: Long, timedNs: Long,
    cpuNs: Long, attempted: Int, failed: Int, outBytes: Long)

/** A closed-loop workload: untimed set-up, then rounds run back to back.
  * Every round checks its outputs against the generator's answers and
  * leaves no persisted data, cache entry or output directory behind. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
    val work: Path, val seed: Long) {

  /** Generates the inputs and their expected answers. Repeatable. */
  def setup(): Unit
  def round(i: Int): RoundResult
  /** A round's typical wall time on a 4-vCPU VM once warm; a run times
    * `--seconds` over this many rounds. */
  def nominalRoundS: Double
  /** What one timed unit is, for the sample-count line. */
  def unitName: String
  /** Per-layer metrics over the traced rounds. */
  def layerMetrics(rounds: Seq[Int]): Map[String, Double]

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow(): Long = osBean.getProcessCpuTime

  /** Runs `body`, returning its result, wall ns and process CPU ns. */
  def timed[T](body: => T): (T, Long, Long) = {
    val c0 = cpuNow()
    val t0 = System.nanoTime
    val r = body
    (r, System.nanoTime - t0, cpuNow() - c0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Data files under `p`, skipping checkpoints, the streaming sink's
    * metadata log and hidden checksum files. */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.toString.contains("/_") &&
        !f.getFileName.toString.startsWith(".")).toSeq

  def dataBytes(p: Path): Long = dataFiles(p).map(Files.size).sum

  /** Round hygiene: what a round left behind that would slow the next. */
  def leftovers(dirs: Path*): Seq[String] = {
    val persisted = spark.sparkContext.getPersistentRDDs.size
    Seq(
      Option.when(persisted > 0)(s"$persisted persisted RDDs"),
      Option.when(!spark.sharedState.cacheManager.isEmpty)("CacheManager entries")) ++
      dirs.map(d => Option.when(Files.exists(d))(s"$d not deleted"))
  }.flatten

  /** Logs a failed check to stderr and returns it as a failure count. */
  def check(what: String, ok: Boolean, detail: => String = ""): Int =
    if (ok) 0 else { System.err.println(s"[dumpsterbench] check failed: $what $detail"); 1 }

  // ── per-layer aggregation over traced rounds ─────────────────────────

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median over `rounds` of f(spans of that round named `name`). */
  def perRound(rounds: Seq[Int], name: String)(f: Seq[Span] => Double): Double = {
    val byRound = tracer.spans.filter(s => s.name == name).groupBy(_.round)
    median(rounds.map(r => f(byRound.getOrElse(r, Seq.empty).toSeq)))
  }

  def total(spans: Seq[Span])(f: Counters => Long): Double =
    spans.map(s => f(tracer.countersOf(s.id))).sum.toDouble

  /** Median over `rounds` of f(all spans of that round). */
  def perRoundAll(rounds: Seq[Int])(f: Seq[Span] => Double): Double = {
    val byRound = tracer.spans.toSeq.groupBy(_.round)
    median(rounds.map(r => f(byRound.getOrElse(r, Seq.empty))))
  }

  /** Engine-wide numbers per round: every span of the round counts. */
  def engineMetrics(rounds: Seq[Int], threads: Int): Map[String, Double] = {
    def wall(ss: Seq[Span]) = ss.filter(_.parent == -1).map(_.seconds).sum
    Map(
      "spark.executor_cpu_s" -> perRoundAll(rounds)(ss => total(ss)(_.cpuNs) / 1e9),
      "spark.gc_s" -> perRoundAll(rounds)(ss => total(ss)(_.gcMs) / 1e3),
      "spark.jobs" -> perRoundAll(rounds)(ss => total(ss)(_.jobs)),
      "spark.tasks" -> perRoundAll(rounds)(ss => total(ss)(_.tasks)),
      "spark.cpu_util" -> perRoundAll(rounds)(ss =>
        total(ss)(_.cpuNs) / 1e9 / (wall(ss) * threads)))
  }

  /** The `ops.sources` numbers: file scans anywhere in the round. */
  def sourceMetrics(rounds: Seq[Int]): Map[String, Double] = Map(
    "ops.sources.scan_s" -> perRoundAll(rounds)(ss => total(ss)(_.scanRunMs) / 1e3),
    "ops.sources.rows_read" -> perRoundAll(rounds)(ss => total(ss)(_.recordsRead)),
    "ops.sources.bytes_read" -> perRoundAll(rounds)(ss => total(ss)(_.bytesRead)),
    "ops.sources.files_read" -> perRoundAll(rounds)(ss => ss.map(s => tracer.filesReadBy(s.id)).sum.toDouble))
}
