package dumpsterbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import graft.ops.{Analyze, Sinks, Sources}
import graft.ops.Analyze.{SourceStat, Summary, TypeStat}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `archive_query`: one client running the README's query templates over a
  * multi-day archive, plus `Analyze.summarize`. The archive is written once
  * in set-up, straight in the published 19-column schema and day layout
  * (`Sinks.writeDailyArchive`), so neither the parse kernels nor the merge
  * run here: scans, explode/aggregate and partition pruning do the work.
  */
final class ArchiveQuery(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
    nRows: Int, days: Int) extends Workload(spark, tracer, work, seed) {
  import ArchiveQuery._

  private val path = work.resolve("archive").toString
  private var ex: Expect = _
  def unitName = "query"
  def nominalRoundS = 4.0

  def setup(): Unit = {
    deleteTree(work.resolve("archive"))
    val (s, d) = (seed, days)
    val rows = spark.sparkContext.range(0L, nRows.toLong, 1L, 8)
      .mapPartitions(_.map(i => row(s, d, i)))
    Sinks.writeDailyArchive(spark.createDataFrame(rows, schema), path,
      date_format(timestamp_millis(col("timestamp")), "yyyy-MM-dd"))
    ex = expect(seed, nRows, days)
  }

  private def queries(round: Int): Seq[Query] = {
    def pick(tag: Int, n: Int) = java.lang.Math.floorMod(Gen.mix(seed, round, 100L + tag), n.toLong).toInt
    val j = pick(1, nRows)
    val to = 20 + pick(2, 200)
    val src = pick(3, Sources6.size)
    val (a, b) = (pick(4, Sources6.size), pick(5, Sources6.size - 1))
    val b2 = if (b >= a) b + 1 else b
    val excl = pick(6, Sources6.size)
    val d0 = pick(7, days - 1)
    val c = core(seed, days, j)
    Seq(
      Query("hash_lookup", _.filter(col("hash") === hashOf(seed, j)).select("nonce", "to").collect().toSeq,
        Seq(Row(c.nonce.toString, toAddr(seed, c.to)))),
      Query("to_lookup", _.filter(col("to") === toAddr(seed, to)).count(), ex.byTo(to)),
      Query("has_source", _.filter(array_contains(col("sources"), Sources6(src))).count(), ex.hasSource(src)),
      Query("has_all_sources", _.filter(size(array_except(
        array(lit(Sources6(a)), lit(Sources6(b2))), col("sources"))) === 0).count(), ex.hasBoth(a)(b2)),
      Query("exclusive_source", _.filter(size(col("sources")) === 1 &&
        element_at(col("sources"), 1) === Sources6(excl)).count(), ex.exclusive(excl)),
      Query("included_count", _.filter(col("includedBlockTimestamp") =!= 0).count(), ex.summary.nIncluded),
      Query("count_by_4bytes", _.groupBy("data4Bytes").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap, ex.by4Bytes),
      Query("top_to", _.groupBy("to").count().orderBy(desc("count"), asc("to")).limit(10).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq, ex.topTo),
      Query("landed_by_source", _.select(explode(col("sources")).as("source"),
          (col("includedAtBlockHeight") =!= 0).as("landed"))
        .groupBy("source", "landed").count().collect()
        .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap, ex.landed),
      Query("delay_quantiles", _.filter(col("includedAtBlockHeight") =!= 0 &&
          col("to").isin(HotTos.map(toAddr(seed, _)): _*))
        .groupBy("to").agg(percentile_approx(col("inclusionDelayMs"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)), avg("inclusionDelayMs"))
        .collect().map(r => r.getString(0) -> (r.getSeq[Long](1), r.getDouble(2))).toMap,
        HotTos.map(t => toAddr(seed, t) -> ex.delays(t)).toMap, quantilesMatch),
      Query("day_range", _.filter(col("day").between(dayStr(d0), dayStr(d0 + 1))).count(),
        ex.perDay(d0) + ex.perDay(d0 + 1)),
      Query("summarize", df => Analyze.summarize(df), ex.summary))
  }

  def round(i: Int): RoundResult = {
    val results = ArrayBuffer[(Double, Long, Long, Int, Long)]()
    tracer.span("round") {
      queries(i).foreach { q =>
        val (got, ns, cpu) = timed(tracer.span(s"ops.query.${q.name}") {
          q.run(Sources.readArchive(spark, path))
        })
        val bad = check(s"query ${q.name}", q.same(got, q.want), s"\n  got  $got\n  want ${q.want}")
        results += ((ns / 1e6, ns, cpu, bad, got.toString.length.toLong))
      }
    }
    val left = leftovers()
    RoundResult(results.map(_._1).toSeq, results.size.toLong, results.map(_._2).sum,
      results.map(_._3).sum, results.size,
      results.map(_._4).sum + check("round hygiene", left.isEmpty, left.mkString(", ")),
      results.map(_._5).sum)
  }

  def layerMetrics(rounds: Seq[Int]): Map[String, Double] = {
    val names = queries(0).map(_.name)
    names.flatMap { n =>
      val span = s"ops.query.$n"
      Seq(s"$span.p50_ms" -> median(tracer.spans.filter(s => s.name == span && rounds.contains(s.round))
          .map(_.seconds * 1e3).toSeq),
        s"$span.bytes_read" -> perRound(rounds, span)(ss => total(ss)(_.bytesRead)))
    }.toMap ++ Map(
      "ops.analyze.summarize_s" -> perRound(rounds, "ops.query.summarize")(_.map(_.seconds).sum),
      "ops.analyze.jobs" -> perRound(rounds, "ops.query.summarize")(ss => total(ss)(_.jobs)),
      "ops.analyze.executor_cpu_s" -> perRound(rounds, "ops.query.summarize")(ss => total(ss)(_.cpuNs)) / 1e9
    ) ++ sourceMetrics(rounds)
  }
}

object ArchiveQuery {
  /** One template run: its result checked against the expected answer. */
  final case class Query(name: String, run: DataFrame => Any, want: Any,
      same: (Any, Any) => Boolean = _ == _)

  val Sources6: IndexedSeq[String] = Gen.MergeSources.toIndexedSeq
  val ToAddrs = 5000
  val HotTos: Seq[Int] = 0 until 10
  val Selectors = 48

  val schema: StructType = StructType(Seq(
    StructField("timestamp", LongType), StructField("hash", StringType),
    StructField("chainId", StringType), StructField("txType", LongType),
    StructField("from", StringType), StructField("to", StringType),
    StructField("value", StringType), StructField("nonce", StringType),
    StructField("gas", StringType), StructField("gasPrice", StringType),
    StructField("gasTipCap", StringType), StructField("gasFeeCap", StringType),
    StructField("dataSize", LongType), StructField("data4Bytes", StringType),
    StructField("sources", ArrayType(StringType)),
    StructField("includedAtBlockHeight", LongType),
    StructField("includedBlockTimestamp", LongType),
    StructField("inclusionDelayMs", LongType), StructField("rawTx", BinaryType)))

  /** The choices behind archive row i; everything else derives from them. */
  final case class Core(day: Int, ts: Long, txType: Int, from: Int, to: Int,
      sources: Seq[Int], included: Boolean, delay: Long, dataSize: Int, selector: Int,
      nonce: Long) {
    def rawLen: Int = 100 + dataSize
  }

  def core(seed: Long, days: Int, i: Long): Core = {
    def u(f: Int) = Gen.unit(seed, i, f.toLong)
    val day = (i % days).toInt
    val t = u(1)
    val txType = if (t < 0.2) 0 else if (t < 0.25) 1 else if (t < 0.95) 2 else 3
    val nSrc = 1 + (u(2) * 3).toInt
    val first = (u(3) * Sources6.size).toInt
    val srcs = (0 until nSrc).map(k => (first + k * (1 + (u(4) * 2).toInt)) % Sources6.size).distinct
    val included = u(5) < 0.3
    val dataSize = (u(6) * 100).toInt
    Core(day, Gen.DayStartMs + day * 86400000L + (u(7) * 86400000).toLong, txType,
      (u(8) * 2000).toInt, (math.pow(u(9), 3) * ToAddrs).toInt, srcs, included,
      if (included) (u(10) * 131000).toLong - 11000 else 0L, dataSize,
      (u(11) * Selectors).toInt, (u(12) * 100000).toLong)
  }

  private def hex(sb: java.lang.StringBuilder, v: Long, digits: Int): Unit =
    for (k <- digits - 1 to 0 by -1) sb.append(Character.forDigit(((v >>> (4 * k)) & 0xf).toInt, 16))
  private def hexId(parts: Long*)(last: Long, lastDigits: Int): String = {
    val sb = new java.lang.StringBuilder("0x")
    parts.foreach(hex(sb, _, 16))
    hex(sb, last, lastDigits)
    sb.toString
  }
  def hashOf(seed: Long, i: Long): String =
    hexId(Gen.mix(seed, i, 21), Gen.mix(seed, i, 22), Gen.mix(seed, i, 23))(i, 16)
  def toAddr(seed: Long, t: Int): String = hexId(Gen.mix(seed, t, 31), Gen.mix(seed, t, 32))(t, 8)
  def fromAddr(seed: Long, f: Int): String = hexId(Gen.mix(seed, f, 41), Gen.mix(seed, f, 42))(f, 8)
  def selector(seed: Long, k: Int): String = hexId()(Gen.mix(seed, k, 51) >>> 32, 8)
  def dayStr(d: Int): String = Gen.day(Gen.DayStartMs + d * 86400000L)

  def row(seed: Long, days: Int, i: Long): Row = {
    val c = core(seed, days, i)
    val gasPrice = (1000000000L + (Gen.mix(seed, i, 61) >>> 34)).toString
    val raw = new Array[Byte](c.rawLen)
    raw(0) = c.txType.toByte
    var k = 1
    while (k < raw.length) { raw(k) = (i * 31 + k * 7).toByte; k += 1 }
    Row(c.ts, hashOf(seed, i), "1", c.txType.toLong, fromAddr(seed, c.from), toAddr(seed, c.to),
      (Gen.mix(seed, i, 62) >>> 4).toString, c.nonce.toString, (21000 + c.dataSize * 16).toString,
      gasPrice, "1000000000", gasPrice, c.dataSize.toLong,
      if (c.dataSize >= 4) selector(seed, c.selector) else "",
      c.sources.map(Sources6), if (c.included) 18000000L + (c.ts - Gen.DayStartMs) / 12000 else 0L,
      if (c.included) c.ts + c.delay else 0L, c.delay, raw)
  }

  final case class Expect(byTo: Array[Long], hasSource: Array[Long], hasBoth: Array[Array[Long]],
      exclusive: Array[Long], by4Bytes: Map[String, Long], topTo: Seq[(String, Long)],
      landed: Map[(String, Boolean), Long], delays: Map[Int, (Seq[Long], Double)],
      perDay: Array[Long], summary: Summary)

  /** Every template's answer, by one pass over the generator's choices. */
  def expect(seed: Long, n: Int, days: Int): Expect = {
    val byTo = new Array[Long](ToAddrs)
    val hasSource = new Array[Long](Sources6.size)
    val hasBoth = Array.fill(Sources6.size, Sources6.size)(0L)
    val exclusive = new Array[Long](Sources6.size)
    val exclusiveInc = new Array[Long](Sources6.size)
    val onChain = new Array[Long](Sources6.size)
    val bySel = new Array[Long](Selectors)
    var noSel = 0L
    val perDay = new Array[Long](days)
    val typeN = new Array[Long](4)
    val typeBytes = new Array[Long](4)
    val hot = HotTos.map(_ -> ArrayBuffer[Long]()).toMap
    var included = 0L
    var first = Long.MaxValue
    var last = Long.MinValue
    var i = 0L
    while (i < n) {
      val c = core(seed, days, i)
      byTo(c.to) += 1
      c.sources.foreach { s =>
        hasSource(s) += 1
        if (c.included) onChain(s) += 1
        c.sources.foreach(t => hasBoth(s)(t) += 1)
      }
      if (c.sources.size == 1) {
        exclusive(c.sources.head) += 1
        if (c.included) exclusiveInc(c.sources.head) += 1
      }
      if (c.dataSize >= 4) bySel(c.selector) += 1 else noSel += 1
      perDay(c.day) += 1
      typeN(c.txType) += 1
      typeBytes(c.txType) += c.rawLen
      if (c.included) {
        included += 1
        hot.get(c.to).foreach(_ += c.delay)
      }
      first = math.min(first, c.ts)
      last = math.max(last, c.ts)
      i += 1
    }
    val by4 = (0 until Selectors).filter(bySel(_) > 0).map(k => selector(seed, k) -> bySel(k)).toMap ++
      (if (noSel > 0) Map("" -> noSel) else Map.empty)
    val top = (0 until ToAddrs).filter(byTo(_) > 0).map(t => toAddr(seed, t) -> byTo(t))
      .sortBy { case (a, c) => (-c, a) }.take(10)
    val landed = Sources6.indices.flatMap(s => Seq((Sources6(s), true) -> onChain(s),
      (Sources6(s), false) -> (hasSource(s) - onChain(s)))).filter(_._2 > 0).toMap
    val summary = Summary(n.toLong, included, n - included, first, last,
      (0 until 4).filter(typeN(_) > 0).map(t => TypeStat(t.toLong, typeN(t), typeBytes(t))),
      Sources6.indices.filter(hasSource(_) > 0).map(s => SourceStat(Sources6(s), hasSource(s),
        onChain(s), hasSource(s) - onChain(s), exclusive(s), exclusiveInc(s))))
    Expect(byTo, hasSource, hasBoth, exclusive, by4, top, landed,
      hot.map { case (t, ds) => t -> (ds.sorted.toSeq, ds.sum.toDouble / math.max(1, ds.size)) },
      perDay, summary)
  }

  /** percentile_approx at 1e-4 relative accuracy over a few thousand values
    * may land one rank off the exact order statistic; the average is exact
    * up to floating-point summation order. */
  def quantilesMatch(got: Any, want: Any): Boolean = {
    val g = got.asInstanceOf[Map[String, (Seq[Long], Double)]]
    val w = want.asInstanceOf[Map[String, (Seq[Long], Double)]].filter(_._2._1.nonEmpty)
    g.keySet == w.keySet && w.forall { case (to, (sorted, mean)) =>
      val (qs, avgGot) = g(to)
      val n = sorted.size
      Seq(0.5, 0.9, 0.99).zip(qs).forall { case (p, q) =>
        val r = math.ceil(p * n).toInt - 1
        sorted.slice(math.max(0, r - 2), math.min(n, r + 3)).contains(q)
      } && math.abs(avgGot - mean) <= 1e-6 * math.max(1.0, math.abs(mean))
    }
  }
}
