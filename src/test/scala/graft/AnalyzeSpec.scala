package graft

import graft.ops.Analyze
import graft.ops.Analyze.{SourceStat, Summary, TypeStat}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Analyze.summarize` against a plain-Scala recount of the same rows, and
  * its cost in Spark jobs. */
class AnalyzeSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("hash", StringType), StructField("txType", LongType),
    StructField("rawTx", BinaryType), StructField("sources", ArrayType(StringType)),
    StructField("includedAtBlockHeight", LongType), StructField("inclusionDelayMs", LongType),
    StructField("timestamp", LongType)))

  // fullwidth A (U+FF21) sorts after the emoji (U+1F600) in UTF-16 but
  // before it in UTF-8 bytes, which is Spark's string order
  private val (wide, emoji) = ("Ａ", "😀")

  private def tx(i: Int, txType: Long, bytes: Int, sources: Seq[String], height: Long,
      delay: Long): Row =
    Row(f"0x$i%064x", txType, if (bytes < 0) null else Array.fill[Byte](bytes)(1), sources,
      height, delay, 1700000000000L + i * 7919L % 100000)

  private val rows = Seq(
    // F1-discarded: included 12 s or more before first receipt
    tx(0, 2, 10, Seq("alchemy"), 100, -12000),
    tx(1, 0, 11, Seq("local", "infura"), 101, -50000),
    // kept although included before receipt: under the 12 s threshold
    tx(2, 2, 12, Seq("alchemy", "local"), 102, -11999),
    tx(3, 2, 13, Seq.empty, 0, 0),
    tx(4, 3, 14, null, 103, 500),
    tx(5, 0, 15, Seq("local", null), 0, 0),
    tx(6, 2, 16, Seq(null), 104, 800),
    tx(7, 0, 17, Seq("alchemy"), 105, 900),
    tx(8, 2, 18, Seq("infura"), 106, 1000),
    tx(9, 2, 19, Seq("infura"), 0, 0),
    tx(10, 3, -1, Seq("local"), 0, 0),
    tx(11, 0, 20, Seq(emoji, wide, "local"), 107, 300),
    tx(12, 2, 21, Seq(wide), 108, 200),
    tx(13, 2, 22, Seq("local", "alchemy", "infura"), 0, 0))

  private def frame(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)

  /** The summary recomputed on the driver from the collected rows. */
  private def recount(df: DataFrame): Summary = {
    val hasRaw = df.columns.contains("rawTx")
    val txs = df.collect().toSeq.map { r =>
      val raw = if (hasRaw) Option(r.getAs[Array[Byte]]("rawTx")).map(_.length.toLong) else Some(0L)
      (r.getAs[Long]("txType"), raw, Option(r.getAs[collection.Seq[String]]("sources")).map(_.toSeq),
        r.getAs[Long]("includedAtBlockHeight"), r.getAs[Long]("inclusionDelayMs"),
        r.getAs[Long]("timestamp"))
    }.filterNot { case (_, _, _, h, d, _) => h > 0 && d <= -12000 }
    val n = txs.size.toLong
    val inc = txs.count(_._4 != 0).toLong
    val perType = txs.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, ts) =>
      TypeStat(t, ts.size.toLong, ts.flatMap(_._2).sum)
    }
    val listed = for ((_, _, Some(srcs), h, _, _) <- txs; s <- srcs) yield (s, h != 0, srcs.size == 1)
    val utf8Order: Ordering[String] = (a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    val perSource = listed.groupBy(l => Option(l._1)).toSeq
      .sortBy(_._1)(Ordering.Option(utf8Order)).map { case (s, ls) =>
        SourceStat(s.orNull, ls.size.toLong, ls.count(_._2).toLong, ls.count(!_._2).toLong,
          ls.count(_._3).toLong, ls.count(l => l._2 && l._3).toLong)
      }
    val ts = txs.map(_._6)
    Summary(n, inc, n - inc, ts.minOption.getOrElse(0L), ts.maxOption.getOrElse(0L),
      perType, perSource)
  }

  test("summarize equals a driver-side recount: F1 drops, empty/null sources, null elements") {
    val df = frame(rows)
    val got = Analyze.summarize(df)
    assert(got == recount(df))
    // the shapes the recount must cover are really there
    assert(got.nUnique == rows.size - 2)
    assert(got.perSource.head.source == null)
    assert(got.perSource.map(_.source).takeRight(2) == Seq(wide, emoji))
  }

  test("summarize on a metadata-only frame reports zero bytes") {
    val df = frame(rows).drop("rawTx")
    val got = Analyze.summarize(df)
    assert(got == recount(df))
    assert(got.perType.nonEmpty && got.perType.forall(_.bytes == 0))
  }

  test("summarize on an empty frame") {
    assert(Analyze.summarize(frame(Nil)) == Summary(0, 0, 0, 0, 0, Nil, Nil))
  }

  test("summarize runs at most two Spark jobs and persists nothing") {
    val sc = spark.sparkContext
    val df = frame(rows)
    val before = sc.getPersistentRDDs.keySet
    val (got, jobs) = JobCounter(sc)(Analyze.summarize(df))
    assert(got == recount(df))
    assert(jobs >= 1 && jobs <= 2, s"$jobs jobs")
    assert(sc.getPersistentRDDs.keySet == before)
  }
}
