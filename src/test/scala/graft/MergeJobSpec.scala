package graft

import graft.functions.TxFixtures
import graft.jobs.Merge
import graft.ops.{Analyze, Sinks}
import graft.queries.MempoolParse
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end merge-job semantics on deterministic synthetic mempool data. */
class MergeJobSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001" // only used for scaling (n=2000)

  // mergeOutput caches the merged transactions and its inputs per session
  private lazy val out = MempoolParse.mergeOutput(spark, dir)
  private lazy val txs = out.transactions

  override protected def afterAll(): Unit =
    try MempoolParse.releaseMerge(spark, dir)
    finally super.afterAll()

  test("dedup: output hashes are unique and earliest timestamp wins") {
    val n = txs.count()
    assert(n > 0)
    assert(txs.select("hash").distinct().count() == n)
    // duplicate rows (i%10==9) have a later ts; the kept ts must be the base one
    val withDup = TxFixtures.rawRow(9) // duplicates row 0 at later ts
    val base = TxFixtures.rawRow(0)
    assert(withDup._2 == base._2 && withDup._1 > base._1)
    val kept = txs.filter(col("hash") === base._2)
      .select(col("timestamp").cast("long")).collect()
    kept.foreach(r => assert(r.getLong(0) == base._1))
  }

  test("blacklisted hashes are absent") {
    val bl = MempoolParse.rawTxs(spark, dir)
      .filter(col("timestamp_ms") % 31 === 0).select("hash")
    assert(txs.join(bl, Seq("hash"), "left_semi").count() == 0)
  }

  test("trash holds invalid-signature rows with reasons") {
    val trash = out.trash
    assert(trash.count() > 0)
    val reasons = trash.select("reason").distinct().collect().map(_.getString(0)).toSet
    assert(reasons.contains("signature-error"))
    // no overlap between archive and trash
    assert(txs.join(out.trash.select("hash"), Seq("hash"), "left_semi").count() == 0)
  }

  test("F1: included-before-received rows are discarded") {
    val bad = txs.filter(col("includedAtBlockHeight") > 0 &&
      col("inclusionDelayMs") <= -12000)
    assert(bad.count() == 0)
    // but some enriched rows exist
    assert(txs.filter(col("includedAtBlockHeight") > 0).count() > 0)
  }

  test("sources are attached in first-receipt order") {
    val multi = txs.filter(size(col("sources")) > 1)
    assert(multi.count() > 0)
    assert(txs.filter(size(col("sources")) === 0).count() == 0)
  }

  test("analyzer summary renders with consistent counts") {
    val s = Analyze.summarize(txs)
    assert(s.nUnique == txs.count())
    assert(s.nIncluded + s.nNotIncluded == s.nUnique)
    val report = Analyze.sprint(s)
    assert(report.contains("Unique transactions:"))
    assert(report.contains("| Tx Type |"))
    assert(s.perType.nonEmpty && s.perSource.nonEmpty)
  }

  // Seeded ScalaCheck rows for the aggregate-form differentials: a few
  // hashes and sources and a narrow timestamp range, so groups hold
  // timestamp ties, one hash carries different payloads and (hash, source)
  // pairs repeat; `s` keys 300 independent samples, aggregated in one job.
  // Timestamps are never null: the readers drop such rows before the merge.
  private def sampleRows(what: Gen[String]): Seq[(Int, String, Long, String)] = {
    val row = for {
      h <- Gen.oneOf("0xaa", "0xbb", "0xcc")
      ts <- Gen.chooseNum(1000L, 1003L)
      v <- Gen.frequency(12 -> what, 1 -> Gen.const(null.asInstanceOf[String]))
    } yield (h, ts, v)
    (0 until 300).flatMap { s =>
      Gen.chooseNum(1, 12).flatMap(Gen.listOfN(_, row))
        .apply(Gen.Parameters.default, Seed(11L + s)).toSeq.flatten
        .map { case (h, ts, v) => (s, h, ts, v) }
    }
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("A1 earliestRow equals min(struct) on ties, payload variants and repeats") {
    import spark.implicits._
    val rows = sampleRows(Gen.oneOf("0x01", "0x02", "0x0a", "0x0b"))
    val in = spark.sparkContext.parallelize(rows, 4)
      .toDF("s", "hash", "timestamp_ms", "raw_tx_hex")
    def dedup(f: (Column, Column) => Column) = in.groupBy("s", "hash")
      .agg(f(col("timestamp_ms"), col("raw_tx_hex")).as("f"))
      .select(col("s"), col("hash"), col("f.timestamp_ms"), col("f.raw_tx_hex"))
    val old = sorted(dedup((ts, v) => min(struct(ts, v))))
    assert(old == sorted(dedup((ts, v) => Merge.earliestRow(ts, v))))
    // the samples hold what the form must get right
    val groups = rows.groupBy(r => (r._1, r._2)).values
    assert(groups.exists(g => g.map(_._4).distinct.size > 1 &&
      g.groupBy(_._3).values.exists(_.map(_._4).distinct.size > 1)),
      "no timestamp tie between different payloads")
    assert(groups.exists(g => g.size > g.distinct.size), "no repeated row")
  }

  test("A2 sourcesByFirstSeen equals the per-(hash, source) min then sorted list") {
    import spark.implicits._
    val rows = sampleRows(Gen.oneOf("a", "b", "c", "d"))
    val in = spark.sparkContext.parallelize(rows, 4)
      .toDF("s", "hash", "timestamp_ms", "source")
    val old = in.groupBy("s", "hash", "source").agg(min("timestamp_ms").as("first_ts"))
      .groupBy("s", "hash")
      .agg(transform(array_sort(collect_list(struct(col("first_ts"), col("source")))),
        x => x.getField("source")).as("sources"))
    val now = in.groupBy("s", "hash")
      .agg(Merge.sourcesByFirstSeen(col("timestamp_ms"), col("source")).as("sources"))
    assert(sorted(old) == sorted(now))
    val groups = rows.groupBy(r => (r._1, r._2, r._4)).values
    assert(groups.exists(_.map(_._3).distinct.size > 1), "no (hash, source) seen twice")
    assert(rows.groupBy(r => (r._1, r._2, r._3)).values.exists(_.map(_._4).distinct.size > 1),
      "no timestamp tie between sources")
  }

  test("sourcelog merge: earliest per (hash, source), normalized, frozen layout") {
    import spark.implicits._
    val h1 = "0x" + "a" * 64
    val h2 = "0x" + "b" * 64
    val in = Seq(
      (1500L, h1, "https://eth-mainnet.alchemy.com/v2/key"), // dup, later
      (1000L, h1, "wss://x.alchemy.com/v2/key"), // same tag after P5
      (2000L, h1, "bloxroute"),
      (3000L, h2, "local"),
      (2500L, h2, "local")) // dup, earlier wins
      .toDF("timestamp_ms", "hash", "source")
    val merged = Merge.mergeSourcelog(in)
    assert(merged.columns.toSeq == Seq("timestamp_ms", "hash", "source"))
    val rows = merged.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1000L, h1, "alchemy"), (2000L, h1, "bloxroute"), (2500L, h2, "local")))
    // sink writes the reference's ts-sorted csv layout
    val tmp = java.nio.file.Files.createTempDirectory("graft-slmerge").toString
    Sinks.writeSourcelogCsv(merged, s"$tmp/out")
    val back = spark.read.option("header", "true").csv(s"$tmp/out")
    assert(back.columns.toSeq == Seq("timestamp_ms", "hash", "source"))
    assert(back.count() == 3)
  }

  test("trash merge: earliest entry per (hash, source) carries reason/notes") {
    import spark.implicits._
    val h = "0x" + "c" * 64
    val in = Seq(
      (2000L, h, "local", "signature-error", "late"),
      (1000L, h, "local", "tx-already-onchain", null.asInstanceOf[String]),
      (1500L, h, "bloxroute", "signature-error", "x"))
      .toDF("timestamp_ms", "hash", "source", "reason", "notes")
    val merged = Merge.mergeTrash(in)
    assert(merged.columns.toSeq ==
      Seq("timestamp_ms", "hash", "source", "reason", "notes"))
    val rows = merged.collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getString(4))).toSet
    assert(rows == Set(
      (1000L, "local", "tx-already-onchain", ""),
      (1500L, "bloxroute", "signature-error", "x")))
  }

  test("raw-tx csv: timestamp_ms,hash,raw_tx with 0x hex payload") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rawtx").toString
    Sinks.writeRawTxCsv(txs, s"$tmp/out")
    val back = spark.read.option("header", "true").csv(s"$tmp/out")
    assert(back.columns.toSeq == Seq("timestamp_ms", "hash", "raw_tx"))
    assert(back.count() == txs.count())
    // payload round-trips: re-parsing a dumped line's raw_tx gives its hash
    val r = back.orderBy("hash").limit(1).collect()(0)
    assert(r.getString(2).matches("0x[0-9a-f]+"))
    val reparsed = graft.functions.EthTx.decodeHex(r.getString(2))
    assert(reparsed.hash == r.getString(1))
  }

  test("archive layout: TIMESTAMP_MILLIS annotation + field-exact round-trip") {
    // mirrors the reference's TestParquet (common/common_test.go:58-127):
    // one parsed tx -> archive -> read back -> every field equal
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsms").toString
    val one = txs.orderBy("hash").limit(1).cache()
    Sinks.writeParquetArchive(one, s"$tmp/archive")

    // physical check: the footer's timestamp columns carry the
    // TIMESTAMP(MILLIS) logical annotation on INT64, like the reference's
    // parquet tags (common/txsummary.go:42,65)
    val part = new java.io.File(s"$tmp/archive").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val schema = footer.getFooter.getFileMetaData.getSchema
      for (c <- Seq("timestamp", "includedBlockTimestamp")) {
        val t = schema.getType(Seq(c): _*).asPrimitiveType()
        assert(t.getPrimitiveTypeName.toString == "INT64", s"$c physical type")
        assert(Option(t.getLogicalTypeAnnotation).map(_.toString).exists(_.startsWith("TIMESTAMP(MILLIS")),
          s"$c logical annotation: ${t.getLogicalTypeAnnotation}")
      }
    } finally footer.close()

    // logical check: read-back equals the source row, field for field
    val back = graft.ops.Sources.readArchive(spark, s"$tmp/archive")
    assert(back.schema.fieldNames.toSeq == one.schema.fieldNames.toSeq)
    val a = one.collect()(0)
    val b = back.collect()(0)
    one.schema.fieldNames.zipWithIndex.foreach { case (name, i) =>
      (a.get(i), b.get(i)) match {
        case (x: Array[Byte], y: Array[Byte]) => assert(x.sameElements(y), name)
        case (x: Seq[_], y: Seq[_]) => assert(x == y, name)
        case (x, y) => assert(x == y, s"$name: $x != $y")
      }
    }
    one.unpersist()
  }

  test("daily archive: day=… partitions, same file format, lossless read-back") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-daily").toString
    Sinks.writeDailyArchive(txs, s"$tmp/archive",
      date_format(timestamp_millis(col("timestamp").cast("long")), "yyyy-MM-dd"))
    // layout: hive-style day partitions, gzip parquet files inside
    val dayDirs = new java.io.File(s"$tmp/archive").listFiles()
      .filter(_.getName.startsWith("day="))
    assert(dayDirs.nonEmpty, "no day= partition directories")
    assert(dayDirs.forall(_.listFiles().exists(f =>
      f.getName.endsWith(".gz.parquet"))), "partition files not gzip parquet")
    // read-back: every row lands in the partition of its own receive day,
    // and nothing is lost or duplicated across the split
    val back = spark.read.parquet(s"$tmp/archive")
    assert(back.count() == txs.count())
    assert(back.filter(date_format(col("timestamp"), "yyyy-MM-dd") =!=
      col("day").cast("string")).count() == 0, "a row crossed into the wrong day")
    assert(back.select("hash").distinct().count() ==
      txs.select("hash").distinct().count())
  }

  test("daily archive compaction: fewer files, identical data, idempotent") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // a fragmented two-day archive: 8 files per day for a few hundred rows
    val rows = (0 until 400).map(i =>
      (i.toLong, if (i % 2 == 0) "2024-01-01" else "2024-01-02", s"payload-$i"))
      .toDF("id", "day", "body")
    rows.repartition(8).write.partitionBy("day")
      .option("compression", "gzip").parquet(s"$tmp/archive")
    def fileCount(day: String) =
      new java.io.File(s"$tmp/archive/day=$day").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    assert(fileCount("2024-01-01") == 8, "fixture not fragmented as expected")
    val before = spark.read.parquet(s"$tmp/archive")
      .orderBy("id").collect().map(_.toString).toSeq

    val done = Sinks.compactDailyArchive(spark, s"$tmp/archive")
    assert(done.keySet == Set("day=2024-01-01", "day=2024-01-02"))
    assert(done.values.forall { case (b, a) => b == 8 && a == 1 },
      s"expected 8 -> 1 per day, got $done")
    assert(fileCount("2024-01-01") == 1 && fileCount("2024-01-02") == 1)
    // data identical after the swap, day partitioning intact
    val after = spark.read.parquet(s"$tmp/archive")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(after == before, "compaction changed the data")
    assert(spark.read.parquet(s"$tmp/archive")
      .filter(col("day") === lit("2024-01-01").cast("date")).count() == 200)
    // no staging debris, and a second pass is a no-op
    assert(new java.io.File(s"$tmp/archive").listFiles()
      .forall(f => !f.getName.startsWith(".compact-") && !f.getName.startsWith(".old-")))
    assert(Sinks.compactDailyArchive(spark, s"$tmp/archive").isEmpty,
      "re-compaction must be a no-op")

    // the same pass serves the NESTED hourly layout (date=…/hour=…)
    rows.withColumn("hour", (col("id") % 2).cast("int"))
      .repartition(6).write.partitionBy("day", "hour")
      .option("compression", "gzip").parquet(s"$tmp/hourly")
    val hb = spark.read.parquet(s"$tmp/hourly").orderBy("id")
      .collect().map(_.toString).toSeq
    val doneH = Sinks.compactDailyArchive(spark, s"$tmp/hourly")
    assert(doneH.keySet.forall(k => k.matches("day=.*/hour=.*")), s"keys: $doneH")
    assert(doneH.nonEmpty && doneH.values.forall { case (b, a) => b == 6 && a == 1 })
    assert(spark.read.parquet(s"$tmp/hourly").orderBy("id")
      .collect().map(_.toString).toSeq == hb, "hourly compaction changed the data")
  }

  test("sinks: parquet archive + metadata csv round-trip") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sinks").toString
    Sinks.writeParquetArchive(txs, s"$tmp/archive")
    val back = spark.read.parquet(s"$tmp/archive")
    assert(back.count() == txs.count())
    assert(back.columns.toSeq == txs.columns.toSeq)
    Sinks.writeMetadataCsv(txs, s"$tmp/meta")
    val meta = spark.read.option("header", "true").csv(s"$tmp/meta")
    assert(meta.columns.toSeq == Sinks.MetadataCsvColumns)
    assert(meta.count() == txs.count())
  }
}
