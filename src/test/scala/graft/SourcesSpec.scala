package graft

import graft.functions.TxFixtures
import graft.jobs.Merge
import graft.ops.{Sinks, Sources}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.JobCounter
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** File-to-file pipeline: collector CSV layouts in → merge → archive out,
  * exercising S1/S3 readers against S11/S12 writers. */
class SourcesSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private var nanosAsLong: Option[String] = None

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    nanosAsLong = spark.conf.getAll.get(NanosAsLong)
  }

  // Tables.events sets the key for the plans it returns, and the daily
  // events archive this suite reads is written by now
  override protected def afterAll(): Unit =
    try nanosAsLong.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
    finally super.afterAll()

  test("collector CSVs -> merge -> parquet archive round-trip") {
    val dir = Files.createTempDirectory("graft-files").toString
    // two tx files with overlap + malformed lines; one sourcelog file
    def txLines(lo: Int, hi: Int): String =
      (lo until hi).map { i =>
        val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
        s"$ts,$hash,$raw"
      }.mkString("\n")
    Files.writeString(Paths.get(s"$dir/tx1.csv"),
      txLines(0, 120) + "\nshort\nbad,0xnothash,00\n")
    Files.writeString(Paths.get(s"$dir/tx2.csv"), txLines(60, 180))
    Files.writeString(Paths.get(s"$dir/sourcelog.csv"),
      (0 until 180).flatMap(i => TxFixtures.sourcelogRows(i.toLong))
        .map { case (ts, h, src) => s"$ts,$h,$src" }.mkString("\n"))
    // blacklist metadata csv: header + hash col at position 1
    val (_, blHash, _) = TxFixtures.rawRow(3L)
    Files.writeString(Paths.get(s"$dir/meta.csv"),
      s"timestamp_ms,hash,chain_id\n123,$blHash,1\n")

    val raw = Sources.readTxCsv(spark, s"$dir/tx1.csv", s"$dir/tx2.csv")
    assert(raw.count() == 240) // malformed lines dropped (120+120 valid)

    val out = Merge.run(spark, Merge.Inputs(
      rawTxs = raw,
      sourcelog = Sources.readSourcelogCsv(spark, s"$dir/sourcelog.csv"),
      blacklist = Some(Sources.readMetadataHashes(spark, s"$dir/meta.csv"))))
    val txs = out.transactions.cache()
    assert(txs.filter(col("hash") === blHash).count() == 0) // blacklisted
    assert(txs.select("hash").distinct().count() == txs.count())

    Sinks.writeParquetArchive(txs, s"$dir/archive")
    val back = Sources.readArchive(spark, s"$dir/archive")
    assert(back.count() == txs.count())
    assert(Sources.readArchive(spark, s"$dir/archive", max = Some(5)).count() == 5)

    Sinks.writeSourcelogCsv(
      Sources.readSourcelogCsv(spark, s"$dir/sourcelog.csv"), s"$dir/sl_out")
    val slBack = Sources.readSourcelogCsv(spark, s"$dir/sl_out/*.csv")
    assert(slBack.count() > 0)
    txs.unpersist()
    out.parsed.unpersist()
  }

  test("readMetadataHashes: column-1 hashes of metadata, two-column, one-column and junk files") {
    val dir = Files.createTempDirectory("graft-meta-hashes").toString
    val h = (0 until 8).map(i => TxFixtures.rawRow(i.toLong)._2)
    def write(name: String, lines: Seq[String]): String = {
      Files.writeString(Paths.get(s"$dir/$name"), lines.mkString("\n") + "\n")
      s"$dir/$name"
    }
    def meta(i: Int): String = (Seq("1693785600000", h(i)) ++
      Seq.fill(Sinks.MetadataCsvColumns.size - 2)("x")).mkString(",")
    val inputs = Seq(
      // the merge job's own metadata CSV: header, 18 columns, hash at column 1
      write("meta.csv", Sinks.MetadataCsvColumns.mkString(",") +: Seq(meta(0), meta(1), meta(2))) ->
        Set(h(0), h(1), h(2)),
      // two columns, one hash in upper case
      write("two.csv", Seq(s"1,${h(3)}", s"2,0x${h(4).drop(2).toUpperCase}")) -> Set(h(3), h(4)),
      // the first line sets the column count; later lines have one column
      write("one.csv", Seq(s"1,${h(5)}", h(6), "7")) -> Set(h(5)),
      // blank and junk lines around one valid row
      write("junk.csv", Seq("a,b,c", "", "x", ",,", "  ", s"9,${h(7)},z", "0xzz,not-a-hash", "\"")) ->
        Set(h(7)))
    inputs.foreach { case (path, want) =>
      // the fixed schema spares the job that counts the first line's columns
      val (df, jobs) = JobCounter(spark.sparkContext)(Sources.readMetadataHashes(spark, path))
      assert(jobs == 0, path)
      val got = df.collect().map(_.getString(0)).toSet
      assert(got == want, path)
    }
    // a file with no column 1 at all has no hashes
    assert(Sources.readMetadataHashes(spark, write("only.csv", Seq(h(6), "7"))).isEmpty)
    val all = Sources.readMetadataHashes(spark, inputs.map(_._1): _*)
      .collect().map(_.getString(0)).toSeq
    assert(all.sorted == inputs.flatMap(_._2).distinct.sorted)
  }

  test("S2: csv-in-zip archives read identically to plain csv") {
    val dir = Files.createTempDirectory("graft-zip").toString
    val lines = (0 until 80).map { i =>
      val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
      s"$ts,$hash,$raw"
    }
    Files.writeString(Paths.get(s"$dir/plain.csv"), lines.mkString("\n"))
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(s"$dir/archive.csv.zip"))
    zos.putNextEntry(new java.util.zip.ZipEntry("part1.csv"))
    zos.write(lines.take(50).mkString("\n").getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("part2.csv"))
    zos.write(lines.drop(50).mkString("\n").getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("notes.txt"))
    zos.write("ignore me".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()

    val plain = Sources.readTxCsv(spark, s"$dir/plain.csv")
    val zipped = Sources.readTxCsvZip(spark, s"$dir/archive.csv.zip")
    assert(zipped.count() == plain.count())
    assert(zipped.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(zipped).count() == 0)
  }

  test("JSONL corpus reader: plain + gzip parity with parquet, bad lines dropped") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // round-trip the real table through plain and gzip'd JSON-lines
    docs.coalesce(1).write.mode("overwrite").json(s"$dir/plain")
    docs.coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").json(s"$dir/gz")
    // a file with malformed + schema-violating lines mixed in
    Files.writeString(Paths.get(s"$dir/plain/bad.json"),
      """not json at all
        |{"doc_id": "NaN-ish", "text": 3}
        |{"doc_id": 999999, "text": "ok doc", "lang": "en", "source": "web", "n_chars": 6}
        |""".stripMargin)
    val n = docs.count()
    val plain = graft.ops.Sources.readDocumentsJsonl(spark, s"$dir/plain")
    val gz = graft.ops.Sources.readDocumentsJsonl(spark, s"$dir/gz")
    // the two bad lines vanish, the one valid extra line survives
    assert(plain.count() == n + 1)
    assert(plain.filter(col("doc_id") === 999999L).count() == 1)
    assert(gz.count() == n)
    // field-exact parity with the parquet rows
    assert(gz.exceptAll(docs).count() == 0 && docs.exceptAll(gz).count() == 0)
  }

  /** readArchive as it was before it read the footer itself: Spark infers. */
  private def inferred(path: String): DataFrame = {
    val df0 = spark.read.parquet(path)
    df0.schema.fields.foldLeft(df0) { (d, f) =>
      if (f.dataType == TimestampType) d.withColumn(f.name, unix_millis(col(f.name)))
      else d
    }
  }

  private def txRows(n: Int): DataFrame = spark.range(n).select(
    (lit(1700000000000L) + col("id") * 3600000L * 7).as("timestamp"),
    format_string("0x%064x", col("id")).as("hash"), (col("id") % 3).as("txType"),
    array(lit("local"), when(col("id") % 2 === 0, "alchemy")).as("sources"),
    (col("id") * 10).as("includedAtBlockHeight"),
    (lit(1700000000000L) + col("id") * 3600000L * 7 + 5000).as("includedBlockTimestamp"),
    lit(5000L).as("inclusionDelayMs"), unhex(lit("02f8")).as("rawTx"))

  /** An archive as the reference's Go writer leaves it: parquet-hadoop
    * example groups, INT64 TIMESTAMP_MILLIS columns, no Spark row metadata. */
  private def writeForeignArchive(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message tx {
        |  required int64 timestamp (TIMESTAMP(MILLIS,true));
        |  required binary hash (STRING);
        |  optional int32 txType (INTEGER(8,false));
        |  optional group sources (LIST) { repeated group list { optional binary element (STRING); } }
        |  optional int64 includedBlockTimestamp (TIMESTAMP(MILLIS,true));
        |  optional binary rawTx;
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet")).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      val g = groups.newGroup().append("timestamp", 1700000000000L + i)
        .append("hash", f"0x$i%064x").append("txType", i % 3)
      g.addGroup("sources").addGroup("list").append("element", "local")
      g.append("includedBlockTimestamp", 1700000012000L + i)
      w.write(g)
    } finally w.close()
  }

  test("readArchive starts no Spark job and keeps Spark's inferred schema") {
    val dir = Files.createTempDirectory("graft-archive-schema").toString
    val txs = txRows(40)
    Sinks.writeDailyArchive(txs, s"$dir/daily",
      date_format(timestamp_millis(col("timestamp")), "yyyy-MM-dd"))
    Sinks.writeParquetArchive(txs, s"$dir/flat")
    Sinks.writeParquetArchive(txs.drop("rawTx"), s"$dir/meta")
    Sinks.writeParquetArchive(txs, s"$dir/.staging/flat")
    Files.createDirectories(Paths.get(s"$dir/foreign"))
    writeForeignArchive(s"$dir/foreign")
    // Spark reads the first file in path order: k=b-c/… before k=b/…, as '-' sorts before '/'
    txs.select("hash").write.parquet(s"$dir/order/k=b")
    txs.select("timestamp").write.parquet(s"$dir/order/k=b-c")
    val events = graft.queries.Core.dailyEventsArchive(spark, "/root/testdata/sf0.001")
    // Spark's committer leaves _SUCCESS and .crc files beside the data
    val flatNames = new java.io.File(s"$dir/flat").list().toSeq
    assert(flatNames.contains("_SUCCESS") && flatNames.exists(_.endsWith(".crc")))

    val archives = Seq(s"$dir/daily", s"$dir/flat", s"$dir/meta", s"$dir/.staging/flat",
      s"$dir/foreign", s"$dir/order", events, s"$dir/flat/part-*")
    archives.foreach { path =>
      val (df, jobs) = JobCounter(spark.sparkContext) {
        val df = Sources.readArchive(spark, path)
        df.schema
        df
      }
      assert(jobs == 0, s"$path: $jobs jobs")
      val want = inferred(path)
      assert(df.schema == want.schema, path)
      assert(df.exceptAll(want).isEmpty && want.exceptAll(df).isEmpty, path)
    }
    assert(Sources.readArchive(spark, s"$dir/daily").schema("day").dataType == DateType)
    assert(Sources.readArchive(spark, s"$dir/foreign").schema("timestamp").dataType == LongType)
    assert(Sources.readArchive(spark, s"$dir/order").columns.toSeq == Seq("timestamp", "k"))
  }

  test("hexHash equals the lower + length + rlike rule it replaces, on ASCII and non-ASCII input") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val hexDigit = Gen.oneOf("0123456789abcdefABCDEF".toSeq)
    // one character swapped in: non-hex ASCII, a line break, or a non-ASCII
    // letter: the Kelvin sign (lower case ASCII k), fullwidth Ａ and ａ,
    // İ (lower case two characters long) and ß
    val odd = "gGzZxX \n\u212A\uFF21\uFF41\u0130\u00DF"
    val gen: Gen[Option[String]] = for {
      prefix <- Gen.oneOf("0x", "0x", "0x", "0X", "0", "Ox", "x0", "")
      n <- Gen.oneOf(63, 64, 64, 64, 65)
      body <- Gen.listOfN(n, hexDigit).map(_.mkString)
      swap <- Gen.frequency(2 -> Gen.const(None),
        1 -> Gen.some(Gen.zip(Gen.chooseNum(0, 65), Gen.oneOf(odd.toSeq))))
      isNull <- Gen.frequency(1 -> true, 15 -> false)
    } yield {
      val s = prefix + body
      val t = swap.fold(s) { case (i, c) => s.patch(i % s.length, c.toString, 1) }
      if (isNull) None else Some(t)
    }
    val in = (0 until 3000).flatMap(i => gen(Gen.Parameters.default, Seed(7L + i)))
    val bytes = (0 until 50).map(i => Array.tabulate(i * 7)(j => (i * 31 + j * 17).toByte))
    import spark.implicits._
    val folded = lower(col("s"))
    val old = when(length(folded) === 66 && folded.rlike("^0x[0-9a-f]{64}$"), folded)
    val got = in.toDF("s")
      .select(col("s"), Sources.hexHash(col("s")), old).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), Option(r.getString(2))))
    got.foreach { case (s, now, was) => assert(now == was, s"input $s") }
    val valid = got.filter(_._2.nonEmpty)
    // the sample reaches both outcomes, folded input and every odd character
    assert(valid.size > 300 && got.count(r => r._1.nonEmpty && r._2.isEmpty) > 300)
    assert(valid.count(r => r._1 != r._2) > 100, "too few upper-case valid inputs")
    assert(got.exists(_._1.isEmpty))
    odd.foreach(c =>
      assert(got.exists(_._1.exists(_.contains(c))), s"no input holds U+${c.toInt.toHexString}"))
    // the raw-tx sink's payload fold
    val hexes = bytes.toDF("b").select(Sources.lowerHex(hex(col("b"))), lower(hex(col("b"))))
      .collect()
    hexes.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("readArchive without a data file fails as Spark's inference does") {
    val dir = Files.createTempDirectory("graft-archive-empty").toString
    Files.createDirectories(Paths.get(s"$dir/empty"))
    Files.writeString(Paths.get(s"$dir/empty/_SUCCESS"), "")
    // files only in a subdirectory that is no partition (k=v) directory
    spark.range(3).write.parquet(s"$dir/nested/sub")
    Seq(s"$dir/missing", s"$dir/empty", s"$dir/none-*", s"$dir/nested").foreach { path =>
      val want = intercept[AnalysisException](spark.read.parquet(path))
      val got = intercept[AnalysisException](Sources.readArchive(spark, path))
      assert(got.getCondition == want.getCondition, path)
    }
  }
}
