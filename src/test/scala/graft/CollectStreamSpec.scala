package graft

import graft.functions.TxFixtures
import graft.ops.SessionConf
import graft.streaming.{Collect, FeedConnector, WsFraming}
import java.nio.file.Files
import org.apache.spark.JobCounter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming collector semantics, driven synchronously: fixture CSV files
  * play the role of WS feed batches (spark_guide.md memory-sink pattern). */
class CollectStreamSpec extends AnyFunSuite with SessionLeakCheck {
  import CollectStreamSpec._
  private lazy val spark = SparkTestSession.spark

  private def writeFeed(dir: String, n: Int): Unit = {
    // two files with an overlapping duplicate range (dup suppression work)
    def rows(lo: Int, hi: Int): String =
      (lo until hi).map { i =>
        val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
        s"$ts,$hash,$raw,src${i % 3}"
      }.mkString("\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/feed1.csv"), rows(0, n))
    Files.writeString(java.nio.file.Paths.get(s"$dir/feed2.csv"), rows(n / 2, n))
  }

  test("streaming dedup suppresses duplicates within the watermark") {
    val in = Files.createTempDirectory("graft-feed").toString
    writeFeed(in, 200)
    val deduped = Collect.dedup(Collect.feed(spark, in))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_out")
      val n = out.count()
      // 200 generated + 100 re-sent; rawRow dups every 10th → 180 unique
      assert(out.select("hash").distinct().count() == n)
      assert(n == 180, s"expected 180 unique hashes, got $n")
    } finally q.stop()
  }

  test("stateful TTL dedup (flatMapGroupsWithState) matches the built-in path") {
    val in = Files.createTempDirectory("graft-feed-st").toString
    writeFeed(in, 200)
    val qa = Collect.dedup(Collect.feed(spark, in))
      .writeStream.format("memory").queryName("dedup_builtin")
      .trigger(Trigger.ProcessingTime(100)).start()
    val qb = Collect.dedupStateful(Collect.feed(spark, in))
      .writeStream.format("memory").queryName("dedup_state")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      qa.processAllAvailable()
      qb.processAllAvailable()
      def rows(t: String) = spark.table(t)
        .select("timestamp_ms", "hash", "raw_tx_hex", "source")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      val (a, b) = (rows("dedup_builtin"), rows("dedup_state"))
      assert(b.length == b.map(_._2).distinct.length, "stateful path emitted a dup")
      assert(a.toSet == b.toSet,
        s"paths disagree: builtin=${a.length} stateful=${b.length}")
      assert(b.length == 180) // 200 + 100 re-sent, every 10th hash repeats
    } finally { qa.stop(); qb.stop() }
  }

  test("TTL dedup state is provider-agnostic: RocksDB emits the identical set") {
    // The 100 TB state path: the provider Collect.useRocksDbState sets
    // switches the session to the disk-backed RocksDB store (state bounded
    // by disk, not executor heap), here only for this test's queries. Both custom flatMapGroupsWithState state and the
    // built-in dropDuplicatesWithinWatermark must emit exactly the rows
    // the default HDFS-backed provider does.
    val in = Files.createTempDirectory("graft-feed-rdb").toString
    writeFeed(in, 200)
    SessionConf.withConf(spark, Collect.StateStoreProvider -> Collect.RocksDbProvider) {
      val qs = Seq(
        Collect.dedupStateful(Collect.feed(spark, in))
          .writeStream.format("memory").queryName("dedup_rdb_state")
          .trigger(Trigger.AvailableNow()).start(),
        Collect.dedup(Collect.feed(spark, in))
          .writeStream.format("memory").queryName("dedup_rdb_builtin")
          .trigger(Trigger.AvailableNow()).start())
      try {
        qs.foreach(_.processAllAvailable())
        // every started query really ran on RocksDB, not a silent
        // fallback: the provider publishes its own rocksdb* custom
        // metrics on the state operator
        qs.foreach { q =>
          import scala.jdk.CollectionConverters._
          val keys = q.recentProgress.flatMap(_.stateOperators)
            .flatMap(_.customMetrics.keySet().asScala)
          assert(keys.exists(_.toLowerCase.contains("rocksdb")),
            s"${q.name}: no rocksdb state metrics — provider fell back? keys=${keys.distinct.toSeq}")
        }
        def rows(t: String) = spark.table(t)
          .select("timestamp_ms", "hash", "raw_tx_hex", "source")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
        val (a, b) = (rows("dedup_rdb_state"), rows("dedup_rdb_builtin"))
        assert(a.toSet == b.toSet && a.length == 180,
          s"RocksDB emission diverged: state=${a.length} builtin=${b.length}")
      } finally qs.foreach(_.stop())
    }
  }

  test("TTL boundary: re-arrival before 30 min suppressed, after expiry re-emitted") {
    // The reference sweeps knownTxs once a minute and drops entries older
    // than 30 min (collector/tx_processor.go:501-508) — a hash seen again
    // AFTER that is a fresh emission. Virtual time via MemoryStream: each
    // addData is one micro-batch, and batch N's watermark derives from
    // batch N-1's max event time, so the timeline below drives both dedup
    // paths across the exact expiry deterministically:
    //   b1 A,B @ t0         → both emitted, TTL set to t0+30m
    //   b2 A   @ t0+29m     → inside TTL: suppressed
    //   b3 C   @ t0+61m     → filler; watermark still t0-1m, A survives
    //   b4 D   @ t0+62m     → watermark advances past t0+30m
    //   b5 E   @ t0+63m     → A has no data and the watermark exceeds its
    //                         TTL: A,B evicted (timeout processing sees
    //                         the watermark one batch late, and eviction
    //                         needs a data-less batch for the key —
    //                         exactly the reference's sweeper shape)
    //   b6 A   @ t0+64m     → state gone: RE-EMITTED
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    def row(hash: String, offsetMin: Double) = {
      val ms = t0 + (offsetMin * 60000L).toLong
      Collect.FeedRow(ms, hash, s"0xraw-$hash", "src0", new java.sql.Timestamp(ms))
    }
    val batches = Seq(
      Seq(row("0xa", 0), row("0xb", 0)),
      Seq(row("0xa", 29)),
      Seq(row("0xc", 61)),
      Seq(row("0xd", 62)),
      Seq(row("0xe", 63)),
      Seq(row("0xa", 64)))
    for ((path, name) <- Seq(
        (Collect.dedupStateful(_: org.apache.spark.sql.DataFrame), "ttl_state"),
        (Collect.dedup(_: org.apache.spark.sql.DataFrame), "ttl_builtin"))) {
      val mem = MemoryStream[Collect.FeedRow]
      val q = path(mem.toDF()).writeStream.format("memory").queryName(name)
        .trigger(Trigger.ProcessingTime(50)).start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      val got = spark.table(name)
        .select("hash", "timestamp_ms").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == Set(
        ("0xa", t0), ("0xb", t0),                    // first arrivals
        ("0xc", t0 + 61 * 60000L), ("0xd", t0 + 62 * 60000L),
        ("0xe", t0 + 63 * 60000L),
        ("0xa", t0 + 64 * 60000L)),                  // post-expiry re-emit
        s"$name: got $got")
    }
  }

  test("stateful dedup emits a first row whose TTL already passed in event time") {
    // The late-row filter compares against the PREVIOUS batch's watermark,
    // the timeout against the current one. A feed whose event time steps
    // back 20 minutes per file reaches batch 1 (files 16-31, 16 files a
    // trigger) with rows more than 30 minutes behind batch 0's max: they
    // pass the filter, but a timeout at ts + 30 min would sit behind the
    // watermark, which Spark refuses with an IllegalArgumentException
    // that kills the query. Such a row is emitted with no state kept;
    // batch 2's rows are behind batch 1's watermark and dropped as late,
    // which both dedup paths count in the late-row counter.
    import graft.streaming.Collect.{dedup, dedupStateful, feed, startCollector}
    import graft.streaming.{CollectorMetrics, GraftMetricsListener}
    val in = Files.createTempDirectory("graft-feed-late").toString
    val out = Files.createTempDirectory("graft-collect-late").toString
    val t0 = 1693785600000L
    val mtime0 = System.currentTimeMillis() - 3600000L
    // three distinct txs a file (rawRow repeats every 10th hash: skipped)
    val ids = (0L until 200L).filter(_ % 10 != 9).grouped(3).take(40).toSeq
    val hashesByFile = ids.zipWithIndex.map { case (grp, f) =>
      val ts = t0 - f * 20L * 60000L
      val lines = grp.map { i =>
        val (_, hash, raw) = TxFixtures.rawRow(i)
        (hash, s"$ts,$hash,$raw,src${i % 3}")
      }
      val file = Files.writeString(java.nio.file.Paths.get(in, f"feed$f%02d.csv"),
        lines.map(_._2).mkString("\n"))
      // the file source takes each trigger's files in mtime order
      Files.setLastModifiedTime(file,
        java.nio.file.attribute.FileTime.fromMillis(mtime0 + f * 1000L))
      lines.map(_._1)
    }
    // the drained query and the rows its listener counted as late
    def drain(dedupWith: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        dir: String) = {
      val metrics = new CollectorMetrics
      val listener = new GraftMetricsListener(metrics)
      spark.streams.addListener(listener)
      try {
        val q = startCollector(feed(spark, in), dir, Trigger.AvailableNow(), None, dedupWith, _ => ())
        try q.awaitTermination() finally q.stop()
        // progress reaches listeners asynchronously
        val deadline = System.nanoTime() + 10000000000L
        while (metrics.get(CollectorMetrics.TxDroppedLate) < 24 && System.nanoTime() < deadline)
          Thread.sleep(50)
        (q, metrics.get(CollectorMetrics.TxDroppedLate))
      } finally spark.streams.removeListener(listener)
    }
    val (q, late) = drain(dedupStateful, out)
    assert(q.exception.isEmpty, s"collector failed: ${q.exception}")
    assert(late == 24, "batch 2's 8 files of 3 rows are the late rows")
    val (builtin, builtinLate) = drain(dedup, Files.createTempDirectory("graft-collect-late-b").toString)
    assert(builtin.exception.isEmpty && builtinLate == 24, s"built-in dedup: $builtinLate late rows")
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      "the feed no longer splits into three 16-file batches")
    val got = spark.read.csv(s"$out/transactions").select("_c1")
      .union(spark.read.csv(s"$out/trash").select("_c1"))
      .collect().map(_.getString(0)).toSeq
    assert(got.length == got.distinct.length, "a hash was emitted twice")
    assert(got.toSet == hashesByFile.take(32).flatten.toSet,
      s"expected exactly batches 0-1's rows, got ${got.length}")
  }

  test("validation split + hourly bucketed file sink end-to-end") {
    val in = Files.createTempDirectory("graft-feed2").toString
    val out = Files.createTempDirectory("graft-collect").toString
    writeFeed(in, 120)
    val queries = Collect.run(spark, in, out, Trigger.ProcessingTime(100))
    try {
      queries.foreach(_.processAllAvailable())
      val txs = spark.read.schema(
        "timestamp_ms LONG, hash STRING, raw_tx_hex STRING, source STRING")
        .csv(s"$out/transactions/*/*/")
      val trash = spark.read
        .schema("timestamp_ms LONG, hash STRING, source STRING, reason STRING, notes STRING")
        .csv(s"$out/trash")
      assert(txs.count() > 0 && trash.count() > 0)
      // split is exclusive and complete wrt the deduped stream
      assert(txs.join(trash, Seq("hash"), "left_semi").count() == 0)
      assert(trash.select("reason").distinct().collect()
        .map(_.getString(0)).toSet.contains("signature-error"))
      // hour-bucketed layout exists: date=…/hour=… dirs
      val dirs = new java.io.File(s"$out/transactions").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(dirs.exists(_.startsWith("date=")))
    } finally queries.foreach(_.stop())
  }

  test("collector restarts from checkpoint: no loss, no duplicate output") {
    // the ops property the checkpoint exists for: stop mid-ingest, add
    // data, restart on the same checkpoint — committed batches must not
    // be re-emitted and the new ones must land exactly once
    val in = Files.createTempDirectory("graft-feed-rs").toString
    val out = Files.createTempDirectory("graft-collect-rs").toString
    def rows(lo: Int, hi: Int): String =
      (lo until hi).map { i =>
        val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
        s"$ts,$hash,$raw,src${i % 3}"
      }.mkString("\n")
    Files.writeString(java.nio.file.Paths.get(s"$in/phase1.csv"), rows(0, 30))
    val qs1 = Collect.run(spark, in, out, Trigger.ProcessingTime(100))
    try qs1.foreach(_.processAllAvailable()) finally qs1.foreach(_.stop())

    Files.writeString(java.nio.file.Paths.get(s"$in/phase2.csv"), rows(30, 60))
    val qs2 = Collect.run(spark, in, out, Trigger.ProcessingTime(100))
    try qs2.foreach(_.processAllAvailable()) finally qs2.foreach(_.stop())

    val txs = spark.read.schema(
      "timestamp_ms LONG, hash STRING, raw_tx_hex STRING, source STRING")
      .csv(s"$out/transactions/*/*/")
    val trash = spark.read
      .schema("timestamp_ms LONG, hash STRING, source STRING, reason STRING, notes STRING")
      .csv(s"$out/trash")
    // exactly-once across the restart: every fixture hash appears exactly
    // once across the valid/trash split (rawRow repeats every 10th hash —
    // those are dup-suppressed, like the single-run pipeline)
    val expected = (0 until 60).map(i => TxFixtures.rawRow(i.toLong)._2).toSet
    val got = txs.select("hash").unionAll(trash.select("hash")).collect()
      .map(_.getString(0))
    assert(got.toSet == expected, "restart lost rows")
    assert(got.length == got.distinct.length,
      "restart re-emitted rows already committed before the stop")
  }

  test("collector crash between the two publishes: the replay republishes the batch once") {
    import graft.streaming.Collect.{dedupStateful, feed, startCollector}
    val in = Files.createTempDirectory("graft-feed-crash").toString
    writeFeed(in, 120)
    def drain(out: String, fault: Long => Unit): Unit = {
      val q = startCollector(feed(spark, in), out, Trigger.AvailableNow(), None,
        dedupStateful, fault)
      try q.awaitTermination() finally q.stop()
    }
    def rows(out: String): (Seq[String], Seq[String]) = (
      spark.read.csv(s"$out/transactions").collect().map(_.toString).sorted.toSeq,
      spark.read.csv(s"$out/trash").collect().map(_.toString).sorted.toSeq)
    /** Published data files per (dir, batch id). */
    def filesByBatch(out: String): Map[(String, String), Int] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(out)
      Files.walk(root).iterator().asScala.toSeq
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("batch-"))
        .map(p => (root.relativize(p.getParent).toString,
          p.getFileName.toString.split('-')(1)))
        .filter(_._1.split('/').head != "_chk")
        .groupBy(identity).map { case (k, v) => k -> v.size }
    }

    val ref = Files.createTempDirectory("graft-collect-ref").toString
    drain(ref, _ => ())
    val out = Files.createTempDirectory("graft-collect-crash").toString
    intercept[Exception](drain(out, _ => throw new IllegalStateException("injected crash")))
    // half-published: batch 0's transactions are out, its trash is not
    assert(filesByBatch(out).keySet.map(_._1).forall(_.startsWith("transactions/")))
    assert(filesByBatch(out).nonEmpty)
    drain(out, _ => ())

    val (refTx, refTrash) = rows(ref)
    assert(refTx.nonEmpty && refTrash.nonEmpty)
    assert(rows(out) == ((refTx, refTrash)))
    assert(filesByBatch(out) == filesByBatch(ref))
    assert(!new java.io.File(s"$out/_staging/0").exists())
  }

  test("a replayed batch replaces its own files by name and leaves other batches' files") {
    import graft.streaming.Collect.{dedupStateful, feed, startCollector}
    import scala.jdk.CollectionConverters._
    val in = Files.createTempDirectory("graft-feed-replay").toString
    writeFeed(in, 120)
    def drain(out: String, fault: Long => Unit): Unit = {
      val q = startCollector(feed(spark, in), out, Trigger.AvailableNow(), None,
        dedupStateful, fault)
      try q.awaitTermination() finally q.stop()
    }
    /** Published data files under `dir` (relative path → text). */
    def tree(dir: String): Map[String, String] = {
      val root = java.nio.file.Paths.get(dir)
      Files.walk(root).iterator().asScala.toSeq
        .map(root.relativize)
        .filter(p => Files.isRegularFile(root.resolve(p)) &&
          !p.iterator().asScala.exists(s => s.toString.startsWith("_") || s.toString.startsWith(".")))
        .map(p => p.toString -> Files.readString(root.resolve(p))).toMap
    }

    val ref = Files.createTempDirectory("graft-collect-replay-ref").toString
    drain(ref, _ => ())
    val out = Files.createTempDirectory("graft-collect-replay").toString
    val trash = java.nio.file.Paths.get(out, "trash")
    Files.createDirectories(trash)
    // other batches' files, and a stale file for every task number batch 0
    // can write (the session runs 4 shuffle partitions)
    val others = Map("batch-1000-part-00000.csv" -> "1,0xother,src0,r,\n",
      "batch-10-part-00002.csv" -> "2,0xother,src1,r,\n")
    val old = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    others.foreach { case (name, body) =>
      Files.setLastModifiedTime(Files.writeString(trash.resolve(name), body), old)
    }
    (0 until 4).foreach(k => Files.writeString(trash.resolve(f"batch-0-part-$k%05d.csv"), "stale\n"))
    intercept[Exception](drain(out, _ => throw new IllegalStateException("injected crash")))
    drain(out, _ => ())

    val (got, want) = (tree(out), tree(ref))
    assert(want.keySet.exists(_.startsWith("trash/batch-0-")))
    assert(got == want ++ others.map { case (n, b) => s"trash/$n" -> b })
    others.keys.foreach(n => assert(Files.getLastModifiedTime(trash.resolve(n)) == old))
  }

  test("a collector drain runs one Spark job per micro-batch and persists nothing") {
    val in = Files.createTempDirectory("graft-feed-jobs").toString
    val out = Files.createTempDirectory("graft-collect-jobs").toString
    // 20 files of 10 rows: two data batches at 16 files a trigger
    (0 until 20).foreach { f =>
      Files.writeString(java.nio.file.Paths.get(f"$in/feed-$f%02d.csv"),
        (f * 10 until f * 10 + 10).map { i =>
          val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
          s"$ts,$hash,$raw,src${i % 3}"
        }.mkString("\n"))
    }
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet.toSet
    // (job group, batch id, RDDs persisted since the drain began) per job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Set[Int])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((
        e.properties.getProperty("spark.jobGroup.id"),
        e.properties.getProperty("streaming.sql.batchId"),
        sc.getPersistentRDDs.keySet.toSet -- pinnedBefore))
    }
    sc.addSparkListener(listener)
    val q = try {
      val q = Collect.runWith(Collect.feed(spark, in), out, Trigger.AvailableNow(),
        Some(Seq("src0", "src1", "src2"))).head
      try q.awaitTermination() finally q.stop()
      JobCounter.settle(sc)
      q
    } finally sc.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val progress = q.recentProgress.toSeq
    assert(progress.count(_.numInputRows > 0) == 2)
    val mine = jobs.asScala.toSeq.filter(_._1 == q.runId.toString)
    assert(mine.groupBy(_._2).map { case (b, js) => b -> js.size } ==
      progress.map(_.batchId.toString -> 1).toMap)
    assert(mine.forall(_._3.isEmpty))
    assert((sc.getPersistentRDDs.keySet.toSet -- pinnedBefore).isEmpty)
    // the plan's observations count each row once: 200 received, and the
    // 180 unique hashes split into the two sinks' rows
    def observed(stage: String) = progress.flatMap(p =>
      Option(p.observedMetrics.get(s"graft_$stage"))).map(_.getAs[Long]("total")).sum
    val txs = spark.read.csv(s"$out/transactions").count()
    val trashRows = spark.read.csv(s"$out/trash").count()
    assert(observed("received") == 200)
    assert(observed("first") == txs && observed("trash") == trashRows && txs + trashRows == 180)
  }

  test("collector sink lines equal DataFrame.write.csv output of the same rows") {
    import spark.implicits._
    val ts = Some(java.sql.Timestamp.from(java.time.Instant.parse("2023-09-04T07:15:00Z")))
    val rows = Seq[(Option[Long], Option[String], Option[String], Option[String],
        Option[java.sql.Timestamp], Option[String])](
      (Some(1L), Some("0xaa"), Some("0x01"), Some("a,b \"c\"\nd"), ts, None),
      (Some(2L), None, Some("0x02"), None, ts, None),
      (Some(3L), Some("0xcc"), Some("0x03"), Some(""), None, None),
      (None, Some("0xbb"), Some("0x04"), Some("x,\"y\"\n"), ts, Some("decode-error")),
      (Some(5L), None, None, None, ts, Some("signature-error")))
      .toDF("timestamp_ms", "hash", "raw_tx_hex", "source", "ts", "reason")
      .withColumn("id", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft-sink-lines")
    rows.select("id").as[Long].collect().foreach { id =>
      val one = rows.filter(col("id") === id)
      val base = dir.resolve(id.toString)
      // the per-sink writes the collector ran before it wrote both in one pass
      one.filter(col("reason").isNull)
        .select(col("timestamp_ms"), col("hash"), col("raw_tx_hex"), col("source"),
          date_format(col("ts"), "yyyy-MM-dd").as("date"),
          date_format(col("ts"), "HH").as("hour"))
        .write.partitionBy("date", "hour").csv(base.resolve("transactions").toString)
      one.filter(col("reason").isNotNull)
        .select(col("timestamp_ms"), col("hash"), col("source"),
          col("reason"), lit("").as("notes"))
        .write.csv(base.resolve("trash").toString)
      import scala.jdk.CollectionConverters._
      val Seq(file) = Files.walk(base).iterator().asScala.toSeq.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") && Files.size(p) > 0)
      val Array(line) = Collect.sinkLines(one).collect()
      assert(line.getString(0) == base.relativize(file.getParent).toString)
      assert(line.getString(1) + "\n" == Files.readString(file))
    }
  }

  test("collector refuses an output dir that holds per-sink checkpoints") {
    val in = Files.createTempDirectory("graft-feed-old").toString
    writeFeed(in, 10)
    val out = Files.createTempDirectory("graft-collect-old").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$out/_chk/trash"))
    val e = intercept[IllegalStateException](
      Collect.run(spark, in, out, Trigger.AvailableNow()))
    assert(e.getMessage.contains("_chk/collector"))
    assert(spark.streams.active.isEmpty)
  }

  test("connection manager reassembles a line split across read-timeout ticks") {
    val line = envelopeLines(1).head
    val (half1, half2) = line.splitAt(line.length / 2)
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        val out = sock.getOutputStream
        out.write(half1.getBytes("UTF-8")); out.flush()
        Thread.sleep(400) // >> soTimeoutMs: several flush ticks fire mid-line
        out.write((half2 + "\n").getBytes("UTF-8")); out.flush()
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val spool = Files.createTempDirectory("graft-spool-split").toString
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      soTimeoutMs = 50).start()
    try {
      val deadline = System.nanoTime() + 15000000000L
      while (conn.linesReceived < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(conn.linesReceived == 1)
    } finally { conn.stop(); server.close() }
    val got = spark.read.text(spool).collect().map(_.getString(0)).filter(_.nonEmpty)
    assert(got.toSeq == Seq(line), "mid-line timeout corrupted the spooled record")
  }

  test("connection manager restart appends after the existing spool files") {
    val spool = Files.createTempDirectory("graft-spool-rs").toString
    val preexisting = envelopeLines(1).head
    Files.writeString(java.nio.file.Paths.get(s"$spool/spool-blx-000000.json"),
      preexisting + "\n")
    val line2 = envelopeLines(2).take(2).last
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        sock.getOutputStream.write((line2 + "\n").getBytes("UTF-8"))
        sock.getOutputStream.flush()
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      soTimeoutMs = 50).start()
    try {
      val deadline = System.nanoTime() + 15000000000L
      while (conn.linesReceived < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally { conn.stop(); server.close() }
    // the restarted connector must never rename over spool-blx-000000.json
    val got = spark.read.text(spool).collect().map(_.getString(0)).filter(_.nonEmpty).toSet
    assert(got == Set(preexisting, line2),
      "restart overwrote an existing spool file")
  }

  /** Server half of the RFC 6455 opening handshake for loopback WS specs:
    * accept, read the upgrade request, answer 101 with the computed
    * Sec-WebSocket-Accept, return the upgraded socket. */
  private def wsAccept(server: java.net.ServerSocket): java.net.Socket = {
    val sock = server.accept()
    val in = sock.getInputStream
    val acc = new java.io.ByteArrayOutputStream
    var done = false
    while (!done) {
      val c = in.read()
      if (c < 0) done = true
      else {
        acc.write(c)
        val b = acc.toByteArray
        if (b.length >= 4 && b(b.length - 4) == '\r' && b(b.length - 3) == '\n' &&
          b(b.length - 2) == '\r' && b(b.length - 1) == '\n') done = true
      }
    }
    val req = new String(acc.toByteArray, "US-ASCII")
    val key = req.split("\r\n")
      .find(_.toLowerCase.startsWith("sec-websocket-key:"))
      .map(_.split(":", 2)(1).trim)
      .getOrElse(fail("upgrade request carried no Sec-WebSocket-Key"))
    sock.getOutputStream.write(
      ("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: ${WsFraming.acceptKey(key)}\r\n\r\n").getBytes("US-ASCII"))
    sock.getOutputStream.flush()
    sock
  }

  test("S6/S7: ws client speaks RFC 6455 — handshake, fragments, ping, split frames") {
    val lines = envelopeLines(6) // 6 txs + the 3 junk shapes = 9 messages
    @volatile var gotPong = false
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        val sock = wsAccept(server)
        val out = sock.getOutputStream
        def text(s: String, fin: Boolean = true, op: Int = WsFraming.OpText): Unit = {
          out.write(WsFraming.encodeFrame(op, s.getBytes("UTF-8"), masked = false, fin = fin))
          out.flush()
        }
        text(lines(0))
        // fragmented message with a ping interleaved between the fragments
        val (h1, h2) = lines(1).splitAt(lines(1).length / 2)
        text(h1, fin = false)
        out.write(WsFraming.encodeFrame(WsFraming.OpPing, "hb".getBytes("UTF-8"), masked = false))
        out.flush()
        text(h2, op = WsFraming.OpContinuation)
        // one frame's bytes split across TCP writes with a pause >> soTimeout
        val f = WsFraming.encodeFrame(WsFraming.OpText, lines(2).getBytes("UTF-8"), masked = false)
        out.write(f, 0, f.length / 2); out.flush()
        Thread.sleep(300)
        out.write(f, f.length / 2, f.length - f.length / 2); out.flush()
        lines.drop(3).foreach(text(_))
        // the client must have answered the ping with a (masked) pong
        val dec = new WsFraming.Decoder
        val buf = new Array[Byte](1024)
        val deadline = System.nanoTime() + 10000000000L
        while (!gotPong && System.nanoTime() < deadline) {
          val n = in2(sock).read(buf)
          if (n > 0 && dec.feed(buf, n).exists {
            case WsFraming.Pong(p) => new String(p, "UTF-8") == "hb"
            case _ => false
          }) gotPong = true
        }
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val spool = Files.createTempDirectory("graft-spool-ws").toString
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      soTimeoutMs = 50, mode = FeedConnector.Ws()).start()
    try {
      val deadline = System.nanoTime() + 15000000000L
      while ((conn.linesReceived < lines.length || !gotPong) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(conn.linesReceived == lines.length)
      assert(gotPong, "client never answered the server ping")
      assert(conn.connects == 1)
    } finally { conn.stop(); server.close() }
    val got = spark.read.text(spool).collect().map(_.getString(0)).filter(_.nonEmpty)
    assert(got.toSet == lines.toSet,
      "WS-framed records differ from the lines the server framed")

    // decode parity: the WS spool flows through the same envelope decode
    // as the file feed and yields identical engine rows
    val fileDir = Files.createTempDirectory("graft-ws-parity").toString
    Files.writeString(java.nio.file.Paths.get(s"$fileDir/envelopes.json"),
      lines.mkString("\n"))
    def decoded(dir: String) = Collect.decodeEnvelopes(
      spark.read.schema(Collect.envelopeFeedSchema).json(dir))
      .collect().map(_.toString).toSet
    assert(decoded(spool) == decoded(fileDir))
  }

  // the server-side pong probe reads the client's masked frames off the
  // same upgraded socket
  private def in2(sock: java.net.Socket): java.io.InputStream = sock.getInputStream

  test("S6/S7: ws client reconnects after a drop and a rejected upgrade backs off") {
    val lines = envelopeLines(4)
    val (first, rest) = lines.splitAt(3)
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var accepts = 0
    val feeder = new Thread(() => {
      try {
        // connection 1: upgrade, serve a prefix, drop mid-stream
        val s1 = wsAccept(server); accepts += 1
        first.foreach { l =>
          s1.getOutputStream.write(
            WsFraming.encodeFrame(WsFraming.OpText, l.getBytes("UTF-8"), masked = false))
        }
        s1.getOutputStream.flush()
        Thread.sleep(200)
        s1.close() // hard drop, no close frame — wire loss
        // connection 2: NOT a websocket — reject the upgrade
        val s2 = server.accept(); accepts += 1
        s2.getOutputStream.write("HTTP/1.1 403 Forbidden\r\n\r\n".getBytes("US-ASCII"))
        s2.getOutputStream.flush()
        s2.close()
        // connection 3: upgrade again, serve the tail
        val s3 = wsAccept(server); accepts += 1
        rest.foreach { l =>
          s3.getOutputStream.write(
            WsFraming.encodeFrame(WsFraming.OpText, l.getBytes("UTF-8"), masked = false))
        }
        s3.getOutputStream.flush()
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val spool = Files.createTempDirectory("graft-spool-ws-rc").toString
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      soTimeoutMs = 50, mode = FeedConnector.Ws()).start()
    try {
      val deadline = System.nanoTime() + 20000000000L
      while (conn.linesReceived < lines.length && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(conn.linesReceived == lines.length)
      // dialed twice successfully; the rejected upgrade never counted
      assert(conn.connects == 2, s"connects=${conn.connects}")
      assert(accepts == 3)
    } finally { conn.stop(); server.close() }
    val got = spark.read.text(spool).collect().map(_.getString(0)).filter(_.nonEmpty)
    assert(got.toSet == lines.toSet)
  }

  /** Server half of the h2/gRPC subscribe for loopback specs: read the
    * client preface, exchange SETTINGS, require the subscribe HEADERS and
    * half-close DATA on stream 1, answer with response HEADERS. Returns
    * the upgraded socket + the server-side frame decoder (which may have
    * already buffered client frames). */
  private def h2Accept(server: java.net.ServerSocket): (java.net.Socket, graft.streaming.H2Framing.FrameDecoder) = {
    import graft.streaming.H2Framing
    val sock = server.accept()
    val in = sock.getInputStream
    val out = sock.getOutputStream
    val pre = in.readNBytes(H2Framing.Preface.length)
    assert(java.util.Arrays.equals(pre, H2Framing.Preface), "bad h2 preface")
    out.write(H2Framing.encodeFrame(H2Framing.TSettings, 0, 0, Array.emptyByteArray))
    out.flush()
    val dec = new H2Framing.FrameDecoder
    val buf = new Array[Byte](4096)
    var settings = false; var headers = false; var halfClosed = false
    while (!(settings && headers && halfClosed)) {
      val n = in.read(buf)
      assert(n >= 0, "client left during h2 setup")
      dec.feed(buf, n).foreach { f =>
        f.tpe match {
          case H2Framing.TSettings if (f.flags & H2Framing.FlagAck) == 0 =>
            settings = true
            out.write(H2Framing.encodeFrame(H2Framing.TSettings,
              H2Framing.FlagAck, 0, Array.emptyByteArray))
            out.flush()
          case H2Framing.THeaders if f.streamId == 1 => headers = true
          case H2Framing.TData if f.streamId == 1 &&
            (f.flags & H2Framing.FlagEndStream) != 0 => halfClosed = true
          case _ =>
        }
      }
    }
    out.write(H2Framing.encodeFrame(H2Framing.THeaders, H2Framing.FlagEndHeaders,
      1, H2Framing.hpackLiteral(":status", "200")))
    out.flush()
    (sock, dec)
  }

  test("S8-S10: hpack response headers — huffman, continuation, grpc-status, 503 backoff") {
    import graft.streaming.{H2Framing, Hpack}
    val lines = envelopeLines(2)
    val server = new java.net.ServerSocket(0, 4,
      java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var rejected = false
    val feeder = new Thread(() => {
      try {
        // connection 1: full h2 setup, then REJECT the subscribe with a
        // 503 — the client must tear down and back off (failed dial)
        locally {
          val sock = server.accept()
          val in = sock.getInputStream
          val out = sock.getOutputStream
          in.readNBytes(H2Framing.Preface.length)
          out.write(H2Framing.encodeFrame(H2Framing.TSettings, 0, 0, Array.emptyByteArray))
          out.write(H2Framing.encodeFrame(H2Framing.THeaders,
            H2Framing.FlagEndHeaders | H2Framing.FlagEndStream, 1,
            Hpack.encLiteralIndexingIdx(8, "503"))) // :status name idx, literal value
          out.flush()
          rejected = true
          Thread.sleep(300) // hold the socket so the reject is what ends it
          sock.close()
        }
        // connection 2: accept, then answer with an INDEXED + HUFFMAN
        // header block split across HEADERS(PRIORITY) + CONTINUATION
        val sock = server.accept()
        val in = sock.getInputStream
        val out = sock.getOutputStream
        in.readNBytes(H2Framing.Preface.length)
        out.write(H2Framing.encodeFrame(H2Framing.TSettings, 0, 0, Array.emptyByteArray))
        val block = Hpack.encIndexed(8) ++ // :status 200 (static table)
          Hpack.encLiteralIndexingIdx(31, "application/grpc", huffman = true)
        val (part1, part2) = block.splitAt(3)
        out.write(H2Framing.encodeFrame(H2Framing.THeaders,
          H2Framing.FlagPriority, 1, new Array[Byte](5) ++ part1))
        out.write(H2Framing.encodeFrame(H2Framing.TContinuation,
          H2Framing.FlagEndHeaders, 1, part2))
        lines.foreach { l =>
          out.write(H2Framing.encodeFrame(H2Framing.TData, 0, 1,
            H2Framing.grpcMessage(l.getBytes("UTF-8"))))
        }
        // trailers: huffman-coded grpc-status OK ends the rpc
        out.write(H2Framing.encodeFrame(H2Framing.THeaders,
          H2Framing.FlagEndHeaders | H2Framing.FlagEndStream, 1,
          Hpack.encLiteralIndexing("grpc-status", "0", huffman = true)))
        out.flush()
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val spool = Files.createTempDirectory("graft-spool-hpack").toString
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      soTimeoutMs = 50, mode = FeedConnector.Grpc()).start()
    try {
      val deadline = System.nanoTime() + 20000000000L
      while ((conn.linesReceived < lines.length || conn.lastGrpcStatus.isEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(rejected, "first connection never served the 503")
      assert(conn.linesReceived == lines.length)
      assert(conn.connects == 1,
        s"rejected subscribe must not count as a dial: connects=${conn.connects}")
      assert(conn.lastGrpcStatus.contains(0),
        s"grpc-status trailer not decoded: ${conn.lastGrpcStatus}")
    } finally { conn.stop(); server.close() }
    val got = spark.read.text(spool).collect().map(_.getString(0)).filter(_.nonEmpty)
    assert(got.toSet == lines.toSet)
  }

  test("S8-S10: grpc client streams over h2 — subscribe, deframe, ping ack, flow control") {
    import graft.streaming.H2Framing
    val lines = envelopeLines(6) // 6 txs + 3 junk shapes = 9 messages
    @volatile var gotPingAck = false
    @volatile var windowReturned = 0L
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        val (sock, dec) = h2Accept(server)
        val in = sock.getInputStream
        val out = sock.getOutputStream
        def data(bytes: Array[Byte]): Unit = {
          out.write(H2Framing.encodeFrame(H2Framing.TData, 0, 1, bytes)); out.flush()
        }
        val m = lines.map(l => H2Framing.grpcMessage(l.getBytes("UTF-8")))
        // two messages coalesced into one DATA frame
        data(m(0) ++ m(1))
        // one message split across two DATA frames, a ping in between
        data(m(2).take(7))
        out.write(H2Framing.encodeFrame(H2Framing.TPing, 0, 0, Array.fill(8)(7.toByte)))
        out.flush()
        data(m(2).drop(7))
        // one DATA frame's bytes split across TCP writes, pause >> soTimeout
        val f3 = H2Framing.encodeFrame(H2Framing.TData, 0, 1, m(3))
        out.write(f3, 0, f3.length / 2); out.flush()
        Thread.sleep(300)
        out.write(f3, f3.length / 2, f3.length - f3.length / 2); out.flush()
        data(m.drop(4).reduce(_ ++ _))
        val sent = m.map(_.length.toLong).sum
        // the client must ack the ping and hand the window back
        val buf = new Array[Byte](4096)
        val deadline = System.nanoTime() + 15000000000L
        while ((!gotPingAck || windowReturned < sent) && System.nanoTime() < deadline) {
          val n = in.read(buf)
          if (n > 0) dec.feed(buf, n).foreach { f =>
            if (f.tpe == H2Framing.TPing && (f.flags & H2Framing.FlagAck) != 0 &&
              f.payload.forall(_ == 7)) gotPingAck = true
            if (f.tpe == H2Framing.TWindowUpdate && f.streamId == 0)
              windowReturned += ((f.payload(0) & 0x7F) << 24) |
                ((f.payload(1) & 0xFF) << 16) | ((f.payload(2) & 0xFF) << 8) |
                (f.payload(3) & 0xFF)
          }
        }
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val spool = Files.createTempDirectory("graft-spool-grpc").toString
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      soTimeoutMs = 50, mode = FeedConnector.Grpc()).start()
    try {
      val deadline = System.nanoTime() + 20000000000L
      while ((conn.linesReceived < lines.length || !gotPingAck) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(conn.linesReceived == lines.length)
      assert(gotPingAck, "client never acked the h2 ping")
      assert(windowReturned > 0, "client returned no flow-control window")
      assert(conn.connects == 1)
    } finally { conn.stop(); server.close() }
    val got = spark.read.text(spool).collect().map(_.getString(0)).filter(_.nonEmpty)
    assert(got.toSet == lines.toSet,
      "grpc-streamed records differ from the messages the server framed")

    // decode parity: the grpc spool flows through the same envelope decode
    // as the file feed and yields identical engine rows
    val fileDir = Files.createTempDirectory("graft-grpc-parity").toString
    Files.writeString(java.nio.file.Paths.get(s"$fileDir/envelopes.json"),
      lines.mkString("\n"))
    def decoded(dir: String) = Collect.decodeEnvelopes(
      spark.read.schema(Collect.envelopeFeedSchema).json(dir))
      .collect().map(_.toString).toSet
    assert(decoded(spool) == decoded(fileDir))
  }

  test("S6/S7 end-to-end: live WS feed → spool → collector pipeline → sinks") {
    val lines = envelopeLines(30) // 30 txs + 3 junk shapes
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        val sock = wsAccept(server)
        val out = sock.getOutputStream
        lines.foreach { l =>
          out.write(WsFraming.encodeFrame(WsFraming.OpText,
            l.getBytes("UTF-8"), masked = false))
        }
        out.flush()
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val outDir = Files.createTempDirectory("graft-collectjob").toString
    val spool = s"$outDir/_spool"
    val (conn, queries) = jobs.CollectJob.start(spark, "127.0.0.1",
      server.getLocalPort, FeedConnector.Ws(), spool, outDir,
      Trigger.ProcessingTime(100))
    try {
      val deadline = System.nanoTime() + 20000000000L
      while (conn.linesReceived < lines.length && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(conn.linesReceived == lines.length)
      // stop() final-flushes the spool, so everything received is on disk
      // BEFORE the stream drains — without it the last batch can still be
      // buffered when processAllAvailable lists the directory
      conn.stop()
      queries.foreach(_.processAllAvailable())
      val txs = spark.read.schema(
        "timestamp_ms LONG, hash STRING, raw_tx_hex STRING, source STRING")
        .csv(s"$outDir/transactions/*/*/")
      val trash = spark.read
        .schema("timestamp_ms LONG, hash STRING, source STRING, reason STRING, notes STRING")
        .csv(s"$outDir/trash")
      // every decodable envelope lands exactly once across the split —
      // the same hash set a batch decode of the same lines produces
      val fileDir = Files.createTempDirectory("graft-collectjob-exp").toString
      Files.writeString(java.nio.file.Paths.get(s"$fileDir/envelopes.json"),
        lines.mkString("\n"))
      val expected = Collect.decodeEnvelopes(
        spark.read.schema(Collect.envelopeFeedSchema).json(fileDir))
        .select("hash").distinct().collect().map(_.getString(0)).toSet
      val got = txs.select("hash").unionAll(trash.select("hash")).collect()
        .map(_.getString(0))
      assert(got.toSet == expected, "pipeline lost or invented envelopes")
      assert(got.length == got.distinct.length, "a hash crossed the split twice")
      assert(txs.count() > 0)
    } finally { conn.stop(); queries.foreach(_.stop()); server.close() }
  }

  test("S8-S10: protobuf-framed txs round-trip the loopback h2 server with decode parity") {
    import graft.streaming.{H2Framing, ProtoWire}
    import ProtoWire._
    // 5 fixture txs: a 2-tx bloxroute TxsReply, a 1-tx reply inside a
    // PADDED DATA frame (RFC 9113 §6.1 — ADVICE r6), a 2-tx reply, plus
    // one junk body the codec must skip without tearing the connection
    val raws = (0 until 5).map(i => TxFixtures.rawRow(i.toLong)._3)
    def rawBytes(h: String) = graft.functions.EthTx.unhex(h.stripPrefix("0x"))
    def tx(h: String) = lenField(BlxTxHash, new Array[Byte](32)) ++
      lenField(BlxTxRawTx, rawBytes(h))
    def reply(hs: Seq[String]) =
      hs.map(h => lenField(BlxReplyTx, tx(h))).reduce(_ ++ _) ++
        varintField(50, 7L) // unknown field: decoders must read past it
    val junk = Array[Byte](0x80.toByte, 1, 2)
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        val (sock, _) = h2Accept(server)
        val out = sock.getOutputStream
        out.write(H2Framing.encodeFrame(H2Framing.TData, 0, 1,
          H2Framing.grpcMessage(reply(raws.take(2)))))
        // one gRPC message split across a PADDED and an unpadded frame:
        // the decode must strip padding BEFORE deframing or the stream
        // corrupts exactly as the advice warned
        val m2 = H2Framing.grpcMessage(reply(raws.slice(2, 3)))
        out.write(H2Framing.encodePaddedData(1, m2.take(7), pad = 13))
        out.write(H2Framing.encodeFrame(H2Framing.TData, 0, 1, m2.drop(7)))
        out.write(H2Framing.encodeFrame(H2Framing.TData, 0, 1,
          H2Framing.grpcMessage(junk) ++ H2Framing.grpcMessage(reply(raws.drop(3)))))
        out.flush()
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val spool = Files.createTempDirectory("graft-spool-proto").toString
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      soTimeoutMs = 50,
      mode = FeedConnector.Grpc(codec = ProtoWire.BloxrouteProto)).start()
    try {
      val deadline = System.nanoTime() + 20000000000L
      while (conn.linesReceived < raws.length && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(conn.linesReceived == raws.length,
        s"expected ${raws.length} decoded txs, got ${conn.linesReceived}")
      assert(conn.messagesSkipped == 1, "junk protobuf body must be counted skipped")
      assert(conn.connects == 1, "junk body or padding must not tear the connection")
    } finally { conn.stop(); server.close() }
    // decode parity: the proto-decoded spool yields exactly the engine
    // rows a direct parse of the same raw txs produces
    val decoded = Collect.decodeEnvelopes(
      spark.read.schema(Collect.envelopeFeedSchema).json(spool))
      .collect()
    assert(decoded.length == raws.length)
    assert(decoded.map(_.getAs[String]("raw_tx_hex")).toSet ==
      raws.map(_.toLowerCase).toSet)
    val expectedHashes = raws
      .map(r => graft.functions.ParseTx.parseHex(r).get.hash).toSet
    assert(decoded.map(_.getAs[String]("hash")).toSet == expectedHashes,
      "proto path and direct parse disagree on tx hashes")
  }

  test("S8-S10: grpc client redials after GOAWAY and resumes the subscription") {
    import graft.streaming.H2Framing
    val lines = envelopeLines(4)
    val (first, rest) = lines.splitAt(3)
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getByName("127.0.0.1"))
    val feeder = new Thread(() => {
      try {
        // connection 1: serve a prefix, then GOAWAY (graceful shutdown)
        val (s1, _) = h2Accept(server)
        first.foreach { l =>
          s1.getOutputStream.write(H2Framing.encodeFrame(H2Framing.TData, 0, 1,
            H2Framing.grpcMessage(l.getBytes("UTF-8"))))
        }
        s1.getOutputStream.write(H2Framing.encodeFrame(H2Framing.TGoAway, 0, 0,
          new Array[Byte](8)))
        s1.getOutputStream.flush()
        // connection 2: full setup again, serve the tail
        val (s2, _) = h2Accept(server)
        rest.foreach { l =>
          s2.getOutputStream.write(H2Framing.encodeFrame(H2Framing.TData, 0, 1,
            H2Framing.grpcMessage(l.getBytes("UTF-8"))))
        }
        s2.getOutputStream.flush()
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val spool = Files.createTempDirectory("graft-spool-grpc-rc").toString
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      soTimeoutMs = 50, mode = FeedConnector.Grpc()).start()
    try {
      val deadline = System.nanoTime() + 20000000000L
      while (conn.linesReceived < lines.length && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(conn.linesReceived == lines.length)
      assert(conn.connects == 2, s"connects=${conn.connects}")
    } finally { conn.stop(); server.close() }
    val got = spark.read.text(spool).collect().map(_.getString(0)).filter(_.nonEmpty)
    assert(got.toSet == lines.toSet)
  }

  // a geth/alchemy-style tx OBJECT envelope rebuilt from the fixture's
  // own decoded fields (S6 path)
  private def rpcMsg(raw: String): String = rpcJson(raw).replace("\"", "\\\"")

  /** The tx-object envelope JSON of `raw`, with `patch` replacing the
    * named string fields. */
  private def rpcJson(raw: String, patch: (String, String)*): String = {
    val bytes = graft.functions.EthTx.unhex(raw.stripPrefix("0x"))
    val l = graft.functions.Rlp.decode(bytes.drop(1))
      .asInstanceOf[graft.functions.Rlp.Lst].items
    def hx(i: Int) = "0x" + graft.functions.Rlp.toBigInt(l(i)).toString(16)
    def hb(i: Int) = "0x" + graft.functions.Rlp.toBytes(l(i)).map("%02x".format(_)).mkString
    val fields = Seq("type" -> "0x2", "chainId" -> hx(0), "nonce" -> hx(1),
      "maxPriorityFeePerGas" -> hx(2), "maxFeePerGas" -> hx(3), "gas" -> hx(4),
      "to" -> hb(5), "value" -> hx(6), "input" -> hb(7),
      "yParity" -> hx(9), "r" -> hx(10), "s" -> hx(11)) ++ patch
    val body = fields.toMap.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    s"""{"params":{"result":{$body,"accessList":[]}}}"""
  }

  /** The fixture txs wrapped in each source's WS envelope, plus the
    * skip-on-error shapes (empty payload, undecodable RLP, junk JSON). */
  private def envelopeLines(n: Int): Seq[String] =
    (0 until n).map { i =>
      val (ts, _, raw) = TxFixtures.rawRow(i.toLong)
      i % 3 match {
        case 0 =>
          s"""{"timestamp_ms":$ts,"source":"bloxroute","msg":"{\\"params\\":{\\"result\\":{\\"rawTx\\":\\"$raw\\"}}}"}"""
        case 1 =>
          s"""{"timestamp_ms":$ts,"source":"eden","msg":"{\\"params\\":{\\"result\\":{\\"rlp\\":\\"$raw\\"}}}"}"""
        case _ =>
          s"""{"timestamp_ms":$ts,"source":"local","msg":"${rpcMsg(raw)}"}"""
      }
    } ++ Seq(
      """{"timestamp_ms":1,"source":"bloxroute","msg":"{\"params\":{\"result\":{\"rawTx\":\"\"}}}"}""",
      """{"timestamp_ms":2,"source":"eden","msg":"{\"params\":{\"result\":{\"rlp\":\"0xdeadbeef\"}}}"}""",
      """{"timestamp_ms":3,"source":"bloxroute","msg":"not json at all"}""")

  private def edgeEnvelopes: Seq[EdgeEnvelope] = {
    import graft.functions.{EthTx, ParseTx, Rlp}
    def hexOf(b: Array[Byte]) = "0x" + b.map("%02x".format(_)).mkString
    def typedItems(raw: String) =
      Rlp.decode(EthTx.unhex(raw.stripPrefix("0x")).drop(1)).asInstanceOf[Rlp.Lst].items
    val n = BigInt("fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
    val fixture = TxFixtures.rawTxHex(1000L)
    val highS = {
      val items = typedItems(fixture)
      hexOf(Array[Byte](2) ++ Rlp.encode(Rlp.Lst(
        items.updated(11, Rlp.fromBigInt(n - Rlp.toBigInt(items(11)))))))
    }
    val legacy = Rlp.encode(Rlp.Lst(Vector(
      Rlp.fromBigInt(BigInt(7)), Rlp.fromBigInt(BigInt(30000000000L)),
      Rlp.fromBigInt(BigInt(21000)), Rlp.Bytes(Array.fill[Byte](20)(0x11)),
      Rlp.fromBigInt(BigInt(12345)), Rlp.Bytes(Array.emptyByteArray),
      Rlp.fromBigInt(BigInt(37))) ++ typedItems(fixture).takeRight(2)))
    val unrecoverable = (1001L until 1100L).map(TxFixtures.rawTxHex)
      .find(r => !ParseTx.parseHex(r).get.fromValid).get
    val hexCases = Seq(
      "" -> false, "0x" -> false, "0x02f" -> false,
      ("0xzz" + fixture.drop(4)) -> false, fixture.dropRight(2) -> false,
      hexOf(Rlp.encode(Rlp.Bytes(legacy))) -> false, // double-wrapped legacy
      highS -> true, unrecoverable -> true,
      ("0x+2" + fixture.drop(4)) -> false, // a sign is not a hex digit
      // the reference's legacy-RLP-wrapped typed tx (rlp_test.go case 2)
      ("0xb87802f875018201088459682f00850a3cc5ac918252089404be5b8576fc23164b9ee69577fe7857dd6be1988802c346682d9a485880c080a08679e43c770c07395663fbb7fa0d2a8ca9b9535e598c25b9794c50e664c5098ca0366a741acdb68a37df66547001cf31e0c630477f78482d3b7a5778f30c6fbfe1") -> false)
    Seq(
      EdgeEnvelope(90, "bloxroute", null, None),
      EdgeEnvelope(91, "local", null, None),
      EdgeEnvelope(92, "eden", """{"params":{"result":{}}}""", None),
      EdgeEnvelope(93, "bloxroute", """{"params":{}}""", None),
      // strict hex on the tx-object path: an odd-length byte string and a
      // signed quantity are rejected, not read as "" and 0xff
      EdgeEnvelope(94, "local", rpcJson(fixture, "input" -> "0xf"), None),
      EdgeEnvelope(95, "local", rpcJson(fixture, "value" -> "0x-1"), None)) ++
    hexCases.zipWithIndex.map { case ((payload, sigError), k) =>
      val (source, field) = if (k % 2 == 0) ("bloxroute", "rawTx") else ("eden", "rlp")
      EdgeEnvelope(100L + k, source, s"""{"params":{"result":{"$field":"$payload"}}}""",
        Some(payload), sigError)
    }
  }

  test("S6-S8: raw-rlp and tx-object envelopes decode to the plain feed rows") {
    import graft.functions.ParseTx
    val in = Files.createTempDirectory("graft-env").toString
    val n = 60
    val edges = edgeEnvelopes
    Files.writeString(java.nio.file.Paths.get(s"$in/envelopes.json"),
      (envelopeLines(n) ++ edges.map(_.line)).mkString("\n"))

    val q = Collect.decodeEnvelopes(Collect.envelopeFeed(spark, in))
      .writeStream.format("memory").queryName("env_out")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      val out = spark.table("env_out")
      val kept = edges.flatMap(e => e.payload.flatMap(ParseTx.parseHex)
        .map(p => (e.ts, p.hash, e.payload.get, e.source)))
      // wrapped legacy, high-s, unrecoverable and wrapped typed
      assert(kept.size == 4)
      val expected = (0 until n).map { i =>
        val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
        (ts, hash, raw,
          Seq("bloxroute", "eden", "local")(i % 3))
      }.toSet ++ kept
      val got = out.select("timestamp_ms", "hash", "raw_tx_hex", "source")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got == expected) // hash derived from payload matches; errors skipped

      // the hash-only decode keeps txs whose signature does not recover;
      // validate's full parse trashes them
      val reasons = Collect.validate(out).select("raw_tx_hex", "reason").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(reasons == got.map(r => r._3 -> ParseTx.parseHex(r._3).get.reason).toMap)
      val sigErrors = edges.filter(_.sigError).flatMap(_.payload)
      assert(sigErrors.size == 2 &&
        sigErrors.forall(reasons.get(_).contains(Some("signature-error"))))
    } finally q.stop()
  }

  test("decode plans evaluate each kernel once per row") {
    import graft.functions.{ParseRawTxExpr, ParseTx, RawTxHashExpr}
    import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, ScalaUDF}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    object Kernels extends AdaptiveSparkPlanHelper {
      /** Kernel expression nodes in an executed plan, by kind. */
      def apply(plan: SparkPlan): Map[String, Int] =
        flatMap(plan)(_.expressions.flatMap(_.collect {
          case _: ParseRawTxExpr => "parse"
          case _: RawTxHashExpr => "hash"
          case _: JsonToStructs => "from_json"
          case u: ScalaUDF if u.udfName.contains("rebuild_raw_tx") => "rebuild"
        })).groupBy(identity).map { case (k, v) => k -> v.size }
    }
    val in = Files.createTempDirectory("graft-env-plan").toString
    val out = Files.createTempDirectory("graft-env-plan-out").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/envelopes.json"),
      (envelopeLines(30) ++ edgeEnvelopes.map(_.line)).mkString("\n"))

    val decoded = Collect.decodeEnvelopes(
      spark.read.schema(Collect.envelopeFeedSchema).json(in))
    decoded.collect()
    assert(Kernels(decoded.queryExecution.executedPlan) ==
      Map("hash" -> 1, "from_json" -> 1, "rebuild" -> 1))

    // read from a file: over a local relation the optimizer would fold
    // the whole projection away
    import spark.implicits._
    val raws = Files.createTempDirectory("graft-parse-plan").resolve("raw").toString
    (0 until 30).map(i => (i.toLong, TxFixtures.rawTxHex(i.toLong)))
      .toDF("timestamp_ms", "raw_tx_hex").write.parquet(raws)
    val projected = ParseTx.project(spark.read.parquet(raws)).filter(col("reason").isNull)
    projected.collect()
    assert(Kernels(projected.queryExecution.executedPlan) == Map("parse" -> 1))

    // the collector as the benchmark wires it: one query, so one of each
    // kernel in the whole collector; without no-data batches the last
    // execution is the batch that read the feed
    val queries =
      SessionConf.withConf(spark, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
        Collect.runWith(Collect.decodeEnvelopes(Collect.envelopeFeed(spark, in)),
          out, Trigger.AvailableNow(), Some(Seq("bloxroute", "eden", "local")),
          Collect.dedupStateful)
      }
    try {
      assert(queries.size == 1 && spark.streams.active.toSeq.map(_.id) == queries.map(_.id))
      queries.foreach(_.processAllAvailable())
      val plan = queries.head.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(Kernels(plan) == Map("hash" -> 1, "parse" -> 1, "from_json" -> 1, "rebuild" -> 1),
        s"\n$plan")
    } finally queries.foreach(_.stop())
  }

  test("S6-S10: socket-fed envelopes decode identically to the file feed") {
    val n = 60
    val lines = envelopeLines(n)

    // loopback server plays the remote endpoint: the spark socket source
    // dials it (the reference shape minus only the remote address) and
    // reads the same wire envelopes the file feed carries
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
        lines.foreach(out.println)
        out.flush()
        // keep the connection open until the test closes the server —
        // EOF mid-test would race the final micro-batch
        Thread.sleep(30000)
      } catch { case _: Throwable => }
    })
    writer.setDaemon(true)
    writer.start()

    val q = Collect.decodeEnvelopes(
      Collect.socketEnvelopeFeed(spark, "127.0.0.1", server.getLocalPort))
      .writeStream.format("memory").queryName("sock_out")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      // socket sources deliver asynchronously: poll until all decodable
      // envelopes arrived (junk lines are dropped by the decode path)
      val deadline = System.nanoTime() + 60000000000L
      while (spark.table("sock_out").count() < n && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val got = spark.table("sock_out")
        .select("timestamp_ms", "hash", "raw_tx_hex", "source")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      // identical rows to the file-feed decode of the same envelopes
      val expected = (0 until n).map { i =>
        val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
        (ts, hash, raw, Seq("bloxroute", "eden", "local")(i % 3))
      }.toSet
      assert(got == expected)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("S6-S10: connection manager survives drops, reconnects, spools every line") {
    val per = 30
    val total = 90
    val lines = envelopeLines(total).take(total) // clean envelopes only
    // flaky endpoint: serves `per` lines per connection then DROPS it —
    // the connector must redial (node_conn.go reconnect loop semantics)
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val feeder = new Thread(() => {
      try {
        while (served.get() < total) {
          val sock = server.accept()
          val out = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
          val start = served.get()
          lines.slice(start, start + per).foreach(out.println)
          out.flush()
          served.addAndGet(per)
          Thread.sleep(100) // let the client drain before the drop
          sock.close()
        }
        // stay accept-able for the final redial(s), serving nothing
        while (true) { server.accept() }
      } catch { case _: Throwable => }
    })
    feeder.setDaemon(true)
    feeder.start()

    val spool = Files.createTempDirectory("graft-spool").toString
    val conn = new FeedConnector("127.0.0.1", server.getLocalPort, spool, "blx",
      baseBackoffMs = 20, flushEvery = 8, soTimeoutMs = 50).start()
    try {
      val deadline = System.nanoTime() + 30000000000L
      while (conn.linesReceived < total && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(conn.linesReceived == total,
        s"connector lost lines: ${conn.linesReceived} of $total")
      assert(conn.connects >= 3, s"expected >=3 dials, got ${conn.connects}")
    } finally {
      conn.stop()
      server.close()
    }
    // the spool is the envelope feed's input dir: batch-decode it and
    // compare against the same rows the file/socket feeds produce
    val got = Collect.decodeEnvelopes(
      spark.read.schema(Collect.envelopeFeedSchema).json(spool))
      .select("timestamp_ms", "hash", "raw_tx_hex", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val expected = (0 until total).map { i =>
      val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
      (ts, hash, raw, Seq("bloxroute", "eden", "local")(i % 3))
    }.toSet
    assert(got == expected)
  }

  test("full collector pipeline runs over envelope sources end-to-end") {
    val in = Files.createTempDirectory("graft-envrun").toString
    val out = Files.createTempDirectory("graft-envout").toString
    val lines = (0 until 40).map { i =>
      val (ts, _, raw) = TxFixtures.rawRow(i.toLong)
      s"""{"timestamp_ms":$ts,"source":"eden","msg":"{\\"params\\":{\\"result\\":{\\"rlp\\":\\"$raw\\"}}}"}"""
    }
    Files.writeString(java.nio.file.Paths.get(s"$in/envelopes.json"), lines.mkString("\n"))
    val queries = Collect.runEnvelopes(spark, in, out, Trigger.ProcessingTime(100))
    try {
      queries.foreach(_.processAllAvailable())
      val txs = spark.read.schema(
        "timestamp_ms LONG, hash STRING, raw_tx_hex STRING, source STRING")
        .csv(s"$out/transactions/*/*/")
      assert(txs.count() > 0)
      assert(txs.select("source").distinct().collect().map(_.getString(0)).toSeq == Seq("eden"))
    } finally queries.foreach(_.stop())
  }

  test("J4: stream-static inclusion check trashes on-chain txs") {
    val in = Files.createTempDirectory("graft-feed4").toString
    writeFeed(in, 60)
    // static dim: every 5th tx is already on-chain
    import spark.implicits._
    val blocks = (0 until 60 by 5).map(i => TxFixtures.rawRow(i.toLong)._2).toDF("hash")
    val checked = Collect.inclusionCheck(
      Collect.validate(Collect.dedup(Collect.feed(spark, in))), blocks)
    val q = checked.writeStream.format("memory").queryName("incl_out")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      val out = spark.table("incl_out")
      val onchain = out.filter(col("reason") === "tx-already-onchain")
      assert(onchain.count() > 0)
      // every flagged row is actually in the dim
      assert(onchain.join(blocks, Seq("hash"), "left_anti").count() == 0)
    } finally q.stop()
  }

  test("S14: jdbc-shaped batch sink dedups, retries with backoff, then succeeds") {
    val in = Files.createTempDirectory("graft-feed5").toString
    writeFeed(in, 40)
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val failures = new java.util.concurrent.atomic.AtomicInteger(2) // fail twice
    val sink = graft.ops.Sinks.jdbcBatchSink(
      write = df => {
        if (failures.getAndDecrement() > 0) sys.error("transient insert failure")
        received.addAndGet(df.count())
      },
      maxRetries = 5, backoffMs = 1)
    val q = Collect.dedup(Collect.feed(spark, in))
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", Files.createTempDirectory("chk").toString)
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      assert(received.get() > 0)
      assert(failures.get() <= 0) // both injected failures were retried through
    } finally q.stop()
  }

  test("S16: http fan-out delivers allowed txs, filters sources, bounds slow receivers") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import scala.jdk.CollectionConverters._
    val received = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val slowHits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/fast", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        val body = x.getRequestBody.readAllBytes()
        assert(x.getRequestHeaders.getFirst("Content-Type") == "application/octet-stream")
        received.add("0x" + body.map("%02x".format(_)).mkString)
        x.sendResponseHeaders(200, -1); x.close()
      }
    })
    server.createContext("/slow", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        slowHits.incrementAndGet()
        Thread.sleep(5000) // well past the sink timeout
        x.sendResponseHeaders(200, -1); x.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    val port = server.getAddress.getPort
    try {
      import spark.implicits._
      val n = 6
      val batch = (0 until n).map { i =>
        val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
        (ts, hash, raw, if (i < 4) "bloxroute" else "blocked-src")
      }.toDF("timestamp_ms", "hash", "raw_tx_hex", "source")
      val sink = graft.ops.Sinks.httpFanoutSink(
        receiverUrls = Seq(s"http://127.0.0.1:$port/fast", s"http://127.0.0.1:$port/slow"),
        allowedSources = Seq("bloxroute"),
        timeoutMs = 2000)
      val t0 = System.nanoTime()
      sink(batch, 0L)
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      // delivery: the fast receiver got exactly the allowed payloads
      // (in-flight posts may land just after the batch returns)
      val expected = (0 until 4).map(i => TxFixtures.rawRow(i.toLong)._3).toSet
      val waitUntil = System.nanoTime() + 10000000000L
      while (received.size < 4 && System.nanoTime() < waitUntil) Thread.sleep(50)
      assert(received.asScala.toSet == expected)
      // allowlist: nothing from the blocked source reached any receiver
      assert(received.size == 4)
      // timeout: the slow receiver was attempted but never blocked the batch
      assert(slowHits.get() > 0)
      assert(elapsedMs < 60000, s"fan-out stalled on slow receiver: ${elapsedMs}ms")
    } finally server.stop(0)
  }

  test("S17: sse fan-out streams published txs; slow subscribers drop, not block") {
    val sse = new graft.ops.SseBroadcast()
    try {
      import spark.implicits._
      // no subscribers: publishing is a no-op (reference early return)
      sse.publish("0xdead")
      assert(sse.subscriberCount == 0)

      // connect a real SSE client
      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(sse.address)).build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofInputStream())
      assert(resp.headers().firstValue("Content-Type").orElse("") == "text/event-stream")
      val reader = new Thread(() => {
        val rd = new java.io.BufferedReader(
          new java.io.InputStreamReader(resp.body(), "UTF-8"))
        var line = rd.readLine()
        while (line != null) {
          if (line.startsWith("data: ")) received.add(line.stripPrefix("data: "))
          line = rd.readLine()
        }
      })
      reader.setDaemon(true); reader.start()
      // wait for registration
      val deadline = System.nanoTime() + 5000000000L
      while (sse.subscriberCount == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sse.subscriberCount == 1)

      // publish a filtered batch through the sink
      val n = 5
      val batch = (0 until n).map { i =>
        val (ts, hash, raw) = TxFixtures.rawRow(i.toLong)
        (ts, hash, raw, if (i < 3) "local" else "blocked")
      }.toDF("timestamp_ms", "hash", "raw_tx_hex", "source")
      sse.sink(allowedSources = Seq("local"))(batch, 0L)
      val got = (0 until 3).map(_ =>
        received.poll(5, java.util.concurrent.TimeUnit.SECONDS)).toSet
      assert(got == (0 until 3).map(i => TxFixtures.rawRow(i.toLong)._3).toSet)

      // drop-if-full: an undrained subscriber buffers 100, then drops
      val q = sse.register("slow-test")
      (0 until 250).foreach(i => sse.publish(s"0x$i"))
      assert(q.size == 100) // buffer cap, overflow dropped, publish never blocked
      sse.unregister("slow-test")
    } finally sse.close()
  }

  test("S17: sse batch guard bounds driver intake; framing unchanged") {
    val sse = new graft.ops.SseBroadcast()
    try {
      import spark.implicits._
      val q = sse.register("guard-test") // buffer 100: cap must be what bounds it
      val batch = (0 until 120).map { i =>
        (i.toLong, s"h$i", f"0xab$i%04x", "local")
      }.toDF("timestamp_ms", "hash", "raw_tx_hex", "source")
      sse.sink(maxRowsPerBatch = 50)(batch, 0L)
      assert(q.size == 50) // driver intake capped at the configured bound
      assert(sse.droppedRows == 70) // overflow counted, not silently eaten
      assert(q.peek().startsWith("0xab")) // payload framing unchanged
      sse.unregister("guard-test")
    } finally sse.close()
  }

  test("S17: graceful drain keeps delivering in-flight events, 503s new connects") {
    val sse = new graft.ops.SseBroadcast()
    try {
      // live subscriber
      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val client = java.net.http.HttpClient.newHttpClient()
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(sse.address)).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofInputStream())
      val reader = new Thread(() => {
        val rd = new java.io.BufferedReader(
          new java.io.InputStreamReader(resp.body(), "UTF-8"))
        var line = rd.readLine()
        while (line != null) {
          if (line.startsWith("data: ")) received.add(line.stripPrefix("data: "))
          line = rd.readLine()
        }
      })
      reader.setDaemon(true); reader.start()
      val regDeadline = System.nanoTime() + 5000000000L
      while (sse.subscriberCount == 0 && System.nanoTime() < regDeadline) Thread.sleep(10)
      assert(sse.subscriberCount == 1)

      // health probes (reference api/server.go:51-58): both 200 "ok" while up
      val base = sse.address.stripSuffix("/api/txs/sse")
      def probe(route: String): (Int, String) = {
        val r = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(base + route)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      assert(probe("/livez") == (200, "ok"))
      assert(probe("/readyz") == (200, "ok"))

      // an undrained holdback queue keeps the drain window open deterministically
      sse.register("holdback")
      (0 until 5).foreach(i => sse.publish(s"0xf1ll$i"))

      val drainer = new Thread(() => sse.shutdown(drainMs = 5000))
      drainer.start()
      val drainDeadline = System.nanoTime() + 5000000000L
      while (sse.ready && System.nanoTime() < drainDeadline) Thread.sleep(10)
      assert(!sse.ready)

      // during drain: still live, no longer ready — a load balancer stops
      // routing new subscribers while in-flight events keep flowing
      assert(probe("/livez") == (200, "ok"))
      assert(probe("/readyz")._1 == 503)

      // in-flight events published during the drain still reach the live
      // subscriber (the filler events arrive on this queue too — poll
      // until the drain events show up)
      (0 until 3).foreach(i => sse.publish(s"0xdra1n$i"))
      val want = (0 until 3).map(i => s"0xdra1n$i").toSet
      val got = scala.collection.mutable.Set[String]()
      val readDeadline = System.nanoTime() + 8000000000L
      while (!want.subsetOf(got) && System.nanoTime() < readDeadline) {
        val v = received.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (v != null) got += v
      }
      assert(want.subsetOf(got), s"drain-window events not delivered: got $got")

      // but new subscribers are refused while draining
      val resp2 = client.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(sse.address)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp2.statusCode() == 503)

      drainer.join(10000)
      assert(sse.subscriberCount == 0) // drain completed and closed
    } finally sse.close()
  }

  test("metrics: reference-named counters reflect a known feed exactly") {
    import graft.streaming.CollectorMetrics._
    val in = Files.createTempDirectory("graft-feed-m").toString
    val out = Files.createTempDirectory("graft-collect-m").toString
    writeFeed(in, 200) // 300 rows received, 180 unique after dedup
    val metrics = Collect.instrument(spark)
    val queries = Collect.runWith(Collect.feed(spark, in), out,
      Trigger.ProcessingTime(100), observeSources = Some(Seq("src0", "src1", "src2")))
    try {
      queries.foreach(_.processAllAvailable())
      // progress events arrive asynchronously after batches commit
      val deadline = System.nanoTime() + 30000000000L
      while ((metrics.get(TxReceived) < 300 ||
        metrics.get(TxReceivedFirst) + metrics.get(TxReceivedTrash) < 180) &&
        System.nanoTime() < deadline) Thread.sleep(50)

      assert(metrics.get(TxReceived) == 300) // pre-dedup, like tx_processor.go:207
      val first = metrics.get(TxReceivedFirst)
      val trash = metrics.get(TxReceivedTrash)
      assert(first + trash == 180, s"first=$first trash=$trash") // dedup survivors split
      assert(first > 0 && trash > 0)
      // per-source labels: every row carried src0/src1/src2, nothing lands in other
      val perSrc = Seq("src0", "src1", "src2")
        .map(s => metrics.get(labeled(TxReceived, s))).sum
      assert(perSrc == 300)
      assert(metrics.get(labeled(TxReceived, "other")) == 0)
      // prometheus text exposition
      assert(metrics.render.contains("mempool_dumpster_tx_received_total 300"))
    } finally queries.foreach(_.stop())
  }

  test("metrics: jdbc batch sink counts retries, errors and successes") {
    import graft.streaming.CollectorMetrics._
    val in = Files.createTempDirectory("graft-feed-m2").toString
    writeFeed(in, 40)
    val metrics = new graft.streaming.CollectorMetrics
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val sink = graft.ops.Sinks.jdbcBatchSink(
      write = df => {
        if (failures.getAndDecrement() > 0) sys.error("transient insert failure")
        df.count(); ()
      },
      maxRetries = 5, backoffMs = 1, metrics = Some(metrics))
    val q = Collect.dedup(Collect.feed(spark, in))
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", Files.createTempDirectory("chk-m").toString)
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      assert(metrics.get(ChBatchSaveRetries) == 2) // both injected failures retried
      assert(metrics.get(ChErrors) == 2)
      assert(metrics.get(ChErrorsBatchSave) == 2)
      assert(metrics.get(ChBatchSaveSuccess) >= 1)
      assert(metrics.get(ChBatchSaveGiveup) == 0)
    } finally q.stop()
  }

  test("per-minute source metrics window counts") {
    val in = Files.createTempDirectory("graft-feed3").toString
    writeFeed(in, 100)
    val m = Collect.sourceMetrics(Collect.feed(spark, in))
    val q = m.writeStream.format("memory").queryName("metrics_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      // append mode emits only closed windows; with a bounded fixture the
      // final windows stay open, so just assert the query runs and the
      // schema is right (update-mode totals are covered in batch A13/A14).
      val out = spark.table("metrics_out")
      assert(out.columns.toSeq == Seq("minute", "source", "n_all", "n_unique_approx"))
    } finally q.stop()
  }

  test("corpus intake: gate + TTL dedup + lang-partitioned sink end-to-end") {
    import graft.streaming.CorpusIntake
    val in = Files.createTempDirectory("graft-corpus-in").toString
    val out = Files.createTempDirectory("graft-corpus-out").toString
    def doc(id: Long, text: String, lang: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "$lang", "source": "web", "n_chars": ${text.length}}"""
    val good = "the quick brown fox is said to jump over the lazy dog and " * 5
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(
        doc(1, good, "en"),
        doc(2, good, "en"),            // exact dup of 1 (same fingerprint)
        doc(3, "too short", "en"),     // poor → dead-letter
        doc(4, good + "unique tail", "de")).mkString("\n"))
    val queries = CorpusIntake.run(spark, in, out)
    try {
      queries.foreach(_.awaitTermination())
      val acc = spark.read.parquet(s"$out/accepted")
      val rej = spark.read.parquet(s"$out/rejected")
      // dup suppressed, poor rejected, both languages landed
      assert(acc.count() == 2, s"expected 2 accepted, got ${acc.count()}")
      assert(acc.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))
      assert(rej.collect().map(_.getLong(0)).toSeq == Seq(3L))
      // the sink is language-partitioned on disk
      assert(new java.io.File(s"$out/accepted/lang=en").exists())
      assert(new java.io.File(s"$out/accepted/lang=de").exists())
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }
}

object CollectStreamSpec {
  /** One `{timestamp_ms, source, msg}` envelope line; a null `msgJson`
    * is a JSON null. */
  def envelopeLine(ts: Long, source: String, msgJson: String): String = {
    val msg = Option(msgJson)
      .map(m => "\"" + m.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .getOrElse("null")
    s"""{"timestamp_ms":$ts,"source":"$source","msg":$msg}"""
  }

  /** A decode edge case: its envelope line, and the raw hex its source
    * carries. What decode keeps, and with which hash, follows from
    * `ParseTx.parseHex` of that payload. `sigError` marks the decodable
    * txs whose signature does not recover. */
  final case class EdgeEnvelope(ts: Long, source: String,
      msgJson: String, payload: Option[String], sigError: Boolean = false) {
    def line: String = envelopeLine(ts, source, msgJson)
  }
}
