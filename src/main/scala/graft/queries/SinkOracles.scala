package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-verified oracles for the sink/egress contracts that previously
  * had only ScalaTest coverage (SURVEY.md §2.1 S4/S14/S16/S17, §2.6 O2/O4):
  * each query pushes real data through the engine-side sink (JDBC batch
  * writer, HTTP fan-out, SSE endpoint, sorted CSV layout, capped archive
  * scan), observes what actually landed on the other side, and returns it
  * for the DuckDB hash-compare against an independent re-derivation.
  *
  * The endpoints (in-memory Derby, loopback HTTP/SSE servers) are
  * verification harness, not engine components — they stand in for the
  * ClickHouse / receiver / browser peers the reference talks to
  * (collector/clickhouse.go, collector/receiver.go, api/server.go). All
  * are session-scoped via [[Layouts.PublishedLayout]]: published once per
  * (session, sf dir), swept at session end.
  */
object SinkOracles {

  import Layouts.{PublishedLayout, syntheticHash}
  import scala.jdk.CollectionConverters._

  private def dropDerby(db: String): Unit =
    // a successful in-memory drop SIGNALS via SQLException 08006 — that is
    // Derby's documented success path for ;drop=true
    try { java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true"); () }
    catch { case _: java.sql.SQLException => () }

  private val jdbcLayout = new PublishedLayout("graftjdbc", dropDerby)
  private val httpLayout = new PublishedLayout("http-fanout")
  private val sseLayout = new PublishedLayout("sse-fanout")
  private val orderLayout = new PublishedLayout("order-csv")
  private val rpcLayout = new PublishedLayout("rpc-enrich")

  // lowercase hex via the shared nibble-table encoder (no per-byte Formatter)
  private def hexLower(bytes: Array[Byte]): String =
    graft.functions.Keccak256.hex(bytes)

  private def jdbcProps: java.util.Properties = {
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    props
  }

  /** S14: the batched-JDBC sink run against a REAL JDBC endpoint (embedded
    * in-memory Derby — same JVM, the local-mode stand-in for ClickHouse).
    * Three micro-batches (collector/clickhouse.go:92-242 shape), an
    * injected transient failure before the first insert (the retry path
    * must recover with no content change), dedup-before-insert per batch.
    * Every payload column is a pure function of the dedup key, so the
    * arbitrary-row-wins of dropDuplicates is still deterministic and the
    * oracle can re-derive the exact table.
    *
    * Batches sample every 7th event; batch b carries event_id % 3 == b, so
    * a hash (keyed on user_id) recurs in up to 3 batches → final per-hash
    * row count proves per-batch dedup AND cross-batch accumulation.
    *
    * Published once per (session, dir) — shared by the sink roundtrip
    * (S14) and the pushed-predicate read (S5's read half); returns the
    * in-memory database name. */
  private def publishedTxsDb(s: SparkSession, dir: String): String = {
    val props = jdbcProps
    jdbcLayout.named(s, dir) { name =>
      val url = s"jdbc:derby:memory:$name;create=true"
      // ONE exchange feeds all three micro-batches (guide §2.4 — two
      // operations keyed the same way share one exchange; VERDICT r21
      // item 2): the payload is computed once, hash-repartitioned once,
      // and pinned with an eager localCheckpoint that PRESERVES the
      // partitioning (LogicalRDD carries outputPartitioning). Each batch
      // slice then satisfies the sink's dropDuplicates("hash") clustering
      // requirement from memory — the per-batch dedup still does its real
      // work (the slices carry genuine duplicates; the S14 contract's
      // proof surface is unchanged) but plans NO further Exchange, where
      // the old shape re-scanned events.parquet and re-shuffled the
      // sample once per batch (3 scans + 3 exchanges + the retry's
      // recompute). Values are unchanged: every payload column is a pure
      // function of the dedup key, so the arbitrary-row-wins winner is
      // the same row either way.
      val sample = Tables.events(s, dir)
        .filter(col("event_id") % 7 === 0)
        .select(
          syntheticHash(col("user_id")).as("hash"),
          (lit(1700000000000L) + col("user_id") * 1000L).as("timestamp_ms"),
          (col("user_id") * 1000003L % 97L).as("fee_bucket"),
          concat(lit("src"), (col("user_id") % 5).cast("string")).as("source"),
          (col("event_id") % 3).as("b"))
      // AQE is scoped OFF for the pin itself: under AQE the checkpoint's
      // LogicalRDD captures UnknownPartitioning (the adaptive plan's
      // partitioning is not final at capture time) and every slice would
      // re-plan its dedup exchange. The plain plan captures
      // hashpartitioning(hash, 4) — 4 partitions is the fixture's fixed
      // I/O shape (a ~14k-row sample into one embedded Derby endpoint;
      // the endpoint, not the cluster, is the bottleneck at any SF).
      val (pinned, release) =
        graft.ops.SessionConf.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
          DedupOps.checkpointReleasable(sample.repartition(4, col("hash")))
        }
      // plan evidence hook (plans/r22): SPARK_GRAFT_DUMP_JDBC_PLAN=1
      // prints the exact frame each sink call dedups — after the pin it
      // must plan NO Exchange (the LogicalRDD carries hashpartitioning) —
      // plus the r21 unpinned shape for the before/after diff.
      if (sys.env.contains("SPARK_GRAFT_DUMP_JDBC_PLAN")) {
        println("==== r21 shape (per-batch scan + dedup exchange) ====")
        sample.filter(col("b") === 0).drop("b").dropDuplicates("hash")
          .explain("formatted")
        println("==== r22 shape (batch slice over the pinned exchange) ====")
        pinned.filter(col("b") === 0).drop("b").dropDuplicates("hash")
          .explain("formatted")
      }
      try {
        val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
        val sink = graft.ops.Sinks.jdbcBatchSink(
          write = df => {
            // transient endpoint failure BEFORE any row lands: the sink's
            // bounded-retry loop must re-run the insert with no duplicates
            if (failOnce.getAndSet(false))
              throw new RuntimeException("injected transient endpoint failure")
            df.write.mode("append").jdbc(url, "TXS", props)
          },
          keyCol = "hash", maxRetries = 2, backoffMs = 1L)
        // failure cleanup (dropDerby on the token) is PublishedLayout.named's
        (0 until 3).foreach { b =>
          sink(pinned.filter(col("b") === b).drop("b"), b.toLong)
        }
      } finally release()
    }
  }

  private[graft] def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val db = publishedTxsDb(s, dir)
    s.read.jdbc(s"jdbc:derby:memory:$db", "TXS", jdbcProps)
      .groupBy("hash")
      .agg(count(lit(1)).as("n_batches"),
        min("timestamp_ms").as("ts"),
        min("fee_bucket").as("fee_bucket"),
        min("source").as("source"))
  }

  /** S5's read half (VERDICT r11 item 3): a ranged JDBC scan with the
    * time-range predicate PUSHED to the database, mirroring the
    * reference's ClickHouse merge read, which binds
    * `received_at >= ? AND received_at < ?` into the remote query
    * (cmd/merge/clickhouse.go:73-96) so the database — not the engine —
    * prunes the scan. Two scale properties, both asserted:
    *  - the range filter lands in `PushedFilters` of the JDBC scan node
    *    (a full-table pull that filters engine-side would move the whole
    *    history over the wire at 100 TB);
    *  - the read is PARTITIONED on the pushed column (4 ranged
    *    connections) — the JDBC analogue of parallel parquet splits, so
    *    one executor is never the single straw through which the whole
    *    table drains. */
  private[graft] def jdbcPushdownRead(s: SparkSession, dir: String): DataFrame = {
    val db = publishedTxsDb(s, dir)
    val props = jdbcProps
    // mid-range bounds non-trivial at every SF: uid >= 3 excludes rows at
    // the low end everywhere; the upper bound is genuine (uid < 10^5)
    val lo = 1700000003000L
    val hi = 1700100000000L
    val scan = s.read
      .option("partitionColumn", "timestamp_ms")
      .option("lowerBound", "1700000000000")
      .option("upperBound", "1700001500000")
      .option("numPartitions", "4")
      .jdbc(s"jdbc:derby:memory:$db", "TXS", props)
      .filter(col("timestamp_ms") >= lo && col("timestamp_ms") < hi)
    // Plan assertion IN the query (driver-visible): if Spark ever stops
    // pushing the range into the JDBC source, the CORRECTNESS entry
    // fails loudly instead of silently degrading to a full-table pull.
    // Read the scan node's metadata, not its toString — node rendering
    // truncates long filter lists.
    val pushed = scan.queryExecution.executedPlan.collectLeaves()
      .collect {
        case r: org.apache.spark.sql.execution.RowDataSourceScanExec =>
          r.metadata.getOrElse("PushedFilters", "")
      }.mkString("; ").toLowerCase
    require(pushed.contains("greaterthanorequal(timestamp_ms") &&
      pushed.contains("lessthan(timestamp_ms"),
      s"JDBC range predicate not pushed to the source: [$pushed]")
    require(scan.rdd.getNumPartitions == 4,
      s"JDBC scan is not partitioned (expected 4 ranged connections, " +
        s"got ${scan.rdd.getNumPartitions})")
    scan.groupBy("source")
      .agg(count(lit(1)).as("n"),
        min("timestamp_ms").as("min_ts"),
        max("timestamp_ms").as("max_ts"),
        sum("fee_bucket").cast("long").as("fees"))
  }

  /** S16: the HTTP receiver fan-out POSTing each allowed tx's raw bytes to
    * two loopback receivers; the result is exactly what the receivers got
    * — one (receiver, payload) row per delivery, so a dropped, duplicated
    * or corrupted POST (or a mis-applied allowlist) breaks the hash. */
  private[graft] def httpFanoutResult(s: SparkSession, dir: String): DataFrame = {
    val path = httpLayout(s, dir) { p =>
      val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      def handler(tag: String) = new com.sun.net.httpserver.HttpHandler {
        def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
          val body = x.getRequestBody.readAllBytes()
          received.add((tag, "0x" + hexLower(body)))
          x.sendResponseHeaders(204, -1)
          x.close()
        }
      }
      server.createContext("/r1", handler("r1"))
      server.createContext("/r2", handler("r2"))
      // non-daemon pool threads would outlive the query and pin the JVM
      // at shutdown (mains that return without System.exit never die) —
      // shut the pool down with the server
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      server.setExecutor(pool)
      server.start()
      try {
        val base = s"http://127.0.0.1:${server.getAddress.getPort}"
        val batch = Tables.events(s, dir)
          .filter(col("event_id") % 97 === 0)
          .select(
            concat(lit("0x"), md5(col("event_id").cast("string"))).as("raw_tx_hex"),
            col("event_type").as("source"))
        graft.ops.Sinks.httpFanoutSink(
          Seq(s"$base/r1", s"$base/r2"),
          allowedSources = Seq("click", "purchase"))(batch, 0L)
      } finally { server.stop(0); pool.shutdown() }
      import s.implicits._
      received.asScala.toSeq.toDF("receiver", "payload")
        .write.mode("overwrite").parquet(s"$p/out")
    }
    s.read.parquet(s"$path/out")
  }

  /** S17: the SSE endpoint with a live text/event-stream subscriber; the
    * result is the exact `data:` payload sequence the client received.
    * The feed stays under the reference's 100-slot subscriber buffer at
    * every SF, so best-effort drop-if-full can never fire and the
    * delivered set is deterministic. */
  private[graft] def sseFanoutResult(s: SparkSession, dir: String): DataFrame = {
    val path = sseLayout(s, dir) { p =>
      val broadcast = new graft.ops.SseBroadcast(0)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val reader = new Thread(() => {
        try {
          val conn = java.net.URI.create(broadcast.address).toURL
            .openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setReadTimeout(30000)
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
          try {
            var line = in.readLine()
            while (line != null) {
              if (line.startsWith("data: ")) got.add(line.substring(6))
              line = in.readLine()
            }
          } finally in.close()
        } catch { case _: Exception => () } // server close ends the stream
      })
      reader.setDaemon(true)
      reader.start()
      try {
        val deadline = System.nanoTime + 10000000000L
        while (broadcast.subscriberCount == 0 && System.nanoTime < deadline)
          Thread.sleep(10)
        require(broadcast.subscriberCount == 1, "SSE subscriber never connected")
        // absolute cap, independent of SF: <= 67 feed rows at ANY fixture
        // size, so the 100-slot subscriber buffer can never overflow and
        // drop-if-full can never make the delivered set nondeterministic
        val batch = Tables.events(s, dir)
          .filter(col("event_id") % 1499 === 0 && col("event_id") < 100000)
          .select(
            concat(lit("0x"), md5(col("event_id").cast("string"))).as("raw_tx_hex"),
            col("event_type").as("source"))
        broadcast.sink(allowedSources =
          Seq("click", "view", "purchase", "signup"))(batch, 0L)
      } finally broadcast.shutdown(5000) // drain buffers, then close
      reader.join(30000)
      import s.implicits._
      got.asScala.toSeq.toDF("payload").write.mode("overwrite").parquet(s"$p/out")
    }
    s.read.parquet(s"$path/out")
  }

  /** J3, the way the reference actually runs it: [[graft.jobs
    * .InclusionCheck.enrich]] against a LIVE JSON-RPC endpoint — a
    * loopback eth_getTransactionReceipt/eth_getBlockByHash server whose
    * world is a pure function of event_id (every 3rd tx pending; blocks
    * of 50 consecutive ids, 12 s apart) — through the production path:
    * range-repartition on timestamp for block co-locality, one resolver
    * connection + one bounded block cache per partition, receipt→block
    * fold. The oracle re-derives the enrichment arithmetic per row, so a
    * wrong cache fold, a stale entry, a dropped pending tx, or broken
    * JSON-RPC framing all break the hash. */
  /** Pre-warm of the remaining one-time egress costs the first-touch
    * query used to be billed (the same class of fix as [[warmRpcStack]],
    * r19): the embedded Derby engine boot + Spark's JDBC writer/reader
    * classload (billed to q_sink_jdbc_roundtrip), the java.net.http
    * client + selector-thread spin-up the fan-out sink shares (billed to
    * q_sink_http_fanout), and the parquet/CSV WRITE stack — output
    * committer, parquet writer codegen, gzip codec init — which the read
    * side's warm-ups never touch (billed to whichever archive/csv sink
    * query ran first). Everything here is throwaway: a 1-row memory
    * Derby db dropped on exit, a null HTTP receiver, a temp dir deleted
    * after one tiny write+read. No shared layout is touched — the real
    * queries still bill their own fixture builds. */
  private[graft] def warmEgressStack(s: SparkSession): Unit = {
    // Derby embedded engine + Spark JDBC write/read path
    try {
      val props = jdbcProps
      val url = "jdbc:derby:memory:graftwarm;create=true"
      s.range(1).selectExpr("id as v").coalesce(1)
        .write.mode("append").jdbc(url, "WARM", props)
      s.read.jdbc(url, "WARM", props).count()
    } catch { case _: Throwable => () }
    finally dropDerby("graftwarm")
    // java.net.http fan-out client against a throwaway loopback receiver
    try {
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", new com.sun.net.httpserver.HttpHandler {
        def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
          x.getRequestBody.readAllBytes()
          x.sendResponseHeaders(200, -1); x.close()
        }
      })
      server.start()
      try {
        val rows = s.range(8).select(
          lpad(hex(col("id")), 8, "0").as("raw_tx_hex"),
          lit("warm").as("source"))
        graft.ops.Sinks.httpFanoutSink(
          Seq(s"http://127.0.0.1:${server.getAddress.getPort}/"))(rows, 0L)
      } finally server.stop(0)
    } catch { case _: Throwable => () }
    // parquet + csv WRITE stacks (committer, writer codegen, gzip codec)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-warm-write")
      try {
        val rows = s.range(8).select(
          col("id").as("timestamp"), col("id").as("includedBlockTimestamp"),
          col("id").as("event_id"))
        graft.ops.Sinks.writeParquetArchive(rows, s"$tmp/p")
        s.read.parquet(s"$tmp/p").count()
        rows.write.option("header", "true").mode("overwrite").csv(s"$tmp/c")
        s.read.option("header", "true").csv(s"$tmp/c").count()
      } finally {
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p)) {
            val ls = java.nio.file.Files.list(p)
            try ls.iterator().asScala.foreach(rm) finally ls.close()
          }
          java.nio.file.Files.deleteIfExists(p)
        }
        rm(tmp)
      }
    } catch { case _: Throwable => () }
  }

  /** Pre-warm of the loopback JSON-RPC stack (VERDICT r19 item 7):
    * q_rpc_enrich's attributed seconds swung 2.1–5.9 s across zero-change
    * runs — a recurring lone-sentinel `canary_hot` annotation — and the
    * TIME_WAIT census ruled out connection churn, leaving the ONE-TIME
    * costs the query paid on first touch: com.sun.net.httpserver
    * classload + first accept-loop spin-up, Jackson, HttpURLConnection's
    * keep-alive pool per task thread, and the enrich mapPartitions
    * codegen. Bench runs this before the timed window: a throwaway
    * null-answering server and one 512-row / 16-partition enrich pass
    * (~32 keep-alive calls per task thread). No shared layout is
    * touched — the real query still bills its own fixture build. */
  private[graft] def warmRpcStack(s: SparkSession): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
        val req = mapper.readTree(x.getRequestBody)
        // answer batch arrays like the real fixture server so the warm-up
        // exercises the same batched client path the timed query runs
        val body = (if (req.isArray) {
          val it = req.elements()
          val parts = Seq.newBuilder[String]
          while (it.hasNext)
            parts += s"""{"jsonrpc":"2.0","id":${it.next().get("id").asInt(1)},"result":null}"""
          parts.result().mkString("[", ",", "]")
        } else """{"jsonrpc":"2.0","id":1,"result":null}""").getBytes("UTF-8")
        x.getResponseHeaders.set("Content-Type", "application/json")
        x.sendResponseHeaders(200, body.length.toLong)
        x.getResponseBody.write(body)
        x.close()
      }
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    server.setExecutor(pool)
    server.start()
    try {
      val txs = s.range(0, 512, 1, 16).select(
        col("id").as("event_id"),
        concat(lit("0x"), md5(col("id").cast("string"))).as("hash"),
        lit(1700000000000L).as("timestamp"))
      graft.jobs.InclusionCheck.enrich(
        txs,
        graft.jobs.InclusionCheck.JsonRpcFactory(
          s"http://127.0.0.1:${server.getAddress.getPort}/"),
        timeRangePartitions = Some(16), rpcBatchSize = 256).count()
    } finally { server.stop(0); pool.shutdown() }
  }

  private[graft] def rpcEnrichResult(s: SparkSession, dir: String): DataFrame = {
    val path = rpcLayout(s, dir) { p =>
      import s.implicits._
      val ids = Tables.events(s, dir)
        .select(col("event_id")).as[Long].collect()
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(x: String): String = {
        md.reset()
        hexLower(md.digest(x.getBytes("UTF-8")))
      }
      def hashOf(id: Long): String = s"0x${md5hex(id.toString)}${md5hex((id + 1).toString)}"
      def blockNum(id: Long): Long = 18000000L + id / 50
      def blockHash(b: Long): String = s"0x${md5hex(s"blk$b")}${md5hex(s"blk${b}x")}"
      // ALL digesting happens here, single-threaded: the shared
      // MessageDigest must never be touched from the server's concurrent
      // handler threads (a corrupted digest silently un-includes txs)
      val idOfHash = ids.map(id => hashOf(id) -> id).toMap
      val hashOfBlock: Map[Long, String] =
        ids.map(blockNum).distinct.map(b => b -> blockHash(b)).toMap
      val blockTxs: Map[String, (Long, Array[String])] =
        ids.filter(_ % 3 != 0).groupBy(blockNum)
          .map { case (b, members) =>
            hashOfBlock(b) -> (b, members.sorted.map(hashOf))
          }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", new com.sun.net.httpserver.HttpHandler {
        def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
          val req = mapper.readTree(x.getRequestBody)
          def result(one: com.fasterxml.jackson.databind.JsonNode): String = {
            val param = one.get("params").get(0).asText()
            one.get("method").asText() match {
              case "eth_getTransactionReceipt" =>
                idOfHash.get(param) match {
                  case Some(id) if id % 3 != 0 =>
                    s"""{"blockHash":"${hashOfBlock(blockNum(id))}"}"""
                  case _ => "null" // unknown or pending
                }
              case "eth_getBlockByHash" =>
                blockTxs.get(param) match {
                  case Some((b, txs)) =>
                    val secs = 1700000100L + (b - 18000000L) * 12
                    val list = txs.map(h => "\"" + h + "\"").mkString(",")
                    s"""{"number":"0x${b.toHexString}","timestamp":"0x${secs.toHexString}","transactions":[$list]}"""
                  case None => "null"
                }
              case _ => "null"
            }
          }
          def envelope(one: com.fasterxml.jackson.databind.JsonNode): String =
            s"""{"jsonrpc":"2.0","id":${one.get("id").asInt(1)},"result":${result(one)}}"""
          // JSON-RPC 2.0: a batch request (array body) gets an array reply
          val body = (if (req.isArray) {
            val it = req.elements()
            val parts = Seq.newBuilder[String]
            while (it.hasNext) parts += envelope(it.next())
            parts.result().mkString("[", ",", "]")
          } else envelope(req)).getBytes("UTF-8")
          x.getResponseHeaders.set("Content-Type", "application/json")
          x.sendResponseHeaders(200, body.length.toLong)
          x.getResponseBody.write(body)
          x.close()
        }
      })
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      server.setExecutor(pool)
      server.start()
      try {
        val txs = Tables.events(s, dir).select(
          col("event_id"),
          syntheticHash(col("event_id")).as("hash"),
          (lit(1700000000000L) + col("event_id") * 7).as("timestamp"))
        graft.jobs.InclusionCheck.enrich(
          txs,
          graft.jobs.InclusionCheck.JsonRpcFactory(
            s"http://127.0.0.1:${server.getAddress.getPort}/"),
          timeRangePartitions = Some(16),
          // batched resolution (guide §2.3's fewer-round-trips rule
          // applied to the RPC boundary): ~2 bulk calls per 256-row chunk
          // instead of one receipt call per pending/missing tx — same
          // enriched values, ~50x fewer HTTP round trips per partition
          rpcBatchSize = 256)
          .select(col("event_id"),
            col("includedAtBlockHeight").as("included_height"),
            col("includedBlockTimestamp").as("included_ts"),
            col("inclusionDelayMs").as("delay_ms"))
          .write.mode("overwrite").parquet(s"$p/out")
      } finally { server.stop(0); pool.shutdown() }
    }
    s.read.parquet(s"$path/out")
  }

  /** O2: the ts-sorted sourcelog CSV layout read back in ON-DISK order
    * (part-file name, then line position — the order a downstream consumer
    * sees) with a global ordinal attached; the oracle is a ROW_NUMBER over
    * the expected sort key, so the hash is ORDER-SENSITIVE — the only
    * oracle family whose usual sorted-rows compare can't see a sort bug.
    * Timestamps are base + event_id (unique), so the expected order is
    * total and tie-handling can't blur the check. */
  private[graft] def orderedCsvOrdinals(s: SparkSession, dir: String): DataFrame = {
    val path = orderLayout(s, dir) { p =>
      graft.ops.Sinks.writeSourcelogCsv(
        Tables.events(s, dir).select(
          (lit(1700000000000L) + col("event_id")).as("timestamp_ms"),
          syntheticHash(col("event_id")).as("hash"),
          col("event_type").as("source")),
        s"$p/csv")
    }
    // verification-harness read: enumerate the sink's part files in layout
    // order and attach the global line ordinal the layout implies
    val dirPath = java.nio.file.Paths.get(s"$path/csv")
    val parts = {
      val ls = java.nio.file.Files.list(dirPath)
      try ls.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
      finally ls.close()
    }
    val rows = Seq.newBuilder[(Long, String)]
    var ord = 0L
    parts.foreach { f =>
      val lines = java.nio.file.Files.readAllLines(f)
      lines.asScala.drop(1).foreach { ln => // drop per-file header
        rows += ((ord, ln.split(',')(1)))
        ord += 1
      }
    }
    import s.implicits._
    rows.result().toDF("ordinal", "hash")
  }

  val defs: Map[String, QueryDef] = Map(

    // S4: parquet archive scan with the analyzer's MAX row cap
    // (cmd/analyze/main.go:81-107): the cap must return exactly
    // min(cap, total) genuine archive rows — n_alien proves the capped
    // subset is drawn from the archive, not fabricated.
    "q_archive_cap" -> QueryDef.sql(
      "S4: archive scan MAX cap — count + genuine-subset invariant",
      """SELECT LEAST(2500, COUNT(*)) AS n_capped, COUNT(*) AS n_total,
        |  0 AS n_alien FROM events""".stripMargin) { (s, dir) =>
      val path = Core.dailyEventsArchive(s, dir)
      val full = graft.ops.Sources.readArchive(s, path)
      val capped = graft.ops.Sources.readArchive(s, path, Some(2500))
      capped.agg(count(lit(1)).as("n_capped"))
        .crossJoin(full.agg(count(lit(1)).as("n_total")))
        .crossJoin(
          capped.select("event_id")
            .join(full.select("event_id"), Seq("event_id"), "left_anti")
            .agg(count(lit(1)).as("n_alien")))
    },

    "q_sink_jdbc_roundtrip" -> QueryDef.sql(
      "S14: batched-JDBC sink → embedded Derby → read-back (dedup, retry, 3 batches)",
      """WITH s AS (
        |  SELECT DISTINCT user_id, event_id % 3 AS b
        |  FROM events WHERE event_id % 7 = 0)
        |SELECT '0x' || md5(CAST(user_id AS VARCHAR))
        |     || md5(CAST(user_id + 1 AS VARCHAR)) AS hash,
        |  COUNT(*) AS n_batches,
        |  MIN(1700000000000 + user_id * 1000) AS ts,
        |  MIN(user_id * 1000003 % 97) AS fee_bucket,
        |  MIN('src' || CAST(user_id % 5 AS VARCHAR)) AS source
        |FROM s GROUP BY 1""".stripMargin) { (s, dir) =>
      jdbcRoundtrip(s, dir)
    },

    // S5 read half: ranged JDBC scan with the time-range predicate pushed
    // to the database (reference: cmd/merge/clickhouse.go:73-96 binds
    // received_at >= ? AND < ? into the ClickHouse query) over a
    // 4-way-partitioned read. The query body itself REQUIRES the filter
    // to appear in the scan's PushedFilters, so this entry going green is
    // also the plan assertion.
    "q_source_jdbc_pushdown" -> QueryDef.sql(
      "S5 read: partitioned JDBC scan, range predicate pushed to the database",
      """WITH s AS (
        |  SELECT DISTINCT user_id, event_id % 3 AS b
        |  FROM events WHERE event_id % 7 = 0),
        |t AS (
        |  SELECT 1700000000000 + user_id * 1000 AS timestamp_ms,
        |    user_id * 1000003 % 97 AS fee_bucket,
        |    'src' || CAST(user_id % 5 AS VARCHAR) AS source
        |  FROM s)
        |SELECT source, COUNT(*) AS n, MIN(timestamp_ms) AS min_ts,
        |  MAX(timestamp_ms) AS max_ts, CAST(SUM(fee_bucket) AS BIGINT) AS fees
        |FROM t
        |WHERE timestamp_ms >= 1700000003000 AND timestamp_ms < 1700100000000
        |GROUP BY source""".stripMargin) { (s, dir) =>
      jdbcPushdownRead(s, dir)
    },

    "q_sink_http_fanout" -> QueryDef.sql(
      "S16: HTTP fan-out → two loopback receivers — exact delivered set",
      """SELECT r.receiver, p.payload FROM (
        |  SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS payload
        |  FROM events
        |  WHERE event_id % 97 = 0 AND event_type IN ('click', 'purchase')) p
        |CROSS JOIN (VALUES ('r1'), ('r2')) AS r(receiver)""".stripMargin) { (s, dir) =>
      httpFanoutResult(s, dir)
    },

    "q_sink_sse_fanout" -> QueryDef.sql(
      "S17: SSE endpoint → live subscriber — exact data-line payload set",
      """SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS payload
        |FROM events
        |WHERE event_id % 1499 = 0 AND event_id < 100000
        |  AND event_type IN ('click', 'view', 'purchase', 'signup')""".stripMargin) { (s, dir) =>
      sseFanoutResult(s, dir)
    },

    "q_rpc_enrich" -> QueryDef.sql(
      "J3: live JSON-RPC inclusion enrichment (per-partition block cache) vs arithmetic oracle",
      """SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN 0
        |       ELSE 18000000 + event_id // 50 END AS included_height,
        |  CASE WHEN event_id % 3 = 0 THEN 0
        |       ELSE (1700000100 + (event_id // 50) * 12) * 1000 END AS included_ts,
        |  CASE WHEN event_id % 3 = 0 THEN 0
        |       ELSE (1700000100 + (event_id // 50) * 12) * 1000
        |            - (1700000000000 + event_id * 7) END AS delay_ms
        |FROM events""".stripMargin) { (s, dir) =>
      rpcEnrichResult(s, dir)
    },

    "q_sink_order" -> QueryDef.sql(
      "O2: ts-sorted CSV layout — order-sensitive ordinal parity",
      """SELECT row_number() OVER (ORDER BY event_id) - 1 AS ordinal,
        |  '0x' || md5(CAST(event_id AS VARCHAR))
        |       || md5(CAST(event_id + 1 AS VARCHAR)) AS hash
        |FROM events""".stripMargin) { (s, dir) =>
      orderedCsvOrdinals(s, dir)
    },

    // S13: the text summary sink — the ENTIRE rendered report (analyzer
    // aggregate pack → driver-side sprint, common/analyzer.go:156-213) as
    // one string, rebuilt character-for-character in SQL: ISO timestamp
    // trailing-millis formatting, comma-grouped width-padded counts,
    // floor-percentages, markdown tables over sorted keys. The fixture
    // keeps every epoch-ms odd so Instant.toString always prints exactly
    // 3 fractional digits (the one data-dependent formatting branch).
    "q_summary_report" -> QueryDef.sql(
      "S13: full text summary report, rendered vs SQL-reconstructed string",
      """WITH txs AS (
        |  SELECT event_id % 3 AS tx_type,
        |    50 + event_id % 200 AS bytes,
        |    event_type AS src0,
        |    (event_id % 4 = 0) AS has_extra,
        |    CASE WHEN event_id % 5 = 0 THEN 0
        |         ELSE event_id % 1000 + 1 END AS blk,
        |    CASE WHEN event_id % 11 = 0 THEN -20000
        |         ELSE event_id % 7000 END AS delay,
        |    1700000000001 + event_id * 2 AS ts_ms
        |  FROM events),
        |f AS (SELECT * FROM txs WHERE NOT (blk > 0 AND delay <= -12000)),
        |g AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN blk <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS inc,
        |  MIN(ts_ms) AS first_ms, MAX(ts_ms) AS last_ms FROM f),
        |pt AS (
        |  SELECT string_agg('| ' || CAST(tx_type AS VARCHAR) || ' | '
        |      || format('{:,}', n)
        |      || ' (' || printf('%.1f%%', floor(CAST(n AS DOUBLE) / nu * 1000) / 10)
        |      || ') | ' || format('{:,}', b) || ' |',
        |      chr(10) ORDER BY tx_type) AS lines
        |  FROM (SELECT tx_type, COUNT(*) AS n,
        |          CAST(SUM(bytes) AS BIGINT) AS b, (SELECT n FROM g) AS nu
        |        FROM f GROUP BY tx_type)),
        |srcx AS (
        |  SELECT src0 AS source, blk, has_extra FROM f
        |  UNION ALL
        |  SELECT 'extra', blk, has_extra FROM f WHERE has_extra),
        |ps AS (
        |  SELECT string_agg('| ' || source || ' | ' || format('{:,}', n)
        |      || ' | ' || format('{:,}', onch) || ' | ' || format('{:,}', notonch)
        |      || ' | ' || format('{:,}', excl) || ' |',
        |      chr(10) ORDER BY source) AS lines
        |  FROM (
        |    SELECT source, COUNT(*) AS n,
        |      CAST(SUM(CASE WHEN blk <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS onch,
        |      CAST(SUM(CASE WHEN blk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS notonch,
        |      CAST(SUM(CASE WHEN NOT has_extra THEN 1 ELSE 0 END) AS BIGINT) AS excl
        |    FROM srcx GROUP BY source))
        |SELECT 'Mempool Summary' || chr(10) || '===============' || chr(10) || chr(10)
        |  || '- From: ' || strftime(make_timestamp(first_ms * 1000), '%Y-%m-%d %H:%M:%S.%g') || ' UTC' || chr(10)
        |  || '- To:   ' || strftime(make_timestamp(last_ms * 1000), '%Y-%m-%d %H:%M:%S.%g') || ' UTC' || chr(10) || chr(10)
        |  || 'Unique transactions: ' || lpad(format('{:,}', n), 10, ' ') || chr(10) || chr(10)
        |  || '- Included on-chain: ' || lpad(format('{:,}', inc), 10, ' ')
        |  || ' (' || lpad(printf('%.1f%%', floor(CAST(inc AS DOUBLE) / n * 1000) / 10), 5, ' ') || ')' || chr(10)
        |  || '- Not included:      ' || lpad(format('{:,}', n - inc), 10, ' ')
        |  || ' (' || lpad(printf('%.1f%%', floor(CAST(n - inc AS DOUBLE) / n * 1000) / 10), 5, ' ') || ')' || chr(10) || chr(10)
        |  || '| Tx Type | Count | Bytes |' || chr(10) || '|---|---|---|' || chr(10)
        |  || (SELECT lines FROM pt) || chr(10)
        |  || chr(10) || '| Source | Count | OnChain | NotOnChain | Exclusive |' || chr(10)
        |  || '|---|---|---|---|---|' || chr(10)
        |  || (SELECT lines FROM ps) || chr(10) AS report
        |FROM g""".stripMargin) { (s, dir) =>
      val id = col("event_id")
      val txs = Tables.events(s, dir).select(
        syntheticHash(id).as("hash"),
        (id % 3).as("txType"),
        expr("unhex(repeat('ab', cast(50 + event_id % 200 as int)))").as("rawTx"),
        when(id % 4 === 0, array(col("event_type"), lit("extra")))
          .otherwise(array(col("event_type"))).as("sources"),
        when(id % 5 === 0, 0L).otherwise(id % 1000 + 1).as("includedAtBlockHeight"),
        when(id % 11 === 0, -20000L).otherwise(id % 7000).as("inclusionDelayMs"),
        (lit(1700000000001L) + id * 2).as("timestamp"))
      val report = graft.ops.Analyze.sprint(graft.ops.Analyze.summarize(txs))
      import s.implicits._
      Seq(report).toDF("report")
    },

    // O4: the analyzer renders its per-key tables over SORTED key lists
    // (common/analyzer.go sorted map keys); the joined sorted-distinct
    // string makes the order itself part of the hashed value.
    "q_analyze_keylists" -> QueryDef.sql(
      "O4: per-source sorted distinct key list as a joined string",
      """SELECT event_type AS source, COUNT(DISTINCT user_id) AS n_keys,
        |  string_agg(DISTINCT CAST(user_id AS VARCHAR), ' '
        |    ORDER BY CAST(user_id AS VARCHAR)) AS keys
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type").as("source"))
        .agg(countDistinct("user_id").as("n_keys"),
          concat_ws(" ", array_sort(collect_set(col("user_id").cast("string"))))
            .as("keys"))
    }
  )
}
