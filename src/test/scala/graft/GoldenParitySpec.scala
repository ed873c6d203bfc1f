package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Drift gate for the frozen golden results (QueryDef.golden — the
  * secp256k1/keccak/RLP parse family DuckDB cannot recompute).
  *
  * For every golden query, re-runs the live engine at the goldens'
  * generation SF (sf0.01) and asserts the result equals
  * `golden/<name>.parquet` row-for-row (both-direction exceptAll). A parse
  * path change without a GoldenGen re-run fails HERE, locally, with the
  * query named — not as an unexplained driver hash mismatch a round later.
  *
  * Goldens are frozen at sf0.01 specifically (row counts scale with the SF
  * inferred from the data dir), so this spec must not be pointed elsewhere.
  */
class GoldenParitySpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  // the parse golden reads the session-cached fixture inputs
  override protected def afterAll(): Unit =
    try queries.MempoolParse.releaseInputs(spark, sf)
    finally super.afterAll()

  test("Verify's off-SF skip set is exactly the frozen-oracle family") {
    // At the frozen SF nothing is skipped; anywhere else, exactly the
    // queries whose oracle reads a frozen parquet (the two
    // QueryDef.golden queries plus the three mergeCtes re-derivations
    // over frozen input tables) self-skip with an _error marker.
    assert(Verify.goldenSkipSet(GoldenGen.frozenSf).isEmpty)
    assert(Verify.goldenSkipSet("sf0.1") == Set("q_parse_raw_tx",
      "q_envelope_decode", "q_mempool_merge", "q_mempool_trash",
      "q_mempool_analyze"))
  }

  test("golden registry is non-empty and every golden file exists") {
    val names = GoldenGen.goldenNames ++ GoldenGen.inputGoldens.keys
    assert(GoldenGen.goldenNames.nonEmpty)
    names.foreach { n =>
      val p = Paths.get(QueryDef.goldenDir, s"$n.parquet")
      assert(Files.isRegularFile(p), s"missing golden file $p — run GoldenGen")
    }
  }

  private def assertParity(name: String, liveDf: org.apache.spark.sql.DataFrame): Unit = {
    val frozen = spark.read.parquet(
      Paths.get(QueryDef.goldenDir, s"$name.parquet").toString)
    assert(liveDf.columns.toSeq == frozen.columns.toSeq,
      s"$name column drift: live=${liveDf.columns.toSeq} frozen=${frozen.columns.toSeq}")
    val l = liveDf.cache()
    try {
      val extra   = l.exceptAll(frozen).count()
      val missing = frozen.exceptAll(l).count()
      assert(extra == 0 && missing == 0,
        s"$name drifted from golden: $extra live-only rows, " +
          s"$missing golden-only rows — intentional change? re-run GoldenGen")
    } finally l.unpersist()
  }

  GoldenGen.goldenNames.sorted.foreach { name =>
    test(s"$name reproduces its frozen golden exactly") {
      assertParity(name, SparkEntry.all(name).fn(spark, sf))
    }
  }

  GoldenGen.inputGoldens.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name fixture input reproduces its frozen golden exactly") {
      assertParity(name, fn(spark, sf))
    }
  }

  // The SQL-derived merge oracles (MempoolParse.mergeCtes) re-derive A1
  // dedup as rank-by-timestamp over the parse golden. That is only valid
  // while duplicate fixture hashes carry IDENTICAL payloads and DISTINCT
  // timestamps — pin both facts so a fixture change that breaks the
  // equivalence fails here by name, not as an opaque driver hash mismatch.
  test("duplicate fixture hashes differ only in timestamp (dedup ≡ rank)") {
    import org.apache.spark.sql.functions._
    val parse = spark.read.parquet(
      Paths.get(QueryDef.goldenDir, "q_parse_raw_tx.parquet").toString)
    val payload = struct(parse.columns.filterNot(_ == "timestamp").toIndexedSeq.map(col): _*)
    val bad = parse.groupBy("hash")
      .agg(count(lit(1)).as("n"),
        countDistinct(payload).as("dv"),
        countDistinct(col("timestamp")).as("dt"))
      .filter(col("n") > 1 && (col("dv") =!= 1 || col("dt") =!= col("n")))
      .count()
    assert(bad == 0,
      "a duplicated fixture hash has divergent payloads or tied timestamps — " +
        "the SQL oracle's rank-by-timestamp dedup no longer equals earliest-wins")
  }

  // The other two fixture facts mergeCtes relies on (MempoolParse doc):
  // the parse stage's `timestamp` IS the raw row's timestamp_ms (the SQL
  // blacklist re-derives `timestamp_ms % 31` from the parse golden), and
  // every raw row's `hash` column equals keccak(raw_tx) (Merge.run
  // anti-joins on the RAW hash while the oracle joins on the parse-
  // computed one). A TxFixtures or ParseTx change breaking either fact
  // must fail here by name.
  test("parse timestamp passes through raw timestamp_ms; raw hash = keccak(raw_tx)") {
    (0L until 2000L).foreach { i =>
      val (ts, hash, raw) = functions.TxFixtures.rawRow(i)
      val p = functions.EthTx.decodeHex(raw)
      assert(p.hash == hash,
        s"fixture $i: raw hash column $hash != keccak-derived ${p.hash}")
      assert(functions.ParseTx.parseHex(raw).isDefined, s"fixture $i unparseable")
      val _ = ts // timestamp passthrough asserted against the golden below
    }
    import org.apache.spark.sql.functions._
    val parse = spark.read.parquet(
      Paths.get(QueryDef.goldenDir, "q_parse_raw_tx.parquet").toString)
      .select(col("hash"), col("timestamp").as("t"))
    val raws = queries.MempoolParse.rawTxs(spark, sf)
      .select(col("hash"), col("timestamp_ms").as("t"))
    // multiset equality on (hash, ts) — duplicated hashes carry several
    // timestamps each, so a pairwise join would cross-match them
    val drift = parse.exceptAll(raws).count() + raws.exceptAll(parse).count()
    assert(drift == 0,
      "parse `timestamp` no longer passes the raw row's timestamp_ms through — " +
        "the SQL oracle's %-31 blacklist re-derivation is broken")
  }
}
