package graft

import graft.jobs.SemIndexJob
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The SemIndexJob CLI surface proves the maintenance loop's invariant
  * through the on-disk layout a production operator would actually run:
  * train → bootstrap → day ticks (with a mid-loop compact) must emit, in
  * union, exactly the pair set of the frozen full-batch pipeline. */
class SemIndexJobSpec extends AnyFunSuite with SessionLeakCheck {
  private lazy val spark = SparkTestSession.spark

  private def emb(lo: Long, hi: Long) = {
    import spark.implicits._
    spark.range(lo, hi).map(i => (i, gen.synVec(i)))
      .toDF("vec_id", "embedding")
  }

  private def listPieces(standingDir: String) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(standingDir), spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(standingDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("piece_"))
  }

  private def exists(path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  test("CLI maintenance loop equals the frozen full-batch run (with compaction)") {
    val root = Files.createTempDirectory("graft-semjob").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    val n = 2000L
    val batch = 200L
    val days = 3
    val bootLo = batch * days // 600

    SemIndexJob.train(spark, emb(bootLo, n), indexDir)
    // bootstrap emits its internal pair set to parquet (the chained-set
    // audit input — `check` consumes exactly these dirs)
    SemIndexJob.bootstrap(spark, emb(bootLo, n), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity,
      pairsOut = Some(s"$root/pairs_boot"), tau = 0.9)
    val bootPiece = spark.read.parquet(s"$standingDir/piece_boot")
    assert(bootPiece.count() == n - bootLo, "bootstrap piece lost vectors")

    val pairDirs = s"$root/pairs_boot" +: (0 until days).map { d =>
      val out = s"$root/pairs_d$d"
      val st = SemIndexJob.day(spark,
        emb(d * batch, (d + 1) * batch), indexDir, standingDir, out,
        tau = 0.9, probes = 1, margin = Double.PositiveInfinity)
      assert(st.newPairs > 0, s"day $d found no pairs — vacuous loop")
      assert(st.probeRows > 0 && st.freshN == batch && !st.retrained)
      // unarmed loop, no baseline on disk → no creep to report
      assert(st.creepPct.isEmpty,
        s"day $d reported creep_pct ${st.creepPct} without a baseline")
      if (d == 1) SemIndexJob.compact(spark, standingDir)
      out
    }

    // the `check` command IS the sym_diff audit: full-batch through the
    // same frozen index vs the union of the loop's emitted pair sets
    val (nFull, nChained, symDiff) = SemIndexJob.check(spark, emb(0, n),
      indexDir, pairDirs, tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity)
    assert(nFull > 0 && nChained == nFull,
      s"pair-set cardinality diverged: full $nFull vs chained $nChained")
    assert(symDiff == 0,
      s"CLI loop diverged from the full-batch run by $symDiff rows")

    // the audit must DETECT a broken loop, not just bless an intact one:
    // dropping one day's pair set from the union must surface as a
    // positive sym_diff (guards against a vacuously-zero compare)
    val (_, _, tampered) = SemIndexJob.check(spark, emb(0, n),
      indexDir, pairDirs.filterNot(_.endsWith("pairs_d1")), tau = 0.9,
      probes = 1, margin = Double.PositiveInfinity)
    assert(tampered > 0,
      "check read sym_diff 0 with a day's pairs missing — the audit is vacuous")

    // the compact rewrote pieces into one; later days appended after it;
    // no stage/trash residue outlives a clean compact
    val pieceDirs = listPieces(standingDir)
    assert(pieceDirs.exists(_.getPath.getName == "piece_compacted"))
    assert(!exists(s"$standingDir/.compact_stage"))
    val standing = pieceDirs.map(p => spark.read.parquet(p.getPath.toString))
      .reduce(_ unionByName _)
    assert(standing.count() == n, "standing pieces lost or duplicated vectors")
  }

  test("multi-membership standing pieces force pair dedup in a flag-less day (ADVICE r15)") {
    // a probed bootstrap writes multi-membership rows; a later day run
    // WITHOUT probe flags used to derive multiAssigned from its own
    // flags only and emit duplicate (vec_a, vec_b) pairs. The persisted
    // marker carries the bit across invocations.
    val root = Files.createTempDirectory("graft-semjob-multi").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    val n = 2000L
    SemIndexJob.train(spark, emb(400, n), indexDir)
    SemIndexJob.bootstrap(spark, emb(400, n), indexDir, standingDir,
      probes = 2, margin = 1.1)
    assert(exists(s"$standingDir/_multi_membership"),
      "probed bootstrap did not persist the multi-membership marker")
    // sanity: the standing piece really is multi-membership (else the
    // episode is vacuous)
    assert(spark.read.parquet(s"$standingDir/piece_boot")
      .groupBy("vec_id").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
      .count() > 0, "probed bootstrap produced no multi-membership rows")
    val st = SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
      s"$root/pairs_d0", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity)
    assert(st.newPairs > 0)
    val pairs = spark.read.parquet(s"$root/pairs_d0")
    assert(pairs.count() ==
      pairs.dropDuplicates("vec_a", "vec_b").count(),
      "flag-less day emitted duplicate pairs over multi-membership standing rows")
  }

  test("a crashed retrain's index/piece epoch mismatch fails the next day tick loudly") {
    // the double-swap (index + pieces) has an unavoidable crash window
    // where one side is new and the other old; pieces probed through the
    // wrong index silently mis-bucket, so `day` must REFUSE on the
    // persisted epoch tags instead (review r16)
    val root = Files.createTempDirectory("graft-semjob-epoch").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    SemIndexJob.train(spark, emb(400, 2000), indexDir)
    SemIndexJob.bootstrap(spark, emb(400, 2000), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)
    // simulate the window: the piece carries a different index epoch
    // than the live index (as if the piece swap landed and the index
    // swap did not)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(standingDir), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$standingDir/piece_boot/_epoch"), true)
    out.write("deadbeef".getBytes); out.close()
    val ex = intercept[IllegalArgumentException] {
      SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
        s"$root/pairs", tau = 0.9, probes = 1,
        margin = Double.PositiveInfinity)
    }
    assert(ex.getMessage.contains("inconsistent"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("an untagged piece under a tagged index fails loud, not fail-open (ADVICE r16)") {
    // tag-then-publish means current code can never publish an untagged
    // piece — one can only be a pre-epoch layout whose assignment
    // generation is unverifiable. The old pe.isEmpty skip permanently
    // exempted it from the epoch check.
    val root = Files.createTempDirectory("graft-semjob-untagged").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    SemIndexJob.train(spark, emb(400, 2000), indexDir)
    SemIndexJob.bootstrap(spark, emb(400, 2000), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)
    assert(exists(s"$standingDir/piece_boot/_epoch"),
      "bootstrap published an untagged piece — tag-then-publish broken")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(standingDir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$standingDir/piece_boot/_epoch"), false)
    val ex = intercept[IllegalArgumentException] {
      SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
        s"$root/pairs", tau = 0.9, probes = 1,
        margin = Double.PositiveInfinity)
    }
    assert(ex.getMessage.contains("no epoch tag"), ex.getMessage)
    // the MIRROR fail-open (review r17): a pre-epoch index backup
    // restored over tagged pieces — the tagged side proves an epoch
    // regime existed, so the untagged index is unverifiable too
    val tag = fs.create(new org.apache.hadoop.fs.Path(
      s"$standingDir/piece_boot/_epoch"), true)
    tag.write("deadbeef".getBytes); tag.close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/_epoch"), false)
    val exIdx = intercept[IllegalArgumentException] {
      SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
        s"$root/pairs", tau = 0.9, probes = 1,
        margin = Double.PositiveInfinity)
    }
    assert(exIdx.getMessage.contains("index carries no epoch"),
      exIdx.getMessage)
  }

  test("check refuses pair chains that span a retrain (VERDICT r16 item 2)") {
    // pair dirs carry the epoch of the index that emitted them; a chain
    // mixing epochs (or audited against a superseded index) used to
    // print a bare, misleading nonzero sym_diff — the premise (ONE
    // frozen index across the loop) is violated and the tool must say
    // so instead of reporting a number.
    val root = Files.createTempDirectory("graft-semjob-pairepoch").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    SemIndexJob.train(spark, emb(400, 2000), indexDir)
    SemIndexJob.bootstrap(spark, emb(400, 2000), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity,
      pairsOut = Some(s"$root/pairs_boot"))
    SemIndexJob.day(spark, emb(0, 200), indexDir, standingDir,
      s"$root/pairs_d0", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity)
    SemIndexJob.retrain(spark, indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)
    SemIndexJob.day(spark, emb(200, 400), indexDir, standingDir,
      s"$root/pairs_d1", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity)
    // mixed epochs across the chain → refuse
    val exMixed = intercept[IllegalArgumentException] {
      SemIndexJob.check(spark, emb(0, 2000), indexDir,
        Seq(s"$root/pairs_boot", s"$root/pairs_d0", s"$root/pairs_d1"),
        tau = 0.9, probes = 1, margin = Double.PositiveInfinity)
    }
    assert(exMixed.getMessage.contains("span index epochs"),
      exMixed.getMessage)
    // single pre-retrain epoch, but the index moved on → refuse too
    val exStale = intercept[IllegalArgumentException] {
      SemIndexJob.check(spark, emb(0, 2000), indexDir,
        Seq(s"$root/pairs_boot", s"$root/pairs_d0"),
        tau = 0.9, probes = 1, margin = Double.PositiveInfinity)
    }
    assert(exStale.getMessage.contains("retrained after these pairs"),
      exStale.getMessage)
    // post-retrain pairs against the post-retrain index still audit fine
    // (bounded: only d1's emission, so chained ⊂ full is expected — the
    // point is that check RUNS, not that the subset is complete)
    val (nFull, _, _) = SemIndexJob.check(spark, emb(0, 400), indexDir,
      Seq(s"$root/pairs_d1"), tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity)
    assert(nFull > 0)
    // an UNTAGGED pair dir under a tagged index (review r17 third pass):
    // alone, the empty distinct-epochs list used to skip every refusal;
    // mixed with tagged dirs it was silently unioned into the audit —
    // either way a bare sym_diff with an unverifiable premise. Refuse.
    val pfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    assert(pfs.rename(
      new org.apache.hadoop.fs.Path(s"$root/pairs_d1/_epoch"),
      new org.apache.hadoop.fs.Path(s"$root/pairs_d1_epoch_stash")))
    val exUntaggedAlone = intercept[IllegalArgumentException] {
      SemIndexJob.check(spark, emb(0, 400), indexDir,
        Seq(s"$root/pairs_d1"),
        tau = 0.9, probes = 1, margin = Double.PositiveInfinity)
    }
    assert(exUntaggedAlone.getMessage.contains("carry no epoch tag"),
      exUntaggedAlone.getMessage)
    // mixed with a tagged dir: same refusal (the untagged member is
    // named), not a silent union — emit a tagged d2 under the CURRENT
    // index so the tagged side alone would pass
    SemIndexJob.day(spark, emb(5000, 5200), indexDir, standingDir,
      s"$root/pairs_d2", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity)
    val exUntaggedMixed = intercept[IllegalArgumentException] {
      SemIndexJob.check(spark, emb(0, 400), indexDir,
        Seq(s"$root/pairs_d1", s"$root/pairs_d2"),
        tau = 0.9, probes = 1, margin = Double.PositiveInfinity)
    }
    assert(exUntaggedMixed.getMessage.contains("carry no epoch tag") &&
      exUntaggedMixed.getMessage.contains("pairs_d1") &&
      !exUntaggedMixed.getMessage.contains("pairs_d2"),
      exUntaggedMixed.getMessage)
    assert(pfs.rename(
      new org.apache.hadoop.fs.Path(s"$root/pairs_d1_epoch_stash"),
      new org.apache.hadoop.fs.Path(s"$root/pairs_d1/_epoch")))
    // a pre-epoch index restored over tagged pair dirs (review r17):
    // it cannot be the emitting index, so the audit refuses rather than
    // passing the vacuous forall
    val ifs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    ifs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/_epoch"), false)
    val exNoIdx = intercept[IllegalArgumentException] {
      SemIndexJob.check(spark, emb(0, 400), indexDir,
        Seq(s"$root/pairs_d1"),
        tau = 0.9, probes = 1, margin = Double.PositiveInfinity)
    }
    assert(exNoIdx.getMessage.contains("index carries no epoch"),
      exNoIdx.getMessage)
  }

  test("CLI default batch id derives from the input's identity (ADVICE r16)") {
    // same input → same id (a blind retry collides loud on the piece
    // name); different input files → different id (a reused staging
    // path with a NEW batch still ingests)
    val root = Files.createTempDirectory("graft-semjob-autoid").toString
    emb(0, 100).write.mode("overwrite").parquet(s"$root/batch_a")
    val id1 = SemIndexJob.deriveBatchId(spark, s"$root/batch_a")
    val id2 = SemIndexJob.deriveBatchId(spark, s"$root/batch_a")
    assert(id1 == id2, "batch id is not deterministic for the same input")
    assert(id1.startsWith("auto_") && !id1.contains("/"),
      s"unsafe piece-name fragment: $id1")
    emb(100, 300).write.mode("overwrite").parquet(s"$root/batch_b")
    assert(SemIndexJob.deriveBatchId(spark, s"$root/batch_b") != id1,
      "distinct inputs derived the same batch id")
    // rewriting the SAME path with different content changes the id
    // (the listing digest covers file names + lengths)
    emb(0, 500).write.mode("overwrite").parquet(s"$root/batch_a")
    val id3 = SemIndexJob.deriveBatchId(spark, s"$root/batch_a")
    assert(id3 != id1,
      "a reused staging path with new content derived the old id")
    // equivalent SPELLINGS of the same path derive the same id (review
    // r17: a raw-string digest made a trailing-slash or file:-qualified
    // retry look like a new batch — the silent re-ingestion the digest
    // exists to close)
    assert(SemIndexJob.deriveBatchId(spark, s"$root/batch_a/") == id3,
      "trailing slash changed the derived batch id")
    assert(SemIndexJob.deriveBatchId(spark, s"file:$root/batch_a") == id3,
      "scheme qualification changed the derived batch id")
  }

  test("--retrain-defer marks instead of retraining; the retrain verb clears it (VERDICT r17 item 5)") {
    // pct = -100 makes the creep rule fire on EVERY tick that has a
    // baseline (threshold = base × 0 = 0 ≤ any ratio) — the
    // deterministic trigger; what's under test is the defer protocol,
    // not the rule itself (the 10 M campaigns measured that).
    val root = Files.createTempDirectory("graft-semdefer").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    val fire = Some(-100.0)
    val inf = Double.PositiveInfinity
    SemIndexJob.train(spark, emb(600, 2000), indexDir)
    SemIndexJob.bootstrap(spark, emb(600, 2000), indexDir, standingDir,
      probes = 1, margin = inf)

    // tick 1 establishes the baseline — no fire, nothing due
    val st1 = SemIndexJob.day(spark, emb(0, 200), indexDir, standingDir,
      s"$root/p1", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t1"), retrainDefer = true)
    assert(!st1.retrained && !st1.retrainDue && st1.creepPct == Some(0.0))

    // tick 2 fires → deferred: marker written, NO retrain (pieces keep
    // accumulating, baseline stays so later ticks keep reporting due)
    val st2 = SemIndexJob.day(spark, emb(200, 400), indexDir, standingDir,
      s"$root/p2", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t2"), retrainDefer = true)
    assert(!st2.retrained && st2.retrainDue)
    assert(exists(s"$standingDir/_retrain_due"))
    assert(listPieces(standingDir).length == 3,
      "a deferred trigger must not rewrite pieces")

    // tick 3: still deferred, still due, still no rewrite
    val st3 = SemIndexJob.day(spark, emb(400, 600), indexDir, standingDir,
      s"$root/p3", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t3"), retrainDefer = true)
    assert(!st3.retrained && st3.retrainDue)
    assert(listPieces(standingDir).length == 4)

    // the maintenance window: the retrain verb executes AND clears the
    // marker (and the baseline, like the inline path)
    SemIndexJob.retrain(spark, indexDir, standingDir, probes = 1,
      margin = inf)
    assert(!exists(s"$standingDir/_retrain_due"),
      "retrain must satisfy the deferred marker")
    assert(listPieces(standingDir).map(_.getPath.getName).toSeq ==
      Seq("piece_retrained"))

    // post-retrain tick re-establishes the baseline, nothing due
    val st4 = SemIndexJob.day(spark, emb(2000, 2200), indexDir, standingDir,
      s"$root/p4", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t4"), retrainDefer = true)
    assert(!st4.retrained && !st4.retrainDue && st4.creepPct == Some(0.0))
  }

  test("deferred retrain is bounded: overdue escalation, then refusal (VERDICT r18 item 5)") {
    // the defer protocol must not decay into an unbounded recall sag: the
    // marker counts completed deferred ticks, past --defer-limit the tick
    // reports retrain_overdue (loud warning), and with --defer-refuse the
    // NEXT tick refuses to ingest until the retrain verb runs.
    val root = Files.createTempDirectory("graft-semdeferbound").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    val fire = Some(-100.0) // creep rule fires on every baselined tick
    val inf = Double.PositiveInfinity
    SemIndexJob.train(spark, emb(600, 2000), indexDir)
    SemIndexJob.bootstrap(spark, emb(600, 2000), indexDir, standingDir,
      probes = 1, margin = inf)

    // tick 1: baseline; tick 2: fires → marker at 0 completed ticks,
    // due but NOT overdue even at the tightest limit
    val st1 = SemIndexJob.day(spark, emb(0, 200), indexDir, standingDir,
      s"$root/p1", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t1"), retrainDefer = true,
      deferLimit = 1)
    assert(!st1.retrainDue && !st1.retrainOverdue)
    val st2 = SemIndexJob.day(spark, emb(200, 400), indexDir, standingDir,
      s"$root/p2", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t2"), retrainDefer = true,
      deferLimit = 1)
    assert(st2.retrainDue && !st2.retrainOverdue)

    // tick 3 consumes the single deferral tick: still ingests, but the
    // stats escalate to overdue (the warning channel)
    val st3 = SemIndexJob.day(spark, emb(400, 600), indexDir, standingDir,
      s"$root/p3", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t3"), retrainDefer = true,
      deferLimit = 1)
    assert(st3.retrainDue && st3.retrainOverdue)
    val piecesBefore = listPieces(standingDir).length

    // tick 4 with --defer-refuse: budget spent → refuses BEFORE any
    // ingest (no new piece, no pair output, marker not advanced)
    val ex = intercept[IllegalArgumentException] {
      SemIndexJob.day(spark, emb(2000, 2200), indexDir, standingDir,
        s"$root/p4", tau = 0.9, probes = 1, margin = inf,
        autoRetrainPct = fire, batchId = Some("t4"), retrainDefer = true,
        deferLimit = 1, deferRefuse = true)
    }
    assert(ex.getMessage.contains("retrain") &&
      ex.getMessage.contains("deferred"))
    assert(listPieces(standingDir).length == piecesBefore,
      "a refused tick must not land a piece")
    assert(!exists(s"$root/p4"), "a refused tick must not publish pairs")

    // WITHOUT the refuse flag the same tick still ingests (warn-only
    // posture), and the maintenance retrain clears the whole state
    val st4 = SemIndexJob.day(spark, emb(2000, 2200), indexDir, standingDir,
      s"$root/p4", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t4"), retrainDefer = true,
      deferLimit = 1)
    assert(st4.retrainDue && st4.retrainOverdue)
    SemIndexJob.retrain(spark, indexDir, standingDir, probes = 1,
      margin = inf)
    assert(!exists(s"$standingDir/_retrain_due"))
    val st5 = SemIndexJob.day(spark, emb(2200, 2400), indexDir, standingDir,
      s"$root/p5", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t5"), retrainDefer = true,
      deferLimit = 1, deferRefuse = true)
    assert(!st5.retrainDue && !st5.retrainOverdue,
      "retrain must hand the deferral budget back")

    // legacy single-line marker (pre-r19, creep only): reads as 0
    // completed ticks — the bound starts from the upgrade, it never
    // refuses retroactively
    Files.writeString(java.nio.file.Paths.get(standingDir, "_retrain_due"),
      "12.3")
    val st6 = SemIndexJob.day(spark, emb(2400, 2600), indexDir, standingDir,
      s"$root/p6", tau = 0.9, probes = 1, margin = inf,
      autoRetrainPct = fire, batchId = Some("t6"), retrainDefer = true,
      deferLimit = 1, deferRefuse = true)
    assert(st6.retrainDue && st6.retrainOverdue,
      "one completed tick on a legacy marker reaches the limit-1 escalation")
  }

  test("retrain dedups membership rows to one row per vector") {
    // pieces hold one row per MEMBERSHIP; a probed bootstrap writes
    // multi rows for seam vectors, and a retrain must train/reassign
    // each VECTOR once (review r16 second pass: undeduped rows
    // multiplied through the cells join and inflated semK)
    val root = Files.createTempDirectory("graft-semjob-rtdedup").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    val n = 2000L
    SemIndexJob.train(spark, emb(0, n), indexDir)
    SemIndexJob.bootstrap(spark, emb(0, n), indexDir, standingDir,
      probes = 2, margin = 1.1)
    val bootRows = spark.read.parquet(s"$standingDir/piece_boot").count()
    assert(bootRows > n, "probed bootstrap produced no multi-membership rows")
    SemIndexJob.retrain(spark, indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)
    val retrained = spark.read.parquet(s"$standingDir/piece_retrained")
    assert(retrained.count() == n,
      s"retrained piece carries ${retrained.count()} rows for $n vectors")
    assert(retrained.select("vec_id").distinct().count() == n)
    // single-flag retrain rewrote every piece single-membership — the
    // multi marker must be gone
    assert(!exists(s"$standingDir/_multi_membership"))
  }

  test("crash residue (trash dirs) refuses every command loudly") {
    val root = Files.createTempDirectory("graft-semjob-trash").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    SemIndexJob.train(spark, emb(0, 2000), indexDir)
    SemIndexJob.bootstrap(spark, emb(0, 2000), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)
    // simulate a crashed swap: the trash dir survived
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(standingDir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$standingDir/.retrain_old_deadbeef"))
    val ex = intercept[IllegalArgumentException] {
      SemIndexJob.day(spark, emb(2000, 2200), indexDir, standingDir,
        s"$root/pairs", tau = 0.9, probes = 1,
        margin = Double.PositiveInfinity)
    }
    assert(ex.getMessage.contains("crash residue"), ex.getMessage)
    intercept[IllegalArgumentException] {
      SemIndexJob.compact(spark, standingDir)
    }
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$standingDir/.retrain_old_deadbeef"), true)
    // residue cleared → the tick proceeds
    val st = SemIndexJob.day(spark, emb(2000, 2200), indexDir, standingDir,
      s"$root/pairs", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity)
    assert(st.freshN == 200)
  }

  test("a batch-id day tick refuses to ingest the same batch twice") {
    val root = Files.createTempDirectory("graft-semjob-batchid").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    SemIndexJob.train(spark, emb(400, 2000), indexDir)
    SemIndexJob.bootstrap(spark, emb(400, 2000), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)
    val st = SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
      s"$root/pairs_a", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity, batchId = Some("2026-08-15"))
    assert(st.newPairs > 0)
    assert(exists(s"$standingDir/piece_batch_2026-08-15"))
    // a blind retry of the landed tick must fail loud, not duplicate —
    // and must refuse BEFORE touching any output (review r17): a retry
    // that recomputed pairs would do so against a standing set that now
    // contains the batch's own piece, replacing the first attempt's
    // correct pair output with a polluted one on the way to the failure.
    // Retry into the SAME pairsOut as the landed tick; it must survive
    // byte-identically.
    val pairsBefore = spark.read.parquet(s"$root/pairs_a").collect().toSet
    intercept[Exception] {
      SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
        s"$root/pairs_a", tau = 0.9, probes = 1,
        margin = Double.PositiveInfinity, batchId = Some("2026-08-15"))
    }
    assert(spark.read.parquet(s"$root/pairs_a").collect().toSet ==
      pairsBefore, "retried tick rewrote the landed tick's pair output")
    // the refusal must survive the piece NAME being erased (review r17):
    // compact collapses piece_batch_* into piece_compacted, and retrain
    // does the same — the name-collision check alone would then let a
    // blind retry re-ingest the batch silently. The _landed_batch ledger
    // carries the refusal across the rewrite.
    SemIndexJob.compact(spark, standingDir)
    assert(!exists(s"$standingDir/piece_batch_2026-08-15"))
    val exPost = intercept[IllegalArgumentException] {
      SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
        s"$root/pairs_b", tau = 0.9, probes = 1,
        margin = Double.PositiveInfinity, batchId = Some("2026-08-15"))
    }
    assert(exPost.getMessage.contains("already landed"), exPost.getMessage)
    // a genuinely new batch still lands
    val st2 = SemIndexJob.day(spark, emb(2000, 2400), indexDir, standingDir,
      s"$root/pairs_c", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity, batchId = Some("2026-08-16"))
    assert(st2.freshN == 400)
    // the crash window BETWEEN the piece rename and the marker write
    // (review r17 second pass): the piece name alone carries the refusal
    // there — so a rewrite that erases the name must BACKFILL the marker
    // for every piece_batch_* it collapses, or a post-rewrite retry
    // silently re-ingests. Simulate: drop 2026-08-16's marker (as the
    // crash would), compact, retry — still refused.
    val lfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(standingDir), spark.sparkContext.hadoopConfiguration)
    lfs.delete(new org.apache.hadoop.fs.Path(
      s"$standingDir/_landed_batch_2026-08-16"), false)
    SemIndexJob.compact(spark, standingDir)
    assert(exists(s"$standingDir/_landed_batch_2026-08-16"),
      "compact did not backfill the ledger for the piece it erased")
    val exBackfill = intercept[IllegalArgumentException] {
      SemIndexJob.day(spark, emb(2000, 2400), indexDir, standingDir,
        s"$root/pairs_c2", tau = 0.9, probes = 1,
        margin = Double.PositiveInfinity, batchId = Some("2026-08-16"))
    }
    assert(exBackfill.getMessage.contains("already landed"),
      exBackfill.getMessage)
    // ...and a NEW bootstrap into the dir resets the ingestion history:
    // the ledger is a property of the standing corpus, not the path
    // (bootstrap refuses while pieces remain — clean them first, the
    // documented operator action for reusing a dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(standingDir), spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(standingDir))
      .filter(_.getPath.getName.startsWith("piece_"))
      .foreach(s => fs.delete(s.getPath, true))
    SemIndexJob.bootstrap(spark, emb(400, 2000), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)
    val st3 = SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
      s"$root/pairs_d", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity, batchId = Some("2026-08-15"))
    assert(st3.freshN == 400)
  }

  test("compact refuses to launder an untagged piece into a tagged epoch (review r17)") {
    // epochs were collected via flatMap, so an untagged piece (e.g. a
    // restored pre-epoch backup next to tagged pieces) contributed
    // nothing to the mixed-epoch require and compact stamped the MERGED
    // piece with the tagged epoch — permanently exempting rows whose
    // assignment generation was never verified from the exact check
    // day() refuses on. All-or-none: mixed tagging refuses; a fully
    // untagged (pre-epoch) layout still compacts to an untagged piece.
    val root = Files.createTempDirectory("graft-semjob-compactmix").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    SemIndexJob.train(spark, emb(400, 2000), indexDir)
    SemIndexJob.bootstrap(spark, emb(400, 2000), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)
    SemIndexJob.day(spark, emb(0, 400), indexDir, standingDir,
      s"$root/pairs_d0", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity, batchId = Some("b0"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(standingDir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$standingDir/piece_boot/_epoch"), false)
    val ex = intercept[IllegalArgumentException] {
      SemIndexJob.compact(spark, standingDir)
    }
    assert(ex.getMessage.contains("mix epoch-tagged and untagged") &&
      ex.getMessage.contains("piece_boot"), ex.getMessage)
    // day() refuses the same layout (the check compact must not bypass)
    val exDay = intercept[IllegalArgumentException] {
      SemIndexJob.day(spark, emb(2000, 2200), indexDir, standingDir,
        s"$root/pairs_d1", tau = 0.9, probes = 1,
        margin = Double.PositiveInfinity)
    }
    assert(exDay.getMessage.contains("no epoch tag"), exDay.getMessage)
    // a FULLY pre-epoch layout still compacts — to an untagged piece,
    // preserving exactly what day()'s epoch check will later see
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$standingDir/piece_batch_b0/_epoch"), false)
    SemIndexJob.compact(spark, standingDir)
    assert(exists(s"$standingDir/piece_compacted"))
    assert(!exists(s"$standingDir/piece_compacted/_epoch"),
      "compact stamped an epoch onto an all-untagged layout")
  }

  test("concurrent day ticks can never share a staging dir (review r17)") {
    // the cross-contamination mode: tick B's overwrite into a SHARED
    // stage replaces tick A's staged rows between A's write and A's
    // publish rename. Distinct pieces (distinct batch ids, or stamp
    // names for library callers) must stage at distinct paths, inside
    // the standing dir, hidden from piece readers.
    val a = SemIndexJob.ingestStage("/s", "piece_batch_a")
    val b = SemIndexJob.ingestStage("/s", "piece_batch_b")
    assert(a != b, "distinct batches share a staging dir")
    assert(a == SemIndexJob.ingestStage("/s", "piece_batch_a"),
      "a same-batch retry must reuse (and overwrite) its own stage")
    Seq(a, b).foreach { st =>
      assert(st.startsWith("/s/."),
        s"stage $st is not a dot-dir under the standing dir — piece " +
          "readers and parquet scans would see it")
      assert(!st.stripPrefix("/s/").startsWith("piece_"),
        s"stage $st matches the piece_* reader prefix")
    }
  }

  test("--auto-retrain: baseline, trigger, retrain, reset (VERDICT r15 item 4)") {
    // the measured retrain rule as an OPERABLE trigger: the first
    // auto-retrain day records probe_rows/batch as the baseline; a later
    // day whose ratio creeps past the threshold retrains + refreezes the
    // index, collapses the pieces, and clears the baseline. pct = 0 here
    // pins the MECHANISM (any non-decreasing creep fires — the standing
    // corpus grows, so day 2's ratio exceeds day 1's); the ≥ ~10 %
    // threshold's signal quality is the README's measured 1 M claim.
    val root = Files.createTempDirectory("graft-semjob-rt").toString
    val indexDir = s"$root/index"
    val standingDir = s"$root/standing"
    val n = 2000L
    SemIndexJob.train(spark, emb(600, n), indexDir)
    SemIndexJob.bootstrap(spark, emb(600, n), indexDir, standingDir,
      probes = 1, margin = Double.PositiveInfinity)

    val st1 = SemIndexJob.day(spark, emb(0, 200), indexDir, standingDir,
      s"$root/pairs_d0", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity, autoRetrainPct = Some(0.0))
    assert(!st1.retrained, "baseline day must not retrain")
    assert(exists(s"$standingDir/_probe_baseline"),
      "baseline day did not persist the probe baseline")
    assert(st1.creepPct.contains(0.0),
      "the baseline-establishing tick must report creep_pct 0.0 " +
        s"(VERDICT r16 item 6), got ${st1.creepPct}")

    val st2 = SemIndexJob.day(spark, emb(200, 400), indexDir, standingDir,
      s"$root/pairs_d1", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity, autoRetrainPct = Some(0.0))
    assert(st2.retrained, "creeping ratio did not fire the retrain trigger")
    // the logged creep is the number the trigger ACTED on — positive
    // here (the standing corpus grew), measured against the pre-retrain
    // baseline, not the reset one
    assert(st2.creepPct.exists(_ > 0.0),
      s"firing tick must report the positive creep it acted on, " +
        s"got ${st2.creepPct}")
    // probe state reset: baseline cleared, pieces collapsed to the
    // retrained rewrite, no stage/trash residue, index refrozen
    assert(!exists(s"$standingDir/_probe_baseline"),
      "retrain did not clear the probe baseline")
    val pieceNames = listPieces(standingDir).map(_.getPath.getName).toSeq
    assert(pieceNames == Seq("piece_retrained"),
      s"retrain did not collapse pieces: $pieceNames")
    assert(!exists(s"$standingDir/.retrain_stage") &&
      !exists(s"$indexDir/.coarse_stage") && !exists(s"$indexDir/.sub_stage"))
    // the retrained standing set still holds every vector exactly once
    val standing = spark.read.parquet(s"$standingDir/piece_retrained")
    assert(standing.count() == standing
      .select("vec_id").distinct().count())
    assert(standing.count() == n - 600 + 400,
      "retrained piece lost or duplicated vectors")
    // a high threshold does NOT fire: the next day re-baselines, then a
    // stable ratio stays under +1000 %
    val st3 = SemIndexJob.day(spark, emb(400, 600), indexDir, standingDir,
      s"$root/pairs_d2", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity, autoRetrainPct = Some(1000.0))
    assert(!st3.retrained)
    assert(exists(s"$standingDir/_probe_baseline"),
      "post-retrain day did not re-establish the baseline")
    val st4 = SemIndexJob.day(spark, emb(5000, 5200), indexDir, standingDir,
      s"$root/pairs_d3", tau = 0.9, probes = 1,
      margin = Double.PositiveInfinity, autoRetrainPct = Some(1000.0))
    assert(!st4.retrained, "+1000 % threshold fired on a stable ratio")
  }
}
