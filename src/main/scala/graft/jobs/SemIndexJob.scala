package graft.jobs

import graft.queries.SimilarityOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The standing semantic index as a runnable job surface — the daily
  * maintenance loop of the incremental SemDeDup path (the same
  * pattern as [[MergeJob]] / CorpusBuildJob: library core in
  * `graft.queries`, thin deterministic CLI here).
  *
  * Layout on disk (all parquet):
  *   <indexDir>/coarse      (c, m)        — √k level-1 centroids
  *   <indexDir>/sub         (cell, sub, m) — level-2 sub-centroids
  *   <standingDir>/piece_*  (vec_id, cluster, embedding) — assignment
  *                          pieces, one per ingested batch (+ bootstrap)
  *   <standingDir>/_multi_membership — marker: some standing piece was
  *                          written by a MULTI-membership assignment
  *                          (probes > 1 or sub-margin > 1), so pair
  *                          emission must dedup regardless of the
  *                          CURRENT invocation's flags (ADVICE r15: a
  *                          probed bootstrap followed by a flag-less day
  *                          run used to emit duplicate pairs)
  *   <standingDir>/_probe_baseline — the post-(re)train probe_rows/batch
  *                          level `--auto-retrain` measures creep against
  *   <standingDir>/_landed_batch_<id> — ingestion ledger: one marker per
  *                          landed batch id, surviving retrain/compact
  *                          (which erase the piece NAMES), so a blind
  *                          retry of a landed tick refuses loud at any
  *                          later point in the loop's history
  *   <indexDir>/_epoch and <standingDir>/piece_* /_epoch — index
  *                          generation tags (review r16): every piece
  *                          records the index epoch it was assigned
  *                          under, and `day` REQUIRES all piece epochs
  *                          to match the index's, so a crash inside a
  *                          retrain's index/pieces double swap fails
  *                          loud on the next tick instead of silently
  *                          probing mis-bucketed pieces (underscore
  *                          files are invisible to parquet readers)
  *
  * Commands:
  *   train <embeddings> <indexDir>
  *     Train + FREEZE the two-level quantizer on the bootstrap corpus.
  *   bootstrap <embeddings> <indexDir> <standingDir> [pairsOut]
  *     Assign the bootstrap corpus through the frozen index and write
  *     piece_boot; with pairsOut, also write its internal dup pairs
  *     (the chained-pair-set audit needs them — see `check`).
  *   day <freshEmbeddings> <indexDir> <standingDir> <pairsOut>
  *     One maintenance tick: assign the fresh batch, pair it against
  *     ONLY the standing members of the clusters it touches, write the
  *     new pairs to <pairsOut>, append the batch as a new piece. Prints
  *     probe_rows (the standing members the tick had to score against —
  *     README's drift signal: it creeps BEFORE recall decays). With
  *     `--auto-retrain[=pct]` (default 10), the measured retrain rule is
  *     EXECUTED, not just prescribed: the first tick after a (re)train
  *     records probe_rows/batch as the baseline; when a later tick's
  *     ratio creeps ≥ pct% above it, the job retrains + refreezes the
  *     index on the full standing corpus (today's batch included) and
  *     reassigns everything into one piece — the rewrite doubles as
  *     compaction, exactly the `retrain` verb.
  *     The ratio creeps under BOTH drift (batches concentrate into
  *     stale cells) and plain corpus growth (clusters fatten past the
  *     k the bootstrap sized) — both are reasons to refresh a frozen
  *     index, so the trigger firing on either is intended; pick pct
  *     above the per-tick growth rate (batch/standing) if only drift
  *     should fire it. Day pairs found under superseded indexes make
  *     the single-frozen-index full-batch equality inapplicable after
  *     the first retrain (`check` refuses such a chain, below)
  *     — run WITHOUT --auto-retrain when a `check` audit of the loop is
  *     the goal; the claim under retrain is the recall curve, which
  *     retraining is what restores. With `--retrain-defer` (VERDICT r17
  *     item 5) the fired rule only writes a `_retrain_due` marker and
  *     every tick reports `retrain_due:true` until the separate
  *     `retrain` verb runs — the measured trade at 10 M: the inline
  *     retrain turns one 33–49 s tick into a 772 s one (23×, mid-ingest)
  *     for ~180 s/day of amortized probe savings, so operators with a
  *     latency SLO defer it to a maintenance window and accept the
  *     documented mid-cycle recall sag while the marker stands.
  *   compact <standingDir>
  *     Rewrite all pieces into one (the probe-cost bound — README's
  *     measured +57 % drift at 20 uncompacted pieces).
  *   retrain <indexDir> <standingDir>
  *     Retrain + refreeze the index on the full standing corpus and
  *     reassign everything into one piece — the fixed-schedule posture
  *     (README's `--retrain-every` arm) as an operable verb, for
  *     orchestrators that refresh on a calendar instead of arming
  *     `--auto-retrain`'s creep rule. Doubles as compaction.
  *   check <allEmbeddings> <indexDir> <pairsDir> [pairsDir ...]
  *     The sym_diff audit as an operable command: run the frozen
  *     full-batch pipeline over <allEmbeddings> (same flags as the loop)
  *     and compare against the union of the loop's pair outputs
  *     (bootstrap pairsOut + every day's pairsOut). Prints sym_diff —
  *     0 is the loop's invariant, valid only while the index
  *     was never retrained mid-loop; pair dirs carry the emitting
  *     index's epoch and `check` REFUSES a mixed-epoch or superseded
  *     chain instead of printing a sym_diff whose premise is violated
  *     (VERDICT r16 item 2).
  *
  * Flags: --probes=N --margin=F (frozen-index level-1 boundary-margin
  * multiprobe) and --sub-margin=F (the level-2 runner-up rule) —
  * README's measured recall knobs; --tau=T (pair cosine threshold,
  * default 0.9); --auto-retrain[=pct] and --retrain-defer (day only,
  * above); --defer-limit=N and --defer-refuse (day only — bound the
  * deferral window: past N completed deferred ticks the tick reports
  * `retrain_overdue` with a loud warning, and with --defer-refuse the
  * next tick refuses to ingest until `retrain` runs).
  *
  * Single-writer: commands assume no concurrent writer and no reader
  * DURING compact/retrain (a crash mid-swap leaves the standing dir
  * piece-less but every row recoverable from the staged/trashed dirs).
  *
  * Every command is deterministic given its inputs: the frozen index
  * assigns per-vector, so day-by-day ingestion reproduces the full-batch
  * pair set over the same index exactly (the `sym_diff 0` invariant;
  * SemIndexJobSpec proves it through THIS CLI surface at spec scale,
  * `check` re-proves it at any scale). */
object SemIndexJob {

  /** One day tick's outcome (the JSON line prints the same fields).
    * `creepPct` is the ratio-vs-baseline the auto-retrain trigger acts
    * on, as a percentage over the post-(re)train baseline (VERDICT r16
    * item 6: probe_rows alone doesn't let an operator watching the log
    * see how close the rule is to firing). None when no baseline exists
    * and none was established this tick; 0.0 on the tick that
    * establishes it. */
  final case class DayStats(newPairs: Long, probeRows: Long, freshN: Long,
      retrained: Boolean, creepPct: Option[Double],
      retrainDue: Boolean = false, retrainOverdue: Boolean = false)

  private val MultiMarker = "_multi_membership"
  private val BaselineFile = "_probe_baseline"

  /** Deferred-retrain marker (VERDICT r17 item 5): the measured trade at
    * 10 M is a 772 s day tick when `--auto-retrain` executes the retrain
    * INLINE (vs 33–49 s normal ticks — a 23× latency spike mid-ingest)
    * against ~180 s/day of amortized probe-bill savings. An operator who
    * cannot absorb the spike runs `day --auto-retrain --retrain-defer`:
    * the creep rule only WRITES this marker (content = the creep % that
    * fired it) and the separate `retrain` verb — a maintenance-window
    * command — executes and clears it. The baseline is left in place
    * while deferred, so every subsequent tick re-reports `retrain_due`
    * until the retrain actually runs; recall keeps degrading at the
    * measured mid-cycle rate meanwhile (the README drift tables), which
    * is the cost the operator is explicitly accepting.
    *
    * Bounded deferral (VERDICT r18 item 5): "explicitly accepting" must
    * not decay into "silently forgot" — an unbounded marker lets an
    * operator who misses the maintenance window accumulate exactly the
    * recall sag the auto-trigger exists to stop. The marker therefore
    * carries a second line counting the ingest ticks completed since
    * the rule fired; once the count reaches `--defer-limit` (default
    * [[DeferTickLimit]]) every further tick escalates from
    * `retrain_due:true` to `retrain_overdue:true` plus a loud stderr
    * warning, and with `--defer-refuse` the NEXT tick refuses to ingest
    * at all until the `retrain` verb runs (the operator's choice of
    * posture: a latency SLO that can't absorb the inline spike vs a
    * recall SLO that can't absorb open-ended sag). Single-line markers
    * from older runs read as count 0 — the bound starts from the
    * upgrade, never refuses retroactively. */
  private val RetrainDueFile = "_retrain_due"

  /** Default `--defer-limit`: ticks a fired retrain may be deferred
    * before the overdue escalation. 7 daily ticks ≈ one weekly
    * maintenance window — past the measured mid-cycle drift horizon
    * (README: creep fires at ~10 % and recall decays measurably within
    * the following ~5 ticks at 10 M), so the default warns before the
    * damage compounds while still spanning a realistic ops calendar. */
  private[graft] val DeferTickLimit = 7

  /** (fired creep %, completed ticks since firing) from the deferral
    * marker; single-line legacy content reads as 0 ticks. */
  private def readRetrainDue(fs: org.apache.hadoop.fs.FileSystem,
      standingDir: String): Option[(Double, Long)] =
    readSmall(fs, s"$standingDir/$RetrainDueFile").map { c =>
      val lines = c.split("\n")
      (lines.headOption.flatMap(_.trim.toDoubleOption).getOrElse(0.0),
        if (lines.length > 1) lines(1).trim.toLongOption.getOrElse(0L)
        else 0L)
    }

  private def writeRetrainDue(fs: org.apache.hadoop.fs.FileSystem,
      standingDir: String, creepPct: Double, ticks: Long): Unit =
    writeSmall(fs, s"$standingDir/$RetrainDueFile",
      String.format(java.util.Locale.ROOT, "%.1f",
        java.lang.Double.valueOf(creepPct)) + "\n" + ticks)

  /** Landed-batch ledger (review r17): the day tick's retry refusal used
    * to rest on the `piece_batch_<id>` NAME existing — but retrain and
    * compact collapse every piece into one, ERASING those names, so a
    * blind retry of a landed tick after either rewrite re-ingested the
    * batch silently (duplicate vectors in the standing set, inflated
    * probe bills). Each published batch piece therefore also writes a
    * `_landed_batch_<id>` marker that the rewrites leave in place —
    * retrain/compact change layout, not ingestion history — and
    * [[day]]'s refusal checks BOTH. Only `bootstrap` clears the ledger
    * (it starts a new standing corpus). Written AFTER the piece rename:
    * a crash between the two leaves the piece name itself to collide
    * loud — and because that window leaves a batch piece WITHOUT a
    * marker, compact/retrain BACKFILL a marker for every
    * `piece_batch_*` name they are about to erase (review r17 second
    * pass: without the backfill, crash-after-rename followed by a
    * rewrite re-opened the silent double-ingestion the ledger closes). */
  private val LedgerPrefix = "_landed_"

  /** Backfill ledger markers for batch pieces a rewrite is about to
    * collapse — the marker, not the piece name, carries the retry
    * refusal from then on. */
  private def backfillLedger(fs: org.apache.hadoop.fs.FileSystem,
      standingDir: String,
      old: Array[org.apache.hadoop.fs.Path]): Unit =
    old.map(_.getName).filter(_.startsWith("piece_batch_")).foreach { n =>
      val marker = s"$standingDir/$LedgerPrefix${n.stripPrefix("piece_")}"
      if (!fs.exists(hpath(marker))) writeSmall(fs, marker, "")
    }

  private def hfs(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private def hpath(s: String) = new org.apache.hadoop.fs.Path(s)

  private def pieceDirs(spark: SparkSession, standingDir: String)
      : Array[org.apache.hadoop.fs.Path] = {
    val fs = hfs(spark, standingDir)
    if (!fs.exists(hpath(standingDir))) Array.empty
    else fs.listStatus(hpath(standingDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("piece_"))
      .map(_.getPath)
  }

  private def pieces(spark: SparkSession, standingDir: String): DataFrame = {
    val dirs = pieceDirs(spark, standingDir).map(_.toString)
    require(dirs.nonEmpty, s"no piece_* dirs under $standingDir")
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  private def loadIndex(spark: SparkSession, indexDir: String) =
    SimilarityOps.SemIndex(
      spark.read.parquet(s"$indexDir/coarse"),
      spark.read.parquet(s"$indexDir/sub"))

  /** The one bit the pair-dedup decision needs across invocations
    * (ADVICE r15): whether ANY standing piece was written by a
    * multi-membership assignment. Persisted as a marker file so a later
    * flag-less `day` still dedups; survives compact (it only rewrites
    * piece_* dirs) and is reset by a retrain (which rewrites every piece
    * under the then-current flags). */
  private def standingMulti(spark: SparkSession, standingDir: String): Boolean =
    hfs(spark, standingDir).exists(hpath(s"$standingDir/$MultiMarker"))

  private def recordMembership(spark: SparkSession, standingDir: String,
      multi: Boolean): Unit =
    if (multi) {
      val fs = hfs(spark, standingDir)
      fs.mkdirs(hpath(standingDir))
      val out = fs.create(hpath(s"$standingDir/$MultiMarker"), true)
      out.close()
    }

  /** Hadoop rename signals failure by returning FALSE, not throwing —
    * an unchecked rename in the stage-trash-swap protocol would corrupt
    * it silently (review r16: a failed move-to-trash would leave the old
    * piece in place NEXT TO the rewritten one, duplicating its vectors
    * in every later tick). Every protocol rename goes through here. */
  private def renameChecked(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(src, dst), s"rename $src -> $dst failed")

  /** Small-file write, temp + atomic REPLACE: a crash mid-write must not
    * leave a half-written (e.g. 0-byte) state file — a corrupt
    * `_probe_baseline` would otherwise throw on every later tick, AFTER
    * the tick already appended its piece, so retries duplicate the
    * batch. The replace goes through FileContext.rename(OVERWRITE)
    * rather than delete-then-rename (ADVICE r16): the old protocol had a
    * window where the target was absent, and for the index `_epoch`
    * written at the end of retrain an absent file silently DISABLES the
    * epoch consistency check instead of failing loud. */
  private def writeSmall(fs: org.apache.hadoop.fs.FileSystem,
      path: String, content: String): Unit = {
    val tmp = hpath(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, hpath(path), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def readSmall(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[String] = {
    val p = hpath(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  private def readBaseline(spark: SparkSession, standingDir: String)
      : Option[Double] =
    // toDoubleOption: unparseable content reads as "no baseline" (the
    // next tick re-establishes it) instead of wedging every later tick
    readSmall(hfs(spark, standingDir), s"$standingDir/$BaselineFile")
      .flatMap(_.toDoubleOption)

  private def writeBaseline(spark: SparkSession, standingDir: String,
      ratio: Double): Unit =
    // Locale.ROOT: a comma-decimal default locale would write "12,3456"
    // which toDoubleOption reads as None — the baseline must round-trip
    // on any JVM (review r16 second pass)
    writeSmall(hfs(spark, standingDir), s"$standingDir/$BaselineFile",
      String.format(java.util.Locale.ROOT, "%.6f",
        java.lang.Double.valueOf(ratio)))

  private def clearBaseline(spark: SparkSession, standingDir: String): Unit =
    hfs(spark, standingDir).delete(hpath(s"$standingDir/$BaselineFile"), false)

  /** Index-generation epoch (review r16): a retrain swaps TWO on-disk
    * artifacts — the index and the standing pieces — and no swap order
    * closes the crash window where one is new and the other old (pieces
    * assigned under index A probed through index B silently mis-bucket:
    * missed pairs, no error). So consistency is CHECKED, not assumed:
    * `train`/`retrain` stamp the index with an epoch, every piece is
    * tagged with the epoch it was assigned under (an `_epoch` file
    * INSIDE the piece dir — underscore files are invisible to parquet
    * readers and travel with the dir through renames), and `day`
    * requires every standing piece's epoch to match the index's before
    * probing. A crash inside any swap window now fails LOUD on the next
    * tick instead of silently losing pairs. Only epochs absent on BOTH
    * sides (a fully pre-epoch layout) skip the check — one tagged side
    * over an untagged other is unverifiable and refuses in either
    * direction (ADVICE r16 / review r17). */
  private val EpochFile = "_epoch"

  private def indexEpoch(spark: SparkSession, indexDir: String)
      : Option[String] =
    readSmall(hfs(spark, indexDir), s"$indexDir/$EpochFile")

  private def tagPiece(spark: SparkSession, pieceDir: String,
      epoch: Option[String]): Unit =
    epoch.foreach(e =>
      writeSmall(hfs(spark, pieceDir), s"$pieceDir/$EpochFile", e))

  /** Write `df` + its epoch tag into a staging dir, then one rename
    * publishes an always-tagged output — the same tag-then-publish
    * protocol pieces use, for the pair dirs (review r17 second pass:
    * a post-publish tag left a crash window producing a complete-looking
    * untagged pair dir that `check`'s refusal fail-open skips). The
    * target is replaced wholesale; callers own retry semantics. */
  private def publishTagged(spark: SparkSession, out: String,
      epoch: Option[String])(df: => DataFrame): Unit = {
    val stage = out + ".stage"
    df.write.mode("overwrite").parquet(stage)
    tagPiece(spark, stage, epoch)
    val fs = hfs(spark, out)
    fs.delete(hpath(out), true)
    renameChecked(fs, hpath(stage), hpath(out))
  }

  /** A leftover `.retrain_old_*` / `.compact_old_*` trash dir means a
    * swap crashed AFTER some pieces left the standing set but BEFORE
    * the protocol completed — the surviving pieces can be a same-epoch
    * SUBSET the epoch check cannot see (review r16 second pass), so
    * every command refuses until the operator restores the trashed
    * pieces or confirms the rewrite completed and deletes the residue.
    * This is what makes the mid-rename-loop crash window LOUD. */
  /** The day tick's staging dir is named FOR the piece it will become
    * (review r17 third pass): a fixed shared ".ingest_stage" let two
    * concurrent ticks with different batch ids cross-contaminate —
    * tick B's overwrite replaces tick A's staged rows, then tick A tags
    * and publishes a piece_batch_A holding batch B's vectors, marks A
    * landed (lost forever behind the ledger) and strands B on the
    * vanished stage. Per-piece naming keeps a same-batch retry
    * overwriting its own residue while distinct batches can never share
    * a stage (same-batch concurrency still loses exactly one writer,
    * loudly, at the publish rename / landed-ledger check). */
  private[graft] def ingestStage(standingDir: String,
      pieceName: String): String =
    s"$standingDir/.ingest_stage_$pieceName"

  private def requireNoTrash(spark: SparkSession, standingDir: String): Unit = {
    val fs = hfs(spark, standingDir)
    if (fs.exists(hpath(standingDir))) {
      val residue = fs.listStatus(hpath(standingDir))
        .map(_.getPath.getName)
        .filter(n => n.startsWith(".retrain_old_") ||
          n.startsWith(".compact_old_"))
      require(residue.isEmpty,
        s"$standingDir carries crash residue ${residue.mkString(", ")} — " +
          "a retrain/compact did not complete its swap; restore the " +
          "trashed pieces (or delete the residue after confirming the " +
          "rewritten piece is complete) before continuing")
    }
  }

  private def requireEpochConsistency(spark: SparkSession,
      indexDir: String, standingDir: String): Unit = {
    val idx = indexEpoch(spark, indexDir)
    val fs = hfs(spark, standingDir)
    pieceDirs(spark, standingDir).foreach { p =>
      val pe = readSmall(fs, s"$p/$EpochFile")
      // untagged piece + tagged index is an ERROR, not a skip (ADVICE
      // r16): every writer tags inside its staging dir before the piece
      // is published (tag-then-publish), so current code cannot produce
      // an untagged piece — one can only mean a pre-epoch layout, whose
      // assignment generation is unverifiable against this index. A
      // fail-open skip here would permanently exempt it.
      require(idx.isEmpty || pe.nonEmpty,
        s"standing piece ${p.getName} carries no epoch tag but the " +
          s"index is epoch ${idx.get} — its assignment generation " +
          "cannot be verified; run retrain (which rewrites and tags " +
          "every piece) or tag it manually after confirming it was " +
          "assigned under this index")
      // the mirror-image fail-open (review r17 second pass): an UNTAGGED
      // index over tagged pieces is the restored-pre-epoch-backup case —
      // the pieces' generation is unverifiable against it, same as above
      require(idx.nonEmpty || pe.isEmpty,
        s"standing piece ${p.getName} is tagged epoch ${pe.get} but the " +
          "index carries no epoch — a pre-epoch index was restored over " +
          "an epoch-tagged standing set; restore the index that matches " +
          "the pieces' epoch (or retrain) before the next day tick")
      require(idx.isEmpty || pe == idx,
        s"standing piece ${p.getName} was assigned under index epoch " +
          s"${pe.get} but the index is epoch ${idx.get} — a crashed " +
          "retrain left index and pieces inconsistent; re-run retrain " +
          "(or restore the matching index) before the next day tick")
    }
  }

  private def newEpoch(): String =
    java.lang.Long.toHexString(System.nanoTime())

  /** Default batch id for a CLI `day` tick (ADVICE r16): without
    * `--batch-id` the appended piece used to be nanoTime-stamped, so a
    * blind retry of a tick that crashed AFTER its piece landed silently
    * ingested the batch twice. The default id is a digest of the fresh
    * input's identity — its path plus the (name, length) of every data
    * file under it — so a retry of the same input collides on the piece
    * name and fails loud, while a genuinely new batch (new path, or new
    * files at a reused staging path) derives a new id. A reused staging
    * path whose new batch happens to match the old one file-for-file in
    * names and lengths also collides (loud, not silent — pass an
    * explicit `--batch-id` there). */
  private[graft] def deriveBatchId(spark: SparkSession,
      path: String): String = {
    val fs = hfs(spark, path)
    // digest the QUALIFIED path, not the raw argument (review r17 second
    // pass): a retry spelled /data/b1/ or file:///data/b1 names the same
    // files as /data/b1 but a raw-string digest would derive a fresh id
    // and silently re-ingest — the exact hazard this digest exists to
    // close. makeQualified normalizes scheme, authority, relative
    // resolution, and trailing slashes.
    val qualified = fs.makeQualified(hpath(path))
    val st = fs.getFileStatus(qualified)
    val entries =
      if (st.isDirectory)
        fs.listStatus(qualified)
          .filterNot(_.getPath.getName.startsWith("_"))
          .map(s => s"${s.getPath.getName}:${s.getLen}").sorted
      else Array(s"${st.getPath.getName}:${st.getLen}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(qualified.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    entries.foreach { e =>
      md.update(0.toByte)
      md.update(e.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    "auto_" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  def train(spark: SparkSession, emb: DataFrame, indexDir: String): Unit = {
    val ix = SimilarityOps.semIndexTrain(spark, emb, emb.count())
    ix.coarse.write.mode("overwrite").parquet(s"$indexDir/coarse")
    ix.sub.write.mode("overwrite").parquet(s"$indexDir/sub")
    writeSmall(hfs(spark, indexDir), s"$indexDir/$EpochFile", newEpoch())
  }

  def bootstrap(spark: SparkSession, emb: DataFrame, indexDir: String,
      standingDir: String, probes: Int, margin: Double,
      subMargin: Double = 0.0, pairsOut: Option[String] = None,
      tau: Double = 0.9): Unit = {
    // bootstrap STARTS a standing corpus: stale state from a previous
    // loop in the same dir must not leak into the new one (review r16 —
    // a surviving _probe_baseline would fire a spurious retrain on the
    // new loop's first creep, and stale pieces would pollute it). The
    // piece check is loud, not destructive: only piece_boot itself is
    // overwritten.
    requireNoTrash(spark, standingDir)
    val leftover = pieceDirs(spark, standingDir)
      .filter(_.getName != "piece_boot")
    require(leftover.isEmpty,
      s"bootstrap into $standingDir would orphan existing pieces " +
        s"${leftover.map(_.getName).mkString(", ")} — compact/clean the " +
        "dir or use a fresh one")
    clearBaseline(spark, standingDir)
    // a NEW standing corpus starts with an empty ingestion history: stale
    // ledger markers from a previous loop in the same dir would falsely
    // refuse the new loop's batches on id reuse (review r17); a stale
    // deferred-retrain marker would falsely report the new loop as due
    hfs(spark, standingDir)
      .delete(hpath(s"$standingDir/$RetrainDueFile"), false)
    val bfs = hfs(spark, standingDir)
    if (bfs.exists(hpath(standingDir)))
      bfs.listStatus(hpath(standingDir))
        .filter(_.getPath.getName.startsWith(LedgerPrefix))
        .foreach(s => bfs.delete(s.getPath, false))
    val multi = probes > 1 || subMargin > 1.0
    // marker BEFORE the piece lands (review r16 second pass): a crash
    // between the two must err toward marker-present — a spurious
    // marker costs one extra pair-dedup shuffle, a missing one emits
    // duplicate pairs silently
    if (multi) recordMembership(spark, standingDir, multi)
    else hfs(spark, standingDir)
      .delete(hpath(s"$standingDir/$MultiMarker"), false)
    // tag-then-publish (ADVICE r16): the epoch tag is written into the
    // STAGING dir and the piece renamed into place after, so no crash
    // window can leave a PUBLISHED piece untagged (an untagged piece was
    // permanently exempt from requireEpochConsistency, which now treats
    // it as an error instead)
    val epoch = indexEpoch(spark, indexDir)
    val stage = s"$standingDir/.boot_stage"
    SimilarityOps
      .semIndexAssign(spark, emb, loadIndex(spark, indexDir), probes,
        margin, subMargin)
      .write.mode("overwrite").parquet(stage)
    tagPiece(spark, stage, epoch)
    val fs = hfs(spark, standingDir)
    fs.delete(hpath(s"$standingDir/piece_boot"), true)
    renameChecked(fs, hpath(stage), hpath(s"$standingDir/piece_boot"))
    pairsOut.foreach { out =>
      // pair outputs carry the epoch they were emitted under — `check`
      // refuses a pair chain that spans a retrain (VERDICT r16 item 2).
      // Tag-then-publish like the pieces (review r17 second pass): a
      // crash between a direct write and a post-hoc tag would leave a
      // complete-looking UNTAGGED pair dir that check's epoch refusal
      // fail-open skips, re-admitting the bare mixed-epoch sym_diff.
      publishTagged(spark, out, epoch) {
        SimilarityOps.semDupPairsAssigned(spark,
          spark.read.parquet(s"$standingDir/piece_boot"), tau,
          multiAssigned = probes > 1 || subMargin > 1.0)
      }
    }
  }

  /** One maintenance tick; returns pair count, probe bill, and whether
    * the auto-retrain rule fired. `batchId` (review r16 second pass)
    * makes the tick retry-safe: the appended piece is named
    * `piece_batch_<id>`, published only if absent, so re-running a tick
    * that already landed fails LOUD on the existing piece instead of
    * silently duplicating the batch. The CLI always passes one —
    * explicit `--batch-id` or [[deriveBatchId]]'s input-identity digest
    * (ADVICE r16); a LIBRARY caller passing None gets a stamp-named
    * piece and must handle retries itself. */
  def day(spark: SparkSession, fresh: DataFrame, indexDir: String,
      standingDir: String, pairsOut: String, tau: Double,
      probes: Int, margin: Double, subMargin: Double = 0.0,
      autoRetrainPct: Option[Double] = None,
      batchId: Option[String] = None,
      retrainDefer: Boolean = false,
      deferLimit: Int = DeferTickLimit,
      deferRefuse: Boolean = false): DayStats = {
    requireNoTrash(spark, standingDir)
    requireEpochConsistency(spark, indexDir, standingDir)
    // refuse an already-landed batch BEFORE touching any output (review
    // r17): the publish-time collision check alone fires only after the
    // retry has already OVERWRITTEN pairsOut — and the retry computes
    // those pairs against a standing set that now contains the batch's
    // own piece, so the first attempt's correct pair output would be
    // replaced by a polluted one on the way to the loud failure
    val pieceName = batchId.map(b => s"piece_batch_$b")
      .getOrElse(s"piece_${newEpoch()}")
    val sfs = hfs(spark, standingDir)
    def requireUnlanded(): Unit = {
      require(!sfs.exists(hpath(s"$standingDir/$pieceName")),
        s"$standingDir/$pieceName already exists — this batch already " +
          "landed (a retried tick must not ingest it twice); pass a fresh " +
          "--batch-id if this is genuinely a new batch")
      // the ledger outlives the piece NAME (retrain/compact collapse
      // pieces into one), so a retry after either rewrite still refuses
      batchId.foreach(b =>
        require(!sfs.exists(hpath(s"$standingDir/${LedgerPrefix}batch_$b")),
          s"batch $b already landed in $standingDir (its piece was since " +
            "compacted/retrained into the merged piece — the ledger " +
            s"marker ${LedgerPrefix}batch_$b records it); pass a fresh " +
            "--batch-id if this is genuinely a new batch"))
    }
    requireUnlanded()
    // bounded deferral (VERDICT r18 item 5), checked and advanced BEFORE
    // any work: with --defer-refuse, a marker whose completed-tick count
    // has reached the limit refuses the tick outright (the operator must
    // run the `retrain` verb — or drop the flag — before ingesting
    // more); otherwise a standing marker just counts this tick. The
    // count advances HERE, not at tick end, so a tick that crashes
    // mid-ingest still consumed deferral budget (fail-safe: the bound
    // can only fire early, never late).
    val priorDue = readRetrainDue(sfs, standingDir)
    priorDue.foreach { case (firedCreep, ticks) =>
      if (deferRefuse) require(ticks < deferLimit,
        f"retrain has been deferred for $ticks completed ticks (limit " +
          f"$deferLimit, trigger fired at $firedCreep%.1f%% creep) — run " +
          "the `retrain` verb in a maintenance window before ingesting " +
          "more batches, or drop --defer-refuse to continue with " +
          "warnings (recall keeps sagging at the measured mid-cycle rate)")
      writeRetrainDue(sfs, standingDir, firedCreep, ticks + 1)
    }
    // read the epoch ONCE, before any work: pairs and piece written by
    // this tick are both artifacts of THIS index generation (a retrain
    // fired at the end of the tick must not retroactively re-label them)
    val epoch = indexEpoch(spark, indexDir)
    val index = loadIndex(spark, indexDir)
    val freshA = SimilarityOps
      .semIndexAssign(spark, fresh, index, probes, margin, subMargin)
      .localCheckpoint(true)
    val standing = pieces(spark, standingDir)
    val members = standing.join(
      broadcast(freshA.select("cluster").distinct()),
      Seq("cluster"), "left_semi")
    // pairs between two standing members were already emitted by an
    // earlier tick (or the bootstrap) — keep only pairs touching the
    // fresh batch. Fresh ids need not form a contiguous range, so the
    // either-endpoint test is two broadcast left
    // joins + an OR filter over ONE pair pass. multiAssigned must honor
    // the flags the STANDING pieces were written with, not just this
    // invocation's (ADVICE r15) — the persisted marker carries that bit.
    val multiAssigned = probes > 1 || subMargin > 1.0 ||
      standingMulti(spark, standingDir)
    val freshIds = freshA.select(col("vec_id")).distinct()
    val fa = freshIds.select(col("vec_id").as("vec_a"), lit(1).as("ta"))
    val fb = freshIds.select(col("vec_id").as("vec_b"), lit(1).as("tb"))
    val dp = SimilarityOps
      .semDupPairsAssigned(spark, members.unionByName(freshA), tau,
        multiAssigned)
      .join(broadcast(fa), Seq("vec_a"), "left")
      .join(broadcast(fb), Seq("vec_b"), "left")
      .filter(col("ta").isNotNull || col("tb").isNotNull)
      .select("vec_a", "vec_b", "cos")
    // the pair set is an artifact of this index generation — stamped so
    // `check` can refuse a chain that spans a retrain (VERDICT r16
    // item 2), tag-then-publish so no crash window leaves a published
    // pair dir untagged (review r17 second pass)
    publishTagged(spark, pairsOut, epoch)(dp)
    // marker BEFORE the piece lands — marker-present is the fail-safe
    // direction (review r16 second pass)
    recordMembership(spark, standingDir, probes > 1 || subMargin > 1.0)
    // tag-then-publish (ADVICE r16): write + tag in a staging dir, then
    // one rename publishes an always-tagged piece; a crash BEFORE the
    // rename leaves only stage residue and the retry legitimately
    // succeeds. The existence check is re-asserted at publish time (not
    // just at tick start) because a Hadoop rename onto an EXISTING dir
    // target silently moves the stage INSIDE it instead of failing.
    val stage = ingestStage(standingDir, pieceName)
    freshA.write.mode("overwrite").parquet(stage)
    tagPiece(spark, stage, epoch)
    requireUnlanded()
    renameChecked(sfs, hpath(stage), hpath(s"$standingDir/$pieceName"))
    batchId.foreach(b =>
      writeSmall(sfs, s"$standingDir/${LedgerPrefix}batch_$b",
        epoch.getOrElse("")))
    val newPairs = spark.read.parquet(pairsOut).count()
    // probe bill in rows — the drift signal --auto-retrain acts on.
    // README's measured rule: probe_rows/batch creeps ≥ ~10 % above its
    // post-(re)train level BEFORE recall decays (drift concentrates
    // batches into few stale cells), so the trigger leads the damage.
    // The count re-runs the standing semi-join (one executor-parallel
    // pass, ~5–8 % of a 10 M tick) — the signal is a product of the
    // tick, so the bill is accepted rather than threaded through the
    // pair pass as accumulator plumbing. freshN counts the batch's
    // VECTORS (the input), not freshA's membership rows — under
    // frontier probing the latter is ~2.8× and would understate the
    // ratio; probe_rows stays in membership rows (the actual scoring
    // bill)
    val freshN = fresh.count()
    val probeRows = members.count()
    val ratio = probeRows.toDouble / math.max(1L, freshN)
    // read once: the trigger decision and the reported creep must see the
    // SAME baseline (a retrain below rewrites it, and the creep that
    // fired the trigger is the number worth logging, not the reset one)
    val baseline = readBaseline(spark, standingDir)
    val retrained = autoRetrainPct match {
      case None => false
      case Some(pct) =>
        baseline match {
          case None =>
            // first tick after a (re)train: this ratio IS the baseline
            writeBaseline(spark, standingDir, ratio)
            false
          case Some(base) if ratio >= base * (1.0 + pct / 100.0) =>
            if (retrainDefer) {
              // mark only (VERDICT r17 item 5) — the `retrain` verb
              // executes in a maintenance window. Overwrite-idempotent:
              // a later tick's larger creep replaces the recorded one,
              // PRESERVING the deferral tick count already on disk
              // (r19: a re-fire must not hand the bound back its budget)
              val ticksSoFar = readRetrainDue(sfs, standingDir)
                .map(_._2).getOrElse(0L)
              writeRetrainDue(sfs, standingDir,
                (ratio / base - 1.0) * 100.0, ticksSoFar)
              false
            } else {
              retrain(spark, indexDir, standingDir, probes, margin,
                subMargin)
              true
            }
          case Some(_) => false
        }
    }
    // the ratio-vs-baseline the trigger acts on, surfaced every tick
    // (VERDICT r16 item 6). 0.0 on the baseline-establishing tick by
    // construction; still reported (read-only) when --auto-retrain is
    // off but a baseline file exists from an earlier armed loop.
    val creepPct = baseline.map(b => (ratio / b - 1.0) * 100.0)
      .orElse(if (autoRetrainPct.isDefined) Some(0.0) else None)
    // pending-marker presence, not just fired-this-tick: a deferred
    // trigger keeps reporting until the maintenance retrain clears it
    val dueNow = readRetrainDue(sfs, standingDir)
    val retrainDue = dueNow.isDefined
    // overdue escalation (VERDICT r18 item 5): the deferral budget is
    // spent — a flag in the stats/JSON plus a loud stderr line, so an
    // operator tailing either channel can't miss it; --defer-refuse
    // turns the NEXT tick into a refusal
    val retrainOverdue = dueNow.exists(_._2 >= deferLimit)
    if (retrainOverdue) dueNow.foreach { case (firedCreep, ticks) =>
      System.err.println(
        f"[semindex] WARNING: retrain OVERDUE — deferred $ticks completed " +
          f"ticks (limit $deferLimit), trigger fired at $firedCreep%.1f%% " +
          "creep" +
          creepPct.map(c => f"; current creep $c%.1f%%").getOrElse("") +
          ". Run the `retrain` verb — recall is sagging at the measured " +
          "mid-cycle rate" +
          (if (deferRefuse) "; the next tick will REFUSE to ingest" else ""))
    }
    DayStats(newPairs, probeRows, freshN, retrained, creepPct, retrainDue,
      retrainOverdue)
  }

  /** Retrain + refreeze on the full standing corpus and reassign every
    * standing vector through the new index into ONE piece — the rewrite
    * doubles as compaction (a fixed retrain schedule's step).
    * Resets the probe baseline (the next day tick re-establishes it) and
    * the membership marker (every piece is now written under the current
    * flags).
    *
    * Crash posture (review r16): every artifact is STAGED before any
    * live state moves, every protocol rename is return-checked, old
    * pieces move to a trash dir before deletion (no row is ever
    * unrecoverable), and the trash is deleted only after BOTH swaps
    * completed. The index/pieces double swap has an unavoidable window
    * where one side is new and the other old — the piece epoch tags +
    * [[requireEpochConsistency]] make the next `day` fail LOUD there
    * instead of silently probing mis-bucketed pieces. Single-writer, no
    * concurrent reader during the swap. */
  def retrain(spark: SparkSession, indexDir: String, standingDir: String,
      probes: Int, margin: Double, subMargin: Double = 0.0): Unit = {
    requireNoTrash(spark, standingDir)
    // pieces hold one row PER MEMBERSHIP — under probing flags a seam
    // vector carries several (vec_id, cluster) rows, and feeding them
    // into train/assign undeduped would multiply the vector through the
    // cells join (m memberships → up to m·probes duplicate rows in
    // piece_retrained, an inflated semK, and duplicate pair emissions
    // once a single-flag retrain clears the marker — review r16 second
    // pass). One row per vector is the training corpus.
    val standingVecs = pieces(spark, standingDir)
      .select("vec_id", "embedding")
      .dropDuplicates("vec_id")
    val cnt = standingVecs.count()
    val epoch = newEpoch()
    val ix = SimilarityOps.semIndexTrain(spark, standingVecs, cnt)
    // stage the new index next to the old, swap after the reassignment
    // has been fully written (the reassignment reads the OLD pieces but
    // the NEW index frames, which are lineage-free after the round-trip)
    ix.coarse.write.mode("overwrite").parquet(s"$indexDir/.coarse_stage")
    ix.sub.write.mode("overwrite").parquet(s"$indexDir/.sub_stage")
    val frozen = SimilarityOps.SemIndex(
      spark.read.parquet(s"$indexDir/.coarse_stage"),
      spark.read.parquet(s"$indexDir/.sub_stage"))
    SimilarityOps
      .semIndexAssign(spark, standingVecs, frozen, probes, margin, subMargin)
      .write.mode("overwrite").parquet(s"$standingDir/.retrain_stage")
    tagPiece(spark, s"$standingDir/.retrain_stage", Some(epoch))
    // ---- everything below is the swap: staged state is complete ----
    val fs = hfs(spark, standingDir)
    backfillLedger(fs, standingDir, pieceDirs(spark, standingDir))
    val trash = hpath(s"$standingDir/.retrain_old_$epoch")
    fs.mkdirs(trash)
    pieceDirs(spark, standingDir).foreach(p =>
      renameChecked(fs, p, new org.apache.hadoop.fs.Path(trash, p.getName)))
    renameChecked(fs, hpath(s"$standingDir/.retrain_stage"),
      hpath(s"$standingDir/piece_retrained"))
    val ifs = hfs(spark, indexDir)
    ifs.delete(hpath(s"$indexDir/coarse"), true)
    ifs.delete(hpath(s"$indexDir/sub"), true)
    renameChecked(ifs, hpath(s"$indexDir/.coarse_stage"),
      hpath(s"$indexDir/coarse"))
    renameChecked(ifs, hpath(s"$indexDir/.sub_stage"),
      hpath(s"$indexDir/sub"))
    writeSmall(ifs, s"$indexDir/$EpochFile", epoch)
    // both swaps landed — only now is the old state disposable. Marker
    // handling errs toward marker-present (review r16 second pass):
    // record-if-multi happens before the delete-if-single, so no crash
    // window leaves multi-membership pieces unmarked.
    fs.delete(trash, true)
    val multi = probes > 1 || subMargin > 1.0
    if (multi) recordMembership(spark, standingDir, multi)
    else fs.delete(hpath(s"$standingDir/$MultiMarker"), false)
    clearBaseline(spark, standingDir)
    // a deferred-retrain marker is satisfied by exactly this command
    fs.delete(hpath(s"$standingDir/$RetrainDueFile"), false)
  }

  def compact(spark: SparkSession, standingDir: String): Unit = {
    requireNoTrash(spark, standingDir)
    val fs = hfs(spark, standingDir)
    val old = pieceDirs(spark, standingDir)
    require(old.nonEmpty, s"nothing to compact under $standingDir")
    // the merged piece keeps the pieces' (single, by requireEpoch-
    // checked day ticks) index epoch — compact changes layout, not
    // assignment generation
    val pieceEpochs = old.map(p => p -> readSmall(fs, s"$p/$EpochFile"))
    val untagged = pieceEpochs.collect { case (p, None) => p.getName }
    // all-or-none tagging (review r17 third pass): the old flatMap
    // silently DROPPED untagged pieces, so compacting a pre-epoch piece
    // (e.g. a restored old backup) alongside tagged ones stamped the
    // merged piece with the tagged epoch — laundering rows whose
    // assignment generation was never verified past the exact check
    // day() refuses on. An all-untagged (fully pre-epoch) layout still
    // compacts to an untagged piece, preserving what day() will see.
    require(untagged.isEmpty || untagged.length == old.length,
      s"pieces under $standingDir mix epoch-tagged and untagged " +
        s"(untagged: ${untagged.mkString(", ")}) — an untagged piece's " +
        "assignment generation is unverifiable and compacting it into a " +
        "tagged piece would exempt it from the epoch check forever; run " +
        "retrain instead")
    val epochs = pieceEpochs.flatMap(_._2).distinct
    require(epochs.length <= 1,
      s"pieces under $standingDir carry mixed index epochs " +
        s"${epochs.mkString(", ")} — run retrain, not compact")
    val merged = old.map(p => spark.read.parquet(p.toString))
      .reduce(_ unionByName _)
    // stage, TRASH-rename, swap, then delete (ADVICE r15): old pieces
    // move into a trash dir before anything is deleted — renames
    // return-checked — so a crash at any point loses no rows; the worst
    // window leaves the standing dir piece-less (pieces() fails loudly)
    // with every row recoverable from .compact_old_*/.compact_stage.
    // Single-writer, no concurrent reader during the swap.
    merged.write.mode("overwrite").parquet(s"$standingDir/.compact_stage")
    epochs.headOption.foreach(e =>
      tagPiece(spark, s"$standingDir/.compact_stage", Some(e)))
    backfillLedger(fs, standingDir, old)
    val stamp = newEpoch()
    val trash = hpath(s"$standingDir/.compact_old_$stamp")
    fs.mkdirs(trash)
    old.foreach(p =>
      renameChecked(fs, p, new org.apache.hadoop.fs.Path(trash, p.getName)))
    renameChecked(fs, hpath(s"$standingDir/.compact_stage"),
      hpath(s"$standingDir/piece_compacted"))
    fs.delete(trash, true)
  }

  /** The sym_diff audit: frozen full-batch pairs over `emb` vs the union
    * of the loop's emitted pair sets. Returns (fullPairs, chainedPairs,
    * symDiff).
    *
    * Every pair dir carries the `_epoch` of the index it was emitted
    * under (VERDICT r16 item 2): the audit's premise is a SINGLE frozen
    * index across the whole loop, and a chain that spans a retrain used
    * to print a bare, misleading nonzero sym_diff. `check` now refuses
    * mixed-epoch pair sets, and pair sets emitted under a superseded
    * index, instead of reporting a number whose premise is violated.
    * Only a FULLY untagged layout (pair dirs and index) skips the
    * check — a pre-epoch install auditing its own output; any untagged
    * dir under a tagged index is refused (review r17 third pass). */
  def check(spark: SparkSession, emb: DataFrame, indexDir: String,
      pairsDirs: Seq[String], tau: Double, probes: Int, margin: Double,
      subMargin: Double = 0.0): (Long, Long, Long) = {
    val idxEpoch = indexEpoch(spark, indexDir)
    val tagged = pairsDirs.flatMap(d =>
      readSmall(hfs(spark, d), s"$d/$EpochFile").map(d -> _))
    // an untagged pair dir under a TAGGED index fails open in both
    // directions (review r17 third pass): mixed with tagged dirs it is
    // silently unioned into the audit, and with ALL dirs untagged the
    // distinct-epochs list is empty so the superseded-index refusal is
    // skipped entirely — either way `check` prints a bare sym_diff whose
    // single-frozen-index premise is unverifiable, the exact mode the
    // epoch stamps exist to refuse. Only a fully untagged LAYOUT (index
    // untagged too) is the benign pre-epoch case.
    if (idxEpoch.nonEmpty) {
      val untaggedDirs = pairsDirs.filterNot(d => tagged.exists(_._1 == d))
      require(untaggedDirs.isEmpty,
        s"pair dirs ${untaggedDirs.mkString(", ")} carry no epoch tag " +
          s"but the index is epoch ${idxEpoch.get} — they were emitted " +
          "by pre-epoch code (or their tag was lost), so whether this " +
          "index is the one that emitted them is unverifiable; re-run " +
          "the loop under the tagged index (or audit the untagged dirs " +
          "against the pre-epoch index that produced them)")
    }
    val distinctEpochs = tagged.map(_._2).distinct
    require(distinctEpochs.length <= 1,
      s"pair dirs span index epochs ${distinctEpochs.mkString(", ")} (" +
        tagged.map { case (d, e) => s"$d=$e" }.mkString(", ") +
        ") — the loop retrained mid-chain, so the single-frozen-index " +
        "full-batch equality does not apply; audit each epoch's pair " +
        "dirs separately against the index that emitted them")
    distinctEpochs.headOption.foreach { e =>
      // an UNTAGGED index under tagged pair dirs is the restored
      // pre-epoch-backup case — it cannot be the index that emitted
      // these pairs (tagging derives from the index's own epoch), so
      // the audit's premise is unverifiable (review r17 second pass)
      require(idxEpoch.nonEmpty,
        s"pair dirs were emitted under index epoch $e but the index " +
          "carries no epoch — a pre-epoch index was restored over the " +
          "loop's layout; restore the emitting index before auditing")
      require(idxEpoch.contains(e),
        s"pair dirs were emitted under index epoch $e but the index is " +
          s"epoch ${idxEpoch.get} — the index was retrained after these " +
          "pairs, so a sym_diff against it is meaningless; restore the " +
          "emitting index or re-run the loop under the current one")
    }
    val index = loadIndex(spark, indexDir)
    val fullA = SimilarityOps
      .semIndexAssign(spark, emb, index, probes, margin, subMargin)
    val full = SimilarityOps
      .semDupPairsAssigned(spark, fullA, tau,
        multiAssigned = probes > 1 || subMargin > 1.0)
      .localCheckpoint(true)
    val chained = pairsDirs.map(spark.read.parquet(_))
      .reduce(_ unionByName _)
      .dropDuplicates("vec_a", "vec_b")
      .localCheckpoint(true)
    val cols = Seq("vec_a", "vec_b", "cos")
    val nFull = full.count()
    val nChained = chained.count()
    val miss = full.join(chained, cols, "left_anti").count()
    val extra = chained.join(full, cols, "left_anti").count()
    (nFull, nChained, miss + extra)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // campaign-log hygiene (VERDICT r19 item 4): each localCheckpoint
    // unpersist logs a benign but alarming WARN ("RDD N was locally
    // checkpointed … cannot be recomputed after unpersisting"); here they
    // come from DedupOps.checkpointReleasable (connected-components
    // rounds, sem-dedup loser frames), released after their consumers
    // ran. Suppressed in the campaign MAINS only; library sessions keep it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    def opt(name: String): Option[String] =
      args.find(_.startsWith(s"--$name=")).map(_.stripPrefix(s"--$name="))
    val probes = opt("probes").map(_.toInt).getOrElse(1)
    val margin = opt("margin").map(_.toDouble)
      .getOrElse(Double.PositiveInfinity)
    val subMargin = opt("sub-margin").map(_.toDouble).getOrElse(0.0)
    val tau = opt("tau").map(_.toDouble).getOrElse(0.9)
    val autoRetrain: Option[Double] =
      if (args.contains("--auto-retrain")) Some(10.0)
      else opt("auto-retrain").map(_.toDouble)
    val batchId = opt("batch-id")
    val pos = args.filterNot(_.startsWith("--")).toSeq
    val t0 = System.nanoTime()
    def wall = (System.nanoTime() - t0) / 1e9
    // settled shuffle-write accounting on every verb's JSON line
    // (VERDICT r19 item 5): the sem-index tick JSON carried only
    // pairs/rows/seconds, so the 772 s-vs-33–49 s inline-retrain trade
    // and the tick costs weren't re-checkable from artifacts alone. Same
    // counter, removed in the finally (ADVICE r19's leak class).
    val shuffleCounter = new graft.ShuffleWriteCounter(spark.sparkContext)
    def shuffleGb: String =
      String.format(java.util.Locale.ROOT, "%.2f",
        java.lang.Double.valueOf(shuffleCounter.settled() / 1e9))
    try pos match {
      case Seq("train", embPath, indexDir) =>
        train(spark, spark.read.parquet(embPath), indexDir)
        println(f"""{"metric":"sem_index_train","wall_sec":$wall%.1f,""" +
          f""""shuffle_write_gb":$shuffleGb}""")
      case Seq("bootstrap", embPath, indexDir, standingDir) =>
        bootstrap(spark, spark.read.parquet(embPath), indexDir, standingDir,
          probes, margin, subMargin)
        println(f"""{"metric":"sem_index_bootstrap","wall_sec":$wall%.1f,""" +
          f""""shuffle_write_gb":$shuffleGb}""")
      case Seq("bootstrap", embPath, indexDir, standingDir, pairsOut) =>
        bootstrap(spark, spark.read.parquet(embPath), indexDir, standingDir,
          probes, margin, subMargin, Some(pairsOut), tau)
        println(f"""{"metric":"sem_index_bootstrap","wall_sec":$wall%.1f,""" +
          f""""shuffle_write_gb":$shuffleGb}""")
      case Seq("day", freshPath, indexDir, standingDir, pairsOut) =>
        // no --batch-id → derive one from the input's identity, so even
        // un-flagged orchestrations get loud (not silent-duplicating)
        // tick retries (ADVICE r16)
        val bid = batchId.getOrElse(deriveBatchId(spark, freshPath))
        val st = day(spark, spark.read.parquet(freshPath), indexDir,
          standingDir, pairsOut, tau, probes, margin, subMargin, autoRetrain,
          Some(bid), retrainDefer = args.contains("--retrain-defer"),
          deferLimit = opt("defer-limit").map(_.toInt)
            .getOrElse(DeferTickLimit),
          deferRefuse = args.contains("--defer-refuse"))
        val creep = st.creepPct
          .map(c => String.format(java.util.Locale.ROOT, "%.1f",
            java.lang.Double.valueOf(c)))
          .getOrElse("null")
        println(f"""{"metric":"sem_index_day","new_pairs":${st.newPairs},""" +
          f""""probe_rows":${st.probeRows},"fresh_n":${st.freshN},""" +
          f""""retrained":${st.retrained},"retrain_due":${st.retrainDue},""" +
          f""""retrain_overdue":${st.retrainOverdue},""" +
          f""""creep_pct":$creep,""" +
          f""""batch_id":"$bid","wall_sec":$wall%.1f,""" +
          f""""shuffle_write_gb":$shuffleGb}""")
      case Seq("compact", standingDir) =>
        compact(spark, standingDir)
        println(f"""{"metric":"sem_index_compact","wall_sec":$wall%.1f,""" +
          f""""shuffle_write_gb":$shuffleGb}""")
      case Seq("retrain", indexDir, standingDir) =>
        // the fixed-schedule posture as an operable verb: --auto-retrain EXECUTES the creep rule,
        // but an orchestrator running a scheduled refresh needs the
        // retrain itself (which doubles as compaction) without a day tick
        retrain(spark, indexDir, standingDir, probes, margin, subMargin)
        println(f"""{"metric":"sem_index_retrain","wall_sec":$wall%.1f,""" +
          f""""shuffle_write_gb":$shuffleGb}""")
      case "check" +: embPath +: indexDir +: pairsDirs if pairsDirs.nonEmpty =>
        val (nFull, nChained, symDiff) = check(spark,
          spark.read.parquet(embPath), indexDir, pairsDirs, tau, probes,
          margin, subMargin)
        println(f"""{"metric":"sem_index_check","full_pairs":$nFull,""" +
          f""""chained_pairs":$nChained,"sym_diff":$symDiff,""" +
          f""""wall_sec":$wall%.1f,"shuffle_write_gb":$shuffleGb}""")
      case other => sys.error(
        "usage: SemIndexJob train <emb> <indexDir> | " +
          "bootstrap <emb> <indexDir> <standingDir> [pairsOut] | " +
          "day <fresh> <indexDir> <standingDir> <pairsOut> | " +
          "compact <standingDir> | retrain <indexDir> <standingDir> | " +
          "check <emb> <indexDir> <pairsDir...>  " +
          "[--probes=N --margin=F --sub-margin=F --tau=T " +
          "--auto-retrain[=pct] --retrain-defer --defer-limit=N " +
          "--defer-refuse --batch-id=ID]" +
          s" (got: ${other.mkString(" ")})")
    } finally shuffleCounter.remove()
    spark.stop()
  }
}
