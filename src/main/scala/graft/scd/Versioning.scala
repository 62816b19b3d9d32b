package graft.scd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD-Type-2 versioning semantics from the reference's load path
  * (PodioApiGateway.py:128-141): each new item version demotes all
  * prior versions (`current=0`) and inserts itself with `current=1`;
  * deletes are soft tombstones on the latest version
  * (PodioApiGateway.py:161-178, designed-but-commented).
  *
  * The reference does this row-at-a-time against MongoDB; the
  * Spark-native equivalent is a window snapshot: one pass, partitioned
  * by the business key — shuffles once on the key, then every version
  * decision is partition-local. At 100 TB the history table would be
  * bucketed by `item_id` so this window needs no shuffle at all.
  */
object Versioning {

  /** W1: the current-flag rewrite. Latest row per key (by `ts` desc,
    * tiebreak for determinism) gets current=1, all others 0.
    */
  def withCurrentFlag(df: DataFrame, key: String, ts: String,
      tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("current",
      (row_number().over(w) === 1).cast("int"))
  }

  /** [[withCurrentFlag]] via a map-side-combinable aggregate + join
    * instead of a per-key window — the hot-key route: a window cannot
    * parallelize ONE key's partition, so a business key holding a
    * constant fraction of the history (the measured 45%-hot CRM
    * regime) serializes on a single core; this form computes each
    * key's max (ts, tiebreak) with partial aggregation (the hot key
    * combines map-side across every partition) and marks rows by an
    * equi-join against the ≤|keys|-row result, which AQE broadcasts
    * while it fits. Identical output to the window form: version
    * pairs are unique on (ts, tiebreak) per key by the merge
    * contract's event_id dedup (exact ties would mark every tied row
    * current=1 where the window picks one — the stated precondition),
    * and null business keys form their own stratum via the null-safe
    * join, exactly as the window's partitionBy keeps them — so q20b
    * gates on q20's exact oracle.
    */
  def withCurrentFlagAgg(df: DataFrame, key: String, ts: String,
      tiebreak: String): DataFrame = {
    // NULL-SAFE join (<=>): groupBy faithfully keeps a null-keyed
    // stratum (as the window form's partitionBy does), but a plain
    // equi-join back would silently drop every such row — the r12
    // advice finding. The renamed join column keeps the condition
    // unambiguous.
    val latest = df.groupBy(col(key)).agg(
        max(struct(col(ts), col(tiebreak))).as("_mx"))
      .withColumnRenamed(key, "_k")
    df.join(latest, col(key) <=> col("_k"))
      .withColumn("current",
        (struct(col(ts), col(tiebreak)) === col("_mx")).cast("int"))
      .drop("_mx", "_k")
  }

  /** W2: latest-version-per-key snapshot (the reference's
    * `find_one(sort=[('timestamp',-1)])`, PodioApiGateway.py:165).
    */
  def latestSnapshot(df: DataFrame, key: String, ts: String,
      tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** T9: soft-delete tombstone — mark the CURRENT version of each
    * matching key as deleted=true instead of removing it, exactly the
    * reference's `find_one(sort=[('timestamp',-1)])` + `update_one`
    * (PodioApiGateway.py:165-169): history versions keep their flags.
    * Incremental-safe: an existing `deleted` column is preserved for
    * rows this batch doesn't touch, so applying delete batches one by
    * one never un-deletes earlier tombstones.
    */
  def softDelete(df: DataFrame, deleteKeys: DataFrame, key: String)
      : DataFrame = {
    val marked = deleteKeys.select(col(key)).distinct()
      .withColumn("_del", lit(true))
    // coalesce, not the raw column: history written before the
    // deleted column existed reads back null-filled under mergeSchema,
    // and false || NULL = NULL would leave every legacy row's flag
    // NULL — silently dropped by any !deleted live-view filter
    // (three-valued logic). versionDiff coalesces for the same reason.
    val prior =
      if (df.columns.contains("deleted"))
        coalesce(col("deleted"), lit(false))
      else lit(false)
    val isCurrent =
      if (df.columns.contains("current")) col("current") === 1 else lit(true)
    df.join(marked, Seq(key), "left")
      .withColumn("deleted",
        (coalesce(col("_del"), lit(false)) && isCurrent) || prior)
      .drop("_del")
  }

  /** Version retention: keep only each key's `keepLast` newest
    * versions — the history-table vacuum an SCD2 store needs once
    * versions-per-key outgrows its audit value (the reference keeps
    * every version forever, which is exactly the unbounded-growth
    * hazard; this is the bounded-history policy). One window per key
    * partition, shuffle-free on key-bucketed layout like every other
    * Versioning op.
    */
  def pruneVersions(df: DataFrame, key: String, ts: String,
      tiebreak: String, keepLast: Int): DataFrame = {
    require(keepLast > 0, "keepLast must be positive")
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= keepLast).drop("_rn")
  }

  /** Time travel: the per-key current version AS OF `asOf` — what the
    * store looked like at a past instant, reconstructed from the
    * version history (the audit question the reference's migration
    * story asks: "what did the CRM say on date X"). Keys whose first
    * version postdates `asOf` are absent, exactly as they were then.
    */
  def snapshotAsOf(history: DataFrame, key: String, ts: String,
      tiebreak: String, asOf: Column): DataFrame =
    latestSnapshot(history.filter(col(ts) <= asOf), key, ts, tiebreak)

  /** Change feed between two as-of instants — the "what changed
    * between syncs" question a CRM migration asks of its version
    * history. The diff is over LIVE state (latest version per key,
    * minus soft-delete tombstones when a `deleted` column exists):
    * `added` (live at `to` only, never seen before), `restored` (live
    * at `to`, tombstoned at `from`), `removed` (live at `from`, dead
    * or absent at `to`), `changed` / `unchanged` (live at both,
    * version identity compared). Keys live at NEITHER instant — born
    * dead between syncs, or dead at both — emit no row: they are in
    * neither live snapshot, and a consumer reconciling a replica has
    * nothing to do for them. Two window snapshots over the pruned
    * history plus one key equi-join — shuffle-free end to end on a
    * key-bucketed layout, like every other Versioning op.
    */
  def versionDiff(history: DataFrame, key: String, ts: String,
      tiebreak: String, from: Column, to: Column): DataFrame = {
    def side(asOf: Column, tag: String) = {
      val del =
        if (history.columns.contains("deleted")) col("deleted")
        else lit(false)
      snapshotAsOf(history, key, ts, tiebreak, asOf)
        .select(col(key), col(ts).as(s"${tag}_ts"),
          col(tiebreak).as(s"${tag}_version"),
          coalesce(del, lit(false)).as(s"_${tag}_del"))
    }
    // absent side ⇒ null _del; coalesce makes liveness a real boolean
    val oldLive = col("old_version").isNotNull &&
      !coalesce(col("_old_del"), lit(false))
    val newLive = col("new_version").isNotNull &&
      !coalesce(col("_new_del"), lit(false))
    side(from, "old").join(side(to, "new"), Seq(key), "full")
      .filter(oldLive || newLive)
      .withColumn("change_type",
        when(!oldLive && col("old_version").isNull, lit("added"))
          .when(!oldLive, lit("restored"))
          .when(!newLive, lit("removed"))
          .when(col("old_ts") === col("new_ts") &&
            col("old_version") === col("new_version"), lit("unchanged"))
          .otherwise(lit("changed")))
      .drop("_old_del", "_new_del")
  }

  /** K3: audit append — stamp completion time on processed events
    * (PodioApiGateway.py:139-141).
    */
  def auditStamp(df: DataFrame): DataFrame =
    df.withColumn("completed_timestamp", current_timestamp())

  /** The SCD2 invariant checked by tests: exactly one current=1 row per
    * key. Returns keys violating it (empty = healthy). Grouping runs
    * over ALL rows, not a current===1 pre-filter — a key whose every
    * version was demoted to current=0 (the zero-current failure mode)
    * must surface too, and a pre-filter would hide it from the groupBy
    * entirely.
    */
  def invariantViolations(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key))
      .agg(sum(col("current")).as("n_current"))
      .filter(col("n_current") =!= 1)

  // --------------------------------------- hard-forget (r15 item 3)

  /** The persisted tables one GDPR erasure must reach — every path
    * optional, so a deployment names exactly the stores it runs:
    * the SCD2 version-history table, the completed-events audit table
    * (PodioApiGateway.py:139-141's collection), and the pending event
    * queue (PodioApiGateway.py:86). The corpus world's counterpart is
    * [[graft.ml.Corpus.TakedownTargets]].
    */
  final case class ForgetTargets(
      historyPath: Option[String] = None,
      auditPath: Option[String] = None,
      queuePath: Option[String] = None) {
    def paths: Seq[String] =
      Seq(historyPath, auditPath, queuePath).flatten
  }

  private[scd] val ForgetStageDir = "_graft_forget_stage"
  private val ForgetStage =
    graft.sources.StagedRewrite.SwapStage.forget(ForgetStageDir)

  /** The per-table forgotten-ids ledger sibling — the compliance
    * evidence an erasure leaves behind (ids only, no erased data).
    */
  private[graft] val ForgottenDir = "_graft_forgotten"

  /** Hard-forget for the CRM/SCD2 world (r15 verdict item 3): ONE key
    * set erased PHYSICALLY — every version, not a soft tombstone —
    * from each named table, while surviving keys' rows (and so the
    * one-current invariant) are untouched byte-for-byte. The corpus
    * world has [[graft.ml.Corpus.takedown]] (mask + compact); the
    * reference-semantics world had only [[softDelete]]'s T9 tombstone
    * and [[pruneVersions]]' newest-N policy — neither satisfies a
    * GDPR/right-to-erasure request, which demands the bytes GONE from
    * history, audit trail, and pending queue alike.
    *
    * Per table, the [[graft.streaming.CorpusIngest.compactCorpus]]
    * staged-uuid-swap crash contract: the key set lands in the
    * table's [[ForgottenDir]] ledger FIRST (durable intent +
    * compliance evidence, deduped so replays never grow it),
    * survivors stage durably under [[ForgetStageDir]], the
    * `_GRAFT_STAGE_ID` uuid marker is the commit point, and the apply
    * moves staged files in under `graftf-<uuid>-` names before
    * deleting old data files — a crash anywhere is repaired by
    * REPLAYING THE SAME CALL: a committed stage finishes first, an
    * uncommitted one is debris, an already-erased table removes 0
    * rows and rewrites nothing. Erased keys are NOT blocked from
    * re-ingest, deliberately: CRM keys are source-assigned, and a
    * person who re-consents legitimately reappears under their old
    * item_id — the ledger (which keeps every erased id) is the
    * compliance record, and a deployment whose policy demands
    * re-admission blocking anti-joins its ingest against it.
    *
    * Single-writer discipline is ENFORCED, not advised: per table,
    * the erase holds the same `_graft_maintaining` writer lock the
    * index sweeps use ([[graft.ml.Maintenance]]), so a live CDC merge
    * ([[graft.streaming.CdcPipeline.mergeBatchPruned]] /
    * `writeMergedBuckets`) refuses loudly for the rewrite's duration
    * — without it, a dynamic-partition overwrite racing the staged
    * swap either loses the merge's files (the apply deletes
    * non-prefixed data files) or resurrects erased rows (the apply
    * moves pre-merge survivors over the merge's output). A crashed
    * erase leaves the lock; re-run with `breakStaleLock = true` once
    * no erase is live (the maintainIndex remedy). Readers inside the
    * apply window may see a row twice (old ∪ new), never a gap. Cost
    * shape at scale: one ledger append + one anti-join rewrite per
    * table — at 100 TB the history table is bucketed by key, so the
    * anti-join is map-side against the broadcast id set. Returns the
    * number of rows physically removed across all targets.
    */
  def forget(spark: org.apache.spark.sql.SparkSession,
      itemIds: DataFrame, targets: ForgetTargets,
      key: String = "item_id", breakStaleLock: Boolean = false,
      ledgerPath: Option[String] = None,
      ledgerTag: String = ""): Long = {
    require(targets.paths.nonEmpty,
      "forget: no target tables named — nothing would be erased")
    graft.ml.Materialize.withCut(itemIds.select(
        when(col(key).isNotNull, col(key))
          .otherwise(raise_error(
            lit("forget: null key in erase batch"))).as(key))
      .distinct()) { ids =>
      val removed = targets.paths.map(p =>
        forgetFrom(spark, ids, p, key, breakStaleLock)).sum
      ledgerPath.foreach(lp =>
        appendForgetLedger(spark, ids, targets, key, lp, ledgerTag))
      removed
    }
  }

  /** The erasure-cascade compliance row (the
    * [[graft.ml.Corpus.takedown]] ledger discipline, mirrored for the
    * CRM world): a forget leaves per-table `_graft_forgotten` id
    * ledgers, but an audit ("prove item X was erased from history,
    * audit trail, AND queue on request R") previously had to
    * reconstruct the cascade from every table root. One idempotent
    * row per cascade — appended LAST, after every table's staged swap
    * landed, so its presence attests the WHOLE erasure's durability.
    * `cascade_sig` = md5(sorted ids | sorted table roles | request
    * tag) is a pure function of the cascade's content: the
    * crash-repair replay absorbs instead of duplicating, and the
    * oracle restates the sig cross-engine. `ledgerTag` carries the
    * REQUEST identity when the caller has one (the erasure queue
    * passes its pending batch ids): without it, a genuine later
    * re-request over the same id set — legal after re-consent —
    * would absorb into the first cascade's row and leave no audit
    * evidence the second request was honored (the r16 session
    * review; the same reason drained marks are request-keyed). A
    * direct forget call with no tag keeps one row per (ids, tables)
    * cascade — for hand-run erasures that IS the audit-relevant
    * cardinality. Removed-row counts are deliberately absent — they
    * differ between the erase and its replay, and a run-varying
    * column would break exactly the replay absorption this ledger
    * exists to provide (so would a wall-clock stamp; timestamps are
    * the deployment's ingest-wrapper job if policy demands them).
    *
    * Migration note (r16 session review): `request_tag` joined the
    * schema in r16 and also entered the sig. A ledger directory
    * written BEFORE that holds 5-column files — read it with
    * `mergeSchema` (or backfill once) or `request_tag` resolution
    * depends on which footer Spark samples; and a drain that crashed
    * pre-upgrade between its forget and its drained marks will, on
    * its post-upgrade replay, append a second (now-tagged) row for
    * the same cascade — the two-row shape is readable (same ids and
    * tables, one empty and one tagged) and confined to that one
    * upgrade window.
    */
  private def appendForgetLedger(
      spark: org.apache.spark.sql.SparkSession, ids: DataFrame,
      targets: ForgetTargets, key: String, ledgerPath: String,
      tag: String): Unit = {
    val named = Seq(
      targets.historyPath.map("history" -> _),
      targets.auditPath.map("audit" -> _),
      targets.queuePath.map("queue" -> _)).flatten.sortBy(_._1)
    val tables = named.map(_._1)
    val sigSuffix = "|" + tables.mkString(",") +
      (if (tag.nonEmpty) "|" + tag else "")
    val row = ids
      .agg(sort_array(collect_list(col(key).cast("string")))
        .as("item_ids"), count(lit(1)).as("n_ids"))
      .select(
        md5(concat(concat_ws(",", col("item_ids")),
          lit(sigSuffix))).as("cascade_sig"),
        col("item_ids"), col("n_ids"),
        typedLit(tables).as("tables"),
        lit(tag).as("request_tag"),
        // paths beside the role-keyed sig: two cascades over the same
        // ids against different tables of the same role are distinct
        // audit events — the dedupe key is (sig, target_paths)
        typedLit(named.map { case (n, p) => s"$n=$p" })
          .as("target_paths"))
    graft.sources.Evidence.appendDeduped(spark, row, ledgerPath,
      Seq("cascade_sig", "target_paths"))
  }

  private def forgetFrom(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, path: String, key: String,
      breakStaleLock: Boolean): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"forget: no table at $path")
    if (breakStaleLock) graft.ml.Maintenance.clearWriterLock(fs, root)
    graft.ml.Maintenance.withWriterLock(fs, root, "forget") {
      forgetLocked(spark, ids, root, fs, path, key)
    }
  }

  private def forgetLocked(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, root: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      key: String): Long = {
    // finish a crashed committed apply, then fall through (the erase
    // this call carries must still be honored by the normal pass); an
    // uncommitted stage is discardable staging debris
    ForgetStage.replay(fs, root)
    // durable intent FIRST: the ledger records the erasure before any
    // data file moves, so every later crash point leaves the id set
    // recoverable; deduped so a replay cannot grow the evidence
    graft.sources.Evidence.appendDeduped(spark, ids,
      new org.apache.hadoop.fs.Path(root, ForgottenDir).toString,
      Seq(key))
    // layout dispatch: flat tables rewrite in place; Hive-partitioned
    // tables (any depth — date=/region=/... is the realistic 100 TB
    // history shape) rewrite only the dirty LEAF directories; a level
    // partitioned BY the key erases by whole-directory deletion. The
    // tree walk below validates the layout up front (uniform depth,
    // one column per level) so a ragged or mixed layout refuses
    // loudly BEFORE any erase — the r16 review found the original
    // flat rewrite would silently leave partitioned versions in
    // place; now every layout has a correct path or a loud refusal.
    val rootListing = fs.listStatus(root).toSeq
    val partDirs = rootListing.filter(st =>
      st.isDirectory && st.getPath.getName.contains("="))
    if (partDirs.isEmpty) forgetFlat(spark, ids, root, key)
    else {
      val levels = partitionTree(fs, root, partDirs.map(_.getPath))
      if (levels.isEmpty) {
        // every partition branch is hollow debris (a fully-erased
        // key-partitioned table whose ancestor sweep died — at any
        // depth): any rows could only live in flat files beside the
        // husks (one listing, taken above, answers both questions)
        if (rootListing.exists(st =>
            st.isFile && st.getPath.getName.endsWith(".parquet")))
          forgetFlat(spark, ids, root, key)
        else 0L
      } else levels.map(_._1).indexOf(key) match {
        case k if k >= 0 =>
          forgetKeyPartitioned(spark, ids, root, key, levels(k)._2)
        case _ =>
          forgetPartitioned(spark, ids, root, key, levels.map(_._1))
      }
    }
  }

  /** Walk the Hive partition tree under `root`: one `(column, dirs)`
    * pair per nesting level, validated as it goes — every level uses
    * exactly ONE partition column and every branch reaches the same
    * depth (ragged nesting or mixed columns refuse loudly, because a
    * rewrite that assumed the wrong shape would erase PARTIALLY).
    * Driver-side directory listing, same cost class as Spark's own
    * partition discovery over the table (directories only, never data
    * files).
    */
  private def partitionTree(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      top: Seq[org.apache.hadoop.fs.Path])
      : Seq[(String, Seq[org.apache.hadoop.fs.Path])] = {
    @annotation.tailrec
    def walk(dirs: Seq[org.apache.hadoop.fs.Path],
        acc: Seq[(String, Seq[org.apache.hadoop.fs.Path])])
        : Seq[(String, Seq[org.apache.hadoop.fs.Path])] = {
      // HOLLOW directories are pruned AND deleted, not treated as
      // data leaves: a key-level erase that crashed between deleting
      // its doomed children and sweeping the emptied ancestors
      // leaves an empty branch, and the documented crash remedy —
      // re-running forget — must not wedge on its own debris; the
      // walk runs under the table's writer lock, so sweeping the
      // already-listed empty husks here is safe and keeps crash
      // debris from accumulating (the r16 session review). An
      // all-hollow level at ANY depth means the partition tree holds
      // zero data files — signalled as Seq.empty so the dispatch
      // never hands truncated levels to the rewrite path.
      val all = dirs.map(d => d -> fs.listStatus(d).toSeq)
      all.filter(_._2.isEmpty).foreach { case (d, _) =>
        fs.delete(d, false); ()
      }
      val listed = all.filter(_._2.nonEmpty)
      if (listed.isEmpty) Seq.empty
      else {
        val live = listed.map(_._1)
        val cols = live.map(_.getName.takeWhile(_ != '=')).distinct
        require(cols.size == 1, s"forget: level ${acc.size + 1} of " +
          s"$root mixes partition columns $cols")
        val kidsByDir = listed.map(_._2.filter(st =>
          st.isDirectory && st.getPath.getName.contains("=")))
        val withKids = kidsByDir.count(_.nonEmpty)
        if (withKids == 0) acc :+ (cols.head -> live)
        else {
          require(withKids == live.size,
            s"forget: ragged partition nesting under $root at level " +
              s"${acc.size + 2} — some ${cols.head}= directories nest " +
              "further and some hold data; refusing before a PARTIAL " +
              "erasure")
          walk(kidsByDir.flatten.map(_.getPath),
            acc :+ (cols.head -> live))
        }
      }
    }
    walk(top, Seq.empty)
  }

  /** The flat-table erase: stage ALL survivors, swap at the root. */
  private def forgetFlat(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, root: org.apache.hadoop.fs.Path,
      key: String): Long = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tbl = spark.read.parquet(root.toString)
    require(tbl.columns.contains(key),
      s"forget: table $root has no '$key' column")
    val removed = tbl.join(ids, Seq(key), "left_semi").count()
    if (removed == 0L) return 0L
    ForgetStage.commitFlat(fs, root, tbl.join(ids, Seq(key), "left_anti"))
    removed
  }

  /** The partitioned erase (no level partitioned by the key): find
    * the DIRTY leaf partition directories through the files that
    * actually hold forgotten keys (`input_file_name` — no
    * partition-value re-formatting, so escaped/typed partition
    * values can never mismatch their directory names), stage each
    * dirty directory's survivors, and swap only those directories —
    * untouched partitions never rewrite, the compactCorpus cost
    * shape. `levelCols` (the validated tree walk) fixes the expected
    * depth; every dirty file's path is re-checked against it, so a
    * stray data file at the wrong depth aborts before a partial
    * erasure.
    */
  private def forgetPartitioned(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, root: org.apache.hadoop.fs.Path, key: String,
      levelCols: Seq[String]): Long = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tbl = spark.read.parquet(root.toString)
    require(tbl.columns.contains(key),
      s"forget: table $root has no '$key' column")
    // broadcast FORCED, deliberately (vs the tombstone-mask rule):
    // input_file_name() is only defined while the row is still inside
    // its file-scan task — a shuffled semi-join would blank it and
    // dirty partitions would be silently MISSED (data not erased). An
    // erase set is human-request-sized by contract, and the require
    // below turns any residual attribution failure into a loud stop
    // rather than a partial erasure.
    val hit = tbl.join(broadcast(ids), Seq(key), "left_semi")
    val removed = hit.count()
    if (removed == 0L) return 0L
    // bounded driver action: the dirty partition DIR NAMES (erasures
    // touch the partitions their keys landed in, not the whole table)
    val dirtyFiles = hit.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    require(dirtyFiles.forall(_.nonEmpty),
      s"forget: could not attribute forgotten rows of $root to their " +
        "files (input_file_name blank) — aborting before a PARTIAL " +
        "erasure; retry, and report the plan shape if it persists")
    val depth = levelCols.size
    val dirtyDirs = dirtyFiles.map { f =>
        val segs = f.split('/').dropRight(1)
        require(segs.length > depth,
          s"forget: file $f sits above the $depth-level layout of " +
            s"$root — aborting before a PARTIAL erasure")
        val rel = segs.takeRight(depth).toSeq
        rel.zip(levelCols).foreach { case (seg, c) =>
          require(seg.startsWith(c + "="),
            s"forget: file $f does not sit under the expected " +
              s"${levelCols.mkString("/")} layout of $root " +
              s"(found '$seg' where '$c=...' was expected) — " +
              "aborting before a PARTIAL erasure")
        }
        rel.mkString("/")
      }.distinct.toSeq.sorted
    dirtyDirs.foreach { d =>
      // per-directory read: the data files' own schema (no partition
      // column), exactly what the rewritten files must hold
      spark.read.parquet(s"$root/$d").join(ids, Seq(key), "left_anti")
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(ForgetStage.at(root), d)
          .toString)
    }
    ForgetStage.commitParts(fs, root, dirtyDirs)
    removed
  }

  /** The fast path when SOME level is partitioned BY the key itself:
    * erasure is whole-directory deletion at that level — no rewrite
    * at all (`keyDirs` = every `key=...` directory, across all parent
    * branches when the level is nested). Replay converges
    * (already-deleted directories no longer match); simple unescaped
    * partition values assumed (numeric/plain-string CRM keys — the
    * partition layout this engine writes). Emptied ancestor
    * directories are swept afterwards so repeated erasures cannot
    * litter the tree with hollow branches.
    */
  private def forgetKeyPartitioned(
      spark: org.apache.spark.sql.SparkSession, ids: DataFrame,
      root: org.apache.hadoop.fs.Path, key: String,
      keyDirs: Seq[org.apache.hadoop.fs.Path]): Long = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vals = ids.select(col(key).cast("string")).collect()
      .map(_.getString(0)).toSet
    val doomed = keyDirs.filter(d =>
      vals.contains(d.getName.drop(key.length + 1)))
    if (doomed.isEmpty) return 0L
    val removed = spark.read.parquet(doomed.map(_.toString): _*).count()
    doomed.foreach { d => fs.delete(d, true); () }
    // sweep now-empty ancestors (deepest first) up to, never
    // including, the table root (qualified — the doomed paths come
    // from listStatus qualified, the root from the caller's string)
    val qroot = fs.makeQualified(root)
    doomed.map(_.getParent).distinct
      .sortBy(-_.depth)
      .foreach { p =>
        var cur = p
        while (cur != null && fs.makeQualified(cur) != qroot
            && fs.exists(cur) && fs.listStatus(cur).isEmpty) {
          fs.delete(cur, false)
          cur = cur.getParent
        }
      }
    removed
  }
}
