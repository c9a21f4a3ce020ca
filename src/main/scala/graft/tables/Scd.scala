package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD helpers: `scd2Merge` (reference staged-merge pattern
  * `DP/Step 12:159-236`) and `applyChanges` (DLT APPLY CHANGES INTO,
  * `CDC/01-Retail_DLT_CDC_SQL.sql:152-199`, `DP/Step 3:104-118`).
  *
  * Both dedupe the incoming batch to the latest row per key first
  * (ROW_NUMBER over `sequenceBy` desc) — the canonical idiom — then drive
  * one MERGE, so the heavy lifting (file pruning, keyed shuffle) is
  * MergeOps'.
  */
object Scd {

  /** SCD2 merge: expire changed current rows, insert new versions — as ONE
    * merge, the reference's canonical staged-union pattern
    * (`DP/Step 12:192-236`): the staged source unions a *keyed* copy of
    * each changed row (matches the live current row → expire) with a
    * *NULL-keyed* copy of each changed/new row (never matches → insert).
    * One discovery pass, one rewrite join, one commit per batch — half the
    * table scans and commit-log churn of the two-merge formulation, which
    * is what matters when the batch is small and the target is 100 TB.
    *
    * Sequencing guarantees (`CDC/01:176-184`): rows older than the per-key
    * applied high watermark (max over ALL history starts/ends — so an
    * expired/deleted key cannot be resurrected by a stale event) are
    * dropped; expiry additionally requires the update to be strictly newer
    * than the current row's start.
    *
    * Target schema = business columns ++ (startCol, endCol, currentCol).
    * Change detection compares `compareCols`.
    */
  def scd2Merge(
      t: GraftTable,
      updates: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String],
      seqCol: String,
      startCol: String = "_start_at",
      endCol: String = "_end_at",
      currentCol: String = "_is_current",
      inputDeduped: Boolean = false): Commit = {
    val tgtSchema = t.schemaAt()
    def tgtType(c: String) = tgtSchema(c).dataType

    // latest row per key (the canonical ROW_NUMBER dedup idiom) — skipped
    // when the caller (applyChanges*) already deduped the batch: the
    // second window would shuffle the whole batch again to keep rows it
    // provably already has one-per-key
    val latest =
      if (inputDeduped) updates
      else {
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }

    // per-key target state: applied high watermark + the current row's
    // start, compare values, and FILE (null struct ⇔ no current row).
    // Capturing the file here is what lets the merge skip its touched-file
    // discovery scan: this state join is already a full pass over the
    // matched keys' region of the target, and the files holding current
    // rows of changed keys are EXACTLY the files the merge rewrites.
    val enriched =
      if (t.filesAt().isEmpty)
        latest
          .withColumn("__hw", lit(null).cast(tgtType(startCol)))
          .withColumn("__cur_start", lit(null).cast(tgtType(startCol)))
          .withColumn("__cur", lit(null).cast(org.apache.spark.sql.types.StructType(
            compareCols.map(c => org.apache.spark.sql.types.StructField(c, tgtType(c))))))
          .withColumn("__cur_files", lit(null).cast("array<string>"))
      else {
        val state = t.readFilesWithPos(t.filesAt(), tgtSchema)
          .drop(GraftTable.DvPosCol)
          .withColumnRenamed(GraftTable.DvFileCol, "__file")
          .join(latest.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(
            greatest(max(col(startCol)), max(col(endCol))).as("__hw"),
            first(when(col(currentCol), col(startCol)), ignoreNulls = true)
              .as("__cur_start"),
            first(when(col(currentCol), struct(compareCols.map(col): _*)),
              ignoreNulls = true).as("__cur"),
            // under the SCD2 invariant these merges maintain there is ONE
            // current row per key, but a table adopted from external data
            // may hold several (possibly across files) — collect them ALL,
            // or the merge's rewrite scope would miss a file and leave a
            // stale current row live forever (collect_set skips the nulls
            // of non-current rows; bounded by files-per-key, 1 in the
            // invariant-holding case)
            collect_set(when(col(currentCol), col("__file")))
              .as("__cur_files"))
        latest.join(state, keys, "left")
      }

    val srcCmp = struct(compareCols.map(c => col(c).cast(tgtType(c))): _*)
    val changed = col("__cur").isNotNull && !(col("__cur") <=> srcCmp) &&
      col(seqCol) > col("__cur_start")
    val newKey = col("__cur").isNull &&
      (col("__hw").isNull || col(seqCol) >= col("__hw"))

    val businessCols = tgtSchema.fieldNames
      .filterNot(Set(startCol, endCol, currentCol).contains).toSeq
    val carry = (businessCols :+ seqCol).distinct

    // staged source, materialized once via Lineage.cut: it feeds the
    // merge's jobs, and an eager lineage cut replaces each re-evaluation
    // of the window + state join with a block read.
    // (Columnar `persist` was measured slower at sf0.1; the staged batch
    // is small relative to the target by construction.) Built as ONE
    // explode — a changed key yields [keyed expire copy, NULL-keyed
    // insert copy], a new key just the insert copy — so the window +
    // state join evaluates once, not once per union branch.
    val expireS = struct(keys.map(k => col(k).cast(tgtType(k)).as(s"__mk_$k")) ++
      carry.map(col) :+ col("__cur_files").as("__cur_files"): _*)
    val insertS = struct(keys.map(k => lit(null).cast(tgtType(k)).as(s"__mk_$k")) ++
      carry.map(col) :+ lit(null).cast("array<string>").as("__cur_files"): _*)
    val staged = enriched.filter(changed || newKey)
      .select(explode(when(changed, array(expireS, insertS))
        .otherwise(array(insertS))).as("__e"))
      .select(col("__e.*"))
    val stagedCut = graft.perf.Lineage.cut(staged)

    // the merge's touched-file set, read off the staged blocks —
    // no discovery scan of the target needed
    val touched = GraftTable.localFiles(stagedCut.filter(col("__cur_files").isNotNull)
      .select(explode(col("__cur_files")).as("__f")))

    val cond = keys.map(k => s"target.$k = source.__mk_$k").mkString(" AND ") +
      s" AND target.$currentCol = true"
    // failOnMultipleMatches off: one keyed copy per key by construction
    MergeOps.mergeInto(
      t, stagedCut.drop("__cur_files"), cond,
      matched = Seq(MergeOps.WhenMatched(None, MergeOps.UpdateSet(Map(
        endCol -> s"source.$seqCol",
        currentCol -> "false")))),
      notMatched = Seq(MergeOps.WhenNotMatched(None, MergeOps.InsertValues(
        businessCols.map(c => c -> s"source.$c").toMap ++ Map(
          startCol -> s"source.$seqCol",
          endCol -> "CAST(NULL AS STRING)",
          currentCol -> "true")))),
      failOnMultipleMatches = false,
      touchedFilesHint = Some(touched))
  }

  /** DLT APPLY CHANGES INTO — SCD1: keep one row per key, newest `sequenceBy`
    * wins, out-of-order rows are ignored, `deleteWhen` rows remove the key.
    * The target carries `sequenceBy` so late-arriving older rows lose
    * against what is already applied (`CDC/01:176-184`).
    *
    * Deleted keys lose their in-table sequence watermark with the row, so
    * SCD1 keeps a TOMBSTONE LEDGER sidecar (immutable generation dirs +
    * an atomically-swapped pointer file — crash-safe; one (keys, seq) row
    * per deleted-and-not-reinserted key): incoming events
    * older than a key's tombstone are dropped before the merge — without
    * it, a late-arriving pre-delete upsert would resurrect the key
    * through the not-matched INSERT clause (found by DmlModelSpec's
    * randomized batch-arrival property; DLT tracks the same state
    * internally). Any surviving event supersedes the tombstone: a newer
    * upsert legitimately recreates the key (ledger row cleared), a newer
    * delete re-tombstones at its sequence. Tie semantics mirror the
    * live-row `>=` convention. The ledger is an operational sidecar like
    * a streaming checkpoint — newest-state only, not time-travelable —
    * and its maintenance is two bounded joins (ledger rows ∝ deleted
    * keys, partitioned parquet, never collected). SCD2 needs none of
    * this: expiry KEEPS the history row, so the applied high watermark
    * survives deletes in-table.
    */
  def applyChangesScd1(
      t: GraftTable,
      cdc: DataFrame,
      keys: Seq[String],
      sequenceBy: String,
      deleteWhen: Option[String] = None,
      exceptCols: Seq[String] = Nil): Commit = {
    val spark = cdc.sparkSession
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(sequenceBy).desc)
    val latest0 = cdc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .drop(exceptCols: _*)

    val ledgerDir = currentLedgerDir(t)
    // drop events at or below their key's tombstone — they lost to an
    // applied delete (>= mirrors the `newer` convention below: an
    // equal-sequence event supersedes what it ties with).
    // PERSISTED: the plan below is consumed by the MERGE, the survivor
    // anti-join, and the fresh-tombstone filter — uncached it would run
    // the cdc scan + per-key window up to three times, and a non-stable
    // cdc source could hand the ledger different rows than the merge
    // applied.
    val latest = (ledgerDir match {
      case None => latest0
      case Some(dir) =>
        val tombs = spark.read.parquet(dir.toString)
        latest0.join(tombs.select(keys.map(col) :+ col("__tomb_seq"): _*), keys, "left")
          .filter(col("__tomb_seq").isNull || col(sequenceBy) >= col("__tomb_seq"))
          .drop("__tomb_seq")
    }).persist()

    try {
      val keyCond = keys.map(k => s"target.$k = source.$k").mkString(" AND ")
      val newer = s"source.$sequenceBy >= target.$sequenceBy"
      val cols = t.schemaAt().fieldNames.toSeq

      val matched = Seq(
        deleteWhen.map(d => MergeOps.WhenMatched(
          Some(s"($newer) AND (${qualifySource(d, latest.columns)})"), MergeOps.DeleteAction)),
        Some(MergeOps.WhenMatched(Some(newer),
          MergeOps.UpdateSet(cols.map(c => c -> s"source.$c").toMap)))).flatten
      val notMatched = Seq(MergeOps.WhenNotMatched(
        deleteWhen.map(d => s"NOT (${qualifySource(d, latest.columns)})"),
        MergeOps.InsertValues(cols.map(c => c -> s"source.$c").toMap)))

      // deduped source + keyed target: multiple matches are impossible
      val commit = MergeOps.mergeInto(t, latest, keyCond, matched, notMatched,
        failOnMultipleMatches = false)

      // ledger maintenance: every surviving event supersedes its key's old
      // tombstone; surviving deletes write the new ones. Plain upsert-only
      // tables (no deleteWhen, no ledger) skip all of this.
      if (deleteWhen.isDefined || ledgerDir.isDefined) {
        val survivorKeys = latest.select(keys.map(col): _*)
        val kept = ledgerDir.map(dir => spark.read.parquet(dir.toString)
          .join(survivorKeys, keys, "left_anti"))
        val fresh = deleteWhen.map(d => latest.filter(expr(d))
          .select(keys.map(col) :+ col(sequenceBy).as("__tomb_seq"): _*))
        (kept.toSeq ++ fresh.toSeq).reduceOption(_ unionByName _)
          .foreach(m => swapLedger(t, m))
      }
      commit
    } finally latest.unpersist()
  }

  // ---- SCD1 tombstone-ledger storage ------------------------------------
  //
  // CRASH-ATOMIC generation scheme: ledger data lives in immutable
  // generation dirs `_scd1_tombstones_g<uuid>`; a single POINTER FILE
  // `_scd1_tombstones_ptr` names the current generation, and the pointer
  // is replaced with an atomic single-file move — so a crash at ANY point
  // leaves either the old or the new generation current, never a missing
  // ledger. With no pointer file there is no ledger. Stale generations
  // and a leftover pointer tmp are cleaned AFTER a successful swap.

  private val LedgerPtr = "_scd1_tombstones_ptr"
  private val LedgerGen = "_scd1_tombstones_g"

  /** The current ledger dir, or None when the table has no ledger. */
  private[tables] def currentLedgerDir(t: GraftTable): Option[java.nio.file.Path] = {
    val ptr = java.nio.file.Paths.get(t.path, LedgerPtr)
    if (!java.nio.file.Files.isRegularFile(ptr)) return None
    val name = new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8").trim
    val dir = java.nio.file.Paths.get(t.path, name)
    // A pointer naming a MISSING generation is corruption, not "no
    // ledger": returning None here would silently drop tombstone
    // protection and re-open the delete-resurrect race the ledger
    // exists to close. Fail loudly.
    if (!java.nio.file.Files.isDirectory(dir))
      throw new IllegalStateException(
        s"SCD1 tombstone-ledger pointer ${ptr} names missing generation " +
          s"'$name' — ledger storage is corrupt; restore the generation " +
          "dir or remove the pointer to rebuild from scratch")
    Some(dir)
  }

  /** Write `m` as the new ledger generation and atomically repoint. */
  private def swapLedger(t: GraftTable, m: DataFrame): Unit = {
    val gen = s"$LedgerGen${java.util.UUID.randomUUID.toString.take(8)}"
    m.write.mode("overwrite").parquet(
      java.nio.file.Paths.get(t.path, gen).toString)
    val ptr = java.nio.file.Paths.get(t.path, LedgerPtr)
    val tmpPtr = java.nio.file.Paths.get(t.path, s"$LedgerPtr.tmp")
    java.nio.file.Files.write(tmpPtr, gen.getBytes("UTF-8"))
    java.nio.file.Files.move(tmpPtr, ptr,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // post-swap cleanup: stale generations and tmp leftovers
    val stale = GraftTable.listDir(java.nio.file.Paths.get(t.path)).filter { p =>
      val n = p.getFileName.toString
      (n.startsWith(LedgerGen) && n != gen) ||
        n == s"$LedgerPtr.tmp" // crash between ptr write and move
    }
    stale.foreach(GraftTable.deleteTree)
  }

  /** DLT APPLY CHANGES INTO — STORED AS SCD TYPE 2
    * (`CDC/01:152-199` with SCD2 storage, `DP/Step 3:104-118`): history
    * rows chain via startCol/endCol, deletes expire the current row
    * without inserting a successor, out-of-order rows lose to the applied
    * head.
    */
  def applyChangesScd2(
      t: GraftTable,
      cdc: DataFrame,
      keys: Seq[String],
      sequenceBy: String,
      deleteWhen: Option[String] = None,
      exceptCols: Seq[String] = Nil,
      startCol: String = "_start_at",
      endCol: String = "_end_at",
      currentCol: String = "_is_current"): Unit = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(sequenceBy).desc)
    val latest = cdc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .drop(exceptCols.filterNot(_ == sequenceBy): _*)

    // emptiness probes: with no deleteWhen the split is the identity, so
    // probe the RAW cdc (a limit-1 scan, no window shuffle) instead of
    // evaluating the dedup just to test emptiness
    if (deleteWhen.isEmpty && cdc.isEmpty) return
    val (deletes, upserts) = deleteWhen match {
      case Some(d) => (latest.filter(expr(d)), latest.filter(not(expr(d))))
      case None => (null, latest)
    }

    val businessCols = t.schemaAt().fieldNames
      .filterNot(Set(startCol, endCol, currentCol).contains)
    val compareCols = businessCols.filterNot(keys.contains).toSeq

    if (deletes != null && !deletes.isEmpty) {
      val keyCond = keys.map(k => s"target.$k = source.$k").mkString(" AND ")
      MergeOps.mergeInto(
        t, deletes,
        condition = s"($keyCond) AND target.$currentCol = true",
        matched = Seq(MergeOps.WhenMatched(
          Some(s"source.$sequenceBy > target.$startCol"),
          MergeOps.UpdateSet(Map(
            endCol -> s"source.$sequenceBy",
            currentCol -> "false")))),
        notMatched = Nil,
        failOnMultipleMatches = false) // deletes deduped per key above
    }
    if (deleteWhen.isEmpty || !upserts.isEmpty)
      scd2Merge(t, upserts, keys, compareCols, sequenceBy, startCol, endCol,
        currentCol, inputDeduped = true)
  }

  /** Qualify bare column references in a user predicate with `source.` so
    * it is unambiguous inside the merge join. */
  private def qualifySource(pred: String, sourceCols: Seq[String]): String =
    sourceCols.sortBy(-_.length).foldLeft(pred) { (p, c) =>
      p.replaceAll(s"(?<![\\w.])$c(?![\\w])", s"source.$c")
    }
}
