package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.llm.IncrementalCuration
import graft.llm.IncrementalCuration.StateTables
import graft.operators.Checkpoints
import graft.sinks.Bucketing

/** H14 — STREAMING incremental curation: the v7 daily-batch loop
  * ([[graft.llm.IncrementalCuration]]) attached to a live document feed.
  * Each micro-batch is one curation increment: split upserts from retires,
  * detect CHANGED docs implicitly (an upsert whose id is live in state
  * retires the standing version), run the full v7 verdict chain against
  * the persisted LSM state, land the verdicts, fold the increment in.
  *
  * WHY `foreachBatch` over the state-store operators (the H11/H13 shape):
  * curation state is a corpus-sized bucketed INDEX read by equi-joins
  * (band probe, docToks stats probe) plus a persisted model — the
  * `flatMapGroupsWithState` store holds opaque per-key values and cannot
  * join, and rebuilding v7's semantics per-key would shuffle the corpus
  * into executor state. `foreachBatch` gives each micro-batch the full
  * batch planner (bucketed exchange-free probes, AQE) against state that
  * lives where 100 TB state must live: on storage, not in a state store.
  * The state-store path stays the right one for the BOUNDED per-key state
  * of H11/H13 (band buckets, capped); this is the complementary shape for
  * UNBOUNDED state probed relationally.
  *
  * Exactly-once: Spark re-runs the last uncommitted batch after restart
  * (the checkpoint commits AFTER the batch function returns), so the
  * handler must tolerate redelivery. Three mechanisms:
  *
  *  - Verdicts land via dynamic partition overwrite keyed by `batch_id`
  *    ([[Bucketing.overwritePartition]]) — re-running a batch REPLACES
  *    its verdict partition, never double-appends.
  *  - An append-only progress LOG (`batch_id`, `phase` start|done,
  *    `applied_seq`) brackets the state mutation. Append-only because a
  *    read-modify-overwrite progress row would itself have a loss window
  *    on the non-transactional catalog; a one-row append is commit-atomic.
  *  - The state's own generation number disambiguates a redelivered
  *    in-flight batch: `start` logged but `next_seq` not advanced and no
  *    generation-g rows landed → re-apply cleanly; `next_seq` advanced →
  *    the state commit happened, heal the log and apply nothing (verdicts
  *    preceded the state commit and are idempotent anyway).
  *
  * The residual window, documented honestly: a crash INSIDE
  * [[IncrementalCuration.updateState]] after some appends landed (parquet
  * appends commit per table, so this is a between-tables crash measured in
  * seconds per day) leaves generation-g rows with no generation advance.
  * The handler detects it and FAILS LOUDLY demanding a state restore
  * rather than silently double-appending index rows. The production seam:
  * state tables on a transactional format (snapshot-isolated multi-table
  * commit) collapse start/commit/heal into one atomic swap — the protocol
  * here is the vanilla-parquet-catalog equivalent.
  *
  * Scale: per-batch cost is exactly the v7 serve path — increment-sized
  * probes against bucketed state (measured flat in corpus volume,
  * BASELINE.md "Session-15: v7 incremental-curation serve cost") — plus the tombstone-bounded compaction
  * trigger inherited from [[IncrementalCuration.updateState]]. The
  * progress log grows two tiny rows per batch.
  *
  * Contract: ids are unique per batch (a producer collapsing multiple
  * updates per trigger interval keeps the last); a null/absent op means
  * upsert; `retire` rows need only the id column. The progress table is
  * per-stream — attaching a NEW checkpoint to existing state needs a
  * fresh progress table (batch ids restart at 0 and would read as
  * already-committed redeliveries).
  */
object StreamCuration {

  private case class Progress(batchId: Long, phase: String, appliedSeq: Long)

  /** Latest progress row: max batch id, `done` outranking `start`. */
  private def readProgress(spark: SparkSession,
      table: String): Option[Progress] =
    if (!spark.catalog.tableExists(table)) None
    else spark.table(table)
      .orderBy(col("batch_id").desc,
        (col("phase") === "done").cast("int").desc)
      .head(1).headOption
      .map(r => Progress(r.getAs[Long]("batch_id"),
        r.getAs[String]("phase"), r.getAs[Long]("applied_seq")))

  private def logRow(spark: SparkSession, table: String, batchId: Long,
      phase: String, seq: Long): Unit = {
    val row = spark.range(1).select(lit(batchId).as("batch_id"),
      lit(phase).as("phase"), lit(seq).as("applied_seq"))
    if (!spark.catalog.tableExists(table)) Bucketing.writeSmallTable(row, table)
    else row.write.format("parquet").mode("append").saveAsTable(table)
  }

  /** True iff any state table carries rows at generation `g` — the
    * mid-update-crash detector (recovery path only, never per-batch). */
  private def genRowsExist(spark: SparkSession, st: StateTables,
      g: Long): Boolean =
    Seq(st.bands, st.feats, st.docToks).exists(t =>
      !spark.table(t).filter(col("seq") === g).isEmpty)

  /** The `foreachBatch` handler (curried — plug the first list in, pass
    * the rest to `foreachBatch`). Runnable directly for batch-mode tests
    * and backfills: `applyBatch(...)(increment, batchId)`. Every pin it
    * makes is released before it returns, so a long-running stream holds
    * none between micro-batches. */
  def applyBatch(
      st: StateTables,
      progressTable: String,
      verdictTable: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      opCol: Option[String] = Some("op"),
      buckets: Int = 32,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      n: Int = 3,
      threshold: Double = 0.5,
      accFloor: Double = 0.6,
      compactFrac: Double = 0.5,
      compactMinTombstones: Long = 10000L)(
      batch: DataFrame, batchId: Long): Unit = Checkpoints.scope {
    val spark = batch.sparkSession
    // pin the micro-batch: the handler reads it several times (split,
    // liveness probe, verdicts, state writes) and a foreachBatch frame
    // is only valid inside this call
    val rows = Checkpoints.pin(batch)
    val upserts = opCol.map(c =>
      rows.filter(coalesce(col(c) =!= "retire", lit(true)))).getOrElse(rows)
    val retireExplicit = opCol.map(c => rows.filter(col(c) === "retire")
        .select(col(idCol).cast("long").as(idCol)))
      .getOrElse(spark.range(0).select(col("id").as(idCol)))
    val nUp = upserts.count()
    require(upserts.select(idCol).distinct().count() == nUp,
      s"stream curation: duplicate ids within batch $batchId — the " +
        "producer must collapse to one row per id per trigger interval")

    val state0 = IncrementalCuration.loadState(spark, st)
    val prog = readProgress(spark, progressTable).getOrElse {
      // first attach: a synthetic committed row anchoring applied_seq to
      // the state's build generation (idempotent — a crash here re-inits
      // identically, no state has moved)
      logRow(spark, progressTable, -1L, "done", state0.nextSeq - 1)
      Progress(-1L, "done", state0.nextSeq - 1)
    }
    // empty micro-batch (e.g. the engine's startup batch): nothing to
    // apply, but the batch-id sequence must stay gapless — commit a done
    // row carrying the LAST applied generation forward. `applied_seq` in
    // a done row therefore always means "generation of the newest applied
    // batch", which is what every invariant below compares against.
    if (nUp == 0 && retireExplicit.isEmpty) {
      // a start row is only ever logged for a nonempty batch, so an empty
      // arrival can never be the redelivery of an in-flight one
      require(prog.phase == "done",
        s"stream curation: empty batch $batchId while ${prog.batchId} is " +
          "in flight — the feed changed under a crashed batch")
      if (batchId <= prog.batchId) return
      logRow(spark, progressTable, batchId, "done", prog.appliedSeq)
      return
    }
    prog.phase match {
      case "done" =>
        if (batchId <= prog.batchId) return // committed redelivery: no-op
        require(batchId == prog.batchId + 1,
          s"stream curation: batch $batchId arrived after committed " +
            s"${prog.batchId} — gap implies a mixed/lost checkpoint")
        require(state0.nextSeq == prog.appliedSeq + 1,
          s"stream curation: state generation ${state0.nextSeq} does not " +
            s"follow last applied ${prog.appliedSeq} — another writer " +
            "touched the state while this stream owned it")
      case "start" =>
        require(batchId == prog.batchId,
          s"stream curation: batch $batchId arrived while ${prog.batchId} " +
            "is in flight — gap implies a mixed/lost checkpoint")
        if (state0.nextSeq == prog.appliedSeq + 1) {
          // crashed between the state commit and the done row: the batch
          // IS applied (and its verdict partition landed before the state
          // commit) — heal the log, apply nothing
          logRow(spark, progressTable, batchId, "done", prog.appliedSeq)
          return
        }
        require(state0.nextSeq == prog.appliedSeq &&
            !genRowsExist(spark, st, state0.nextSeq),
          s"stream curation: batch $batchId crashed mid-update (state rows " +
            s"at generation ${state0.nextSeq} with no generation advance) " +
            "— restore the state tables from the last snapshot; refusing " +
            "to double-apply")
      // no other phases are written
    }

    val g = state0.nextSeq
    logRow(spark, progressTable, batchId, "start", g)
    val inc = upserts.select(col(idCol), col(textCol), col(sourceCol))
    // implicit change detection: an upsert of a LIVE id replaces the
    // standing version (v7's contract then wants the id in BOTH retired
    // and the increment)
    val changed = IncrementalCuration.liveDocIds(state0, inc, idCol)
    val retired = retireExplicit
      .unionByName(changed.select(col("doc_id").as(idCol)))
      .distinct().transform(Checkpoints.pin)
    val verdicts = IncrementalCuration.processIncrement(state0, inc, retired,
      idCol, textCol, sourceCol, shingleN, k, nBands, n, threshold, accFloor)
      .transform(Checkpoints.pin)
    Bucketing.overwritePartition(
      verdicts.withColumn("batch_id", lit(batchId)), verdictTable, "batch_id")
    IncrementalCuration.updateState(st, state0, inc, verdicts, retired,
      idCol, textCol, sourceCol, buckets, shingleN, k, nBands, n,
      compactFrac, compactMinTombstones)
    logRow(spark, progressTable, batchId, "done", g)
  }

  /** Wire a document-increment stream to the curation loop. Caller picks
    * the trigger and calls `.start()` — each micro-batch becomes one
    * increment via [[applyBatch]]. */
  def attach(
      docs: DataFrame,
      st: StateTables,
      progressTable: String,
      verdictTable: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      opCol: Option[String] = Some("op"),
      buckets: Int = 32): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(applyBatch(st, progressTable, verdictTable,
        idCol, textCol, sourceCol, opCol, buckets) _)
}
