package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sinks.Bucketing

/** Incremental curation — the daily-batch production shape (round-13
  * headline; EXT adjunct to SURVEY Group I, generalizing the run-over-run
  * ingestion loop of the reference's static-data CLI,
  * `OTP/cli_generate_static_data.py:178-201`, from per-run append to
  * stateful corpus curation): increment N+1 flows snapshot-diff →
  * near-dedup against a PERSISTED band index → persisted-model quality
  * gate → mixture/split membership, then updates the stored state — so a
  * 100 TB pipeline pays per-increment cost proportional to the INCREMENT,
  * never re-curating the standing corpus.
  *
  * Persisted state (all catalog tables + one model file). Index rows are
  * VERSIONED: every bands/feats/docToks row carries the `seq` of the
  * increment that wrote it (0 for the initial build), and the tombstone
  * table stores `(doc_id, dead_lt)` meaning "rows of this doc with
  * `seq < dead_lt` are dead". A CHANGED doc (same id retired and re-added
  * by one increment at generation g) therefore tombstones its old rows
  * (`seq < g`) while its new rows (`seq = g`) stay live — an id-only
  * tombstone cannot express that and silently killed the new version
  * (round-14 fix; the LSM analogue is sequence-numbered deletes).
  *
  *  - `bands`   (band_key, doc_b, seq)    bucketed on band_key — the
  *    md5-MinHash band index ([[Dedup.buildBandIndex]]); the increment's
  *    band probe equi-joins it with the stored side exchange-free.
  *  - `feats`   (doc_b, sh, seq)          bucketed on doc_b — word-n-gram
  *    feature sets for the exact verify of band candidates.
  *  - `docToks` (doc_id, source, tok, seq) bucketed on doc_id — per-doc
  *    token counts, so retiring a doc can subtract its contribution from
  *    the source stats with an increment-sized probe.
  *  - `srcStats` (source, ns)             tiny — per-source token totals
  *    of the standing corpus; the temperature-mixture rates derive from
  *    it without any corpus scan.
  *  - `tombstones` (doc_id, dead_lt)      tiny — versioned deletes (see
  *    above); reads anti-join it, [[compactState]] folds it in.
  *  - `meta` (next_seq, n_live)           one row — the next increment
  *    generation number and the live snapshot doc count (the compaction
  *    trigger's denominator).
  *  - `lrModelPath`                       the [[QualityClassifier]] LR
  *    model fit on the standing corpus ([[ModelStore]] round-trip).
  *
  * Dedup semantics are FIRST-SEEN-WINS: an increment doc that near-matches
  * a live standing doc is dropped (the standing copy already shipped — the
  * canonical-quality keep rule of the batch compositions cannot
  * retroactively un-ship it). Within-batch dedup is EXACT (min-id per
  * content hash); within-batch NEAR-dedup is the batch-mode operator
  * ([[Dedup.lshVerifiedPairs]]) applied to the increment when batches are
  * large enough to warrant it — increments are corpus-fractions, so the
  * standing-index probe dominates the recall budget.
  *
  * Scale audit (the 100 TB question): every per-increment step is sized by
  * the increment — the band probe and verify join broadcast nothing bigger
  * than the batch and read the stored side in place; the stats update
  * probes docToks by broadcast id set; state writes append batch-sized
  * bucketed file sets ([[Bucketing.appendBucketed]]). The tombstone set is
  * kept bounded AUTOMATICALLY: [[updateState]] triggers [[compactState]]
  * when tombstoned ids exceed `compactFrac` of the live snapshot (so the
  * broadcast anti-join side can never grow unboundedly under an operator
  * who never compacts). The two corpus-linear legs — the snapshot DIFF
  * (when computed from full snapshots rather than a crawler delta feed)
  * and [[compactState]] itself — are outside the per-increment serve path
  * and measured separately (BASELINE.md "Session-15: v7 incremental-curation serve cost").
  */
object IncrementalCuration {

  /** Names of the persisted state tables (catalog) + LR model path. */
  case class StateTables(
      bands: String,
      feats: String,
      docToks: String,
      srcStats: String,
      tombstones: String,
      meta: String,
      lrModelPath: String)

  /** The state as loaded for an increment run. `nextSeq` is the
    * generation number this increment's writes will carry; `nLive` the
    * live snapshot doc count (compaction-trigger denominator). */
  case class State(
      bands: DataFrame,
      feats: DataFrame,
      docToks: DataFrame,
      srcStats: DataFrame,
      tombstones: DataFrame,
      nextSeq: Long,
      nLive: Long,
      model: LrModel)

  /** The ≥50-whitespace-token C4-style length-quality label the persisted
    * LR gate is fit on and checked against (same rule as
    * `i5_lr_quality_gate`). */
  private def qualityLabel(textCol: String) =
    (size(split(trim(col(textCol)), " +")) >= 50).cast("int")

  private def tokExpr(textCol: String) =
    coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L))

  /** Build + persist the standing-corpus state from scratch (the one
    * corpus-sized pass, paid once; increments maintain it after). All
    * rows are written at generation `seq = 0`. */
  def buildState(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      st: StateTables,
      buckets: Int = 32,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      n: Int = 3,
      lrIters: Int = 200,
      lrTrainPct: Int = 80): Unit = {
    val spark = corpus.sparkSession
    val (bands, feats) =
      Dedup.buildBandIndex(corpus, idCol, textCol, shingleN, k, nBands, n)
    Bucketing.writeBucketed(bands.withColumn("seq", lit(0L)),
      st.bands, "band_key", buckets)
    Bucketing.writeBucketed(feats.withColumn("seq", lit(0L)),
      st.feats, "doc_b", buckets)
    val toks = corpus.select(
      col(idCol).cast("long").as("doc_id"),
      col(sourceCol).as("source"),
      tokExpr(textCol).as("tok"),
      lit(0L).as("seq"))
    Bucketing.writeBucketed(toks, st.docToks, "doc_id", buckets)
    Bucketing.writeSmallTable(
      toks.groupBy(col("source")).agg(sum(col("tok")).as("ns")),
      st.srcStats)
    Bucketing.writeSmallTable(
      spark.range(0).select(col("id").as("doc_id"), col("id").as("dead_lt")),
      st.tombstones)
    Bucketing.writeSmallTable(
      corpus.agg(count(lit(1)).as("n_live"))
        .select(lit(1L).as("next_seq"), col("n_live")),
      st.meta)
    val model = QualityClassifier.fit(corpus, textCol, qualityLabel(textCol),
      iters = lrIters, trainPct = lrTrainPct)
    ModelStore.saveLr(spark, model, st.lrModelPath)
  }

  def loadState(spark: SparkSession, st: StateTables): State = {
    val meta = spark.table(st.meta).head()
    State(
      spark.table(st.bands),
      spark.table(st.feats),
      spark.table(st.docToks),
      spark.table(st.srcStats),
      spark.table(st.tombstones),
      meta.getAs[Long]("next_seq"),
      meta.getAs[Long]("n_live"),
      ModelStore.loadLr(spark, st.lrModelPath))
  }

  /** The versioned-delete spec a reader anti-joins: one
    * `(doc_id, dead_lt)` row per dead id — previously-written tombstones
    * ∪ ids retired by THIS increment (whose every EXISTING row is dead:
    * `dead_lt = Long.MaxValue` collapses with stored entries via max).
    * Broadcast — increments and tombstone sets are metadata-sized, and
    * [[updateState]]'s compaction trigger keeps the stored side bounded. */
  private def deadSpec(state: State, retired: DataFrame,
      idCol: String): DataFrame =
    retired.select(col(idCol).cast("long").as("doc_id"),
        lit(Long.MaxValue).as("dead_lt"))
      .unionByName(state.tombstones)
      .groupBy(col("doc_id")).agg(max(col("dead_lt")).as("dead_lt"))

  /** Anti-join `df` against a versioned-delete spec: drop rows whose
    * (`idc`, `seqc`) fall under a tombstone (`seq < dead_lt`). The spec
    * side is renamed (no clash with `df`'s own doc_id/seq) and broadcast
    * — metadata-sized by the compaction trigger's bound. */
  private def dropDead(df: DataFrame, idc: Column, seqc: Column,
      spec: DataFrame): DataFrame = {
    val s = broadcast(spec.select(col("doc_id").as("__dead_id"),
      col("dead_lt").as("__dead_lt")))
    df.join(s, idc === col("__dead_id") && seqc < col("__dead_lt"),
      "left_anti")
  }

  /** Per-source token totals AFTER applying the increment: standing `ns`
    * minus retired docs' LIVE tokens (a versioned docToks probe — a
    * changed doc's already-dead old rows never subtract twice) plus the
    * increment's tokens — equal, by construction, to a fresh aggregate
    * over the updated snapshot, at increment cost. Sources whose total
    * hits zero drop out (a zero-token source has no mixture rate). */
  private def updatedSrcStats(state: State, increment: DataFrame,
      retired: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val rids = broadcast(
      retired.select(col(idCol).cast("long").as("rid")).distinct())
    val gone = dropDead(state.docToks, col("doc_id"), col("seq"),
        state.tombstones)
      .join(rids, col("doc_id") === col("rid"), "left_semi")
      .groupBy(col("source")).agg(sum(col("tok")).as("gone"))
    val added = increment
      .select(col(sourceCol).as("source"), tokExpr(textCol).as("tok"))
      .groupBy(col("source")).agg(sum(col("tok")).as("added"))
    state.srcStats
      .join(gone, Seq("source"), "full_outer")
      .join(added, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("ns"), lit(0L)) - coalesce(col("gone"), lit(0L))
          + coalesce(col("added"), lit(0L))).as("ns"))
      .filter(col("ns") > 0L)
  }

  /** Count of retired ids that are LIVE in the loaded state (ids already
    * fully tombstoned don't leave the snapshot twice) — the n_live
    * decrement. Increment-sized: a broadcast semi-join over docToks. */
  private def liveRetiredCount(state: State, retired: DataFrame,
      idCol: String): Long = {
    val rids = broadcast(
      retired.select(col(idCol).cast("long").as("rid")).distinct())
    dropDead(state.docToks, col("doc_id"), col("seq"),
        state.tombstones)
      .join(rids, col("doc_id") === col("rid"), "left_semi")
      .select(col("doc_id")).distinct().count()
  }

  /** The subset of `ids` (column `idCol`) LIVE in the loaded state — some
    * row version of the doc survives the tombstone spec. Increment-sized
    * output via a broadcast semi-probe of docToks (the same cost class as
    * the stats update; docToks carries rows for EVERY ingested doc, dup or
    * not, so liveness here means "this id's standing version would leave
    * the snapshot if retired"). The streaming wrapper
    * ([[graft.streaming.StreamCuration]]) uses it to detect CHANGED docs
    * implicitly: an upsert of a live id must retire the standing version. */
  def liveDocIds(state: State, ids: DataFrame, idCol: String): DataFrame = {
    val want = broadcast(
      ids.select(col(idCol).cast("long").as("doc_id")).distinct())
    dropDead(state.docToks, col("doc_id"), col("seq"), state.tombstones)
      .join(want, Seq("doc_id"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Temperature-mixture (α=0.5) keep thresholds `(source,
    * keep_threshold)` from per-source token totals `(source, ns)`:
    * floor(sqrt(N_min/N_s)·10000), pairwise against the MIN with one
    * correctly-rounded sqrt (see LlmOps.temperatureMixtureOver) — the one
    * definition of the batch `i6_temperature_mixture` row and the
    * incremental curation stats. */
  private[graft] def mixtureRates(srcStats: DataFrame): DataFrame = {
    val nmin = srcStats.agg(min(col("ns")).as("nmin"))
    srcStats.crossJoin(broadcast(nmin))
      .select(col("source"),
        floor(sqrt(col("nmin").cast("double") / col("ns").cast("double"))
          * 10000).cast("int").as("keep_threshold"))
  }

  /** Process increment N+1 against the loaded state: one row per
    * increment doc with the full curation verdict —
    * (doc_id, is_batch_exact_dup, n_matches, best_match, best_jaccard,
    * is_dup, split, keep_threshold, mix_keep, quality_gate_met,
    * curated_in). `retired` lists standing-corpus ids superseded by this
    * increment (removed docs + changed docs' old versions — a changed doc
    * appears in BOTH `retired` and the increment under its id); their
    * state rows are excluded from the probe and their live tokens leave
    * the stats.
    *
    * A doc whose source has no positive token total in the updated stats
    * (e.g. a brand-new source whose batch docs all have null/empty text)
    * still gets its row — `keep_threshold` is null and `mix_keep`/
    * `curated_in` are false (no mixture rate exists to admit it).
    *
    * The quality gate scores the INCREMENT with the persisted model and
    * requires accuracy ≥ `accFloor` against the length-quality label — the
    * model-staleness check a daily pipeline runs before trusting stored
    * weights on new data. It is an AGGREGATE verdict (one boolean column,
    * broadcast onto every row): a failed gate zeroes `curated_in` for the
    * whole batch, the production "abort the increment" semantics. */
  def processIncrement(
      state: State,
      increment: DataFrame,
      retired: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      n: Int = 3,
      threshold: Double = 0.5,
      accFloor: Double = 0.6): DataFrame = {
    val dead = deadSpec(state, retired, idCol)
    // candidate generation already restricts doc_b to live ids via the
    // band-side anti-join; the feats anti-join is correct-by-construction
    // redundancy at broadcast cost
    val liveBands = dropDead(state.bands, col("doc_b"), col("seq"), dead)
    val liveFeats = dropDead(state.feats, col("doc_b"), col("seq"), dead)
    val inc = increment.select(
      col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"), col(sourceCol).as("source"))
    val verdicts = Dedup.incrementalDedupFromBandIndex(
      liveBands, liveFeats, inc, "doc_id", "text",
      shingleN, k, nBands, n, threshold)
    // within-batch exact dedup: min-id per content hash (null text cannot
    // be a content dup — mirrored from the batch compositions)
    val batchExact = inc
      .withColumn("__rep",
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .withColumn("is_batch_exact_dup",
        col("text").isNotNull && col("doc_id") =!= col("__rep"))
      .drop("__rep")
    val rates = broadcast(mixtureRates(
      updatedSrcStats(state, increment, retired, idCol, textCol, sourceCol)))
    val label = qualityLabel("text") === 1
    val gate = broadcast(
      QualityClassifier.score(inc, "text", state.model)
        .agg((sum(when(col("pred") === label, 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double") >= accFloor)
          .as("quality_gate_met")))
    val mixKeep = coalesce(
      Sampling.hashBucket(col("text"), 10000) < col("keep_threshold"),
      lit(false))
    batchExact
      .join(verdicts, Seq("doc_id"))
      .join(rates, Seq("source"), "left")
      .crossJoin(gate)
      .select(col("doc_id"), col("is_batch_exact_dup"),
        col("n_matches"), col("best_match"), col("best_jaccard"),
        col("is_dup"),
        Sampling.splitLabel(col("text")).as("split"),
        col("keep_threshold"),
        mixKeep.as("mix_keep"),
        col("quality_gate_met"),
        (!col("is_batch_exact_dup") && !col("is_dup") && mixKeep
          && col("quality_gate_met")).as("curated_in"))
  }

  /** Fold the processed increment into the persisted state — all writes
    * increment-sized: survivors' (non-dup) bands/feats append at this
    * increment's generation, ALL increment docs' token rows append (a
    * future increment may retire them), retired ids tombstone at
    * `dead_lt = nextSeq` (so a changed doc's NEW rows, written at
    * `seq = nextSeq`, stay live while its old rows die), and the tiny
    * source stats/meta overwrite. `verdicts` is [[processIncrement]]'s
    * output for this increment.
    *
    * Read-before-write discipline: the stats/tombstone/count deltas are
    * computed and localCheckpoint-ed BEFORE any append touches the tables
    * they read — correctness must not hinge on a captured DataFrame
    * pinning a pre-append file listing.
    *
    * Compaction trigger: if, after this update, tombstoned ids exceed
    * `compactFrac` of the live snapshot (and `compactMinTombstones`, so
    * tiny corpora don't thrash), [[compactState]] runs automatically —
    * the broadcast delete-spec side stays bounded even under an operator
    * who never compacts manually. Returns true iff compaction ran. */
  def updateState(
      st: StateTables,
      state: State,
      increment: DataFrame,
      verdicts: DataFrame,
      retired: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      buckets: Int = 32,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      n: Int = 3,
      compactFrac: Double = 0.5,
      compactMinTombstones: Long = 10000L): Boolean = {
    val spark = increment.sparkSession
    val g = state.nextSeq
    // ---- deltas FIRST (all reads of state tables precede all writes)
    val stats = updatedSrcStats(state, increment, retired, idCol, textCol,
      sourceCol).localCheckpoint()
    val tombs = state.tombstones
      .unionByName(retired.select(col(idCol).cast("long").as("doc_id"),
        lit(g).as("dead_lt")))
      .groupBy(col("doc_id")).agg(max(col("dead_lt")).as("dead_lt"))
      .localCheckpoint()
    val nRetired = liveRetiredCount(state, retired, idCol)
    val nAdded = increment.count()
    val nLive = state.nLive - nRetired + nAdded
    // ---- appends at generation g
    val survivors = verdicts
      .filter(!col("is_batch_exact_dup") && !col("is_dup"))
      .select(col("doc_id").as("__keep"))
    val newDocs = increment
      .join(broadcast(survivors),
        col(idCol).cast("long") === col("__keep"), "left_semi")
    val (nb, nf) =
      Dedup.buildBandIndex(newDocs, idCol, textCol, shingleN, k, nBands, n)
    Bucketing.appendBucketed(nb.withColumn("seq", lit(g)),
      st.bands, "band_key", buckets)
    Bucketing.appendBucketed(nf.withColumn("seq", lit(g)),
      st.feats, "doc_b", buckets)
    Bucketing.appendBucketed(
      increment.select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).as("source"), tokExpr(textCol).as("tok"),
        lit(g).as("seq")),
      st.docToks, "doc_id", buckets)
    // ---- small-table overwrites
    Bucketing.writeSmallTable(stats, st.srcStats)
    Bucketing.writeSmallTable(tombs, st.tombstones)
    Bucketing.writeSmallTable(
      spark.range(1).select(lit(g + 1L).as("next_seq"),
        lit(nLive).as("n_live")),
      st.meta)
    val nTombs = tombs.count()
    val compact = nTombs >= compactMinTombstones &&
      nTombs.toDouble > compactFrac * math.max(nLive, 1L).toDouble
    if (compact) compactState(spark, st, buckets)
    compact
  }

  /** Occasional corpus-linear maintenance: rewrite bands/feats/docToks
    * minus the dead row versions and clear the tombstone set. Runs
    * automatically from [[updateState]]'s trigger, or on demand — the LSM
    * compaction step, outside the per-increment serve path. `meta` is
    * untouched: generation numbers keep climbing across compactions. */
  def compactState(spark: SparkSession, st: StateTables,
      buckets: Int = 32): Unit = {
    val tombs = spark.table(st.tombstones)
    val bands = dropDead(spark.table(st.bands), col("doc_b"), col("seq"),
      tombs).localCheckpoint()
    val feats = dropDead(spark.table(st.feats), col("doc_b"), col("seq"),
      tombs).localCheckpoint()
    val toks = dropDead(spark.table(st.docToks), col("doc_id"), col("seq"),
      tombs).localCheckpoint()
    Bucketing.writeBucketed(bands, st.bands, "band_key", buckets)
    Bucketing.writeBucketed(feats, st.feats, "doc_b", buckets)
    Bucketing.writeBucketed(toks, st.docToks, "doc_id", buckets)
    Bucketing.writeSmallTable(
      spark.range(0).select(col("id").as("doc_id"), col("id").as("dead_lt")),
      st.tombstones)
  }
}
