package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window
import graft.llm.{Bpe, Chunking, Decontamination, Dedup, IncrementalCuration, KMeans, Multimodal, Privacy, QualityClassifier, Retrieval, Sampling, Similarity, Snapshots, TextAnalysis}
import graft.operators.Checkpoints
import graft.queries.Battery.Row

/** SURVEY §2 Group I — LLM-data-pipeline operators as oracle-checked
  * queries over `documents` / `embeddings`.
  *
  * Oracle notes: cosine queries run on integer-quantized embeddings
  * (`floor(x·10^6)` per component) so dot products are exact integers in
  * both engines — float-summation order can never flip a hash compare.
  * MinHash/SimHash/LSH queries depend on Spark's xxhash64/murmur3 and get
  * rows-only checks (no DuckDB equivalent); their semantics are covered by
  * LlmSpec instead.
  */
object LlmOps {

  /** The VERIFICATION-ANCHOR fixture slice (round 14): the exact
    * all-pairs rows (`i2_canonical_keep`, `i2_fuzzy_dedup_e2e`,
    * `i6_curation_v4`) and the demoted blocked tier
    * (`i2_canonical_keep_blocked`, `i6_curation_v5`) exist to verify the
    * SEMANTICS the scale-path defaults (LSH tier / v6 / v7) ride — their
    * pair substrates are the battery's declared scale-killers (~1.65
    * exponent), and running five of them at full fixture volume is what
    * pushed the round-13 driver bench past its wall budget. They now run
    * on the mod-2 doc slice (67 of the 256 near-dup pairs at sf0.1 —
    * ample transitivity/argmax/composition signal at ~1/4 the pair
    * volume); the defaults they anchor still run the FULL fixture.
    * Role table: README §Battery roles. */
  private val anchorSlice: Column = col("doc_id") % 2 === 0
  private val anchorSliceCte =
    "docs2 AS (SELECT * FROM documents WHERE doc_id % 2 = 0)"

  /** I1 — exact dedup groups by content hash. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedupGroups(Tables.documents(s, d), "doc_id", "text")

  private val dedupExactSql =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS representative_id,
      | COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** I2a — word-3-gram Jaccard near-dup pairs (threshold 0.5). Word
    * shingles are selective enough (~vocab^-3 frequency) that the blocking
    * join stays linear; the frequency cap (1000) remains as the skew guard
    * for pathological corpora. Mirrored in the oracle's HAVING clause. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    wordJaccardPairs(Tables.documents(s, d), threshold = 0.5)

  /** The battery's word-3-gram Jaccard pairs (frequency cap 1000) at
    * `threshold`: the substrate of i2_ngram_jaccard, the fuzzy-dedup and
    * canonical-keep rows, and both containment gates. */
  private def wordJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = threshold,
      maxShingleFreq = Some(1000), shingler = Dedup.wordShingles)

  /** The oracle's distinct word-3-gram shingles of a word array `w` —
    * the SQL twin of [[Dedup.wordShingles]], shared by every word-3-gram
    * oracle below. */
  private val wordShinglesSql =
    """list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |   for i in range(1, len(w) - 1)])""".stripMargin

  /** The oracle's embedding on the integer 1e-6 grid — the SQL twin of
    * [[Similarity.quantize]], and with `shift` of [[graft.llm.KMeans.quantize]]. */
  private def quantizedSql(shift: Boolean = false) =
    s"[CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)${if (shift) " + 1000000" else ""} for x in embedding]"

  /** One row per component `e` (1-based index `i`) of a vector `v`. */
  private val flattenSql = "unnest(v) AS e, generate_subscripts(v,1) AS i"

  /** Exact Jaccard of two docs' shingle lists `sa.s` and `sb.s` — the SQL
    * twin of the verify stage's `setJaccard`. */
  private val setJaccardSql =
    """CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      |   / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))""".stripMargin

  /** Word-3-gram Jaccard pair SQL at `threshold` — shared by the
    * `i2_ngram_jaccard` oracle and the containment gate's oracle.
    * Parameterized over the input relation so composed pipelines
    * (i6_curation_v4) pair a FILTERED corpus with the same formula. */
  private def ngramJaccardSqlAt(threshold: Double, rel: String = "documents") =
    s"""WITH ws AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM $rel),
      |sh AS (
      | SELECT doc_id, unnest($wordShinglesSql) AS s
      | FROM ws WHERE len(w) >= 3),
      |freq AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      |shf AS (SELECT doc_id, sh.s FROM sh JOIN freq ON sh.s = freq.s),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |shared AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      | FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_shared,
      | CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
      |FROM shared
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= $threshold""".stripMargin

  private val ngramJaccardSql = ngramJaccardSqlAt(0.5)

  /** I2e — END-TO-END fuzzy dedup: the 0.5-Jaccard near-dup pairs are only
    * candidates; the dedup DECISION is connected components over them (a
    * transitive chain a~b~c collapses to one representative even when a~c
    * alone misses the threshold). The oracle recomputes the components
    * with a recursive CTE — the only gate exercising graph-transitivity
    * semantics end to end. */
  def fuzzyDedupE2e(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(anchorSlice)
    val pairs = wordJaccardPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b")
    Dedup.fuzzyDedupComponents(docs, "doc_id", pairs)
  }

  private val fuzzyDedupE2eSql =
    s"""WITH RECURSIVE $anchorSliceCte,
      |high AS (${ngramJaccardSqlAt(0.5, "docs2")}),
      |edges AS (
      | SELECT doc_a AS u, doc_b AS v FROM high
      | UNION ALL SELECT doc_b, doc_a FROM high),
      |reach(id, r) AS (
      | SELECT doc_id, doc_id FROM docs2
      | UNION
      | SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r)
      |SELECT id AS doc_id, MIN(r) AS component,
      | MIN(r) = id AS is_representative
      |FROM reach GROUP BY id""".stripMargin

  /** The verdict CTEs over scored pairs `j(doc_q, doc_b, jac)` — the SQL
    * twin of `Dedup.verdicts`: `v` per-batch-doc match count and best
    * Jaccard, `bm` the best match (smallest base id on ties). */
  private val verdictCtesSql =
    """v AS (SELECT doc_q, COUNT(*) AS n_matches, MAX(jac) AS best_jaccard
      | FROM j GROUP BY 1),
      |bm AS (SELECT j.doc_q, MIN(j.doc_b) AS best_match
      | FROM j JOIN v ON j.doc_q = v.doc_q AND j.jac = v.best_jaccard
      | GROUP BY 1)""".stripMargin

  /** [[verdictCtesSql]] and the one-row-per-batch-doc verdict select of
    * the incremental rows (batch = doc_id % 10 == 0). */
  private val batchVerdictsSql =
    s"""$verdictCtesSql
      |SELECT d.doc_id, CAST(COALESCE(v.n_matches, 0) AS BIGINT) AS n_matches,
      | bm.best_match, v.best_jaccard, v.doc_q IS NOT NULL AS is_dup
      |FROM documents d
      |LEFT JOIN v ON v.doc_q = d.doc_id
      |LEFT JOIN bm ON bm.doc_q = d.doc_id
      |WHERE d.doc_id % 10 = 0""".stripMargin

  /** The incremental rows' distinct word-3-gram shingles
    * `sh(doc_id, is_batch, s)`, batch = doc_id % 10 == 0. */
  private val batchShinglesCtes =
    s"""ws AS (SELECT doc_id, doc_id % 10 = 0 AS is_batch,
      |  regexp_split_to_array(text, ' +') AS w FROM documents),
      |sh AS (
      | SELECT doc_id, is_batch,
      |  unnest($wordShinglesSql) AS s
      | FROM ws WHERE len(w) >= 3)""".stripMargin

  /** Batch × base Jaccard `j(doc_q, doc_b, jac)` at 0.5 from shared-shingle
    * counts `shared(doc_q, doc_b, n_shared)` and uncapped `sizes(doc_id,
    * n_sh)`, then [[batchVerdictsSql]]. */
  private val sharedJaccardVerdictsSql =
    s"""j AS (
      | SELECT doc_q, doc_b,
      |  CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jac
      | FROM shared
      | JOIN sizes sa ON sa.doc_id = doc_q
      | JOIN sizes sb ON sb.doc_id = doc_b
      | WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.5),
      |$batchVerdictsSql""".stripMargin

  /** I2i — incremental dedup ([[Dedup.incrementalDedup]]): the 10%
    * increment (doc_id % 10 == 0) deduped against the standing 90% base —
    * the daily-batch-vs-corpus production shape. One verdict row per
    * batch document; the oracle recomputes batch×base word-3-gram Jaccard
    * with the sizes-uncapped / frequency-capped semantics shared with
    * `i2_ngram_jaccard` and takes the same (max Jaccard, min base id)
    * best match. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleFreq = Some(1000),
      shingler = Dedup.wordShingles)
  }

  private val incrementalDedupSql =
    s"""WITH $batchShinglesCtes,
      |freq AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
      |shf AS (SELECT doc_id, is_batch, sh.s FROM sh JOIN freq ON sh.s = freq.s),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |shared AS (
      | SELECT a.doc_id AS doc_q, b.doc_id AS doc_b, COUNT(*) AS n_shared
      | FROM shf a JOIN shf b ON a.s = b.s AND a.is_batch AND NOT b.is_batch
      | GROUP BY 1, 2),
      |$sharedJaccardVerdictsSql""".stripMargin

  /** I2i-INDEX — incremental dedup against a PERSISTED posting index: the
    * base side's (shingle → posting list, sizes, counts) artifact is
    * written ONCE as a parquet table bucketed on the shingle hash
    * ([[graft.llm.Dedup.buildPostingIndex]] via
    * [[graft.sinks.Bucketing]]), and the increment joins it with the
    * stored side EXCHANGE-FREE (PlanSpec pins no Exchange above the index
    * scan) — the production shape where increment N+1 stops re-paying the
    * standing corpus's explode+shuffle. Cap semantics: base posting
    * length only (an index cannot know future batches); the oracle
    * encodes exactly that. */
  def incrementalIndexDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    // index construction is the amortized leg (the production index
    // EXISTS; increments probe it) — built once per sfDir, so repeated
    // executions time the probe path (StateOnce rationale)
    val tbl = StateOnce.once("i2_posting_index", d) {
      val t = s"graft_i2_posting_index_${StateOnce.tag(d)}"
      graft.sinks.Bucketing.writeBucketed(
        Dedup.buildPostingIndex(base, "doc_id", "text", n = 3),
        t, "sh", buckets = 32)
      t
    }
    Dedup.incrementalDedupFromIndex(
      s.table(tbl), batch, "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleFreq = Some(1000))
  }

  private val incrementalIndexSql =
    s"""WITH $batchShinglesCtes,
      |freq AS (SELECT s FROM sh WHERE NOT is_batch
      | GROUP BY s HAVING COUNT(*) <= 1000),
      |bsh AS (SELECT doc_id, sh.s FROM sh JOIN freq ON sh.s = freq.s
      | WHERE NOT is_batch),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |shared AS (
      | SELECT a.doc_id AS doc_q, b.doc_id AS doc_b, COUNT(*) AS n_shared
      | FROM sh a JOIN bsh b ON a.s = b.s AND a.is_batch
      | GROUP BY 1, 2),
      |$sharedJaccardVerdictsSql""".stripMargin

  /** I2i-BAND — near-dup verdicts from the PERSISTED band index
    * ([[graft.llm.Dedup.buildBandIndex]]): the stored artifact is
    * md5-MinHash band buckets + a per-doc feature table instead of raw
    * shingle postings, so serve-side fan-out tracks near-dup family size
    * rather than vocabulary saturation (the shingle index's measured 16×
    * serve growth). Both stored tables are bucketed (band_key / doc_b)
    * and the increment probes them exchange-free. The md5 family is
    * engine-exact, so candidates, verified pairs and verdicts all carry
    * a full DuckDB hash oracle. */
  def incrementalBandIndexDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    // index construction is the amortized leg — once per sfDir, so
    // repeated executions time the band probe (StateOnce rationale)
    val (bandTbl, featTbl) = StateOnce.once("i2_band_index", d) {
      val t = StateOnce.tag(d)
      val (bands, feats) = Dedup.buildBandIndex(base, "doc_id", "text")
      graft.sinks.Bucketing.writeBucketed(
        bands, s"graft_i2_band_index_$t", "band_key", buckets = 32)
      graft.sinks.Bucketing.writeBucketed(
        feats, s"graft_i2_band_feats_$t", "doc_b", buckets = 32)
      (s"graft_i2_band_index_$t", s"graft_i2_band_feats_$t")
    }
    Dedup.incrementalDedupFromBandIndex(
      s.table(bandTbl), s.table(featTbl),
      batch, "doc_id", "text")
  }

  private val incrementalBandIndexSql =
    s"""WITH ws AS (SELECT doc_id, doc_id % 10 = 0 AS is_batch, text
      |  FROM documents),
      |csh AS (
      | SELECT doc_id, is_batch,
      |  list_distinct([substr(text, i, 5) for i in range(1, len(text) - 3)]) AS sh
      | FROM ws WHERE len(text) >= 5),
      |bhv AS (SELECT doc_id, is_batch,
      |  [${mhHex("s", 1)} % 2147483647 for s in sh] AS hv FROM csh),
      |bsig AS (SELECT doc_id, is_batch,
      |  [list_min([((2*j + 1) * h + (j * 2654435761) % 2147483647)
      |     % 2147483647 for h in hv]) for j in range(0, 64)] AS sig
      | FROM bhv),
      |bbands AS (SELECT doc_id, is_batch, j AS band_idx,
      |  array_to_string(list_slice(sig, j*4 + 1, j*4 + 4), ',') AS band
      | FROM bsig, range(16) t(j)),
      |cand AS (
      | SELECT DISTINCT q.doc_id AS doc_q, b.doc_id AS doc_b
      | FROM bbands q JOIN bbands b ON q.band_idx = b.band_idx
      |  AND q.band = b.band AND q.is_batch AND NOT b.is_batch),
      |wws AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      | FROM ws WHERE text IS NOT NULL),
      |wsh AS (
      | SELECT doc_id, $wordShinglesSql AS s
      | FROM wws WHERE len(w) >= 3),
      |j AS (
      | SELECT doc_q, doc_b,
      |  $setJaccardSql AS jac
      | FROM cand
      | JOIN wsh sa ON sa.doc_id = doc_q
      | JOIN wsh sb ON sb.doc_id = doc_b
      | WHERE $setJaccardSql >= 0.5),
      |$batchVerdictsSql""".stripMargin

  /** I2j — canonical selection: WHICH copy of a near-dup cluster
    * survives. `i2_fuzzy_dedup_e2e` pins the structural min-id rule; real
    * curation keeps the highest-QUALITY member (RefinedWeb/FineWeb-style
    * pipelines dedup toward the best copy, not the smallest id). Same
    * candidate pairs and connected components as the e2e row, then one
    * per-component lexicographic struct-max over (quality, -doc_id) —
    * max quality, ties to the smallest id, no second pass. Null-text
    * docs (quality NULL) can only win their own singleton component
    * (scored -1 for the argmax, reported as NULL). */
  def canonicalKeep(s: SparkSession, d: String): DataFrame =
    canonicalKeepOver(Tables.documents(s, d).filter(anchorSlice))

  /** The EXACT-pair tier: every word-3-gram-sharing pair is scored. The
    * right default at verification scale; at 100 TB the pair substrate is
    * the measured scale-killer (exponent ~1.65 at 16× on the bounded-
    * vocabulary fixture), which is why [[canonicalKeepBlockedOver]] — the
    * sorted-neighborhood w·N candidate tier — is the production
    * composition ([[curationV5Over]] rides it). */
  private[graft] def canonicalKeepOver(docs: DataFrame): DataFrame =
    canonicalKeepWith(docs,
      wordJaccardPairs(docs, threshold = 0.5).select("doc_a", "doc_b"))

  /** I2j-BLOCKED — canonical selection over the sorted-neighborhood pair
    * generator ([[graft.llm.Dedup.sortedNeighborPairs]], w·N candidates by
    * construction, no skew sensitivity). Candidates
    * are defined by the global (prefix, doc_id) sort order — identical in
    * both engines — and the verify stage recomputes true word-3-gram
    * Jaccard, so unlike the xx64 LSH family this blocked tier admits a FULL
    * hash oracle: DuckDB reproduces the candidate set, the verified
    * pairs, the components, and the quality argmax bit-for-bit. Recall
    * vs the exact tier is bounded by what the prefix sort co-locates —
    * measured keep-flag agreement 1.0 at sf0.001/0.01/0.1 on the driver
    * fixture (whose near-dups share prefixes), but 500/550 on the
    * prefix-perturbed corpus where every dupe gains a leading token
    * (round 12, LlmSpec) — which is why [[canonicalKeepLshOver]] (content-
    * keyed blocking, 550/550 there) took over as the 100 TB default
    * composition ([[curationV6Over]]). This tier stays the right choice
    * when near-dups are truncations/suffix edits and the w·N hard
    * candidate bound matters more than prefix-edit recall. */
  private[graft] def canonicalKeepBlockedOver(docs: DataFrame): DataFrame =
    canonicalKeepWith(docs,
      Dedup.sortedNeighborPairs(docs, "doc_id", "text",
        window = 8, keyPrefixLen = 24, n = 3, threshold = 0.5)
        .select("doc_a", "doc_b"))

  private def canonicalKeepWith(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = Dedup.fuzzyDedupComponents(docs, "doc_id", pairs)
      .select(col("doc_id"), col("component"))
    val q = docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val x = comp.join(q, Seq("doc_id"))
      .withColumn("qx", coalesce(col("quality"), lit(-1.0)))
    val best = x.groupBy(col("component"))
      .agg(max(struct(col("qx").as("q"), (-col("doc_id")).as("negid")))
        .as("b"))
      .select(col("component"), (-col("b.negid")).as("keep_id"))
    x.join(best, Seq("component"))
      .select(col("doc_id"), col("component"), col("quality"),
        (col("doc_id") === col("keep_id")).as("keep"))
  }

  /** The sorted-neighborhood verified-pair CTEs over `rel`, ending in a
    * `high(doc_a, doc_b)` CTE — the blocked analogue of
    * `ngramJaccardSqlAt`, mirroring [[graft.llm.Dedup.sortedNeighborPairs]]
    * (prefix-sort blocking, rank-window candidates, exact word-3-gram
    * Jaccard verify). Shared by the standalone blocked-keep oracle and the
    * composed i6_curation_v5 oracle. */
  private def sortedNeighborHighCtes(rel: String) =
    s"""snb AS (
      | SELECT doc_id, text, substr(trim(text), 1, 24) AS sk
      | FROM $rel WHERE text IS NOT NULL),
      |snr AS (
      | SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS rn
      | FROM snb),
      |sncand AS (
      | SELECT LEAST(a.doc_id, b.doc_id) AS ca,
      |        GREATEST(a.doc_id, b.doc_id) AS cb
      | FROM snr a JOIN snr b ON b.rn > a.rn AND b.rn <= a.rn + 8),
      |snws AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM snb),
      |snsh AS (
      | SELECT doc_id, $wordShinglesSql AS s
      | FROM snws WHERE len(w) >= 3),
      |high AS (
      | SELECT ca AS doc_a, cb AS doc_b
      | FROM sncand
      | JOIN snsh sa ON sa.doc_id = ca
      | JOIN snsh sb ON sb.doc_id = cb
      | WHERE $setJaccardSql >= 0.5)""".stripMargin

  /** The canonical-keep CTE chain over `rel` (sans leading WITH) — shared
    * by the standalone oracle and the composed i6_curation_v4 oracle. */
  private def canonicalKeepCtesOver(rel: String) =
    s"""high AS (${ngramJaccardSqlAt(0.5, rel)}),
      |${canonicalKeepTailCtes(rel)}""".stripMargin

  /** Blocked variant: same component/argmax tail over the
    * sorted-neighborhood `high` pairs. */
  private def canonicalKeepBlockedCtesOver(rel: String) =
    s"""${sortedNeighborHighCtes(rel)},
      |${canonicalKeepTailCtes(rel)}""".stripMargin

  /** Everything downstream of `high(doc_a, doc_b)`: undirected edges,
    * recursive reachability components, quality, per-component argmax. */
  private def canonicalKeepTailCtes(rel: String) =
    s"""edges AS (
      | SELECT doc_a AS u, doc_b AS v FROM high
      | UNION ALL SELECT doc_b, doc_a FROM high),
      |reach(id, r) AS (
      | SELECT doc_id, doc_id FROM $rel
      | UNION
      | SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
      |comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
      |q AS (${qualitySqlOver(rel, "text")}),
      |x AS MATERIALIZED (
      | SELECT comp.doc_id, comp.component, q.quality,
      |  COALESCE(q.quality, -1.0) AS qx
      | FROM comp JOIN q ON q.doc_id = comp.doc_id),
      |best AS (SELECT component, MAX(qx) AS bq FROM x GROUP BY 1),
      |keepid AS (
      | SELECT x.component, MIN(x.doc_id) AS keep_id
      | FROM x JOIN best ON x.component = best.component AND x.qx = best.bq
      | GROUP BY 1)""".stripMargin

  private val canonicalKeepSql =
    s"""WITH RECURSIVE $anchorSliceCte,
      |${canonicalKeepCtesOver("docs2")}
      |SELECT x.doc_id, x.component, x.quality,
      | x.doc_id = k.keep_id AS keep
      |FROM x JOIN keepid k ON x.component = k.component""".stripMargin

  def canonicalKeepBlocked(s: SparkSession, d: String): DataFrame =
    canonicalKeepBlockedOver(Tables.documents(s, d).filter(anchorSlice))

  private val canonicalKeepBlockedSql =
    s"""WITH RECURSIVE $anchorSliceCte,
      |${canonicalKeepBlockedCtesOver("docs2")}
      |SELECT x.doc_id, x.component, x.quality,
      | x.doc_id = k.keep_id AS keep
      |FROM x JOIN keepid k ON x.component = k.component""".stripMargin

  /** I2k — canonical selection over the LSH-verified pair generator
    * ([[graft.llm.Dedup.lshVerifiedPairs]]: md5-MinHash-LSH candidates →
    * exact word-3-gram verify). The round-12 default substrate for the
    * curation composition ([[curationV6Over]]): unlike the
    * sorted-neighborhood tier, whose recall is bounded by what the 24-char
    * prefix sort co-locates (a rotated first sentence or one prepended
    * token scatters the pair — measured agreement drops on the
    * prefix-perturbed corpus, LlmSpec), MinHash collision probability
    * depends only on content overlap, so prefix-divergent near-dups keep
    * colliding. Band blocking keeps candidates linear in corpus size, and
    * the md5 family makes the whole chain a full cross-engine hash
    * oracle. */
  def canonicalKeepLsh(s: SparkSession, d: String): DataFrame =
    canonicalKeepLshOver(Tables.documents(s, d))

  private[graft] def canonicalKeepLshOver(docs: DataFrame): DataFrame =
    canonicalKeepWith(docs,
      Dedup.lshVerifiedPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .select("doc_a", "doc_b"))

  private def canonicalKeepLshCtesOver(rel: String) =
    s"""${lshHighCtesOver(rel)},
      |${canonicalKeepTailCtes(rel)}""".stripMargin

  private val canonicalKeepLshSql =
    s"""WITH RECURSIVE ${canonicalKeepLshCtesOver("documents")}
      |SELECT x.doc_id, x.component, x.quality,
      | x.doc_id = k.keep_id AS keep
      |FROM x JOIN keepid k ON x.component = k.component""".stripMargin

  /** Scale-factor tag parsed from a testdata dir ("/root/testdata/sf0.01" →
    * "0.01"). Gate floors are keyed on it: a recall floor is a MEASUREMENT
    * of a specific fixture at a specific scale, not a theorem, so pinning
    * one sf's number and running verify at another can flip a green gate
    * for no code reason. Unknown dirs (no `sf<digits>` component) fall back
    * to the conservative floor — an order of magnitude above a broken-hash
    * outcome at any corpus size, but safe against fixture drift. */
  private[graft] def sfTag(dir: String): Option[String] =
    "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1))

  /** Measured gate recalls per sf (this machine, driver fixtures,
    * 2026-08-12, MeasureRecall calibration run; re-measured 2026-08-15
    * after the round-11 derandomizations — md5 planes / integer-Lloyd
    * quantizers land within a few points of the murmur/float variants):
    *   rank-1 LSH recall@5:  0.358/0.358/0.425 murmur → 0.384/0.450/0.423 md5
    *   rank-1 IVF recall@5:  0.654/0.636/0.571 float  → 0.626/0.612/0.551 exact
    *   blocked near-dup recall:  sf0.001 0.712, sf0.01 0.727, sf0.1 0.726
    *   minhash 0.7-containment misses: 0 at every sf.
    * Floors sit at ~55-70% of the measured value: far above chance
    * (~k/n ≈ 1%) yet slack enough that fixture-regen jitter can't flip
    * them. */
  private[graft] val LshRecallFloors =
    Map("0.001" -> 0.2, "0.01" -> 0.2, "0.1" -> 0.25)
  private[graft] val IvfRecallFloors =
    Map("0.001" -> 0.4, "0.01" -> 0.4, "0.1" -> 0.35)
  private[graft] val BlockedRecallFloors =
    Map("0.001" -> 0.5, "0.01" -> 0.5, "0.1" -> 0.5)
  /** PQ quantization error is the ONLY recall loss (the scan is
    * exhaustive), so floors sit higher than the candidate-generation
    * paths' (measured rank-1 recall@5 at 16 blocks × 256 codes on 64-dim,
    * this machine, driver fixtures, 2026-08-13 PqCalib run:
    * sf0.001 0.984, sf0.01 0.992, sf0.1 0.907 float-trained;
    * 2026-08-15 integer-Lloyd exact variant: 0.976/0.976/0.882 —
    * floors at ~60-65%). */
  private[graft] val PqRecallFloors =
    Map("0.001" -> 0.6, "0.01" -> 0.6, "0.1" -> 0.6)

  private[graft] def floorFor(
      table: Map[String, Double], dir: String, conservative: Double): Double =
    sfTag(dir).flatMap(table.get).getOrElse(conservative)

  /** Containment gate for the MinHash-LSH candidate generator (the driver
    * cannot hash-compare xxhash64-derived candidate sets, but it CAN check
    * the property that makes them correct): every pair with word-3-gram
    * Jaccard ≥ 0.7 must appear among the LSH candidates — at k=64 / 16
    * bands (r=4) the S-curve miss probability for j ≥ 0.7 over the SAME
    * shingle space is ≤ (1−0.7⁴)¹⁶ ≈ 1.2% per pair and the fixture's
    * near-dup pairs sit well above 0.7, so 0 misses is the deterministic
    * expected value. The oracle recomputes the high-pair count exactly and
    * pins misses at 0. */
  def minhashContainmentGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // single-pass rewrite (round 14): the old shape referenced `high` from
    // two branches (a count and an anti-join probe), re-running the
    // all-pairs substrate per branch — and checkpoint-pinning it measured
    // 1.2–1.3× SLOWER (serialized branches, stats loss). Instead, both
    // outputs fold into ONE aggregate over ONE left join: `cands` ends in
    // distinct(), so the join preserves high's row count and a null hit
    // marker IS the anti-join predicate. Same result, one substrate pass,
    // no pin.
    val high = wordJaccardPairs(docs, threshold = 0.7)
      .select("doc_a", "doc_b")
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text", shingleN = 3,
      shingler = Dedup.wordShingles)
    high
      .join(cands.withColumn("__hit", lit(true)), Seq("doc_a", "doc_b"),
        "left")
      .agg(count(lit(1)).as("n_high_pairs"),
        count(when(col("__hit").isNull, 1)).as("n_missed"))
  }

  private val minhashContainmentSql =
    s"""WITH high AS (${ngramJaccardSqlAt(0.7)})
      |SELECT COUNT(*) AS n_high_pairs, CAST(0 AS BIGINT) AS n_missed
      |FROM high""".stripMargin

  /** I2b — MinHash+LSH candidate pairs, FULL hash oracle (round 11): the
    * md5-derived hash family ([[graft.functions.Md5MinHashSigExpr]]) makes
    * every signature component — and hence every band bucket and candidate
    * pair — a pure function of the data that DuckDB recomputes bit-for-bit
    * (the d08_hll_registers / i3_sq8_topk playbook applied to LSH). Band
    * keys are the signature-slice strings, not murmur3. The xx64
    * production family keeps its own containment gate
    * (`i2_minhash_containment`). */
  def minhashCandidates(s: SparkSession, d: String): DataFrame =
    Dedup.minHashCandidates(Tables.documents(s, d), "doc_id", "text",
      hashFamily = "md5")
      .orderBy(col("doc_a"), col("doc_b"))

  /** The oracle's per-shingle/token md5 32-bit value: delegate to the
    * shared hexVal ASCII fold (digest chars [start, start+8)). */
  private def mhHex(arg: String, start: Int): String =
    Relational.hexValSql(arg, start)

  /** The md5-MinHash-LSH candidate CTE chain over `rel`, ending in
    * `lshcand(ca, cb)` — mirrors [[graft.llm.Dedup.minHashCandidates]]
    * with the md5 family (char-5 shingles, k=64, 16 bands, band key =
    * the signature-slice string). Names prefixed `l` so the chain
    * composes after the exact-dedup CTE in i6_curation_v6 and next to
    * the word-3-gram verify CTEs without collisions. */
  private def md5LshCandCtesOver(rel: String) =
    s"""lsh5 AS (
      | SELECT doc_id,
      |  list_distinct([substr(text, i, 5) for i in range(1, len(text) - 3)]) AS sh
      | FROM $rel WHERE len(text) >= 5),
      |lhv AS (SELECT doc_id, [${mhHex("s", 1)} % 2147483647 for s in sh] AS hv
      | FROM lsh5),
      |lsig AS (SELECT doc_id,
      |  [list_min([((2*j + 1) * h + (j * 2654435761) % 2147483647)
      |     % 2147483647 for h in hv]) for j in range(0, 64)] AS sig
      | FROM lhv),
      |lbands AS (SELECT doc_id, j AS band_idx,
      |  array_to_string(list_slice(sig, j*4 + 1, j*4 + 4), ',') AS band
      | FROM lsig, range(16) t(j)),
      |lshcand AS (
      | SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb
      | FROM lbands a JOIN lbands b ON a.band_idx = b.band_idx
      |  AND a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  private val minhashCandidatesSql =
    s"""WITH ${md5LshCandCtesOver("documents")}
      |SELECT ca AS doc_a, cb AS doc_b FROM lshcand""".stripMargin

  /** I2 signature-only verified tier (round 12): LSH candidates verified by
    * the MinHash-ESTIMATED Jaccard — O(k) integer compares per pair, no
    * text features in the verify join. The 100 TB default for corpus-scale
    * dedup where the exact word-n-gram tier is the audit pass. Full hash
    * oracle: md5 family signatures are engine-recomputable and the
    * estimate m/64 is exact in binary floating point. */
  /** Constants shared by the engine call and the oracle SQL below, so a
    * default change on either side cannot silently desynchronize them.
    * `SigVerifyK` must equal the signature length baked into
    * [[md5LshCandCtesOver]] (its `lsig` CTE emits k=64 components). */
  private val SigVerifyK = 64
  private val SigVerifyThreshold = 0.5

  def sigVerifiedPairs(s: SparkSession, d: String): DataFrame =
    Dedup.signatureVerifiedPairs(Tables.documents(s, d), "doc_id", "text",
      k = SigVerifyK, threshold = SigVerifyThreshold)

  private val sigVerifiedPairsSql =
    s"""WITH ${md5LshCandCtesOver("documents")},
      |vp AS (
      | SELECT ca AS doc_a, cb AS doc_b,
      |  CAST(len([i for i in range(1, ${SigVerifyK + 1})
      |    if sa.sig[i] = sb.sig[i]])
      |    AS DOUBLE) / $SigVerifyK AS est_jaccard
      | FROM lshcand
      | JOIN lsig sa ON sa.doc_id = ca
      | JOIN lsig sb ON sb.doc_id = cb)
      |SELECT doc_a, doc_b, est_jaccard FROM vp
      |WHERE est_jaccard >= $SigVerifyThreshold""".stripMargin

  /** LSH-verified near-dup pair CTEs over `rel`, ending in
    * `high(doc_a, doc_b)` — the blocked analogue of
    * `sortedNeighborHighCtes`, mirroring
    * [[graft.llm.Dedup.lshVerifiedPairs]] (md5-MinHash-LSH candidates,
    * exact word-3-gram Jaccard verify at 0.5). */
  private def lshHighCtesOver(rel: String) =
    s"""${md5LshCandCtesOver(rel)},
      |lws AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      | FROM $rel WHERE text IS NOT NULL),
      |lsh3 AS (
      | SELECT doc_id, $wordShinglesSql AS s
      | FROM lws WHERE len(w) >= 3),
      |high AS (
      | SELECT ca AS doc_a, cb AS doc_b
      | FROM lshcand
      | JOIN lsh3 sa ON sa.doc_id = ca
      | JOIN lsh3 sb ON sb.doc_id = cb
      | WHERE $setJaccardSql >= 0.5)""".stripMargin

  private val simhashContainmentSql =
    s"""WITH high AS (${ngramJaccardSqlAt(0.7)})
      |SELECT COUNT(*) AS n_high_pairs, true AS recall_floor_met
      |FROM high""".stripMargin

  /** I2c — SimHash near-dup pairs, FULL hash oracle (round 11): md5-derived
    * token hashes ([[graft.functions.Md5SimHash64Expr]]) make the 64-bit
    * fingerprints engine-recomputable; since the banded blocking is
    * containment-EXACT by pigeonhole, the engine's banded output equals
    * the all-pairs result, which is exactly what the oracle computes
    * (fingerprints as unsigned hi/lo halves — no signed-shift ambiguity —
    * then every pair at hamming ≤ 10). The xx64 production family keeps
    * its own recall gate (`i2_simhash_containment`). */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simHashPairs(Tables.documents(s, d), "doc_id", "text",
      maxHamming = 10, hashFamily = "md5")

  private val simhashPairsSql =
    s"""WITH toks AS (
      | SELECT doc_id, regexp_split_to_array(text, ' +') AS w
      | FROM documents WHERE text IS NOT NULL),
      |hv AS (SELECT doc_id,
      |  [${mhHex("t", 1)} for t in w] AS hi,
      |  [${mhHex("t", 9)} for t in w] AS lo
      | FROM toks),
      |fp AS (SELECT doc_id,
      |  list_sum([CASE WHEN 2 * len([x for x in hi if (x >> b) & 1 = 1]) > len(hi)
      |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END
      |    for b in range(0, 32)]) AS hi_val,
      |  list_sum([CASE WHEN 2 * len([x for x in lo if (x >> b) & 1 = 1]) > len(lo)
      |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END
      |    for b in range(0, 32)]) AS lo_val
      | FROM hv)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | CAST(bit_count(xor(a.hi_val, b.hi_val))
      |    + bit_count(xor(a.lo_val, b.lo_val)) AS INT) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.hi_val, b.hi_val))
      |    + bit_count(xor(a.lo_val, b.lo_val)) <= 10""".stripMargin

  /** Recall gate for the SimHash pair generator (the sketch-gate pattern
    * of [[minhashContainmentGate]]): the driver cannot hash-compare the
    * xxhash64-derived 64-bit sketches, but it CAN check the property that
    * makes them useful — pairs with word-3-gram Jaccard ≥ 0.7 must
    * overwhelmingly sit within hamming ≤ 10 of each other's fingerprint.
    * Unlike the LSH band gate, ZERO misses is not the expected value:
    * a 64-bit sign sketch of a j≈0.7 pair has expected hamming near the
    * cutoff (≈ 64·θ/π for the implied vector angle), so a small tail
    * legitimately lands outside — measured 0 missed at sf0.001/sf0.01
    * and 3 of 256 at sf0.1. The gate pins the exact high-pair count and
    * a ≥90% recall floor in integer arithmetic, both engine-exact. */
  def simhashContainmentGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // single-pass shape (round 14, second iteration): the baseline ran
    // the all-pairs `high` substrate twice (count branch + anti-join;
    // 6.6 s); a localCheckpoint pin cut it to ~4.3 s; folding both
    // outputs into ONE aggregate over ONE left join evaluates `high`
    // exactly once WITHOUT the pin's serialization. The sketch-pair side
    // is defensively distinct'd (unique already under unique doc ids) so
    // the left join preserves high's row count; a null hit marker is the
    // anti-join predicate.
    val high = wordJaccardPairs(docs, threshold = 0.7)
      .select("doc_a", "doc_b")
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 10)
      .select("doc_a", "doc_b").distinct()
    high
      .join(pairs.withColumn("__hit", lit(true)), Seq("doc_a", "doc_b"),
        "left")
      .agg(count(lit(1)).as("n_high_pairs"),
        count(when(col("__hit").isNull, 1)).as("m"))
      .select(col("n_high_pairs"),
        (col("m") * 10 <= col("n_high_pairs")).as("recall_floor_met"))
  }

  /** I2d — embedding-cosine near-dup pairs (exact all-pairs; the
    * LSH-blocked variant is LlmSpec-covered). The fixture embeddings are
    * near-random (max pairwise cosine ≈ 0.6), so the "near-dup" threshold
    * is set at the ~99.9th percentile of the pair distribution to exercise
    * a non-trivial result set. */
  def embeddingNearDups(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDups(Tables.embeddings(s, d), "vec_id", "embedding",
      threshold = 0.35)

  private val embeddingNearDupsSql =
    s"""WITH q AS (
      | SELECT vec_id, ${quantizedSql()} AS v
      | FROM embeddings),
      |flat AS (SELECT vec_id, $flattenSql FROM q),
      |norms AS (SELECT vec_id, sqrt(CAST(SUM(e*e) AS DOUBLE)) AS nrm FROM flat GROUP BY 1),
      |dots AS (
      | SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, SUM(a.e*b.e) AS dot
      | FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      | CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos_sim
      |FROM dots
      |JOIN norms na ON na.vec_id = doc_a
      |JOIN norms nb ON nb.vec_id = doc_b
      |WHERE na.nrm * nb.nrm > 0
      | AND CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.35""".stripMargin

  /** Gate for the blocked (hyperplane-LSH) near-dup path — the 100 TB
    * variant of `i2_embedding_neardup`. The blocked path exact-verifies
    * every candidate, so false positives are structurally 0 (checking that
    * pins the verification stage); recall against the exact pair set is the
    * lossy part — 4 planes × 8 tables measured 0.727 at sf0.01 on the
    * near-random fixture embeddings (threshold 0.35 ⇒ collision p ≈ 0.9 for
    * genuine pairs); floors sf-keyed above. The oracle recomputes the exact
    * pair count. */
  def neardupBlockedGate(s: SparkSession, d: String): DataFrame = {
    val floor = floorFor(BlockedRecallFloors, d, conservative = 0.2)
    val e = Tables.embeddings(s, d)
    // single-pass fold (round 14, second iteration): the baseline ran
    // `exact` (the O(n²) dot-product pass) for three branches and
    // `blocked` for two; checkpoint-pinning both helped (0.92×), but ONE
    // full-outer join of the two unique pair sets yields all three counts
    // from one aggregate with each generator evaluated exactly once and
    // no pin. exact is unique by construction (a < b groupBy), blocked
    // ends in distinct().
    val exact = Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.35)
      .select(col("doc_a"), col("doc_b")).withColumn("__ex", lit(true))
    val blocked = Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.35,
      blocked = true, nPlanes = 4, nTables = 8)
      .select(col("doc_a"), col("doc_b")).withColumn("__bl", lit(true))
    exact.join(blocked, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("__ex")).as("n_exact_pairs"),
        count(when(col("__ex").isNull, 1)).as("n_false_positives"),
        count(when(col("__ex").isNotNull && col("__bl").isNotNull, 1))
          .as("n_found"))
      .select(col("n_exact_pairs"), col("n_false_positives"),
        (col("n_exact_pairs") > 0 &&
          col("n_found").cast("double") / col("n_exact_pairs") >= floor)
          .as("recall_floor_met"))
  }

  private val neardupBlockedGateSql =
    s"""WITH pairs AS ($embeddingNearDupsSql)
      |SELECT COUNT(*) AS n_exact_pairs, CAST(0 AS BIGINT) AS n_false_positives,
      | true AS recall_floor_met
      |FROM pairs""".stripMargin

  /** Rank-1 recall@k gate shared by the LSH and IVF ANN queries: the
    * fraction of queries whose EXACT nearest neighbor appears in the ANN
    * top-k must clear `floor`. Chance level (a random top-5 of ~n docs)
    * is ~1%, so the sf-keyed floors are an order of magnitude above a
    * broken-hash outcome while sitting safely under the measured values
    * (see the calibration table above). */
  private def rank1RecallGate(
      exact: DataFrame, ann: DataFrame, floor: Double): DataFrame = {
    // single-pass fold (round 14): the old count-branch + semi-join shape
    // evaluated the exact top-k substrate twice (and checkpoint-pinning it
    // measured ~1.5× slower on the IVF gate — serialized branches, stats
    // loss). One left join against the distinct'd ANN pairs preserves the
    // rank-1 row count, so one aggregate yields both outputs with each
    // substrate evaluated exactly once.
    val exact1 = exact.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
    exact1
      .join(ann.select(col("query_id"), col("neighbor_id")).distinct()
        .withColumn("__hit", lit(true)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_queries"), count(col("__hit")).as("n_hits"))
      .select(col("n_queries"),
        (col("n_queries") > 0 &&
          col("n_hits").cast("double") / col("n_queries") >= floor)
          .as("recall_floor_met"))
  }

  private val recallGateSql =
    """SELECT COUNT(*) AS n_queries, true AS recall_floor_met FROM embeddings"""

  def lshRecallGate(s: SparkSession, d: String): DataFrame =
    rank1RecallGate(cosineTopK(s, d), lshAnn(s, d),
      floor = floorFor(LshRecallFloors, d, conservative = 0.05))

  def ivfRecallGate(s: SparkSession, d: String): DataFrame =
    rank1RecallGate(cosineTopK(s, d), ivfAnn(s, d),
      floor = floorFor(IvfRecallFloors, d, conservative = 0.1))

  /** I3c — IVF-partitioned ANN top-k, FULL hash oracle (round 11): the
    * coarse quantizer is the INTEGER-Lloyd k-means already oracle-checked
    * by `i3_kmeans` (16 lowest-id seeds, one exact fixed-point update),
    * so cells, probe lists, candidates and ranks are pure integer
    * functions of the data — the oracle extends the shared kmeans CTE
    * chain with a top-nProbe probe ranking and the exact quantized
    * cosine. At every battery scale the corpus fits the driver collect,
    * so the row runs the per-row top-k kernel over a grid-probed cell
    * index (no join, no shuffle). `i3_ivf_serve_gate` gates the
    * sample-fit float path, [[Similarity.ivfServe]]. Recall is still
    * driver-verified by `i3_ivf_recall_gate`. */
  def ivfAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.ivfTopKExact(e, "vec_id", "embedding", k = 5,
      nList = 16, nProbe = 4, updates = 1)
  }

  /** The quantized-cosine features of every embedding: `qs` (the 1e-6
    * integer grid), `fl` (one row per component) and `nr` (norms) —
    * shared by the IVF, LSH and SemDeDup oracles. */
  private val cosineFeatureCtes =
    s"""qs AS (
      | SELECT vec_id, ${quantizedSql()} AS v
      | FROM embeddings),
      |fl AS (SELECT vec_id, $flattenSql FROM qs),
      |nr AS (SELECT vec_id, sqrt(CAST(SUM(e*e) AS DOUBLE)) AS nrm FROM fl GROUP BY 1)""".stripMargin

  /** The exact-cosine rerank of ANN candidates `cand(query_id,
    * neighbor_id)` over [[cosineFeatureCtes]]: the dot products (as CTE
    * `dots`; the LSH oracle, which has a `dots` CTE already, names it
    * otherwise), then the top-5 per query (ties to the smallest neighbor
    * id) — shared by the IVF and LSH top-k oracles. */
  private def candCosineRankSql(dots: String) =
    s"""$dots AS (
      | SELECT c.query_id, c.neighbor_id, SUM(fa.e*fb.e) AS dot
      | FROM cand c
      | JOIN fl fa ON fa.vec_id = c.query_id
      | JOIN fl fb ON fb.vec_id = c.neighbor_id AND fb.i = fa.i
      | GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, cos_sim, rank FROM (
      | SELECT query_id, neighbor_id,
      |  CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos_sim,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |   ORDER BY CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) DESC,
      |    neighbor_id ASC) AS rank
      | FROM $dots
      | JOIN nr na ON na.vec_id = query_id
      | JOIN nr nb ON nb.vec_id = neighbor_id
      | WHERE na.nrm > 0 AND nb.nrm > 0)
      |WHERE rank <= 5""".stripMargin

  private val ivfAnnSql =
    s"""WITH ${kmeansAssignCteK(16)},
      |probes AS (
      | SELECT vec_id AS query_id, cid FROM (
      |  SELECT vec_id, cid,
      |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |  FROM d1) WHERE rn <= 4),
      |$cosineFeatureCtes,
      |cand AS (
      | SELECT p.query_id, a1.vec_id AS neighbor_id
      | FROM probes p JOIN a1 ON a1.cid = p.cid
      |  AND a1.vec_id <> p.query_id),
      |${candCosineRankSql("dots")}""".stripMargin

  /** The PQ-ADC top-5 select over `pair(query_id, neighbor_id, dot, rn2)`
    * and the query norms CTE `qn` — the cosine against each corpus row's
    * reconstruction norm, shared by the PQ and IVF-PQ top-k oracles. */
  private def pqRankSql(qn: String) =
    s"""SELECT query_id, neighbor_id, cos_sim, rank FROM (
      | SELECT p.query_id, p.neighbor_id,
      |  CAST(p.dot AS DOUBLE) / (q.nrm * sqrt(CAST(p.rn2 AS DOUBLE))) AS cos_sim,
      |  ROW_NUMBER() OVER (PARTITION BY p.query_id
      |   ORDER BY CAST(p.dot AS DOUBLE) / (q.nrm * sqrt(CAST(p.rn2 AS DOUBLE))) DESC,
      |    p.neighbor_id ASC) AS rank
      | FROM pair p JOIN $qn q ON q.vec_id = p.query_id
      | WHERE q.nrm > 0 AND p.rn2 > 0)
      |WHERE rank <= 5""".stripMargin

  def pqRecallGate(s: SparkSession, d: String): DataFrame =
    rank1RecallGate(cosineTopK(s, d), pqAnn(s, d),
      floor = floorFor(PqRecallFloors, d, conservative = 0.5))

  /** I3e — product-quantization ANN top-k, FULL hash oracle (round 11):
    * the per-block codebooks are INTEGER-Lloyd k-means (the `i3_kmeans`
    * recurrence per block slice), so codes, reconstruction norms, ADC
    * scores and ranks are pure integer functions of the data — DuckDB
    * recomputes the codebooks and the whole scan bit-for-bit. The float
    * sample-trained [[Similarity.pqTopK]] remains for sample-fit
    * workflows and the serving tier; recall is still driver-verified by
    * `i3_pq_recall_gate`. */
  def pqAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.pqTopKExact(e, "vec_id", "embedding", k = 5,
      nBlocks = 16, nCodes = 256, updates = 1)
  }

  /** Oracle twin of [[Similarity.pqTopKExact]]: the shared k-means
    * seed/update recurrence per BLOCK (16 slices of the shifted 1e-6
    * grid, 256 lowest-id seeds, one floor-division update), then encode =
    * per-block argmin, n2 = per-code squared norms, ADC = per-(query,
    * block, code) partial dots summed over a corpus row's codes, cosine
    * against the reconstruction norm, rank ≤ 5. Every intermediate is an
    * exact integer (products ≤ 2^42, sums ≤ 2^47 — also exact in the
    * engine's double kernels), so the hash compare is bit-for-bit.
    * Assumes the fixtures' block-divisible dim (64 = 16×4), like the
    * engine's default nBlocks. */
  /** I3i — the IVF × PQ COMPOSED index, FULL hash oracle (round 11
    * capstone): coarse cells + probe lists from the integer-Lloyd
    * quantizer (the `i3_ivf_ann_topk` chain), candidate scoring from the
    * per-block integer-Lloyd codebooks via the distributed ADC kernel
    * (the `i3_pq_ann_topk` chain) — the billion-scale serving composition
    * (candidate axis × memory axis) checked END TO END by DuckDB
    * recomputing both quantizers and every score. The float/sample
    * production composition stays behind `i3_ivfpq_serve_gate`. */
  def ivfPqAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.ivfPqTopKExact(e, "vec_id", "embedding", k = 5,
      nList = 16, nProbe = 4, nBlocks = 16, nCodes = 256, updates = 1)
  }

  private val ivfPqAnnSql =
    s"""WITH ${kmeansAssignCteK(16)},
      |probes AS (
      | SELECT vec_id AS query_id, cid FROM (
      |  SELECT vec_id, cid,
      |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |  FROM d1) WHERE rn <= 4),
      |${pqCtes("p_")},
      |cand AS (
      | SELECT p.query_id, a1.vec_id AS neighbor_id
      | FROM probes p JOIN a1 ON a1.cid = p.cid AND a1.vec_id <> p.query_id),
      |pair AS (
      | SELECT c.query_id, c.neighbor_id,
      |  SUM(l.dot) AS dot, SUM(n2.n2) AS rn2
      | FROM cand c
      | JOIN p_codes cd ON cd.vec_id = c.neighbor_id
      | JOIN p_lut l ON l.qid = c.query_id AND l.b = cd.b AND l.cid = cd.cid
      | JOIN p_n2 n2 ON n2.b = cd.b AND n2.cid = cd.cid
      | GROUP BY 1, 2)
      |${pqRankSql("p_qn")}""".stripMargin

  /** The PQ k-means/encode/score CTE chain, name-prefixed so the
    * standalone `i3_pq_ann_topk` oracle and the composed
    * `i3_ivfpq_topk` oracle (which also carries the coarse-quantizer
    * chain, with overlapping default CTE names) can share it verbatim:
    * produces ${p}codes (vec_id, b, cid — raw-norm-filtered), ${p}n2
    * (per-code squared norms), ${p}qn (query quantized norms), ${p}lut
    * (per-(query, block, code) partial dots). */
  private def pqCtes(p: String) =
    s"""${p}qofs AS (
      | SELECT vec_id,
      |  ${quantizedSql(shift = true)} AS v
      | FROM embeddings),
      |${p}dimt AS (SELECT (MAX(len(v)) + 15) // 16 AS bs FROM ${p}qofs),
      |${p}blk AS (
      | SELECT vec_id, b.b, list_slice(v, b.b*d.bs + 1, (b.b+1)*d.bs) AS v
      | FROM ${p}qofs, range(16) b(b), ${p}dimt d),
      |${p}bf AS (SELECT vec_id, b, $flattenSql FROM ${p}blk),
      |${p}seeds AS (
      | SELECT b, cid, v FROM (
      |  SELECT b, v, ROW_NUMBER() OVER (PARTITION BY b ORDER BY vec_id) - 1 AS cid
      |  FROM ${p}blk) WHERE cid < 256),
      |${p}c0 AS (SELECT b, cid, $flattenSql FROM ${p}seeds),
      |${p}d0 AS (
      | SELECT bf.vec_id, bf.b, c0.cid, SUM((bf.e - c0.e)*(bf.e - c0.e)) AS dist
      | FROM ${p}bf bf JOIN ${p}c0 c0 ON c0.b = bf.b AND c0.i = bf.i GROUP BY 1, 2, 3),
      |${p}a0 AS (
      | SELECT vec_id, b, cid FROM (
      |  SELECT vec_id, b, cid,
      |   ROW_NUMBER() OVER (PARTITION BY vec_id, b ORDER BY dist, cid) AS rn
      |  FROM ${p}d0) WHERE rn = 1),
      |${p}upd AS (
      | SELECT a0.b, a0.cid, bf.i,
      |  CAST(SUM(bf.e) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS e
      | FROM ${p}a0 a0 JOIN ${p}bf bf ON bf.vec_id = a0.vec_id AND bf.b = a0.b
      | GROUP BY 1, 2, 3),
      |${p}c1 AS (
      | SELECT c0.b, c0.cid, c0.i, COALESCE(u.e, c0.e) AS e
      | FROM ${p}c0 c0 LEFT JOIN ${p}upd u ON u.b = c0.b AND u.cid = c0.cid AND u.i = c0.i),
      |${p}d1 AS (
      | SELECT bf.vec_id, bf.b, c1.cid, SUM((bf.e - c1.e)*(bf.e - c1.e)) AS dist
      | FROM ${p}bf bf JOIN ${p}c1 c1 ON c1.b = bf.b AND c1.i = bf.i GROUP BY 1, 2, 3),
      |${p}raw AS (
      | SELECT vec_id FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      | GROUP BY 1 HAVING SUM(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) > 0),
      |${p}codes AS (
      | SELECT vec_id, b, cid FROM (
      |  SELECT d1.vec_id, d1.b, d1.cid,
      |   ROW_NUMBER() OVER (PARTITION BY d1.vec_id, d1.b ORDER BY d1.dist, d1.cid) AS rn
      |  FROM ${p}d1 d1 JOIN ${p}raw raw ON raw.vec_id = d1.vec_id) WHERE rn = 1),
      |${p}cb AS (SELECT b, cid, i, e - 1000000 AS e FROM ${p}c1),
      |${p}n2 AS (SELECT b, cid, SUM(e*e) AS n2 FROM ${p}cb GROUP BY 1, 2),
      |${p}qf AS (SELECT vec_id, b, i, e - 1000000 AS e FROM ${p}bf),
      |${p}qn AS (SELECT vec_id, sqrt(CAST(SUM(e*e) AS DOUBLE)) AS nrm FROM ${p}qf GROUP BY 1),
      |${p}lut AS (
      | SELECT qf.vec_id AS qid, cb.b, cb.cid, SUM(qf.e * cb.e) AS dot
      | FROM ${p}qf qf JOIN ${p}cb cb ON cb.b = qf.b AND cb.i = qf.i GROUP BY 1, 2, 3)""".stripMargin

  private val pqAnnSql =
    s"""WITH ${pqCtes("")},
      |pair AS (
      | SELECT l.qid AS query_id, c.vec_id AS neighbor_id,
      |  SUM(l.dot) AS dot, SUM(n2.n2) AS rn2
      | FROM codes c
      | JOIN lut l ON l.b = c.b AND l.cid = c.cid AND l.qid <> c.vec_id
      | JOIN n2 ON n2.b = c.b AND n2.cid = c.cid
      | GROUP BY 1, 2)
      |${pqRankSql("qn")}""".stripMargin

  /** The exact-cosine top-5 select over `dots(query_id, neighbor_id,
    * dot)` and squared `norms(vec_id, nrm)`, ranked per query (ties to
    * the smallest neighbor id) — shared by the brute-force, query-batch,
    * filtered and SQ8 top-k oracles. `nonZeroNorms` drops pairs with a
    * zero-norm side. */
  private def cosineRankSql(nonZeroNorms: Boolean) = {
    val nz = if (nonZeroNorms) "\n WHERE na.nrm > 0 AND nb.nrm > 0" else ""
    s"""SELECT query_id, neighbor_id, cos_sim, rank FROM (
      | SELECT query_id, neighbor_id,
      |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos_sim,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) DESC,
      |      neighbor_id ASC) AS rank
      | FROM dots
      | JOIN norms na ON na.vec_id = query_id
      | JOIN norms nb ON nb.vec_id = neighbor_id$nz)
      |WHERE rank <= 5""".stripMargin
  }

  /** I3a — brute-force cosine top-5 neighbors per embedding. */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 5)
  }

  /** I3f — query-batch retrieval serving
    * ([[Similarity.batchTopK]]): a FIXED 64-query batch (vec_id < 64 — an
    * id predicate, so the batch stays the same 64 vectors under every
    * scale-up/fuzz perturbation that appends ids) served against the rest
    * of the corpus. Broadcast-queries/scan-corpus is the regime where ANN
    * cost is linear in the corpus — the self-join `i3_*_ann_topk` fixtures
    * can't show that because their query set IS the corpus (BASELINE.md
    * session-10 sweep). Exact integer cosine ⇒ full oracle row. */
  def queryBatchTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.batchTopK(
      e.filter(col("vec_id") < 64), e.filter(col("vec_id") >= 64),
      "vec_id", "embedding", k = 5)
  }

  private val queryBatchTopKSql =
    s"""WITH v AS (
      | SELECT vec_id, ${quantizedSql()} AS v
      | FROM embeddings),
      |flat AS (SELECT vec_id, $flattenSql FROM v),
      |norms AS (SELECT vec_id, SUM(e*e) AS nrm FROM flat GROUP BY 1),
      |dots AS (
      | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.e*c.e) AS dot
      | FROM flat q JOIN flat c ON q.i = c.i AND q.vec_id < 64 AND c.vec_id >= 64
      | GROUP BY 1, 2)
      |${cosineRankSql(nonZeroNorms = true)}""".stripMargin

  /** I3k — FILTERED vector serving: top-5 under a metadata predicate
    * (`label IN (0, 1)`), the restriction axis every production vector
    * store has to answer (tenant/language/license scoping). PRE-filter
    * formulation: the predicate applies to the corpus SCAN — it reaches
    * the parquet reader as a pushed filter, so non-matching corpus rows
    * never decode their embedding column, and every query still gets k
    * true neighbors from the filtered set. The alternative (post-filter
    * the unfiltered top-k) silently under-fills whenever fewer than k of
    * the global winners match — the spec measures exactly that loss.
    * Same broadcast-queries/scan-corpus shape as `i3_query_batch_topk`;
    * exact integer cosine ⇒ full oracle row. */
  def filteredTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.batchTopK(
      e.filter(col("vec_id") < 32),
      e.filter(col("vec_id") >= 32 && col("label").isin(0, 1)),
      "vec_id", "embedding", k = 5)
  }

  private val filteredTopKSql =
    s"""WITH v AS (
      | SELECT vec_id, label,
      |  ${quantizedSql()} AS v
      | FROM embeddings),
      |flat AS (SELECT vec_id, label, $flattenSql FROM v),
      |norms AS (SELECT vec_id, SUM(e*e) AS nrm FROM flat GROUP BY 1),
      |dots AS (
      | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.e*c.e) AS dot
      | FROM flat q JOIN flat c ON q.i = c.i AND q.vec_id < 32
      |  AND c.vec_id >= 32 AND c.label IN (0, 1)
      | GROUP BY 1, 2)
      |${cosineRankSql(nonZeroNorms = true)}""".stripMargin

  /** I3f scale path — IVF-accelerated serving gate: rank-1 recall of
    * [[Similarity.ivfServe]] (cell-probed corpus scan) against exact
    * [[queryBatchTopK]] on the same 64-query/rest-of-corpus split.
    * Measured recall (battery fixtures, 2026-08-15 calibration run;
    * BASELINE.md "Session-10 addition: query-batch retrieval serving"): IVF sf0.001 0.734, sf0.01
    * 0.547, sf0.1 0.641; IVF-PQ (probe loss compounded with PQ
    * quantization loss) 0.734 / 0.547 / 0.625 — PQ costs ≤1 rank-1 hit
    * of 64, consistent with the 2026-08-13 PqCalib run's 0.9+ standalone
    * PQ recall. One shared floor table at ~60-65% of the lower (IVF-PQ)
    * measurement — far above the ~nProbe/nList = 25% a random probe set
    * would give on cluster-free data, slack enough for fixture-regen
    * jitter. */
  private[graft] val ServeRecallFloors =
    Map("0.001" -> 0.45, "0.01" -> 0.35, "0.1" -> 0.4)

  private def serveGateOver(
      serve: (DataFrame, DataFrame) => DataFrame)(
      s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 64)
    val c = e.filter(col("vec_id") >= 64)
    rank1RecallGate(
      Similarity.batchTopK(q, c, "vec_id", "embedding", k = 5),
      serve(q, c),
      floor = floorFor(ServeRecallFloors, d, conservative = 0.25))
  }

  def ivfServeGate(s: SparkSession, d: String): DataFrame =
    serveGateOver((q, c) =>
      Similarity.ivfServe(q, c, "vec_id", "embedding", k = 5))(s, d)

  /** I3f, both axes — IVF-PQ serving gate: [[Similarity.ivfPqServe]]
    * (cell-probed candidates scored from 16-byte PQ codes; raw corpus
    * vectors leave the plan at encode) against the same exact serve. */
  def ivfPqServeGate(s: SparkSession, d: String): DataFrame =
    serveGateOver((q, c) =>
      Similarity.ivfPqServe(q, c, "vec_id", "embedding", k = 5))(s, d)

  /** The serve gate's oracle: the exact side serves every query in the
    * fixed batch (all fixture embeddings are non-null and non-zero — same
    * invariant `recallGateSql` rests on), so n_queries is the batch
    * cardinality and the floor verdict must be true. */
  private val serveGateSql =
    """SELECT COUNT(*) AS n_queries, true AS recall_floor_met
      |FROM embeddings WHERE vec_id < 64""".stripMargin

  private val cosineTopKSql =
    s"""WITH q AS (
      | SELECT vec_id, ${quantizedSql()} AS v
      | FROM embeddings),
      |flat AS (SELECT vec_id, $flattenSql FROM q),
      |norms AS (SELECT vec_id, SUM(e*e) AS nrm FROM flat GROUP BY 1),
      |dots AS (
      | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.e*b.e) AS dot
      | FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id GROUP BY 1, 2)
      |${cosineRankSql(nonZeroNorms = false)}""".stripMargin

  /** I3j — scalar-quantization (SQ8) retrieval
    * ([[Similarity.sq8TopK]]): the 10 lowest-id vectors served against
    * the corpus by cosine over int8-reconstructed vectors on the 1e-6
    * integer grid. SQ8 has NO training seed (per-dim min/max is a pure
    * corpus statistic), so unlike the PQ/IVF/LSH rows the whole ranking
    * is DuckDB-reproducible — the one quantized-serving row the oracle
    * hash-checks end to end rather than recall-gating. */
  def sq8TopK(s: SparkSession, d: String): DataFrame =
    Similarity.sq8TopK(Tables.embeddings(s, d), "vec_id", "embedding",
      nQueries = 10, k = 5)

  private val sq8TopKSql =
    s"""WITH e AS (
      | SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
      | FROM embeddings WHERE embedding IS NOT NULL),
      |flat AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v,1) AS i FROM e),
      |stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM flat GROUP BY 1),
      |recon AS (
      | SELECT vec_id, flat.i,
      |  CASE WHEN mx > mn
      |   THEN CAST(FLOOR((mn + FLOOR((x - mn) / (mx - mn) * 255 + 0.5)
      |     * (mx - mn) / 255) * 1000000) AS BIGINT)
      |   ELSE CAST(FLOOR(mn * 1000000) AS BIGINT) END AS r
      | FROM flat JOIN stats ON flat.i = stats.i),
      |norms AS (SELECT vec_id, SUM(r*r) AS nrm FROM recon GROUP BY 1),
      |dots AS (
      | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  SUM(q.r * c.r) AS dot
      | FROM recon q JOIN recon c ON q.i = c.i
      |  AND q.vec_id < 10 AND c.vec_id <> q.vec_id
      | GROUP BY 1, 2)
      |${cosineRankSql(nonZeroNorms = false)}""".stripMargin

  /** I3h — hard-negative mining: for the 50 lowest-id query vectors, the
    * top-5 most similar corpus vectors with a DIFFERENT label. See
    * [[graft.llm.Similarity.hardNegatives]] for the broadcast-queries
    * one-corpus-scan shape. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    // the 50-row mining batch comes off a TERMINAL TakeOrdered collect
    // (per-partition top-50 + driver merge — same bounded-seed pattern as
    // KMeans.fit): a non-terminal orderBy().limit() would range-shuffle
    // the whole corpus just to pick 50 rows
    val batch = e.select(col("vec_id"), col("embedding"), col("label"))
      .orderBy(col("vec_id")).limit(50)
    val qs = s.createDataFrame(
      java.util.Arrays.asList(batch.collect(): _*), batch.schema)
    Similarity.hardNegatives(qs, e, "vec_id", "embedding", "label", k = 5)
  }

  private val hardNegativesSql =
    s"""WITH q AS (
      | SELECT vec_id, label, ${quantizedSql()} AS v
      | FROM embeddings),
      |qs AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 50),
      |flat AS (SELECT vec_id, $flattenSql FROM q),
      |qflat AS (SELECT vec_id, $flattenSql FROM qs),
      |norms AS (SELECT vec_id, SUM(e*e) AS nrm FROM flat GROUP BY 1),
      |dots AS (
      | SELECT a.vec_id AS query_id, b.vec_id AS neg_id, SUM(a.e*b.e) AS dot
      | FROM qflat a JOIN flat b ON a.i = b.i GROUP BY 1, 2)
      |SELECT query_id, neg_id, cos_sim, rank FROM (
      | SELECT d.query_id, d.neg_id,
      |  CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos_sim,
      |  ROW_NUMBER() OVER (PARTITION BY d.query_id
      |   ORDER BY CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) DESC,
      |    d.neg_id ASC) AS rank
      | FROM dots d
      | JOIN q la ON la.vec_id = d.query_id
      | JOIN q lb ON lb.vec_id = d.neg_id
      | JOIN norms na ON na.vec_id = d.query_id
      | JOIN norms nb ON nb.vec_id = d.neg_id
      | WHERE la.label <> lb.label)
      |WHERE rank <= 5""".stripMargin

  /** I2h — sorted-neighborhood near-dup pairs: prefix-sort blocking with
    * exact word-3-gram Jaccard verification (see
    * [[graft.llm.Dedup.sortedNeighborPairs]]). Candidates are defined by
    * the global (prefix, doc_id) sort order — identical in both engines —
    * so the oracle's single-partition ROW_NUMBER reproduces the engine's
    * distributed zipWithIndex ranks exactly. */
  def sortedNeighbors(s: SparkSession, d: String): DataFrame =
    Dedup.sortedNeighborPairs(Tables.documents(s, d), "doc_id", "text",
      window = 8, keyPrefixLen = 24, n = 3, threshold = 0.5)

  private val sortedNeighborsSql =
    s"""WITH base AS (
      | SELECT doc_id, text, substr(trim(text), 1, 24) AS sk
      | FROM documents WHERE text IS NOT NULL),
      |r AS (
      | SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS rn
      | FROM base),
      |cand AS (
      | SELECT LEAST(a.doc_id, b.doc_id) AS ca,
      |        GREATEST(a.doc_id, b.doc_id) AS cb
      | FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 8),
      |ws AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w FROM base),
      |sh AS (
      | SELECT doc_id, $wordShinglesSql AS s
      | FROM ws WHERE len(w) >= 3),
      |scored AS (
      | SELECT ca AS doc_a, cb AS doc_b,
      |  len(list_intersect(sa.s, sb.s)) AS n_shared,
      |  len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS un
      | FROM cand
      | JOIN sh sa ON sa.doc_id = ca
      | JOIN sh sb ON sb.doc_id = cb)
      |SELECT doc_a, doc_b, n_shared,
      | CAST(n_shared AS DOUBLE) / un AS jaccard
      |FROM scored
      |WHERE CAST(n_shared AS DOUBLE) / un >= 0.5""".stripMargin

  /** I3f — deterministic integer-Lloyd k-means over the embedding corpus
    * (k = 10 = label count, one centroid refresh from the lowest-id
    * seeds): per-cluster size, exact integer inertia, and majority label.
    * The oracle unrolls assign→update→assign as CTEs in the same
    * fixed-point arithmetic — see [[graft.llm.KMeans]] for why that is
    * bit-exact. */
  def kmeansClusters(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val asg = KMeans.fit(e, "vec_id", "embedding", k = 10, updates = 1,
      passthrough = Seq("label"))
    val sizes = asg.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("inertia"))
    val topLabel = asg.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(col("n").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("label").as("top_label"))
    sizes.join(topLabel, Seq("cluster"))
      .select(col("cluster").cast("long").as("cluster_id"), col("n_vecs"),
        col("inertia"), col("top_label"))
      .orderBy(col("cluster_id"))
  }

  /** Shared CTE chain computing the integer-Lloyd assignment `a1`
    * (quantize → seed → assign → update → reassign) — the building block
    * of both the `i3_kmeans` report and the `i6_cluster_balance`
    * pipeline oracle. */
  private def kmeansAssignCteK(k: Int) =
    s"""q AS (
      | SELECT vec_id, label,
      |  ${quantizedSql(shift = true)} AS v
      | FROM embeddings),
      |seeds AS (
      | SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v
      | FROM q ORDER BY vec_id LIMIT $k),
      |qf AS (SELECT vec_id, $flattenSql FROM q),
      |c0 AS (SELECT cid, $flattenSql FROM seeds),
      |d0 AS (
      | SELECT qf.vec_id, c0.cid, SUM((qf.e - c0.e)*(qf.e - c0.e)) AS dist
      | FROM qf JOIN c0 ON c0.i = qf.i GROUP BY 1, 2),
      |a0 AS (
      | SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid,
      |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |  FROM d0) WHERE rn = 1),
      |upd AS (
      | SELECT a0.cid, qf.i,
      |  CAST(SUM(qf.e) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS e
      | FROM a0 JOIN qf ON qf.vec_id = a0.vec_id GROUP BY 1, 2),
      |c1 AS (
      | SELECT c0.cid, c0.i, COALESCE(u.e, c0.e) AS e
      | FROM c0 LEFT JOIN upd u ON u.cid = c0.cid AND u.i = c0.i),
      |d1 AS (
      | SELECT qf.vec_id, c1.cid, SUM((qf.e - c1.e)*(qf.e - c1.e)) AS dist
      | FROM qf JOIN c1 ON c1.i = qf.i GROUP BY 1, 2),
      |a1 AS (
      | SELECT vec_id, cid, dist FROM (
      |  SELECT vec_id, cid, dist,
      |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |  FROM d1) WHERE rn = 1)""".stripMargin

  private val kmeansAssignCte = kmeansAssignCteK(10)

  private val kmeansClustersSql =
    s"""WITH $kmeansAssignCte,
      |lab AS (
      | SELECT a1.cid, q.label, COUNT(*) AS n
      | FROM a1 JOIN q ON q.vec_id = a1.vec_id GROUP BY 1, 2),
      |top AS (
      | SELECT cid, label FROM (
      |  SELECT cid, label,
      |   ROW_NUMBER() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rn
      |  FROM lab) WHERE rn = 1)
      |SELECT a1.cid AS cluster_id, COUNT(*) AS n_vecs,
      | CAST(SUM(a1.dist) AS BIGINT) AS inertia, t.label AS top_label
      |FROM a1 JOIN top t ON t.cid = a1.cid
      |GROUP BY 1, t.label ORDER BY cluster_id""".stripMargin

  /** I2j — SemDeDup (cluster-scoped semantic dedup, Abbas et al. 2023):
    * same k-means assignment as `i3_kmeans` (k=10, one update — the
    * oracle reuses the CTE chain verbatim), pair search confined to each
    * cluster, min-id-wins keep rule. See [[graft.llm.Dedup.semDedup]]. */
  def semDedup(s: SparkSession, d: String): DataFrame =
    Dedup.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
      k = 10, updates = 1, threshold = 0.35)

  private val semDedupSql =
    s"""WITH $kmeansAssignCte,
      |$cosineFeatureCtes,
      |dots AS (
      | SELECT aa.vec_id AS va, bb.vec_id AS vb, SUM(fa.e*fb.e) AS dot
      | FROM a1 aa JOIN a1 bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
      | JOIN fl fa ON fa.vec_id = aa.vec_id
      | JOIN fl fb ON fb.vec_id = bb.vec_id AND fb.i = fa.i
      | GROUP BY 1, 2),
      |dups AS (
      | SELECT DISTINCT d.vb AS vec_id
      | FROM dots d
      | JOIN nr na ON na.vec_id = d.va
      | JOIN nr nb ON nb.vec_id = d.vb
      | WHERE na.nrm * nb.nrm > 0
      |  AND CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.35)
      |SELECT a1.vec_id, CAST(a1.cid AS BIGINT) AS cluster_id,
      | (dups.vec_id IS NULL) AS kept
      |FROM a1 LEFT JOIN dups ON dups.vec_id = a1.vec_id""".stripMargin

  /** I6j — D4 prototypicality pruning (Tirumala et al. 2023): drop the
    * 25% of each k-means cluster closest to its centroid. Exact integer
    * distances from the shared assignment; the oracle reuses the
    * `i3_kmeans` CTE chain and windows over it. */
  def protoPrune(s: SparkSession, d: String): DataFrame =
    Sampling.protoPrune(Tables.embeddings(s, d), "vec_id", "embedding",
      k = 10, updates = 1, dropPct = 25)

  private val protoPruneSql =
    s"""WITH $kmeansAssignCte,
      |r AS (
      | SELECT vec_id, cid, CAST(dist AS BIGINT) AS d,
      |  ROW_NUMBER() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rnk,
      |  COUNT(*) OVER (PARTITION BY cid) AS n_c
      | FROM a1)
      |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, d AS dist,
      | CAST(rnk AS BIGINT) AS proto_rank
      |FROM r WHERE rnk > (n_c * 25) // 100""".stripMargin

  /** I3g — BM25 sparse retrieval: top-10 docs for three fixed term
    * queries, scored in exact integer arithmetic (see
    * [[graft.llm.Retrieval]] for the un-logged RSJ-odds formulation that
    * makes the score cross-engine exact). */
  def bm25TopK(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      queries = Seq(
        1 -> Seq("hash", "join"),
        2 -> Seq("window", "merge", "batch"),
        3 -> Seq("customer", "order", "line")),
      k = 10)

  private val bm25TopKSql =
    """WITH docs0 AS (
      | SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
      | FROM documents WHERE text IS NOT NULL),
      |words AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM docs0),
      |tf AS (
      | SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      | FROM words GROUP BY 1, 2),
      |stats AS (
      | SELECT COUNT(*) AS n_docs, CAST(SUM(len(ws)) AS BIGINT) AS t_tokens
      | FROM docs0),
      |qt AS (SELECT * FROM (VALUES
      |  (1,'hash'),(1,'join'),
      |  (2,'window'),(2,'merge'),(2,'batch'),
      |  (3,'customer'),(3,'order'),(3,'line')) q(query_id, term)),
      |dft AS (
      | SELECT term, COUNT(*) AS df FROM tf
      | WHERE term IN (SELECT term FROM qt) GROUP BY 1),
      |scored AS (
      | SELECT qt.query_id, tf.doc_id,
      |  CAST((CAST(22 AS HUGEINT) * tf.tf * s.t_tokens
      |         * (2 * s.n_docs - 2 * d.df + 1) * 1000000)
      |   // ((CAST(10 AS HUGEINT) * s.t_tokens * tf.tf
      |         + CAST(3 AS HUGEINT) * s.t_tokens
      |         + CAST(9 AS HUGEINT) * tf.dl * s.n_docs)
      |       * (2 * d.df + 1)) AS BIGINT) AS score_u
      | FROM tf
      | JOIN qt ON qt.term = tf.term
      | JOIN dft d ON d.term = tf.term
      | CROSS JOIN stats s),
      |agg AS (
      | SELECT query_id, doc_id, CAST(SUM(score_u) AS BIGINT) AS score
      | FROM scored GROUP BY 1, 2)
      |SELECT query_id, doc_id, score, rank FROM (
      | SELECT query_id, doc_id, score,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank
      | FROM agg)
      |WHERE rank <= 10""".stripMargin

  /** I6h — cluster-balanced corpus composition: the semantic-clustering
    * pass USED — k-means assignment ([[graft.llm.KMeans]]) feeds the
    * deterministic per-stratum cap ([[graft.llm.Sampling.stratifiedCap]]
    * with cluster as the stratum), the topic-balancing step that stops one
    * embedding neighborhood from dominating a training mix. Per cluster:
    * total size, kept size, and the exact sum of kept ids (pins WHICH
    * rows survived, not just how many). */
  def clusterBalance(s: SparkSession, d: String): DataFrame = {
    val asg = KMeans.fit(Tables.embeddings(s, d), "vec_id", "embedding",
      k = 10, updates = 1)
    val kept = Sampling.stratifiedCap(asg, col("cluster"),
      col("vec_id").cast("string"), col("vec_id"), cap = 40)
    asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_total"))
      .join(kept.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("kept_id_sum")),
        Seq("cluster"))
      .select(col("cluster").cast("long").as("cluster_id"),
        col("n_total"), col("n_kept"), col("kept_id_sum"))
      .orderBy(col("cluster_id"))
  }

  private lazy val clusterBalanceSql =
    s"""WITH $kmeansAssignCte,
      |ranked AS (
      | SELECT vec_id, cid,
      |  ROW_NUMBER() OVER (PARTITION BY cid
      |    ORDER BY ${bucketSql("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC)
      |   AS rn
      | FROM a1),
      |kept AS (SELECT vec_id, cid FROM ranked WHERE rn <= 40)
      |SELECT a1.cid AS cluster_id, COUNT(*) AS n_total,
      | (SELECT COUNT(*) FROM kept k WHERE k.cid = a1.cid) AS n_kept,
      | (SELECT CAST(SUM(k.vec_id) AS BIGINT) FROM kept k WHERE k.cid = a1.cid)
      |  AS kept_id_sum
      |FROM a1 GROUP BY 1 ORDER BY cluster_id""".stripMargin

  /** I3b — LSH-bucketed ANN top-k, FULL hash oracle (round 11): the plane
    * family is md5-derived integers on the 1e-6 grid
    * ([[graft.functions.Md5HyperplaneLshExpr]]), so every bucket bit, the
    * candidate set, and the exact-integer cosine rerank are reproducible
    * arithmetic in DuckDB — no seeds, no engine hashes. 6 planes × 8
    * tables: 64 buckets per table keeps candidate generation ~16× under
    * brute force at sf0.1 (recall still driver-verified by
    * `i3_lsh_recall_gate`; 8 planes × 4 tables measured 0.056 rank-1 —
    * random-ish embeddings need the flatter S-curve of fewer planes +
    * more tables). */
  def lshAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.lshTopK(e, "vec_id", "embedding", k = 5, nPlanes = 6, nTables = 8,
      hashFamily = "md5")
  }

  /** Oracle twin of [[Similarity.lshTopK]] under the md5 plane family:
    * recompute the 32-bit md5 weight w(table, plane, i) per dimension,
    * sign-bit buckets per table, same-bucket candidates in ANY table, then
    * the shared exact quantized-cosine rerank (the `i3_ivf_ann_topk`
    * fl/nr idiom). `planesSrc` is a one-row CTE body producing the plane
    * count `p` — a literal for the fixed row, the corpus-count clamp for
    * the auto row. */
  private def lshTopKSqlWith(nTables: Int, planesSrc: String) = {
    val wVal = Relational.hexValSql("'lsh:' || t.t || ':' || j.j || ':' || (d.i - 1)", 1)
    s"""WITH $cosineFeatureCtes,
      |dims AS (SELECT DISTINCT i FROM fl),
      |pl AS ($planesSrc),
      |js AS (SELECT unnest(range(p)) AS j FROM pl),
      |w AS (
      | SELECT t.t, j.j, d.i, $wVal % 20011 - 10005 AS w
      | FROM range($nTables) t(t), js j, dims d),
      |dots AS (
      | SELECT f.vec_id, w.t, w.j, SUM(f.e * w.w) AS dot
      | FROM fl f JOIN w ON w.i = f.i GROUP BY 1, 2, 3),
      |buckets AS (
      | SELECT vec_id, t,
      |  SUM(CASE WHEN dot >= 0 THEN 1 << j ELSE 0 END) AS bucket
      | FROM dots GROUP BY 1, 2),
      |cand AS (
      | SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      | FROM buckets a JOIN buckets b
      |  ON b.t = a.t AND b.bucket = a.bucket AND b.vec_id <> a.vec_id),
      |${candCosineRankSql("dot2")}""".stripMargin
  }

  private val lshAnnSql = lshTopKSqlWith(8, "SELECT 6 AS p")

  /** I3b-AUTO — the at-scale LSH default, oracle-pinned (round 12):
    * `lshTopK(nPlanes = 0)` sizes the plane family from the corpus count
    * so expected bucket occupancy stays ≤ [[graft.llm.Similarity.LshTargetOccupancy]]
    * — candidates stay ~occupancy·N (linear) at any corpus size, which is
    * how a production index actually grows (params ∝ log N; the fixed-
    * plane battery row is Θ(N²/2^p) by design, kept for oracle
    * comparability across sfs). planes = clamp(⌈log₂((n−1)/32)⌉+…, 4, 24)
    * is a pure function of n and the md5 family is engine-exact, so the
    * oracle recomputes the plane count (length(bin((n−1)//32)) — the
    * integer 64−nlz identity), every bucket bit, the candidate set, and
    * the exact rerank bit-for-bit. */
  def lshAutoAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.lshTopK(e, "vec_id", "embedding", k = 5, nPlanes = 0,
      nTables = 4, hashFamily = "md5")
  }

  private val lshAutoAnnSql = lshTopKSqlWith(4,
    "SELECT LEAST(24, GREATEST(4, length(bin(GREATEST(1, (COUNT(*) - 1) // 32))))) AS p FROM embeddings")

  /** I5a — heuristic language ID. */
  def langId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("pred_lang"))

  private def stopwordPattern(code: String): String =
    TextAnalysis.stopwordTable(code).map(w => s"\\b$w\\b").mkString("|")

  private val langIdSql = {
    def hits(code: String) =
      s"len(regexp_extract_all(lower(text), '${stopwordPattern(code)}'))"
    val Seq(de, en, es, fr) = Seq("de", "en", "es", "fr").map(hits)
    // null text classifies 'und' (no hits — the engine's pinned kernel
    // behavior, LlmSpec); without the explicit branch every comparison
    // below is NULL and DuckDB falls through to the ELSE arm ('fr')
    s"""SELECT doc_id,
       | CASE WHEN text IS NULL THEN 'und'
       |  WHEN $de + $en + $es + $fr = 0 THEN 'und'
       |  WHEN $de >= $en AND $de >= $es AND $de >= $fr THEN 'de'
       |  WHEN $en >= $es AND $en >= $fr THEN 'en'
       |  WHEN $es >= $fr THEN 'es'
       |  ELSE 'fr' END AS pred_lang
       |FROM documents""".stripMargin
  }

  /** I5b — quality scoring (length, punctuation, stopword signals). */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars_text"),
      TextAnalysis.tokenCount(col("text")).as("n_words"),
      TextAnalysis.meanWordLength(col("text")).as("mean_word_len"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))

  /** The quality-score oracle, parameterized over the relation and text
    * column so composed pipelines (i6_curation_v2) can score CLEANED text
    * with the exact same formula. */
  private def qualitySqlOver(rel: String, t: String): String = {
    val allStop = TextAnalysis.stopwordTable.values.flatten.toSeq
      .map(w => s"\\b$w\\b").mkString("|")
    // Null text must yield NULL mean_word_len/punct_ratio/quality here too:
    // DuckDB's LEAST skips NULL operands (a null component would silently
    // score perfect), so the null branch is explicit, matching the Spark
    // kernels' null-propagation in TextAnalysis.
    s"""SELECT doc_id,
       | LENGTH($t) AS n_chars_text,
       | LEN(regexp_split_to_array($t, ' +')) AS n_words,
       | CASE WHEN $t IS NULL THEN NULL
       |   WHEN LEN(regexp_split_to_array($t, ' +')) > 0 THEN
       |   CAST(LIST_SUM([LENGTH(w) FOR w IN regexp_split_to_array($t, ' +')]) AS DOUBLE)
       |     / LEN(regexp_split_to_array($t, ' +')) ELSE 0.0 END AS mean_word_len,
       | CASE WHEN $t IS NULL THEN NULL
       |   WHEN LENGTH($t) > 0 THEN
       |   CAST(LENGTH($t) - LENGTH(regexp_replace($t, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |     / LENGTH($t) ELSE 0.0 END AS punct_ratio,
       | CASE WHEN $t IS NULL THEN NULL ELSE
       | (LEAST(CAST(LENGTH($t) AS DOUBLE) / 500.0, 1.0)
       |  + (1.0 - LEAST((CASE WHEN LENGTH($t) > 0 THEN
       |      CAST(LENGTH($t) - LENGTH(regexp_replace($t, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |        / LENGTH($t) ELSE 0.0 END) * 5.0, 1.0))
       |  + LEAST(CAST(len(regexp_extract_all(lower($t), '$allStop')) AS DOUBLE) / 10.0, 1.0)
       | ) / 3.0 END AS quality
       |FROM $rel""".stripMargin
  }

  private val qualityScoreSql = qualitySqlOver("documents", "text")

  /** I5c — token counting: whitespace + BPE-ish regex. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.regexTokenCount(col("text")).as("re_tokens"))

  private val tokenCountsSql =
    """SELECT doc_id,
      | LEN(regexp_split_to_array(text, ' +')) AS ws_tokens,
      | LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
      |FROM documents""".stripMargin

  /** I5i — language-ID confusion matrix against the fixture's labels: the
    * model-eval step that validates a classifier heuristic before it
    * gates a corpus (the fixture's `lang` column is ground truth; `zh` has
    * no stopword table, so its row pins the classifier's und/abstain
    * behavior on out-of-model languages). One scan, one vocabulary-sized
    * aggregate. */
  def langIdConfusion(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang").as("true_lang"),
        TextAnalysis.langId(col("text")).as("pred_lang"))
      .agg(count(lit(1)).as("n"))

  private val langIdConfusionSql =
    s"""WITH pred AS ($langIdSql)
       |SELECT d.lang AS true_lang, pred.pred_lang, COUNT(*) AS n
       |FROM documents d JOIN pred ON pred.doc_id = d.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** I5f — vocabulary frequency-of-frequencies (Zipf/hapax histogram). */
  def vocabStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabStats(Tables.documents(s, d), "text")

  private val vocabStatsSql =
    """WITH tok AS (
      | SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word
      | FROM documents),
      |wc AS (SELECT word, COUNT(*) AS cnt FROM tok WHERE word <> '' GROUP BY word)
      |SELECT cnt AS freq, COUNT(*) AS n_types FROM wc GROUP BY cnt""".stripMargin

  /** I5g — salient term per doc (integer-safe TF-IDF analogue). */
  def salientTerms(s: SparkSession, d: String): DataFrame =
    TextAnalysis.salientTerms(Tables.documents(s, d), "doc_id", "text")
      .withColumnRenamed("doc", "doc_id")

  private val salientTermsSql =
    """WITH tok0 AS (
      | SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS word
      | FROM documents),
      |tok AS (SELECT doc_id, word FROM tok0 WHERE word <> ''),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
      |dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word),
      |ranked AS (
      | SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
      |  ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |    ORDER BY tf.tf DESC, dfreq.df ASC, tf.word ASC) AS rk
      | FROM tf JOIN dfreq ON tf.word = dfreq.word)
      |SELECT doc_id, word AS salient, tf, df FROM ranked WHERE rk = 1""".stripMargin

  /** I5h — global bigram LM counts, deterministic top-50. */
  def bigramLm(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramCounts(Tables.documents(s, d), "text", topK = 50)

  private val bigramLmSql =
    """WITH b AS (
      | SELECT z[1] AS w1, z[2] AS w2 FROM (
      |  SELECT unnest(list_zip(words[1:-2], words[2:-1])) AS z
      |  FROM (SELECT regexp_split_to_array(trim(text), ' +') AS words
      |        FROM documents)))
      |SELECT w1, w2, COUNT(*) AS n FROM b GROUP BY w1, w2
      |ORDER BY n DESC, w1, w2 LIMIT 50""".stripMargin

  /** I5h — bigram-LM document scoring: how "in-distribution" each document
    * is under the corpus's own bigram model (the cheap perplexity stand-in
    * a curation pipeline uses to rank outliers). See
    * [[TextAnalysis.lmScore]] for why the score is an aggregate Laplace
    * ratio of exact BIGINTs rather than a float log-prob sum. */
  def lmScore(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text")

  private val lmScoreSql =
    """WITH toks AS (
      | SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
      | FROM documents),
      |db AS (
      | SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM (
      |  SELECT doc_id, unnest(list_zip(ws[1:-2], ws[2:-1])) AS z FROM toks)),
      |bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM db GROUP BY 1, 2),
      |uni AS (SELECT w1, COUNT(*) AS c1 FROM db GROUP BY 1),
      |vsz AS (SELECT COUNT(DISTINCT w) AS v
      |        FROM (SELECT unnest(ws) AS w FROM toks)),
      |agg AS (
      | SELECT d.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(b.c2 + 1) AS BIGINT) AS hits,
      |  CAST(SUM(u.c1) AS BIGINT) AS ctx_raw
      | FROM db d
      | JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
      | JOIN uni u ON d.w1 = u.w1
      | GROUP BY 1)
      |SELECT doc.doc_id, a.n_bigrams, a.hits,
      | a.ctx_raw + a.n_bigrams * v.v AS ctx,
      | CAST(a.hits AS DOUBLE) / CAST(a.ctx_raw + a.n_bigrams * v.v AS DOUBLE)
      |   AS score
      |FROM documents doc
      |LEFT JOIN agg a ON doc.doc_id = a.doc_id
      |CROSS JOIN vsz v""".stripMargin

  /** I7b-spans — contamination positions: maximal word-index runs of
    * benchmark 8-gram overlap per corpus doc (same split as
    * i7_decontamination: doc_id % 50 == 0 is the eval set). See
    * [[Decontamination.contaminatedSpans]]. */
  def decontamSpans(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontamination.contaminatedSpans(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 8)
  }

  private val decontamSpansSql =
    """WITH w AS (
      | SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents),
      |g AS (
      | SELECT doc_id, unnest([{'i': i, 'gram': array_to_string(ws[i:i+7], ' ')}
      |   for i in range(1, len(ws)-6)]) AS e
      | FROM w WHERE len(ws) >= 8),
      |pos AS (SELECT doc_id, CAST(e.i AS INT) AS i, e.gram AS gram FROM g),
      |bench AS (SELECT DISTINCT gram FROM pos WHERE doc_id % 50 = 0),
      |m AS (
      | SELECT p.doc_id, p.i FROM pos p JOIN bench USING (gram)
      | WHERE p.doc_id % 50 <> 0),
      |isl AS (
      | SELECT doc_id, i,
      |  CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 8
      |       THEN 0 ELSE 1 END AS brk
      | FROM m),
      |grp AS (
      | SELECT doc_id, i, SUM(brk) OVER (
      |   PARTITION BY doc_id ORDER BY i
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      | FROM isl)
      |SELECT doc_id, MIN(i) AS word_start, MAX(i) + 7 AS word_end,
      | COUNT(*) AS n_grams
      |FROM grp GROUP BY doc_id, island""".stripMargin

  /** I2g — exact-substring duplicated spans: maximal ≥50-char regions that
    * occur elsewhere in the corpus, per document — the span-level exact
    * dedup a curation pipeline runs to CUT boilerplate instead of dropping
    * documents. See [[Dedup.duplicatedSpans]]. */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text", k = 50)

  // the SELECT over the shared span CTE chain — one definition of "what a
  // duplicated span is" feeds i2_dup_spans, i2_span_cut AND i6_curation_v2
  // (lazy: spanCleanCtes is declared further down the file)
  private lazy val dupSpansSql =
    s"""WITH $spanCleanCtes
       |SELECT doc_id, span_start, span_end, n_shingles FROM spans""".stripMargin

  /** I2g — span-cut: rebuild every document with its duplicated spans
    * excised; the oracle hash-compares the cleaned text's md5, so the
    * entire cut-and-concat surgery must agree byte-for-byte with DuckDB's
    * segment reconstruction. See [[Dedup.cutDuplicatedSpans]]. */
  def spanCut(s: SparkSession, d: String): DataFrame =
    Dedup.cutDuplicatedSpans(Tables.documents(s, d), "doc_id", "text", k = 50)

  /** The duplicated-span → cleaned-text CTE chain (mirrors
    * [[Dedup.cleanedText]]), shared by the span-cut oracle and the
    * composed curation-v2 oracle. Ends with `cleaned(doc_id, text, ctext)`
    * covering EVERY document (no-span docs pass through). */
  private val spanCleanCtes =
    """p AS (
      | SELECT doc_id, text,
      |  CAST(unnest(generate_series(1, length(text)-49)) AS INT) AS pos
      | FROM documents WHERE length(text) >= 50),
      |sh AS (SELECT doc_id, pos, substr(text, pos, 50) AS s FROM p),
      |dup AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > 1),
      |m AS (SELECT doc_id, pos FROM sh WHERE s IN (SELECT s FROM dup)),
      |isl AS (
      | SELECT doc_id, pos,
      |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 50
      |       THEN 0 ELSE 1 END AS brk
      | FROM m),
      |g AS (
      | SELECT doc_id, pos, SUM(brk) OVER (
      |   PARTITION BY doc_id ORDER BY pos
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      | FROM isl),
      |spans AS (
      | SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 49 AS span_end,
      |  COUNT(*) AS n_shingles
      | FROM g GROUP BY doc_id, island),
      |seg AS (
      | SELECT s.doc_id, d.text,
      |  coalesce(lag(s.span_end) OVER (
      |    PARTITION BY s.doc_id ORDER BY s.span_start), 0) + 1 AS a,
      |  s.span_start - 1 AS b
      | FROM spans s JOIN documents d USING (doc_id)
      | UNION ALL
      | SELECT s.doc_id, any_value(d.text), MAX(s.span_end) + 1,
      |  MAX(length(d.text))
      | FROM spans s JOIN documents d USING (doc_id) GROUP BY s.doc_id),
      |cut AS (
      | SELECT doc_id,
      |  string_agg(CASE WHEN b >= a THEN substr(text, a, b - a + 1)
      |             ELSE '' END, '' ORDER BY a) AS ctext
      | FROM seg GROUP BY doc_id),
      |cleaned AS (
      | SELECT d.doc_id, d.text, coalesce(c.ctext, d.text) AS ctext
      | FROM documents d LEFT JOIN cut c USING (doc_id))""".stripMargin

  private val spanCutSql =
    s"""WITH $spanCleanCtes
       |SELECT doc_id, length(ctext) AS clean_len, md5(ctext) AS clean_md5
       |FROM cleaned""".stripMargin

  /** I6c — curation v2, the span-cut composition: language-filter on the
    * ORIGINAL text (cutting boilerplate doesn't change a document's
    * language), excise duplicated spans, quality-score the CLEANED text,
    * exact-dedup on cleaned content (cutting shared boilerplate can make
    * near-dups exactly equal — precisely when dedup should fire), and
    * split deterministically on the cleaned text. Pins the composition:
    * score-after-cut ordering, dedup keyed on the post-cut bytes, and
    * split stability under the surgery. */
  def curationV2(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // keepOriginal: the language gate scores the PRE-cut text, which the
    // span-surgery join already carries — the old second documents join
    // (and its broadcast exchange) added a 4th scan of the corpus for a
    // column that was one projection away (round-15 plan audit)
    val cleaned = Dedup.cleanedText(docs, "doc_id", "text", k = 50,
      keepOriginal = true)
    val scored = cleaned
      .repartition(graft.llm.Par.of(docs))
      .select(col("doc_id"), col("clean"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("clean")).as("quality"))
    // NONDETERMINISTIC filter fence, not a fence COLUMN: the round-15 plan
    // audit caught the executed plan re-inlining the whole clean-text
    // aggregate fold ~8x inside a pushed-down quality predicate — the
    // `__fence` column pattern fences nothing here because nothing
    // downstream consumes the column, so ColumnPruning drops it before
    // PushDownPredicates runs. A nondeterministic predicate cannot be
    // pushed through anything, so the fold and both kernels evaluate
    // exactly once in the projection above.
    val kept = scored.filter(
      KeepNoPushdown(col("lang") === "en" && col("quality") >= 0.5))
    Dedup.exactDedup(kept.select(col("doc_id"), col("clean"), col("quality")),
      "doc_id", "clean")
      .select(col("doc_id"), length(col("clean")).as("clean_len"),
        col("quality"), Sampling.splitLabel(col("clean")).as("split"))
  }

  /** Boolean-identity filter fence (the `NonNegativeNoPushdown` pattern):
    * nondeterministic, so `PushDownPredicates` can never substitute the
    * fenced predicate's expensive alias trees below the projection that
    * computes them. Null-safe: null keeps nothing, exactly like a plain
    * filter. */
  private val KeepNoPushdown: Column => Column = {
    val keep = udf((b: java.lang.Boolean) => b != null && b.booleanValue())
      .asNondeterministic()
    c => keep(c)
  }

  private val curationV2Sql =
    s"""WITH $spanCleanCtes,
       |lang AS ($langIdSql),
       |q AS (${qualitySqlOver("cleaned", "ctext")}),
       |joined AS (
       | SELECT cl.doc_id, cl.ctext, q.quality
       | FROM cleaned cl
       | JOIN lang ON lang.doc_id = cl.doc_id
       | JOIN q ON q.doc_id = cl.doc_id
       | WHERE lang.pred_lang = 'en' AND q.quality >= 0.5),
       |dedup AS (
       | SELECT doc_id, ctext, quality,
       |  ROW_NUMBER() OVER (PARTITION BY md5(ctext) ORDER BY doc_id) AS rn
       | FROM joined)
       |SELECT doc_id, length(ctext) AS clean_len, quality,
       | ${splitSql("ctext")} AS split
       |FROM dedup WHERE rn = 1""".stripMargin

  /** I6d — the per-source data card: the summary table a dataset release
    * ships (and the first thing a curation review reads). Counts only —
    * every metric is an integer aggregate of already-oracle-checked
    * kernels (lang-ID, quality, PII, content-hash dup, split), so the card
    * is deterministic with no float-mean drift. One scan evaluates every
    * kernel once per row; the content-hash dup side joins back on md5. */
  /** I6n — temperature (α=0.5) mixture resampling: the multi-source
    * rebalancing knob of multilingual/multi-corpus pretraining (Conneau &
    * Lample 2019, arXiv:1901.07291 exponentiated-share sampling; the
    * GPT-3 weighted mix is the hand-set version). Target share ∝ N_s^α,
    * achieved by keep-rate ∝ N_s^(α-1): with α=0.5, rate_s =
    * sqrt(N_min/N_s) — the smallest source keeps everything, a 16×
    * bigger one keeps 1/4. N_s is TOKENS per source, not docs.
    *
    * Cross-engine determinism is the design constraint: rates normalize
    * PAIRWISE against N_min (exact integer) instead of against
    * Σ_s sqrt(N_s) — a 20-term double sum whose value depends on
    * summation order, which no engine promises. One integer division,
    * one correctly-rounded sqrt, one multiply, one floor: bit-identical
    * everywhere. Membership is the md5-bucket-of-content rule shared
    * with `i6_mixture_sample`/`i6_dataset_split` (pure in content —
    * stable under re-runs, repartitions, engine swaps), at 1/10000
    * granularity.
    *
    * Scale shape: one partial-agg token-count pass (|sources| rows out),
    * rates broadcast back, then a codegen'd scan filter — nothing
    * data-sized crosses a shuffle. */
  def temperatureMixture(s: SparkSession, d: String): DataFrame =
    temperatureMixtureOver(Tables.documents(s, d))

  private[graft] def temperatureMixtureOver(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"), col("source"), col("text"),
      coalesce(TextAnalysis.tokenCount(col("text")).cast("long"), lit(0L))
        .as("tok"))
    val rates = graft.llm.IncrementalCuration.mixtureRates(
      toks.groupBy(col("source")).agg(sum(col("tok")).as("ns")))
    toks.join(broadcast(rates), Seq("source"))
      .filter(Sampling.hashBucket(col("text"), 10000) < col("keep_threshold"))
      .select(col("doc_id"), col("source"), col("keep_threshold"))
  }

  /** Temperature-mixture CTE chain + final select over `rel` (names
    * suffixed `2` so the chain composes after the canonical-keep CTEs in
    * i6_curation_v4 without collisions). */
  private def temperatureCtesOver(rel: String) =
    s"""t2 AS (
      | SELECT doc_id, source, text,
      |  CAST(COALESCE(LEN(regexp_split_to_array(text, ' +')), 0) AS BIGINT)
      |   AS tok
      | FROM $rel),
      |s2 AS (SELECT source, CAST(SUM(tok) AS BIGINT) AS ns FROM t2 GROUP BY 1),
      |m2 AS (SELECT MIN(ns) AS nmin FROM s2),
      |r2 AS (SELECT source,
      |  CAST(FLOOR(SQRT(CAST(nmin AS DOUBLE) / CAST(ns AS DOUBLE)) * 10000)
      |   AS INT) AS keep_threshold
      | FROM s2, m2)""".stripMargin

  private val temperatureSelectSql =
    s"""SELECT t2.doc_id, t2.source, r2.keep_threshold
      |FROM t2 JOIN r2 ON t2.source = r2.source
      |WHERE ${bucketSql("t2.text", 10000)} < r2.keep_threshold""".stripMargin

  private val temperatureMixtureSql =
    s"""WITH ${temperatureCtesOver("documents")}
      |$temperatureSelectSql""".stripMargin

  /** I6o — curation v4: the session-11 operators composed end to end —
    * exact dedup (min-id per content hash; null text can't be a content
    * dup and passes through) → canonical near-dup selection (the
    * highest-QUALITY copy per component survives, [[canonicalKeepOver]])
    * → temperature (α=0.5) mixture over the SURVIVORS (rates derive from
    * post-dedup token masses — running the mixture before dedup would
    * let duplicate mass inflate a source's share, exactly the ordering
    * bug this composed oracle would catch). Output = the final corpus
    * rows (doc_id, source, keep_threshold). */
  def curationV4(s: SparkSession, d: String): DataFrame =
    curationV4Over(Tables.documents(s, d).filter(anchorSlice))

  private[graft] def curationV4Over(docs: DataFrame): DataFrame =
    curationWith(docs, canonicalKeepOver)

  /** I6p — curation v5: the same exact-dedup → canonical-keep →
    * temperature-mixture composition as v4, with the near-dup stage on
    * the BLOCKED pair substrate ([[canonicalKeepBlockedOver]], w·N
    * sorted-neighborhood candidates) instead of the exact word-3-gram
    * pair tier. The exact tier's pair volume
    * is the battery's one measured scale-killer (~1.65 exponent at 16×
    * on the bounded-vocabulary fixture), while the blocked tier's
    * candidate count is linear by construction. Fully composed DuckDB
    * oracle — the blocked candidates are a pure function of the data.
    * Round 12 demoted this from the default composition: prefix blocking
    * misses prefix-divergent near-dups (500/550 keep-agreement on the
    * perturbed corpus) — [[curationV6Over]] (LSH substrate) is the
    * documented 100 TB default now. */
  def curationV5(s: SparkSession, d: String): DataFrame =
    curationV5Over(Tables.documents(s, d).filter(anchorSlice))

  private[graft] def curationV5Over(docs: DataFrame): DataFrame =
    curationWith(docs, canonicalKeepBlockedOver)

  private def curationWith(docs: DataFrame,
      keepStage: DataFrame => DataFrame): DataFrame = {
    // pin at each stage boundary: downstream stages fan out
    // over their input (pairs + components + quality + mixture stats), so
    // an unpinned plan re-expands the dedup window under every consumer —
    // measured 21 planned shuffles vs 7 pinned. Same materialize-once
    // rationale as ConnectedComponents.minLabel's edge checkpoint.
    val exact = docs
      .withColumn("__rep",
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      .filter(col("text").isNull || col("doc_id") === col("__rep"))
      .drop("__rep")
      .transform(Checkpoints.pin)
    val keepers = keepStage(exact)
      .filter(col("keep")).select("doc_id")
    // the survivor pin materializes eagerly here, so `exact` has no live
    // consumers left — release its blocks now; the survivor pin feeds the
    // lazily consumed result and lives as long as the enclosing scope
    val surv = exact.join(keepers, Seq("doc_id")).transform(Checkpoints.pin)
    Checkpoints.release(exact)
    temperatureMixtureOver(surv)
  }

  /** The oracle twin of [[curationWith]]: exact dedup (min id per content
    * hash) → the `keepCtes` canonical-keep chain over the survivors →
    * temperature mixture over the kept rows. `sliced` runs it on the
    * anchor slice, as the v4/v5 rows do. */
  private def curationSql(sliced: Boolean, keepCtes: String => String) = {
    val (slice, rel) = if (sliced) (s"$anchorSliceCte,\n", "docs2") else ("", "documents")
    s"""WITH RECURSIVE ${slice}exact AS MATERIALIZED (
      | SELECT doc_id, text, lang, source, n_chars FROM (
      |  SELECT doc_id, text, lang, source, n_chars,
      |   MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
      |  FROM $rel)
      | WHERE text IS NULL OR doc_id = rep),
      |${keepCtes("exact")},
      |surv AS MATERIALIZED (
      | SELECT e.doc_id, e.source, e.text FROM exact e
      | JOIN x ON x.doc_id = e.doc_id
      | JOIN keepid k ON k.component = x.component
      |  AND e.doc_id = k.keep_id),
      |${temperatureCtesOver("surv")}
      |$temperatureSelectSql""".stripMargin
  }

  private val curationV4Sql = curationSql(sliced = true, canonicalKeepCtesOver)

  private val curationV5Sql = curationSql(sliced = true, canonicalKeepBlockedCtesOver)

  /** I6q — curation v6: the same exact-dedup → canonical-keep →
    * temperature-mixture composition as v4/v5, with the near-dup stage on
    * the LSH-VERIFIED pair substrate ([[canonicalKeepLshOver]]). The
    * round-12 100 TB default: v5's sorted-neighborhood blocking is also
    * linear, but its recall rides the 24-char prefix sort — a near-dup
    * whose copy rotated its first sentence or gained a leading token
    * scatters out of the neighborhood (measured on the prefix-perturbed
    * corpus, LlmSpec), while MinHash band collision depends only on
    * content overlap. Fully composed DuckDB oracle — the md5 family makes
    * the candidate set a pure function of the data. */
  def curationV6(s: SparkSession, d: String): DataFrame =
    curationV6Over(Tables.documents(s, d))

  private[graft] def curationV6Over(docs: DataFrame): DataFrame =
    curationWith(docs, canonicalKeepLshOver)

  private val curationV6Sql = curationSql(sliced = false, canonicalKeepLshCtesOver)

  /** Measured persisted-LR accuracy on the v7 INCREMENT (loaded model
    * scoring the diff's added+changed docs, 2026-08-16;
    * BASELINE.md "Session-15: v7 incremental-curation serve cost"): 0.950 / 0.949 / 0.947 at sf 0.001/0.01/0.1 (increment
    * sizes 40/59/509). The conservative floor also covers fuzz corpora
    * (unknown sf tag): increments are small samples, so it sits well
    * under the measured ~5% per-doc error rate's worst plausible draw. */
  private[graft] val V7AccFloors =
    Map("0.001" -> 0.85, "0.01" -> 0.85, "0.1" -> 0.85)

  /** I6r — curation v7, the INCREMENTAL composition
    * ([[graft.llm.IncrementalCuration]]): increment N+1 flows
    * snapshot-diff → near-dedup against the PERSISTED band index
    * (first-seen-wins; retired old versions excluded from the probe) →
    * within-batch exact dedup → persisted-model LR quality gate
    * ([[graft.llm.ModelStore]] round-trip) → temperature-mixture/split
    * membership with rates from the PERSISTED source stats updated at
    * increment cost. One row per increment doc with the full verdict.
    *
    * Snapshot B derives deterministically from the fixture corpus so both
    * engines construct it bit-identically: content-bucket < 5 docs get
    * " rev2" appended (changed), buckets [5,10) drop (removed), buckets
    * [95,97) re-key verbatim (added exact near-dups — must flag `is_dup`
    * against the index), buckets ≥ 97 re-key with fresh hash-derived text
    * (genuinely new docs — must survive). Every column is oracle-exact
    * except `quality_gate_met`, pinned true like `i5_lr_quality_gate`
    * (the oracle cannot re-run 200 GD iterations; a diverged model or a
    * broken ModelStore round-trip flips the column and breaks the hash).
    *
    * Scale: the per-increment path is increment-sized end to end — band
    * probe and verify read the bucketed stored side exchange-free, stats
    * update probes docToks by broadcast id set, the gate scores only the
    * increment. The corpus-sized steps (state build, snapshot diff) are
    * the amortized/one-off legs, measured separately
    * (BASELINE.md "Session-15: v7 incremental-curation serve cost"). */
  /** The deterministic v7 snapshot-B derivation over snapshot A (the raw
    * fixture corpus); the gate accuracy recorded in
    * BASELINE.md "Session-15: v7 incremental-curation serve cost" was measured on exactly this increment. */
  private[graft] def v7SnapshotB(a: DataFrame): DataFrame = {
    def bucket = Sampling.hashBucket(col("text"))
    val freshText = concat(lit("fresh doc "), md5(col("text")), lit(" "),
      reverse(md5(col("text"))))
    a.filter(bucket < 5)
      .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"),
        col("source"))
      .unionByName(a.filter(bucket >= 10)
        .select(col("doc_id"), col("text"), col("source")))
      .unionByName(a.filter(bucket >= 95 && bucket < 97)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("source")))
      .unionByName(a.filter(bucket >= 97)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          freshText.as("text"), col("source")))
  }

  def curationV7Incremental(s: SparkSession, d: String): DataFrame = {
    val a = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    // the state build + snapshot diff are the operator's AMORTIZED legs
    // (in production the state exists and the crawler delivers the
    // increment) — memoized per sfDir so repeated executions (Bench's
    // warmup + 3 timed passes) measure the per-increment SERVE path, the
    // production-meaningful number; the build/serve split is recorded
    // separately (BASELINE.md "Session-15: v7 incremental-curation serve
    // cost"). The diff products stay pinned (localCheckpoint): increment
    // and retired set are batch-sized, and every downstream stage (probe,
    // verify, batch-exact window, stats delta, gate) consumes them — unpinned, the full-outer diff and the
    // four-branch snapshot derivation re-expand under each consumer
    // (measured 46 planned shuffles vs 13 pinned).
    val (state, inc, retired) = StateOnce.once("i6_v7_state", d) {
      val t = StateOnce.tag(d)
      val st = IncrementalCuration.StateTables(
        s"graft_i6_v7_bands_$t", s"graft_i6_v7_feats_$t",
        s"graft_i6_v7_doctoks_$t", s"graft_i6_v7_srcstats_$t",
        s"graft_i6_v7_tombstones_$t", s"graft_i6_v7_meta_$t",
        new java.io.File(sys.props("java.io.tmpdir"), s"graft_i6_v7_lr_$t")
          .toString)
      IncrementalCuration.buildState(a, "doc_id", "text", "source", st)
      val b = v7SnapshotB(a)
      val diff = Snapshots.diff(a, b, "doc_id", "text")
      (IncrementalCuration.loadState(s, st),
        b.join(diff.filter(col("change_type").isin("added", "changed")),
          Seq("doc_id")).transform(Checkpoints.pin),
        diff.filter(col("change_type").isin("removed", "changed"))
          .select("doc_id").transform(Checkpoints.pin))
    }
    IncrementalCuration.processIncrement(state, inc, retired,
      "doc_id", "text", "source",
      accFloor = floorFor(V7AccFloors, d, conservative = 0.8))
      .join(inc.select(col("doc_id"), col("change_type")), Seq("doc_id"))
      .select(col("doc_id"), col("change_type"), col("is_batch_exact_dup"),
        col("n_matches"), col("best_match"), col("best_jaccard"),
        col("is_dup"), col("split"), col("keep_threshold"), col("mix_keep"),
        col("quality_gate_met"), col("curated_in"))
  }

  private lazy val curationV7Sql = {
    def bandCtes(p: String, rel: String) =
      s"""${p}csh AS (SELECT doc_id,
        |  list_distinct([substr(text, i, 5) for i in range(1, len(text) - 3)]) AS sh
        | FROM $rel WHERE len(text) >= 5),
        |${p}hv AS (SELECT doc_id, [${mhHex("s", 1)} % 2147483647 for s in sh] AS hv
        | FROM ${p}csh),
        |${p}sig AS (SELECT doc_id,
        |  [list_min([((2*j + 1) * h + (j * 2654435761) % 2147483647)
        |     % 2147483647 for h in hv]) for j in range(0, 64)] AS sig
        | FROM ${p}hv),
        |${p}bands AS (SELECT doc_id, j AS band_idx,
        |  array_to_string(list_slice(sig, j*4 + 1, j*4 + 4), ',') AS band
        | FROM ${p}sig, range(16) t(j))""".stripMargin
    def wshCtes(p: String, rel: String) =
      s"""${p}w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w
        | FROM $rel WHERE text IS NOT NULL),
        |${p}wsh AS (
        | SELECT doc_id, $wordShinglesSql AS s
        | FROM ${p}w WHERE len(w) >= 3)""".stripMargin
    s"""WITH bkt AS (
      | SELECT doc_id, text, source, ${bucketSql("text")} AS bucket
      | FROM documents),
      |b AS (
      | SELECT doc_id, text || ' rev2' AS text, source FROM bkt
      |  WHERE bucket < 5
      | UNION ALL SELECT doc_id, text, source FROM bkt WHERE bucket >= 10
      | UNION ALL SELECT doc_id + 1000000, text, source FROM bkt
      |  WHERE bucket >= 95 AND bucket < 97
      | UNION ALL SELECT doc_id + 1000000,
      |   'fresh doc ' || md5(text) || ' ' || reverse(md5(text)), source
      |  FROM bkt WHERE bucket >= 97),
      |dif AS (
      | SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN md5(a.text) IS DISTINCT FROM md5(b.text) THEN 'changed'
      |       ELSE 'unchanged' END AS change_type
      | FROM documents a FULL OUTER JOIN b ON b.doc_id = a.doc_id),
      |inc AS (SELECT b.doc_id, b.text, b.source, dif.change_type
      | FROM b JOIN dif ON dif.doc_id = b.doc_id
      | WHERE dif.change_type IN ('added', 'changed')),
      |live AS (SELECT doc_id, text FROM documents
      | WHERE doc_id NOT IN (SELECT doc_id FROM dif
      |   WHERE change_type IN ('removed', 'changed'))),
      |${bandCtes("a", "live")},
      |${bandCtes("i", "inc")},
      |cand AS (
      | SELECT DISTINCT q.doc_id AS doc_q, t.doc_id AS doc_b
      | FROM ibands q JOIN abands t ON q.band_idx = t.band_idx
      |  AND q.band = t.band),
      |${wshCtes("a", "live")},
      |${wshCtes("i", "inc")},
      |j AS (
      | SELECT doc_q, doc_b,
      |  $setJaccardSql AS jac
      | FROM cand
      | JOIN iwsh sa ON sa.doc_id = doc_q
      | JOIN awsh sb ON sb.doc_id = doc_b
      | WHERE $setJaccardSql >= 0.5),
      |$verdictCtesSql,
      |bed AS (SELECT doc_id, text IS NOT NULL
      |  AND doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))
      |  AS is_batch_exact_dup FROM inc),
      |s2 AS (SELECT * FROM (
      | SELECT source,
      |  CAST(SUM(CAST(COALESCE(LEN(regexp_split_to_array(text, ' +')), 0)
      |   AS BIGINT)) AS BIGINT) AS ns
      | FROM b GROUP BY 1) WHERE ns > 0),
      |m2 AS (SELECT MIN(ns) AS nmin FROM s2),
      |r2 AS (SELECT source,
      |  CAST(FLOOR(SQRT(CAST(nmin AS DOUBLE) / CAST(ns AS DOUBLE)) * 10000)
      |   AS INT) AS keep_threshold
      | FROM s2, m2)
      |SELECT i.doc_id, i.change_type, bed.is_batch_exact_dup,
      | CAST(COALESCE(v.n_matches, 0) AS BIGINT) AS n_matches,
      | bm.best_match, v.best_jaccard,
      | v.doc_q IS NOT NULL AS is_dup,
      | ${splitSql("i.text")} AS split,
      | r2.keep_threshold,
      | COALESCE(${bucketSql("i.text", 10000)} < r2.keep_threshold, false)
      |  AS mix_keep,
      | true AS quality_gate_met,
      | (NOT bed.is_batch_exact_dup AND v.doc_q IS NULL
      |   AND COALESCE(${bucketSql("i.text", 10000)} < r2.keep_threshold,
      |    false)) AS curated_in
      |FROM inc i
      |JOIN bed ON bed.doc_id = i.doc_id
      |LEFT JOIN v ON v.doc_q = i.doc_id
      |LEFT JOIN bm ON bm.doc_q = i.doc_id
      |LEFT JOIN r2 ON r2.source = i.source""".stripMargin
  }

  /** I6g — expectation audit (the Deequ-style pre-training data-quality
    * gate): named integrity checks over the fixture star schema, each one
    * exact-integer — primary-key uniqueness, referential containment
    * (orphan facts), not-null rate, value range, enum domain. One row per
    * check: (check_name, violations, passed). A pipeline promotes a
    * snapshot to training only when every `passed` is true; the oracle
    * recomputes every count, so a broken check breaks the hash.
    *
    * Scale shape: each check is one column-pruned scan + aggregate (the
    * orphan check an anti-join on the fact key); checks union into one
    * result, no cross-check dependency, trivially parallel. */
  def expectations(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val or = Tables.orders(s, d)
    val pkDupes = or.groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit("orders_pk_unique").as("check_name"), col("violations"))
    val orphans = li.select(col("l_orderkey"))
      .join(or.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("lineitem_fk_orders").as("check_name"), col("violations"))
    val nulls = li.agg(
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("violations"))
      .select(lit("lineitem_orderkey_not_null").as("check_name"),
        col("violations"))
    val range = li.agg(
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("violations"))
      .select(lit("lineitem_quantity_range").as("check_name"),
        col("violations"))
    val domain = li.agg(
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
        .as("violations"))
      .select(lit("lineitem_returnflag_domain").as("check_name"),
        col("violations"))
    pkDupes.unionByName(orphans).unionByName(nulls)
      .unionByName(range).unionByName(domain)
      .withColumn("passed", col("violations") === 0L)
  }

  private val expectationsSql =
    """SELECT 'orders_pk_unique' AS check_name,
      | CAST(COALESCE((SELECT COUNT(*) FROM (
      |   SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)), 0)
      |  AS BIGINT) AS violations,
      | COALESCE((SELECT COUNT(*) FROM (
      |   SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)), 0) = 0
      |  AS passed
      |UNION ALL
      |SELECT 'lineitem_fk_orders',
      | CAST((SELECT COUNT(*) FROM lineitem l
      |   WHERE NOT EXISTS (SELECT 1 FROM orders o
      |     WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
      | (SELECT COUNT(*) FROM lineitem l
      |   WHERE NOT EXISTS (SELECT 1 FROM orders o
      |     WHERE o.o_orderkey = l.l_orderkey)) = 0
      |UNION ALL
      |SELECT 'lineitem_orderkey_not_null',
      | CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT),
      | (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) = 0
      |UNION ALL
      |SELECT 'lineitem_quantity_range',
      | CAST((SELECT COUNT(*) FROM lineitem
      |   WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
      | (SELECT COUNT(*) FROM lineitem
      |   WHERE l_quantity < 1 OR l_quantity > 50) = 0
      |UNION ALL
      |SELECT 'lineitem_returnflag_domain',
      | CAST((SELECT COUNT(*) FROM lineitem
      |   WHERE l_returnflag NOT IN ('A','N','R')) AS BIGINT),
      | (SELECT COUNT(*) FROM lineitem
      |   WHERE l_returnflag NOT IN ('A','N','R')) = 0""".stripMargin

  def dataCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val contentCounts = docs
      .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
    val scored = docs
      .repartition(graft.llm.Par.of(docs))
      .select(col("source"), md5(col("text")).as("h"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        (Privacy.countMatches(col("text"), Privacy.EmailRe) +
          Privacy.countMatches(col("text"), Privacy.PhoneRe) +
          Privacy.countMatches(col("text"), Privacy.Ipv4Re)).as("n_pii"),
        Sampling.splitLabel(col("text")).as("split"))
    scored.join(contentCounts, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1).otherwise(0)).as("n_en"),
        sum(when(col("quality") >= 0.5, 1).otherwise(0)).as("n_quality_ok"),
        sum(when(col("n_pii") > 0, 1).otherwise(0)).as("n_pii_docs"),
        sum(when(col("c") > 1, 1).otherwise(0)).as("n_dup_docs"),
        sum(when(col("split") === "train", 1).otherwise(0)).as("n_train"),
        sum(when(col("split") === "val", 1).otherwise(0)).as("n_val"),
        sum(when(col("split") === "test", 1).otherwise(0)).as("n_test"))
  }

  private lazy val dataCardSql = {
    import graft.llm.Privacy.{EmailRe, Ipv4Re, PhoneRe}
    s"""WITH lang AS ($langIdSql),
       |q AS (${qualitySqlOver("documents", "text")}),
       |cc AS (SELECT md5(text) AS h, COUNT(*) AS c
       |       FROM documents GROUP BY 1),
       |j AS (
       | SELECT d.source, lang.pred_lang, q.quality, cc.c,
       |  len(regexp_extract_all(d.text, '$EmailRe'))
       |   + len(regexp_extract_all(d.text, '$PhoneRe'))
       |   + len(regexp_extract_all(d.text, '$Ipv4Re')) AS n_pii,
       |  ${splitSql("d.text")} AS split
       | FROM documents d
       | JOIN lang ON lang.doc_id = d.doc_id
       | JOIN q ON q.doc_id = d.doc_id
       | JOIN cc ON md5(d.text) = cc.h)
       |SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       | CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
       | CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
       | CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       | CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       | CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       | CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |FROM j GROUP BY source""".stripMargin
  }

  /** I2f — Levenshtein near-dup pairs blocked on `source` (the fixture's
    * categorical stand-in for an LSH-band blocking key; see
    * [[Dedup.editDistancePairs]] for the 100 TB candidate-then-verify
    * shape). Bounded 40-char prefixes keep the per-pair cost flat. */
  def editdistBlocked(s: SparkSession, d: String): DataFrame =
    Dedup.editDistancePairs(Tables.documents(s, d), "doc_id", "text",
      blockCol = "source", prefixLen = 40, maxDist = 24)

  private val editdistBlockedSql =
    """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      | levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS dist
      |FROM documents a JOIN documents b
      |  ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 24""".stripMargin

  /** I5d — rolling-hash document fingerprint (order-sensitive fold). */
  def fingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))

  private val fingerprintsSql =
    """SELECT doc_id,
      | CASE WHEN length(text) = 0 THEN 0 ELSE
      |  list_reduce([CAST(ascii(substr(text, i, 1)) AS BIGINT) for i in range(1, length(text)+1)],
      |   (acc, x) -> (acc * 31 + x) % 2147483647) END AS fp
      |FROM documents""".stripMargin

  /** The oracle's md5-bucket arithmetic: first 8 (lowercase) md5 hex
    * digits folded digit-by-digit into a BIGINT, mod 100 — the exact value
    * of Spark's `conv(substring(md5(c),1,8),16,10) % 100`. */
  private def bucketSql(col: String, nBuckets: Int = 100): String =
    s"${Relational.hexValSql(col, 1)} % $nBuckets"

  private def splitSql(col: String): String =
    s"""CASE WHEN ${bucketSql(col)} < 80 THEN 'train'
       | WHEN ${bucketSql(col)} < 90 THEN 'val'
       | ELSE 'test' END""".stripMargin

  /** I6k — snapshot diff between two corpus versions
    * ([[graft.llm.Snapshots.diff]]): version B is derived
    * deterministically from the fixture corpus — content-bucket < 5 docs
    * get revised text, buckets [5,10) are dropped (removed), and buckets
    * ≥ 95 also appear re-keyed (added) — so both engines can construct
    * the identical second snapshot and the diff classification is fully
    * hash-checkable. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val a = Tables.documents(s, d).select(col("doc_id"), col("text"))
    def bucket = Sampling.hashBucket(col("text"))
    val b = a.filter(bucket < 5)
      .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"))
      .unionByName(a.filter(bucket >= 10).select(col("doc_id"), col("text")))
      .unionByName(a.filter(bucket >= 95)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Snapshots.diff(a, b, "doc_id", "text")
  }

  private lazy val snapshotDiffSql =
    s"""WITH bkt AS (
       | SELECT doc_id, text, ${bucketSql("text")} AS bucket FROM documents),
       |b AS (
       | SELECT doc_id, text || ' rev2' AS text FROM bkt WHERE bucket < 5
       | UNION ALL SELECT doc_id, text FROM bkt WHERE bucket >= 10
       | UNION ALL SELECT doc_id + 1000000, text FROM bkt WHERE bucket >= 95)
       |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       | CASE WHEN a.doc_id IS NULL THEN 'added'
       |      WHEN b.doc_id IS NULL THEN 'removed'
       |      WHEN md5(a.text) IS DISTINCT FROM md5(b.text) THEN 'changed'
       |      ELSE 'unchanged' END AS change_type
       |FROM documents a FULL OUTER JOIN b ON b.doc_id = a.doc_id""".stripMargin

  /** I6a — deterministic content-hash dataset split: membership is a pure
    * function of the text, so the same document lands in the same split
    * across engines, runs, and repartitions (a rand()/row_number() split
    * leaks val/test into training on any re-run). */
  def datasetSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      Sampling.hashBucket(col("text")).as("bucket"),
      Sampling.splitLabel(col("text")).as("split"))

  private val datasetSplitSql =
    s"""SELECT doc_id, ${bucketSql("text")} AS bucket,
       | ${splitSql("text")} AS split
       |FROM documents""".stripMargin

  /** I6h — split-leakage audit: near-dup pairs (word-3-gram Jaccard ≥
    * 0.5) bucketed by the split pair their endpoints land in. Rows with
    * `s1 != s2` are train/eval CONTAMINATION — an eval document whose
    * near-duplicate sits in training — which is exactly what running
    * dedup BEFORE the split prevents; this measures it directly on the
    * raw corpus, so a pipeline can gate on "no cross-split row". The
    * near-dup generator and the split expression are the already-oracle-
    * checked operators; the plan joins the (few) pairs against the
    * |docs|-sized split table twice on doc id — both joins pushed to the
    * pair side, no corpus self-join. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramJaccard(s, d).select(col("doc_a"), col("doc_b"))
    val splits = Tables.documents(s, d)
      .select(col("doc_id"), Sampling.splitLabel(col("text")).as("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .groupBy(least(col("split_a"), col("split_b")).as("s1"),
        greatest(col("split_a"), col("split_b")).as("s2"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val splitLeakageSql =
    s"""WITH high AS (${ngramJaccardSqlAt(0.5)}),
       |sp AS (SELECT doc_id, ${splitSql("text")} AS split FROM documents)
       |SELECT LEAST(sa.split, sb.split) AS s1,
       | GREATEST(sa.split, sb.split) AS s2, COUNT(*) AS n_pairs
       |FROM high
       |JOIN sp sa ON sa.doc_id = doc_a
       |JOIN sp sb ON sb.doc_id = doc_b
       |GROUP BY 1, 2""".stripMargin

  /** I6p — filter-attrition funnel: the per-stage survivor report every
    * production curation pipeline publishes ("which filter removed how
    * many docs"). One cumulative-AND pass over the scored corpus: input →
    * language → quality floor → repetition cap → exact dedup, each stage
    * a (stage_idx, stage, n_kept, n_removed) row. The scan computes every
    * per-doc signal ONCE behind the pushdown fence; the stage counts are
    * conditional sums in a single map-side-combined aggregate, and the
    * dedup stage is a SEPARATE dedupe-first count — a conditional
    * COUNT(DISTINCT) in the same aggregate would plan an Expand that
    * triples every input row through the shuffle (the d08 lesson). Two
    * corpus scans, three tiny shuffles, no Expand — the shape that holds
    * at 100 TB. */
  /** ONE definition of the audit funnel's stages for BOTH the aggregate
    * report ([[filterAttrition]]) and the per-doc verdicts
    * ([[docProvenance]]) — the two are sold as exact complements (a
    * cross-query spec reconciles them), so their stage predicates must
    * be constitutionally incapable of diverging. Returns the fenced
    * scored frame with boolean stage flags f1 (language), f2 (quality
    * floor), f3 (repetition cap). */
  private def funnelFlags(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs
      .repartition(graft.llm.Par.of(docs))
      .select(col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.dupTokenRatio(col("text")).as("dup_ratio"))
      .select(col("doc_id"), col("text"),
        (col("lang") === "en").as("f1"),
        (col("quality") >= 0.5).as("f2"),
        (col("dup_ratio") <= 0.8).as("f3"))
      // fence LAST so it is live in the frame consumers filter on (the
      // corpusCuration pattern); a fence below a projection that drops it
      // is pruned away and fences nothing.
      .withColumn("__fence", monotonically_increasing_id())
  }

  /** The matching oracle CTE chain, ending in a `flags` relation with
    * (doc_id, text, f1, f2, f3) — shared by both audit oracles. */
  private lazy val funnelFlagsCtes =
    s"""lang AS ($langIdSql), q AS (${qualitySqlOver("documents", "text")}),
       |rep AS ($repetitionSql),
       |flags AS (
       | SELECT d.doc_id, d.text,
       |  lang.pred_lang = 'en' AS f1,
       |  q.quality >= 0.5 AS f2,
       |  rep.dup_ratio <= 0.8 AS f3
       | FROM documents d
       | JOIN lang ON lang.doc_id = d.doc_id
       | JOIN q ON q.doc_id = d.doc_id
       | JOIN rep ON rep.doc_id = d.doc_id)""".stripMargin

  def filterAttrition(s: SparkSession, d: String): DataFrame = {
    val scored = funnelFlags(s, d)
    val f1 = col("f1")
    val f2 = col("f2")
    val f3 = col("f3")
    val base = scored.agg(
      count(lit(1)).as("n0"),
      sum(when(f1, 1L).otherwise(0L)).as("n1"),
      sum(when(f1 && f2, 1L).otherwise(0L)).as("n2"),
      sum(when(f1 && f2 && f3, 1L).otherwise(0L)).as("n3"))
    val dedup = scored.filter(f1 && f2 && f3)
      .select(md5(col("text")).as("h")).distinct()
      .agg(count(lit(1)).as("n4"))
    base.crossJoin(dedup).select(expr(
      """stack(5,
        | 0, 'input',       n0, cast(0 as bigint),
        | 1, 'lang_en',     n1, n0 - n1,
        | 2, 'quality',     n2, n1 - n2,
        | 3, 'repetition',  n3, n2 - n3,
        | 4, 'exact_dedup', n4, n3 - n4) AS (stage_idx, stage, n_kept, n_removed)""".stripMargin))
  }

  private lazy val filterAttritionSql =
    s"""WITH $funnelFlagsCtes,
       |agg AS (SELECT COUNT(*) AS n0,
       |  CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |  CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |  CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |  COUNT(DISTINCT CASE WHEN f1 AND f2 AND f3 THEN md5(text) END) AS n4
       | FROM flags)
       |SELECT * FROM (
       | SELECT 0 AS stage_idx, 'input' AS stage, n0 AS n_kept,
       |   CAST(0 AS BIGINT) AS n_removed FROM agg
       | UNION ALL SELECT 1, 'lang_en', n1, n0 - n1 FROM agg
       | UNION ALL SELECT 2, 'quality', n2, n1 - n2 FROM agg
       | UNION ALL SELECT 3, 'repetition', n3, n2 - n3 FROM agg
       | UNION ALL SELECT 4, 'exact_dedup', n4, n3 - n4 FROM agg)""".stripMargin

  /** I6q — per-document provenance: the record-level complement of
    * [[filterAttrition]] — every input doc gets a verdict naming the
    * FIRST funnel stage that removed it (`removed:lang` /
    * `removed:quality` / `removed:repetition` / `removed:duplicate`) or
    * `kept`. This is the audit table a production pipeline publishes
    * next to a release so any upstream owner can answer "why is my
    * document not in the training set". Same one-scan flag projection
    * behind the fence; the dedup verdict ranks ONLY stage-3 survivors
    * (min-doc_id representative, the corpusCuration rule) in one
    * content-hash window, left-joined back so removed docs never enter
    * the window shuffle. */
  def docProvenance(s: SparkSession, d: String): DataFrame = {
    val scored = funnelFlags(s, d)
    val f1 = col("f1")
    val f2 = col("f2")
    val f3 = col("f3")
    val surv = scored.filter(f1 && f2 && f3)
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .select(col("doc_id"), col("rn"))
    scored.join(surv, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!f1, "removed:lang")
          .when(!f2, "removed:quality")
          .when(!f3, "removed:repetition")
          .when(col("rn") > 1, "removed:duplicate")
          .otherwise("kept").as("verdict"))
  }

  private lazy val docProvenanceSql =
    s"""WITH $funnelFlagsCtes,
       |surv AS (
       | SELECT doc_id,
       |  ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       | FROM flags WHERE f1 AND f2 AND f3)
       |SELECT f.doc_id,
       | CASE WHEN NOT f.f1 THEN 'removed:lang'
       |      WHEN NOT f.f2 THEN 'removed:quality'
       |      WHEN NOT f.f3 THEN 'removed:repetition'
       |      WHEN s.rn > 1 THEN 'removed:duplicate'
       |      ELSE 'kept' END AS verdict
       |FROM flags f LEFT JOIN surv s ON s.doc_id = f.doc_id""".stripMargin

  /** I6b — END-TO-END corpus curation, the composed pipeline a
    * training-data user actually runs: language filter → quality floor →
    * exact dedup (min-id representative) → deterministic split. Every
    * stage is an already-oracle-checked operator; this row pins their
    * COMPOSITION (filter-before-dedup ordering, representative selection
    * interacting with the quality filter, split stability). */
  def corpusCuration(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // repartition BEFORE scoring: a small single-file scan is ONE
    // partition, which would run every regex on a single task. The
    // __fence column is a PUSHDOWN FENCE: PushDownPredicates re-inlines a
    // filter below any deterministic projection (straight through a
    // repartition), substituting the full CASE/regex trees into the
    // predicate — and codegen does no common-subexpression elimination
    // inside conditionals, so each stopword regex would run several times
    // per row (measured 6.4 s vs 0.25 s on the same rows at sf0.1). A
    // nondeterministic column cannot be crossed, so lang/quality are
    // evaluated exactly once in the projection.
    val scored = docs
      .repartition(graft.llm.Par.of(docs))
      .select(
        col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .withColumn("__fence", monotonically_increasing_id())
    val kept = scored.filter(col("lang") === "en" && col("quality") >= 0.5)
      .drop("__fence")
    Dedup.exactDedup(kept, "doc_id", "text")
      .select(col("doc_id"), col("quality"),
        Sampling.splitLabel(col("text")).as("split"))
  }

  private val corpusCurationSql =
    s"""WITH lang AS ($langIdSql), q AS ($qualityScoreSql),
       |joined AS (
       | SELECT d.doc_id, d.text, q.quality FROM documents d
       | JOIN lang ON lang.doc_id = d.doc_id
       | JOIN q ON q.doc_id = d.doc_id
       | WHERE lang.pred_lang = 'en' AND q.quality >= 0.5),
       |dedup AS (
       | SELECT doc_id, text, quality,
       |  ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       | FROM joined)
       |SELECT doc_id, quality, ${splitSql("text")} AS split
       |FROM dedup WHERE rn = 1""".stripMargin

  /** I5e — repetition scoring: duplicate-token fraction + top-token share,
    * the boilerplate/spam signals a repetition filter cuts on. */
  def repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.dupTokenRatio(col("text")).as("dup_ratio"),
      TextAnalysis.topTokenShare(col("text")).as("top_share"))

  private val repetitionSql =
    """SELECT doc_id,
      | CAST(len(regexp_split_to_array(text,' +'))
      |   - len(list_distinct(regexp_split_to_array(text,' +'))) AS DOUBLE)
      |  / len(regexp_split_to_array(text,' +')) AS dup_ratio,
      | CAST(list_max(list_transform(list_distinct(regexp_split_to_array(text,' +')),
      |   w -> len(list_filter(regexp_split_to_array(text,' +'), x -> x = w)))) AS DOUBLE)
      |  / len(regexp_split_to_array(text,' +')) AS top_share
      |FROM documents""".stripMargin

  /** I7a — PII scrub over the REAL operator (`llm.Privacy`): the fixture
    * corpus carries no PII, so deterministic emails/phones/IPs are
    * injected in-query (1 in 5 docs each kind) and the scrub must count
    * and redact exactly — the oracle replays the same injection and
    * redaction with its own regex engine (RE2 vs Java, patterns chosen
    * inside the shared subset), making this a cross-engine contract test
    * of the full redacted TEXT, not just the counts. */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val withPii = docs.withColumn("text",
      when(col("doc_id") % 5 === 1,
        concat(col("text"), lit(" reach me at user"),
          col("doc_id").cast("string"), lit("@example.com or 555-123-4567")))
        .when(col("doc_id") % 5 === 3,
          concat(col("text"), lit(" server at 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".17 and admin@test.org")))
        .otherwise(col("text")))
    Privacy.scrubDF(withPii, "doc_id", "text")
  }

  private val piiScrubSql = {
    import Privacy.{EmailRe, PhoneRe, Ipv4Re}
    s"""WITH t AS (
       | SELECT doc_id,
       |  CASE WHEN doc_id % 5 = 1 THEN text || ' reach me at user'
       |    || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567'
       |   WHEN doc_id % 5 = 3 THEN text || ' server at 10.0.'
       |    || CAST(doc_id % 256 AS VARCHAR) || '.17 and admin@test.org'
       |   ELSE text END AS text
       | FROM documents)
       |SELECT doc_id,
       | len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       | len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
       | len(regexp_extract_all(text, '$Ipv4Re')) AS n_ips,
       | regexp_replace(regexp_replace(regexp_replace(text,
       |   '$EmailRe', '[EMAIL]', 'g'),
       |   '$PhoneRe', '[PHONE]', 'g'),
       |   '$Ipv4Re', '[IP]', 'g') AS redacted
       |FROM t""".stripMargin
  }

  /** I7b — benchmark decontamination: docs with `doc_id % 50 == 0` stand
    * in for the eval set; every other doc is flagged when it shares ANY
    * word 8-gram with it. The fixture's near-dups make this non-trivial
    * (exactly one contaminated doc at sf0.01), and the oracle recomputes
    * the full 8-gram overlap from scratch. */
  def decontamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontamination.flagContaminated(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 8)
  }

  private val decontaminationSql =
    """WITH w AS (
      | SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents),
      |g AS (
      | SELECT doc_id, unnest([array_to_string(ws[i:i+7], ' ')
      |   for i in range(1, len(ws)-6)]) AS gram
      | FROM w WHERE len(ws) >= 8),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      |hits AS (
      | SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
      | WHERE g.doc_id % 50 <> 0)
      |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS is_contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 50 <> 0""".stripMargin

  /** I6c — stratified per-language cap: at most `cap` docs per predicted
    * language, kept deterministically (content-hash rank, id tie-break) —
    * the balance pass that stops one language from dominating a corpus.
    * The oracle replays the rank with its own window. */
  def stratifiedCap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang"))
    Sampling.stratifiedCap(docs, col("lang"), col("text"), col("doc_id"), cap = 40)
      .select(col("doc_id"), col("lang"))
  }

  /** I1b — dedup against a reference set through the Bloom prefilter
    * ([[Dedup.dedupAgainstReference]]): the blacklist is docs with
    * doc_id % 37 == 0, content keys are 12-char text prefixes (the fixture
    * has no full-text collisions across the boundary), and the oracle is
    * the plain EXISTS semi-join — the Bloom pass must change NOTHING about
    * the answer, only about how much data reaches the join. */
  def bloomReferenceDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("ckey", substring(col("text"), 1, 12))
    Dedup.dedupAgainstReference(
      docs.filter(col("doc_id") % 37 =!= 0),
      docs.filter(col("doc_id") % 37 === 0),
      "ckey", expectedRefItems = 10000L)
      .select(col("doc_id"), col("source"))
  }

  private val bloomReferenceDedupSql =
    """SELECT c.doc_id, c.source FROM documents c
      |WHERE c.doc_id % 37 <> 0 AND EXISTS (
      | SELECT 1 FROM documents b WHERE b.doc_id % 37 = 0
      |  AND md5(substr(b.text, 1, 12)) = md5(substr(c.text, 1, 12)))""".stripMargin

  /** I6d — deterministic mixture sampling: per-source keep-rates (the
    * data-mixing step of corpus composition), membership pure in content. */
  def mixtureSample(s: SparkSession, d: String): DataFrame =
    Sampling.mixtureSample(Tables.documents(s, d),
      col("source"), col("text"),
      weights = Map("src0" -> 100, "src1" -> 50, "src2" -> 25),
      defaultPct = 10)
      .select(col("doc_id"), col("source"))

  private val mixtureSampleSql =
    s"""SELECT doc_id, source FROM documents
       |WHERE ${bucketSql("text")} <
       | CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
       |  WHEN 'src2' THEN 25 ELSE 10 END""".stripMargin

  private val stratifiedCapSql =
    s"""WITH lang AS ($langIdSql),
       |ranked AS (
       | SELECT d.doc_id, lang.pred_lang AS lang,
       |  ROW_NUMBER() OVER (PARTITION BY lang.pred_lang
       |    ORDER BY ${bucketSql("d.text")} ASC NULLS FIRST, d.doc_id ASC) AS rn
       | FROM documents d JOIN lang ON lang.doc_id = d.doc_id)
       |SELECT doc_id, lang FROM ranked WHERE rn <= 40""".stripMargin

  /** I5f — quantile-threshold gate: curation at scale picks quality
    * thresholds by QUANTILE (approx_percentile over the corpus), not by
    * absolute constants. The gate pins Spark's approximate quantiles
    * against the exact ones at ±0.05 on the [0,1] quality scale — the
    * error-bound contract a threshold consumer relies on; the oracle
    * recomputes the doc count and pins the booleans. */
  def qualityQuantileGate(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
    scored.agg(
      count(lit(1)).as("n_docs"),
      percentile_approx(col("q"), array(lit(0.25), lit(0.5), lit(0.9)),
        lit(1000)).as("approx"),
      expr("percentile(q, array(0.25, 0.5, 0.9))").as("exact"))
      .select(col("n_docs"),
        (abs(element_at(col("approx"), 1) - element_at(col("exact"), 1)) <= 0.05)
          .as("p25_ok"),
        (abs(element_at(col("approx"), 2) - element_at(col("exact"), 2)) <= 0.05)
          .as("p50_ok"),
        (abs(element_at(col("approx"), 3) - element_at(col("exact"), 3)) <= 0.05)
          .as("p90_ok"))
  }

  private val qualityQuantileGateSql =
    """SELECT COUNT(*) AS n_docs, true AS p25_ok, true AS p50_ok,
      | true AS p90_ok
      |FROM documents""".stripMargin

  /** I7c — context-window chunking: overlapping word windows
    * (size 64, stride 48), the dataloader-prep step between curation and
    * training. The oracle recomputes every window with list slicing. */
  def chunkWindows(s: SparkSession, d: String): DataFrame =
    Chunking.chunkByWords(Tables.documents(s, d), "doc_id", "text",
      size = 64, stride = 48)

  private val chunkWindowsSql =
    """WITH w AS (
      | SELECT doc_id, regexp_split_to_array(text, ' +') AS ws
      | FROM documents WHERE text IS NOT NULL),
      |c AS (
      | SELECT doc_id, ws,
      |  unnest(range(0, 1 + (greatest(len(ws) - 64, 0) + 47) // 48)) AS chunk_idx
      | FROM w)
      |SELECT doc_id, chunk_idx,
      | array_to_string(ws[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' ') AS chunk_text,
      | len(ws[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS n_chunk_words
      |FROM c""".stripMargin

  /** I7d — sequence-packing invariant gate: greedy first-fit packing is a
    * sequential per-partition decision (pack ids embed the partition — no
    * coordination at scale), so the gate checks the partitioning-
    * independent INVARIANTS: every doc packed exactly once, token totals
    * conserved, no pack over budget except flagged oversize singletons.
    * The oracle recomputes the doc count and token total from the corpus
    * and pins the booleans. */
  def packGate(s: SparkSession, d: String): DataFrame = {
    val budget = 200L
    // null-text docs carry no token count; packGreedy rejects nulls by
    // contract, and the oracle's SUM/COUNT skip them symmetrically
    val toks = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
    val packed = Chunking.packGreedy(toks, "doc_id", "toks", budget)
    val perPack = packed.groupBy(col("pack_id"))
      .agg(sum(col("tokens")).as("member_sum"),
        min(col("pack_tokens")).as("declared"),
        count(lit(1)).as("n_members"),
        max(col("oversize").cast("int")).as("oversize"))
    val packsOk = perPack.agg(
      (count(lit(1)) > 0 &&
        max(when(col("oversize") === 0, col("declared"))) <= budget &&
        max(when(col("oversize") === 1, col("n_members"))
          .otherwise(lit(1L))) <= 1L &&
        max(abs(col("member_sum") - col("declared"))) === 0L).as("packs_ok"))
    packed.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("id")).as("n_distinct_docs"),
      sum(col("tokens")).as("total_tokens"))
      .crossJoin(packsOk)
  }

  private val packGateSql =
    """SELECT CAST(COUNT(text) AS BIGINT) AS n_docs,
      | CAST(COUNT(text) AS BIGINT) AS n_distinct_docs,
      | CAST(SUM(len(regexp_split_to_array(text, ' +'))) AS BIGINT)
      |  AS total_tokens,
      | true AS packs_ok
      |FROM documents""".stripMargin

  /** I7e — token-stream shard layout ([[Chunking.shardSequences]]): the
    * corpus in doc_id order cut into fixed 256-token training sequences,
    * splitting documents at sequence boundaries (the GPT-style loader
    * layout, vs [[packGate]]'s never-split packing). The whole membership
    * table is ORACLE-EXACT — DuckDB recomputes the same prefix sum with a
    * plain global window while the engine runs the two-level bucketed
    * version, so the hash-compare proves the distributed prefix sum
    * equals the sequential one. Whitespace token counts keep both sides
    * SQL-expressible; null text is a missing document (no stream
    * positions). */
  def tokenShards(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
    Chunking.shardSequences(toks, "doc_id", "toks", seqLen = 256L)
      .withColumnRenamed("id", "doc_id")
  }

  private val tokenShardsSql =
    """WITH t AS (
      | SELECT doc_id,
      |  CAST(LEN(regexp_split_to_array(text, ' +')) AS BIGINT) AS n
      | FROM documents WHERE text IS NOT NULL),
      |p AS (
      | SELECT doc_id, n,
      |  CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |   AS start
      | FROM t),
      |m AS (
      | SELECT doc_id, n, start,
      |  unnest(range(start // 256, (start + n - 1) // 256 + 1)) AS seq_id
      | FROM p WHERE n > 0)
      |SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
      | n AS tokens,
      | CAST(GREATEST(seq_id * 256, start) - seq_id * 256 AS BIGINT)
      |  AS start_in_seq,
      | CAST(LEAST((seq_id + 1) * 256, start + n)
      |  - GREATEST(seq_id * 256, start) AS BIGINT) AS n_toks
      |FROM m""".stripMargin

  /** I4 — multimodal metadata extraction over binary payload columns (the
    * deterministic stub codec; plumbing is the point — see
    * graft.llm.Multimodal). */
  def multimodalMeta(s: SparkSession, d: String): DataFrame = {
    import Multimodal.StubCodecs._
    Multimodal.docsAsMedia(Tables.documents(s, d)).select(
      col("media_id"),
      col("mime"),
      octet_length(col("payload")).as("n_bytes"),
      (lit(SizeBase) + octet_length(col("payload")) % WidthMod).as("fake_width"),
      // floor() on both sides: DuckDB CAST(double AS INT) rounds, Spark
      // truncates — integer-div via floor is unambiguous in both
      (lit(SizeBase) + floor(octet_length(col("payload")) / lit(HeightDiv))
        .cast("int") % HeightMod).as("fake_height"),
      md5(col("payload")).as("checksum"))
  }

  private val multimodalMetaSql = {
    import Multimodal.StubCodecs._
    s"""SELECT doc_id AS media_id,
       | 'application/octet-stream' AS mime,
       | octet_length(encode(text)) AS n_bytes,
       | $SizeBase + octet_length(encode(text)) % $WidthMod AS fake_width,
       | $SizeBase + CAST(FLOOR(octet_length(encode(text)) / $HeightDiv) AS INT) % $HeightMod AS fake_height,
       | md5(text) AS checksum
       |FROM documents""".stripMargin
  }

  /** I4f — perceptual average-hash through the REAL image decode path:
    * each document renders 64 deterministic gray pixels (char codes mod
    * 128) as an actual 8×8 BMP ([[Multimodal.syntheticBmp]]), the engine
    * decodes it back through `ImageIO` + integer luma
    * ([[Multimodal.decodeGray64]]) — the true codec round-trip, not a
    * byte stub — and aHash packs gray>mean bits into two 32-bit halves
    * (Krawetz's average hash; the standard image near-dup fingerprint).
    * Because the pixel source is a pure function of text, DuckDB
    * recomputes the same 64 bits ARITHMETICALLY: the hash-match proves
    * the whole synthesize→encode→decode→hash pipeline is lossless.
    * Identical images hash identically; the spec pins the perceptual
    * property (small pixel edits → small hamming). Pixel indexing is
    * CODEPOINT-based on both sides (DuckDB substr semantics), so parity
    * holds on non-ASCII corpora too — spec-pinned with astral-plane
    * text. Map-only — zero shuffles at any corpus size. */
  def imageAhash(s: SparkSession, d: String): DataFrame =
    imageAhashOver(Tables.documents(s, d))

  private[graft] def imageAhashOver(docs: DataFrame): DataFrame = {
    val grayUdf = udf((t: String) => {
      // CODEPOINTS, not UTF-16 units: the oracle's substr/LENGTH are
      // codepoint-based, so charAt would silently diverge on any
      // non-ASCII corpus (surrogate halves, wrong length) — parity must
      // not depend on the fixture staying ASCII
      val cps = t.codePoints().toArray
      val n = cps.length
      val px = Array.tabulate(64)(i => cps(i % n) % 128)
      Multimodal.decodeGray64(Multimodal.syntheticBmp(px))
    })
    def packBits(gsSlice: Column, mean: Column): Column = {
      val weights = array((0 until 32).map(i => lit(1L << (31 - i))): _*)
      aggregate(zip_with(gsSlice, weights,
        (g, w) => when(g > mean, w).otherwise(lit(0L))),
        lit(0L), (a, x) => a + x)
    }
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id").as("media_id"), grayUdf(col("text")).as("gs"))
      // staged projections: HOF lambdas get no CSE — the decode UDF and
      // the sum must each evaluate once (multiply-referenced non-cheap
      // aliases survive CollapseProject)
      .withColumn("gsum", aggregate(col("gs"), lit(0L), (a, x) => a + x))
      .withColumn("mean", floor(col("gsum") / lit(64)).cast("int"))
      .select(col("media_id"),
        packBits(slice(col("gs"), 1, 32), col("mean")).as("ahash_hi"),
        packBits(slice(col("gs"), 33, 32), col("mean")).as("ahash_lo"),
        aggregate(col("gs"), lit(0L),
          (a, x) => a + when(x > col("mean"), 1L).otherwise(0L)).as("n_set"))
  }

  private val imageAhashSql =
    """WITH d AS (SELECT doc_id, text, LENGTH(text) AS n FROM documents
      |  WHERE text IS NOT NULL AND LENGTH(text) > 0),
      |g AS (SELECT doc_id,
      |  [ascii(substr(text, (i % n) + 1, 1)) % 128 for i in range(0, 64)] AS gs
      | FROM d),
      |m AS (SELECT doc_id, gs, CAST(list_sum(gs) // 64 AS INT) AS mean FROM g)
      |SELECT doc_id AS media_id,
      | CAST(list_sum([CASE WHEN gs[i+1] > mean
      |   THEN CAST(1 AS BIGINT) << (31-i) ELSE CAST(0 AS BIGINT) END
      |   for i in range(0, 32)]) AS BIGINT) AS ahash_hi,
      | CAST(list_sum([CASE WHEN gs[i+33] > mean
      |   THEN CAST(1 AS BIGINT) << (31-i) ELSE CAST(0 AS BIGINT) END
      |   for i in range(0, 32)]) AS BIGINT) AS ahash_lo,
      | CAST(list_sum([CASE WHEN x > mean THEN 1 ELSE 0 END for x in gs])
      |   AS BIGINT) AS n_set
      |FROM m""".stripMargin

  /** D8d — EXACT frequent bigrams without shuffling the bigram universe:
    * bounded-memory Misra–Gries candidate sweep (k = 2048 counters,
    * tree-reduced to ONE summary) + exact recount of the candidates
    * ([[graft.operators.HeavyHitters]]). θ = 3/2000 of all bigram
    * occurrences; 3/2000 > 1/(k+1) so the candidate set provably covers the
    * threshold, making the output exact — the oracle is the brute-force
    * HAVING with the identical integer ceil arithmetic. */
  def heavyHitters(s: SparkSession, d: String): DataFrame =
    TextAnalysis.heavyBigrams(Tables.documents(s, d), "text",
      k = 2048, num = 3, den = 2000)

  private val heavyHittersSql =
    """WITH ws AS (
      |  SELECT regexp_split_to_array(trim(text), ' +') AS w FROM documents),
      |sh AS (
      |  SELECT w[i] || ' ' || w[i+1] AS bigram
      |  FROM ws, unnest(range(1, len(w))) AS t(i))
      |SELECT bigram, count(*) AS cnt FROM sh GROUP BY bigram
      |HAVING count(*) >= (3 * (SELECT count(*) FROM sh) + 1999) // 2000"""
      .stripMargin

  /** I5l — inverted-index (postings) build over the documents corpus:
    * term → df, cf, and the 5 smallest posting doc ids. See
    * [[TextAnalysis.invertedIndex]] for the bounded-collect window shape. */
  def invertedIndex(s: SparkSession, d: String): DataFrame =
    TextAnalysis.invertedIndex(Tables.documents(s, d), "doc_id", "text")

  private val invertedIndexSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT term, doc_id, count(*) AS tf FROM toks
      |  WHERE term <> '' GROUP BY 1, 2),
      |rn AS (
      |  SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      |  FROM tf)
      |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
      | string_agg(CASE WHEN rn <= 5 THEN CAST(doc_id AS VARCHAR) END,
      |            ',' ORDER BY doc_id) AS head_postings
      |FROM rn GROUP BY term""".stripMargin

  /** I6g — order-invariant dataset fingerprint per source: md5 each row's
    * canonical serialization, fold the first 15 hex digits into a 60-bit
    * integer, and SUM exactly in decimal(38,0). Addition is commutative, so
    * the fingerprint is invariant to partitioning, task order, and shuffle
    * nondeterminism — the provenance check a pipeline runs after a copy,
    * migration, or engine swap ("did I get byte-identical content?")
    * without sorting 100 TB. 15 hex digits keep the per-row fold inside a
    * BIGINT in both engines; the decimal(38,0) sum never overflows below
    * ~10^19 rows. */
  def tableFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), graft.functions.Fingerprint.rowFold(
        Seq(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.Fingerprint.sumFold(col("h")).as("fingerprint"))

  private lazy val tableFingerprintSql = {
    val fold = graft.functions.Fingerprint.rowFoldSql(
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    s"""WITH h AS (
      |  SELECT source, $fold AS v
      |  FROM documents)
      |SELECT source, count(*) AS n_rows,
      | CAST(sum(v) AS VARCHAR) AS fingerprint
      |FROM h GROUP BY source""".stripMargin
  }

  /** Fitted LR full-corpus accuracy on the driver fixtures (LrCalib run,
    * lr=1/8 × 200 iters, 80% content-hash training split, 2026-08-14):
    * 0.936 / 0.920 / 0.915 at sf 0.001/0.01/0.1 — floors sit under the
    * measured values and far above the ~55% base rate a diverged or
    * broken model would score. (The fixtures' `lang`/`source` columns are
    * INDEPENDENT of the text — a shared 31-word vocabulary — so the
    * teachable label is the length-quality rule below; float LR on exact
    * word counts maxes out at 0.64 against `lang`.) */
  private[graft] val LrAccFloors =
    Map("0.001" -> 0.85, "0.01" -> 0.85, "0.1" -> 0.85)

  /** I5m — model-based quality gate: fit the hashed bag-of-words integer
    * logistic regression ([[QualityClassifier]]) on the deterministic 80%
    * content-hash split, score the WHOLE corpus with one broadcast kernel
    * scan, and gate on full-corpus accuracy. The label is the C4-style
    * length-quality rule (≥ 50 whitespace tokens) — the model has to
    * RECOVER it from per-token weights alone, so the gate fails if the
    * integer GD diverges, the kernel mis-tokenizes, or the fitted weights
    * drift across partitionings (they are bit-exact by construction). The
    * oracle pins the corpus size and the floor verdict. */
  def lrQualityGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val label = (size(split(trim(col("text")), " +")) >= 50).cast("int")
    val model = QualityClassifier.fit(docs, "text", label,
      buckets = 1024, iters = 200, lrNum = 1, lrDen = 8, trainPct = 80)
    val floor = floorFor(LrAccFloors, d, conservative = 0.75)
    QualityClassifier.score(docs, "text", model)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === (label === 1), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n_docs"),
        (col("n_correct").cast("double") / col("n_docs").cast("double")
          >= floor).as("acc_floor_met"))
  }

  private val lrQualityGateSql =
    """SELECT COUNT(*) AS n_docs, true AS acc_floor_met FROM documents"""

  /** I6n — DSIR importance weights ([[Sampling.dsirWeights]]): target =
    * `lang = 'en'` documents, raw = the whole corpus, 256 md5 hash
    * buckets. The oracle rebuilds both unigram models and every hit sum
    * exactly (same md5 bucket, exact BIGINT sums, identically-shaped final
    * division). */
  def dsirWeights(s: SparkSession, d: String): DataFrame =
    Sampling.dsirWeights(Tables.documents(s, d), "doc_id", "text",
      col("lang") === "en", nBuckets = 256)

  /** DSIR CTE chain over any (doc_id, lang, text) relation — shared by
    * the standalone oracle and the composed `i6_curation_v3` oracle. */
  private def dsirCtesOver(rel: String) =
    s"""tk AS (
      | SELECT doc_id, tgt, ${bucketSql("w", 256)} AS b FROM (
      |  SELECT doc_id, lang = 'en' AS tgt,
      |   unnest(regexp_split_to_array(trim(text), ' +')) AS w
      |  FROM $rel)
      | WHERE w <> ''),
      |model AS (
      | SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct, COUNT(*) AS cr
      | FROM tk GROUP BY b),
      |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM model),
      |agg AS (
      | SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(m.ct + 1) AS BIGINT) AS hits_t,
      |  CAST(SUM(m.cr + 1) AS BIGINT) AS hits_r
      | FROM tk JOIN model m ON tk.b = m.b GROUP BY doc_id)""".stripMargin

  /** Per-doc DSIR scoring select over the same relation the model was
    * built from (must follow [[dsirCtesOver]] in the WITH chain). */
  private def dsirSelectOver(rel: String) =
    s"""SELECT d.doc_id, d.lang = 'en' AS is_target,
      | CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(a.n_tokens, 0) END AS n_tokens,
      | CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(a.hits_t, 0) END AS hits_t,
      | CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(a.hits_r, 0) END AS hits_r,
      | CASE WHEN COALESCE(a.n_tokens, 0) > 0 THEN
      |  (CAST(a.hits_t AS DOUBLE) / CAST(t.nt + 256 AS DOUBLE)) /
      |  (CAST(a.hits_r AS DOUBLE) / CAST(t.nr + 256 AS DOUBLE)) END AS weight
      |FROM $rel d
      |LEFT JOIN agg a ON a.doc_id = d.doc_id
      |CROSS JOIN tot t""".stripMargin

  private val dsirWeightsSql =
    s"""WITH ${dsirCtesOver("documents")}
      |${dsirSelectOver("documents")}""".stripMargin

  /** I6o — token-budget mixture assembly ([[Sampling.tokenBudgetCap]]):
    * per source, keep documents in deterministic content-hash order until
    * 600 whitespace tokens are banked — the token-priced variant of
    * `i6_stratified_cap`. The oracle recomputes the running sum with the
    * identical window. */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nTokens = size(filter(split(trim(col("text")), " +"), w => w =!= ""))
      .cast("long")
    Sampling.tokenBudgetCap(docs, col("source"), col("text"), col("doc_id"),
        nTokens, budget = 600L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  private val tokenBudgetSql =
    s"""WITH t AS (
      | SELECT doc_id, source,
      |  COALESCE(CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
      |    w -> w <> '')) AS BIGINT), 0) AS n_tokens,
      |  ${bucketSql("text")} AS b
      | FROM documents),
      |c AS (
      | SELECT doc_id, source, n_tokens,
      |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY b, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      | FROM t)
      |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c WHERE cum_tokens <= 600""".stripMargin

  /** Fixture blocklist: six phrases spanning the frequency range (one
    * never matches — the automaton must not false-positive on shared
    * prefixes like `dup`). ~20% of docs block at every sf. */
  private val BlocklistPatterns = Seq("big dup", "dup row",
    "hash merge table", "slow table", "stream stream", "vector join")

  /** I7e — multi-phrase blocklist filter (C4-style badwords pass): one
    * Aho–Corasick scan per document ([[graft.functions.AhoCorasick]])
    * instead of one substring search per pattern; returns the distinct-
    * pattern hit count and the block decision. The oracle re-derives
    * every hit with per-pattern padded-substring checks. */
  def blocklist(s: SparkSession, d: String): DataFrame = {
    val hits = graft.functions.BlocklistExprs.hits(col("text"), BlocklistPatterns)
    Tables.documents(s, d)
      .select(col("doc_id"), hits.as("n_patterns"),
        (hits > 0).as("blocked"))
  }

  private val blocklistSql = {
    val cases = BlocklistPatterns.map(p =>
      s"(CASE WHEN position(' $p ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    // null text → null hits (the expression's null contract; the CASE sum
    // alone would claim 0)
    s"""SELECT doc_id,
       | CASE WHEN text IS NULL THEN NULL ELSE $cases END AS n_patterns,
       | CASE WHEN text IS NULL THEN NULL ELSE ($cases) > 0 END AS blocked
       |FROM documents""".stripMargin
  }

  /** I6p — mixture-assembly pipeline v3, composing the session-8
    * operators end to end: blocklist safety pass → DSIR target-likeness
    * threshold (model built over the SURVIVORS, not the raw corpus) →
    * per-source token-budget assembly → deterministic split label. Every
    * stage is the already-oracle-checked operator; the composed oracle
    * chains their SQL over the same filtered relation, so this row
    * verifies the COMPOSITION (stage ordering, model scoping, column
    * flow), which is what a production curation run actually executes. */
  def curationV3(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val hits = graft.functions.BlocklistExprs.hits(col("text"), BlocklistPatterns)
    val clean = docs.filter(coalesce(hits, lit(0)) === 0)
    val weighted = Sampling.dsirWeights(clean, "doc_id", "text",
      col("lang") === "en", nBuckets = 256)
    val selected = weighted.filter(col("weight") >= 0.99).select("doc_id")
    val base = docs.join(selected, "doc_id")
    val nTokens = size(filter(split(trim(col("text")), " +"), w => w =!= ""))
      .cast("long")
    Sampling.tokenBudgetCap(base, col("source"), col("text"), col("doc_id"),
        nTokens, budget = 400L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), Sampling.splitLabel(col("text")).as("split"))
  }

  private lazy val curationV3Sql = {
    val cases = BlocklistPatterns.map(p =>
      s"(CASE WHEN position(' $p ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH clean AS (
      | SELECT doc_id, text, lang, source FROM documents
      | WHERE COALESCE($cases, 0) = 0),
      |${dsirCtesOver("clean")},
      |weighted AS (${dsirSelectOver("clean")}),
      |sel AS (
      | SELECT c.doc_id, c.source, c.text FROM clean c
      | JOIN weighted w ON w.doc_id = c.doc_id
      | WHERE w.weight >= 0.99),
      |t AS (
      | SELECT doc_id, source, text,
      |  COALESCE(CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
      |    w -> w <> '')) AS BIGINT), 0) AS n_tokens,
      |  ${bucketSql("text")} AS b
      | FROM sel),
      |c AS (
      | SELECT doc_id, source, text, n_tokens,
      |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY b, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      | FROM t)
      |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
      | ${splitSql("text")} AS split
      |FROM c WHERE cum_tokens <= 400""".stripMargin
  }

  /** I5p — lexical diversity per document: token count, type count,
    * type-token ratio, and hapax count (words occurring exactly once IN
    * the document) — the vocabulary-quality signals a Gopher-style filter
    * thresholds (word-salad has TTR ≈ 1 and all-hapax; boilerplate/spam
    * repeats, so both collapse). Pure column expressions over a sorted
    * token array (neighbor-inequality counts runs of length 1 without a
    * per-word explode or any shuffle), so the scan runs at codegen speed
    * at 100 TB; the hapax result is sort-collation-independent because it
    * only needs equal tokens adjacent. */
  def lexicalDiversity(s: SparkSession, d: String): DataFrame = {
    // STAGED projections, deliberately: higher-order functions evaluate
    // interpreted (no codegen), so every reference to an inline
    // `array_sort(...)` would RE-SORT per element_at inside the hapax
    // lambda — measured 23.7 s at sf0.1 for the single-projection form vs
    // ~0.5 s staged. Each stage materializes what the next references
    // more than once; CollapseProject keeps its hands off because the
    // aliases are non-cheap and multiply referenced.
    val staged = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        array_sort(filter(split(trim(col("text")), " +"), w => w =!= ""))
          .as("ws"))
      .select(col("doc_id"), col("text"), col("ws"),
        size(col("ws")).as("n"),
        size(array_distinct(col("ws"))).as("nt"))
    val n = col("n")
    // i-th element is a hapax iff it differs from both neighbors; the
    // greatest/least clamps keep element_at in range (the i=1 / i=n
    // disjuncts already decide those edges — clamped compares are equal,
    // never consulted)
    val hapax = size(filter(sequence(lit(1), n), i =>
      (i === 1 ||
        element_at(col("ws"), greatest(i - 1, lit(1))) =!=
          element_at(col("ws"), i)) &&
        (i === n ||
          element_at(col("ws"), least(i + 1, n)) =!=
            element_at(col("ws"), i))))
    staged.select(col("doc_id"),
      n.cast("long").as("n_tokens"),
      col("nt").cast("long").as("n_types"),
      when(n > 0, col("nt").cast("double") / n.cast("double")).as("ttr"),
      when(n > 0, hapax.cast("long")).otherwise(
        when(col("text").isNotNull, lit(0L))).as("n_hapax"))
  }

  private val lexicalDiversitySql =
    """WITH t AS (
      | SELECT doc_id, text,
      |  list_sort(list_filter(regexp_split_to_array(trim(text), ' +'),
      |    w -> w <> '')) AS ws
      | FROM documents)
      |SELECT doc_id,
      | CAST(len(ws) AS BIGINT) AS n_tokens,
      | CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
      | CASE WHEN len(ws) > 0
      |  THEN CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE)
      | END AS ttr,
      | CASE WHEN len(ws) > 0 THEN CAST(len(
      |   [i for i in range(1, len(ws) + 1)
      |    if (i = 1 OR ws[i-1] <> ws[i]) AND (i = len(ws) OR ws[i+1] <> ws[i])]
      |  ) AS BIGINT)
      |  WHEN text IS NOT NULL THEN 0 END AS n_hapax
      |FROM t""".stripMargin

  /** I5n — BPE round-0 statistics: the top-50 adjacent character pairs
    * over the corpus's whitespace words (overlapping adjacency — the
    * plain frequency view; the TRAINER counts non-overlapping, see
    * [[Bpe]]). Deterministic order: count desc, then pair. */
  def bpeStats(s: SparkSession, d: String): DataFrame = {
    val chars = split(col("w"), "")
    Tables.documents(s, d)
      .select(explode(split(trim(col("text")), " +")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => struct(element_at(chars, i).as("l"),
          element_at(chars, i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l"), col("r"))
      .limit(50)
  }

  private val bpeStatsSql =
    """WITH w AS (
      | SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS w
      | FROM documents),
      |p AS (
      | SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r
      | FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w WHERE w <> ''))
      |SELECT l, r, COUNT(*) AS n FROM p GROUP BY 1, 2
      |ORDER BY n DESC, l, r LIMIT 50""".stripMargin

  /** I5o — BPE training conservation gate: learn 20 merges ([[Bpe.train]]
    * — distributed type-frequency scan, driver merge loop on the bounded
    * type table), re-encode the corpus with the distributed
    * [[graft.functions.BpeKernel]], and check the exact identity
    * `tokens_after == tokens_before - Σ merge counts` that greedy-left
    * non-overlapping counting guarantees. The oracle recomputes
    * `tokens_before` (total character symbols over all words) exactly and
    * pins the merge count and the conservation verdict. */
  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val model = Bpe.train(docs, "text", nMerges = 20)
    val tokensAfter = docs
      .agg(sum(graft.functions.BpeExprs.encodeCount(col("text"), model.merges))
        .as("ta"))
      .head().getLong(0)
    val conserve =
      tokensAfter == model.tokensBefore - model.mergedTotal
    s.range(1).select(
      lit(model.merges.length).as("n_merges"),
      lit(model.tokensBefore).as("tokens_before"),
      lit(conserve).as("conserve_ok"))
  }

  private val bpeTrainSql =
    """SELECT 20 AS n_merges,
      | (SELECT CAST(SUM(len(w)) AS BIGINT) FROM (
      |   SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS w
      |   FROM documents) WHERE w <> '') AS tokens_before,
      | true AS conserve_ok""".stripMargin

  /** I5p — the TOKENIZE step itself ([[graft.functions.BpeEncodeIdsExpr]]):
    * encode every document to its token-ID sequence under the 20-merge
    * model and [[Bpe.vocabOf]] ids, then fold the whole pipeline into two
    * checked identities — (1) CONSERVATION: per-doc id-sequence length
    * equals the count kernel's token count, and the corpus total equals
    * `tokens_before − Σ merge counts` from training statistics; (2)
    * ROUND-TRIP: decoding each id sequence reproduces the document with
    * whitespace removed (ids carry no word boundaries). One codegen-free
    * kernel scan; merges + vocab ride as closure references (a few KB).
    * NULL text → NULL ids (missing ≠ empty — the decode compare is
    * null-safe, so the verdicts stay meaningful on corpora with missing
    * documents). The oracle recomputes n_docs and tokens_before exactly
    * and pins both verdicts. */
  def bpeEncodeGate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val model = Bpe.train(docs, "text", nMerges = 20)
    val vocab = Bpe.vocabOf(docs, "text", model)
    docs
      .select(col("text"),
        graft.functions.BpeExprs.encodeIds(col("text"), model.merges, vocab)
          .as("ids"),
        graft.functions.BpeExprs.encodeCount(col("text"), model.merges)
          .as("tc"))
      .select(col("ids"), col("tc"),
        graft.functions.BpeExprs.decodeConcat(col("ids"), vocab).as("dec"),
        regexp_replace(trim(col("text")), " +", "").as("expected"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(size(col("ids")), lit(0))).as("sum_ids"),
        min(when(coalesce(size(col("ids")), lit(0)) === col("tc"), 1)
          .otherwise(0)).as("c_doc"),
        min(when(col("dec") <=> col("expected"), 1).otherwise(0)).as("r_doc"))
      .select(
        col("n_docs"),
        lit(model.tokensBefore).as("tokens_before"),
        (col("c_doc") === 1 &&
          col("sum_ids") === lit(model.tokensBefore - model.mergedTotal))
          .as("conserve_ok"),
        (col("r_doc") === 1).as("roundtrip_ok"))
  }

  private val bpeEncodeGateSql =
    """SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      | (SELECT CAST(SUM(len(w)) AS BIGINT) FROM (
      |   SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS w
      |   FROM documents) WHERE w <> '') AS tokens_before,
      | true AS conserve_ok, true AS roundtrip_ok""".stripMargin

  val rows: Seq[Row] = Seq(
    Row("i1_dedup_exact", dedupExact, dedupExactSql),
    Row("i1_bloom_reference_dedup", bloomReferenceDedup, bloomReferenceDedupSql),
    Row("i2_ngram_jaccard", ngramJaccard, ngramJaccardSql),
    Row("i2_incremental_dedup", incrementalDedup, incrementalDedupSql),
    Row("i2_incremental_index", incrementalIndexDedup, incrementalIndexSql),
    Row("i2_incremental_band_index", incrementalBandIndexDedup, incrementalBandIndexSql),
    Row("i2_canonical_keep", canonicalKeep, canonicalKeepSql),
    Row("i2_canonical_keep_blocked", canonicalKeepBlocked, canonicalKeepBlockedSql),
    Row("i2_canonical_keep_lsh", canonicalKeepLsh, canonicalKeepLshSql),
    Row("i6_curation_v6", curationV6, curationV6Sql),
    Row("i6_curation_v7_incremental", curationV7Incremental, curationV7Sql),
    Row("i6_temperature_mixture", temperatureMixture, temperatureMixtureSql),
    Row("i4_image_ahash", imageAhash, imageAhashSql),
    Row("i6_curation_v4", curationV4, curationV4Sql),
    Row("i6_curation_v5", curationV5, curationV5Sql),
    Row("i2_fuzzy_dedup_e2e", fuzzyDedupE2e, fuzzyDedupE2eSql),
    Row("i2_minhash_lsh_candidates", minhashCandidates, minhashCandidatesSql),
    Row("i2_sig_verified_pairs", sigVerifiedPairs, sigVerifiedPairsSql),
    Row("i2_minhash_containment", minhashContainmentGate, minhashContainmentSql),
    Row("i2_simhash_pairs", simhashPairs, simhashPairsSql),
    Row("i2_simhash_containment", simhashContainmentGate, simhashContainmentSql),
    Row("i2_embedding_neardup", embeddingNearDups, embeddingNearDupsSql),
    Row("i2_neardup_blocked_gate", neardupBlockedGate, neardupBlockedGateSql),
    Row("i3_cosine_topk", cosineTopK, cosineTopKSql),
    Row("i3_sq8_topk", sq8TopK, sq8TopKSql),
    Row("i3_query_batch_topk", queryBatchTopK, queryBatchTopKSql),
    Row("i3_filtered_topk", filteredTopK, filteredTopKSql),
    Row("i3_ivf_serve_gate", ivfServeGate, serveGateSql),
    Row("i3_ivfpq_serve_gate", ivfPqServeGate, serveGateSql),
    Row("i3_lsh_ann_topk", lshAnn, lshAnnSql),
    Row("i3_lsh_auto_topk", lshAutoAnn, lshAutoAnnSql),
    Row("i3_lsh_recall_gate", lshRecallGate, recallGateSql),
    Row("i3_ivf_ann_topk", ivfAnn, ivfAnnSql),
    Row("i3_ivfpq_topk", ivfPqAnn, ivfPqAnnSql),
    Row("i3_ivf_recall_gate", ivfRecallGate, recallGateSql),
    Row("i3_pq_ann_topk", pqAnn, pqAnnSql),
    Row("i3_pq_recall_gate", pqRecallGate, recallGateSql),
    Row("i3_kmeans", kmeansClusters, kmeansClustersSql),
    Row("i2_semdedup", semDedup, semDedupSql),
    Row("i6_proto_prune", protoPrune, protoPruneSql),
    Row("i3_hard_negatives", hardNegatives, hardNegativesSql),
    Row("i6_snapshot_diff", snapshotDiff, snapshotDiffSql),
    Row("i3_bm25_topk", bm25TopK, bm25TopKSql),
    Row("i2_sorted_neighbors", sortedNeighbors, sortedNeighborsSql),
    Row("i6_expectations", expectations, expectationsSql),
    Row("i6_cluster_balance", clusterBalance, clusterBalanceSql),
    Row("i5_lang_id", langId, langIdSql),
    Row("i5_quality_score", qualityScore, qualityScoreSql),
    Row("i5_token_counts", tokenCounts, tokenCountsSql),
    Row("i5_fingerprints", fingerprints, fingerprintsSql),
    Row("i5_repetition", repetition, repetitionSql),
    Row("i4_multimodal_meta", multimodalMeta, multimodalMetaSql),
    Row("i5_quality_quantile_gate", qualityQuantileGate, qualityQuantileGateSql),
    Row("i6_dataset_split", datasetSplit, datasetSplitSql),
    Row("i6_split_leakage", splitLeakage, splitLeakageSql),
    Row("i6_corpus_curation", corpusCuration, corpusCurationSql),
    Row("i6_filter_attrition", filterAttrition, filterAttritionSql),
    Row("i6_doc_provenance", docProvenance, docProvenanceSql),
    Row("i6_stratified_cap", stratifiedCap, stratifiedCapSql),
    Row("i6_mixture_sample", mixtureSample, mixtureSampleSql),
    Row("i7_pii_scrub", piiScrub, piiScrubSql),
    Row("i7_decontamination", decontamination, decontaminationSql),
    Row("i7_chunk_windows", chunkWindows, chunkWindowsSql),
    Row("i7_pack_gate", packGate, packGateSql),
    Row("i7_token_shards", tokenShards, tokenShardsSql),
    Row("i5_vocab_stats", vocabStats, vocabStatsSql),
    Row("i5_langid_confusion", langIdConfusion, langIdConfusionSql),
    Row("i5_salient_terms", salientTerms, salientTermsSql),
    Row("i5_bigram_lm", bigramLm, bigramLmSql),
    Row("i5_lm_score", lmScore, lmScoreSql),
    Row("i2_dup_spans", dupSpans, dupSpansSql),
    Row("i2_span_cut", spanCut, spanCutSql),
    Row("i6_curation_v2", curationV2, curationV2Sql),
    Row("i7_decontam_spans", decontamSpans, decontamSpansSql),
    Row("i6_data_card", dataCard, dataCardSql),
    Row("i2_editdist_blocked", editdistBlocked, editdistBlockedSql),
    Row("d08_heavy_hitters", heavyHitters, heavyHittersSql),
    Row("i5_inverted_index", invertedIndex, invertedIndexSql),
    Row("i6_table_fingerprint", tableFingerprint, tableFingerprintSql),
    Row("i5_lr_quality_gate", lrQualityGate, lrQualityGateSql),
    Row("i6_dsir_weights", dsirWeights, dsirWeightsSql),
    Row("i5_bpe_stats", bpeStats, bpeStatsSql),
    Row("i5_bpe_train", bpeTrain, bpeTrainSql),
    Row("i5_bpe_encode_gate", bpeEncodeGate, bpeEncodeGateSql),
    Row("i6_token_budget", tokenBudget, tokenBudgetSql),
    Row("i7_blocklist", blocklist, blocklistSql),
    Row("i6_curation_v3", curationV3, curationV3Sql),
    Row("i5_lexical_diversity", lexicalDiversity, lexicalDiversitySql)
  )
}
