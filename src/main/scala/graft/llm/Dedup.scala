package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2 Group I, I1/I2): exact, n-gram
  * Jaccard, MinHash+LSH, SimHash-banded. Everything is shuffle-scalable —
  * no driver-side collection on the data path; candidate generation is
  * always blocked (by hash, shingle, band, or prefix) so the quadratic
  * all-pairs comparison never materializes at 100 TB.
  *
  * Every word/char-shingle near-dup tier is one `candidates → verify →
  * components → verdict` pipeline composed from five shared stages:
  *
  *  1. postings ([[postings]], [[sharedShingles]]): explode a doc's
  *     shingles, hash them to xxhash64 longs with a per-doc size window;
  *     group per shingle, cap, pair and count shared shingles.
  *     [[jaccardPairs]] and [[incrementalDedup]] run the whole stage;
  *     [[buildPostingIndex]] stores the postings and
  *     [[incrementalDedupFromIndex]] joins the batch's postings to them.
  *  2. signatures ([[signatures]]): the exchange sandwich around the
  *     MinHash kernel — [[minHashCandidates]], [[md5BandKeys]] (hence
  *     [[buildBandIndex]] and [[incrementalDedupFromBandIndex]]) and
  *     [[signatureVerifiedPairs]].
  *  3. band candidates ([[bandKeys]], [[bandPairs]]): one band-key column
  *     (md5 slice string or xx64 murmur) and one group-and-pair-then-
  *     distinct — [[minHashCandidates]] and [[signatureVerifiedPairs]];
  *     [[md5BandKeys]] and both `streaming.StreamDedup` streams use the
  *     band keys, so batch and stream agree bucket for bucket.
  *  4. hashed-shingle verify ([[shingleHashSets]], [[setJaccard]]):
  *     per-doc word-n-gram hash arrays and their intersect Jaccard —
  *     [[verifyPairsJaccard]] (hence [[sortedNeighborPairs]] and
  *     [[lshVerifiedPairs]]), [[buildBandIndex]] and
  *     [[incrementalDedupFromBandIndex]]. [[jaccardRatio]] is the one
  *     Jaccard column of every tier.
  *  5. verdict ([[verdicts]]): best match per batch doc joined back onto
  *     the batch — the three incremental tiers.
  *
  * Components ([[fuzzyDedupComponents]]) turn any tier's pairs into one
  * keep set.
  */
object Dedup {

  /** I1 — exact dedup by content hash: one hash-partitioned aggregation.
    * Returns one row per distinct content with the representative (minimum)
    * id and the duplicate count. */
  def exactDedupGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("representative_id"),
        count(lit(1)).as("n_copies"))

  /** End-to-end fuzzy dedup: near-dup PAIRS → connected components →
    * min-id representative per component. Pair generation alone is not a
    * dedup decision — transitive chains a~b~c must collapse into ONE keep
    * set, which is the components step
    * ([[graft.operators.ConnectedComponents.minLabel]]). Returns every
    * input id with its component (= the kept representative's id) and an
    * `is_representative` flag; filtering on the flag IS the deduped
    * corpus. */
  def fuzzyDedupComponents(
      df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    graft.operators.ConnectedComponents
      .minLabel(df.select(col(idCol).as("id")), pairs)
      .select(col("id").as(idCol), col("component"),
        (col("id") === col("component")).as("is_representative"))

  /** I1b — dedup against a REFERENCE set (blacklist / already-ingested
    * corpus) with a Bloom prefilter: build a Bloom filter over the
    * reference's content hashes (driver-side — the reference is the SMALL
    * side by contract), broadcast it inside a scan filter, and only the
    * surviving candidates (true matches + fpp false positives) reach the
    * exact semi-join. At 100 TB the corpus side never shuffles
    * non-candidates — the join input shrinks by ~the non-dup fraction —
    * while the semi-join keeps the output exact (no false positives
    * survive). This is the manual form of Spark's runtime bloom-filter
    * join, applied across pipelines where the optimizer can't see both
    * sides. Returns the corpus rows whose content appears in `reference`. */
  def dedupAgainstReference(
      corpus: DataFrame, reference: DataFrame,
      contentCol: String,
      expectedRefItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val hashed = corpus.withColumn("__h", md5(col(contentCol)))
    val refHashes = reference.select(md5(col(contentCol)).as("__ref_h"))
    val bloom = refHashes.stat.bloomFilter("__ref_h", expectedRefItems, fpp)
    val mightContain = udf((h: String) => h != null && bloom.mightContainString(h))
    // the verify join broadcasts: the reference already round-tripped
    // through the driver for the bloom build, so it fits by construction —
    // the semi-join then shuffles NOTHING (duplicates on the build side
    // are harmless to left_semi, so no distinct pass either)
    hashed.filter(mightContain(col("__h")))
      .join(broadcast(refHashes), col("__h") === col("__ref_h"), "left_semi")
      .drop("__h")
  }

  /** Drop exact duplicates, keeping the minimum-id row per content hash. */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(contentCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct character n-gram shingles of a text column (empty array for
    * texts shorter than n). */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** THE word tokenizer for every word-gram operator (shingles,
    * decontamination flag AND span variants, and their DuckDB oracles via
    * `regexp_split_to_array(text, ' +')`) — one definition so the flag
    * query and the spans query can never disagree about token boundaries. */
  private[llm] def words(text: Column): Column = split(text, " +")

  /** Distinct word n-gram shingles: far more selective than char shingles
    * on natural text (frequency ~ vocab^-n), which keeps the Jaccard
    * blocking join linear without an aggressive frequency cap.
    *
    * Built zip-style over shifted copies of ONE split array — the
    * `element_at(split(text), i+j)` formulation inlines a fresh `split`
    * into every element access (n splits per shingle, interpreted), which
    * profiled 100× slower. */
  def wordShingles(text: Column, n: Int): Column = {
    val words = Dedup.words(text)
    // fold: grams_1 = words; grams_k = zip_with(grams_{k-1}, drop(words,k-1), concat)
    val grams = (1 until n).foldLeft(words)((acc, k) =>
      zip_with(acc, slice(words, lit(k + 1), greatest(size(words) - k, lit(0))),
        (a, b) => concat_ws(" ", a, b)))
    when(size(words) >= n, array_distinct(slice(grams, lit(1), size(words) - (n - 1))))
      .otherwise(array().cast("array<string>"))
  }

  // ---- stage 1: postings ----

  /** One row per (doc, distinct shingle hash `sh`) with the doc's UNCAPPED
    * shingle-set size `n_sh`. `keys` name a doc (the first one is its id);
    * `shingler` runs once per doc behind a repartition on that id —
    * without the exchange barrier CollapseProject inlines the shingling
    * into every consumer branch. (UNPINNED width, unlike the sketch
    * kernels: shingling is cheap and the downstream pipeline benefits from
    * AQE's runtime re-planning — pinning measured 3× slower at sf0.1.)
    *
    * Shingles become 64-bit hashes before any blocking: halves the shuffle
    * width and makes the join key a long compare (collision probability
    * ~2^-64 per pair — far below float noise). The size rides along as a
    * count window over `keys` (reusing the barrier's partitioning) instead
    * of a separate branch, which would re-scan and re-shingle the corpus
    * per side, since ReuseExchange can't dedupe across AQE's broadcast
    * conversions. */
  private def postings(
      df: DataFrame, keys: Seq[Column], text: Column, n: Int,
      shingler: (Column, Int) => Column): DataFrame = {
    val shingled = df.select(keys :+ shingler(text, n).as("shingles"): _*)
    val ks = shingled.columns.init.toSeq.map(col)
    shingled.repartition(ks.head)
      .select(ks :+ explode(col("shingles")).as("sh_str"): _*)
      .select(ks :+ xxhash64(col("sh_str")).as("sh"): _*)
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(ks: _*)))
  }

  /** Group-and-pair over [[postings]] instead of a self-join: collect the
    * postings of each shingle and emit the pairs `keep` admits (over the
    * struct columns `a` and `b`) with a double explode. ONE evaluation of
    * the shingle pipeline (the self-join's two branches each recomputed it
    * — ReuseExchange can't dedupe across AQE broadcast conversion), the
    * frequency cap becomes a free size() filter on the collected list, and
    * per-shingle pair fan-out stays bounded by that same cap. Returns
    * (`left`, `right`, n_shared, na, nb).
    *
    * MEMORY CONTRACT: the per-shingle array is cap-bounded; with
    * `cap = None` the array (and the pair fan-out, in ANY formulation —
    * the O(n²) pairs dominate the O(n) array) is unbounded, so
    * large-corpus callers must set the cap (the verified queries use
    * 1000). Sizes come from before the cap (the oracle's denominator is
    * the full shingle-set size). */
  private def sharedShingles(
      posts: DataFrame, cap: Option[Int], keep: Column,
      left: String, right: String): DataFrame = {
    val grouped = posts.groupBy(col("sh"))
      .agg(collect_list(struct(
        posts.columns.filter(_ != "sh").toSeq.map(col): _*)).as("ds"))
    cap.map(c => grouped.filter(size(col("ds")) <= c)).getOrElse(grouped)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(keep)
      .groupBy(col("a.doc").as(left), col("b.doc").as(right))
      .agg(count(lit(1)).as("n_shared"),
        min(col("a.n_sh")).as("na"), // constant per doc; min = that value
        min(col("b.n_sh")).as("nb"))
  }

  // ---- stages 2 and 3: signatures and band candidates ----

  /** The MinHash signature of column `text`. The md5 family is always
    * char shingles through the fused shingle+md5 kernel (round-15: no
    * shingle-array materialization; bit-parity with
    * `md5MinHashSig(charShingles(text, n), k)` pinned by HashExprsSpec) —
    * the form the DuckDB oracle recomputes. The xx64 family hashes
    * `shingler`'s shingles. */
  private[graft] def signatureOf(
      text: Column, shingleN: Int, k: Int, md5: Boolean,
      shingler: (Column, Int) => Column = charShingles): Column =
    if (md5) graft.functions.HashExprs.md5MinHashSigText(text, shingleN, k)
    else minHashSignature(shingler(text, shingleN), k)

  /** (doc, sig) behind the exchange sandwich around the signature kernel:
    *  - the FIRST exchange spreads docs across cores (a small parquet file
    *    scans as one partition; the kernel is ~0.7 ms/doc and would run
    *    single-threaded below it);
    *  - the SECOND exchange materializes signatures once by doc for every
    *    consumer branch.
    * The length prefilter replaces `size(sig) > 0`, which would be
    * predicate-pushed below both exchanges and re-inline the kernel into
    * the scan. (Round-robin then hash: two IDENTICAL repartitions would be
    * merged by CollapseRepartition, collapsing the sandwich.) */
  private def signatures(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int, k: Int,
      md5: Boolean = true,
      shingler: (Column, Int) => Column = charShingles): DataFrame =
    df.select(col(idCol).as("doc"), col(textCol).as("text"))
      .filter(length(col("text")) >= shingleN)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc"),
        signatureOf(col("text"), shingleN, k, md5, shingler).as("sig"))
      .repartition(Par.of(df), col("doc"))

  /** The band keys of a `sig` column as a (band_idx, key) generator: k/nBands
    * components per band. md5 family: the key is the signature slice
    * ITSELF as a string — murmur3 band hashes would be engine-internal and
    * forfeit the oracle; xx64: murmur3 of the slice, salted by the band
    * index. band_idx rides in every group key, so cross-band collisions
    * don't exist in either form. */
  private[graft] def bandKeys(k: Int, nBands: Int, md5: Boolean): Column = {
    val r = k / nBands
    posexplode(transform(sequence(lit(0), lit(nBands - 1)), j => {
      val band = slice(col("sig"), j * r + 1, lit(r))
      if (md5) concat_ws(",", transform(band, x => x.cast("string")))
      else hash(concat_ws(",", band), j)
    }))
  }

  /** Candidate pairs (doc_a < doc_b) of docs sharing a band of their
    * signatures. Group-and-pair instead of a self-join: the join's two
    * branches each re-ran the signature kernel (ReuseExchange can't dedupe
    * them under AQE); collecting each band bucket and double-exploding
    * pairs evaluates it once. Bucket fan-out is the same as the join's —
    * both colocate a bucket's candidates on one task, and a degenerate
    * bucket (near-identical corpus) is quadratic in EITHER formulation;
    * the bucket array itself is only O(bucket), 8 bytes/doc. */
  private def bandPairs(
      sigs: DataFrame, k: Int, nBands: Int, md5: Boolean): DataFrame =
    sigs.select(col("doc"),
      bandKeys(k, nBands, md5).as(Seq("band_idx", "band_hash")))
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(collect_list(col("doc")).as("ds"))
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      // CONTRACT: this terminal distinct() is load-bearing for the
      // single-pass containment-gate folds (minhashContainmentGate counts
      // left-join hits 1:1) — removing it would silently inflate
      // n_high_pairs and undercount n_missed downstream (r14 ADVICE)
      .distinct()

  // ---- stage 4: hashed-shingle verify ----

  /** |A∩B| / |A∪B| from `n_shared` and `total` = |A| + |B|: THE Jaccard
    * column of every tier. */
  private def jaccardRatio(total: Column): Column =
    col("n_shared").cast("double") / (total - col("n_shared")).cast("double")

  /** One row per doc (`doc`) with its word-n-gram shingles as an xxhash64
    * array (`sh`); docs without shingles (null/short text) are dropped. */
  private def shingleHashSets(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      doc: String, sh: String): DataFrame =
    df.select(col(idCol).as(doc),
      transform(wordShingles(col(textCol), n), g => xxhash64(g)).as(sh))
      .filter(size(col(sh)) > 0)

  /** Exact Jaccard of two hashed-shingle arrays per pair: `keys`,
    * n_shared (array intersect — a long compare), n_total and the ratio
    * as `name`. */
  private def setJaccard(
      pairs: DataFrame, keys: Seq[Column], a: Column, b: Column,
      name: String): DataFrame =
    pairs.select(keys :+ size(array_intersect(a, b)).as("n_shared") :+
      (size(a) + size(b)).as("n_total"): _*)
      .withColumn(name, jaccardRatio(col("n_total")))

  // ---- stage 5: verdict ----

  /** One VERDICT row per `batch` document from scored pairs
    * `(doc_q, doc_b, jac)`: `n_matches` base docs at ≥ `threshold`, the
    * best match (max Jaccard, ties → smallest base id via a single
    * lexicographic struct-max — no second pass), and `is_dup`. Documents
    * without pairs verdict clean. */
  private def verdicts(
      batch: DataFrame, idCol: String, pairs: DataFrame,
      threshold: Double): DataFrame = {
    // struct compare is lexicographic, so max(jac, -doc_b) is
    // (max Jaccard, then smallest base id on ties)
    val best = pairs.filter(col("jac") >= threshold)
      .groupBy(col("doc_q"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("jac").as("j"), (-col("doc_b")).as("negb")))
          .as("best"))
      .select(col("doc_q"), col("n_matches"),
        (-col("best.negb")).as("best_match"),
        col("best.j").as("best_jaccard"))
    batch.select(col(idCol).as("doc_id"))
      .join(best, col("doc_id") === col("doc_q"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match"), col("best_jaccard"),
        col("doc_q").isNotNull.as("is_dup"))
  }

  // ---- tiers ----

  /** I2a — n-gram Jaccard near-dup pairs: explode shingles, block on the
    * shingle (only pairs sharing ≥1 shingle are compared), count shared
    * shingles, compute |A∩B| / (|A|+|B|−|A∩B|). `maxShingleFreq` drops
    * ultra-common shingles (stopword blocks) — the skew guard that keeps
    * the blow-up bounded on skewed corpora. */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      threshold: Double = 0.5,
      maxShingleFreq: Option[Int] = None,
      shingler: (Column, Int) => Column = charShingles): DataFrame =
    sharedShingles(
      postings(df, Seq(col(idCol).as("doc")), col(textCol), n, shingler),
      maxShingleFreq, col("a.doc") < col("b.doc"), "doc_a", "doc_b")
      .withColumn("jaccard", jaccardRatio(col("na") + col("nb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"))

  /** I2i — INCREMENTAL dedup: near-dup verdicts for a new `batch` of
    * documents against an existing `base` corpus, without pairing the
    * base against itself. This is the production shape at 100 TB — a
    * daily increment is deduped against the standing corpus; re-pairing
    * the corpus (what [[jaccardPairs]] over the union would do) re-pays
    * the full O(corpus²-per-block) bill for every batch, while the
    * cross-only restriction pays O(batch·block). The per-shingle grouped
    * index built on the base side here is exactly the artifact a real
    * pipeline persists between increments (shingle-hash → posting list);
    * the batch's exploded shingles join it on one co-keyed exchange.
    *
    * Semantics match [[jaccardPairs]] (word-n-gram Jaccard, sizes over
    * the UNCAPPED shingle sets, frequency cap over base+batch combined —
    * the stopword-block skew guard), restricted to batch×base pairs.
    * Output is one [[verdicts]] row per batch document. */
  def incrementalDedup(
      base: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxShingleFreq: Option[Int] = Some(1000),
      shingler: (Column, Int) => Column = wordShingles): DataFrame = {
    def side(df: DataFrame, isBatch: Boolean) = df.select(
      col(idCol).as("doc"), col(textCol).as("t"), lit(isBatch).as("is_batch"))
    val tagged = side(base, isBatch = false)
      .unionByName(side(batch, isBatch = true))
    // postings keyed by (doc, is_batch), not doc alone: an id appearing on
    // BOTH sides must not merge its two shingle counts — base and batch id
    // spaces are allowed to overlap
    val pairs = sharedShingles(
      postings(tagged, Seq(col("doc"), col("is_batch")), col("t"), n, shingler),
      maxShingleFreq, col("a.is_batch") && !col("b.is_batch"),
      "doc_q", "doc_b")
      .withColumn("jac", jaccardRatio(col("na") + col("nb")))
    verdicts(batch, idCol, pairs, threshold)
  }

  /** I2i-INDEX — the PERSISTED form of the incremental-dedup base side:
    * one row per (shingle-hash, base doc) with the doc's UNCAPPED shingle
    *-set size and the shingle's base posting count. Written bucketed on
    * `sh` ([[graft.sinks.Bucketing.writeBucketed]]), increment N+1 joins
    * it EXCHANGE-FREE on the stored side — the re-pairing cost that
    * [[incrementalDedup]] pays per batch (re-exploding and re-shuffling
    * the standing corpus) is paid once at index build and amortized over
    * every increment. The posting count is stored rather than pre-capped
    * so one index serves any downstream frequency cap. */
  def buildPostingIndex(
      base: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      shingler: (Column, Int) => Column = wordShingles): DataFrame =
    postings(base, Seq(col(idCol).as("doc")), col(textCol), n, shingler)
      .withColumn("sh_count", count(lit(1)).over(Window.partitionBy(col("sh"))))

  /** I2i-INDEX — near-dup verdicts for `batch` against a STORED
    * [[buildPostingIndex]] frame. Same verdict shape as
    * [[incrementalDedup]]; the one semantic difference is the frequency
    * cap, which here applies to the BASE posting length alone (an index
    * built today cannot know tomorrow's batch — the production contract;
    * batch-side fan-out stays bounded because the batch is the small side
    * by definition). The batch explodes once, shuffles once to the
    * index's bucket partitioning, and the standing corpus never moves. */
  def incrementalDedupFromIndex(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxShingleFreq: Option[Int] = Some(1000),
      shingler: (Column, Int) => Column = wordShingles): DataFrame = {
    val idx = maxShingleFreq
      .map(cap => index.filter(col("sh_count") <= cap))
      .getOrElse(index)
      .select(col("sh"), col("doc").as("doc_b"), col("n_sh").as("nb"))
    val pairs = postings(batch, Seq(col(idCol).as("doc_q")), col(textCol), n, shingler)
      .join(idx, Seq("sh"))
      .groupBy(col("doc_q"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("n_sh")).as("na"), min(col("nb")).as("nb"))
      .withColumn("jac", jaccardRatio(col("na") + col("nb")))
    verdicts(batch, idCol, pairs, threshold)
  }

  /** The (doc, band_key) frame for the persisted BAND index and its batch
    * probe: md5-MinHash [[signatures]] (char-`shingleN` shingles, k
    * components) sliced into `nBands` bands; band_key =
    * "band_idx:slice-string", so one string column carries the whole
    * blocking key (a single-column key both buckets and equi-joins
    * cleanly). */
  private[graft] def md5BandKeys(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, nBands: Int): DataFrame =
    signatures(df, idCol, textCol, shingleN, k)
      .select(col("doc"), bandKeys(k, nBands, md5 = true).as(Seq("band_idx", "band")))
      .select(col("doc"),
        concat_ws(":", col("band_idx"), col("band")).as("band_key"))

  /** I2i-BAND — the banded variant of the persisted index: instead of raw
    * shingle postings (whose per-shingle lists lengthen as a bounded
    * vocabulary saturates — the [[buildPostingIndex]] serve-side fan-out
    * measured at 16×), the stored artifact is (band_key, doc) rows from
    * the md5-MinHash band family plus a per-doc word-n-gram feature table
    * for the exact verify. A band bucket's posting length tracks the
    * near-dup FAMILY size (docs agreeing on a full signature slice), not
    * corpus-wide term frequency, so serve-side candidate fan-out stays
    * bounded on vocabularies that saturate shingle postings. Returns
    * (bands, feats): write both through `Bucketing.writeBucketed` —
    * bands on band_key, feats on doc_b — and increment N+1 probes them
    * exchange-free on the stored side. */
  def buildBandIndex(
      base: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, k: Int = 64, nBands: Int = 16,
      n: Int = 3): (DataFrame, DataFrame) = {
    val bands = md5BandKeys(base, idCol, textCol, shingleN, k, nBands)
      .select(col("band_key"), col("doc").as("doc_b"))
    (bands, shingleHashSets(base, idCol, textCol, n, "doc_b", "sh"))
  }

  /** Near-dup verdicts for `batch` against a STORED [[buildBandIndex]]
    * pair of tables — same verdict shape as [[incrementalDedupFromIndex]]
    * (n_matches / best_match at max-Jaccard-then-min-id / is_dup), with
    * candidate generation by band-key probe instead of shingle postings:
    * the batch computes its own md5-MinHash band keys, equi-joins the
    * stored band index (bucketed on band_key — the stored side never
    * moves), dedups candidate ID PAIRS, then verifies exactly against the
    * stored feature table (bucketed on doc_b — also exchange-free).
    * Candidates are band collisions, so recall follows the MinHash
    * S-curve rather than the postings' frequency cap — the two stored
    * tiers trade those contracts. */
  def incrementalDedupFromBandIndex(
      bandIndex: DataFrame,
      feats: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val candIds = md5BandKeys(batch, idCol, textCol, shingleN, k, nBands)
      .select(col("doc").as("doc_q"), col("band_key"))
      .join(bandIndex, Seq("band_key"))
      .select(col("doc_q"), col("doc_b"))
      .distinct() // a pair colliding in several bands counts once
    val pairs = setJaccard(
      candIds
        .join(feats.select(col("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .join(shingleHashSets(batch, idCol, textCol, n, "doc_q", "sh_q"),
          Seq("doc_q")),
      Seq(col("doc_q"), col("doc_b")), col("sh_q"), col("sh_b"), "jac")
    verdicts(batch, idCol, pairs, threshold)
  }

  /** I2h — sorted-neighborhood near-dup pairs (Hernández & Stolfo's
    * sorted-neighborhood method, SIGMOD 1995 — public literature): sort
    * the corpus by a cheap clustering key (text prefix here — near-dups
    * from truncation/edit share it), compare each document only to its
    * `window` successors in the global sort order, then verify candidates
    * with the exact word-n-gram Jaccard. A third blocking family next to
    * shingle blocking and MinHash-LSH: candidate count is EXACTLY
    * `window·N` by construction — no skew sensitivity at all, the
    * guarantee the frequency-capped families can't give — at the price of
    * recall limited to what the sort key co-locates.
    *
    * Scale design: the global rank comes from [[graft.operators.GlobalRank]]
    * (range partition + zipWithIndex — no single-partition window); the
    * neighbor self-join is an equi-join on `rank div window` blocks (the
    * right side emits its own and its predecessor block, so every ≤window
    * pair meets in exactly one block); shingle sets are built once and
    * joined to the w·N candidate pairs by doc id. */
  def sortedNeighborPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      keyPrefixLen: Int = 24,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val base = df.filter(col(textCol).isNotNull)
    // rank only the narrow (doc, key) projection: the full text never
    // rides the range exchange or the zipWithIndex Row round-trip
    // (ranking the text-carrying rows measured ~2x slower at sf0.1);
    // shingles join back by doc id from a pruned re-scan of the source
    val ranked = graft.operators.GlobalRank
      .withGlobalRank(
        base.select(col(idCol).as("doc"),
          substring(trim(col(textCol)), 1, keyPrefixLen).as("sk")),
        "rn", col("sk"), col("doc"))
      .localCheckpoint() // both candidate-join sides read it
    // integer `div` (not `/` + cast): double division drops rank
    // precision past 2^53 rows
    val a = ranked.select(col("doc").as("ia"), col("rn").as("rn_a"),
      expr(s"rn div $window").as("blk"))
    val b = ranked.select(col("doc").as("ib"), col("rn").as("rn_b"),
      explode(array(expr(s"rn div $window"),
        expr(s"rn div $window - 1"))).as("blk"))
    val cand = a.join(b, Seq("blk"))
      .filter(col("rn_b") > col("rn_a") && col("rn_b") <= col("rn_a") + window)
      .select(least(col("ia"), col("ib")).as("ca"),
        greatest(col("ia"), col("ib")).as("cb"))
    verifyPairsJaccard(base, idCol, textCol, cand, n, threshold)
  }

  /** Exact word-n-gram Jaccard verify over candidate id pairs
    * `cand(ca, cb)` (ca < cb): [[shingleHashSets]] sit behind a
    * repartition barrier so ReusedExchange materializes the shingling
    * ONCE for both join sides; feature bytes cross the shuffle once per
    * side regardless of candidate multiplicity. Shared verify stage of
    * every blocked pair family ([[sortedNeighborPairs]],
    * [[lshVerifiedPairs]]). */
  private[graft] def verifyPairsJaccard(
      base: DataFrame, idCol: String, textCol: String, cand: DataFrame,
      n: Int, threshold: Double): DataFrame = {
    // NOT localCheckpoint-pinned (round-14 measured): pinning `sh` here
    // took i2_canonical_keep_lsh from 6.2 s to 24.3 s — the checkpointed
    // LogicalRDD loses size statistics, so both attach joins degrade from
    // broadcast to sort-merge, and the eager materialization serializes a
    // DAG whose duplicated branches otherwise run concurrently on idle
    // cores. The exchange barrier + ReuseExchange shape stays.
    val sh = shingleHashSets(base, idCol, textCol, n, "doc", "sh")
      .repartition(col("doc"))
    setJaccard(
      cand
        .join(sh.select(col("doc").as("ca"), col("sh").as("sh_a")), Seq("ca"))
        .join(sh.select(col("doc").as("cb"), col("sh").as("sh_b")), Seq("cb")),
      Seq(col("ca").as("doc_a"), col("cb").as("doc_b")),
      col("sh_a"), col("sh_b"), "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"))
  }

  /** I2k — LSH-verified near-dup pairs: md5-MinHash-LSH candidates
    * ([[minHashCandidates]], linear in corpus size via band blocking)
    * verified with the exact word-n-gram Jaccard. The third pair substrate
    * next to the exact tier ([[jaccardPairs]], all shingle-sharing pairs)
    * and the sorted-neighborhood tier ([[sortedNeighborPairs]], prefix-sort
    * co-location): unlike prefix blocking, MinHash collision probability
    * depends only on CONTENT overlap — a near-dup whose first sentence was
    * rotated or prepended still collides (the S-curve at k=64/16 bands
    * gives ≥ j⁴-per-band collision for content-Jaccard j, miss ≈ (1−j⁴)¹⁶
    * ≈ 1.2% at j = 0.7) — so recall survives prefix-divergent edits that
    * the sort key scatters. The md5 family is a pure function of the data,
    * so candidates, verified pairs, and everything downstream carry a full
    * cross-engine hash oracle. */
  def lshVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16): DataFrame = {
    val base = df.filter(col(textCol).isNotNull)
    val cand = minHashCandidates(df, idCol, textCol, shingleN, k, nBands,
      hashFamily = "md5")
      .select(col("doc_a").as("ca"), col("doc_b").as("cb"))
    verifyPairsJaccard(base, idCol, textCol, cand, n, threshold)
  }

  /** MinHash signature column: k independent hash functions
    * `h_i(s) = (a_i·xxhash64(s) + b_i) mod p` folded with min over the
    * shingle set. Computed entirely inside one projection (no explode, no
    * shuffle) by the fused [[graft.functions.MinHashSigExpr]] kernel — the
    * nested-`transform` formulation re-dispatched per (hash × shingle) and
    * was 500× slower at sf0.1. */
  def minHashSignature(shingles: Column, k: Int = 64): Column =
    graft.functions.HashExprs.minHashSig(shingles, k)

  /** I2b — MinHash+LSH candidate pairs: [[signatures]] → `nBands` band
    * keys → [[bandPairs]]. Two docs are candidates iff at least one band
    * matches; with k=64, r=4 the usual S-curve applies. Band blocking keeps
    * the pairing linear in corpus size.
    *
    * `hashFamily`: `"xx64"` (default — xxhash64 base hashes over
    * `shingler`'s shingles + murmur3 band hashes, the cheap production
    * family, engine-internal) or `"md5"` (char shingles through the fused
    * md5 kernel + the signature-slice STRING as the band key — ~10×
    * costlier per shingle but bit-for-bit recomputable by any engine with
    * md5, which upgrades the verified row from a containment gate to a
    * full hash oracle; `shingler` does not apply). */
  def minHashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      shingler: (Column, Int) => Column = charShingles,
      hashFamily: String = "xx64"): DataFrame = {
    require(hashFamily == "xx64" || hashFamily == "md5",
      s"unknown hashFamily '$hashFamily' (expected xx64 or md5)")
    val md5 = hashFamily == "md5"
    bandPairs(signatures(df, idCol, textCol, shingleN, k, md5, shingler),
      k, nBands, md5)
  }

  /** Estimated Jaccard from two MinHash signatures (fraction of equal
    * components). */
  def minHashSimilarity(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / size(sigA).cast("double")

  /** I2 signature-only verified tier: MinHash-LSH candidates verified with
    * the signature-ESTIMATED Jaccard instead of the exact word-n-gram set
    * join ([[lshVerifiedPairs]]). Verification cost is O(k) integer
    * compares per candidate and re-attaches only the two k-int signatures
    * by id — no text features cross the verify shuffle at all. This is the
    * tier large corpus-dedup pipelines actually run at 100 TB (dedupe by
    * estimated similarity; the exact-verify tier stays as the audit pass):
    * precision follows the MinHash estimator's ±1/sqrt(k) error, which the
    * emitted `est_jaccard` makes visible downstream.
    *
    * md5 family throughout, so candidates AND estimates are bit-for-bit
    * recomputable by the oracle — `i2_sig_verified_pairs` carries a full
    * DuckDB hash oracle (est = matches/k, an exact small-int ratio). */
  def signatureVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(k % nBands == 0, s"k=$k must divide into nBands=$nBands")
    // localCheckpoint, not just the exchange sandwich: the round-14 plan
    // audit showed the intended ReuseExchange never fired — the band
    // branch and BOTH verify attachments each re-ran the md5 signature
    // kernel (3 parquet scans + 3 kernel projections in the executed
    // plan). Pinning the signatures materializes the ~10×-per-shingle md5
    // family exactly once; the frame is one k-int array per doc, the same
    // bytes the old exchange already spilled.
    val sigs = signatures(df, idCol, textCol, shingleN, k).localCheckpoint()
    // id pairs cross the candidate shuffle; each side's signature attaches
    // once per id (the round-11 LSH-join discipline: payloads per side,
    // not per collision)
    bandPairs(sigs, k, nBands, md5 = true)
      .join(sigs.select(col("doc").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc").as("doc_b"), col("sig").as("sb")), "doc_b")
      .withColumn("est_jaccard", minHashSimilarity(col("sa"), col("sb")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /** I2d — embedding-cosine near-dup pairs: documents whose embedding
    * cosine similarity meets `threshold` (quantized-integer dot products —
    * bit-identical across engines, see [[Similarity.quantize]]).
    *
    * `blocked = false` is the exact all-pairs path: |corpus|² dot products
    * via a broadcast join — the oracle-checkable baseline, usable when one
    * side fits in memory. `blocked = true` routes candidate generation
    * through hyperplane-LSH buckets first (linear in corpus size, the
    * 100 TB path) and verifies candidates exactly — recall follows the
    * (1 − θ/π)^planes collision curve, so it is a superset-of-threshold
    * MISS-tolerant approximation, not an exact join. */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blocked: Boolean = false,
      nPlanes: Int = 8,
      nTables: Int = 4): DataFrame = {
    def cosFilter(pairs: DataFrame): DataFrame = pairs
      .withColumn("cos_sim",
        when(col("qna") * col("qnb") > 0d,
          graft.functions.ArrayOps.longArrayDot(col("qva"), col("qvb")).cast("double")
            / (col("qna") * col("qnb"))).otherwise(lit(null)))
      .filter(col("cos_sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cos_sim"))
    if (!blocked) {
      val base = df.select(col(idCol).as("doc"), Similarity.quantize(col(vecCol)).as("qv"))
        .withColumn("qn",
          sqrt(graft.functions.ArrayOps.longArrayDot(col("qv"), col("qv")).cast("double")))
      val a = base.select(col("doc").as("doc_a"), col("qv").as("qva"), col("qn").as("qna"))
      val b = base.select(col("doc").as("doc_b"), col("qv").as("qvb"), col("qn").as("qnb"))
      cosFilter(a.join(broadcast(b), col("doc_a") < col("doc_b")))
    } else {
      // same exchange-sandwich shape as lshTopK: features computed once
      // behind a barrier, buckets exploded, equi-join per (table, bucket)
      val feat = df.select(
        (Seq(col(idCol).as("doc"), Similarity.quantize(col(vecCol)).as("qv")) ++
          (0 until nTables).map(t =>
            Similarity.lshBucket(col(vecCol), nPlanes, t).as(s"b_$t"))): _*)
        .withColumn("qn",
          sqrt(graft.functions.ArrayOps.longArrayDot(col("qv"), col("qv")).cast("double")))
        .repartition(Par.of(df), col("doc"))
      val expl = feat.select(col("doc"), col("qv"), col("qn"),
        posexplode(array((0 until nTables).map(t => col(s"b_$t")): _*))
          .as(Seq("tbl", "bucket")))
      val other = expl.select(col("doc").as("doc_b"), col("qv").as("qvb"),
        col("qn").as("qnb"), col("tbl"), col("bucket"))
      val cand = expl.join(other, Seq("tbl", "bucket"))
        .filter(col("doc") < col("doc_b"))
        .select(col("doc").as("doc_a"), col("qv").as("qva"), col("qn").as("qna"),
          col("doc_b"), col("qvb"), col("qnb"))
        .distinct() // a pair colliding in several tables counts once
      cosFilter(cand)
    }
  }

  /** SemDeDup — cluster-scoped semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space, then look for
    * near-duplicate pairs ONLY within each cluster. Clustering is the
    * candidate-blocking step: the quadratic pair search runs per cluster
    * (Σ nᶜ² work, distributed across clusters) instead of n² globally —
    * at 100 TB k scales with the corpus (the paper uses k=50,000 on
    * LAION) so the per-cluster pair set stays bounded while the cluster
    * self-join shuffles once on the cluster id.
    *
    * Drop rule (the deterministic greedy form): a document is dropped iff
    * some SMALLER-id document in the same cluster has cosine ≥ threshold
    * with it. Min-id-wins collapses transitive chains a~b~c to the single
    * smallest id without a components pass, and the kept set is a pure
    * function of the data — re-runs and repartitions keep the same corpus.
    * Exact integer dot products on the 1e-6 quantized grid (same
    * arithmetic as [[embeddingNearDups]]) keep the threshold comparison
    * engine-exact.
    *
    * Returns one row per input: (idCol, cluster_id, kept). Rows whose
    * embedding is null never enter the clustering ([[KMeans.fit]] skips
    * null vectors) and come back with cluster_id = null, kept = true. */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, updates: Int, threshold: Double): DataFrame = {
    val asg = KMeans.fit(df, idCol, vecCol, k, updates)
      .select(col(idCol).as("vid"), col("cluster"))
    val base = df.select(col(idCol).as("vid"),
      Similarity.quantize(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(
        graft.functions.ArrayOps.longArrayDot(col("qv"), col("qv")).cast("double")))
    // one partitioned frame reused three times (both self-join sides + the
    // final flag join): checkpoint so the kmeans-assign kernel and the
    // vid join run once, and the cluster partitioning is reused in place.
    // Left join keeps null-embedding rows (cluster = null); the cluster
    // equi-join below never matches null keys, so they skip the pair
    // search and surface as kept.
    val feat = base.join(asg, Seq("vid"), "left")
      .repartition(Par.of(df), col("cluster"))
      .localCheckpoint()
    val a = feat.select(col("cluster"), col("vid").as("va"),
      col("qv").as("qva"), col("qn").as("qna"))
    val b = feat.select(col("cluster"), col("vid").as("vb"),
      col("qv").as("qvb"), col("qn").as("qnb"))
    val dupIds = a.join(b, Seq("cluster"))
      .filter(col("va") < col("vb"))
      .filter(col("qna") * col("qnb") > 0d &&
        graft.functions.ArrayOps.longArrayDot(col("qva"), col("qvb")).cast("double")
          / (col("qna") * col("qnb")) >= threshold)
      .select(col("vb").as("vid")).distinct()
    feat.select(col("vid"), col("cluster"))
      .join(dupIds.withColumn("__dup", lit(1)), Seq("vid"), "left")
      .select(col("vid").as(idCol),
        col("cluster").cast("long").as("cluster_id"),
        col("__dup").isNull.as("kept"))
  }

  /** Exact bit-partition of the 64-bit fingerprint into `c` chunks:
    * (shift, mask) per chunk, widths differing by at most one bit so every
    * bit is covered and every shift stays < 64 (a `shiftright` ≥ 64 aliases
    * under Java's shift-mask semantics). */
  private def chunkSpec(c: Int): Seq[(Int, Long)] = {
    val base = 64 / c
    val extra = 64 % c
    val widths = Seq.tabulate(c)(i => if (i < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths).map { case (shift, w) =>
      (shift, if (w >= 64) -1L else (1L << w) - 1)
    }
  }

  /** Sketch clusters: one row per DISTINCT 64-bit fingerprint with the doc
    * ids bearing it. Joining clusters instead of docs is the first skew
    * guard: a near-dup-heavy corpus (the whole point of dedup) collapses
    * its identical-sketch masses into single rows, so the blocking join
    * below scales with distinct sketches, not documents. `collect_set`
    * (not `collect_list`): a fully duplicated input row (same id AND text)
    * lands in the same cluster and would otherwise appear twice in `docs`,
    * making BOTH the intra-cluster pair expansion and the band-join
    * expansion emit the same (doc_a, doc_b) pair once per occurrence. */
  private def simClusters(df: DataFrame, idCol: String, textCol: String,
      hashFamily: String = "xx64"): DataFrame = {
    val sketch =
      if (hashFamily == "md5")
        graft.functions.HashExprs.md5SimHash64(split(col(textCol), " +"))
      else TextAnalysis.simHash(col(textCol))
    // null text cannot be fingerprinted — drop it rather than clustering
    // every missing document into one hamming-0 "identical" mass (the
    // jaccardPairs convention: no shingles, no pairs)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"), sketch.as("sim"))
      .repartition(Par.of(df), col("sim")) // barrier: compute the sketch exactly once
      .groupBy(col("sim")).agg(collect_set(col("doc")).as("docs"))
  }

  /** I2c — SimHash near-dup pairs: identical-sketch clusters emit their
    * pairs directly (Hamming 0), distinct sketches go through banded
    * blocking + exact Hamming verification. The bands are `maxHamming + 1`
    * disjoint chunks of the fingerprint: a pair within the radius leaves
    * ≥ 1 chunk untouched, so blocking is containment-exact by pigeonhole
    * and the output equals the all-pairs result at any radius. Each true
    * pair is rediscovered at most `maxHamming + 1` times, which keeps
    * near-dup-heavy corpora (candidates dominated by true pairs) cheap;
    * pair DEDUP happens on (sim, sim_b) before the cluster expansion, so
    * multi-band collisions never re-expand. */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      hashFamily: String = "xx64"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64): $maxHamming")
    require(hashFamily == "xx64" || hashFamily == "md5",
      s"unknown hashFamily '$hashFamily' (expected xx64 or md5)")
    val clusters = simClusters(df, idCol, textCol, hashFamily)
    // identical sketches: all pairs, Hamming 0 (output-sized by contract)
    val intra = clusters
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        lit(0).as("hamming"))
    // distinct sketches: band-join cluster reps, verify, THEN expand
    val chunks = chunkSpec(maxHamming + 1).map { case (shift, mask) =>
      call_function("shiftright", col("sim"), lit(shift)).bitwiseAND(lit(mask))
    }
    val bands = clusters.select(col("sim"), col("docs"),
      posexplode(array(chunks: _*)).as(Seq("band_idx", "band")))
    val other = bands.select(col("sim").as("sim_b"), col("docs").as("docs_b"),
      col("band_idx"), col("band"))
    val inter = bands.join(other, Seq("band_idx", "band"))
      .filter(col("sim") < col("sim_b"))
      .select(col("sim"), col("sim_b"), col("docs"), col("docs_b"),
        TextAnalysis.hammingDist(col("sim"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("sim", "sim_b")
      .select(explode(col("docs")).as("a"), col("docs_b"), col("hamming"))
      .select(col("a"), explode(col("docs_b")).as("b"), col("hamming"))
      // a doc id duplicated with DIFFERENT text sits in two clusters; the
      // expansion would pair it with itself — drop such degenerate pairs
      // (the old self-join's doc < doc_b guard made them impossible)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("hamming"))
    intra.unionByName(inter)
  }

  /** I2g — exact-substring duplicated-span report (the hash-based
    * approximation of suffix-array substring dedup): every maximal region
    * of ≥ `k` consecutive characters that also occurs elsewhere in the
    * corpus, reported per document as [span_start, span_end] (1-based,
    * inclusive) so a curation pass can CUT the span rather than drop the
    * whole document. Three shuffles total: shingle-match, per-doc island
    * merge, span aggregate. A globally hot shingle (boilerplate header
    * repeated millions of times at 100 TB) skews the match shuffle — cap
    * it upstream with a frequency filter when only cross-doc spans
    * matter. */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50): DataFrame = {
    val t = col(textCol)
    // every k-char shingle POSITION with the shingle's 64-bit hash:
    // |rows| = total chars, the linear-in-corpus cost this method trades
    // against a suffix array. The raw k-char substring never crosses the
    // exchange — the dup decision shuffles an 8-byte proxy per position
    // instead of the k-byte payload (guide §8 / §2.3: decide with small
    // rows, re-attach the heavy bytes only for the survivors), which cuts
    // the match shuffle ~3× at k=50.
    val hashed = df.filter(length(t) >= k)
      .select(col(idCol).as("doc"), t.as("t"),
        explode(sequence(lit(1), length(t) - (k - 1))).as("pos"))
      .select(col("doc"), col("pos"),
        xxhash64(substr(col("t"), col("pos"), lit(k))).as("h"))
    // an occurrence is "duplicated" when its shingle appears anywhere else
    // (another doc OR another offset of the same doc). Stage 1 decides on
    // the HASH — a superset of the true dup set (collisions only ever ADD
    // candidates, never drop one), so stage 2 re-attaches the real
    // substring for the output-sized candidate set and re-counts exactly:
    // every occurrence of a candidate's shingle is itself a candidate
    // (same hash), so the within-candidate count equals the global count
    // and the result is bit-identical to counting raw strings.
    val candPos = hashed
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("cnt") > 1)
      .select(col("doc"), col("pos"))
    // CONTRACT: `idCol` must be unique per document (every caller passes a
    // primary key) — a duplicated id would multiply candidate rows through
    // this re-attach join (r14 ADVICE)
    val cand = candPos
      .join(df.select(col(idCol).as("doc"), t.as("t")), Seq("doc"))
      .select(col("doc"), col("pos"), substr(col("t"), col("pos"), lit(k)).as("s"))
    val marked = cand
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("cnt") > 1)
      .select(col("doc"), col("pos"))
    // coalesce overlapping/touching [pos, pos+k-1] hits into maximal spans
    Islands.merge(marked, "doc", "pos", k)
      .select(col("doc").as(idCol), col("span_start"), col("span_end"),
        col("n_hits").as("n_shingles"))
  }

  /** I2g — cut the [[duplicatedSpans]] out of each document and return the
    * cleaned text's length + md5: the "remove boilerplate, keep the
    * document" transform. Spans per doc are disjoint and sorted (islands
    * by construction), so a single `aggregate` fold over the span array
    * rebuilds the kept segments in one pass — no per-row loop leaves the
    * executors, and the cleaned text itself never ships to the driver
    * (only its hash/length do). */
  def cutDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50): DataFrame =
    cleanedText(df, idCol, textCol, k)
      .select(col(idCol),
        length(col("clean")).as("clean_len"),
        md5(col("clean").cast("binary")).as("clean_md5"))

  /** The cut itself: one row per input document with its duplicated spans
    * excised into a `clean` text column (documents without spans pass
    * through unchanged). Kept separate from [[cutDuplicatedSpans]] so
    * pipelines can keep transforming the cleaned text distributedly. */
  def cleanedText(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      keepOriginal: Boolean = false): DataFrame = {
    val perDoc = duplicatedSpans(df, idCol, textCol, k)
      .groupBy(col(idCol).as("doc"))
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("sp"))
    val joined = df.select(col(idCol).as("doc"), col(textCol).as("t"))
      .join(perDoc, Seq("doc"), "left")
    // fold state: p = next uncut position, acc = kept text so far
    val folded = aggregate(
      col("sp"),
      struct(lit(1).as("p"), lit("").as("acc")),
      (acc, s) => struct(
        (s.getField("span_end") + 1).as("p"),
        concat(acc.getField("acc"),
          substr(col("t"), acc.getField("p"),
            s.getField("span_start") - acc.getField("p"))).as("acc")),
      acc => concat(acc.getField("acc"),
        substr(col("t"), acc.getField("p"),
          length(col("t")) - acc.getField("p") + 1)))
    joined
      .withColumn("clean", when(col("sp").isNull, col("t")).otherwise(folded))
      // keepOriginal carries the pre-cut text through, so a composition
      // that also scores the ORIGINAL (curation v2's language gate)
      // doesn't need a second documents join — it's already here
      .select(Seq(col("doc").as(idCol)) ++
        (if (keepOriginal) Seq(col("t").as(textCol)) else Nil) :+
        col("clean"): _*)
  }

  /** I2f — edit-distance (Levenshtein) near-dup pairs inside a blocking
    * key: only documents sharing `blockCol` are compared, and the distance
    * runs over a bounded prefix so the per-pair cost is O(prefixLen²)
    * regardless of document length. Pair volume is Σ_block |block|² — at
    * 100 TB the block must be a high-selectivity key (an LSH band or
    * MinHash bucket from [[minHashCandidates]], not a raw category);
    * this operator is the VERIFY stage of candidate-then-verify, kept
    * key-generic so any blocking feeds it. */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      prefixLen: Int = 40,
      maxDist: Int = 24): DataFrame = {
    val t = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      substring(col(textCol), 1, prefixLen).as("prefix"))
    val right = t.select(col("block").as("block_b"), col("id").as("b_id"),
      col("prefix").as("b_prefix"))
    // REPARTITION the probe side: a compact input otherwise scans as one
    // partition and the whole O(Σ block²) Levenshtein bill lands on a
    // single core (measured 16 s → sub-second at sf0.1). The join side
    // stays unhinted: the planner broadcasts the prefix-only projection
    // when it fits and falls back to a shuffle join when it doesn't — a
    // forced broadcast() would hard-fail past the 8 GB broadcast limit on
    // exactly the corpora this operator's blocking contract targets.
    val probe = t.repartition(Par.of(df))
    // thresholded levenshtein: banded O(len·maxDist) with early exit,
    // returns -1 (filtered) past the threshold and the EXACT distance
    // within. The distance must NOT sit in the join condition: pushdown
    // would prepend it to the `id < b_id` conjunct (doubling the candidate
    // set it runs on) and the projection would recompute it. A fence
    // COLUMN doesn't survive (ColumnPruning drops it, then the filter
    // pushes), so the filter itself is fenced with a nondeterministic
    // identity — the distance then runs exactly once per canonical pair.
    probe.join(right,
        col("block") === col("block_b") && col("id") < col("b_id"))
      .select(col("id").as("a_id"), col("b_id"),
        levenshtein(col("prefix"), col("b_prefix"), maxDist).as("dist"))
      .filter(NonNegativeNoPushdown(col("dist")))
  }

  /** `x >= 0` as a nondeterministic UDF: fences the predicate from
    * `PushDownPredicates` (Catalyst only pushes deterministic filters) so
    * an expensive projected expression is not re-evaluated inside a join
    * condition. Boxed-null-tolerant on purpose — a primitive-Int UDF gets
    * an `if(isnull(e)) ... else f(knownnotnull(e))` wrapper that evaluates
    * the fenced expression twice, costing the very work the fence saves. */
  private val NonNegativeNoPushdown: Column => Column = {
    val geq0 = udf((i: java.lang.Integer) => i != null && i >= 0)
      .asNondeterministic()
    c => geq0(c)
  }
}
