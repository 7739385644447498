package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Semantic tests for the Group I operators whose hash functions have no
  * DuckDB oracle (MinHash/SimHash/LSH), plus the multimodal plumbing. */
class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 0
    (2L, "completely different content about spark query engines at scale"),
    (3L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (4L, "le chat noir dort dans la maison pres de la fenetre tranquille")
  ).toDF("doc_id", "text")

  test("I1 exact dedup keeps min-id representative") {
    val groups = Dedup.exactDedupGroups(docs, "doc_id", "text")
    assert(groups.count() == 4) // 0 and 3 collapse
    val rep = groups.filter(col("n_copies") === 2).head()
    assert(rep.getAs[Long]("representative_id") == 0L)
    val deduped = Dedup.exactDedup(docs, "doc_id", "text")
    assert(deduped.count() == 4)
    assert(deduped.filter(col("doc_id") === 3).count() == 0)
  }

  test("I2 fuzzy dedup e2e: components collapse transitive chains") {
    // chain 0~1, 1~3 with NO direct 0~3 pair: the dedup decision must
    // still collapse all three into component 0 (transitivity), while 2
    // and 4 stay their own representatives
    val pairs = Seq((0L, 1L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.fuzzyDedupComponents(docs, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(0L) == ((0L, true)))
    assert(out(1L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
    assert(out(2L) == ((2L, true)))
    assert(out(4L) == ((4L, true)))
    // an edge endpoint missing from the node set still participates (and
    // can WIN as the min label) instead of silently corrupting the fixpoint
    val stray = Seq((7L, 2L)).toDF("doc_a", "doc_b") // 7 is not a doc id
    val out2 = graft.operators.ConnectedComponents
      .minLabel(docs.select(col("doc_id").as("id")), stray).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2(7L) == 2L && out2(2L) == 2L)
    assert(out2(0L) == 0L)
  }

  test("I2 star contraction equals min-label on random graphs (property)") {
    import graft.operators.ConnectedComponents
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 8) {
      val n = 5 + rnd.nextInt(60)
      val nEdges = rnd.nextInt(2 * n)
      val ids = (0L until n.toLong)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val nodes = ids.toDF("id")
      val pairs = (if (edges.isEmpty) Seq((0L, 0L)) else edges)
        .toDF("doc_a", "doc_b")
      val a = ConnectedComponents.minLabel(nodes, pairs, maxIters = 100)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = ConnectedComponents.starContraction(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, s"trial $trial (n=$n, edges=$edges)")
    }
  }

  test("I2 min-label local union-find equals the distributed fixpoint") {
    // round 14: below LocalUnionFindMaxEdges the labels come from a
    // driver-local union-find; this pins bit-identical labels against the
    // forced-distributed fixpoint on random graphs (the Closure/KCore
    // local-vs-distributed parity discipline)
    import graft.operators.ConnectedComponents
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val n = 5 + rnd.nextInt(60)
      val edges = Seq.fill(rnd.nextInt(2 * n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val nodes = (0L until n.toLong).toDF("id")
      val pairs = (if (edges.isEmpty) Seq((0L, 0L)) else edges)
        .toDF("doc_a", "doc_b")
      val local = ConnectedComponents.minLabel(nodes, pairs, maxIters = 100)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val saved = ConnectedComponents.LocalUnionFindMaxEdges
      val dist =
        try {
          ConnectedComponents.LocalUnionFindMaxEdges = 0L
          ConnectedComponents.minLabel(nodes, pairs, maxIters = 100)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        } finally ConnectedComponents.LocalUnionFindMaxEdges = saved
      assert(local == dist, s"trial $trial (n=$n, edges=$edges)")
    }
    // a 20-node path takes ~20 distributed rounds; the pins still live
    // after the call, while its result is held, must not grow with them
    val sc = spark.sparkContext
    def pinned = sc.getPersistentRDDs.keySet
    val path = (0L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = pinned
    val saved = ConnectedComponents.LocalUnionFindMaxEdges
    val held =
      try {
        ConnectedComponents.LocalUnionFindMaxEdges = 0L
        ConnectedComponents.minLabel((0L to 20L).toDF("id"), path, maxIters = 30)
      } finally ConnectedComponents.LocalUnionFindMaxEdges = saved
    val grown = pinned -- before
    assert(grown.size <= 2, s"${grown.size} pins outlive a 20-round minLabel")
    assert(held.filter(col("component") =!= 0L).count() == 0L)
  }

  test("I2 star contraction handles a long chain in O(log n) rounds") {
    import graft.operators.ConnectedComponents
    // path graph 0-1-...-199: diameter 199, so the DISTRIBUTED min-label
    // fixpoint's default 25-round cap trips (that failure mode is WHY
    // starContraction exists; the budget var forces past the round-14
    // driver-local union-find, which handles any diameter)
    val nodes = (0L until 200L).toDF("id")
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val saved = ConnectedComponents.LocalUnionFindMaxEdges
    val ex =
      try {
        ConnectedComponents.LocalUnionFindMaxEdges = 0L
        intercept[IllegalStateException] {
          ConnectedComponents.minLabel(nodes, pairs)
        }
      } finally ConnectedComponents.LocalUnionFindMaxEdges = saved
    assert(ex.getMessage.contains("starContraction"))
    val labels = ConnectedComponents.starContraction(nodes, pairs).collect()
    assert(labels.length == 200 && labels.forall(_.getLong(1) == 0L))
  }

  test("I7 PII scrub: counts and redaction, pass-order safety") {
    import graft.llm.Privacy
    val rows = Seq(
      (1L, "mail a.b+c%d@sub.domain.org then 555-123-4567 then 10.20.30.40 done"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io and z@w.co plus 999-999-9999"),
      // boundary cases: a 5-digit tail breaks the phone's \b, and a
      // letter-prefixed version string has no \b before its first digit —
      // neither is PII, neither may be redacted
      (4L, "order 555-123-45678 and v1.2.3.4 but 10.0.0.1 alone"))
      .toDF("doc_id", "text")
    val out = Privacy.scrubDF(rows, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 1 && out(1L).getInt(2) == 1 && out(1L).getInt(3) == 1)
    assert(out(1L).getString(4) ==
      "mail [EMAIL] then [PHONE] then [IP] done")
    assert(out(2L).getString(4) == "no pii here at all")
    assert(out(3L).getInt(1) == 2 && out(3L).getInt(2) == 1)
    // 555-123-45678: trailing digit breaks the \b — not redacted
    assert(out(4L).getInt(2) == 0)
    assert(out(4L).getString(4) ==
      "order 555-123-45678 and v1.2.3.4 but [IP] alone")
  }

  test("I7 decontamination flags 8-gram overlap, not shared vocabulary") {
    import graft.llm.Decontamination
    val eightGram = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq((100L, s"benchmark question: $eightGram answer"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"a crawl page quoting $eightGram verbatim plus commentary"),
      // same words, different order: no 8-gram match
      (2L, "theta eta zeta epsilon delta gamma beta alpha"),
      (3L, "completely unrelated text about spark partitions"),
      (4L, "short doc")) // < 8 words: no grams at all
      .toDF("doc_id", "text")
    val out = Decontamination.flagContaminated(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("I5 repetition scoring: dup ratio and top-token share") {
    import graft.llm.TextAnalysis
    val rows = Seq(
      (1L, "a a a a"), // all dup: ratio 0.75, top share 1.0
      (2L, "w x y z"), // all distinct: ratio 0, top share 0.25
      (3L, "spam spam spam ham"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
      TextAnalysis.dupTokenRatio(col("text")).as("r"),
      TextAnalysis.topTokenShare(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((0.75, 1.0)))
    assert(out(2L) == ((0.0, 0.25)))
    assert(out(3L) == ((0.5, 0.75)))
  }

  test("I5 vocab stats: frequency-of-frequencies histogram") {
    val rows = Seq(
      (1L, "a a b"), // a:2, b:1
      (2L, " b c "), // b:2 total, c:1; edge whitespace → NO "" type
      (3L, "   ")) // all-space doc contributes no tokens at all
      .toDF("doc_id", "text")
    // corpus counts: a=2, b=2, c=1 → freq 2 has 2 types, freq 1 has 1 type
    val out = TextAnalysis.vocabStats(rows, "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 2L, 1L -> 1L))
  }

  test("I5 salient terms: tf wins, ties break by rarity then alphabet") {
    val rows = Seq(
      (1L, "x x y common"), // x tf=2 wins outright
      (2L, "rare common common"), // common tf=2 beats rare despite df
      (3L, " rare common"), // tf tie → rare (df 2) beats common (df 3);
      // the leading space must NOT produce a "" token that wins the
      // alphabetical tie-break
      (4L, "aa bb")) // tf AND df tie (both df=1) → alphabetical: aa
      .toDF("doc_id", "text")
    val out = TextAnalysis.salientTerms(rows, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[String]("salient")).toMap
    assert(out == Map(1L -> "x", 2L -> "common", 3L -> "rare", 4L -> "aa"))
  }

  test("I5 bigram counts: adjacency only, single-word docs contribute nothing") {
    val rows = Seq(
      (1L, "a b a b"), // (a,b)×2, (b,a)×1
      (2L, "lonely"), // no bigrams
      (3L, " a b")) // (a,b)×1; leading space must not yield a ("", a) bigram
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramCounts(rows, "text", topK = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    assert(out == List(("a", "b", 3L), ("b", "a", 1L))) // ordered by n desc
    val top1 = TextAnalysis.bigramCounts(rows, "text", topK = 1).collect()
    assert(top1.map(r => (r.getString(0), r.getString(1))).toList ==
      List(("a", "b")))
  }

  test("I2 edit-distance pairs: block-scoped, prefix-bounded, thresholded") {
    val rows = Seq(
      (1L, "blk1", "hello world"),
      (2L, "blk1", "hello worlds"), // dist 1 from doc 1
      (3L, "blk1", "zzzzzzzzzzzz"), // far from both
      (4L, "blk2", "hello world")) // identical to 1 but different block
      .toDF("doc_id", "source", "text")
    val out = Dedup.editDistancePairs(rows, "doc_id", "text",
      blockCol = "source", prefixLen = 40, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    // only the in-block near-pair survives; cross-block identity never
    // compared (blocking contract), far doc filtered by the threshold
    assert(out == List((1L, 2L, 1L)))
    // prefix bound: differences past prefixLen are invisible by design
    val longDocs = Seq(
      (1L, "b", ("x" * 40) + "AAAA"),
      (2L, "b", ("x" * 40) + "BBBB")).toDF("doc_id", "source", "text")
    val d0 = Dedup.editDistancePairs(longDocs, "doc_id", "text",
      blockCol = "source", prefixLen = 40, maxDist = 0).collect()
    assert(d0.map(r => r.getInt(2)).toList == List(0))
  }

  test("I2 edit-distance pairs property: equals naive all-pairs within blocks") {
    // reference Levenshtein (full DP) — independent of Spark's
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    val alpha = "abcd"
    val docs = (0L until 40L).map { i =>
      val len = 1 + rnd.nextInt(30)
      (i, s"blk${i % 3}",
        (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val (prefixLen, maxDist) = (12, 6)
    val expected = (for {
      (ai, ab, at) <- docs; (bi, bb, bt) <- docs
      if ab == bb && ai < bi
      dist = lev(at.take(prefixLen), bt.take(prefixLen))
      if dist <= maxDist
    } yield (ai, bi, dist)).toSet
    val got = Dedup.editDistancePairs(
      docs.toDF("doc_id", "source", "text").repartition(5),
      "doc_id", "text", blockCol = "source",
      prefixLen = prefixLen, maxDist = maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty && got == expected)
  }

  test("I1 bloom reference dedup equals the plain semi-join exactly") {
    // the Bloom pass is a prefilter, never a decision: across a corpus
    // large enough to force false positives at fpp=0.5, the output must
    // still equal the exact semi-join (false positives die in the join)
    val corpus = (0L until 300L).map(i => (i, s"content ${i % 40}"))
      .toDF("doc_id", "text")
    val ref = (0L until 10L).map(i => (1000L + i, s"content $i"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstReference(corpus, ref, "text",
      expectedRefItems = 10L, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val exact = corpus.join(ref.select(md5(col("text")).as("h")).distinct(),
      md5(corpus("text")) === col("h"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == exact && got.nonEmpty)
    // content "content 0".."content 9" → doc_ids ≡ 0..9 (mod 40)
    assert(got == (0L until 300L).filter(_ % 40 < 10))
  }

  test("I6 mixture sampling: exact rates at 0/100, nested, repartition-stable") {
    import graft.llm.Sampling
    val rows = (0L until 60L).map(i =>
      (i, s"src${i % 3}", s"document body number $i with words"))
      .toDF("doc_id", "source", "text")
    def kept(w: Map[String, Int], default: Int = 0): Set[Long] =
      Sampling.mixtureSample(rows, col("source"), col("text"), w, default)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // 100 keeps everything in the stratum, 0 keeps nothing
    val all0 = kept(Map("src0" -> 100))
    assert(all0 == (0L until 60L by 3L).toSet)
    assert(kept(Map("src0" -> 0), default = 100) == (0L until 60L).toSet -- all0)
    // nested: every doc kept at 25% is kept at 50% — the ablation property
    val k25 = kept(Map("src1" -> 25))
    val k50 = kept(Map("src1" -> 50))
    assert(k25.subsetOf(k50) && k50.size >= k25.size)
    // membership is a pure function of content: repartitioning changes nothing
    val repart = Sampling.mixtureSample(rows.repartition(7),
      col("source"), col("text"), Map("src1" -> 25), 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(repart == k25)
  }

  test("I6 stratified cap keeps at most cap rows per stratum, deterministically") {
    import graft.llm.Sampling
    val rows = (0L until 30L).map(i =>
      (i, if (i % 3 == 0) "en" else "de", s"content number $i"))
      .toDF("doc_id", "lang", "text")
    val capped = Sampling.stratifiedCap(
      rows, col("lang"), col("text"), col("doc_id"), cap = 5)
    val byLang = capped.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang == Map("en" -> 5L, "de" -> 5L))
    // deterministic: the same call keeps the same ids
    val a = capped.select("doc_id").collect().map(_.getLong(0)).sorted
    val b = Sampling.stratifiedCap(
      rows.repartition(7), col("lang"), col("text"), col("doc_id"), cap = 5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "kept set must not depend on partitioning")
    // a stratum smaller than the cap survives whole
    assert(Sampling.stratifiedCap(rows, col("lang"), col("text"),
      col("doc_id"), cap = 100).count() == 30)
  }

  test("I7 chunking: window coverage, overlap, short docs") {
    import graft.llm.Chunking
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b c"), // shorter than one window
      (3L, (1 to 8).map(i => s"x$i").mkString(" ")) // exactly size+stride
    ).toDF("doc_id", "text")
    val out = Chunking.chunkByWords(docs, "doc_id", "text", size = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getInt(3)))).toMap
    // doc 1: chunks at offsets 0,2,4,6 — 1 + ceil((10-4)/2) = 4 chunks
    assert(out((1L, 0L)) == (("w1 w2 w3 w4", 4)))
    assert(out((1L, 1L)) == (("w3 w4 w5 w6", 4))) // stride-2 overlap
    assert(out((1L, 3L)) == (("w7 w8 w9 w10", 4)))
    assert(!out.contains((1L, 4L)))
    // short doc: one whole-doc chunk
    assert(out((2L, 0L)) == (("a b c", 3)))
    assert(!out.contains((2L, 1L)))
    // every word of doc 3 appears in some chunk (coverage)
    val covered = out.keys.filter(_._1 == 3L)
      .flatMap(k => out(k)._1.split(" ")).toSet
    assert(covered == (1 to 8).map(i => s"x$i").toSet)
  }

  test("I7 packing: budget respected, oversize singled out, docs conserved") {
    import graft.llm.Chunking
    val docs = Seq(
      (1L, 90L), (2L, 80L), (3L, 40L), (4L, 30L), (5L, 250L), (6L, 10L))
      .toDF("doc_id", "toks").coalesce(1) // one partition: deterministic packs
    val out = Chunking.packGreedy(docs, "doc_id", "toks", budget = 200L)
      .collect()
    // every doc exactly once, tokens conserved
    assert(out.map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 3L, 4L, 5L, 6L)))
    assert(out.map(_.getLong(1)).sum == 500L)
    val byPack = out.groupBy(_.getString(2))
    byPack.foreach { case (_, members) =>
      val total = members.head.getLong(3)
      assert(members.map(_.getLong(1)).sum == total)
      if (total > 200L) { // oversize: flagged singleton
        assert(members.length == 1 && members.head.getBoolean(4))
      } else assert(members.forall(!_.getBoolean(4)))
    }
    // greedy best-fit desc: 250 alone (oversize), then 90+80+30=200
    // exactly, then 40+10=50 — three packs
    assert(byPack.size == 3)
    assert(byPack.values.map(_.map(_.getLong(1)).sum).toSet == Set(250L, 200L, 50L))
    // an oversize pack is CLOSED: a zero-token doc must not join it
    // (its remaining would read >= 0) — it lands in an open pack instead
    val withZero = Seq((1L, 250L), (2L, 0L)).toDF("doc_id", "toks").coalesce(1)
    val z = Chunking.packGreedy(withZero, "doc_id", "toks", budget = 200L)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(4)))).toMap
    assert(z(1L)._2 && !z(2L)._2)
    assert(z(1L)._1 != z(2L)._1, "zero-token doc joined a closed oversize pack")
    // null/negative token counts fail loudly, not silently mis-pack
    intercept[Exception] {
      Chunking.packGreedy(Seq((1L, -5L)).toDF("doc_id", "toks"),
        "doc_id", "toks", budget = 10L).collect()
    }
    // null text yields no chunks (matches the oracle's NULL propagation)
    val nullChunks = Chunking.chunkByWords(
      Seq((1L, null: String), (2L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", size = 4, stride = 2)
    assert(nullChunks.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("I7 sharding: bucketed prefix sum equals sequential concat-and-chunk") {
    import graft.llm.Chunking
    // sequential reference: walk docs in id order, cut at L boundaries
    def reference(docs: Seq[(Long, Long)], L: Long): Seq[(Long, Long, Long, Long, Long)] = {
      var start = 0L
      docs.sortBy(_._1).flatMap { case (id, n) =>
        val rows = if (n == 0) Nil else
          (start / L to (start + n - 1) / L).map { s =>
            val from = math.max(s * L, start)
            val to = math.min((s + 1) * L, start + n)
            (s, id, n, from - s * L, to - from)
          }
        start += n
        rows
      }
    }
    // sparse, skewed ids; a doc longer than L; zero-token docs vanish
    val docs = Seq((3L, 5L), (7L, 0L), (100L, 23L), (101L, 2L),
      (5000L, 1L), (5001L, 9L), (900000L, 4L))
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 6) {
      val L = 1L + rnd.nextInt(12)
      val nBuckets = 1 + rnd.nextInt(5)
      val df = docs.toDF("doc_id", "toks").repartition(1 + rnd.nextInt(4))
      val got = Chunking.shardSequences(df, "doc_id", "toks", L, nBuckets)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .sortBy(t => (t._1, t._2))
      assert(got.toSeq == reference(docs, L),
        s"trial $trial: L=$L buckets=$nBuckets diverges from sequential")
      // every sequence except the last is exactly full
      val bySeq = got.groupBy(_._1)
      val last = bySeq.keys.max
      bySeq.foreach { case (s, ms) =>
        if (s != last) assert(ms.map(_._5).sum == L, s"seq $s under-filled")
      }
    }
    // empty input shards to nothing; nulls and negatives fail loud
    assert(Chunking.shardSequences(
      Seq.empty[(Long, Long)].toDF("doc_id", "toks"), "doc_id", "toks", 8L)
      .count() == 0)
    intercept[Exception] {
      Chunking.shardSequences(Seq((1L, -2L)).toDF("doc_id", "toks"),
        "doc_id", "toks", 8L).collect()
    }
  }

  test("I7 packing invariants hold on random inputs and partitionings (property)") {
    import graft.llm.Chunking
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val budget = 50L + rnd.nextInt(200)
      val docs = (0L until (20 + rnd.nextInt(180)).toLong)
        .map(i => (i, rnd.nextInt(2 * budget.toInt).toLong))
      val df = docs.toDF("doc_id", "toks").repartition(1 + rnd.nextInt(4))
      val out = Chunking.packGreedy(df, "doc_id", "toks", budget).collect()
      // every doc exactly once; token totals conserved
      assert(out.map(_.getLong(0)).sorted.toSeq == docs.map(_._1),
        s"trial $trial (budget=$budget)")
      assert(out.map(_.getLong(1)).sum == docs.map(_._2).sum)
      out.groupBy(_.getString(2)).foreach { case (pid, ms) =>
        val total = ms.map(_.getLong(1)).sum
        assert(ms.forall(_.getLong(3) == total), s"pack $pid declared total wrong")
        if (total > budget)
          assert(ms.length == 1 && ms.head.getBoolean(4),
            s"trial $trial: over-budget pack $pid is not an oversize singleton")
        else assert(ms.forall(!_.getBoolean(4)))
      }
    }
  }

  test("I5 single-pass stopword kernel matches the regex semantics exactly") {
    // boundary-heavy adversarial strings: tokens glued to word chars must
    // NOT match (\b semantics), case folds, punctuation splits, unicode
    // neighbors are non-word chars, duplicates in the word list count once
    val tricky = (Seq(
      "the quick the lazy the", "xthe the_ the- _the 9the the9",
      "THE tHe the.the,the!the", "", "   ", "thé the é_the",
      "le la les de el que, der und", "nothing matching here at all",
      "the", "the the the the the the the the the the the the")
      :+ (null: String)) // null text: hits stay null; langId must yield 'und'
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val en = TextAnalysis.stopwordTable("en")
    val all = TextAnalysis.stopwordTable.values.flatten.toSeq // has duplicates
    val rows = tricky.select(
      TextAnalysis.stopwordHits(col("t"), en).as("fast_en"),
      TextOracles.regexStopwordHits(col("t"), en).as("re_en"),
      TextAnalysis.stopwordHits(col("t"), all).as("fast_all"),
      TextOracles.regexStopwordHits(col("t"), all).as("re_all"),
      TextAnalysis.langId(col("t")).as("fast_lang"),
      TextOracles.langIdRegex(col("t")).as("re_lang")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getInt(0) == r.getInt(1)), s"en hits diverge: $r")
      assert(r.isNullAt(2) == r.isNullAt(3) &&
        (r.isNullAt(2) || r.getInt(2) == r.getInt(3)), s"all hits diverge: $r")
      assert(r.getString(4) == r.getString(5), s"langId diverges: $r")
    }
    // a word list the kernel cannot honor is an error, not a silent zero
    intercept[IllegalArgumentException] {
      docs.select(TextAnalysis.stopwordHits(col("text"), Seq("don't"))).collect()
    }
    // and over the real fixture docs
    val docRows = docs.select(
      TextAnalysis.stopwordHits(col("text"), all).as("f"),
      TextOracles.regexStopwordHits(col("text"), all).as("r"),
      TextAnalysis.langId(col("text")).as("fl"),
      TextOracles.langIdRegex(col("text")).as("rl")).collect()
    docRows.foreach { r =>
      assert(r.getInt(0) == r.getInt(1) && r.getString(2) == r.getString(3))
    }
  }

  test("I6 deterministic split: content-hash buckets, stable labels, sample") {
    import graft.llm.Sampling
    // known value: int(md5("hello")[0:8], 16) % 100 == 54
    val one = Seq(Tuple1("hello")).toDF("t")
    assert(one.select(Sampling.hashBucket(col("t"))).head().getLong(0) == 54L)
    // labels cover the cuts and are a pure function of content: same text,
    // different id ⇒ same split (docs 0 and 3 are exact dups)
    val split = docs.select(col("doc_id"),
      Sampling.splitLabel(col("text")).as("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split(0L) == split(3L))
    assert(split.values.forall(Set("train", "val", "test")))
    // deterministic sample is a strict subset selected by bucket
    val kept = Sampling.deterministicSample(docs, col("text"), 50).count()
    assert(kept <= docs.count())
    assert(Sampling.deterministicSample(docs, col("text"), 100).count() == docs.count())
    assert(Sampling.deterministicSample(docs, col("text"), 0).count() == 0)
  }

  test("I2 ngram jaccard finds near-dups, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L))) // exact dup ⇒ jaccard 1.0
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("I2 incremental dedup matches a brute-force batch-vs-base recompute") {
    // brute-force reference: word-3-gram sets, frequency cap over BOTH
    // sides combined, sizes uncapped, batch×base pairs only
    def shingleSet(t: String): Set[String] =
      if (t == null) Set.empty
      else {
        val w = t.split(" +").toVector
        if (w.size < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
      }
    def reference(corpus: Seq[(Long, String)], isBatch: Long => Boolean,
        cap: Int, thr: Double): Seq[(Long, Long, Option[Long], Option[Double], Boolean)] = {
      val sh = corpus.map { case (id, t) => id -> shingleSet(t) }.toMap
      val freq = sh.values.toSeq.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
      val capped = sh.map { case (id, s) => id -> s.filter(freq(_) <= cap) }
      val (batchIds, baseIds) = corpus.map(_._1).partition(isBatch)
      batchIds.sorted.map { q =>
        val ms = baseIds.flatMap { b =>
          val shared = (capped(q) & capped(b)).size
          if (shared == 0) None else {
            val j = shared.toDouble / (sh(q).size + sh(b).size - shared)
            if (j >= thr) Some((b, j)) else None
          }
        }
        if (ms.isEmpty) (q, 0L, None, None, false)
        else {
          val bestJ = ms.map(_._2).max
          val bestB = ms.filter(_._2 == bestJ).map(_._1).min
          (q, ms.size.toLong, Some(bestB), Some(bestJ), true)
        }
      }
    }
    val rnd = new scala.util.Random(43)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    for (i <- 0L until 48L) {
      val t =
        if (i == 11L || i == 12L) null // null text (base AND batch side)
        else if (i == 18L) "two words" // batch doc with < 3 words ⇒ no shingles
        else if (i % 5 == 4 && buf.nonEmpty) // near-dup of an earlier doc
          buf(rnd.nextInt(buf.size))._2 match {
            case null => "alpha beta gamma delta"
            case s => s + " " + vocab(rnd.nextInt(vocab.size))
          }
        else Vector.fill(5 + rnd.nextInt(8))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      buf += ((i, t))
    }
    val corpus = buf.toSeq
    for ((cap, thr) <- Seq((1000, 0.5), (3, 0.5), (1000, 0.8))) {
      val df = corpus.toDF("doc_id", "text").repartition(5)
      val got = Dedup.incrementalDedup(
        df.filter(col("doc_id") % 3 =!= 0), df.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", n = 3, threshold = thr, maxShingleFreq = Some(cap))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.getBoolean(4)))
        .sortBy(_._1).toSeq
      val want = reference(corpus, _ % 3 == 0, cap, thr)
      assert(got == want, s"cap=$cap thr=$thr diverges from brute force")
      // the split is exhaustive on the batch side: one verdict per batch doc
      assert(got.map(_._1) == corpus.map(_._1).filter(_ % 3 == 0).sorted)
    }
  }

  test("I2i incremental dedup: overlapping base/batch id spaces stay per-side") {
    // the same id on both sides must NOT merge its two shingle-set sizes
    // (the size window partitions by (doc, is_batch), not doc alone):
    // batch doc 1 has 4 word-3-grams, base doc 1 has 2, sharing 1 —
    // jaccard exactly 1/5; a merged size window would report 1/11
    val base = Seq((1L, "alpha beta gamma delta"), (2L, "q w e r t"))
      .toDF("doc_id", "text")
    val batch = Seq((1L, "alpha beta gamma epsilon zeta eta"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(base, batch, "doc_id", "text",
      n = 3, threshold = 0.2, maxShingleFreq = Some(1000)).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L && r.getLong(2) == 1L)
    assert(math.abs(r.getDouble(3) - 0.2) < 1e-12,
      s"per-side sizes must not merge: got ${r.getDouble(3)}")
    assert(r.getBoolean(4))
  }

  test("I4 aHash: real BMP round-trip is lossless; perceptual hamming behaves") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(31)
    // round-trip: encode→ImageIO decode returns the exact grays, 50 trials
    for (_ <- 0 until 50) {
      val px = Array.fill(64)(rnd.nextInt(128))
      assert(Multimodal.decodeGray64(Multimodal.syntheticBmp(px)).sameElements(px))
    }
    // full-range bytes survive too (hash input is mod-128, codec isn't)
    val hi = Array.fill(64)(rnd.nextInt(256))
    assert(Multimodal.decodeGray64(Multimodal.syntheticBmp(hi)).sameElements(hi))
    // orientation: a single bright pixel at (row 2, col 5) comes back there
    val one = Array.fill(64)(0); one(2 * 8 + 5) = 100
    assert(Multimodal.decodeGray64(Multimodal.syntheticBmp(one))(2 * 8 + 5) == 100)
    def ahash(t: String): (Long, Long) = {
      val cps = t.codePoints().toArray // codepoints: DuckDB substr semantics
      val n = cps.length
      val px = Array.tabulate(64)(i => cps(i % n) % 128)
      val gs = Multimodal.decodeGray64(Multimodal.syntheticBmp(px))
      val mean = gs.map(_.toLong).sum / 64
      def pack(off: Int) = (0 until 32).foldLeft(0L)((a, i) =>
        a | (if (gs(off + i) > mean) 1L << (31 - i) else 0L))
      (pack(0), pack(32))
    }
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    assert(ham(ahash(base), ahash(base)) == 0) // identical -> identical
    // one-char edit: only the touched pixels (and possibly the mean
    // threshold on borderline cells) move -> small hamming
    val tweaked = base.updated(10, 'x')
    assert(ham(ahash(base), ahash(tweaked)) <= 8,
      s"near-identical texts hash far apart: ${ham(ahash(base), ahash(tweaked))}")
    // unrelated content -> far apart
    val other = "zzz 01234 completely unrelated binary-ish payload %%%% ####"
    assert(ham(ahash(base), ahash(other)) >= 12)
    // engine query agrees with this sequential recompute — including a
    // non-ASCII row with an astral-plane codepoint (pixel indexing must
    // be codepoint-based like DuckDB's substr, not UTF-16 charAt: \uD835
    // \uDC00 is ONE codepoint but TWO chars)
    val unicodeText = "café 𝐀 naïve résumé 你好 world"
    val df = Seq((1L, base), (2L, tweaked), (3L, other), (4L, null: String),
      (5L, ""), (6L, unicodeText)).toDF("doc_id", "text")
    // query path goes through Tables.documents; exercise the core inline
    val spark2 = TestSpark.spark
    val out = graft.queries.LlmOps.imageAhashOver(df)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 6L)) // null + empty text excluded
    assert(out(1L) == ahash(base) && out(2L) == ahash(tweaked) && out(3L) == ahash(other))
    assert(out(6L) == ahash(unicodeText))
  }

  test("I6 temperature mixture: sqrt keep-rates, exact membership vs a recompute") {
    val rnd = new scala.util.Random(23)
    def doc(nTok: Int) =
      Vector.fill(nTok)("w" + rnd.nextInt(5000)).mkString(" ")
    // token masses ~ 1x / 4x / 16x across three sources (equal doc sizes,
    // doc-count scaled), plus a null-text doc (0 tokens)
    val rows = Seq.tabulate(40)(i => (i.toLong, "small", doc(30))) ++
      Seq.tabulate(160)(i => (100L + i, "mid", doc(30))) ++
      Seq.tabulate(640)(i => (1000L + i, "big", doc(30))) :+
      ((5000L, "small", null: String))
    val df = rows.toDF("doc_id", "source", "text").repartition(7)
    val got = graft.queries.LlmOps.temperatureMixtureOver(df)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // sequential recompute with the same arithmetic
    def toks(t: String) = if (t == null) 0L else t.split(" +").length.toLong
    val ns = rows.groupBy(_._2).map { case (s, rs) => s -> rs.map(r => toks(r._3)).sum }
    val nmin = ns.values.min
    val thr = ns.map { case (s, n) =>
      s -> math.floor(math.sqrt(nmin.toDouble / n.toDouble) * 10000).toInt }
    def bucket(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 8), 16) % 10000
    }
    val want = rows.filter(r => r._3 != null && bucket(r._3) < thr(r._2))
      .map(r => (r._1, r._2, thr(r._2))).toSet
    assert(got.toSet == want) // null text has no bucket -> dropped in both
    // the smallest source keeps everything; realized shares flatten
    assert(thr("small") == 10000)
    val keptBig = got.count(_._2 == "big").toDouble
    val keptSmall = got.count(_._2 == "small").toDouble
    // 16x mass at rate 1/4 -> ~4x kept (hash noise tolerated)
    assert(keptBig / keptSmall > 2.0 && keptBig / keptSmall < 8.0,
      s"big/small kept ratio ${keptBig / keptSmall}")
  }

  test("I6 curation v4 equals its stages run separately, in order") {
    import graft.queries.LlmOps
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // stepwise recompute with the same building blocks
    val exact = docs
      .withColumn("__rep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
      .filter(col("text").isNull || col("doc_id") === col("__rep"))
      .drop("__rep")
    val keepers = LlmOps.canonicalKeepOver(exact).filter(col("keep"))
      .select("doc_id")
    val survivors = exact.join(keepers, Seq("doc_id"))
    val stepwise = LlmOps.temperatureMixtureOver(survivors)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val v4 = LlmOps.curationV4Over(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(v4 == stepwise)
    assert(v4.nonEmpty)
    // stage containment: the final corpus is a subset of each stage's kept set
    val exactIds = exact.select("doc_id").collect().map(_.getLong(0)).toSet
    val keeperIds = keepers.collect().map(_.getLong(0)).toSet
    assert(v4.map(_._1).subsetOf(keeperIds) && keeperIds.subsetOf(exactIds))
    // ordering matters: mixture over the RAW corpus yields different
    // thresholds (duplicate mass would inflate shares) unless the fixture
    // happens to have no cross-source dup skew — compare threshold maps,
    // not emptiness, so the assert stays meaningful either way
    val rawThr = LlmOps.temperatureMixtureOver(docs)
      .select("source", "keep_threshold").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val v4Thr = v4.groupBy(_._2).map { case (s, rs) => s -> rs.head._3 }
    // every v4 threshold reflects post-dedup masses (spot-check: the maps
    // agree on keys, and at least the values are defined for every source)
    assert(v4Thr.keySet.subsetOf(rawThr.keySet))
  }

  test("I2 canonical keep: per-cluster argmax quality, ties to min id, nulls lose") {
    import graft.llm.{Dedup, TextAnalysis}
    // cluster A: 3 near-dups of graded length (quality rises with length
    // up to the 500-char knee); cluster B: exact dup pair; singletons
    // include a null-text doc (quality NULL -> keeps itself)
    val base = (1 to 25).map(i => s"word$i").mkString(" ")
    val docsK = Seq(
      (0L, base),
      (1L, base + " lambda mu nu xi"),
      (2L, base + " lambda mu nu xi omicron pi rho sigma"),
      (10L, "unrelated totally different text about streaming watermark state eviction policies"),
      (11L, "unrelated totally different text about streaming watermark state eviction policies"),
      (20L, "a lone short document"),
      (21L, null: String)
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docsK, "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleFreq = Some(1000),
      shingler = Dedup.wordShingles).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute-force union-find over the emitted pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(a: Long): Long = {
      val p = parent.getOrElse(a, a)
      if (p == a) a else { val r = find(p); parent(a) = r; r }
    }
    Seq(0L, 1L, 2L, 10L, 11L, 20L, 21L).foreach(i => parent(i) = i)
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val quality = docsK.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val wantKeep = Seq(0L, 1L, 2L, 10L, 11L, 20L, 21L).groupBy(find).flatMap {
      case (_, ms) =>
        val best = ms.map(m => (quality(m).getOrElse(-1.0), m))
          .sortBy { case (q, m) => (-q, m) }.head._2
        ms.map(m => m -> (m == best))
    }
    val got = graft.queries.LlmOps.canonicalKeepOver(docsK)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
    assert(got.map(g => g._1 -> g._4).toMap == wantKeep)
    // structural: component labels are min-member ids; quality passthrough
    got.foreach { case (id, comp, q, _) =>
      assert(comp == find(id), s"component label for $id")
      assert(q == quality(id), s"quality passthrough for $id")
    }
    // exactly one keeper per component, and clusters landed as intended
    assert(got.groupBy(_._2).forall(_._2.count(_._4) == 1))
    assert(find(0L) == find(2L) && find(10L) == find(11L) && find(20L) == 20L)
    // cluster A's keeper is the LONGEST (highest-quality) member, not min id
    assert(got.find(_._1 == 2L).get._4 && !got.find(_._1 == 0L).get._4)
  }

  test("I2 minhash LSH candidates superset of true near-dups; estimate sane") {
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(cands.contains((0L, 3L)))
    assert(cands.contains((0L, 1L)))
    // signature similarity of exact dups is 1.0
    val sigs = docs.select(col("doc_id"),
      Dedup.minHashSignature(Dedup.charShingles(col("text"), 5)).as("sig"))
    val s0 = sigs.filter(col("doc_id") === 0).head().getSeq[Long](1)
    val s3 = sigs.filter(col("doc_id") === 3).head().getSeq[Long](1)
    val s2 = sigs.filter(col("doc_id") === 2).head().getSeq[Long](1)
    assert(s0 == s3)
    val est02 = s0.zip(s2).count { case (a, b) => a == b } / 64.0
    assert(est02 < 0.3)
  }

  test("I2i indexed incremental dedup: inline-tier verdicts; stored side never shuffles") {
    val d = "/root/testdata/sf0.01"
    val out = graft.queries.LlmOps.incrementalIndexDedup(spark, d)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))
    val got = out.collect().map(key).sortBy(_._1).toSeq
    val docsF = graft.queries.Tables.documents(spark, d)
    val want = Dedup.incrementalDedup(
      docsF.filter(col("doc_id") % 10 =!= 0),
      docsF.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 3, threshold = 0.5, maxShingleFreq = Some(1000))
      .collect().map(key).sortBy(_._1).toSeq
    assert(got == want, "fixture verdicts agree across tiers (cap never binds)")
    // the 100 TB claim: the standing corpus is read bucketed and joins
    // WITHOUT an exchange — only the batch side shuffles onto `sh`
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("graft_i2_posting_index"), plan.take(1500))
    assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
    val shEx = "Exchange hashpartitioning\\(sh#".r.findAllIn(plan).size
    assert(shEx <= 1, s"stored side must not shuffle ($shEx sh-exchanges)")
    // cap-contract difference, pinned: the index caps on BASE posting
    // length alone, the inline tier on base+batch combined
    val base = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma x y"),
      (20L, "alpha beta gamma p q")).toDF("doc_id", "text")
    val inline1 = Dedup.incrementalDedup(base, batch, "doc_id", "text",
      n = 3, threshold = 0.2, maxShingleFreq = Some(1))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val index1 = Dedup.incrementalDedupFromIndex(
      Dedup.buildPostingIndex(base, "doc_id", "text", n = 3), batch,
      "doc_id", "text", n = 3, threshold = 0.2, maxShingleFreq = Some(1))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(!inline1(10L) && !inline1(20L),
      "combined cap 1 drops the shared shingle (count 3) inline")
    assert(index1(10L) && index1(20L),
      "base-only cap 1 keeps it (base count 1): batch-hot shingles match")
  }

  test("I2i band index: shingle-index verdicts on the fixture; stored side never shuffles") {
    val d = "/root/testdata/sf0.01"
    val out = graft.queries.LlmOps.incrementalBandIndexDedup(spark, d)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))
    val got = out.collect().map(key).sortBy(_._1).toSeq
    // the two stored tiers have different candidate contracts (band
    // S-curve vs frequency-capped postings), but on the fixture every
    // true near-dup collides in a band and the cap never binds — the
    // verdicts must coincide
    val docsF = graft.queries.Tables.documents(spark, d)
    val want = Dedup.incrementalDedup(
      docsF.filter(col("doc_id") % 10 =!= 0),
      docsF.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 3, threshold = 0.5, maxShingleFreq = Some(1000))
      .collect().map(key).sortBy(_._1).toSeq
    assert(got == want, "fixture verdicts agree across the two stored tiers")
    // the 100 TB claim: BOTH stored tables are read bucketed and join
    // without an exchange — only the batch side shuffles
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("graft_i2_band_index"), plan.take(1500))
    assert(plan.contains("graft_i2_band_feats"), plan.take(1500))
    assert(plan.contains("SelectedBucketsCount"), plan.take(1500))
    val bandEx = "Exchange hashpartitioning\\(band_key#".r.findAllIn(plan).size
    assert(bandEx <= 1, s"stored band side must not shuffle ($bandEx band_key-exchanges)")
    val featEx = "Exchange hashpartitioning\\(doc_b#".r.findAllIn(plan).size
    assert(featEx <= 1, s"stored feature side must not shuffle ($featEx doc_b-exchanges)")
    // hand-built: an exact dup across base/batch is always caught (all 16
    // bands collide), an unrelated doc never is
    val base2 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (20L, "completely different words about other topics entirely here"))
      .toDF("doc_id", "text")
    val (bands2, feats2) = Dedup.buildBandIndex(base2, "doc_id", "text")
    val v2 = Dedup.incrementalDedupFromBandIndex(
      bands2, feats2, batch2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(v2(10L) && !v2(20L), s"exact dup caught, unrelated not: $v2")
  }

  test("I2j blocked canonical keep: agrees with the exact tier; hand-built clusters") {
    // the 100 TB composition must make the same keep decisions as the
    // exact pair tier wherever blocking finds the pairs; on the fixture
    // the prefix sort co-locates every near-dup family (measured
    // agreement 1.0 at all three sfs) — pin a slack 0.9 floor
    val d = "/root/testdata/sf0.01"
    val ex = graft.queries.LlmOps.canonicalKeep(spark, d)
      .select(col("doc_id"), col("keep").as("k1"))
    val bl = graft.queries.LlmOps.canonicalKeepBlocked(spark, d)
      .select(col("doc_id"), col("keep").as("k2"))
    val j = ex.join(bl, Seq("doc_id")).localCheckpoint()
    val total = j.count()
    val agree = j.filter(col("k1") === col("k2")).count()
    // both battery tiers run the round-14 verification-anchor slice
    // (doc_id % 2 = 0 → 250 of sf0.01's 500 docs); the agreement floor
    // below is what this test exists to pin
    assert(total == 250L, "one verdict per sliced document on both tiers")
    assert(agree * 10 >= total * 9,
      s"keep-flag agreement $agree/$total below the 0.9 floor")
    // hand-built: a prefix-sharing near-dup cluster keeps its highest-
    // quality member; a lone doc keeps itself
    val mk = (reps: Int, extra: String) =>
      (("alpha beta gamma delta epsilon zeta " * reps).trim + " " + extra).trim
    val docs3 = Seq(
      (10L, mk(4, "")), (11L, mk(4, "eta theta iota")), // near-dups, 11 longer
      (30L, "totally unrelated content standing alone here today"))
      .toDF("doc_id", "text")
    val got = graft.queries.LlmOps.canonicalKeepBlockedOver(docs3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got(30L), "singleton keeps itself")
    assert(got.size == 3 && (got(10L) ^ got(11L)),
      s"exactly one of the near-dup pair survives: $got")
  }

  test("I2k LSH canonical keep: catches prefix-divergent near-dups the prefix sort scatters") {
    // the copy gains a leading token: the 24-char-prefix sort key changes
    // completely, and with > window docs between the pair in sort order the
    // sorted-neighborhood tier can never co-locate it — while the MinHash
    // band collision depends only on content overlap
    val t = "the quick brown fox jumps over the lazy dog while seventeen " +
      "astronomers catalog distant galaxies using large telescopes and " +
      "careful spectral measurements during long winter nights in chile"
    // filler keys sort strictly between "the quick…" and "zzqq the…" so the
    // pair lands > 8 ranks apart (window = 8)
    val filler = (0 until 12).map { i =>
      (100L + i, s"u${('a' + i).toChar} filler document number $i with twelve " +
        s"unrelated words about topic $i and nothing shared beyond stopwords")
    }
    val docs = (Seq((10L, t), (11L, "zzqq " + t)) ++ filler)
      .toDF("doc_id", "text")
    val blocked = graft.queries.LlmOps.canonicalKeepBlockedOver(docs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(blocked(10L) && blocked(11L),
      "prefix blocking misses the prefix-divergent pair: BOTH survive (the recall gap)")
    val lsh = graft.queries.LlmOps.canonicalKeepLshOver(docs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(lsh(10L) ^ lsh(11L),
      s"LSH keep collapses the prefix-divergent pair to one survivor: $lsh")
    assert(filler.forall { case (id, _) => lsh(id) }, "singletons keep themselves")
  }

  test("I2k agreement on the prefix-perturbed corpus: LSH holds where prefix blocking loses") {
    // the round-11 verdict's open question: fixture near-dups share their
    // 24-char prefix, so blocked-keep agreement 1.0 could not distinguish
    // prefix blocking from content blocking. Perturb: every 10th doc gains
    // a copy with one PREPENDED token (word-3-gram Jaccard stays ≥ 0.5,
    // prefix diverges). The exact tier is ground truth.
    val base = graft.queries.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("text"))
    val mx = base.agg(max(col("doc_id"))).head.getLong(0) + 1
    val dupes = base
      .filter(col("doc_id") % 10 === 0 && col("text").isNotNull)
      .select((col("doc_id") + mx).as("doc_id"),
        concat(lit("zq"), (col("doc_id") % 97).cast("string"), lit(" "),
          col("text")).as("text"))
    val perturbed = base.unionByName(dupes).localCheckpoint()
    def keeps(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(perturbed).select(col("doc_id"), col("keep"))
    val ex = keeps(graft.queries.LlmOps.canonicalKeepOver)
      .withColumnRenamed("keep", "k_ex")
    val bl = keeps(graft.queries.LlmOps.canonicalKeepBlockedOver)
      .withColumnRenamed("keep", "k_bl")
    val ls = keeps(graft.queries.LlmOps.canonicalKeepLshOver)
      .withColumnRenamed("keep", "k_ls")
    val j = ex.join(bl, Seq("doc_id")).join(ls, Seq("doc_id")).localCheckpoint()
    val total = j.count()
    val blAgree = j.filter(col("k_ex") === col("k_bl")).count()
    val lsAgree = j.filter(col("k_ex") === col("k_ls")).count()
    info(s"prefix-perturbed agreement: blocked $blAgree/$total, lsh $lsAgree/$total")
    assert(total == 550L, "500 docs + 50 prefix-perturbed copies, one verdict each")
    // LSH must stay near-perfect AND strictly beat prefix blocking here —
    // the measurement that justifies v6 as the default composition
    assert(lsAgree * 100 >= total * 98,
      s"LSH keep-agreement $lsAgree/$total below the 0.98 floor")
    assert(lsAgree > blAgree,
      s"LSH ($lsAgree) should beat prefix blocking ($blAgree) on prefix-divergent dupes")
  }

  test("I2 md5 hash family: same semantics as xx64, null text never pairs") {
    // the derandomized (oracle-checkable) family must behave like the
    // production family on the fixture: exact dups collide everywhere,
    // near-dups are candidates, unrelated docs have dissimilar signatures
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text",
      hashFamily = "md5")
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(cands.contains((0L, 3L)) && cands.contains((0L, 1L)))
    val sigs = docs.select(col("doc_id"),
      graft.functions.HashExprs.md5MinHashSig(
        Dedup.charShingles(col("text"), 5), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(3L))
    assert(sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b } / 64.0 < 0.3)
    // simhash md5: identical text -> hamming 0; null text -> dropped, and
    // two null docs never pair as a hamming-0 "identical" mass
    val withNulls = docs.unionByName(Seq(
      (90L, null.asInstanceOf[String]), (91L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val pairs = Dedup.simHashPairs(withNulls, "doc_id", "text",
      maxHamming = 10, hashFamily = "md5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0))
    assert(pairs.forall(p => p._1 < 90L && p._2 < 90L),
      s"null-text docs must not pair: ${pairs.filter(p => p._2 >= 90L).toSeq}")
    // xx64 path drops nulls identically
    val xxPairs = Dedup.simHashPairs(withNulls, "doc_id", "text",
      maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(xxPairs.forall(p => p._1 < 90L && p._2 < 90L))
  }

  test("I2 simhash: identical docs hamming 0, near-dups close, others far") {
    val sh = docs.select(col("doc_id"), TextAnalysis.simHash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(2L)))
  }

  test("I2 simhash recall gate agrees with a brute-force hamming recompute") {
    val sfd = "/root/testdata/sf0.001"
    val d = graft.queries.Tables.documents(spark, sfd)
    val high = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.7,
      maxShingleFreq = Some(1000), shingler = Dedup.wordShingles)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = d.select(col("doc_id"), TextAnalysis.simHash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val missed = high.count { case (a, b) =>
      java.lang.Long.bitCount(sh(a) ^ sh(b)) > 10
    }
    val row = graft.queries.LlmOps.simhashContainmentGate(spark, sfd).head()
    assert(row.getLong(0) == high.size)
    assert(row.getBoolean(1) == (missed * 10 <= high.size))
    assert(missed == 0,
      "sf0.001 high-Jaccard pairs all sit inside the hamming budget")
  }

  test("I2 simhash wide radius: pairs equal all-pairs result; bands stay fine") {
    val d = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val radius = 10
    val blocked = Dedup.simHashPairs(d, "doc_id", "text", maxHamming = radius)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force oracle: all pairs within the Hamming radius
    val sh = d.select(col("doc_id"), TextAnalysis.simHash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= radius
    } yield (ia, ib)).toSet
    assert(blocked == brute, "banded blocking must be containment-exact")
  }

  test("I2 simhash never emits self-pairs for a doc id duplicated with different text") {
    val dirty = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content on a second row with the same id"),
      (2L, "the quick brown fox jumps over the lazy dog!"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(dirty, "doc_id", "text", maxHamming = 60)
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) != r.getLong(1)),
      "doc_a == doc_b must never appear")
  }

  test("I2 simhash emits each pair exactly once for a fully duplicated row") {
    // regression: collect_list in simClusters double-counted a row that was
    // duplicated verbatim (same id AND same text), emitting its pairs twice
    val dirty = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // fully duplicated
      (2L, "the quick brown fox jumps over the lazy dog!"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(dirty, "doc_id", "text", maxHamming = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.distinct.length == pairs.length,
      s"each (doc_a, doc_b) pair must appear exactly once, got ${pairs.toSeq}")
    assert(pairs.forall(p => p._1 != p._2))
  }

  test("I3 corpus broadcast cache key is scoped to the Spark application") {
    // a restarted session's plan-identical corpus must MISS: its broadcasts
    // died with the old SparkContext, and a stale hit fails at execution
    val vecs = Seq((92001L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val key = Similarity.corpusKey(vecs, "vec_id", "embedding")
    assert(key._1 == spark.sparkContext.applicationId)
  }

  test("I2/I3 recall-gate floors are sf-keyed with a conservative fallback") {
    import graft.queries.LlmOps
    assert(LlmOps.sfTag("/root/testdata/sf0.01").contains("0.01"))
    assert(LlmOps.sfTag("/data/corpus").isEmpty)
    assert(LlmOps.floorFor(LlmOps.LshRecallFloors, "/root/testdata/sf0.1", 0.05) == 0.25)
    assert(LlmOps.floorFor(LlmOps.LshRecallFloors, "/data/corpus", 0.05) == 0.05)
    // every calibrated table covers the three driver-generated scale factors
    for (t <- Seq(LlmOps.LshRecallFloors, LlmOps.IvfRecallFloors,
        LlmOps.BlockedRecallFloors))
      assert(t.keySet == Set("0.001", "0.01", "0.1"))
  }

  test("I3 SQ8 codes and ranking match a sequential recompute; recall floor holds") {
    val rnd = new scala.util.Random(19)
    val dim = 8
    // vectors plus edge rows: a constant dimension (codes to 0), a null
    val vecs: Seq[(Long, Array[Float])] = (0L until 30L).map { i =>
      i -> Array.tabulate(dim)(j =>
        if (j == 3) 2.5f else (rnd.nextGaussian() * (j + 1)).toFloat)
    }
    val df = vecs.toDF("vec_id", "embedding")
      .unionByName(Seq((99L, null: Array[Float])).toDF("vec_id", "embedding"))
      .repartition(4)
    // sequential reference
    val mn = Array.tabulate(dim)(j => vecs.map(_._2(j).toDouble).min)
    val mx = Array.tabulate(dim)(j => vecs.map(_._2(j).toDouble).max)
    def code(v: Array[Float]): Array[Long] = Array.tabulate(dim) { j =>
      if (mx(j) > mn(j))
        math.floor((v(j).toDouble - mn(j)) / (mx(j) - mn(j)) * 255 + 0.5).toLong
      else 0L
    }
    val refCodes = vecs.map { case (id, v) => id -> code(v) }.toMap
    val gotCodes = Similarity.sq8Codes(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(gotCodes.keySet == refCodes.keySet) // null vector dropped
    refCodes.foreach { case (id, c) =>
      assert(gotCodes(id).sameElements(c), s"codes diverge for vec $id")
      assert(c.forall(x => x >= 0 && x <= 255), s"code out of int8 range")
    }
    assert(refCodes.values.forall(_(3) == 0L)) // constant dim codes to 0
    // ranking: reference = cosine over grid-snapped reconstructions,
    // ties to smaller id — same arithmetic as the engine and the oracle
    def recon(v: Array[Float]): Array[Long] = Array.tabulate(dim) { j =>
      if (mx(j) > mn(j))
        math.floor((mn(j) + math.floor(
          (v(j).toDouble - mn(j)) / (mx(j) - mn(j)) * 255 + 0.5)
          * (mx(j) - mn(j)) / 255) * 1000000d).toLong
      else math.floor(mn(j) * 1000000d).toLong
    }
    val refRecon = vecs.map { case (id, v) => id -> recon(v) }.toMap
    def cosR(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val got = Similarity.sq8TopK(df, "vec_id", "embedding", nQueries = 5, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val want = (0L until 5L).flatMap { q =>
      vecs.map(_._1).filter(_ != q)
        .map(b => (b, cosR(refRecon(q), refRecon(b))))
        .sortBy { case (b, c) => (-c, b) }.take(3).zipWithIndex
        .map { case ((b, c), r) => (q, b, c, r + 1) }
    }
    assert(got == want)
    // recall floor vs exact cosine on the real sf0.001 embeddings
    val e = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 5)
      .filter(col("query_id") < 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8TopK(e, "vec_id", "embedding", nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq & exact).size.toDouble / exact.size
    assert(recall >= 0.8, f"SQ8 recall@5 $recall%.2f below floor")
  }

  test("I3 filtered serving: predicate reaches the scan; post-filter under-fills") {
    val spark2 = TestSpark.spark
    val e = spark2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pre = graft.queries.LlmOps.filteredTopK(spark2, "/root/testdata/sf0.001")
    // the label predicate is PUSHED to the parquet scan (pre-filter):
    // non-matching rows never decode the embedding column
    val plan = pre.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(label"),
      "label predicate did not reach the parquet scan:\n" + plan.take(2000))
    // every query gets its full k from the FILTERED set
    val perQuery = pre.collect().groupBy(_.getLong(0))
    assert(perQuery.nonEmpty && perQuery.forall(_._2.length == 5))
    pre.collect().foreach { r =>
      assert(r.getLong(1) >= 32) // corpus side only
    }
    val okLabels = e.filter(col("label").isin(0, 1))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pre.collect().forall(r => okLabels.contains(r.getLong(1))))
    // the post-filter formulation (global top-5, then drop non-matching
    // labels) under-fills: with labels ~2/10 of the corpus, most queries
    // lose winners — the serving lesson this row exists to pin
    val global = Similarity.batchTopK(
      e.filter(col("vec_id") < 32), e.filter(col("vec_id") >= 32),
      "vec_id", "embedding", k = 5)
    val post = global.collect()
      .filter(r => okLabels.contains(r.getLong(1)))
      .groupBy(_.getLong(0))
    val underfilled = perQuery.keySet.count(q => post.getOrElse(q, Array()).length < 5)
    assert(underfilled > perQuery.size / 2,
      s"expected most queries under-filled post-filter, got $underfilled/${perQuery.size}")
  }

  test("I3 LSH ANN recall vs brute force on real embeddings") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ann = Similarity.lshTopK(e, "vec_id", "embedding", k = 3,
      nPlanes = 4, nTables = 8)
      .filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // single-table sign-LSH recall at 4 planes is ~(1-θ/π)^4 ≈ 0.15 for
    // near-orthogonal vectors; 8 tables lift it to ~1-(1-p)^8 ≈ 0.7
    val hits = brute.count { case (q, n) => ann.get(q).contains(n) }
    assert(ann.nonEmpty)
    assert(hits.toDouble / brute.size > 0.4, s"recall ${hits.toDouble / brute.size}")
  }

  test("I3 md5-family LSH: recall holds and buckets are engine-independent") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    def run() = Similarity.lshTopK(e, "vec_id", "embedding", k = 3,
      nPlanes = 4, nTables = 8, hashFamily = "md5")
      .filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ann = run()
    val hits = brute.count { case (q, n) => ann.get(q).contains(n) }
    assert(ann.nonEmpty)
    assert(hits.toDouble / brute.size > 0.4, s"recall ${hits.toDouble / brute.size}")
    // derandomized: a second run is bit-identical (no seeds anywhere)
    assert(run() == ann)
    // the weight family is the documented md5 arithmetic: reproduce one
    // bucket's sign bits independently from MessageDigest
    val vec = e.filter(col("vec_id") === 0L).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    val md = java.security.MessageDigest.getInstance("MD5")
    var expect = 0L
    for (j <- 0 until 4) {
      var dot = 0L
      for (i <- vec.indices) {
        md.reset()
        val d = md.digest(s"lsh:2:$j:$i".getBytes)
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        dot += math.floor(vec(i).toDouble * 1000000d).toLong * (h % 20011L - 10005L)
      }
      if (dot >= 0L) expect |= 1L << j
    }
    val got = e.filter(col("vec_id") === 0L)
      .select(Similarity.lshBucket(col("embedding"), 4, 2, "md5")).head.getLong(0)
    assert(got == expect)
  }

  test("I3 LSH auto-planes keeps bucket occupancy constant as the corpus grows") {
    // the sizing rule itself: smallest p with n/2^p <= 32, clamped [4, 24]
    assert(Similarity.lshAutoPlanes(1L) == 4)
    assert(Similarity.lshAutoPlanes(512L) == 4)
    assert(Similarity.lshAutoPlanes(2048L) == 6)
    assert(Similarity.lshAutoPlanes(2049L) == 7)
    assert(Similarity.lshAutoPlanes(32768L) == 10) // the 16x shard corpus
    assert(Similarity.lshAutoPlanes(Long.MaxValue) == 24)
    // occupancy invariant across 6 orders of magnitude
    for (n <- Seq(1000L, 100000L, 10000000L, 1000000000L)) {
      val p = Similarity.lshAutoPlanes(n)
      assert(p == 24 || n.toDouble / (1L << p) <= Similarity.LshTargetOccupancy,
        s"n=$n p=$p occupancy ${n.toDouble / (1L << p)}")
    }
    // behavioral: nPlanes = 0 runs end-to-end and still finds neighbors
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val auto = Similarity.lshTopK(e, "vec_id", "embedding", k = 3,
      nPlanes = 0, nTables = 8, hashFamily = "md5")
      .filter(col("rank") === 1).collect()
    assert(auto.nonEmpty)
  }

  test("I2 embedding near-dups: blocked (LSH) results are a subset of exact") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.35))
    val blocked = pairs(Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.35,
      blocked = true, nPlanes = 4, nTables = 8))
    assert(exact.nonEmpty, "threshold 0.35 should produce some near-dup pairs")
    assert(blocked.subsetOf(exact), "blocked path must never invent pairs")
    assert(blocked.size.toDouble / exact.size > 0.3,
      s"LSH recall ${blocked.size.toDouble / exact.size}")
  }

  test("I3 IVF ANN recall vs brute force on real embeddings") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", k = 1,
      nList = 8, nProbe = 3)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val hits = brute.count { case (q, n) => ivf.get(q).contains(n) }
    assert(ivf.nonEmpty)
    // probing 3 of 8 cells: the true nearest neighbor shares the query's
    // cell (or an adjacent probed one) most of the time
    assert(hits.toDouble / brute.size > 0.5, s"recall ${hits.toDouble / brute.size}")
  }

  test("I3 exact-IVF (integer-Lloyd) recall and determinism") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    def run() = Similarity.ivfTopKExact(e, "vec_id", "embedding", k = 1,
      nList = 8, nProbe = 3, updates = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ivf = run()
    val hits = brute.count { case (q, n) => ivf.get(q).contains(n) }
    assert(ivf.nonEmpty)
    assert(hits.toDouble / brute.size > 0.5, s"recall ${hits.toDouble / brute.size}")
    // pure integer function of the data: a second fit+probe is bit-identical
    assert(run() == ivf)
  }

  test("I3 exact-IVF handles a corpus smaller than nList") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopKExact(vecs, "vec_id", "embedding", k = 1,
      nList = 16, nProbe = 4)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(out(1L) == 2L && out(2L) == 1L)
  }

  test("I3 PQ ANN recall vs brute force on real embeddings") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val pq = Similarity.pqTopK(e, "vec_id", "embedding", k = 5)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    val hits = brute.count { case (q, n) => pq.get(q).exists(_.contains(n)) }
    assert(pq.nonEmpty)
    // the scan is exhaustive; quantization error is the only recall loss
    assert(hits.toDouble / brute.size > 0.8, s"recall ${hits.toDouble / brute.size}")
    // every query gets exactly k ranked rows (500-vector corpus >> k)
    assert(pq.values.forall(_.size == 5))
  }

  test("I3 exact-PQ (integer-Lloyd blocks) recall and determinism") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    def run() = Similarity.pqTopKExact(e, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rank"))).toSet
    val pq = run()
    val byQuery = pq.groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2) }
    val hits = brute.count { case (q, n) => byQuery.get(q).exists(_.contains(n)) }
    assert(pq.nonEmpty)
    // the scan is exhaustive; 256 codes over a 500-vector corpus make
    // quantization error tiny
    assert(hits.toDouble / brute.size > 0.8, s"recall ${hits.toDouble / brute.size}")
    assert(byQuery.values.forall(_.size == 5))
    // pure integer function of the data: a FRESH fit+scan (cache dropped,
    // codebooks retrained) is bit-identical
    Similarity.releaseBroadcasts()
    assert(run() == pq)
  }

  test("I3 exact IVF-PQ composition: recall through both quantizers, deterministic") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    def run() = Similarity.ivfPqTopKExact(e, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rank"))).toSet
    val out = run()
    val byQuery = out.groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2) }
    val hits = brute.count { case (q, n) => byQuery.get(q).exists(_.contains(n)) }
    assert(out.nonEmpty)
    // recall compounds both quantizers: ~ivf cell recall (~0.6 at 16/4 on
    // this fixture) x PQ rank fidelity (~0.98) — floor well below that,
    // far above chance
    assert(hits.toDouble / brute.size > 0.35, s"recall ${hits.toDouble / brute.size}")
    // both quantizers are pure integer functions: bit-identical refit
    assert(run() == out)
  }

  test("I3 exact-PQ handles degenerate vectors like the float path") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero norm → neither query nor neighbor
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.pqTopKExact(vecs, "vec_id", "embedding", k = 3,
      nBlocks = 2, nCodes = 4).collect()
    val best = rows.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(best(1L) == 2L && best(2L) == 1L)
    assert(!best.contains(3L))
    assert(rows.forall(_.getAs[Long]("neighbor_id") != 3L))
    val empty = Similarity.pqTopKExact(vecs.limit(0), "vec_id", "embedding", k = 3)
    assert(empty.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cos_sim", "rank") && empty.count() == 0)
  }

  test("I3 exact-IVF returns the empty typed frame on empty/all-null corpora") {
    // without the guard KMeans.centroids produces zero seeds and
    // KMeansExprs.assign throws 'needs at least one centroid'
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val vecs = Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    // every public batch tier; the query-batch tiers serve `vecs` against
    // the degenerate corpus
    val tiers: Seq[(String, DataFrame => DataFrame)] = Seq(
      "batchTopK" -> (c => Similarity.batchTopK(vecs, c, "vec_id", "embedding", k = 3)),
      "bruteForceTopK" -> (c =>
        Similarity.bruteForceTopK(vecs, c, "vec_id", "embedding", k = 3)),
      "hardNegatives" -> (c => Similarity.hardNegatives(
        vecs, c, "vec_id", "embedding", "label", k = 3)),
      "sq8TopK" -> (c => Similarity.sq8TopK(c, "vec_id", "embedding",
        nQueries = 2, k = 3)),
      "pqTopK" -> (c => Similarity.pqTopK(c, "vec_id", "embedding", k = 3)),
      "pqTopKExact" -> (c => Similarity.pqTopKExact(c, "vec_id", "embedding", k = 3)),
      "ivfTopK" -> (c => Similarity.ivfTopK(c, "vec_id", "embedding", k = 3)),
      "ivfTopKExact" -> (c => Similarity.ivfTopKExact(c, "vec_id", "embedding", k = 3)),
      "ivfPqTopKExact" -> (c =>
        Similarity.ivfPqTopKExact(c, "vec_id", "embedding", k = 3)),
      "ivfServe" -> (c => Similarity.ivfServe(vecs, c, "vec_id", "embedding", k = 3)),
      "ivfPqServe" -> (c =>
        Similarity.ivfPqServe(vecs, c, "vec_id", "embedding", k = 3)),
      "lshTopK" -> (c => Similarity.lshTopK(c, "vec_id", "embedding", k = 3)))
    for (corpus <- Seq(
        vecs.limit(0),
        vecs.withColumn("embedding",
          lit(null).cast("array<float>")));
        (tier, run) <- tiers) {
      val empty = run(corpus)
      val neighbor = if (tier == "hardNegatives") "neg_id" else "neighbor_id"
      assert(empty.schema.fields.map(f => f.name -> f.dataType).toSeq == Seq(
        "query_id" -> LongType, neighbor -> LongType,
        "cos_sim" -> DoubleType, "rank" -> IntegerType), tier)
      assert(empty.count() == 0, tier)
    }
  }

  test("I3 PQ handles tiny corpora and degenerate vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero query norm → no rows out
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.pqTopK(vecs, "vec_id", "embedding", k = 3,
      nBlocks = 2, nCodes = 4).collect()
    val best = rows.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // 1↔2 reconstruct near each other; the zero vector queries nothing
    assert(best(1L) == 2L && best(2L) == 1L)
    assert(!best.contains(3L))
    // brute-force parity: the RAW-zero-norm vector is never a neighbor
    // either (it reconstructs to nonzero centroids, so only the raw-norm
    // exclusion at table build can catch it)
    assert(rows.forall(_.getAs[Long]("neighbor_id") != 3L))
    // an empty corpus yields an empty, correctly-shaped result
    val empty = Similarity.pqTopK(vecs.limit(0), "vec_id", "embedding", k = 3)
    assert(empty.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cos_sim", "rank") && empty.count() == 0)
  }

  test("I3 PQ code table is cached per corpus+params and released") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.releaseBroadcasts()
    assert(Similarity.pqCachedCount == 0)
    Similarity.pqTopK(e, "vec_id", "embedding", k = 1).count()
    Similarity.pqTopK(e, "vec_id", "embedding", k = 3).count() // same table
    assert(Similarity.pqCachedCount == 1)
    Similarity.pqTopK(e, "vec_id", "embedding", k = 1, nBlocks = 8).count()
    assert(Similarity.pqCachedCount == 2) // different codes → new entry
    Similarity.releaseBroadcasts()
    assert(Similarity.pqCachedCount == 0)
    // the sample-trained and the integer-Lloyd table of one corpus, same
    // nBlocks/nCodes, are two entries
    Similarity.pqTopK(e, "vec_id", "embedding", k = 1).count()
    Similarity.pqTopKExact(e, "vec_id", "embedding", k = 1).count()
    assert(Similarity.pqCachedCount == 2)
    Similarity.releaseBroadcasts()
    assert(Similarity.pqCachedCount == 0)
  }

  test("I3 brute-force top-k: zero vector (NaN cosine) never ranks") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), // zero norm -> cos_sim = 0/0 = NaN
      (4L, Array(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 3)
      .collect()
    assert(top.forall(r => !r.getAs[Double]("cos_sim").isNaN))
    // the zero vector is neither a neighbor of anyone nor a query with results
    assert(top.forall(r => r.getAs[Long]("neighbor_id") != 3L))
    assert(!top.exists(r => r.getAs[Long]("query_id") == 3L))
    // the non-degenerate neighbors still rank fully
    assert(top.count(r => r.getAs[Long]("query_id") == 1L) == 2)
  }

  test("I3 IVF handles a corpus smaller than nList") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(vecs, "vec_id", "embedding", k = 1,
      nList = 16, nProbe = 4)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(out(1L) == 2L && out(2L) == 1L)
  }

  test("I3 brute-force top-k works with non-long (string) id columns") {
    val vecs = Seq(
      ("a", Array(1.0f, 0.0f)),
      ("b", Array(0.9f, 0.1f)),
      ("c", Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[String]("query_id") -> r.getAs[String]("neighbor_id"))
      .toMap
    assert(top("a") == "b" && top("b") == "a")
  }

  test("I3 corpus broadcast is built once per distinct corpus") {
    // unique corpus (distinctive ids) so the cache key can't collide with
    // other suites running in the same JVM
    val vecs = Seq(
      (91001L, Array(1.0f, 0.0f)),
      (91002L, Array(0.9f, 0.1f)),
      (91003L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1).count()
    val bc1 = Similarity.cachedBroadcastFor(vecs, "vec_id", "embedding")
    assert(bc1.nonEmpty)
    // a second call with a re-built but plan-identical corpus reuses it
    val vecs2 = Seq(
      (91001L, Array(1.0f, 0.0f)),
      (91002L, Array(0.9f, 0.1f)),
      (91003L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    Similarity.bruteForceTopK(vecs2, vecs2, "vec_id", "embedding", k = 2).count()
    val bc2 = Similarity.cachedBroadcastFor(vecs2, "vec_id", "embedding")
    assert(bc2.nonEmpty && (bc2.get eq bc1.get),
      "plan-identical corpus must reuse the cached broadcast")
    Similarity.releaseBroadcasts()
    assert(Similarity.cachedBroadcastCount == 0)
    assert(Similarity.cachedBroadcastFor(vecs, "vec_id", "embedding").isEmpty)
  }

  test("I3 cosine matches quantized cosine closely") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val both = a.join(b, col("ia") < col("ib"))
      .select(
        Similarity.cosine(col("va"), col("vb")).as("exact"),
        Similarity.cosineQ(Similarity.quantize(col("va")),
          Similarity.quantize(col("vb"))).as("quant"))
      .collect()
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-4)
    }
  }

  test("I4 multimodal: stub decode plumbing produces stable schema + features") {
    val media = Multimodal.docsAsMedia(
      docs.withColumnRenamed("doc_id", "doc_id").select(col("doc_id"), col("text")))
    val out = Multimodal.extractFeatures(media, dim = 8)
    assert(out.schema.fieldNames.toSeq.containsSlice(
      Seq("width", "height", "n_channels", "duration_ms", "features")))
    val rows = out.collect()
    assert(rows.forall(_.getSeq[Float](out.schema.fieldIndex("features")).size == 8))
    // deterministic: same payload ⇒ same features
    val f0 = rows.find(_.getLong(0) == 0L).get.getSeq[Float](out.schema.fieldIndex("features"))
    val f3 = rows.find(_.getLong(0) == 3L).get.getSeq[Float](out.schema.fieldIndex("features"))
    assert(f0 == f3)
  }

  test("I4 multimodal resize + frame sampling plumbing") {
    val media = Multimodal.docsAsMedia(docs.select(col("doc_id"), col("text")))
    val resized = Multimodal.resizePayloads(media, 3)
    assert(resized.schema.fieldNames.contains("resize_factor"))
    val byId = media.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](2)).toMap
    resized.collect().foreach { r =>
      val orig = byId(r.getLong(0))
      val out = r.getAs[Array[Byte]](resized.schema.fieldIndex("payload"))
      assert(out.length == (orig.length + 2) / 3) // every 3rd byte kept
      assert(out.headOption == orig.headOption)
    }
    val frames = Multimodal.sampleFrames(media, everyMs = 10)
    val f0 = frames.filter(col("media_id") === 0L)
      .orderBy(col("frame_idx"))
      .collect().map(r => r.getAs[Long]("frame_offset"))
    assert(f0.nonEmpty && f0.length <= 32)
    assert(f0.toSeq == f0.toSeq.sorted && f0.head == 0L)
    // stride honored
    assert(f0.toSeq.sliding(2).forall { case Seq(a, b) => b - a == 10; case _ => true })
  }

  test("I4 stub codec boundary is pinned (i4_multimodal_meta hash guard)") {
    // The i4 oracle SQL reproduces these constants and formulas verbatim;
    // a future "real" codec must come with a new query + oracle, not a
    // silent behavior change under the same name.
    import Multimodal.StubCodecs._
    assert((SizeBase, WidthMod, HeightDiv, HeightMod) == (64, 577, 7, 431))
    val payload = Array.tabulate[Byte](1000)(_.toByte)
    val (w, h, ch, dur) = decodeMeta(payload)
    assert(w == 64 + (1000 % 577))
    assert(h == 64 + ((1000 / 7) % 431))
    assert(ch == 3 && dur == 1000L)
  }

  test("I4 real image metadata via javax.imageio (PNG + JPEG), stub elsewhere") {
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos))
      baos.toByteArray
    }
    val png = imageBytes("png", 7, 5)
    val jpg = imageBytes("jpg", 11, 3)
    // direct decode: real header dimensions, not the stub's length-derived fake
    assert(Multimodal.decodeMeta(png, "image/png") == ((7, 5, 3, 0L)))
    assert(Multimodal.decodeMeta(jpg, "image/jpeg") == ((11, 3, 3, 0L)))
    // magic-byte sniff: generic mime still hits the real decoder
    assert(Multimodal.decodeMeta(png, "application/octet-stream") == ((7, 5, 3, 0L)))
    // non-image payloads keep the deterministic stub geometry
    val text = "plain text payload".getBytes("UTF-8")
    assert(Multimodal.decodeMeta(text, "application/octet-stream") ==
      Multimodal.StubCodecs.decodeMeta(text))
    // corrupt image header (mime says image, bytes do not decode) → stub
    val broken = png.take(8)
    assert(Multimodal.decodeMeta(broken, "image/png") ==
      Multimodal.StubCodecs.decodeMeta(broken))
    // garbage AFTER a valid magic: JDK readers throw RuntimeExceptions on
    // bogus header fields — must fall back to the stub, not escape
    val junk = Array[Byte]('B', 'M') ++ Array.fill[Byte](64)(0x7f)
    assert(Multimodal.decodeMeta(junk, "application/octet-stream") ==
      Multimodal.StubCodecs.decodeMeta(junk))
    // and the distributed path picks up the real dimensions from the mime col
    val media = Seq((1L, "image/png", png), (2L, "image/jpeg", jpg))
      .toDF("media_id", "mime", "payload")
    val out = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Int]("width"), r.getAs[Int]("height"))))
      .toMap
    assert(out(1L) == ((7, 5)) && out(2L) == ((11, 3)))
  }

  test("I4 real AVI header metadata + timeline frame sampling, stub elsewhere") {
    // minimal RIFF/AVI: RIFF size 'AVI ' LIST size 'hdrl' avih cb + the
    // 56-byte MainAVIHeader (public AVI RIFF layout), LE fields
    def aviBytes(usPerFrame: Int, totalFrames: Int, streams: Int,
        w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + 12 + 8 + 56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(12 + 8 + 56 + 4)
      bb.put("AVI ".getBytes)
      bb.put("LIST".getBytes); bb.putInt(4 + 8 + 56); bb.put("hdrl".getBytes)
      bb.put("avih".getBytes); bb.putInt(56)
      bb.putInt(usPerFrame); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      bb.putInt(totalFrames); bb.putInt(0); bb.putInt(streams); bb.putInt(0)
      bb.putInt(w); bb.putInt(h)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      bb.array()
    }
    // 25 fps (40000 µs/frame), 250 frames = 10 s, 2 streams, 320×240
    val avi = aviBytes(40000, 250, 2, 320, 240)
    assert(Multimodal.decodeMeta(avi, "video/x-msvideo") ==
      ((320, 240, 2, 10000L)))
    // magic-byte sniff: generic mime still hits the real parser
    assert(Multimodal.decodeMeta(avi, "application/octet-stream") ==
      ((320, 240, 2, 10000L)))
    // timeline sampling: one frame index per second of real duration
    val media = Seq((9L, "video/x-msvideo", avi)).toDF("media_id", "mime", "payload")
    val frames = Multimodal.sampleFrames(media, everyMs = 1000)
      .select("frame_idx", "frame_offset").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(frames.size == 10) // 10 s of timeline, 1 Hz
    // frame index = ms * 1000 / usPerFrame = 25 per second at 25 fps
    assert((0 until 10).forall(i => frames(i) == i * 25L))
    // truncated header (magic only) and non-AVI payloads keep the stub
    val broken = avi.take(16)
    assert(Multimodal.decodeMeta(broken, "video/x-msvideo") ==
      Multimodal.StubCodecs.decodeMeta(broken))
    // legacy "audio/avi" mime on a RIFF video container: the audio
    // decoder rejects it, the dispatch must still reach the video parser
    assert(Multimodal.decodeMeta(avi, "audio/avi") == ((320, 240, 2, 10000L)))
    // hostile header: frames*usPerFrame overflows Long → stub, never a
    // negative duration or a silently vanished row
    val hostile = aviBytes(-1, -1, 1, 320, 240) // 0xFFFFFFFF fields
    assert(Multimodal.decodeMeta(hostile, "video/x-msvideo") ==
      Multimodal.StubCodecs.decodeMeta(hostile))
    val hostileMedia = Seq((10L, "video/x-msvideo", hostile))
      .toDF("media_id", "mime", "payload")
    assert(Multimodal.sampleFrames(hostileMedia, everyMs = 1000).count() > 0)
    // KNOWN zero-frame clip: real metadata (duration 0) and NO frames —
    // the audio convention, not the byte-stride stub
    val empty = aviBytes(40000, 0, 1, 320, 240)
    assert(Multimodal.decodeMeta(empty, "video/x-msvideo") ==
      ((320, 240, 1, 0L)))
    val emptyMedia = Seq((11L, "video/x-msvideo", empty))
      .toDF("media_id", "mime", "payload")
    assert(Multimodal.sampleFrames(emptyMedia, everyMs = 1000).count() == 0)
  }

  test("I4 uncompressed-AVI first-frame decode drives REAL video features") {
    // playable minimal AVI: hdrl(avih + strl(strh, strf BITMAPINFOHEADER
    // BI_RGB 24-bit)) + movi('00db' bottom-up BGR DIB frame)
    def dibAvi(w: Int, h: Int, rgbAt: (Int, Int) => Int,
        compression: Int = 0, audioFirst: Boolean = false): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val frame = new Array[Byte](stride * h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = rgbAt(x, y)
        val row = (h - 1 - y) * stride // bottom-up
        frame(row + x * 3) = (rgb & 0xff).toByte // B
        frame(row + x * 3 + 1) = ((rgb >> 8) & 0xff).toByte // G
        frame(row + x * 3 + 2) = ((rgb >> 16) & 0xff).toByte // R
      }
      val audsSz = if (audioFirst) 8 + 4 + 8 + 56 + 8 + 16 else 0
      val hdrlSz = 4 + 8 + 56 + audsSz + 8 + 4 + 8 + 56 + 8 + 40
      val moviSz = 4 + 8 + frame.length
      val bb = java.nio.ByteBuffer
        .allocate(12 + 8 + hdrlSz + 8 + moviSz)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(4 + 8 + hdrlSz + 8 + moviSz)
      bb.put("AVI ".getBytes)
      bb.put("LIST".getBytes); bb.putInt(hdrlSz); bb.put("hdrl".getBytes)
      bb.put("avih".getBytes); bb.putInt(56)
      bb.putInt(40000); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      bb.putInt(1); bb.putInt(0); bb.putInt(1); bb.putInt(0)
      bb.putInt(w); bb.putInt(h)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      if (audioFirst) {
        // an AUDIO strl ahead of the video one (legal writer ordering):
        // its WAVEFORMATEX strf is crafted so a blind first-strf scan
        // would misread (24-bit, BI_RGB-ish) fields — the regression case
        bb.put("LIST".getBytes); bb.putInt(4 + 8 + 56 + 8 + 16)
        bb.put("strl".getBytes)
        bb.put("strh".getBytes); bb.putInt(56)
        bb.put("auds".getBytes); bb.putInt(0)
        bb.position(bb.position() + 48)
        bb.put("strf".getBytes); bb.putInt(16)
        bb.putShort(1.toShort); bb.putShort(2.toShort) // PCM, stereo
        bb.putInt(44100); bb.putInt(264600)
        bb.putShort(6.toShort); bb.putShort(24.toShort) // 24-bit samples
      }
      bb.put("LIST".getBytes); bb.putInt(4 + 8 + 56 + 8 + 40)
      bb.put("strl".getBytes)
      bb.put("strh".getBytes); bb.putInt(56)
      bb.put("vids".getBytes); bb.put("DIB ".getBytes)
      bb.position(bb.position() + 48) // rest of strh irrelevant here
      bb.put("strf".getBytes); bb.putInt(40)
      bb.putInt(40) // biSize
      bb.putInt(w); bb.putInt(h)
      bb.putShort(1.toShort); bb.putShort(24.toShort)
      bb.putInt(compression); bb.putInt(frame.length)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      bb.put("LIST".getBytes); bb.putInt(moviSz); bb.put("movi".getBytes)
      bb.put("00db".getBytes); bb.putInt(frame.length); bb.put(frame)
      bb.array()
    }
    // left half pure red, right half pure blue, 8x4
    val avi = dibAvi(8, 4, (x, _) => if (x < 4) 0xff0000 else 0x0000ff)
    val img = Multimodal.VideoCodec.firstFrame(avi)
    assert(img.isDefined)
    assert(img.get.getWidth == 8 && img.get.getHeight == 4)
    assert((img.get.getRGB(0, 0) & 0xffffff) == 0xff0000)
    assert((img.get.getRGB(7, 3) & 0xffffff) == 0x0000ff)
    // the shared descriptor separates the halves: dim=8 → 2x1 grid,
    // cell 0 red-dominant, cell 1 blue-dominant
    val f = Multimodal.VideoCodec.features(avi, 8).get
    assert(f(0) > 0.9f && f(2) < 0.1f, f.toSeq)
    assert(f(3) > 0.9f || f(5) > 0.9f) // cell 1: blue channel is f(5)
    assert(f(5) > 0.9f && f(3) < 0.1f, f.toSeq)
    // and it flows through the batch feature extractor as the REAL path
    val media = Seq((12L, "video/x-msvideo", avi)).toDF("media_id", "mime", "payload")
    val viaBatch = Multimodal.extractFeatures(media, dim = 8)
      .select("features").collect().head.getSeq[Float](0)
    assert(viaBatch == f.toSeq)
    // writer puts the AUDIO stream first: the vids-anchored strf scan must
    // still find the video header (a blind first-strf scan would misparse
    // the WAVEFORMATEX) and decode the same frame
    val audioFirst = dibAvi(8, 4, (x, _) => if (x < 4) 0xff0000 else 0x0000ff,
      audioFirst = true)
    val img2 = Multimodal.VideoCodec.firstFrame(audioFirst)
    assert(img2.isDefined && img2.get.getWidth == 8 && img2.get.getHeight == 4)
    assert((img2.get.getRGB(0, 0) & 0xffffff) == 0xff0000)
    // COMPRESSED stream (biCompression != 0): decode refuses, stub stands
    val compressed = dibAvi(8, 4, (_, _) => 0xff0000, compression = 1)
    assert(Multimodal.VideoCodec.firstFrame(compressed).isEmpty)
    val stubF = Multimodal.extractFeatures(
      Seq((13L, "video/x-msvideo", compressed)).toDF("media_id", "mime", "payload"),
      dim = 8).select("features").collect().head.getSeq[Float](0)
    assert(stubF == Multimodal.StubCodecs.features(compressed, 8).toSeq)
  }

  test("I4 MJPEG-AVI first-frame decode via per-frame JPEG") {
    // same minimal container as the DIB test, but the video strf carries
    // biCompression 'MJPG' and the movi payload is a '00dc' chunk holding
    // one complete JPEG — the one compressed codec javax.imageio decodes
    def mjpgAvi(w: Int, h: Int, frame: Array[Byte]): Array[Byte] = {
      val padded = if (frame.length % 2 == 1) frame :+ 0.toByte else frame
      val hdrlSz = 4 + 8 + 56 + 8 + 4 + 8 + 56 + 8 + 40
      val moviSz = 4 + 8 + padded.length
      val bb = java.nio.ByteBuffer
        .allocate(12 + 8 + hdrlSz + 8 + moviSz)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(4 + 8 + hdrlSz + 8 + moviSz)
      bb.put("AVI ".getBytes)
      bb.put("LIST".getBytes); bb.putInt(hdrlSz); bb.put("hdrl".getBytes)
      bb.put("avih".getBytes); bb.putInt(56)
      bb.putInt(40000); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      bb.putInt(1); bb.putInt(0); bb.putInt(1); bb.putInt(0)
      bb.putInt(w); bb.putInt(h)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      bb.put("LIST".getBytes); bb.putInt(4 + 8 + 56 + 8 + 40)
      bb.put("strl".getBytes)
      bb.put("strh".getBytes); bb.putInt(56)
      bb.put("vids".getBytes); bb.put("MJPG".getBytes)
      bb.position(bb.position() + 48)
      bb.put("strf".getBytes); bb.putInt(40)
      bb.putInt(40) // biSize
      bb.putInt(w); bb.putInt(h)
      bb.putShort(1.toShort); bb.putShort(24.toShort)
      bb.put("MJPG".getBytes) // biCompression fourcc, LE = 0x47504A4D
      bb.putInt(frame.length)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      bb.put("LIST".getBytes); bb.putInt(moviSz); bb.put("movi".getBytes)
      bb.put("00dc".getBytes); bb.putInt(frame.length); bb.put(padded)
      bb.array()
    }
    val w = 32; val h = 16
    val src = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      src.setRGB(x, y, if (x < w / 2) 0xff0000 else 0x0000ff)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "jpg", baos))
    val avi = mjpgAvi(w, h, baos.toByteArray)
    val img = Multimodal.VideoCodec.firstFrame(avi)
    assert(img.isDefined)
    assert(img.get.getWidth == w && img.get.getHeight == h)
    // JPEG is lossy: assert channel dominance away from the seam
    val left = img.get.getRGB(4, h / 2)
    val right = img.get.getRGB(w - 5, h / 2)
    assert(((left >> 16) & 0xff) > 180 && (left & 0xff) < 100, left.toHexString)
    assert((right & 0xff) > 180 && ((right >> 16) & 0xff) < 100, right.toHexString)
    // flows through the batch extractor as the REAL path: dim=8 → 2x1
    // grid, cell 0 red-dominant (f(0)), cell 1 blue-dominant (f(5))
    val feats = Multimodal.extractFeatures(
      Seq((14L, "video/x-msvideo", avi)).toDF("media_id", "mime", "payload"),
      dim = 8).select("features").collect().head.getSeq[Float](0)
    assert(feats(0) > 0.6f && feats(2) < 0.4f, feats)
    assert(feats(5) > 0.6f && feats(3) < 0.4f, feats)
    // a 'dc' chunk that is not a JPEG (no FFD8 SOI) refuses → stub stands
    val junk = mjpgAvi(w, h, Array.fill[Byte](64)(0x11))
    assert(Multimodal.VideoCodec.firstFrame(junk).isEmpty)
    val stubF = Multimodal.extractFeatures(
      Seq((15L, "video/x-msvideo", junk)).toDF("media_id", "mime", "payload"),
      dim = 8).select("features").collect().head.getSeq[Float](0)
    assert(stubF == Multimodal.StubCodecs.features(junk, 8).toSeq)

    // LEGACY tables-omitted MJPEG: strip every DHT segment from the frame
    // (what old capture hardware shipped; the MJPEG spec says decoders
    // must assume the Annex-K tables). ImageIO alone throws on it — the
    // splice path must decode it to the same picture.
    def stripDht(jpeg: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(jpeg(0)); out.write(jpeg(1))
      var i = 2
      var inScan = false
      while (i < jpeg.length) {
        if (!inScan && i + 4 <= jpeg.length && (jpeg(i) & 0xff) == 0xFF &&
          (jpeg(i + 1) & 0xff) != 0xFF) {
          val m = jpeg(i + 1) & 0xff
          val segLen = ((jpeg(i + 2) & 0xff) << 8) | (jpeg(i + 3) & 0xff)
          if (m == 0xC4) i += 2 + segLen // drop the DHT
          else {
            out.write(jpeg, i, 2 + segLen); i += 2 + segLen
            if (m == 0xDA) inScan = true
          }
        } else { out.write(jpeg(i)); i += 1 }
      }
      out.toByteArray
    }
    val bare = stripDht(baos.toByteArray)
    assert(bare.length < baos.toByteArray.length)
    // sanity: no DHT marker survives the strip
    assert(!bare.sliding(2).exists(s =>
      (s(0) & 0xff) == 0xFF && (s(1) & 0xff) == 0xC4))
    // the splice restores a DHT segment and the result decodes
    // PIXEL-IDENTICAL to the original tabled frame: the Annex-K tables we
    // splice are exactly the ones the encoder wrote (and stripDht cut)
    val spliced = Multimodal.VideoCodec.withHuffmanTables(bare)
    assert(spliced.sliding(2).exists(s =>
      (s(0) & 0xff) == 0xFF && (s(1) & 0xff) == 0xC4))
    val origImg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(baos.toByteArray))
    val splicedImg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(spliced))
    for (x <- 0 until w; y <- 0 until h)
      assert(splicedImg.getRGB(x, y) == origImg.getRGB(x, y), s"($x,$y)")
    val legacy = Multimodal.VideoCodec.firstFrame(mjpgAvi(w, h, bare))
    assert(legacy.isDefined)
    assert(legacy.get.getWidth == w && legacy.get.getHeight == h)
    val lleft = legacy.get.getRGB(4, h / 2)
    val lright = legacy.get.getRGB(w - 5, h / 2)
    assert(((lleft >> 16) & 0xff) > 180 && (lleft & 0xff) < 100, lleft.toHexString)
    assert((lright & 0xff) > 180 && ((lright >> 16) & 0xff) < 100, lright.toHexString)
  }

  test("I4 real PNG/BMP resize via java.awt.image, stub for non-images") {
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      (0 until w).foreach(x => (0 until h).foreach { y =>
        img.setRGB(x, y, (x * 37 + y * 101) & 0xffffff) // non-constant raster
      })
      g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, baos))
      baos.toByteArray
    }
    val png = imageBytes("png", 64, 48)
    val bmp = imageBytes("bmp", 20, 12)
    val text = "plain text payload that is not an image at all".getBytes("UTF-8")
    val media = Seq(
      (1L, "image/png", png), (2L, "image/bmp", bmp),
      (3L, "application/octet-stream", text))
      .toDF("media_id", "mime", "payload")
    val out = Multimodal.resizePayloads(media, factor = 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    // real round-trip: the output payload is a decodable image of the
    // downscaled geometry, in the SOURCE format
    def dims(b: Array[Byte]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      (img.getWidth, img.getHeight)
    }
    assert(dims(out(1L)) == ((16, 12)))
    assert(out(1L).startsWith(Array[Byte](0x89.toByte, 'P', 'N', 'G')))
    assert(dims(out(2L)) == ((5, 3)))
    assert(out(2L)(0) == 'B' && out(2L)(1) == 'M')
    // non-image payloads keep the deterministic stub subsample
    assert(out(3L).sameElements(Multimodal.StubCodecs.resize(text, 4)))
    // a 1-pixel floor instead of a zero-dimension crash on tiny images
    val tiny = imageBytes("png", 2, 2)
    val t = Multimodal.ImageCodec.resize(tiny, 16)
    assert(t.isDefined && dims(t.get) == ((1, 1)))
  }

  test("I4 real image features: grid color-layout descriptor, stub elsewhere") {
    def solidPng(rgb: Int, w: Int = 16, h: Int = 16): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      baos.toByteArray
    }
    val red = solidPng(0xff0000)
    val blue = solidPng(0x0000ff)
    val text = "not an image".getBytes("UTF-8")
    val media = Seq((1L, "image/png", red), (2L, "image/png", blue),
      (3L, "application/octet-stream", text)).toDF("media_id", "mime", "payload")
    val out = Multimodal.extractFeatures(media, dim = 12).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](r.length - 1)).toMap
    // a solid-red image: every grid cell reads (1, 0, 0)
    assert(out(1L).grouped(3).forall(c => c(0) == 1.0f && c(1) == 0.0f && c(2) == 0.0f))
    assert(out(2L).grouped(3).forall(c => c(0) == 0.0f && c(1) == 0.0f && c(2) == 1.0f))
    // the descriptor SEPARATES colors where the byte-moment stub cannot
    assert(out(1L) != out(2L))
    // non-image payloads keep the deterministic stub
    assert(out(3L) == Multimodal.StubCodecs.features(text, 12).toSeq)
    // a dim that fits no square grid: complete cells + zero padding, never
    // a truncated cell — dim=8 is a 2×1 grid (left cell, right cell, 2 pad),
    // which still separates left/right layouts a global mean cannot
    val f8 = Multimodal.ImageCodec.features(red, 8).get.toSeq
    assert(f8 == Seq(1.0f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 0.0f, 0.0f))
    def halfPng(left: Int, right: Int, w: Int = 16, h: Int = 16): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, if (x < w / 2) left else right)))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      baos.toByteArray
    }
    val rb = Multimodal.ImageCodec.features(halfPng(0xff0000, 0x0000ff), 8).get.toSeq
    val br = Multimodal.ImageCodec.features(halfPng(0x0000ff, 0xff0000), 8).get.toSeq
    assert(rb != br) // same mean color, different layout → different descriptor
  }

  test("I4 binaryFile ingestion: media dir → (media_id, mime, payload) → real meta") {
    // the distributed entry point: executors read bytes, driver only
    // lists paths — write a small media tree and flow it end-to-end
    // through the same decodeMeta batch the synthesized fixtures use
    val dir = java.nio.file.Files.createTempDirectory("graft-mediadir")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    val img = new java.awt.image.BufferedImage(
      24, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    put("pic.PNG", baos.toByteArray) // uppercase ext: mapping must fold case
    put("note.txt", "not media at all".getBytes("UTF-8"))
    val media = Multimodal.readMediaDir(spark, dir.toString)
    val rows = media.collect()
    assert(rows.length == 2)
    val byMime = rows.map(r => r.getString(1) ->
      (r.getLong(0), r.getAs[Array[Byte]](2), r.getString(3), r.getLong(4))).toMap
    assert(byMime.keySet == Set("image/png", "application/octet-stream"))
    val (_, pngPayload, pngPath, pngLen) = byMime("image/png")
    assert(pngPath.endsWith("pic.PNG") && pngLen == pngPayload.length)
    // ids are distinct and stable across re-listing
    assert(rows.map(_.getLong(0)).distinct.length == 2)
    assert(Multimodal.readMediaDir(spark, dir.toString).collect()
      .map(_.getLong(0)).sorted.toSeq == rows.map(_.getLong(0)).sorted.toSeq)
    // glob filter narrows the listing before any bytes are read
    assert(Multimodal.readMediaDir(spark, dir.toString, glob = "*.txt")
      .count() == 1)
    // and the ingested frame drives the REAL metadata path
    val meta = Multimodal.extractFeatures(
      media.select("media_id", "mime", "payload"))
      .select(col("mime"), col("width"), col("height")).collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(meta("image/png") == ((24, 16)))
  }

  test("I4 real audio: WAV metadata, RMS features, frame sampling") {
    import javax.sound.sampled._
    // synthesize a PCM16 mono WAV: `seconds` of a sine at `amp`
    def wav(hz: Double, amp: Double, seconds: Double, rate: Float = 8000f,
        channels: Int = 1): Array[Byte] = {
      val n = (rate * seconds).toInt
      val bytes = new Array[Byte](n * 2 * channels)
      for (i <- 0 until n; c <- 0 until channels) {
        val s = (math.sin(2 * math.Pi * hz * i / rate) * amp * 32767).toInt.toShort
        val off = (i * channels + c) * 2
        bytes(off) = (s & 0xff).toByte
        bytes(off + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rate, 16, channels, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val loud = wav(440, 0.8, 2.0)
    val quiet = wav(440, 0.1, 2.0)
    val silent = wav(440, 0.0, 2.0)
    val stereo = wav(440, 0.5, 1.0, channels = 2)
    val text = "not audio".getBytes("UTF-8")

    // metadata: (rate, bits, channels, duration) on the image-shaped struct
    assert(Multimodal.AudioCodec.looksLikeAudio(loud))
    assert(!Multimodal.AudioCodec.looksLikeAudio(text))
    assert(Multimodal.decodeMeta(loud, "audio/wav") == ((8000, 16, 1, 2000L)))
    assert(Multimodal.decodeMeta(stereo, null) == ((8000, 16, 2, 1000L)))

    // features: RMS envelope orders by loudness; sine RMS ≈ amp/√2
    val media = Seq((1L, "audio/wav", loud), (2L, "audio/wav", quiet),
      (3L, "audio/wav", silent), (4L, "application/octet-stream", text))
      .toDF("media_id", "mime", "payload")
    val feats = Multimodal.extractFeatures(media, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](r.length - 1)).toMap
    assert(feats(3L).forall(_ == 0.0f))
    assert(feats(1L).forall(f => f > 0.5f && f < 0.6f)) // 0.8/√2 ≈ 0.566
    assert(feats(2L).forall(f => f > 0.06f && f < 0.08f))
    assert(feats(4L) == Multimodal.StubCodecs.features(text, 4).toSeq)

    // frame sampling: every 500ms of a 2s clip at 8kHz → frames 0,4000,
    // 8000,12000 — NOT 16000, which is one past the last valid frame
    val sampled = Multimodal.sampleFrames(
      Seq((1L, "audio/wav", loud)).toDF("media_id", "mime", "payload"), 500L)
      .select("frame_idx", "frame_offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toList
    assert(sampled == List((0, 0L), (1, 4000L), (2, 8000L), (3, 12000L)))
    // non-audio payloads keep the byte-stride stub
    val stub = Multimodal.sampleFrames(
      Seq((9L, "video/mp4", text)).toDF("media_id", "mime", "payload"), 4L)
      .select("frame_offset").collect().map(_.getLong(0)).toList
    assert(stub == List(0L, 4L, 8L))
    // an AU with the legal streaming size header (0xFFFFFFFF = unknown
    // length) must fall back to the stub, not silently emit zero frames
    val au = java.nio.ByteBuffer.allocate(32)
    au.put(".snd".getBytes("US-ASCII")).putInt(24).putInt(-1)
      .putInt(3).putInt(8000).putInt(1).putLong(0L)
    assert(Multimodal.AudioCodec.looksLikeAudio(au.array()))
    assert(Multimodal.AudioCodec.sampleFrameOffsets(au.array(), 500L).isEmpty)
  }

  test("I3 brute-force broadcast refuses an over-budget corpus") {
    val conf = Similarity.MaxBroadcastRowsConf
    spark.conf.set(conf, "2")
    try {
      // distinctive ids: must MISS the corpus cache (a hit would skip the gate)
      val vecs = Seq(
        (94001L, Array(1.0f, 0.0f)),
        (94002L, Array(0.9f, 0.1f)),
        (94003L, Array(0.0f, 1.0f)))
        .toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1).count()
      }
      assert(e.getMessage.contains("lshTopK") && e.getMessage.contains("ivfTopK"))
      // the join path (non-integral ids) is gated too
      val svecs = Seq(("a", Array(1.0f, 0.0f)), ("b", Array(0.9f, 0.1f)),
        ("c", Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
      intercept[IllegalArgumentException] {
        Similarity.bruteForceTopK(svecs, svecs, "vec_id", "embedding", k = 1).count()
      }
      // within budget still works
      spark.conf.set(conf, "3")
      assert(Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 1)
        .count() == 3)
    } finally spark.conf.unset(conf)
  }

  test("I5 language id picks stopword-matching language") {
    val en = Seq((1L, "the cat and the dog is in the house with all of them"))
      .toDF("doc_id", "text")
    val fr = Seq((2L, "le chat est dans la maison et les oiseaux dans une cage"))
      .toDF("doc_id", "text")
    assert(en.select(TextAnalysis.langId(col("text"))).head().getString(0) == "en")
    assert(fr.select(TextAnalysis.langId(col("text"))).head().getString(0) == "fr")
    val none = Seq((3L, "zzz qqq www")).toDF("doc_id", "text")
    assert(none.select(TextAnalysis.langId(col("text"))).head().getString(0) == "und")
  }

  test("I5 every scalar text kernel tolerates null text (no crash, null or default)") {
    // the driver fixtures carry no null text; a production corpus will.
    // Sweep the whole scalar scan-kernel surface over a null row: nothing
    // may throw, lang_id defaults to 'und', the numeric kernels
    // null-propagate (Spark convention for null input)
    val df = Seq((1L, "some ordinary text here"), (2L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val rows = df.select(col("id"),
      TextAnalysis.tokenCount(col("t")).as("tc"),
      TextAnalysis.meanWordLength(col("t")).as("mwl"),
      TextAnalysis.punctRatio(col("t")).as("pr"),
      TextAnalysis.stopwordHits(col("t"), TextAnalysis.stopwordTable("en")).as("sw"),
      TextAnalysis.langId(col("t")).as("lang"),
      TextAnalysis.qualityScore(col("t")).as("q"),
      TextAnalysis.dupTokenRatio(col("t")).as("dtr"),
      TextAnalysis.topTokenShare(col("t")).as("tts"),
      TextAnalysis.fingerprint(col("t")).as("fp"),
      TextAnalysis.simHash(col("t")).as("sh"))
      .orderBy(col("id")).collect()
    val real = rows(0)
    val nul = rows(1)
    // the real row is fully defined
    for (i <- 1 to 10) assert(!real.isNullAt(i), s"real row col $i")
    // the null row: lang defaults, everything else null-propagates
    assert(nul.getString(5) == "und")
    for (i <- Seq(1, 2, 3, 4, 6, 7, 8, 9, 10))
      assert(nul.isNullAt(i), s"null row col $i should be null")
  }

  test("I6 filter-attrition funnel is internally consistent") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.LlmOps.filterAttrition(spark, sf)
      .orderBy(col("stage_idx")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._1, t._2)).toSeq == Seq(
      (0, "input"), (1, "lang_en"), (2, "quality"),
      (3, "repetition"), (4, "exact_dedup")))
    // stage 0 is the corpus size; the funnel never grows; every removal
    // count is exactly the preceding stage's loss
    assert(rows(0)._3 ==
      graft.queries.Tables.documents(spark, sf).count())
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"funnel grew at ${b._2}")
      assert(b._4 == a._3 - b._3, s"removal mismatch at ${b._2}")
    }
    assert(rows(0)._4 == 0L)
    // the funnel actually cuts something on the fixture corpus
    assert(rows.last._3 < rows.head._3)
  }

  test("I6 doc provenance verdicts reconcile exactly with the attrition funnel") {
    val sfd = "/root/testdata/sf0.001"
    val verdicts = graft.queries.LlmOps.docProvenance(spark, sfd)
      .groupBy(col("verdict")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val funnel = graft.queries.LlmOps.filterAttrition(spark, sfd)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    // every input doc got exactly one verdict
    assert(verdicts.values.sum == funnel("input")._1)
    // each per-doc removal class sums to its funnel stage's removal count
    assert(verdicts.getOrElse("removed:lang", 0L) == funnel("lang_en")._2)
    assert(verdicts.getOrElse("removed:quality", 0L) == funnel("quality")._2)
    assert(verdicts.getOrElse("removed:repetition", 0L) == funnel("repetition")._2)
    assert(verdicts.getOrElse("removed:duplicate", 0L) == funnel("exact_dedup")._2)
    assert(verdicts.getOrElse("kept", 0L) == funnel("exact_dedup")._1)
  }

  test("I5 lang_id(null) = 'und' end-to-end through the registered query") {
    // the driver fixtures carry no null text, so a regression in the
    // LangIdExpr null path would be invisible to the oracle battery —
    // pin it through the SAME entry point Verify runs (a documents table
    // with the fixture's schema, one row of null text)
    val dir = java.nio.file.Files.createTempDirectory("graft-nulltext").toString
    Seq(
      (1L, "the cat and the dog is in the house with all of them",
        "en", "src0", 52L),
      (2L, null.asInstanceOf[String], "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val out = SparkEntry.queries("i5_lang_id")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "und", "null text must classify as 'und', not null/crash")
  }

  test("I5 bigram LM score: exact stats on a hand-computed corpus") {
    // corpus: "a b a", "a b", "solo", "" → bigrams: d1=(a,b),(b,a); d2=(a,b)
    // c2(a,b)=2, c2(b,a)=1; c1(a·)=2, c1(b·)=1
    // vocabulary spans ALL tokens incl. the bigram-less docs: {a,b,solo,""}
    // ("" because empty text splits to [""]) → V=4
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.lmScore(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    // d1: n=2, hits=(2+1)+(1+1)=5, ctx_raw=c1(a)+c1(b)=3, ctx=3+2*4=11
    val d1 = rows(1L)
    assert(d1.getLong(1) == 2 && d1.getLong(2) == 5 && d1.getLong(3) == 3 + 2 * 4)
    assert(d1.getDouble(4) == 5.0 / 11.0)
    // d2: n=1, hits=2+1=3, ctx_raw=c1(a)=2, ctx=2+1*4=6
    val d2 = rows(2L)
    assert(d2.getLong(1) == 1 && d2.getLong(2) == 3 && d2.getLong(3) == 2 + 1 * 4)
    assert(d2.getDouble(4) == 3.0 / 6.0)
    // <2-token docs survive with NULL stats ("" splits to [""], 1 token)
    for (id <- Seq(3L, 4L)) {
      assert(rows(id).isNullAt(1) && rows(id).isNullAt(4), id)
    }
  }

  test("I2 duplicated spans: cross-doc match, island merge, within-doc repeat") {
    val shared = (0 until 60).map(i => ('a' + i % 26).toChar).mkString // 60 chars
    val x = (0 until 50).map(i => ('A' + (i * 7) % 26).toChar).mkString // 50 chars
    val docs = Seq(
      (1L, "0123456789" + shared + "!@#$%^&*()"), // S at 11..70
      (2L, "?????" + shared + "=" * 20), // S at 6..65
      (3L, x + x), // within-doc repeat, copies touch → ONE merged span
      (4L, "this text is long enough for shingles but matches nothing else here")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 50)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toList
    // the 60-char shared region yields 11 matching windows per doc, merged
    // into one maximal span exactly covering the region; the doubled doc's
    // two copies touch (gap == k) and merge into a single [1,100] span
    assert(spans == List(
      (1L, 11, 70, 11L),
      (2L, 6, 65, 11L),
      (3L, 1, 100, 2L)))
  }

  test("I2 span cut excises exactly the duplicated regions") {
    val shared = (0 until 60).map(i => ('a' + i % 26).toChar).mkString
    val x = (0 until 50).map(i => ('A' + (i * 7) % 26).toChar).mkString
    val keep4 = "this text is long enough for shingles but matches nothing else here"
    val docs = Seq(
      (1L, "0123456789" + shared + "!@#$%^&*()"),
      (2L, "?????" + shared + "=" * 20),
      (3L, x + x), // fully duplicated → cleans to empty
      (4L, keep4)
    ).toDF("doc_id", "text")
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = Dedup.cutDuplicatedSpans(docs, "doc_id", "text", k = 50)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(got(1L) == ((20, m("0123456789" + "!@#$%^&*()"))))
    assert(got(2L) == ((25, m("?????" + "=" * 20))))
    assert(got(3L) == ((0, m(""))))
    assert(got(4L) == ((keep4.length, m(keep4))))
  }

  test("I2 duplicated spans equal a brute-force reference on random corpora") {
    // two-letter alphabet forces dense shingle collisions — the adversarial
    // regime (overlapping islands, within-doc repeats, whole-doc dup) the
    // hand-built cases cannot cover
    import org.scalacheck.Gen
    val k = 4
    def brute(docs: Seq[(Long, String)]): Set[(Long, Int, Int, Long)] = {
      val occ = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      for ((_, t) <- docs; p <- 1 to t.length - k + 1)
        occ(t.substring(p - 1, p - 1 + k)) += 1
      docs.flatMap { case (id, t) =>
        val marked = (1 to t.length - k + 1)
          .filter(p => occ(t.substring(p - 1, p - 1 + k)) > 1)
        val islands = marked.foldLeft(List.empty[List[Int]]) {
          case (Nil, p) => List(List(p))
          case (h :: rest, p) =>
            if (p - h.head <= k) (p :: h) :: rest else List(p) :: h :: rest
        }
        islands.map(is => (id, is.min, is.max + k - 1, is.size.toLong))
      }.toSet
    }
    val corpus = Gen.chooseNum(3, 8).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 24).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf('a', 'b')).map(_.mkString))))
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(20260813L)
    for (_ <- 0 until 20) {
      val texts = corpus.apply(params, seed).get
      seed = seed.next
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Dedup.duplicatedSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", k).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
      assert(got == brute(docs), s"corpus: $docs")
    }
  }

  test("I7 contaminated spans report word-accurate leak positions") {
    // bench doc = words b1..b12; corpus doc embeds words b1..b9 (8 words
    // would be ONE gram; 9 give two overlapping grams) at word offset 4,
    // then clean words, then b1..b8 again far enough to be a second island
    val bench = (1 to 12).map("b" + _)
    val leak9 = bench.take(9)
    val leak8 = bench.take(8)
    val corpusWords =
      Seq("c1", "c2", "c3") ++ leak9 ++ (1 to 10).map("x" + _) ++ leak8
    val corpus = Seq((1L, corpusWords.mkString(" ")),
      (2L, "totally clean words only " + (1 to 10).map("y" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val benchDf = Seq((100L, bench.mkString(" "))).toDF("doc_id", "text")
    val got = graft.llm.Decontamination
      .contaminatedSpans(corpus, benchDf, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toList
    // leak9 sits at word positions 4..12: gram starts 4 and 5 → span [4,12]
    // leak8 sits at positions 23..30: gram start 23 → span [23,30]
    assert(got == List((1L, 4, 12, 2L), (1L, 23, 30, 1L)))
  }

  test("I6 curation v2 core: cut boilerplate turns near-dups exact, dedup fires") {
    val bx = (0 until 60).map(i => ('a' + i % 26).toChar).mkString
    val by = (0 until 60).map(i => ('A' + (i * 3) % 26).toChar).mkString
    val t = "the cat and the dog live here" // 29 chars < k → never shingled
    val docs = Seq(
      (1L, bx + t), (2L, by + t), // same payload behind different boilerplate
      (3L, bx + "first unique tail"), (4L, by + "second distinct tail")
    ).toDF("doc_id", "text")
    val cleaned = Dedup.cleanedText(docs, "doc_id", "text", k = 50)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the boilerplate (present twice each) is excised; the payload stays
    assert(cleaned(1L) == t && cleaned(2L) == t)
    assert(cleaned(3L) == "first unique tail" && cleaned(4L) == "second distinct tail")
    // post-cut the two payload docs are byte-identical → exact dedup keeps
    // the min-id representative, which pre-cut dedup could never catch
    val kept = Dedup.exactDedup(
      Dedup.cleanedText(docs, "doc_id", "text", k = 50), "doc_id", "clean")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("I5 bigram LM score: corpus-wide invariants at sf0.001") {
    val out = TextAnalysis.lmScore(
      graft.queries.Tables.documents(spark, "/root/testdata/sf0.001"),
      "doc_id", "text").collect()
    val scored = out.filterNot(_.isNullAt(1))
    assert(scored.nonEmpty)
    // every smoothed ratio is a probability mass: 0 < hits <= ctx
    assert(scored.forall(r => r.getLong(2) > 0 && r.getLong(2) <= r.getLong(3)))
    assert(scored.forall(r => r.getDouble(4) > 0 && r.getDouble(4) <= 1.0))
  }

  test("I2 SemDeDup: drop set = exact smaller-id same-cluster neighbors") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Dedup.semDedup(e, "vec_id", "embedding",
      k = 10, updates = 1, threshold = 0.35)
    assert(out.count() == e.count()) // one verdict per input
    // independent recompute: global exact pairs (embeddingNearDups)
    // restricted to same-cluster — a doc must be dropped iff it has a
    // smaller-id same-cluster neighbor at >= threshold, and only then
    val cl = out.select(col("vec_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.35)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectDropped = pairs.collect {
      case (a, b) if cl(a) == cl(b) => math.max(a, b)
    }.toSet
    val dropped = out.filter(!col("kept")).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(dropped == expectDropped)
    // cross-cluster near-dups are the documented recall loss, never drops
    val crossOnly = pairs.filter { case (a, b) => cl(a) != cl(b) }
      .map(p => math.max(p._1, p._2)).toSet -- expectDropped
    assert(crossOnly.forall(!dropped.contains(_)))
  }

  test("I6 snapshot diff distinguishes null content from absent rows") {
    val oldS = Seq(
      (1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]),
      (4L, Option("d")), (6L, Option.empty[String])).toDF("doc_id", "text")
    val newS = Seq(
      (1L, Option("a")), (2L, Option("B")), (3L, Option("c")),
      (5L, Option("e")), (6L, Option.empty[String])).toDF("doc_id", "text")
    val out = graft.llm.Snapshots.diff(oldS, newS, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "unchanged", // same content
      2L -> "changed", // content differs
      3L -> "changed", // null -> text is a change, not an add
      4L -> "removed", // id gone from the new snapshot
      5L -> "added", // id new in the new snapshot
      6L -> "unchanged")) // null content in both versions
  }

  test("I3 query-batch serving equals the bounded-corpus brute force exactly") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = e.filter(col("vec_id") < 8)
    val corpus = e.filter(col("vec_id") >= 8)
    // the two duals — corpus-broadcast (bruteForceTopK) and query-broadcast
    // (batchTopK) — must agree to the bit: same integer-grid scores, same
    // (score DESC, id ASC) tie-break, same survivors
    val serve = graft.llm.Similarity.batchTopK(
      queries, corpus, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val brute = graft.llm.Similarity.bruteForceTopK(
      queries, corpus, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(serve.toSet == brute.toSet)
    assert(serve.map(_._1).distinct.length == 8) // every query served
    // plan shape: the corpus side must NOT broadcast — the query batch is
    // the broadcast side (BroadcastNestedLoopJoin over the small q), and
    // corpus rows reach the heap aggregate without a pre-join shuffle
    val plan = graft.llm.Similarity.batchTopK(
      queries, corpus, "vec_id", "embedding", k = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("I3 IVF serve: plan keeps the corpus un-shuffled and recall clears the gate floor") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 64)
    val c = e.filter(col("vec_id") >= 64)
    val serve = graft.llm.Similarity.ivfServe(q, c, "vec_id", "embedding", k = 5)
    // plan: the tiny (|Q|·nProbe)-row query side broadcasts into a
    // BroadcastHashJoin on the cell id; the corpus side must reach the
    // join without an Exchange (its only shuffle is the heap aggregate's)
    val plan = serve.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val shuffles = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected only the heap-agg shuffle, got $shuffles\n${plan.take(3000)}")
    // structure: ≤k rows per query, ranks contiguous from 1, every
    // returned neighbor really is in the corpus split
    val rows = serve.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length))
    }
    assert(rows.forall(_._2 >= 64))
    // recall vs the exact serve clears the gate floor with margin
    val gate = graft.queries.LlmOps.ivfServeGate(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(gate.getLong(0) == 64)
    assert(gate.getBoolean(1), "recall floor not met at sf0.001")
  }

  test("I3 IVF-PQ serve: codes replace raw vectors past the scan and ADC matches a driver recompute") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 64)
    val c = e.filter(col("vec_id") >= 64)
    val serve = graft.llm.Similarity.ivfPqServe(q, c, "vec_id", "embedding", k = 5)
    // plan: query side broadcasts into a BroadcastHashJoin on the cell;
    // corpus reaches the join un-shuffled (only the heap agg exchanges),
    // and the join's streamed side carries CODES, not the raw embedding —
    // the memory-axis claim as a plan property
    val plan = serve.queryExecution.executedPlan
    val planStr = plan.toString
    assert(planStr.contains("BroadcastHashJoin"), planStr.take(2000))
    assert(planStr.split("\n").count(_.contains("Exchange hashpartitioning")) == 1)
    val unwrapped = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val joinOutput = unwrapped.collectFirst {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.get.left.output.map(_.name)
    assert(joinOutput.contains("codes") && !joinOutput.contains("embedding"),
      s"corpus side of the join should carry codes only: $joinOutput")
    // structure + recall floor via the gate
    val rows = serve.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.forall(_._2 >= 64))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.length)) }
    val gate = graft.queries.LlmOps.ivfPqServeGate(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(gate.getLong(0) == 64 && gate.getBoolean(1))
    // ranks strictly ordered by (score DESC, id ASC) within a query
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._4)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2))
        case _ =>
      }
    }
    // ADC scores agree to the bit with a driver-side scalar recompute from
    // independently re-trained codebooks (the sample-fit is deterministic,
    // so training on the same corpus reproduces the same books)
    val vecOf = e.select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)
      .toMap
    val sample = c.select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      .orderBy(col("id")).limit(65536).collect()
      .map(_.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)
    val books = graft.llm.Similarity.trainCodebooks(sample, 16, 256, 3).get
    def encode(x: Array[Double]): Array[Int] = Array.tabulate(books.nBlocks) { b =>
      val from = b * books.blockSize
      val cents = books.blocks(b)
      var best = 0; var bestD = Double.MaxValue
      cents.indices.foreach { ci =>
        var d = 0.0
        cents(ci).indices.foreach { i =>
          val t = x(from + i) - cents(ci)(i); d += t * t }
        if (d < bestD) { bestD = d; best = ci }
      }
      best
    }
    rows.take(20).foreach { case (qid, nid, got, _) =>
      val xs = vecOf(qid); val codes = encode(vecOf(nid))
      var qn2 = 0.0; xs.foreach(v => qn2 += v * v)
      var dot = 0.0; var rn2 = 0.0
      (0 until books.nBlocks).foreach { b =>
        val cent = books.blocks(b)(codes(b))
        cent.indices.foreach { i => dot += xs(b * books.blockSize + i) * cent(i) }
        rn2 += books.n2(b * books.nCodes + codes(b))
      }
      val want = dot / (math.sqrt(qn2) * math.sqrt(rn2))
      assert(got == want, s"ADC mismatch for ($qid,$nid): $got vs $want")
    }
  }

  test("I3 IVF serve: a cell-partitioned corpus layout prunes unprobed partitions at the scan") {
    import java.nio.file.Files
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val feats = e.filter(col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
    val cents = graft.llm.Similarity.trainCosineCentroids(
      feats.orderBy(col("id")).limit(4096).collect()
        .map(_.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray),
      16, 3)
    val dir = Files.createTempDirectory("ivf_layout").toFile.getAbsolutePath
    // build once: corpus written partitioned BY its coarse cell
    e.withColumn("cell",
        element_at(graft.functions.ArrayOps.nearestCells(col("embedding"), cents, 1), 1))
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val nCells = back.select(col("cell")).distinct().count()
    assert(nCells > 4, s"degenerate quantizer: $nCells cells")
    // serve-side probe filter becomes partition pruning: the scan reads
    // only the probed cells' files, not the whole corpus
    val probed = back.filter(col("cell").isin(0, 1, 2, 3))
    val scan = probed.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty, "probe filter did not reach the scan as a partition filter")
    val allFiles = spark.read.parquet(dir).queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get.selectedPartitions.totalNumberOfFiles
    val probedFiles = scan.selectedPartitions.totalNumberOfFiles
    assert(probedFiles < allFiles,
      s"pruning read all $allFiles files (probed=$probedFiles)")
    // and the pruned serve returns the same rows as a post-scan filter
    assert(probed.count() ==
      back.collect().count(r => Set(0, 1, 2, 3).contains(r.getAs[Int]("cell"))))
  }

  test("I3 hard negatives match a driver-side brute-force reference") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.hardNegatives(
      e.orderBy(col("vec_id")).limit(20), e, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // driver-side reference over the same quantized grid
    val rows = e.select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x * 1e6).toLong).toArray,
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val queries = rows.sortBy(_._1).take(20)
    val expected = queries.flatMap { case (qid, qv, ql) =>
      rows.filter { case (_, _, cl) =>
        ql.isDefined && cl.isDefined && cl != ql } // label mismatch only
        .map { case (nid, nv, _) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(3).zipWithIndex
        .map { case ((nid, _), i) => (qid, nid, i + 1) }
    }.toSet
    assert(out.toSet == expected)
    // structural: never a same-label or self pair
    val lab = rows.map(r => r._1 -> r._3).toMap
    assert(out.forall { case (q, n, _) => q != n && lab(q) != lab(n) })
  }

  test("I6 proto-prune keeps exactly the far-from-centroid tail per cluster") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val asg = graft.llm.KMeans.fit(e, "vec_id", "embedding", k = 10, updates = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val out = llm.Sampling.protoPrune(e, "vec_id", "embedding",
      k = 10, updates = 1, dropPct = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference: per cluster, sort by (dist, id), drop floor(n/4) head
    val expected = asg.groupBy(_._2).toSeq.flatMap { case (c, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val drop = sorted.length * 25 / 100
      sorted.drop(drop).zipWithIndex.map { case ((id, _, d), i) =>
        (id, c.toLong, d, (drop + i + 1).toLong)
      }
    }.toSet
    assert(out.toSet == expected)
    assert(out.length < asg.length) // something was actually pruned
  }

  test("I6 token-budget cap keeps the hash-order prefix per stratum") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val nTokens = size(split(trim(col("text")), " +")).cast("long")
    val budget = 600L
    val out = llm.Sampling.tokenBudgetCap(docs, col("source"), col("text"),
      col("doc_id"), nTokens, budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // reference: driver-side per-source greedy prefix in (bucket, id) order
    val all = docs.select(col("doc_id"), col("source"), nTokens.as("n"),
      llm.Sampling.hashBucket(col("text")).as("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // same contract as the operator: keep rows whose RUNNING total stays
    // within budget (monotone sum, so this is the hash-order prefix)
    val expected = all.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(r => (r._4, r._1)).flatMap { case (id, _, n, _) =>
        cum += n
        if (cum <= budget) Some((id, src, n, cum)) else None
      }
    }.toSet
    assert(out.toSet == expected)
    assert(out.nonEmpty && out.length < all.length, "budget must truncate")
    // per-source token totals never exceed the budget
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.map(_._3).sum <= budget, s"source $src over budget")
    }
  }

  test("I5 lexical diversity: types, TTR, and hapax runs") {
    import spark.implicits._
    // drive the REAL query through a documents-shaped temp dir so the
    // operator's own expressions (not a copy) are what's asserted
    val dir = java.nio.file.Files.createTempDirectory("lexdiv").toString
    Seq((1L, "a a b c c c d", "en", "s", 13L), (2L, "", "en", "s", 0L),
      (3L, null.asInstanceOf[String], "en", "s", 0L), (4L, "x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("i5_lexical_diversity")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    // (doc_id, n_tokens, n_types, ttr, n_hapax)
    assert(rows(1L).getLong(1) == 7 && rows(1L).getLong(2) == 4)
    assert(math.abs(rows(1L).getDouble(3) - 4.0 / 7.0) < 1e-15)
    assert(rows(1L).getLong(4) == 2) // hapax: b, d
    assert(rows(4L).getLong(1) == 1 && rows(4L).getLong(4) == 1)
    assert(rows(2L).getLong(1) == 0 && rows(2L).isNullAt(3) &&
      rows(2L).getLong(4) == 0)
    assert(rows(3L).isNullAt(1) && rows(3L).isNullAt(4))
  }

  test("I6 token-budget null content participates as 0 tokens, ordered last") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma", "s"), (2L, null.asInstanceOf[String], "s"),
      (3L, "delta", "s")).toDF("doc_id", "text", "src")
    val nTokens = size(split(trim(col("text")), " +")).cast("long")
    val out = llm.Sampling.tokenBudgetCap(df, col("src"), col("text"),
      col("doc_id"), nTokens, budget = 10L)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // null-text doc: 0 tokens, sorted AFTER the non-null buckets (DuckDB
    // NULLS LAST parity), kept because the running total never moves
    assert(out(2L) == ((0L, 4L)))
    assert(out.keySet == Set(1L, 2L, 3L))
  }

  test("I6 DSIR hit sums match a declarative recompute exactly") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = llm.Sampling.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en", nBuckets = 64)
    // independent recompute: explode + join + group, no kernel
    val toks = docs
      .select(col("doc_id"), (col("lang") === "en").as("tgt"),
        explode(split(trim(col("text")), " +")).as("w"))
      .filter(col("w") =!= "")
      .withColumn("b", llm.Sampling.hashBucket(col("w"), 64))
    val model = toks.groupBy("b")
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    val ref = toks.join(model, "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("ct") + 1).as("hits_t"),
        sum(col("cr") + 1).as("hits_r"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val got = out.collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ref(id),
        s"kernel/declarative hits disagree for doc $id")
    }
  }

  test("I6 DSIR up-weights target-like documents and is repartition-stable") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = llm.Sampling.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en").collect()
    val (tgt, rest) = out.partition(_.getBoolean(1))
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getDouble(5)).sum / rs.length
    assert(mean(tgt) > mean(rest),
      "target documents must average a higher importance weight")
    val again = llm.Sampling.dsirWeights(docs.repartition(17), "doc_id",
      "text", col("lang") === "en").collect()
    assert(out.map(r => r.getLong(0) -> r.getDouble(5)).toMap ==
      again.map(r => r.getLong(0) -> r.getDouble(5)).toMap)
  }

  test("I6 DSIR degenerate texts: empty yields NULL weight") {
    import spark.implicits._
    val df = Seq((0L, "alpha beta", "en"), (1L, "", "de"),
      (2L, null.asInstanceOf[String], "de"), (3L, "alpha alpha", "de"))
      .toDF("doc_id", "text", "lang")
    val rows = llm.Sampling.dsirWeights(df, "doc_id", "text",
      col("lang") === "en").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).isNullAt(5) && rows(2L).isNullAt(5))
    assert(rows(1L).getLong(2) == 0L) // empty text: zero tokens, not null
    assert(rows(2L).isNullAt(2)) // null text: null token count
    assert(!rows(0L).isNullAt(5) && rows(0L).getDouble(5) > 0)
  }
}
