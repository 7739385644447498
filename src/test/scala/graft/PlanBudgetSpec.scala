package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-budget governance: every query in the battery has a checked-in
  * budget of shuffle exchanges (hash/range/single-partition — broadcast
  * exchanges excluded: they're the cheap alternative the budget exists to
  * encourage). A refactor that silently adds a shuffle — the dominant cost
  * at 100 TB — fails here before any bench can drift. Counted on the
  * UN-executed physical plan (AQE initial), so the numbers are structural,
  * not data-dependent.
  *
  * On an intentional plan change, update the budget for that query — the
  * failure message prints the full current map for a copy-paste refresh.
  */
class PlanBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private val budget: Map[String, Int] = Map(
    "a10_graph_equality" -> 0, "a1_nested_filter" -> 0,
    "a2_sort_ranks" -> 0, "a3_len_membership" -> 0,
    "a4_attr_union_conflicts" -> 4, "a5_exception_harvest" -> 0,
    "a6_span_edges" -> 1, "a7_closure_tree" -> 2,
    // 0: the UnionLoop leaf plans its per-iteration step lazily, so the
    // recursion's inner joins are invisible to the outer structural count
    "a7_closure_recursive_sql" -> 0,
    // recursive-CTE rows: the UnionLoop's per-iteration joins are planned
    // lazily (invisible to the structural count); what IS counted is the
    // outer probe join + per-user aggregate
    "a8_path_recursive_sql" -> 1,
    "a10_bound_by_recursive_sql" -> 1,
    "a8_path_containment" -> 0, "a9_anti_join_roots" -> 0,
    // b3_task_runs: single-pass fold (round-15) — one spans derivation,
    // one per-trace aggregate, no exception/pairs joins: 5 -> 3
    "b1b2_dep_forms_agree" -> 0, "b3_task_runs" -> 3,
    "b4_workflow_timing" -> 0, "b5_artifact_rows" -> 0,
    "b6_dup_reject" -> 0, "b7_last_write_wins" -> 1,
    "c1c2_codec_roundtrip" -> 0, "c3_time_epoch_fns" -> 0,
    "d01_zorder_cells" -> 2,
    // 3 since round 14: the forced broadcast of the customer⋈nation⋈region
    // chain was removed (customer scales with SF — the hint would OOM the
    // build side at 100 TB); the static plan shuffles both join sides and
    // AQE re-converts to broadcast at runtime where the dims fit
    "d03_join_revenue_by_nation" -> 3, "d03_salted_skew_join" -> 1,
    "d03_shipping_priority" -> 1, "d04_semi_anti_customers" -> 0,
    "d05_interval_concurrency" -> 1, "d05_range_join_events" -> 1,
    "d06_asof_prior_event" -> 1, "d06_asof_staleness" -> 1, "d07_above_customer_avg" -> 2,
    "d07_agg_pricing" -> 1, "d07_big_spenders" -> 1, "d07_outliers" -> 1,
    "d07_percentiles" -> 1,
    "d07_retention_cohorts" -> 3,
    "d08_approx_error_gate" -> 4, "d08_cms_gate" -> 1,
    "d08_hll_registers" -> 1,
    "i6_filter_attrition" -> 3, "i6_doc_provenance" -> 1,
    "d08_distinct_counts" -> 2, "d09_cube_orders" -> 1,
    "d09_grouping_sets" -> 1, "d09_pivot_event_types" -> 2,
    // pivot substrate (2); the unpivot Generate adds no exchange
    "d09_unpivot" -> 2,
    "d09_rollup_quantities" -> 1, "d10_funnel" -> 3,
    "d10_resample_ffill" -> 2, "d10_session_windows" -> 1,
    "d10_tumbling_window" -> 1, "d10_window_lag_delta" -> 1,
    "d10_window_ntile" -> 1, "d10_window_running_total" -> 1,
    "d10_window_topk_per_customer" -> 1, "d11_topk_orders" -> 0,
    "d12_setops_custkeys" -> 1, "d12_union_tagged" -> 0,
    "d13_string_fns" -> 0, "d14_date_fns" -> 1,
    "d15_math_fns" -> 0, "d16_array_fns" -> 0,
    "d17_json_fns" -> 1, "d17_variant_shred" -> 1, "i1_bloom_reference_dedup" -> 0,
    // dup_spans/span_cut/curation_v2 +1 in round 14: duplicatedSpans now
    // shuffles an 8-byte hash proxy per position and re-attaches the real
    // substring for the candidate set only (one extra candidate-sized
    // join) — the match shuffle no longer carries 50-char payloads
    "i1_dedup_exact" -> 1, "i2_dup_spans" -> 3,
    "i2_editdist_blocked" -> 0, "i2_embedding_neardup" -> 0,
    "i2_fuzzy_dedup_e2e" -> 1, // r14: local-CC distinct visible
    "i2_minhash_containment" -> 7, // r14: single-pass left-join fold
    // re-banked twice in round 14: the twice-evaluated all-pairs `high`
    // substrate was first localCheckpoint-pinned (12 -> 7), then the gate
    // folded into a single-pass left-join aggregate — no pin, one `high`
    // evaluation, both sketch-pair subtrees structurally visible (7 -> 8
    // counted exchanges but ~half the executed substrate work)
    "i2_simhash_containment" -> 8,
    "i2_minhash_lsh_candidates" -> 4, "i2_neardup_blocked_gate" -> 5, // r14: single-pass full-outer fold
    // candidate substrate (4) + the signature re-attach joins, which plan
    // one extra exchange beyond it (the sigs branches reuse the by-doc
    // exchange; AQE shares the pair-side shuffle across the two keys)
    "i2_sig_verified_pairs" -> 2, // r14: md5 signatures pinned (ran 3x)
    "i2_ngram_jaccard" -> 3, "i2_simhash_pairs" -> 3,
    // ngram substrate (3) + the per-batch-doc verdict aggregate; the
    // batch-side left join broadcasts (excluded)
    "i2_incremental_dedup" -> 4,
    // +2 in round 14: components now resolve via the budget-guarded
    // driver-local union-find, so the nodes∪endpoints distinct union
    // (previously hidden inside the fixpoint's eager checkpoint jobs) is
    // structurally visible — 1 distinct exchange + the argmax tail, all
    // over id-sized frames; the label attach broadcasts (excluded)
    "i2_canonical_keep" -> 4,
    // indexed incremental: batch explode window + the sh-join probe-side
    // exchange + pair/verdict aggregates; the STORED side contributes
    // zero (bucketed scan — the LlmSpec exchange-free pin)
    "i2_incremental_index" -> 4,
    // banded stored tier: batch band-keys barrier + candidate distinct +
    // the pair re-key onto doc_q + verdict aggregate; both STORED sides
    // contribute zero (bucketed scans — the LlmSpec exchange-free pin)
    "i2_incremental_band_index" -> 4,
    // blocked tier: the sorted-neighborhood candidate generation runs
    // behind its own checkpoint jobs, so only the component/argmax tail
    // is structurally visible — same 4 as the exact row
    "i2_canonical_keep_blocked" -> 4,
    // lsh tier: candidate generation (minhash bands) also runs inside the
    // eager component walk, leaving the same component/argmax tail
    "i2_canonical_keep_lsh" -> 4,
    "i2_span_cut" -> 4, "i3_cosine_topk" -> 0,
    "i3_query_batch_topk" -> 1, "i3_filtered_topk" -> 1,
    "i3_ivf_serve_gate" -> 5, "i3_ivfpq_serve_gate" -> 5, // r14: recall-gate fold
    // the exact-IVF rows score with the per-row top-k kernel: no cell
    // join, no top-k aggregate; the gate keeps its fold
    "i3_ivf_ann_topk" -> 0, "i3_ivf_recall_gate" -> 2,
    // exact IVF-PQ: the corpus fits the collect budget, so each query row
    // scans its probed cells' codes in one projection — no join, no top-k
    // aggregate
    "i3_ivfpq_topk" -> 0,
    // lsh: +2 session 13 — the id-pair dedup shape trades two extra
    // id-keyed exchanges (feature re-attach joins) for never shipping the
    // quantized vectors through the collision join + distinct (measured:
    // 0.58→0.44 s at sf0.1, 56→19 s at the 64× shard, and the 16× OOM on
    // an 8 GiB heap is gone)
    "i3_lsh_ann_topk" -> 4, "i3_lsh_recall_gate" -> 7, // r14: fold
    // auto-planes: the corpus count that sizes the family is an eager
    // bounded aggregate — the final plan keeps the fixed row's shape
    "i3_lsh_auto_topk" -> 4,
    "i3_pq_ann_topk" -> 0, "i3_pq_recall_gate" -> 2,
    // stats pass + stats-row agg on both coded branches + heap top-k
    "i3_sq8_topk" -> 1, // r14: reconstructed vectors pinned (stats agg ran 2x)
    "i5_lr_quality_gate" -> 1, "i6_dsir_weights" -> 0,
    "i5_bpe_stats" -> 1, "i5_bpe_train" -> 0,
    "i5_bpe_encode_gate" -> 1,
    "i6_token_budget" -> 1, "i7_blocklist" -> 0,
    // the per-source token agg plans twice (the stats subtree feeds both
    // the rate rows and the min) + the single-row min; all ≤|sources|
    // rows — broadcast joins carry the rates back to the scan
    "i6_temperature_mixture" -> 3,
    // stage boundaries are localCheckpointed (materialize-once), so the
    // counted plan is just the mixture over the survivor leaf
    "i6_curation_v4" -> 3,
    "i6_curation_v5" -> 3,
    "i6_curation_v6" -> 3,
    "i8_kcore" -> 0, "i6_curation_v3" -> 1,
    "i5_lexical_diversity" -> 0,
    "i4_multimodal_meta" -> 0, "i4_image_ahash" -> 0,
    "i5_bigram_lm" -> 1,
    "i5_fingerprints" -> 0, "i5_lang_id" -> 0,
    "i5_langid_confusion" -> 1, "i5_lm_score" -> 5,
    "i5_quality_quantile_gate" -> 1, "i5_quality_score" -> 0,
    "i5_repetition" -> 0, "i5_salient_terms" -> 4,
    "i5_token_counts" -> 0, "i5_vocab_stats" -> 2,
    "i6_corpus_curation" -> 1, "i6_curation_v2" -> 5,
    "i6_data_card" -> 2, "i6_dataset_split" -> 0, "i6_mixture_sample" -> 0,
    "i6_stratified_cap" -> 1, "i7_chunk_windows" -> 0,
    "i7_decontam_spans" -> 2, "i7_decontamination" -> 2,
    "i7_pack_gate" -> 7, "i7_pii_scrub" -> 0,
    // bucketed prefix sum: per-bucket window + bucket-totals agg + the
    // tiny bucket-offset window (broadcast join back is excluded)
    "i7_token_shards" -> 3,
    // 3 since round 13: the forced broadcasts of the customer-join-asia
    // and supplier subtrees were removed (a joined dim subtree cannot be
    // PROVEN small — at 100 TB the hint would OOM the driver); the static
    // plan shuffles them, and AQE re-converts to broadcast at runtime
    // when the actual build side is small
    "d03_local_supplier_volume" -> 3, "d03_volume_shipping" -> 1,
    // d08_heavy_hitters' budget covers the RECOUNT plan only: the
    // Misra-Gries candidate sweep is an eager treeAggregate action at
    // DataFrame-construction time (it moves ≤k-entry summaries, not rows)
    // and is invisible to any plan inspection — see HeavyHitters.exact.
    // 3 since round 13: same de-hinting as d03_local_supplier_volume
    // (nation-joined cust/supp sides + the filtered part side)
    "d07_market_share" -> 3, "d08_heavy_hitters" -> 1,
    "i5_inverted_index" -> 2, "i6_table_fingerprint" -> 1,
    "d03_returned_top_customers" -> 1, "d03_disjunctive_parts" -> 1,
    // 0: the frontier arrives as a PrefixScan LogicalRDD (its range
    // exchange lives in the operator's own jobs) and broadcast-joins back
    "d11_pareto_orders" -> 0, "d10_rolling_7d" -> 1,
    "d10_hopping_window" -> 1, "d12_merge_upsert" -> 2,
    "d07_cust_order_distribution" -> 2, "d10_session_paths" -> 2,
    "d04_priority_exists" -> 1, "d07_line_priority_classes" -> 1,
    "d07_promo_revenue" -> 1, "d08_part_supplier_counts" -> 2,
    "d07_small_qty_revenue" -> 3, "d04_sole_late_supplier" -> 2,
    "d04_dormant_customers" -> 2,
    // 2: the checkpointed revenue view's single-row max (SinglePartition
    // over one partial row per task) + the final suppkey ORDER BY; the
    // lineitem groupBy shuffle lives behind the checkpoint's own job
    "d07_forecast_revenue" -> 1, "d10_top_supplier" -> 2,
    // i8_pagerank: one contribution aggregate per round (the rank
    // formula is inlined into the next round's broadcast edge join, so
    // no per-round rank join survives); graph setup (pair distinct,
    // degree fold) runs eagerly at construction behind a localCheckpoint
    // and is invisible here.
    "i8_pagerank" -> 3, "d10_sliding_distinct" -> 3,
    "d07_incremental_agg" -> 2, "i6_split_leakage" -> 4,
    // d03_basket_pairs: the STATIC plan carries the orderkey repartition
    // once per self-join side plus the pair-count aggregate; at runtime
    // AQE replays one side's exchange (ReusedExchange — pinned in
    // PlanSpec), so only two materialize
    "d03_basket_pairs" -> 3,
    // i8_triangles: post-checkpoint plan (edge build + degree fold run
    // eagerly behind the oriented localCheckpoint) — wedge self-join
    // exchanges both sides on src, closing semi-join exchanges both
    // sides on (x, y), corner-count aggregate; top-25 is TakeOrdered
    "i8_triangles" -> 5,
    // i3_kmeans: assignment is shuffle-free (fused kernel); size + label
    // aggregates, the majority-label window, and the ordered output
    "i3_kmeans" -> 4,
    // i2_semdedup: post-checkpoint plan — the cluster self-join reuses the
    // checkpointed cluster partitioning on BOTH sides (0 exchanges, the
    // design win of blocking by cluster); what remains is the dup-id
    // distinct and the final kept-flag left join (vid exchange both sides
    // + dup side distinct folds into it)
    "i2_semdedup" -> 4,
    // i6_proto_prune: one exchange — the per-cluster rank window; the
    // kmeans assignment itself is the shuffle-free fused kernel
    "i6_proto_prune" -> 1,
    // i3_hard_negatives: the 50-row mining batch is a local relation
    // (terminal TakeOrdered collect) broadcast against the corpus, which
    // never shuffles; the partial top-k heap combines map-side, so the
    // only exchange is the |Q|-keyed final aggregate
    "i3_hard_negatives" -> 1,
    // i6_snapshot_diff: the full-outer id join exchanges both snapshots;
    // digests cross the shuffle, never document payloads. Co-bucketed
    // snapshot layouts (SinksSpec's catalog tables) would make it 0
    "i6_snapshot_diff" -> 2,
    // i3_bm25_topk: tf aggregate, query-term distinct, df window on the
    // pruned postings, per-(query,doc) sum, rank window, 1-row stats agg
    "i3_bm25_topk" -> 6,
    "d08_quantile_gate" -> 0,
    // i2_sorted_neighbors: post-checkpoint plan (range exchange + rank
    // projection run eagerly behind GlobalRank's pin — round-15 removed
    // the zipWithIndex round-trip, which also dropped an exchange the
    // RDD re-entry used to plan: 4 -> 2) — block equi-join both sides
    // riding the pinned scan, the shared shingle barrier, and the verify
    // join on the w·N candidate set
    "i2_sorted_neighbors" -> 2,
    // i6_expectations: five independent column-pruned aggregates (pk-dupe
    // group, anti-join orphan probe + its 1-row counts) unioned
    "i6_expectations" -> 6,
    // i8_communities: post-checkpoint plan (edge build eager) — round-2
    // round-1 min-neighbor agg, round-2 vote count + struct-argmax
    // aggregates, and the community-size count; top-25 is TakeOrdered
    "i8_communities" -> 5,
    // i6_cluster_balance: k-means assignment is kernel-only; the cap
    // window on cluster, total/kept aggregates, and the ordered join-back
    "i6_cluster_balance" -> 3,
    // v7 incremental: the counted plan starts at the CHECKPOINTED
    // increment (batch-sized LogicalRDD — the corpus-sized snapshot diff
    // and state build run eagerly behind it), so every one of these
    // exchanges moves increment-sized data: the band-probe substrate
    // (md5BandKeys spread+align repartitions, candidate distinct, verify
    // attach joins, verdict aggregate + join-back), the batch-exact md5
    // window, the stats-delta aggregates (retired lookup is a broadcast
    // semi against bucketed docToks — zero stored-side exchanges), the
    // source-keyed full-outer rate derivation, and the two 1-row
    // aggregates (nmin, gate). The STORED band/feats/docToks sides
    // contribute zero (bucketed scans)
    "i6_curation_v7_incremental" -> 20)

  // anchored to the tree-prefix start of a line so the exchange embedded in
  // a ReusedExchange node's description (", Exchange hashpartitioning(...)")
  // is never counted as a second real shuffle
  private val exchange =
    "(?m)^[\\s:+\\-]*Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)".r

  test("every query stays inside its shuffle budget") {
    // the budget tracks the battery exactly: no phantom keys for renamed or
    // deleted queries, no unbudgeted newcomers
    assert(budget.keySet == SparkEntry.queries.keySet,
      s"budget/battery drift: only-in-budget=${budget.keySet -- SparkEntry.queries.keySet} only-in-battery=${SparkEntry.queries.keySet -- budget.keySet}")
    val qes = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, fn(spark, sf).queryExecution)
    }
    val actual = qes.map { case (name, qe) =>
      name -> exchange.findAllIn(qe.executedPlan.toString).size
    }
    val current = actual.map { case (k, v) => s"""    "$k" -> $v,""" }
      .mkString("\n")
    val over = actual.filter { case (n, c) => c > budget.getOrElse(n, 0) }
    assert(over.isEmpty,
      s"shuffle budget exceeded: $over\ncurrent counts:\n$current")
    // budgets must also not go stale in the other direction: an improvement
    // should be banked by lowering the budget
    val under = actual.filter { case (n, c) => c < budget.getOrElse(n, 0) }
    assert(under.isEmpty,
      s"plan improved past its budget — bank it: $under\ncurrent counts:\n$current")
    // empty-key windows funnel their whole input through ONE task — a
    // data-sized one is a serial stage hiding in a distributed plan. The
    // battery's single allowed instance is i7_token_shards' bucket-offset
    // prefix, whose input is |buckets| ≤ 1024 rows BY CONSTRUCTION
    // (Chunking.shardSequences: the offsets frame is a groupBy(b) of a
    // bounded bucket id); a round-12 full-Verify attribution run traced
    // all 8 runtime WindowExec warnings to exactly this query. Anything
    // new here must either carry a bounded-input proof or be re-planned.
    val emptyKeyWindows = qes.flatMap { case (name, qe) =>
      val n = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.size
      if (n > 0) Some(name -> n) else None
    }
    assert(emptyKeyWindows == Seq("i7_token_shards" -> 1),
      s"unattributed empty-key window(s): $emptyKeyWindows — prove the " +
        "input is bounded (|buckets|/|partitions|, never |rows|) or " +
        "re-plan via GlobalRank/PrefixScan")
  }

  /** Queries allowed to carry a FORCED broadcast of a subtree the lint
    * cannot prove bounded, each with the proof the lint can't see.
    * (Size-based auto-broadcasts are exempt by design: Catalyst re-plans
    * them as shuffle joins when the side outgrows the threshold, so they
    * carry no 100 TB risk. A `broadcast(...)` HINT overrides that at every
    * scale — it must point at provably bounded data.) */
  private val forcedBroadcastAllow: Map[String, String] = Map(
    // mining batch: TakeOrdered collect of 50 query rows, rebuilt as a
    // local relation before the hint — bounded upstream of the plan
    "i3_hard_negatives" -> "50-row mined query batch (local relation)",
    // Bloom reference dedup: the broadcast side is the REFERENCE list's
    // md5 digests — the operator's contract (a curated blocklist, not a
    // second corpus); Dedup.bloomReferenceDedup documents the corpus-sized
    // alternative (shuffle semi-join) for references past broadcast size
    "i1_bloom_reference_dedup" -> "reference-list digests (contract-small)",
    // declared all-pairs exact baseline (SURVEY: brute-force cosine is the
    // correctness anchor; the LSH-blocked variant is the scale path)
    "i2_embedding_neardup" -> "exact all-pairs baseline by declaration",
    // the recall gate recomputes that exact baseline internally to grade
    // the blocked variant against it — inherits the baseline's broadcast
    "i2_neardup_blocked_gate" -> "exact-baseline recall reference",
    // vector-serve rows: the broadcast side is the QUERY BATCH (and, in
    // the gates, the exact-serve reference over it) — |Q| rows by the
    // serving contract; Similarity.requireBroadcastable guards the one
    // API that broadcasts a CORPUS side
    "i3_filtered_topk" -> "query batch (serving contract, |Q| rows)",
    "i3_query_batch_topk" -> "query batch (serving contract, |Q| rows)",
    "i3_sq8_topk" -> "query batch (serving contract, |Q| rows)",
    "i3_ivf_serve_gate" -> "query batch + exact-serve reference",
    "i3_ivfpq_serve_gate" -> "query batch + exact-serve reference")

  test("forced broadcasts are bounded; no driver collect on a data path") {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalRelation, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.catalyst.optimizer.BuildSide
    // a hinted side is structurally bounded when ITS ROOT's row count is
    // capped independent of input volume — evaluated recursively from the
    // subtree root, NOT via exists (an exists-check judged
    // broadcast(fact.join(tinyAgg)) bounded because some descendant
    // aggregates, defeating the 100 TB guard). Bounding leaves: an
    // aggregate (rows capped by group-key cardinality — every battery use
    // groups on a bounded domain), a global limit, a local relation, a
    // checkpointed LogicalRDD (the eager-stage pattern: PrefixScan
    // carries, bounded walks), or a scan of the bounded dimension tables.
    // Row-count-nonincreasing unary nodes pass through to their child; a
    // join is bounded only when the sides that drive its output row count
    // are (both for inner/outer/cross, the left for semi/anti).
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: logical.Aggregate => true
      case _: GlobalLimit => true
      case _: LocalRelation => true
      case r if r.getClass.getSimpleName == "LogicalRDD" => true
      case lr: LogicalRelation =>
        val loc = lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",").toLowerCase
          case other => other.toString.toLowerCase
        }
        // bounded relations: the genuinely-small dimension tables, plus
        // the incremental-curation small-state tables — srcstats is a
        // persisted per-source aggregate (source-domain cardinality),
        // tombstones is bounded by updateState's automatic compaction
        // trigger, meta is one row (IncrementalCuration.scala)
        loc.contains("region") || loc.contains("nation") ||
          loc.contains("srcstats") || loc.contains("tombstones") ||
          loc.contains("_meta")
      case j: logical.Join => j.joinType match {
        case LeftSemi | LeftAnti => bounded(j.left)
        case _ => bounded(j.left) && bounded(j.right)
      }
      case u: logical.Union => u.children.forall(bounded)
      case e: logical.Expand => bounded(e.child) // fixed ×|projections|
      case u @ (_: logical.Project | _: logical.Filter | _: logical.Sort |
          _: logical.SubqueryAlias | _: logical.Window |
          _: logical.LocalLimit | _: logical.Distinct |
          _: logical.ResolvedHint | _: logical.RepartitionOperation |
          _: logical.Deduplicate) =>
        u.children.forall(bounded)
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !forcedBroadcastAllow.contains(name) =>
        val qe = fn(spark, sf).queryExecution
        val badHints = qe.optimizedPlan.collect { case j: logical.Join =>
          Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right)
            .collect { case (Some(h), side)
                if h.strategy.exists(_.toString.contains("broadcast"))
                  && !bounded(side) => side.nodeName }
        }.flatten
        // CollectLimit funnels the data path through the driver; the
        // battery's distributed top-k shapes use TakeOrderedAndProject
        val collects = qe.sparkPlan.collect {
          case c: org.apache.spark.sql.execution.CollectLimitExec => c
        }
        (if (badHints.nonEmpty) Seq(name -> s"unbounded broadcast hint over ${badHints.mkString(",")}") else Nil) ++
          (if (collects.nonEmpty) Seq(name -> "CollectLimit on the data path") else Nil)
      case _ => Nil
    }
    assert(offenders.isEmpty,
      s"driver/broadcast budget violations: $offenders — bound the " +
        "subtree (aggregate/limit/local relation) or add a justified " +
        "allowlist entry")
  }
}
