package graftbench

/** Battery rows: which module each row exercises, and the fixed row lists
  * the two battery workloads run. */
object Rows {

  /** Layer groups, named after the modules the rows exercise. */
  val Groups: Seq[String] = Seq(
    "spans", "parser", "model", "queries.relational", "llm.dedup",
    "llm.similarity", "llm.text", "llm.curation", "operators.graph")

  /** Group of a battery row, from its SURVEY id prefix (a*, b*, c*, d*,
    * i1..i8). */
  def group(row: String): String = row.take(2) match {
    case "i1" | "i2" => "llm.dedup"
    case "i3" => "llm.similarity"
    case "i4" | "i5" => "llm.text"
    case "i6" | "i7" => "llm.curation"
    case "i8" => "operators.graph"
    case p => p.head match {
      case 'a' => "spans"
      case 'b' => "parser"
      case 'c' => "model"
      case 'd' => "queries.relational"
      case _ => throw new IllegalArgumentException(s"row $row has no group")
    }
  }

  /** The battery panel, a fixed list. Its rows were chosen from measured
    * row times (graft.Bench on the sf0.01 fixture, 4 cores, stored in
    * `rowtimes-sf0.01.json`) so that each group's share of panel time is
    * close to its share of a whole battery pass: per group, k rows, k = the
    * group's share of 6 s over its median row time (at least one), taking
    * the rows nearest 1/k of that share. The README lists the shares. */
  val Panel: Seq[String] = Seq(
    "a4_attr_union_conflicts", "b7_last_write_wins", "c1c2_codec_roundtrip",
    "d07_retention_cohorts", "d08_heavy_hitters", "d10_funnel", "d10_top_supplier",
    "i2_dup_spans", "i3_lsh_ann_topk", "i5_lr_quality_gate", "i6_proto_prune",
    "i7_decontam_spans", "i8_kcore")

  /** Compute-heavy rows, one per ROADMAP target (the PQ scoring kernel, the
    * fused LSH verify leg, rank), plus the overhead-bound anchor row. */
  val Compute: Seq[String] = Seq(
    "a2_sort_ranks", "d03_join_revenue_by_nation", "i2_canonical_keep_lsh",
    "i3_ivfpq_topk")
}
