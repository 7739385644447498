package graftbench

/** Self time of every span in a trace tree, such that the self times of a
  * tree sum exactly to its root's duration.
  *
  * A span's time is covered by its children where they run. Where several
  * children overlap (concurrent DAG tasks, concurrent Spark jobs), each gets
  * an equal share of the parent's time at that instant; children are
  * clipped to their parent. Without overlap this is the classic
  * "duration minus children" subtraction. */
object SelfTime {

  case class Node(id: String, parent: Option[String], startUs: Long, endUs: Long)

  /** Self time (µs) by span id. Spans whose parent is absent are roots. */
  def compute(nodes: Seq[Node]): Map[String, Double] = {
    val ids = nodes.map(_.id).toSet
    val children = nodes.filter(_.parent.exists(ids)).groupBy(_.parent.get)
    val out = scala.collection.mutable.HashMap.empty[String, Double]

    // weight: piecewise-constant share of wall time this span owns,
    // as (from, to, weight) segments
    def visit(n: Node, weight: Seq[(Long, Long, Double)]): Unit = {
      val kids = children.getOrElse(n.id, Nil).flatMap { c =>
        val s = math.max(c.startUs, n.startUs)
        val e = math.min(c.endUs, n.endUs)
        if (e > s) Some(c.copy(startUs = s, endUs = e)) else None
      }
      if (kids.isEmpty) {
        out(n.id) = weight.map { case (a, b, w) => (b - a) * w }.sum
        return
      }
      val cuts = (weight.flatMap { case (a, b, _) => Seq(a, b) } ++
        kids.flatMap(k => Seq(k.startUs, k.endUs))).distinct.sorted
      val kidSegs = kids.map(k => k.id -> scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]).toMap
      var self = 0.0
      var wi = 0
      cuts.iterator.sliding(2).withPartial(false).foreach { case Seq(a, b) =>
        while (wi < weight.size && weight(wi)._2 <= a) wi += 1
        val w = if (wi < weight.size && weight(wi)._1 <= a) weight(wi)._3 else 0.0
        if (w > 0) {
          val active = kids.filter(k => k.startUs <= a && k.endUs >= b)
          if (active.isEmpty) self += (b - a) * w
          else active.foreach(k => kidSegs(k.id) += ((a, b, w / active.size)))
        }
      }
      out(n.id) = self
      kids.foreach(k => visit(k, kidSegs(k.id).toSeq))
    }

    nodes.filterNot(_.parent.exists(ids)).foreach(r =>
      visit(r, Seq((r.startUs, r.endUs, 1.0))))
    out.toMap
  }
}
