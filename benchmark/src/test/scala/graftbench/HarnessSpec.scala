package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median needs one sample; p90 needs ten samples beyond it") {
    assert(Stats.reportable(1, 0.5))
    assert(!Stats.reportable(0, 0.5))
    assert(Stats.reportable(178, 0.9))
    assert(Stats.reportable(100, 0.9))
    assert(!Stats.reportable(99, 0.9))
    assert(!Stats.reportable(10, 0.9))
    assert(Stats.tail((1 to 10).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble), 0.9).exists(p => math.abs(p - 90.1) < 1e-9))
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }
}

class SelfTimeSpec extends AnyFunSuite {
  private def n(id: String, parent: String, s: Long, e: Long) =
    SelfTime.Node(id, Option(parent), s, e)

  test("nested spans: self time is duration minus children") {
    val self = SelfTime.compute(Seq(
      n("root", null, 0, 100), n("a", "root", 10, 40), n("b", "root", 50, 90),
      n("a1", "a", 15, 25)))
    assert(self == Map("root" -> 30.0, "a" -> 20.0, "b" -> 40.0, "a1" -> 10.0))
  }

  test("overlapping children share the parent's time and the sum is the root") {
    val self = SelfTime.compute(Seq(
      n("root", null, 0, 100), n("j1", "root", 0, 60), n("j2", "root", 20, 80),
      n("s1", "j1", 0, 60)))
    assert(self("root") == 20.0)
    assert(self("j1") == 0.0)
    assert(self("s1") == 40.0) // 0–20 alone, then half of 20–60
    assert(self("j2") == 40.0) // half of 20–60, then 60–80 alone
    assert(self.values.sum == 100.0)
  }

  test("children are clipped to their parent") {
    val self = SelfTime.compute(Seq(n("root", null, 10, 20), n("c", "root", 0, 15)))
    assert(self == Map("root" -> 5.0, "c" -> 5.0))
  }
}

class DagGenSpec extends AnyFunSuite {
  test("the same seed gives the same DAG; another seed another") {
    assert(DagGen.generate(7, 1, 300) == DagGen.generate(7, 1, 300))
    assert(DagGen.generate(7, 1, 300) != DagGen.generate(8, 1, 300))
    assert(DagGen.generate(7, 1, 300) != DagGen.generate(7, 2, 300))
  }

  test("layered, fan-in 1 to 3, failures only in leaves") {
    val d = DagGen.generate(42, 3, 400)
    assert(d.tasks.size == 400)
    d.tasks.filter(_.layer > 0).foreach { t =>
      assert(t.deps.nonEmpty && t.deps.size <= 3)
      assert(t.deps.forall(x => d.tasks(x).layer < t.layer))
      assert(t.deps.exists(x => d.tasks(x).layer == t.layer - 1))
    }
    assert(d.tasks.filter(_.layer == 0).forall(_.deps.isEmpty))
    val leaves = d.leaves.map(_.id).toSet
    assert(d.failing.nonEmpty && d.failing.subsetOf(leaves))
    val spark = d.tasks.count(_.sparkRows > 0)
    assert(spark > 150 && spark < 250)
    assert(d.edges.size == d.tasks.map(_.deps.size).sum)
    assert(DagGen.artefact(d.tasks.head.id).length == 4096)
  }
}

class DigestSpec extends AnyFunSuite {
  private val rows = Seq(Row(1L, "a", 2.5), Row(2L, "b", null), Row(3L, "c", -0.0))

  test("column order and row order do not change the digest") {
    val d = Digest.of(Seq("k", "s", "x"), rows)
    val swapped = rows.reverse.map(r => Row(r.get(2), r.get(0), r.get(1)))
    assert(Digest.of(Seq("x", "k", "s"), swapped) == d)
    assert(d.rows == 3)
  }

  test("values, types, names and multiplicity change the digest") {
    val d = Digest.of(Seq("k", "s", "x"), rows)
    assert(Digest.of(Seq("k", "s", "x"), rows.updated(0, Row(1L, "a", 2.25))) != d)
    assert(Digest.of(Seq("k", "s", "x"), rows.updated(0, Row(1, "a", 2.5))) != d)
    assert(Digest.of(Seq("k", "s", "y"), rows) != d)
    assert(Digest.of(Seq("k", "s", "x"), rows :+ rows.head) != d)
    assert(Digest.of(Seq("k", "s", "x"), rows.updated(2, Row(3L, "c", 0.0))) != d)
  }

  test("map entries are order-independent, arrays are not") {
    assert(Digest.value(Map("a" -> 1, "b" -> 2)) == Digest.value(Map("b" -> 2, "a" -> 1)))
    assert(Digest.value(Seq(1, 2)) != Digest.value(Seq(2, 1)))
  }
}

class RowsSpec extends AnyFunSuite {
  test("the panel and the compute rows are battery rows with golden digests") {
    val rows = graft.SparkEntry.queries.keySet
    val sf001 = Main.loadGolden(java.nio.file.Paths.get("golden", "sf0.01.json"))
    val x4 = Main.loadGolden(java.nio.file.Paths.get("golden", "x4.json"))
    assert(Rows.Panel.forall(r => rows.contains(r) && sf001.contains(r)))
    assert(Rows.Compute.forall(r => rows.contains(r) && x4.contains(r)))
    assert(Rows.Panel.distinct.size == Rows.Panel.size)
  }

  test("the panel covers every group") {
    assert(Rows.Panel.map(Rows.group).toSet == Rows.Groups.toSet)
  }
}
