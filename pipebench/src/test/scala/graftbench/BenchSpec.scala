package graftbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, start: Long, end: Long) =
    Span(id, s"s$id", "L", parent, start, end, "r", -1L)

  test("self time subtracts the MERGED child intervals, not their sum") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 40), // overlaps 3: together they cover [10, 60)
      span(3, 1, 30, 60),
      span(4, 1, 80, 90),
      span(5, 2, 15, 20)) // grandchild: already inside 2, never subtracted from 1
    val self = Span.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(5) == 5)
    // the self times of a tree partition its root's interval when the
    // children do not overlap each other
    val tree = Seq(span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 50, 60), span(4, 2, 20, 30))
    assert(Span.selfTimes(tree).values.sum == 100)
  }

  test("a child running past its parent is clipped to the parent") {
    val self = Span.selfTimes(Seq(span(1, 0, 0, 100), span(2, 1, 90, 130)))
    assert(self(1) == 90)
  }

  test("interval union, difference and overlap") {
    assert(Intervals.union(Seq((5L, 7L), (1L, 3L), (2L, 4L), (8L, 8L))) == Seq((1L, 4L), (5L, 7L)))
    assert(Intervals.minus((0L, 10L), Seq((2L, 3L), (2L, 5L), (8L, 12L))) == Seq((0L, 2L), (5L, 8L)))
    assert(Intervals.overlap(Seq((0L, 10L)), Seq((5L, 15L), (-5L, 1L))) == 6L)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(99, 0.9) == 9)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(xs, 0.9) == 90.0)
    assert(xs.count(_ > Stats.tailPercentile(xs, 0.9)) == 10)
    intercept[IllegalArgumentException](Stats.tailPercentile(xs.take(99), 0.9))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("generators: the same seed gives the same input, another seed another") {
    val specs = WinsGen.specs(0.05)
    def wins(seed: Long) = specs.zipWithIndex.flatMap { case (s, k) =>
      (0L until s.rows).map(i => WinsGen.row(seed, s, 10 + k, i).toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
    } ++ WinsGen.podRows(seed, specs).map(_.toSeq)
    assert(wins(7) == wins(7))
    assert(wins(7) != wins(8))

    val z = new CorpusGen.Zipf(500)
    def corpus(seed: Long) = (0L until 300L).map(i => CorpusGen.doc(seed, i, z))
    assert(corpus(7) == corpus(7))
    assert(corpus(7) != corpus(8))

    val keys = (1 to 44).map(k => s"key$k")
    assert(QueryMix.order(7, 0, keys) == QueryMix.order(7, 0, keys))
    assert(QueryMix.order(7, 0, keys) != QueryMix.order(8, 0, keys))
    assert(QueryMix.order(7, 0, keys).sorted == keys.sorted)
  }

  test("WINS plan: planted categories add up and the closed-form counts follow") {
    val s = WinsGen.specs(1.0).head
    val p = WinsGen.plan(s.rows)
    assert(p.blank + p.nul + p.dup + p.miss + p.matched == s.rows)
    val tags = (0L until s.rows).map(i => WinsGen.tag(3L, s, 10, i))
    assert(tags.count(_ == "") == p.blank && tags.count(_ == null) == p.nul)
    val nonNull = tags.filter(t => t != null && t.nonEmpty)
    val dupRows = nonNull.groupBy(identity).values.filter(_.size > 1).map(_.size).sum
    assert(dupRows == p.dup)
    assert(nonNull.count(_.startsWith("NM-")) == p.miss)
    val matched = nonNull.groupBy(identity).filter(_._2.size == 1).keys.filterNot(_.startsWith("NM-"))
    assert(matched.count(_.startsWith("RV")) == p.rv && matched.count(_.startsWith("RS")) == p.rs)
  }

  test("BENCHMARK.json lists exactly the metrics the runner reports, with their units") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def listed(key: String) = {
      val it = root.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    }
    assert(listed("per_layer") == Layers.names)
    assert(listed("end_to_end") == Main.endToEnd)
  }
}
