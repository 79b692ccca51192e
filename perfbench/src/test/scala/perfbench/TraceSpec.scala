package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Interval union, span self time and call-site attribution on hand-built
  * inputs.
  */
class TraceSpec extends AnyFunSuite {

  test("union of job intervals counts overlapped time once") {
    assert(Intervals.unionLength(Nil) == 0L)
    assert(Intervals.unionLength(Seq((0L, 10L))) == 10L)
    // two concurrent jobs [0,10) and [5,15) plus a disjoint [20,25)
    assert(Intervals.unionLength(Seq((5L, 15L), (0L, 10L), (20L, 25L))) == 20L)
    // nested and touching intervals
    assert(Intervals.unionLength(Seq((0L, 30L), (5L, 10L), (30L, 40L))) == 40L)
    // clipped to an operation window [8, 22)
    assert(Intervals.unionLength(Seq((5L, 15L), (0L, 10L), (20L, 25L)), 8L, 22L) == 9L)
    // empty and inverted intervals contribute nothing
    assert(Intervals.unionLength(Seq((3L, 3L), (9L, 2L))) == 0L)
  }

  test("self time is a span's length minus its direct children") {
    val spans = Seq(
      Span(0, "op", -1, 0, 0L, 100L),
      Span(1, "call.a", 0, 0, 10L, 40L),
      Span(2, "call.b", 0, 0, 50L, 90L),
      Span(3, "call.b.plan", 2, 0, 55L, 65L),
      Span(4, "call.b.collect", 2, 0, 65L, 85L))
    val self = Spans.selfNs(spans)
    assert(self == Map(0 -> 30L, 1 -> 30L, 2 -> 10L, 3 -> 10L, 4 -> 20L))
    assert(self.values.sum == 100L, "self times partition the root span")
  }

  test("the span recorder nests by call structure") {
    val sp = new Spans
    sp.op = 3
    val r = sp("op") { sp("inner") { 42 } }
    sp.op = -1
    sp("set-up")(())
    assert(r == 42)
    val Seq(inner, outer, setup) = sp.all
    assert(outer.name == "op" && outer.parent == -1 && inner.parent == outer.id && inner.op == 3)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    assert(setup.op == -1 && setup.parent == -1)
  }

  test("attribution picks the innermost graft frame of a call site") {
    val site =
      """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:3890)
        |app//graft.ext.DedupClusters$.$anonfun$componentsImpl$3(DedupClusters.scala:212)
        |scala.collection.immutable.List.foreach(List.scala:334)
        |graft.ExtQueries4$.$anonfun$q215$1(ExtQueries4.scala:450)
        |perfbench.CorpusBuild.run(Workloads.scala:10)""".stripMargin
    assert(Attribution.module(site).contains("ext.DedupClusters"))
    assert(Attribution.module("graft.ExtQueries4$.$anonfun$q215$1(ExtQueries4.scala:450)").contains("ExtQueries4"))
    assert(Attribution.module("graft.sources.ParquetSink.append(Sinks.scala:20)").contains("sources.ParquetSink"))
    assert(Attribution.module("perfbench.Main$.run(Main.scala:1)\nscala.Option.map(Option.scala:2)").isEmpty)
    assert(Attribution.module(null).isEmpty)
  }

  test("quantiles interpolate between order statistics") {
    assert(Metrics.quantile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Metrics.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(math.abs(Metrics.quantile((1 to 11).map(_.toDouble), 0.9) - 10.0) < 1e-12)
  }
}
