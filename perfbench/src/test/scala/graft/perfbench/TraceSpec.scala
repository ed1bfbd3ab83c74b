package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("a short call site names the module by its file") {
    assert(CallSites.module("count at SilverLoader.scala:121", null) == "SilverLoader")
    assert(CallSites.module("collect at Extractor.scala:98", "") == "Extractor")
    assert(CallSites.module("head at GraftTable.scala:2011", "ignored") == "GraftTable")
  }

  test("files of one module share its name") {
    assert(CallSites.module("collect at ControlQueries.scala:40", null) == "ControlPlane")
    assert(CallSites.module("collect at ControlPlane.scala:180", null) == "ControlPlane")
    assert(CallSites.module("collect at Reads.scala:21", null) == "read")
    assert(CallSites.module("collect at Gate.scala:38", null) == "gate")
  }

  test("a Java helper frame falls back to the first graft frame of the long form") {
    val details =
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:3400)
        |graft.operators.MergeBuilder.execute(Merge.scala:512)
        |graft.pipeline.SilverLoader.loadEntity(SilverLoader.scala:170)""".stripMargin
    assert(CallSites.module("run at CompletableFuture.java:1768", details) == "Merge")
  }

  test("a replaced description is ignored in favour of the long form") {
    val details = "graft.streaming.StreamingGoldMirror.start(StreamingGoldMirror.scala:58)"
    assert(CallSites.module("id = 1, runId = 2, batch = 3", details) == "StreamingGoldMirror")
  }

  test("no graft frame anywhere is unattributed") {
    assert(CallSites.module("run at CompletableFuture.java:1768",
      "java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)") ==
      CallSites.Unattributed)
    assert(CallSites.module(null, null) == CallSites.Unattributed)
  }

  private def span(id: Long, parent: Long, start: Long, end: Long) = Span(id, parent, "s", start, end)

  test("self time is the span minus what its children cover") {
    val root = span(1, 0, 0, 100)
    assert(Intervals.selfTime(root, Nil) == 100)
    assert(Intervals.selfTime(root, Seq(span(2, 1, 10, 30), span(3, 1, 50, 60))) == 70)
  }

  test("overlapping children are counted once") {
    val root = span(1, 0, 0, 100)
    assert(Intervals.selfTime(root, Seq(span(2, 1, 10, 40), span(3, 1, 30, 50), span(4, 1, 35, 45))) == 60)
  }

  test("children reaching outside the span only cover the part inside it") {
    val root = span(1, 0, 100, 200)
    assert(Intervals.selfTime(root, Seq(span(2, 1, 50, 120), span(3, 1, 190, 300))) == 70)
    assert(Intervals.selfTime(root, Seq(span(2, 1, 0, 50), span(3, 1, 250, 300))) == 100)
    assert(Intervals.uncovered(100, 200, Seq((0L, 1000L))) == 0)
  }

  test("the tail is the highest percentile with ten samples beyond it, never below the median") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == ((30.0, 75.0, 40)))
    assert(Stats.tail((1 to 5).map(_.toDouble)) == ((3.0, 50.0, 5)))
  }
}
