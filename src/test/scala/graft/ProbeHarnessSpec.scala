package graft

import org.apache.spark.sql.graft.GraftBridge

import graft.engine.ReleaseShape

/** The probe harness's parsers, one mode end to end, and the census
  * listener's lifecycle, on the shared test session. */
class ProbeHarnessSpec extends SparkSpec {

  private def captured(body: => Unit): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(body)
    out.toString("UTF-8")
  }

  test("confArgs sets the confs, returns the other args in order, rejects conf:nokey") {
    val key = "spark.graft.test.probeHarness"
    try {
      val rest = Probe.confArgs(spark,
        Seq("a", s"conf:$key=x=1", "b", "c"))
      assert(rest.toSeq === Seq("a", "b", "c"))
      assert(spark.conf.get(key) === "x=1", "only the first '=' splits key from value")
      val ex = intercept[IllegalArgumentException](
        Probe.confArgs(spark, Seq(s"conf:$key=y", "conf:nokey")))
      assert(ex.getMessage.contains("want conf:key=value"), ex.getMessage)
      assert(spark.conf.get(key) === "x=1", "a malformed arg sets no conf at all")
    } finally spark.conf.unset(key)
  }

  test("shape maps v1–v4, defaults when absent, rejects any other name") {
    assert(Probe.shape(Some("v1"), ReleaseShape.V3) === ReleaseShape.V1)
    assert(Probe.shape(Some("v2"), ReleaseShape.V3) === ReleaseShape.V2)
    assert(Probe.shape(Some("v3"), ReleaseShape.V1) === ReleaseShape.V3)
    assert(Probe.shape(Some("v4"), ReleaseShape.V1) === ReleaseShape.V4)
    assert(Probe.shape(None, ReleaseShape.V2) === ReleaseShape.V2)
    val ex = intercept[IllegalArgumentException](Probe.shape(Some("v5"), ReleaseShape.V2))
    assert(ex.getMessage.contains("v1|v2|v3|v4"), ex.getMessage)
    assert(Probe.isShapeArg("v5") && !Probe.isShapeArg("1000"))
  }

  test("query mode prints a [probe] line with the query's rows") {
    val out = captured(Probe.run(spark, Array("query", sf, "q05_group_agg")))
    val line = out.linesIterator.find(_.startsWith("[probe] ")).getOrElse(fail(out))
    val rows = "rows=(-?\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
    assert(rows.exists(_ > 0), line)
    intercept[IllegalArgumentException](Probe.run(spark, Array("nosuchmode")))
  }

  test("census returns its body's value and leaves no listener behind") {
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(sc)
    val before = GraftBridge.listenerCount(sc)
    var n = 0L
    val out = captured {
      n = Probe.census(spark, "census-test")(spark.range(0, 1000, 1, 2).count())
    }
    assert(n === 1000L)
    assert(Probe.census(spark, "census-test")(spark.range(0, 10).collect().length) === 10)
    assert(GraftBridge.listenerCount(sc) === before)
    // job lines are labelled with the action's call site, not `?`
    val jobLines = out.linesIterator.filter(_.contains("[census-test]   job")).toSeq
    assert(jobLines.nonEmpty, out)
    jobLines.foreach { l =>
      val label = l.substring(l.indexOf(" ms  ") + 5)
      assert(label != "?" && label.contains(".scala:"), l)
    }
  }
}
