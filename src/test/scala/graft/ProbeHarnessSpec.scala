package graft

import org.apache.spark.sql.graft.GraftBridge

import graft.engine.ReleaseShape

/** The probe harness's parsers, every mode end to end, and the census
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

  test("confArgs rejects the removed annJoin keys, naming the budget that replaced them") {
    val key = "spark.graft.test.probeHarness"
    val ex = intercept[IllegalArgumentException](Probe.confArgs(spark,
      Seq(s"conf:$key=1", "conf:spark.graft.annjoin.shipTablesMaxBytes=0")))
    assert(ex.getMessage.contains("spark.driver.maxResultSize"), ex.getMessage)
    assert(ex.getMessage.contains("force:"), ex.getMessage)
    // it points only at live commands
    Seq("ProbeRelease", "ProbeTextDedup", "MaintainRelease").foreach(main =>
      assert(!ex.getMessage.contains(main), ex.getMessage))
    assert(spark.conf.getOption(key).isEmpty, "a rejected arg sets no conf at all")
    // the removed CC broadcast and slice-LRU keys derive from the same budget
    val cc = intercept[IllegalArgumentException](Probe.confArgs(spark,
      Seq(s"conf:$key=1", "conf:spark.graft.cc.broadcastMaxBytes=0")))
    assert(cc.getMessage.contains("spark.driver.maxResultSize"), cc.getMessage)
    assert(spark.conf.getOption(key).isEmpty, "a rejected arg sets no conf at all")
    val force = intercept[IllegalArgumentException](
      Probe.run(spark, Array("annjoin", "v1", "1", "1", "force:shipMode=px")))
    assert(force.getMessage.contains("tables|halvesDict|projection"), force.getMessage)
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

  /** A small index over V1's corpus rows (raw 256-d, so the modes' V1
    * queries and batches fit), in the staged feature-store layout. */
  private lazy val v1Dir: String = {
    import graft.engine.{LopqIndexStore, LopqParams, LopqPca, LopqSearcher, LopqTrainer}
    import org.apache.spark.sql.functions._
    val dir = System.getProperty("user.dir") + "/target/graft-index-test/probe_serve"
    val n = 3000L
    val e = ReleaseShape.corpus(spark, n).cache()
    val pca = LopqPca.train(e, "embedding", 16)
    val pcaB = spark.sparkContext.broadcast(pca)
    val applyU = udf((v: Seq[Float]) => pcaB.value(v.toArray).toSeq)
    val projected = e.select(col("vec_id"), applyU(col("embedding")).as("pvec")).cache()
    val p = LopqParams(v = 4, m = 4, subClusters = 16, seed = 7L, kmeansMaxIter = 3)
    val model = LopqTrainer.train(projected, "pvec", p)
    LopqIndexStore.build(spark, dir, model, Some(pca),
      LopqSearcher.encode(projected, "vec_id", "pvec", model), p, n, ReleaseShape.RawDim)
    val vecDir = new org.apache.hadoop.fs.Path(s"$dir/vectors")
    vecDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(vecDir, true)
    ReleaseShape.stageVectors(spark, dir, n)
    projected.unpersist(); e.unpersist()
    dir
  }

  test("serve mode runs v1 against an index dir and reports each phase's jobs and rerank files") {
    val dir = v1Dir
    val out = captured(Probe.run(spark, Array("serve", "v1", "2", s"dir:$dir")))
    val passes = out.linesIterator.filter(_.matches("""\[serve-breakdown\] v1 pass=\d.*""")).toSeq
    assert(passes.size === 2, out)
    // every phase reports its jobs; the rerank also the files its scan read
    val phase = """(\S+)=(\d+)ms/(\d+)j""".r
    passes.foreach { l =>
      val jobs = phase.findAllMatchIn(l).map(m => m.group(1) -> m.group(3).toInt).toMap
      assert(jobs.keySet === Set("walk", "slices", "tables", "approxPlan",
        "approxExec+collect", "rerank"), l)
      assert(jobs("walk") === 0 && jobs("tables") === 0 && jobs("rerank") === 5, l)
      val files = """rerankFiles/q=([\d.]+) of (\d+)""".r.findFirstMatchIn(l).getOrElse(fail(l))
      assert(files.group(2).toInt === 256, l)
      assert(files.group(1).toDouble > 0 && files.group(1).toDouble <= 100, l)
    }
    // the second pass hits the slice cache
    assert(passes(1).contains("slices=") && passes(1).matches(""".* slices=\d+ms/0j .*"""), passes(1))
    assert(out.linesIterator.exists(_.matches(""".*searchSlim pass=1 .* jobs/q=2\.0 .*""")), out)
    assert(out.contains("rerank job: save at Probe.scala"), out)
  }

  test("ingest mode runs screened cycles on a clone and reports each phase's jobs") {
    import spark.implicits._
    val dir = v1Dir
    val tdir = System.getProperty("user.dir") + "/target/graft-index-test/probe_text"
    val r = new java.util.Random(5L)
    graft.ops.TextSigStore.build(spark, tdir, (0 until 200).map(i =>
      (i.toLong, Seq.fill(40)(s"w${r.nextInt(5000)}").mkString(" "))).toDF("doc_id", "text"),
      storeTexts = true)
    val before = graft.engine.LopqIndexStore.readCodes(spark, dir).count()
    val out = captured(Probe.run(spark, Array("ingest", "v1", s"dir:$dir", s"text:$tdir", "1")))
    val line = out.linesIterator.find(_.startsWith("[probe-ingest] v1 cycle=1 ")).getOrElse(fail(out))
    val jobs = """(\S+)=\d+ms/(\d+)j""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
    assert(jobs.keySet === Set("vec", "doc", "load", "reads"), line)
    assert(jobs("vec") > 0 && jobs("vec") <= 25, line)
    assert(line.contains("vec=IngestReport(true,1000,") &&
      line.contains("doc=TextIngestReport(true,300,"), line)
    // cycle 1 names every phase's jobs
    assert(out.linesIterator.exists(_.matches("""\[probe-ingest\]   vec +\d+ x .*\.scala:\d+""")), out)
    assert(graft.engine.LopqIndexStore.readCodes(spark, dir).count() === before,
      "the cycles run on a clone")
  }

  test("annjoin mode runs v1 against an index dir and prints its total and plan") {
    val out = captured(Probe.run(spark, Array("annjoin", "v1", "20", "1", s"dir:$v1Dir")))
    assert(out.linesIterator.exists(_.matches("""\[probe-fused\] TOTAL +[\d.]+ s .*""")), out)
    assert(out.linesIterator.exists(_.matches("""\[probe-fused\]   regime shipMode +=.*""")), out)
    assert(out.linesIterator.exists(_.matches("""\[probe-fused\]   job +\d+ .*""")), out)
  }

  test("maintain mode streams micro-batches into a clone of the index") {
    val dir = v1Dir
    def codes(d: String) = graft.engine.LopqIndexStore.readCodes(spark, d).count()
    val n = codes(dir)
    val work = new org.apache.hadoop.fs.Path(dir + "_maintain")
    val fs = work.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val progressKey = "spark.sql.streaming.numRecentProgressUpdates"
    val progressWas = spark.conf.getOption(progressKey)
    try {
      // a trailing '/' on dir: still puts the clone beside the index
      val out = captured(Probe.run(spark, Array("maintain", "v1", s"dir:$dir/", "3", "64")))
      assert(out.linesIterator.count(_.matches("""\[maintain\] batch +\d+ +\d+ ms""")) === 3, out)
      assert(out.linesIterator.exists(_.startsWith("[maintain] v1: 3 batches x 64 rows")), out)
      assert(codes(s"$work/index") === n + 192)
      assert(codes(dir) === n, "the batches go to the clone")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_maintain")))
      assert(spark.conf.getOption(progressKey) === progressWas, "the mode restores the conf")
    } finally {
      fs.delete(work, true)
      ()
    }
  }

  test("scanfloor mode times a noop scan of a table per pass") {
    val out = captured(Probe.run(spark, Array("scanfloor", s"$v1Dir/vectors", "2")))
    val passes = out.linesIterator.filter(_.matches("""\[scan-floor\] .* pass=\d +[\d.]+ s .*selfCpu=.*""")).toSeq
    assert(passes.size === 2, out)
  }

  test("fragments mode prints the three pre-checkpoint text fragments' plans") {
    val out = captured(Probe.run(spark, Array("fragments", sf)))
    Seq("minhash_sigs", "band_rows", "simhash_sigs").foreach(f =>
      assert(out.contains(s"== fragment: $f"), out))
    assert(out.contains("Physical Plan"), out)
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
