package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.CellMath
import graft.engine.{LopqIndexStore, LopqSearcher, ReleaseShape}

/** Dev tool: per-stage wall-clock of ONE batch ANN-join call at a release
  * shape — where does the bulk-probe path's latency actually go?
  * Usage: runMain graft.ProbeAnnJoinStages [v2|v3] [nQueries] [passes]
  *
  * Mirrors [[LopqSearcher.annJoin]] stage by stage (same internals, same
  * order) with a timer around each; intermediate materializations make the
  * stage costs visible at the price of some re-computation, so the printed
  * total exceeds the fused path's — use [[ProbeRelease]] `annjoin` mode for
  * the end-to-end number. */
object ProbeAnnJoinStages {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("fused")) { fusedMain(args.drop(1)); return }
    val s = args.headOption match {
      case Some("v3") => ReleaseShape.V3
      case _ => ReleaseShape.V2
    }
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._

    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe-annjoin] $label%-28s ${(System.nanoTime() - t0) / 1e6}%9.1f ms")
      r
    }

    val idx = t("loadSlim")(LopqIndexStore.loadSlim(spark, s.dir).get)
    val vectors = ReleaseShape.vectors(spark, idx.dir)
    (1 to passes).foreach { pass =>
      println(s"--- pass $pass (n=$n) ---")
      val slimB = idx.slimBroadcast
      val histB = idx.histBroadcast
      val pcaB = idx.pcaBroadcast
      val vCoarse = idx.slim.v
      val quota = ReleaseShape.Quota

      val walkU = udf { (vec: Seq[Float]) =>
        val raw = vec.toArray
        val aq = pcaB.value.map(_.apply(raw)).getOrElse(raw)
        val (d0, d1) = slimB.value.coarseDistances(aq)
        (aq.toSeq, histB.value.selectCells(slimB.value.v, d0, d1, quota))
      }
      val queries = spark.range(0, n.toLong, 1, 32)
        .map(id => (id, ReleaseShape.rowVecFor(s, id).toSeq))
        .toDF("q_id", "q_vec")
      val qcells = queries
        .withColumn("w", walkU(col("q_vec")))
        .select(col("q_id"), col("q_vec"), col("w._1").as("aq"), col("w._2").as("cells"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("walk+persist")(qcells.count())

      val cellRows = t("cell-union agg")(
        qcells.select(explode(col("cells")).as("cell_id"))
          .groupBy("cell_id").count().as[(Int, Long)].collect())
      val unionCells = cellRows.map(_._1).sorted
      val nPairs = cellRows.map(_._2).sum
      println(s"[probe-annjoin]   unionCells=${unionCells.length} nPairs=$nPairs")

      val clusterKeys = unionCells.flatMap { c =>
        val (c0, c1) = CellMath.unpackCell(c, vCoarse)
        Seq((0, c0), (1, c1))
      }.distinct.toSeq
      val rotB = t(s"slices+bcast(${clusterKeys.size})")(
        idx.sliceBroadcastFor(clusterKeys))

      val qpairs = qcells
        .select(col("q_id"), col("aq"), explode(col("cells")).as("cell_id"))
      val projU = udf { (aq: Seq[Float], cell: Int) =>
        val cc = CellMath.unpackCell(cell, vCoarse)
        slimB.value.projectWith(aq.toArray, cc, (sp, cl) => rotB.value((sp, cl))).toSeq
      }
      val qside = qpairs.withColumn("px", projU(col("aq"), col("cell_id")))
        .select("q_id", "cell_id", "px")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("qside projections")(qside.count())

      val pruned = index_pruned(idx, unionCells)
      val slim = idx.slim
      val adcCol = graft.functions.VectorFunctions.adcProjectionDistance(
        col("px"), col("fine"), slim.flatSubquantizers, slim.m,
        slim.halfDim / slim.numFineSplits)
      val wApprox = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("adc_dist"), col("id"))
      val cand = pruned
        .join(qside, "cell_id")
        .withColumn("adc_dist", adcCol)
        .withColumn("arnk", row_number().over(wApprox))
        .where(col("arnk") <= ReleaseShape.RerankK)
        .select("q_id", "id", "adc_dist")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("codes join + window")(cand.count())

      val vecSide = vectors.select(col("vec_id").as("id"), col("embedding").as("n_vec"))
      val wExact = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("exact_dist"), col("id"))
      val joined = vecSide.join(broadcast(cand), "id")
        .join(qcells.select(col("q_id"), col("q_vec")), "q_id")
        .withColumn("exact_dist",
          sqrt(graft.functions.VectorFunctions.l2DistanceSq(col("q_vec"), col("n_vec"))))
        .withColumn("rank", row_number().over(wExact).cast("long"))
        .where(col("rank") <= ReleaseShape.TopK)
      t("rerank (bcast cand)")(
        joined.write.format("noop").mode("overwrite").save())

      qcells.unpersist(blocking = false)
      qside.unpersist(blocking = false)
      cand.unpersist(blocking = false)
    }
    spark.stop()
  }

  /** Fused-path job census: run the REAL [[LopqSearcher.annJoin]] and print
    * every Spark job's wall-clock — where does the end-to-end pass go?
    * Usage: runMain graft.ProbeAnnJoinStages fused [v2|v3] [n] [passes] */
  private def fusedMain(args0: Array[String]): Unit = {
    val (confArgs, args) = args0.partition(_.startsWith("conf:"))
    val s = args.headOption match {
      case Some("v3") => ReleaseShape.V3
      case Some("v4") => ReleaseShape.V4
      case _ => ReleaseShape.V2
    }
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(1000)
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    confArgs.foreach { a =>
      a.stripPrefix("conf:").split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v); println(s"[probe-fused] conf $k=$v")
        case _ => sys.error(s"bad conf arg (want conf:key=value): $a")
      }
    }
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.put(e.jobId,
          (System.nanoTime(), Option(e.properties.getProperty("spark.job.description"))
            .orElse(Option(e.properties.getProperty("callSite.short"))).getOrElse("?").take(90)))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val st = jobStarts.remove(e.jobId)
        if (st != null)
          println(f"[probe-fused]   job ${e.jobId}%3d ${(System.nanoTime() - st._1) / 1e6}%9.1f ms  ${st._2}")
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        val tm = si.taskMetrics
        if (wall > 100)
          println(f"[probe-fused]     stage ${si.stageId}%3d ${wall}%7d ms  tasks=${si.numTasks}%3d" +
            f"  cpu=${tm.executorCpuTime / 1000000}%6d ms run=${tm.executorRunTime}%6d ms" +
            f"  in=${tm.inputMetrics.recordsRead}%9d sw=${tm.shuffleWriteMetrics.recordsWritten}%8d" +
            f" sr=${tm.shuffleReadMetrics.recordsRead}%8d  ${si.name.take(60)}")
      }
    })
    val idx = graft.engine.LopqIndexStore.loadSlim(spark, s.dir).get
    var lastDf: org.apache.spark.sql.DataFrame = null
    (1 to passes).foreach { pass =>
      println(s"--- fused pass $pass (n=$n) ---")
      val t0 = System.nanoTime()
      lastDf = ReleaseShape.annJoinFor(spark, s, idx, n)
      lastDf.write.format("noop").mode("overwrite").save()
      println(f"[probe-fused] TOTAL ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      if (pass == 1)
        graft.engine.LopqSearcher.lastPlanNotes(spark).toSeq.sorted.foreach {
          case (k, v) => println(f"[probe-fused]   regime $k%-18s = $v")
        }
      if (pass < passes)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    if (sys.env.contains("PROBE_EXPLAIN"))
      println(lastDf.queryExecution.executedPlan.toString.take(20000))
    spark.stop()
  }

  private def index_pruned(idx: graft.engine.LopqSlimIndex,
      unionCells: Array[Int]) = {
    if (unionCells.length <= LopqSearcher.AnnJoinMaxPushedCells)
      idx.codes.where(LopqIndexStore.cellFilter(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(unionCells),
        idx.cellBuckets))
    else idx.codes
  }
}
