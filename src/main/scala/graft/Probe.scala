package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

import graft.core.DiskStats
import graft.engine.{LopqIndexStore, LopqSearcher, ReleaseShape, ReleaseShapeDef, RerankShape, RotationSource}

/** The dev probe harness, and the small probes as its modes.
  *
  * Harness, shared by every probe main ([[ProbeRelease]], [[ProbeTextDedup]],
  * [[BuildRelease]], [[MaintainRelease]]): [[session]] is the one probe
  * session, [[confArgs]] applies `conf:key=value` args, [[timed]] times a
  * block with its machine read-bytes, [[shape]] resolves a release-shape
  * name, and [[census]] prints the Spark jobs and stages a block runs.
  *
  * Usage: `runMain graft.Probe <mode> … [conf:key=value …]`
  *   - `query <sfDir[,…]> <query[,…]> [explain|noop|execplan]` — plan-build
  *     and execution time of catalog queries. `noop` materializes every
  *     column through the noop sink (what Bench times) instead of a count
  *     Catalyst can prune; `execplan` prints the EXECUTED plan afterwards,
  *     the only dump that shows the final WholeStageCodegen `*(n)` spans.
  *   - `serve [v1..v4] [passes]` — per-phase wall of the per-query slim
  *     serve (`searchSlim`), 5 queries per pass: the engine's own stages
  *     timed in order (cell walk, rotation slices, ADC tables, approx plan
  *     with its table broadcast, approx execution + prefix collect, rerank),
  *     then the real `searchSlim` on the same queries as a reference row.
  *   - `annjoin [v1..v4] [n] [passes]` — per-job and per-stage census of the
  *     real batch `annJoin` over `n` probes, its TOTAL per pass and the
  *     regime notes of pass 1 (`PROBE_EXPLAIN=1` dumps the executed plan).
  *   - `scanfloor <parquetDir> [passes]` — the bare decode floor of a table:
  *     a noop materialization of every column, with this JVM's CPU.
  *   - `cellfilter [v1..v4] [n]` — the batch join's codes scan unfiltered,
  *     bucket-filtered and with the full cell IN-list, over the visited-cell
  *     union of `n` probes.
  *   - `fragments <sfDir>` — pre-checkpoint plans of the text fragments
  *     (MinHash signatures, LSH band rows, SimHash signatures) the catalog
  *     queries' own dumps hide behind `localCheckpoint`.
  *
  * Earlier commands and their modes:
  * {{{
  *   Probe <sf> <q> [explain|noop|execplan]  →  Probe query <sf> <q> [explain|noop|execplan]
  *   ProbeServeBreakdown v3 3                 →  Probe serve v3 3
  *   ProbeRelease [v2|v3|v4] [queryId]        →  Probe serve v3   (the per-stage single query)
  *   ProbeAnnJoinStages fused v3 1000 3       →  Probe annjoin v3 1000 3
  *   ProbeAnnJoinStages v3 1000 3             →  Probe annjoin v3 1000 3   (the staged copy is gone)
  *   ProbeScanFloor <dir> 3                   →  Probe scanfloor <dir> 3
  *   ProbeCellFilterCost v3 1000              →  Probe cellfilter v3 1000
  *   ProbeFragments <sf>                      →  Probe fragments <sf>
  * }}}
  */
object Probe {

  // ------------------------------------------------------------- harness

  /** The one probe session: `local[$SPARK_GRAFT_CPUS]` (default 32) with as
    * many shuffle partitions, UI off, UTC, legacy nanosecond timestamps
    * readable, WARN logging and the graft SQL functions registered. `extra`
    * carries the builder-time confs a mode needs (set before the context
    * starts, so `spark.conf.set` cannot stand in for them). */
  def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Sets every `conf:key=value` arg as a session conf, printing each as
    * `[tag] conf key=value`, and returns the other args in order. A `conf:`
    * arg without a key and `=` fails before any conf is set. */
  def confArgs(spark: SparkSession, args: Seq[String],
      tag: String = "probe"): Array[String] = {
    val (confs, rest) = args.partition(_.startsWith("conf:"))
    confs.map { a =>
      a.stripPrefix("conf:").split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ => throw new IllegalArgumentException(
          s"bad conf arg (want conf:key=value): $a")
      }
    }.foreach { case (k, v) =>
      spark.conf.set(k, v)
      println(s"[$tag] conf $k=$v")
    }
    rest.toArray
  }

  private val Shapes = Seq("v1" -> ReleaseShape.V1, "v2" -> ReleaseShape.V2,
    "v3" -> ReleaseShape.V3, "v4" -> ReleaseShape.V4)

  /** The release shape `arg` names (`v1`–`v4`), `default` when absent; any
    * other name fails with the valid ones. */
  def shape(arg: Option[String], default: ReleaseShapeDef): ReleaseShapeDef =
    arg.fold(default) { a =>
      Shapes.collectFirst { case (`a`, s) => s }.getOrElse(
        throw new IllegalArgumentException(
          s"unknown release shape '$a' (want one of ${Shapes.map(_._1).mkString("|")})"))
    }

  /** True for an arg that names a release shape, valid or not (`v<digits>`) —
    * for parsers that pick the shape out of mixed args, so an unknown name
    * reaches [[shape]] and fails there instead of parsing as a number. */
  def isShapeArg(a: String): Boolean = a.matches("v\\d+")

  /** The one probe timer: runs `body`, then prints
    * `[tag] label <wall> s  read=<GB> GB<extra>` — the wall time and the
    * machine read-bytes delta ([[DiskStats.readBytes]]), so a pass against a
    * cold page cache explains its own wall time. `extra` is evaluated after
    * `body`. */
  def timed[A](tag: String, label: String, extra: => String = "")(body: => A): A = {
    val b0 = DiskStats.readBytes()
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    val gb = (DiskStats.readBytes() - b0) / 1e9
    println(f"[$tag] $label $sec%9.2f s  read=$gb%7.2f GB$extra")
    r
  }

  /** A job's label: the caller's description or short call site when set,
    * else the call site of the SQL action that ran it (its execution's
    * description, e.g. `count at LopqSearcher.scala:123`; every job of one
    * action, AQE's asynchronous stage jobs included, carries its execution
    * id), else its last stage's name, which Spark fills with the call site
    * of an RDD action. */
  private def jobLabel(e: SparkListenerJobStart, sqlDescriptions: ConcurrentHashMap[Long, String])
      : String = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop("spark.job.description").orElse(prop("callSite.short"))
      .orElse(prop("spark.sql.execution.id").flatMap(id => Option(sqlDescriptions.get(id.toLong))))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("?")
  }

  /** Runs `body` with a listener that prints, under `[tag]`, every Spark
    * job's wall time and every stage over 100 ms (tasks, executor CPU and
    * run time, records read and shuffled). The listener is removed, after
    * the listener bus has delivered the body's events, when `body` returns.
    * Lines go to the caller's `Console.out`, not the listener thread's. */
  def census[A](spark: SparkSession, tag: String)(body: => A): A = {
    val out = Console.out
    val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
    val sqlDescriptions = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sqlDescriptions.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStarts.put(e.jobId, (System.nanoTime(), jobLabel(e, sqlDescriptions).take(90)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobStarts.remove(e.jobId)
        if (st != null)
          out.println(f"[$tag]   job ${e.jobId}%3d ${(System.nanoTime() - st._1) / 1e6}%9.1f ms  ${st._2}")
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        val tm = si.taskMetrics
        if (wall > 100)
          out.println(f"[$tag]     stage ${si.stageId}%3d ${wall}%7d ms  tasks=${si.numTasks}%3d" +
            f"  cpu=${tm.executorCpuTime / 1000000}%6d ms run=${tm.executorRunTime}%6d ms" +
            f"  in=${tm.inputMetrics.recordsRead}%9d sw=${tm.shuffleWriteMetrics.recordsWritten}%8d" +
            f" sr=${tm.shuffleReadMetrics.recordsRead}%8d  ${si.name.take(60)}")
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try body
    finally {
      try GraftBridge.drainListenerBus(sc) // times out (throws) after 10 s
      finally sc.removeSparkListener(listener)
    }
  }

  /** Materializes every column of `df` through the noop sink (what Bench
    * times). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // --------------------------------------------------------------- modes

  private val Modes: Map[String, (String, (SparkSession, Seq[String]) => Unit)] = Map(
    "query" -> ("probe", query _),
    "serve" -> ("serve-breakdown", serve _),
    "annjoin" -> ("probe-fused", annjoin _),
    "scanfloor" -> ("scan-floor", scanFloor _),
    "cellfilter" -> ("cellfilter", cellFilter _),
    "fragments" -> ("probe", fragments _))

  /** Runs one mode on `spark`: the first arg that is not a `conf:` arg names
    * the mode; the `conf:` args are applied first. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val mode = args.find(!_.startsWith("conf:")).getOrElse("")
    val (tag, body) = Modes.getOrElse(mode, throw new IllegalArgumentException(
      s"unknown probe mode '$mode' (want one of ${Modes.keys.toSeq.sorted.mkString("|")})"))
    body(spark, confArgs(spark, args.toSeq, tag).toSeq.drop(1))
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    try run(spark, args) finally spark.stop()
  }

  private def query(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2, "usage: query <sfDir[,…]> <query[,…]> [explain|noop|execplan]")
    val names = args(1).split(",").toSeq
    val how = args.lift(2)
    args(0).split(",").foreach { dir =>
      names.foreach { name =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        if (how.contains("explain")) df.explain("formatted")
        val tBuilt = System.nanoTime()
        val n = how match {
          case Some("noop") => noop(df); -1L
          // execute THIS QueryExecution (not a separate noop write's), so
          // the AQE plan printed below is the FINAL one with its codegen
          // `*(n)` spans; toRdd.count() finalizes it without collecting the
          // result set to the driver
          case Some("execplan") => df.queryExecution.toRdd.count()
          case _ => df.count()
        }
        val tDone = System.nanoTime()
        if (how.contains("execplan")) // outside the timed window: stringifying a big plan is not exec time
          println(df.queryExecution.executedPlan.toString.take(30000))
        println(f"[probe] $dir $name rows=$n build=${(tBuilt - t0) / 1e9}%.3f s " +
          f"exec=${(tDone - tBuilt) / 1e9}%.3f s")
      }
    }
  }

  /** The per-query serve split into the stages `searchSlim` composes, each
    * called from the engine itself, in its order. The rerank's lookup shape
    * collects the approximate prefix while the rerank plan is built, so
    * `approxExec+collect` is that call and `rerank` is the final noop
    * write. */
  private def serve(spark: SparkSession, args: Seq[String]): Unit = {
    val name = args.headOption.getOrElse("v3")
    val s = shape(Some(name), ReleaseShape.V3)
    val passes = args.lift(1).fold(3)(_.toInt)
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    val vectors = ReleaseShape.vectors(spark, idx.dir)
    val slim = idx.slim
    val phases = Seq("walk", "slices", "tables", "approxPlan", "approxExec+collect", "rerank")
    (1 to passes).foreach { pass =>
      val ms = new Array[Double](phases.size)
      def lap[A](phase: Int)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        ms(phase) += (System.nanoTime() - t0) / 1e6
        r
      }
      val t0 = System.nanoTime()
      (0 until 5).foreach { q =>
        val query = ReleaseShape.rowVecFor(s, q.toLong * 997L)
        val (aq, cells) = lap(0) {
          val aq = idx.pca.map(_.apply(query)).getOrElse(query)
          val (d0, d1) = slim.coarseDistances(aq)
          (aq, LopqSearcher.selectCellsFrom(slim.v, d0, d1, ReleaseShape.Quota, idx.cellCounts))
        }
        val rot = lap(1)(idx.rotations.slices(RotationSource.keysOf(cells, slim.v)))
        val tables = lap(2)(LopqSearcher.parTables(cells,
          cc => slim.adcTables(aq, cc, (sp, c) => rot((sp, c))), slim.v))
        val approx = lap(3)(LopqSearcher.approxOverCells(idx.codes, cells, tables,
          ReleaseShape.RerankK, idx.cellBuckets))
        val reranked = lap(4)(LopqSearcher.rerankExact(approx, vectors, "vec_id",
          "embedding", query, ReleaseShape.TopK, RerankShape.Auto))
        lap(5)(noop(reranked))
      }
      println(f"[serve-breakdown] $name pass=$pass total=${(System.nanoTime() - t0) / 1e9}%.3fs " +
        phases.zip(ms).map { case (p, v) => f"$p=$v%.0fms" }.mkString(" "))
    }
    // reference row: the real searchSlim, same 5 queries
    (1 to passes).foreach { pass =>
      val t0 = System.nanoTime()
      (0 until 5).foreach(q => noop(ReleaseShape.searchSlim(spark, s, idx, q.toLong * 997L)))
      println(f"[serve-breakdown] $name searchSlim pass=$pass " +
        f"total=${(System.nanoTime() - t0) / 1e9}%.3fs")
    }
  }

  private def annjoin(spark: SparkSession, args: Seq[String]): Unit = {
    val s = shape(args.headOption, ReleaseShape.V2)
    val n = args.lift(1).fold(1000)(_.toInt)
    val passes = args.lift(2).fold(3)(_.toInt)
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    var lastDf: DataFrame = null
    (1 to passes).foreach { pass =>
      println(s"--- fused pass $pass (n=$n) ---")
      timed("probe-fused", "TOTAL") {
        census(spark, "probe-fused") {
          lastDf = ReleaseShape.annJoinFor(spark, s, idx, n)
          noop(lastDf)
        }
      }
      if (pass == 1)
        LopqSearcher.lastPlanNotes(spark).toSeq.sorted.foreach {
          case (k, v) => println(f"[probe-fused]   regime $k%-18s = $v")
        }
      if (pass < passes)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    if (sys.env.contains("PROBE_EXPLAIN"))
      println(lastDf.queryExecution.executedPlan.toString.take(20000))
  }

  /** Is a table's scan already at its parquet decode floor? Used to test
    * whether a rerank that streams most of its lookup store can gain from
    * any layout change: if a bare scan costs the same CPU, it cannot. */
  private def scanFloor(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.nonEmpty, "usage: scanfloor <parquetDir> [passes]")
    val dir = args.head
    val passes = args.lift(1).fold(3)(_.toInt)
    graft.core.SessionDefaults(spark) // the engine's scan splits, like every consumer
    val df = spark.read.parquet(dir)
    (1 to passes).foreach { pass =>
      val c0 = DiskStats.selfCpuJiffies()
      timed("scan-floor", s"$dir pass=$pass",
        f"  selfCpu=${(DiskStats.selfCpuJiffies() - c0) / 100.0}%.1f s")(noop(df))
    }
  }

  /** Is the batch join's many-thousand-literal cell IN-list on the codes
    * scan worth its per-row cost when it prunes almost nothing? Past
    * [[LopqSearcher.MaxStackSafeInPushdown]] literals the list stays
    * Catalyst-side (InSet, no row-group pruning) here exactly as in the
    * production plan. */
  private def cellFilter(spark: SparkSession, args: Seq[String]): Unit = {
    val s = shape(args.headOption, ReleaseShape.V3)
    val n = args.lift(1).fold(1000)(_.toInt)
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    // the batch's visited-cell union, exactly as annJoin computes it
    val slim = idx.slim
    val hist = idx.cellCounts
    val union = (0 until n).iterator.flatMap { q =>
      val raw = ReleaseShape.rowVecFor(s, q.toLong)
      val aq = idx.pca.map(_.apply(raw)).getOrElse(raw)
      val (d0, d1) = slim.coarseDistances(aq)
      hist.selectCells(slim.v, d0, d1, ReleaseShape.Quota)
    }.toArray.distinct.sorted
    val rowsInUnion = union.iterator.map(c => hist.countOf(c)).sum
    println(s"[cellfilter] unionCells=${union.length} rowsInUnion=$rowsInUnion")
    def passes(label: String, df: DataFrame): Unit =
      (1 to 3).foreach(p => timed("cellfilter", s"$label pass=$p")(noop(df)))
    val cells = scala.collection.immutable.ArraySeq.unsafeWrapArray(union)
    passes("unfiltered ", idx.codes)
    passes("bucketOnly ", idx.codes.where(
      col("cell_bucket").isin(cells.map(_ % idx.cellBuckets).distinct: _*)))
    passes("full INSET ", idx.codes.where(
      LopqIndexStore.cellFilter(cells, idx.cellBuckets)))
  }

  /** The text rows' fused expressions (`graft_shingle_hashes`,
    * `graft_quality_score`, `graft_minhash`) sit upstream of
    * `localCheckpoint` pins, so the catalog queries' own plans show
    * `Scan ExistingRDD` where the work happens; these are the fragments'
    * plans before any pin. */
  private def fragments(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.nonEmpty, "usage: fragments <sfDir>")
    val sfDir = args.head
    val docs = graft.ops.Tables(spark, sfDir, "documents")
      .repartition(col("doc_id")) // the catalog queries' docs() shape
    val p = graft.ops.TextOps.lshParams(spark)
    val sigs = graft.ops.TextOps.minhashSigsOf(docs, p)
    println("== fragment: minhash_sigs (pre-checkpoint) ==")
    sigs.explain("formatted")
    println("== fragment: band_rows over un-checkpointed sigs ==")
    graft.ops.TextOps.bandRowsOf(sigs, p).explain("formatted")
    println("== fragment: simhash_sigs (pre-checkpoint) ==")
    graft.ops.TextOps.simhashSigsOf(docs, 32).explain("formatted")
  }
}
