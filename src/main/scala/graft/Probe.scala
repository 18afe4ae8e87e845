package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

import graft.core.DiskStats
import graft.engine.{AnnJoinPlan, LopqIndexStore, LopqSearcher, ReleaseShape, ReleaseShapeDef,
  RotationSource}

/** The dev probe harness, and the small probes as its modes.
  *
  * Harness, shared by every probe main ([[ProbeRelease]], [[ProbeTextDedup]],
  * [[BuildRelease]], [[MaintainRelease]]): [[session]] is the one probe
  * session, [[confArgs]] applies `conf:key=value` args, [[timed]] times a
  * block with its machine read-bytes, [[shape]] resolves a release-shape
  * name, and [[census]] prints the Spark jobs and stages a block runs
  * ([[tally]] also returns them, with the files its scans read).
  *
  * Usage: `runMain graft.Probe <mode> … [conf:key=value …]`
  *   - `query <sfDir[,…]> <query[,…]> [explain|noop|execplan]` — plan-build
  *     and execution time of catalog queries. `noop` materializes every
  *     column through the noop sink (what Bench times) instead of a count
  *     Catalyst can prune; `execplan` prints the EXECUTED plan afterwards,
  *     the only dump that shows the final WholeStageCodegen `*(n)` spans.
  *   - `serve [v1..v4] [passes] [dir:<indexDir>]` — per-phase wall and
  *     Spark jobs of the per-query slim serve (`searchSlim`), 5 queries
  *     per pass: the engine's own stages timed in order (cell walk,
  *     rotation slices, ADC tables, approx plan with its table broadcast,
  *     approx execution + prefix collect, rerank, with the files its scan
  *     read), then the real `searchSlim` on the same queries as a
  *     reference row. Defaults to `v1`, the shape the benchmark fixture
  *     holds (`GRAFT_INDEX_ROOT=.bench_build/perfbench/index`).
  *   - `annjoin [v1..v4] [n] [passes] [force:<decision>=<value> …]` —
  *     per-job and per-stage census of the real batch `annJoin` over `n`
  *     probes, its TOTAL per pass and the plan of pass 1
  *     (`PROBE_EXPLAIN=1` dumps the executed plan). Each `force:` arg
  *     overrides one decision of the chosen plan ([[AnnJoinDecisions]], e.g.
  *     `force:shipMode=projection`); an unknown decision or value fails.
  *   - `ingest [v1..v4] [dir:<indexDir>] [text:<textStoreDir>] [cycles]` —
  *     Spark jobs and wall per phase of screened update cycles, each on a
  *     fresh clone of the index (and of the text store, when given): the
  *     screened 1000-vector append (`vec`), the screened 300-doc append
  *     (`doc`), the reload (`load`) and two searches (`reads`); cycle 1 lists
  *     every phase's job labels. The batch plants near-duplicates of rows
  *     `[0, n)` of the index's `n` rows; the screen's feature store is the
  *     index's staged `vectors/`, else the shape's. Against the benchmark
  *     fixture: `GRAFT_INDEX_ROOT=.bench_build/perfbench/index … ingest v1
  *     dir:.bench_build/perfbench/ingest_base/index
  *     text:.bench_build/perfbench/ingest_base/text 3`.
  *   - `scanfloor <parquetDir> [passes]` — the bare decode floor of a table:
  *     a noop materialization of every column, with this JVM's CPU.
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
  *   ProbeCellFilterCost v3 1000              →  Probe annjoin v3 1000 3 force:cellsPushed=true|false
  *   Probe cellfilter v3 1000                 →  Probe annjoin v3 1000 3 force:cellsPushed=true|false
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
    * arg without a key and `=`, or one naming a removed
    * `spark.graft.annjoin.*` key, fails before any conf is set. */
  def confArgs(spark: SparkSession, args: Seq[String],
      tag: String = "probe"): Array[String] = {
    val (confs, rest) = args.partition(_.startsWith("conf:"))
    confs.map { a =>
      a.stripPrefix("conf:").split("=", 2) match {
        case Array(k, _) if k.matches("""spark\.graft\.annjoin\..*""") =>
          throw new IllegalArgumentException(s"$a: the spark.graft.annjoin.* keys " +
            "are gone; the annJoin gates derive from spark.driver.maxResultSize, set " +
            "at session build (as `ProbeRelease dedup` does; `ProbeRelease <mode> " +
            "maxResultSize:<size>`), and `Probe annjoin` takes " +
            "force:<decision>=<value> args")
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

  /** Every annJoin decision a `force:` arg may set, with its values. */
  val AnnJoinDecisions: Seq[(String, Seq[String])] = {
    def names(e: Enumeration) = e.values.toSeq.map(_.toString)
    val bools = Seq("true", "false")
    Seq("shipMode" -> names(AnnJoinPlan.Ship), "cellsPushed" -> bools, "balanced" -> bools,
      "qsideBroadcast" -> bools, "rerankMode" -> names(AnnJoinPlan.Rerank),
      "exactShape" -> names(AnnJoinPlan.Exact))
  }

  /** The force function for `<decision>=<value>` assignments (e.g.
    * `shipMode=projection`), applied to the chosen plan by
    * [[LopqSearcher.annJoinPlanned]]; a malformed assignment, or an unknown
    * decision or value, fails with the valid ones. */
  def annJoinForce(assignments: Seq[String]): AnnJoinPlan => AnnJoinPlan =
    assignments.map { a =>
      val (name, value) = a.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => throw new IllegalArgumentException(
          s"bad annJoin force (want <decision>=<value>): $a")
      }
      val valid = AnnJoinDecisions.collectFirst { case (`name`, vs) => vs }.getOrElse(
        throw new IllegalArgumentException(s"unknown annJoin decision '$name' " +
          s"(want one of ${AnnJoinDecisions.map(_._1).mkString("|")})"))
      require(valid.contains(value), s"unknown value '$value' for annJoin decision " +
        s"$name (want one of ${valid.mkString("|")})")
      (p: AnnJoinPlan) => name match {
        case "shipMode" => p.copy(shipMode = AnnJoinPlan.Ship.withName(value))
        case "cellsPushed" => p.copy(cellsPushed = value.toBoolean)
        case "balanced" => p.copy(balanced = value.toBoolean)
        case "qsideBroadcast" => p.copy(qsideBroadcast = value.toBoolean)
        case "rerankMode" => p.copy(rerankMode = AnnJoinPlan.Rerank.withName(value))
        case _ => p.copy(exactShape = AnnJoinPlan.Exact.withName(value))
      }
    }.foldLeft(identity[AnnJoinPlan] _)(_ andThen _)

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

  /** What a [[census]] saw: the labels of the jobs its body started, in
    * start order, and the files its parquet scans read (their `numFiles`
    * metrics). */
  final case class Tally(jobs: Seq[String], filesRead: Long)

  /** Runs `body` with a listener that prints, under `[tag]`, every Spark
    * job's wall time and every stage over 100 ms (tasks, executor CPU and
    * run time, records read and shuffled); `quiet` prints nothing. Returns
    * the body's value and its [[Tally]]. The listener is removed, after
    * the listener bus has delivered the body's events, when `body` returns.
    * Lines go to the caller's `Console.out`, not the listener thread's. */
  def tally[A](spark: SparkSession, tag: String, quiet: Boolean = false)(body: => A): (A, Tally) = {
    val out = Console.out
    def say(line: String): Unit = if (!quiet) out.println(line)
    val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sqlDescriptions = new ConcurrentHashMap[Long, String]()
    // the scans' `numFiles` accumulators, and their last posted values
    val fileMetrics = ConcurrentHashMap.newKeySet[Long]()
    val filesRead = new ConcurrentHashMap[Long, Long]()
    def scanMetrics(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan parquet"))
        p.metrics.filter(_.name == "number of files read").foreach(m => fileMetrics.add(m.accumulatorId))
      p.children.foreach(scanMetrics)
    }
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sqlDescriptions.put(x.executionId, x.description)
          scanMetrics(x.sparkPlanInfo)
        case x: SparkListenerSQLAdaptiveExecutionUpdate => scanMetrics(x.sparkPlanInfo)
        case x: SparkListenerDriverAccumUpdates =>
          x.accumUpdates.foreach { case (id, v) => if (fileMetrics.contains(id)) filesRead.put(id, v) }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val label = jobLabel(e, sqlDescriptions).take(90)
        labels.add(label)
        jobStarts.put(e.jobId, (System.nanoTime(), label))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobStarts.remove(e.jobId)
        if (st != null)
          say(f"[$tag]   job ${e.jobId}%3d ${(System.nanoTime() - st._1) / 1e6}%9.1f ms  ${st._2}")
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        val tm = si.taskMetrics
        if (wall > 100)
          say(f"[$tag]     stage ${si.stageId}%3d ${wall}%7d ms  tasks=${si.numTasks}%3d" +
            f"  cpu=${tm.executorCpuTime / 1000000}%6d ms run=${tm.executorRunTime}%6d ms" +
            f"  in=${tm.inputMetrics.recordsRead}%9d sw=${tm.shuffleWriteMetrics.recordsWritten}%8d" +
            f" sr=${tm.shuffleReadMetrics.recordsRead}%8d  ${si.name.take(60)}")
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val r = try body
    finally {
      try GraftBridge.drainListenerBus(sc) // times out (throws) after 10 s
      finally sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    (r, Tally(labels.asScala.toSeq, filesRead.values.asScala.map(_.toLong).sum))
  }

  /** [[tally]], printing, returning only the body's value. */
  def census[A](spark: SparkSession, tag: String)(body: => A): A = tally(spark, tag)(body)._1

  /** Materializes every column of `df` through the noop sink (what Bench
    * times). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // --------------------------------------------------------------- modes

  private val Modes: Map[String, (String, (SparkSession, Seq[String]) => Unit)] = Map(
    "query" -> ("probe", query _),
    "serve" -> ("serve-breakdown", serve _),
    "annjoin" -> ("probe-fused", annjoin _),
    "ingest" -> ("probe-ingest", ingest _),
    "scanfloor" -> ("scan-floor", scanFloor _),
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
    * called from the engine itself, in its order. The rerank collects the
    * approximate prefix while the rerank plan is built, so
    * `approxExec+collect` is that call and `rerank` is the final noop
    * write. Each phase reports its wall and the Spark jobs it ran
    * (`…ms/<n>j`), the rerank also the files its scan read; pass 1 lists
    * every phase's job labels for its first query. `dir:<indexDir>` serves
    * the index there instead of the shape's under `GRAFT_INDEX_ROOT` (the
    * queries stay the shape's rows). */
  private def serve(spark: SparkSession, allArgs: Seq[String]): Unit = {
    val (dirArgs, args) = allArgs.partition(_.startsWith("dir:"))
    val name = args.headOption.getOrElse("v1")
    val s = shape(Some(name), ReleaseShape.V1)
    val passes = args.lift(1).fold(3)(_.toInt)
    val dir = dirArgs.headOption.fold(s.dir)(_.stripPrefix("dir:"))
    val idx = LopqIndexStore.loadSlim(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no index under $dir"))
    val vectors = ReleaseShape.vectors(spark, idx.dir)
    val slim = idx.slim
    val queries = 5
    val phases = Seq("walk", "slices", "tables", "approxPlan", "approxExec+collect", "rerank")
    (1 to passes).foreach { pass =>
      val ms = new Array[Double](phases.size)
      val jobs = new Array[Int](phases.size)
      var rerankFiles = 0L
      def lap[A](phase: Int, q: Int)(body: => A): A = {
        val (r, t) = tally(spark, "serve-breakdown", quiet = true) {
          val t0 = System.nanoTime()
          val r = body
          ms(phase) += (System.nanoTime() - t0) / 1e6
          r
        }
        jobs(phase) += t.jobs.size
        if (phase == 5) rerankFiles += t.filesRead
        if (pass == 1 && q == 0)
          t.jobs.foreach(l => println(s"[serve-breakdown]   ${phases(phase)} job: $l"))
        r
      }
      val t0 = System.nanoTime()
      (0 until queries).foreach { q =>
        val query = ReleaseShape.rowVecFor(s, q.toLong * 997L)
        val (aq, cells) = lap(0, q) {
          val aq = idx.pca.map(_.apply(query)).getOrElse(query)
          val (d0, d1) = slim.coarseDistances(aq)
          (aq, LopqSearcher.selectCellsFrom(slim.v, d0, d1, ReleaseShape.Quota, idx.cellCounts))
        }
        val rot = lap(1, q)(idx.rotations.slices(RotationSource.keysOf(cells, slim.v)))
        val tables = lap(2, q)(LopqSearcher.parTables(cells,
          cc => slim.adcTables(aq, cc, (sp, c) => rot((sp, c))), slim.v))
        val (approx, tablesB) = lap(3, q)(LopqSearcher.approxOverCells(idx.codes, cells, tables,
          ReleaseShape.RerankK, idx.cellBuckets))
        val reranked = lap(4, q)(LopqSearcher.rerankExact(approx, vectors, "vec_id",
          "embedding", query, ReleaseShape.TopK, prefixCollected = () => tablesB.destroy()))
        lap(5, q)(noop(reranked))
      }
      println(f"[serve-breakdown] $name pass=$pass total=${(System.nanoTime() - t0) / 1e9}%.3fs " +
        phases.indices.map(p => f"${phases(p)}=${ms(p)}%.0fms/${jobs(p)}j").mkString(" ") +
        f" rerankFiles/q=${rerankFiles.toDouble / queries}%.1f of ${vectors.inputFiles.length}")
    }
    // reference row: the real searchSlim, same queries
    (1 to passes).foreach { pass =>
      val t0 = System.nanoTime()
      val (_, t) = tally(spark, "serve-breakdown", quiet = true) {
        (0 until queries).foreach { q =>
          noop(LopqSearcher.searchSlim(idx, vectors, "vec_id", "embedding",
            ReleaseShape.rowVecFor(s, q.toLong * 997L), ReleaseShape.Quota, ReleaseShape.TopK,
            ReleaseShape.RerankK))
        }
      }
      println(f"[serve-breakdown] $name searchSlim pass=$pass " +
        f"total=${(System.nanoTime() - t0) / 1e9}%.3fs jobs/q=${t.jobs.size.toDouble / queries}%.1f " +
        f"files/q=${t.filesRead.toDouble / queries}%.1f")
    }
  }

  private def annjoin(spark: SparkSession, allArgs: Seq[String]): Unit = {
    val (forces, args) = allArgs.partition(_.startsWith("force:"))
    val force = annJoinForce(forces.map(_.stripPrefix("force:")))
    val s = shape(args.headOption, ReleaseShape.V2)
    val n = args.lift(1).fold(1000)(_.toInt)
    val passes = args.lift(2).fold(3)(_.toInt)
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    var lastDf: DataFrame = null
    (1 to passes).foreach { pass =>
      println(s"--- fused pass $pass (n=$n) ---")
      timed("probe-fused", "TOTAL") {
        census(spark, "probe-fused") {
          lastDf = ReleaseShape.annJoinFor(spark, s, idx, n, force)
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

  /** Screened update cycles on clones of `dir:` (see the mode list). */
  private def ingest(spark: SparkSession, allArgs: Seq[String]): Unit = {
    import spark.implicits._
    def opt(key: String) = allArgs.find(_.startsWith(key)).map(_.stripPrefix(key))
    val args = allArgs.filterNot(a => a.startsWith("dir:") || a.startsWith("text:"))
    val name = args.find(isShapeArg).getOrElse("v1")
    val s = shape(Some(name), ReleaseShape.V1)
    val cycles = args.filterNot(isShapeArg).headOption.fold(3)(_.toInt)
    val src = opt("dir:").getOrElse(s.dir)
    val textSrc = opt("text:")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    val vectors = ReleaseShape.vectors(spark,
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$src/vectors"))) src else s.dir)
    val work = s"${System.getProperty("java.io.tmpdir")}/graft-probe-ingest"
    val (dir, textDir) = (s"$work/index", s"$work/text")
    def cloneTo(from: String, to: String): Unit = {
      val dst = new org.apache.hadoop.fs.Path(to)
      if (fs.exists(dst)) fs.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(from), fs, dst,
        false, conf)
      ()
    }
    val n = LopqIndexStore.readCodes(spark, src).count()
    val stored = textSrc.map(t => graft.ops.TextSigStore.textStore(spark, t)
      .select("text").limit(100).as[String].collect())
    val phases = Seq("vec", "doc", "load", "reads")
    try (1 to cycles).foreach { c =>
      cloneTo(src, dir)
      textSrc.foreach(cloneTo(_, textDir))
      LopqIndexStore.evictModel(dir)
      val r = new java.util.Random(31L * c)
      // 2 in 10 rows near-duplicate an indexed row, the rest are fresh
      val batch = (0 until 1000).map { j =>
        val v =
          if (j % 10 < 2) ReleaseShape.rowVecFor(s, math.floorMod(r.nextLong(), n))
            .map(x => x + 0.05f * r.nextGaussian().toFloat)
          else Array.fill(s.rawDim)(4f * r.nextGaussian().toFloat)
        (10000000L + j, v.toSeq)
      }.toDF("vec_id", "embedding")
      // 3 in 10 docs repeat a stored text, the rest are fresh word lists
      val docs = stored.map(texts => (0 until 300).map { j =>
        val text =
          if (j % 10 < 3 && texts.nonEmpty) texts(r.nextInt(texts.length))
          else Seq.fill(40)(s"w${r.nextInt(5000)}").mkString(" ")
        (1000000L + j, text)
      }.toDF("doc_id", "text"))
      val uid = f"upd-probe-$c%06d"
      val ms = new Array[Double](phases.size)
      val jobs = new Array[Int](phases.size)
      def lap[A](phase: Int)(body: => A): A = {
        val t0 = System.nanoTime()
        val (out, t) = tally(spark, "probe-ingest", quiet = true)(body)
        ms(phase) = (System.nanoTime() - t0) / 1e6
        jobs(phase) = t.jobs.size
        if (c == 1) t.jobs.groupBy(identity).toSeq.sortBy(-_._2.size).foreach { case (l, ls) =>
          println(f"[probe-ingest]   ${phases(phase)} ${ls.size}%2d x $l")
        }
        out
      }
      val vrep = lap(0)(graft.ops.IngestOps.screenAndAppend(spark, dir, vectors, batch,
        "vec_id", "embedding", uid))
      val trep = docs.map(d => lap(1)(graft.ops.TextScreen.screenAndAppend(spark, textDir,
        graft.ops.TextSigStore.textStore(spark, textDir), d, uid, storeTexts = true)))
      val h = lap(2)(LopqIndexStore.loadSlim(spark, dir).get)
      lap(3) {
        val idx = graft.engine.AnnIndexes.lopqSlim(h, vectors, "vec_id", "embedding",
          ReleaseShape.Quota, ReleaseShape.RerankK)
        (0 until 2).foreach(q => idx.search(ReleaseShape.rowVecFor(s, q * 997L),
          ReleaseShape.TopK).collect())
      }
      println(s"[probe-ingest] $name cycle=$c " +
        phases.indices.filter(p => p != 1 || docs.nonEmpty)
          .map(p => f"${phases(p)}=${ms(p)}%.0fms/${jobs(p)}j").mkString(" ") +
        s" vec=$vrep" + trep.fold("")(t => s" doc=$t"))
    } finally { fs.delete(new org.apache.hadoop.fs.Path(work), true); () }
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
