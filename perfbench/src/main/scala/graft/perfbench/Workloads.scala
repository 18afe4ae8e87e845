package graft.perfbench

import java.util.concurrent.{Callable, Executors, Semaphore, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{AnnIndex, AnnIndexes, LopqIndexStore, LopqSearcher, LopqSlimIndex, ReleaseShape}
import graft.ops.{IngestOps, SideStoreFold, TextScreen, TextSigStore}

/** One operation of a measured window. A failed one keeps the time until
  * it failed, so it counts as a miss in the percentiles. */
final case class Op(ms: Double, ok: Boolean, traced: Boolean)

/** What a workload hands back: its set-up times, the operations of its
  * window, the sequential reads it timed, its gates, its own per-layer
  * figures and any plan notes. */
final case class Measured(
    setupS: Seq[Double],
    ops: Seq[Op],
    rowsPerS: Double,
    recallAt10: Double,
    readMs: Seq[Double],
    storedBytesPerRow: Double,
    gates: Seq[(String, Boolean)],
    layer: Map[String, Double] = Map.empty,
    notes: Map[String, String] = Map.empty) {
  def attempted: Long = ops.size.toLong
  def failed: Long = ops.count(!_.ok).toLong + gates.count(!_._2)
  def untracedMs: Seq[Double] = ops.filterNot(_.traced).map(_.ms)
  def tracedMs: Seq[Double] = ops.filter(_.traced).map(_.ms)
}

/** One run's context. The session is replaced by each set-up repeat. */
final class RunCtx(val work: String, val sources: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val serveRate: Double) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  val fixture: Fixture = Fixture.open(work, sources)

  /** A traced run measures `seconds` untraced, then `seconds` traced. */
  def windowSeconds: Double = if (traced) 2 * seconds else seconds

  /** Called before each operation of the window: switches tracing on once
    * the untraced half of a traced run is over. Returns whether the next
    * operation is traced. */
  var onTraceStart: () => Unit = () => ()
  def tracingAt(elapsedS: Double): Boolean = {
    if (traced && !tracer.enabled && elapsedS >= seconds) {
      onTraceStart()
      tracer.enabled = true
    }
    tracer.enabled
  }

  /** A fresh session (stopping the previous one). */
  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = Harness.session(work)
    tracer = new Tracer(spark.sparkContext)
    spark
  }
}

object Workloads {
  val Quota: Int = ReleaseShape.Quota
  val TopK: Int = ReleaseShape.TopK
  val RerankK: Int = ReleaseShape.RerankK

  /** Set-up repeats per run; `setup_s` is their median. */
  val SetupRepeats = 3
  /** Evaluation queries each serve set-up warms up on (all in flight at
    * once; the recall sample is all set-ups' queries), and the sequential
    * reads a traced serve run times. */
  val EvalPerSetup = 4
  val Reads = 4

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `setup(session, repeat)` [[SetupRepeats]] times, each on a fresh
    * session; return the seconds of each and the last one's state. The
    * benchmark's own file work (page-cache warming, copies) happens before
    * this, outside the timers. */
  def repeatedSetup[S](ctx: RunCtx)(setup: (SparkSession, Int) => S): (Seq[Double], S) = {
    var state: Option[S] = None
    val times = (0 until SetupRepeats).map { r =>
      val t0 = Harness.now()
      val spark = ctx.newSession()
      state = Some(setup(spark, r))
      Harness.secondsSince(t0)
    }
    (times, state.get)
  }

  /** Bytes of an index's codes store (codes, delta log, counts, manifest,
    * tip) per indexed row. */
  def storedBytesPerRow(dir: String, rows: Long): Double =
    Fixture.bytesUnder(dir, Set("model", "model.pb", "meta.json", "vectors")).toDouble /
      math.max(1L, rows)

  /** Run `tasks` at most nproc at a time; results in order. */
  def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(Harness.Cores)
    try tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() })).map(_.get())
    finally { pool.shutdownNow(); () }
  }

  /** One sequential slim search, collected: ((id, distance) by rank, ms). */
  def readTop(idx: AnnIndex, q: Array[Float]): (Seq[(Long, Double)], Double) = {
    val t0 = Harness.now()
    val rows = idx.search(q, TopK).collect()
    val ms = Harness.msSince(t0)
    (rows.map(r => (r.getLong(0), r.getDouble(1))).sortBy(x => (x._2, x._1)).toSeq, ms)
  }

  /** Recall@10 of the evaluation queries' results against brute force over
    * rows `[0, n)`, and the read gates: every read returns a full top-k
    * page, and ranks the query's source row (its planted true neighbour)
    * first. */
  def evaluate(ctx: RunCtx, qs: Seq[(Long, Array[Float])], pages: Seq[Seq[(Long, Double)]],
      n: Long): (Double, Seq[(String, Boolean)]) = {
    val found = pages.map(_.map(_._1))
    val truth = Exact.topKCached(ctx.work, ctx.sources, qs.map(_._2), n, 10)
    val recalls = found.zip(truth).map { case (ids, t) => Exact.recall(ids.take(10), t) }
    (recalls.sum / recalls.size, Seq(
      "read.full_top_k" -> found.forall(_.size == TopK),
      "read.source_ranked_first" -> found.zip(qs).forall { case (ids, (src, _)) =>
        ids.headOption.contains(src) }))
  }

  // ---------------------------------------------------------------- serve

  /** Open loop at `ctx.serveRate` requests/s, uniform arrivals, at most
    * nproc requests in flight. Each request is the release-constant slim
    * search, materialized through a `noop` write, timed from when it was
    * due. `rows_per_s` is the result rows of the answered requests over
    * their summed latency. */
  def serve(ctx: RunCtx): Measured = {
    val f = ctx.fixture
    val qs = (0 until EvalPerSetup * SetupRepeats).map(j => Inputs.evalQuery(j, Fixture.Shape.n))
    val found = mutable.ArrayBuffer.empty[Seq[(Long, Double)]]
    Fixture.warmPageCache(f.indexDir)
    val (setupS, (h, idx)) = repeatedSetup(ctx) { (spark, r) =>
      val h = LopqIndexStore.loadSlim(spark, f.indexDir).get
      val idx = AnnIndexes.lopqSlim(h, ReleaseShape.vectors(spark, f.indexDir),
        "vec_id", "embedding", Quota, RerankK)
      found ++= concurrently(qs.slice(r * EvalPerSetup, (r + 1) * EvalPerSetup)
        .map(q => () => readTop(idx, q._2)._1))
      (h, idx)
    }
    val tr = ctx.tracer
    // a traced run also times sequential reads of queries no cache has seen
    val readMs =
      if (!ctx.traced) Nil
      else (1 to Reads).map(j => tr.op("read.search")(readTop(idx, Inputs.serveQuery(ctx.seed, -j))._2))
    val window = openLoop(ctx, ctx.serveRate) { i =>
      val q = Inputs.serveQuery(ctx.seed, i)
      tr.op("serve.request") {
        val df = tr.span("LopqSearcher.search")(idx.search(q, TopK))
        tr.span("action.noop")(noop(df))
      }
    }
    val (recall, readGates) = evaluate(ctx, qs, found.toSeq, Fixture.Shape.n)
    val answered = window.ops.filter(o => o.ok && !o.traced)
    Measured(setupS, window.ops,
      TopK * answered.size / math.max(1e-9, answered.map(_.ms).sum / 1000), recall, readMs,
      storedBytesPerRow(f.indexDir, h.cellCounts.total),
      readGates :+ ("serve.annjoin_equals_looped_search" -> annJoinMatches(ctx, h,
        new scala.util.Random(ctx.seed).shuffle(qs.indices.toList).take(AnnJoinChecked)
          .map(j => (qs(j)._2, found(j))))),
      Map("serve.generator_lag_p90_ms" -> Harness.percentile(window.lagMs, 90)),
      LopqSearcher.lastPlanNotes(ctx.spark))
  }

  /** Evaluation queries the annJoin gate re-runs as one batch. */
  val AnnJoinChecked = 4

  /** `checked` (query, its looped per-query search page) as one
    * `LopqSearcher.annJoin` batch on the served handle, after the window:
    * each query's rows must equal its looped search, bit for bit. */
  def annJoinMatches(ctx: RunCtx, h: LopqSlimIndex,
      checked: Seq[(Array[Float], Seq[(Long, Double)])]): Boolean = {
    val spark = ctx.spark
    import spark.implicits._
    try {
      val probes = checked.zipWithIndex.map { case ((v, _), j) => (j.toLong, v.toSeq) }
        .toDF("q_id", "q_vec")
      val rows = LopqSearcher.annJoin(h, probes, "q_id", "q_vec",
        ReleaseShape.vectors(spark, ctx.fixture.indexDir), "vec_id", "embedding",
        Quota, TopK, RerankK).collect()
      val byQ = rows.groupBy(_.getAs[Long]("q_id")).view.mapValues(_.toSeq
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("exact_dist"))).sortBy(x => (x._2, x._1)))
      checked.indices.forall(j => byQ.getOrElse(j.toLong, Nil) == checked(j)._2)
    } catch { case e: Exception =>
      System.err.println(s"perfbench: annJoin gate failed: $e"); false }
  }

  final case class Window(ops: Seq[Op], lagMs: Seq[Double])

  /** Issue `request(i)` at `rate`/s for the run's window, at most nproc in
    * flight. Latency runs from when a request was due; a request that fails
    * or has not ended 60 s after the window is a miss. */
  def openLoop(ctx: RunCtx, rate: Double)(request: Long => Unit): Window = {
    val cores = Harness.Cores
    val pool = Executors.newFixedThreadPool(cores)
    val permits = new Semaphore(cores)
    val ended = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Boolean)]()
    val issued = mutable.ArrayBuffer.empty[(Long, Boolean)] // (due, traced)
    val lag = mutable.ArrayBuffer.empty[Double]
    val start = Harness.now() + 50000000L
    val windowNs = (ctx.windowSeconds * 1e9).toLong
    var due = start
    try {
      while (due - start < windowNs) {
        val wait = due - Harness.now()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val i = issued.size.toLong
        issued += ((due, ctx.tracingAt((due - start) / 1e9)))
        permits.acquire()
        lag += (Harness.now() - due) / 1e6
        pool.submit(new Callable[Unit] {
          def call(): Unit =
            try { request(i); ended.put(i, (Harness.now(), true)); () }
            catch {
              case e: Throwable =>
                ended.put(i, (Harness.now(), false))
                System.err.println(s"perfbench: request $i failed: $e")
            } finally permits.release()
        })
        due = start + ((i + 1) * 1e9 / rate).toLong
      }
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    } finally { pool.shutdownNow(); () }
    val gaveUp = Harness.now()
    val ops = issued.zipWithIndex.map { case ((d, traced), i) =>
      val (end, ok) = Option(ended.get(i.toLong)).getOrElse((gaveUp, false))
      Op((end - d) / 1e6, ok, traced)
    }.toSeq
    Window(ops, lag.toSeq)
  }

  /** Closed loop over the run's window: `prepare(i)` (untimed), then
    * `op(prepared)` (timed), then `check(prepared, result)` (untimed, its
    * gates). At least one operation runs, and in a traced run at least one
    * on each side. A throwing operation is a failed one; a throwing check
    * is a failed gate. */
  def closedLoop[P, A](ctx: RunCtx, name: String)(prepare: Long => P)(op: P => A)(
      check: (P, A) => Seq[(String, Boolean)]): (Seq[Op], Seq[(String, Boolean)]) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val gates = mutable.ArrayBuffer.empty[(String, Boolean)]
    val t0 = Harness.now()
    while (ops.isEmpty || Harness.secondsSince(t0) < ctx.windowSeconds ||
        (ctx.traced && !ctx.tracer.enabled)) {
      val traced = ctx.tracingAt(Harness.secondsSince(t0))
      val p = prepare(ops.size.toLong)
      val o0 = Harness.now()
      val result =
        try Some(ctx.tracer.op(name)(op(p)))
        catch { case e: Throwable =>
          System.err.println(s"perfbench: $name ${ops.size} failed: $e"); None }
      ops += Op(Harness.msSince(o0), result.isDefined, traced)
      result.foreach { a =>
        gates ++= (try check(p, a) catch { case e: Throwable =>
          System.err.println(s"perfbench: $name ${ops.size - 1} check failed: $e")
          Seq(s"$name.check" -> false) })
      }
    }
    (ops.toSeq, gates.toSeq)
  }

  // -------------------------------------------------------------- ingest

  val BatchRows = 1000
  val BatchDupsPer10 = 2
  val DocRows = 300
  val DocDupsPer10 = 3
  val CycleReads = 2
  val FirstBatchId = 10000000L
  val FirstDocId = 1000000L

  /** Closed loop of update cycles, each on a fresh clone of the ingest
    * starting state: screened vector append, screened text append, reload,
    * reads. */
  def ingest(ctx: RunCtx): Measured = {
    val f = ctx.fixture
    val cycleDir = s"${ctx.work}/cycle"
    val dir = s"$cycleDir/index"
    val textDir = s"$cycleDir/text"
    val samples = (0 until CycleReads).map(j => Inputs.evalQuery(j, Fixture.seedRows))
    final case class Cycle(updateId: String, batch: DataFrame, docs: DataFrame, bytesBefore: Long)
    /** A fresh copy of the starting state and cycle `c`'s inputs. */
    def prepare(spark: SparkSession, c: Long): Cycle = {
      import spark.implicits._
      Fixture.copyTree(f.ingestIndexBase, dir)
      Fixture.copyTree(f.ingestTextBase, textDir)
      Cycle(f"upd-${ctx.seed}%08d-$c%06d",
        Inputs.vectorBatch(ctx.seed, c, FirstBatchId, BatchRows, BatchDupsPer10, Fixture.seedRows)
          .map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding"),
        Inputs.docBatch(ctx.seed, c, FirstDocId, DocRows, DocDupsPer10, Fixture.SeedDocs)
          .toDF("doc_id", "text"),
        Fixture.bytesUnder(dir))
    }
    final case class CycleOut(vrep: IngestOps.IngestReport, trep: TextScreen.TextIngestReport,
        h: LopqSlimIndex, found: Seq[(Seq[(Long, Double)], Double)], vecS: Double, docS: Double,
        loadS: Double)
    def cycle(spark: SparkSession, cy: Cycle): CycleOut = {
      val tr = ctx.tracer
      val vectors = ReleaseShape.vectors(spark, f.indexDir)
      val (vrep, vecS) = Harness.timed(tr.span("IngestOps.screenAndAppend")(
        IngestOps.screenAndAppend(spark, dir, vectors, cy.batch, "vec_id", "embedding", cy.updateId)))
      val (trep, docS) = Harness.timed(tr.span("TextScreen.screenAndAppend")(
        TextScreen.screenAndAppend(spark, textDir, TextSigStore.textStore(spark, textDir),
          cy.docs, cy.updateId, storeTexts = true)))
      val (h, loadS) = Harness.timed(tr.span("LopqIndexStore.loadSlim")(
        LopqIndexStore.loadSlim(spark, dir).get))
      val idx = AnnIndexes.lopqSlim(h, vectors, "vec_id", "embedding", Quota, RerankK)
      val found = samples.map { case (_, q) => tr.span("read.search")(readTop(idx, q)) }
      CycleOut(vrep, trep, h, found, vecS, docS, loadS)
    }
    Fixture.warmPageCache(f.indexDir, f.ingestIndexBase, f.ingestTextBase)
    Fixture.copyTree(f.ingestIndexBase, dir)
    val (setupS, _) = repeatedSetup(ctx) { (spark, _) =>
      val h = LopqIndexStore.loadSlim(spark, dir).get
      readTop(AnnIndexes.lopqSlim(h, ReleaseShape.vectors(spark, f.indexDir),
        "vec_id", "embedding", Quota, RerankK), samples.head._2)
    }
    val spark = ctx.spark
    val vectors = ReleaseShape.vectors(spark, f.indexDir)
    val reads = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var storedPerRow = 0.0
    val (ops, gates) = closedLoop(ctx, "ingest.cycle") { c =>
      prepare(spark, c)
    } { cy => cycle(spark, cy) } { case (cy, CycleOut(vrep, trep, h, found, vecS, docS, loadS)) =>
      layer("ingest.vec_append_s") += vecS
      layer("ingest.doc_append_s") += docS
      layer("ingest.load_ms") += loadS * 1000
      reads ++= found.map(_._2)
      layer("ingest.vec_kept") += vrep.appended
      layer("ingest.doc_kept") += trep.appended
      val (recall, readGates) = evaluate(ctx, samples, found.map(_._1), Fixture.seedRows)
      recalls += recall
      val codesRows = LopqIndexStore.readCodes(spark, dir).count()
      val storedDocs = spark.read.parquet(s"$textDir/texts/${cy.updateId}").count()
      val deltaDir = new java.io.File(s"$dir/codes_delta")
      layer("ingest.delta_files") += Option(deltaDir.listFiles).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
      layer("ingest.promotions") += (if (new java.io.File(s"$dir/codes").isDirectory) 1 else 0)
      layer("ingest.bytes_written") += Fixture.bytesUnder(dir) - cy.bytesBefore
      val sigRoot = s"$textDir/sigs"
      val fs = new org.apache.hadoop.fs.Path(sigRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      layer("ingest.fold_runs") += SideStoreFold.runLayout(fs, sigRoot).size
      storedPerRow = storedBytesPerRow(dir, codesRows)
      readGates ++ Seq(
        "ingest.applied" -> (vrep.applied && trep.applied),
        "ingest.batch_rows" -> (vrep.batchRows == BatchRows && trep.batchRows == DocRows),
        "ingest.histogram_total_eq_codes" -> (h.cellCounts.total == codesRows),
        "ingest.codes_eq_appended" -> (codesRows == Fixture.seedRows + vrep.appended),
        "ingest.text_report_eq_store" -> (storedDocs == trep.appended &&
          TextSigStore.textStore(spark, textDir).count() == Fixture.SeedDocs + trep.appended),
        "ingest.vec_replay_refused" -> !IngestOps.screenAndAppend(spark, dir, vectors, cy.batch,
          "vec_id", "embedding", cy.updateId).applied,
        "ingest.text_replay_refused" -> !TextScreen.screenAndAppend(spark, textDir,
          TextSigStore.textStore(spark, textDir), cy.docs, cy.updateId, storeTexts = true).applied)
    }
    val n = math.max(1, ops.count(_.ok)).toDouble
    val perCycle = Map(
      "ingest.vec_append_s" -> layer("ingest.vec_append_s") / n,
      "ingest.vec_kept_ratio" -> layer("ingest.vec_kept") / (BatchRows * n),
      "ingest.doc_append_s" -> layer("ingest.doc_append_s") / n,
      "ingest.doc_rows_per_s" -> DocRows * n / math.max(1e-9, layer("ingest.doc_append_s")),
      "ingest.doc_kept_ratio" -> layer("ingest.doc_kept") / (DocRows * n),
      "ingest.load_ms" -> layer("ingest.load_ms") / n,
      "ingest.delta_files" -> layer("ingest.delta_files") / n,
      "ingest.promotions" -> layer("ingest.promotions") / n,
      "ingest.bytes_written_per_row" -> layer("ingest.bytes_written") /
        math.max(1.0, layer("ingest.vec_kept")),
      "ingest.fold_runs" -> layer("ingest.fold_runs") / n)
    Measured(setupS, ops, BatchRows * n / math.max(1e-9, layer("ingest.vec_append_s")),
      if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size, reads.toSeq, storedPerRow,
      gates, perCycle)
  }
}
