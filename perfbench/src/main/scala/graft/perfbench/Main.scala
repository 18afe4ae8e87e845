package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.core.DiskStats
import graft.engine.LopqIndexStore

/** Benchmark entry point (see `perfbench/run.py`, which builds the
  * classpath and the fixture and then calls this):
  *
  * {{{
  *   Main fixture <work> <sources>
  *   Main run <work> <sources> <workload> <seed> <seconds> <trace 0|1> <serve-rate> <heap> <result-file>
  * }}}
  *
  * `sources` is the digest of the sources the fixture is built from; a
  * fixture built from others is rebuilt.
  *
  * `run` writes two lines to the result file: a run stamp and the result
  * object the benchmark prints last. */
object Main {
  /** Every per-layer metric a traced run reports, with its unit; a layer
    * the workload does not touch reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.driver_ms_per_op" -> "ms",
    "spark.executor_cpu_ms_per_op" -> "ms",
    "spark.gc_ms_per_op" -> "ms",
    "spark.shuffle_write_bytes_per_op" -> "B",
    "spark.shuffle_read_bytes_per_op" -> "B",
    "spark.spill_bytes_per_op" -> "B",
    "spark.input_bytes_per_op" -> "B",
    "spark.stage_skew" -> "ratio",
    "spark.codegen_fallbacks" -> "count",
    "self.harness_ms_per_op" -> "ms",
    "self.LopqSearcher_ms_per_op" -> "ms",
    "self.action_ms_per_op" -> "ms",
    "self.IngestOps_ms_per_op" -> "ms",
    "self.TextScreen_ms_per_op" -> "ms",
    "self.LopqIndexStore_ms_per_op" -> "ms",
    "self.read_ms_per_op" -> "ms",
    "read.p50_ms" -> "ms",
    "serve.plan_ms" -> "ms",
    "serve.execute_ms" -> "ms",
    "serve.generator_lag_p90_ms" -> "ms",
    "engine.slice_hit_rate" -> "ratio",
    "engine.broadcasts_resident" -> "count",
    "ingest.load_ms" -> "ms",
    "ingest.delta_files" -> "count",
    "ingest.promotions" -> "count",
    "ingest.bytes_written_per_row" -> "B",
    "ingest.vec_append_s" -> "s",
    "ingest.vec_kept_ratio" -> "ratio",
    "ingest.doc_append_s" -> "s",
    "ingest.doc_rows_per_s" -> "1/s",
    "ingest.doc_kept_ratio" -> "ratio",
    "ingest.fold_runs" -> "count",
    "build.pca_s" -> "s",
    "build.train_s" -> "s",
    "build.encode_s" -> "s",
    "build.store_s" -> "s",
    "build.stage_vectors_s" -> "s",
    "build.ingest_seed_s" -> "s",
    "trace.traced_ops" -> "count",
    "trace.overhead_ms" -> "ms")

  /** The root span name of each workload's operation. */
  private val OpName = Map("serve" -> "serve.request", "ingest" -> "ingest.cycle")

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("fixture", work, sources) =>
      val f =
        if (Fixture.ready(work, sources)) Fixture.open(work, sources)
        else {
          val spark = Harness.session(work)
          try Fixture.build(spark, work, sources) finally spark.stop()
        }
      println(s"fixture ${Harness.json(f.stamp)}")
    case Seq("run", work, sources, workload, seed, seconds, trace, rate, heap, out) =>
      val lines = run(work, sources, workload, seed.toLong, seconds.toDouble, trace == "1",
        rate.toDouble, heap)
      Files.write(Paths.get(out), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    case _ =>
      System.err.println("usage: Main fixture <work> <sources> | Main run <work> <sources> " +
        "<workload> <seed> <seconds> <trace> <serve-rate> <heap> <result-file>")
      sys.exit(2)
  }

  def run(work: String, sources: String, workload: String, seed: Long, seconds: Double, traced: Boolean,
      serveRate: Double, heap: String): Seq[String] = {
    val startedAt = java.time.Instant.now().toString
    val (busy0, ioSteal0) = DiskStats.machineCpuJiffies()
    val self0 = DiskStats.selfCpuJiffies()
    val ctx = new RunCtx(work, sources, seed, seconds, traced, serveRate)
    val listener = new SpanListener
    var slices0 = (0L, 0L)
    ctx.onTraceStart = () => {
      ctx.spark.sparkContext.addSparkListener(listener)
      CodegenFallbacks.install()
      slices0 = (LopqIndexStore.sliceKeysRequested.get, LopqIndexStore.sliceKeysMissed.get)
    }
    val m = workload match {
      case "serve" => Workloads.serve(ctx)
      case "ingest" => Workloads.ingest(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val spark = ctx.spark
    val broadcasts = org.apache.spark.perfbench.SparkInternals.residentBroadcasts()
    val heapMb = Harness.heapLiveMb()

    val metrics: ListMap[String, Metric] =
      if (!traced) {
        val ops = m.untracedMs
        ListMap(
          "setup_s" -> Metric(Harness.median(m.setupS), "s"),
          "op_p50_ms" -> Metric(Harness.median(ops), "ms"),
          "rows_per_s" -> Metric(m.rowsPerS, "1/s"),
          "recall_at_10" -> Metric(m.recallAt10, "ratio"),
          "heap_live_mb" -> Metric(heapMb, "MB"),
          "stored_bytes_per_row" -> Metric(m.storedBytesPerRow, "B"))
      } else {
        org.apache.spark.perfbench.SparkInternals.drainListenerBus(spark.sparkContext)
        val layer = perOp(ctx.tracer.spans, OpName(workload), listener) ++ m.layer ++ Map(
          "spark.codegen_fallbacks" -> CodegenFallbacks.count.sum.toDouble,
          "engine.broadcasts_resident" -> broadcasts.toDouble,
          "engine.slice_hit_rate" -> {
            val req = LopqIndexStore.sliceKeysRequested.get - slices0._1
            val miss = LopqIndexStore.sliceKeysMissed.get - slices0._2
            if (req == 0) 0.0 else 1.0 - miss.toDouble / req
          },
          "read.p50_ms" -> Harness.median(m.readMs),
          "trace.overhead_ms" ->
            (Harness.median(m.tracedMs) - Harness.median(m.untracedMs))) ++
          PerLayer.map(_._1).filter(_.startsWith("build.")).map(k => k -> ctx.fixture.buildSeconds(k))
        ctx.tracer.writeJson(s"$work/spans-$workload-$seed.json")
        // a workload's own figures outside the shared list ride along after it
        val extra = m.layer.keySet.diff(PerLayer.map(_._1).toSet).toSeq.sorted
          .map(k => k -> Metric(m.layer(k),
            if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "B" else "count"))
        ListMap(PerLayer.map { case (k, unit) => k -> Metric(layer.getOrElse(k, 0.0), unit) } ++
          extra: _*)
      }
    spark.stop()

    val (busy1, ioSteal1) = DiskStats.machineCpuJiffies()
    val self1 = DiskStats.selfCpuJiffies()
    val hz = 100.0 // USER_HZ of /proc/stat and /proc/self/stat
    val stamp = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> Harness.Cores, "master" -> Harness.master, "xmx" -> heap,
      "started_at" -> startedAt, "serve_rate" -> serveRate,
      "fixture_fingerprint" -> ctx.fixture.fingerprint,
      "fixture_sources" -> sources,
      "fixture_built_at" -> ctx.fixture.stamp.getOrElse("built_at", ""),
      "fixture_build_s" -> ListMap(ctx.fixture.stamp.toSeq.filter(_._1.startsWith("build."))
        .sortBy(_._1): _*),
      "iowait_steal_s" -> (ioSteal1 - ioSteal0) / hz,
      "foreign_cpu_s" -> math.max(0.0, ((busy1 - busy0) - (self1 - self0)) / hz),
      "setup_s" -> m.setupS,
      "op_ms" -> m.ops.map(_.ms),
      "read_ms" -> m.readMs,
      "gates_failed" -> m.gates.filterNot(_._2).map(_._1).distinct,
      "notes" -> m.notes)
    val outcome = Outcome(correct = m.gates.forall(_._2), attempted = math.max(1L, m.attempted),
      failed = m.failed, metrics = metrics)
    Seq(s"stamp ${Harness.json(stamp)}", outcome.toJson)
  }

  /** Spark runtime and layer self time per traced operation named `root`. */
  def perOp(spans: Seq[Span], root: String, l: SpanListener): Map[String, Double] = {
    val ops = spans.filter(s => s.parent == 0 && s.name == root)
    if (ops.isEmpty) return Map("trace.traced_ops" -> 0.0)
    val byOp = spans.groupBy(_.op)
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { op =>
      val mine = byOp(op.id)
      val ids = mine.map(_.id).toSet
      val c = l.costOf(ids)
      acc("spark.jobs_per_op") += c.jobs
      acc("spark.tasks_per_op") += c.tasks
      acc("spark.driver_ms_per_op") += op.ms - l.jobCoveredMs(ids, op.startMs, op.endMs)
      acc("spark.executor_cpu_ms_per_op") += c.cpuNs / 1e6
      acc("spark.gc_ms_per_op") += c.gcMs
      acc("spark.shuffle_write_bytes_per_op") += c.shuffleWriteBytes
      acc("spark.shuffle_read_bytes_per_op") += c.shuffleReadBytes
      acc("spark.spill_bytes_per_op") += c.spillBytes
      acc("spark.input_bytes_per_op") += c.inputBytes
      acc("spark.stage_skew") += l.stageSkew(ids)
      mine.foreach { s =>
        val layer = if (s.parent == 0) "harness" else s.layer
        acc(s"self.${layer}_ms_per_op") += s.ms - childMs.getOrElse(s.id, 0.0)
      }
      if (root == "serve.request") {
        acc("serve.plan_ms") += mine.filter(_.name == "LopqSearcher.search").map(_.ms).sum
        acc("serve.execute_ms") += mine.filter(_.name == "action.noop").map(_.ms).sum
      }
    }
    acc.view.mapValues(_ / ops.size).toMap + ("trace.traced_ops" -> ops.size.toDouble)
  }
}
