package graft

import graft.engine.ReleaseShape

/** Offline build of a release-scale proof index (the reference's train step,
  * never the measured path). The v3 shape (true release model constants,
  * 536 MB rotation tensor) needs driver heap for the trainer's collected
  * accumulators and the model write: run with `SPARK_DRIVER_MEM=20g`.
  * Serving never does — Bench loads it slim.
  * `wide` stages the 2M × 2048-d (~16 GB) release-width rerank table
  * instead of an index — see [[ReleaseShape.stageWide]].
  * `v4` builds the release DEPLOYMENT magnitude — v3's model constants
  * over the 2M × raw-4096-d corpus with the ~32 GB lookup-layout feature
  * table (see [[ReleaseShape.ensureV4]]).
  * Usage: runMain graft.BuildRelease [v1|v2|v3|v4|wide] [conf:key=value …]
  */
object BuildRelease {
  def main(args: Array[String]): Unit = {
    val spark = Probe.session()
    try {
      val which = Probe.confArgs(spark, args.toSeq, "build-release").headOption.getOrElse("v3")
      val s = if (which == "wide") None else Some(Probe.shape(Some(which), ReleaseShape.V3))
      Probe.timed("build-release", s"$which ready at ${s.fold(ReleaseShape.wideDir)(_.dir)} in") {
        s match {
          case None => ReleaseShape.stageWide(spark)
          // the release DEPLOYMENT magnitude: 2M × raw 4096-d through v3's
          // model constants + the 32 GB lookup-layout feature table
          case Some(ReleaseShape.V4) => ReleaseShape.ensureV4(spark)
          case Some(shape) =>
            ReleaseShape.ensureFor(spark, shape)
            ReleaseShape.stageVectorsFor(spark, shape, shape.dir, shape.n)
        }
      }
    } finally spark.stop()
  }
}
