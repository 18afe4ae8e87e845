package graft

import org.apache.spark.graft.TestSparkConf
import org.apache.spark.sql.functions._

import graft.engine.{LopqIndexStore, ReleaseShape}

/** Maintenance at the release cadence (VERDICT r6 next-round #6): appends
  * of the reference's release update size (2048 rows,
  * `hbase_indexer_minimal.py:36`) against the true v2 release model —
  * slim-encode path, tensor never driver-resident — must stay O(batch):
  * flat wall-clock across batches and an effective slice LRU. Runs on a
  * CLONE of the v2 model (the benched index is never mutated); skips when
  * v2 is not built. `graft.Probe maintain` is the hundreds-of-batches
  * probe through the real streaming path; this pins the invariants. */
class ReleaseMaintainSpec extends SparkSpec {

  private val shape = ReleaseShape.V2
  private val BatchRows = 2048
  private val Batches = 16

  test("release-size appends are O(batch): flat wall-clock, warm slice LRU") {
    assume(LopqIndexStore.fingerprintOk(shape.dir, shape.p, shape.n, shape.pcaDims),
      "prebuilt v2 index required")
    val workDir = shape.dir + "_maintain_spec"
    LopqIndexStore.cloneEmpty(spark, shape.dir, workDir)
    // give the LRU the v2 ingest working set (a 2048-row release batch
    // touches most of the 2×1024 clusters; the 64 MiB LRU of the 1g
    // default would thrash at exactly this cadence): the LRU is B/8, so an
    // 8g maxResultSize gives it 512 MiB. The clone's LRU is sized when its
    // first append reads a slice, below.
    val sc = spark.sparkContext
    val saved = TestSparkConf.get(sc, "spark.driver.maxResultSize")
    TestSparkConf.set(sc, "spark.driver.maxResultSize", "8g")
    try {
      import spark.implicits._
      val sh = shape // local copy: the row lambda must not capture the suite
      val times = (0 until Batches).map { b =>
        val base = 20000000L + b.toLong * BatchRows
        val batch = spark.range(base, base + BatchRows, 1, 8)
          .map(id => (id, ReleaseShape.rowVecFor(sh, id).toSeq))
          .toDF("vec_id", "embedding")
        val req0 = LopqIndexStore.sliceKeysRequested.get()
        val miss0 = LopqIndexStore.sliceKeysMissed.get()
        val t0 = System.nanoTime()
        assert(LopqIndexStore.appendUpdate(spark, workDir, batch,
          "vec_id", "embedding", f"stream_$b%019d"))
        val sec = (System.nanoTime() - t0) / 1e9
        val req = LopqIndexStore.sliceKeysRequested.get() - req0
        val miss = LopqIndexStore.sliceKeysMissed.get() - miss0
        (sec, req, miss)
      }
      // every row landed exactly once
      assert(LopqIndexStore.readCodes(spark, workDir).count()
        === Batches.toLong * BatchRows)
      // O(batch) wall-clock: the index grows every batch, the append cost
      // must not (generous 2.5× for a noisy shared box)
      def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val firstHalf = med(times.take(Batches / 2).map(_._1))
      val secondHalf = med(times.drop(Batches / 2).map(_._1))
      assert(secondHalf <= firstHalf * 2.5,
        s"append cost grew with index size: $firstHalf s → $secondHalf s")
      // slice LRU warms up: by the second half the ingest working set is
      // cached and most slice requests hit
      val (reqs, misses) = (times.drop(Batches / 2).map(_._2).sum,
        times.drop(Batches / 2).map(_._3).sum)
      assert(reqs > 0, "slim-encode path must fetch rotation slices")
      val hitRate = 1.0 - misses.toDouble / reqs
      assert(hitRate >= 0.6,
        f"slice LRU ineffective at steady state: hit rate ${hitRate * 100}%.1f%%")
    } finally {
      saved match {
        case Some(v) => TestSparkConf.set(sc, "spark.driver.maxResultSize", v)
        case None => TestSparkConf.remove(sc, "spark.driver.maxResultSize")
      }
      val p = new org.apache.hadoop.fs.Path(workDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
  }
}
