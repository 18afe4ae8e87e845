package graft

import org.apache.spark.sql.functions._

import graft.core.VectorOps
import graft.engine.{LopqParams, LopqPca, LopqSearcher, LopqTrainer}
import graft.ops.Tables

/** PCA front-end (ref `train_pca` `lopq/lopq/model.py:242-287`, `apply_PCA`
  * `model.py:961-978`): spectral properties of the trained projection and
  * the end-to-end `lopq_pca` retrieval quality (the reference's RELEASE
  * model shape — PCA then LOPQ, rerank with full-dimension features). */
class PcaSpec extends SparkSpec {

  private lazy val e = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, sf, "embeddings")
  }
  private lazy val pca = LopqPca.train(e, "embedding", 32)

  test("projection columns are orthonormal") {
    for (i <- 0 until pca.pcaDims; j <- 0 until pca.pcaDims) {
      var s = 0.0
      for (k <- 0 until pca.dim) s += pca.p(i)(k) * pca.p(j)(k)
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(s - expect) < 1e-9, s"P[$i]·P[$j] = $s")
    }
  }

  test("trainWide (block-distributed moment merge) matches train (udaf moments)") {
    // deterministic data with SEPARATED per-component variances, so the
    // eigenvectors are numerically stable and the two accumulation paths
    // (whose float merge order differs) must agree up to sign
    import spark.implicits._
    val dim = 16
    val df = spark.range(0, 4000, 1, 8).map { id =>
      val rn = new java.util.Random(555L + id)
      (id, Seq.tabulate(dim)(i => (rn.nextGaussian() * (i + 1) + i).toFloat))
    }.toDF("vec_id", "embedding")
    val a = LopqPca.train(df, "embedding", 8)
    val b = LopqPca.trainWide(df, "embedding", 8)
    for (i <- 0 until dim)
      assert(math.abs(a.mu(i) - b.mu(i)) < 1e-9, s"mu($i): ${a.mu(i)} vs ${b.mu(i)}")
    for (j <- 0 until a.pcaDims) {
      var dot = 0.0
      for (k <- 0 until dim) dot += a.p(j)(k) * b.p(j)(k)
      assert(math.abs(math.abs(dot) - 1.0) < 1e-6,
        s"column $j diverged: |cos| = ${math.abs(dot)}")
    }
  }

  test("projection captures the majority of variance") {
    val rows = e.select("embedding").collect().map(_.getSeq[Float](0).toArray)
    def totalVar(vs: Array[Array[Double]]): Double = {
      val d = vs(0).length
      val mu = Array.tabulate(d)(i => vs.map(_(i)).sum / vs.length)
      vs.map(v => (0 until d).map(i => { val x = v(i) - mu(i); x * x }).sum).sum / (vs.length - 1)
    }
    val orig = totalVar(rows.map(_.map(_.toDouble)))
    val proj = totalVar(rows.map(r => pca(r).map(_.toDouble)))
    assert(proj / orig > 0.5, s"projected/original variance = ${proj / orig}")
    assert(proj / orig <= 1.0 + 1e-6)
  }

  test("variance is balanced across the two halves (eigenvalue allocation)") {
    val rows = e.select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val projected = rows.map(r => pca(r).map(_.toDouble))
    val half = pca.pcaDims / 2
    def varOf(lo: Int, hi: Int): Double = {
      val mu = Array.tabulate(hi - lo)(i => projected.map(_(lo + i)).sum / projected.length)
      projected.map(v => (lo until hi).map(i => { val x = v(i) - mu(i - lo); x * x }).sum)
        .sum / (projected.length - 1)
    }
    val (v0, v1) = (varOf(0, half), varOf(half, pca.pcaDims))
    val ratio = math.max(v0, v1) / math.min(v0, v1)
    assert(ratio < 2.0, s"half variances $v0 vs $v1 (ratio $ratio)")
  }

  test("lopq_pca end-to-end: recall@10 with full-dim rerank ≥ 0.5") {
    val pcaB = spark.sparkContext.broadcast(pca)
    val applyU = udf((v: Seq[Float]) => pcaB.value(v.toArray).toSeq)
    val projected = e.select(col("vec_id"), applyU(col("embedding")).as("pvec"))
    val p = LopqParams(v = 8, m = 4, subClusters = 16, seed = 42L, kmeansMaxIter = 10)
    val model = LopqTrainer.train(projected, "pvec", p)
    val codes = LopqSearcher.encode(projected, "vec_id", "pvec", model).cache()
    val counts = graft.core.CellHistogram(codes.groupBy("cell_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq)

    val all = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val queries = all.filter(_._1 < 5)
    val recalls = queries.map { case (qid, qv) =>
      val brute = all.map { case (id, v) => (id, VectorOps.l2(qv, v)) }
        .sortBy { case (id, dist) => (dist, id) }.take(10).map(_._1).toSet
      val ann = LopqSearcher.searchSlim(
          graft.engine.LopqIndex(model, Some(pca), codes, counts, dir = "").serving,
          e, "vec_id", "embedding", qv, quota = 200, k = 10, rerankK = 50)
        .collect().map(_.getAs[Long]("id")).toSet
      brute.intersect(ann).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.5, s"mean recall@10 = $mean (${recalls.mkString(",")})")
    codes.unpersist()
  }
}
