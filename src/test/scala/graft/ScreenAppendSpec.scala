package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{LopqIndexStore, LopqParams, LopqPca, LopqSearcher, LopqTrainer, ReleaseShape}
import graft.ops.{EngineOps, IngestOps, VectorQueries}

/** The one-pass screened append ([[IngestOps.screenAndAppend]]) against
  * the earlier form ([[ScreenAppendReference]]): on a PCA-fronted and a
  * plain index, single-cell and multi-probe screens, the same cycles give
  * the same report and leave the same index state — codes rows, summed
  * histogram, manifest and tip. The cycles cover a first batch into a
  * store with no codes, a batch that repeats an id, an all-dropped batch
  * and a replayed update id. */
class ScreenAppendSpec extends SparkSpec {

  private val root = "/tmp/graft-test-screenappend"

  private def del(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** A small PCA-fronted index over V1 corpus rows (raw 256-d → 16). */
  private lazy val pcaIndex: (String, DataFrame) = {
    val dir = s"$root/pca_src"
    del(dir)
    val n = 2000L
    val e = ReleaseShape.corpus(spark, n).localCheckpoint()
    val pca = LopqPca.train(e, "embedding", 16)
    val pcaB = spark.sparkContext.broadcast(pca)
    val applyU = udf((v: Seq[Float]) => pcaB.value(v.toArray).toSeq)
    val projected = e.select(col("vec_id"), applyU(col("embedding")).as("pvec")).localCheckpoint()
    val p = LopqParams(v = 4, m = 4, subClusters = 16, seed = 7L, kmeansMaxIter = 3)
    val model = LopqTrainer.train(projected, "pvec", p)
    LopqIndexStore.build(spark, dir, model, Some(pca),
      LopqSearcher.encode(projected, "vec_id", "pvec", model), p, n, ReleaseShape.RawDim)
    (dir, e)
  }

  private def plainIndex: (String, DataFrame) = {
    EngineOps.index(spark, sf)
    (EngineOps.indexDir(sf), spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding"))
  }

  /** Codes rows, summed histogram, manifest rows and tip of `dir`. */
  private def state(dir: String) = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(sub: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
    val codes =
      if (!LopqIndexStore.hasCodes(spark, dir)) Seq.empty
      else LopqIndexStore.readCodes(spark, dir)
        .select("id", "coarse0", "coarse1", "fine", "cell_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Short](3).toSeq, r.getInt(4)))
        .sortBy(_._1).toSeq
    val counts =
      if (!exists("cell_counts")) Map.empty[Int, Long]
      else spark.read.parquet(s"$dir/cell_counts").groupBy("cell_id").agg(sum("cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val manifest = spark.read.parquet(s"$dir/manifest").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    (codes, counts, manifest, LopqIndexStore.watermark(spark, dir))
  }

  private def cycles(src: String, e: DataFrame, tag: String, multi: Boolean): Unit = {
    val ref = s"$root/${tag}_ref"; val one = s"$root/${tag}_one"
    Seq(ref, one).foreach { d => del(d); LopqIndexStore.cloneEmpty(spark, src, d) }
    val first = e.where(col("vec_id") % 3 === 0).localCheckpoint()
    // organic rows, exact copies of first-batch rows under new ids, pair
    // midpoints, and one row repeated under its own id
    val mixed = e.where(col("vec_id") % 3 === 1)
      .unionByName(e.where(col("vec_id") % 3 === 0 && col("vec_id") < 30)
        .select((col("vec_id") + 70000000L).as("vec_id"), col("embedding")))
      .unionByName(e.as("a").join(e.as("b"), col("b.vec_id") === col("a.vec_id") + 7)
        .where(col("a.vec_id") < 20)
        .select((col("a.vec_id") + 80000000L).as("vec_id"),
          zip_with(col("a.embedding"), col("b.embedding"),
            (x, y) => ((x + y) / 2).cast("float")).as("embedding")))
      .unionByName(e.where(col("vec_id") === 4))
      .localCheckpoint()
    assert(mixed.where(col("vec_id") === 4).count() == 2, "the repeated id must be planted")
    val corpus = e.unionByName(mixed).dropDuplicates("vec_id").localCheckpoint()
    def both(batch: DataFrame, uid: String): IngestOps.IngestReport = {
      val r0 = ScreenAppendReference.screenAndAppend(spark, ref, corpus, batch,
        "vec_id", "embedding", uid)
      val r1 = IngestOps.screenAndAppend(spark, one, corpus, batch, "vec_id", "embedding", uid)
      assert(r1 === r0, s"$tag $uid: report")
      assert(state(one) === state(ref), s"$tag $uid: index state")
      r1
    }
    spark.conf.set(VectorQueries.ScreenMultiProbeConf, multi.toString)
    try {
      val r1 = both(first, "u001")
      assert(r1.applied && r1.appended > 0 && r1.batchRows == first.count(),
        s"$tag: the first batch lands in a store with no codes")
      val r2 = both(mixed, "u002")
      assert(r2.flaggedPairs > 0 && r2.appended < r2.batchRows, s"$tag: the copies must drop")
      val indexed = LopqIndexStore.readCodes(spark, one).select("id").orderBy("id")
        .limit(20).collect().map(_.getLong(0))
      val copies = e.sparkSession.createDataFrame(
        corpus.where(col("vec_id").isin(indexed.toSeq: _*)).collect().toSeq
          .map(r => (r.getLong(0) + 90000000L, r.getSeq[Float](1))))
        .toDF("vec_id", "embedding")
      val r3 = both(copies, "u003")
      assert(r3.applied && r3.batchRows == 20 && r3.appended == 0, s"$tag: all dropped: $r3")
      assert(both(mixed, "u002") === IngestOps.IngestReport(applied = false, 0L, 0L, 0L),
        s"$tag: a replayed update id is refused")
    } finally spark.conf.unset(VectorQueries.ScreenMultiProbeConf)
    Seq(ref, one).foreach(del)
  }

  test("one-pass screenAndAppend ≡ the earlier form on a plain index, single-cell and multi-probe") {
    val (dir, e) = plainIndex
    cycles(dir, e, "plain", multi = false)
    cycles(dir, e, "plain_multi", multi = true)
  }

  test("one-pass screenAndAppend ≡ the earlier form on a PCA index, single-cell and multi-probe") {
    val (dir, e) = pcaIndex
    cycles(dir, e, "pca", multi = false)
    cycles(dir, e, "pca_multi", multi = true)
  }

  test("appendUpdate ≡ the earlier form on a plain and a PCA index, a repeated id included") {
    for ((dir, e) <- Seq(plainIndex, pcaIndex)) {
      val ref = s"$root/app_ref"; val one = s"$root/app_one"
      Seq(ref, one).foreach { d => del(d); LopqIndexStore.cloneEmpty(spark, dir, d) }
      val b1 = e.where(col("vec_id") % 2 === 0).unionByName(e.where(col("vec_id") === 2))
      val b2 = e.where(col("vec_id") % 3 === 0) // overlaps b1: the anti-join drops replays
      for ((b, uid) <- Seq(b1 -> "u001", b2 -> "u002", b2 -> "u002")) {
        assert(LopqIndexStore.appendUpdate(spark, one, b, "vec_id", "embedding", uid) ===
          ScreenAppendReference.appendUpdate(spark, ref, b, "vec_id", "embedding", uid))
        assert(state(one) === state(ref), s"$dir $uid")
      }
      Seq(ref, one).foreach(del)
    }
  }
}
