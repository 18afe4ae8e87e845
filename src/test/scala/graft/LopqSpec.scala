package graft

import org.apache.spark.sql.functions._

import graft.engine.{LopqParams, LopqSearcher, LopqTrainer}
import graft.ops.Tables

/** End-to-end LOPQ slice (SURVEY §7.2): train on the sf0.001 embeddings,
  * encode, query — assert code stability, cell math, and recall@10 against
  * the brute-force exact oracle (the reference's own quality harness,
  * `lopq/lopq/eval.py:77-89,92-142`). */
class LopqSpec extends SparkSpec {

  private lazy val (model, codes, counts) = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables(spark, sf, "embeddings")
    val p = LopqParams(v = 8, m = 4, subClusters = 16, seed = 42L, kmeansMaxIter = 10)
    val m = LopqTrainer.train(e, "embedding", p)
    val c = LopqSearcher.encode(e, "vec_id", "embedding", m).cache()
    val cnt = graft.core.CellHistogram(c.groupBy("cell_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq)
    (m, c, cnt)
  }

  /** An in-memory serve handle: the encoded codes, resident rotations. */
  private lazy val serving =
    graft.engine.LopqSlimIndex(model.slim, None, codes, counts, dir = "", cellBuckets = 0,
      graft.engine.RotationSource.Resident(model.rotations))

  test("model shapes match the parameterization") {
    assert(model.v === 8)
    assert(model.m === 4)
    assert(model.dim === 64)
    assert(model.subquantizers(0)(0).length === 16)
    assert(model.rotations(0).length === 8)
    assert(model.rotations(0)(0).length === 32)
  }

  test("every vector is encoded and cell ids are consistent") {
    assert(codes.count() === 500)
    val bad = codes.where(col("cell_id") =!= col("coarse0") * model.v + col("coarse1")).count()
    assert(bad === 0)
    assert(counts.total === 500L)
  }

  test("predict(x) is stable under reconstruct (code self-consistency)") {
    // ref get_proportion_of_reconstructions_with_same_codes, eval.py:77-89
    val vecs = Tables(spark, sf, "embeddings").limit(50)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    // the production encoder (resident slices) must equal the reference's
    // predict on every vector it encodes, reconstructions included
    val ref = new LopqReference(model)
    def predict(x: Array[Float]): ((Int, Int), Array[Short]) = {
      val cc = model.slim.predictCoarse(x)
      val fine = model.slim.predictFineWith(x, cc, model.rotations(_)(_))
      val (rcc, rfine) = ref.predict(x)
      assert(cc == rcc && fine.sameElements(rfine), "encoder diverged from the reference")
      (cc, fine)
    }
    val stable = vecs.count { v =>
      val (cc, fine) = predict(v)
      val (cc2, _) = predict(model.reconstruct(cc, fine))
      cc == cc2
    }
    assert(stable >= 40, s"only $stable/50 coarse codes stable under reconstruction")
  }

  test("adcTables and predictFineWith equal the reference bit for bit on random vectors") {
    import org.scalacheck.{Gen, Prop, Test}
    val ref = new LopqReference(model)
    val rot: (Int, Int) => Array[Array[Float]] = model.rotations(_)(_)
    val vec = Gen.listOfN(model.dim, Gen.choose(-3.0f, 3.0f)).map(_.toArray)
    val cell = Gen.zip(Gen.choose(0, model.v - 1), Gen.choose(0, model.v - 1))
    val prop = Prop.forAll(vec, cell) { (x, cc) =>
      val tables = model.slim.adcTables(x, cc, rot)
      val want = ref.subquantizerDistances(x, cc)
      tables.length == want.length &&
        tables.indices.forall(i => java.util.Arrays.equals(tables(i), want(i))) &&
        model.slim.predictFineWith(x, cc, rot).sameElements(ref.predictFine(x, cc)) &&
        model.slim.predictCoarse(x) == ref.predictCoarse(x)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(300)
      .withInitialSeed(org.scalacheck.rng.Seed(11L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("rotations are orthonormal (R·Rᵀ = I)") {
    val r = model.rotations(0)(0)
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = graft.core.VectorOps.dot(r(i), r(j))
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-4, s"R·Rᵀ[$i][$j] = $dot")
    }
  }

  test("recall@10 vs brute force ≥ 0.6 with quota=200 and exact rerank") {
    val e = Tables(spark, sf, "embeddings")
    val queries = e.where(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val all = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val recalls = queries.map { case (qid, qv) =>
      val brute = all.map { case (id, v) => (id, graft.core.VectorOps.l2(qv, v)) }
        .sortBy { case (id, dist) => (dist, id) }.take(10).map(_._1).toSet
      val ann = LopqSearcher.searchSlim(serving, e, "vec_id", "embedding", qv,
        quota = 200, k = 10, rerankK = 50)
        .collect().map(_.getAs[Long]("id")).toSet
      brute.intersect(ann).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.6, s"mean recall@10 = $mean (${recalls.mkString(",")})")
  }

  test("full-quota search degenerates to exact brute force (sanity)") {
    val e = Tables(spark, sf, "embeddings")
    val qv = e.where(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    // quota ≥ corpus → all cells visited; rerankK = corpus → exact top-k
    val ann = LopqSearcher.searchSlim(serving, e, "vec_id", "embedding", qv,
      quota = 10000, k = 5, rerankK = 500)
      .collect().map(_.getAs[Long]("id"))
    val all = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val brute = all.map { case (id, v) => (id, graft.core.VectorOps.l2(qv, v)) }
      .sortBy { case (id, dist) => (dist, id) }.take(5).map(_._1)
    assert(ann.toSeq === brute.toSeq)
  }

  test("catalog q34/q35 run and report sane values") {
    val ann = SparkEntry.queries("q34_lopq_ann")(spark, sf)
    assert(ann.count() === 5 * 10)
    val rec = SparkEntry.queries("q35_lopq_recall")(spark, sf).collect()
    assert(rec.length === 5)
    rec.foreach(r => assert(r.getAs[Double]("recall") >= 0.0 && r.getAs[Double]("recall") <= 1.0))
  }
}
