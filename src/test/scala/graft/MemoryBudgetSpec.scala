package graft

import org.apache.spark.graft.TestSparkConf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

import graft.core.MemoryBudget
import graft.ops.{EngineOps, TextOps, TextScreen, VectorQueries}

/** The engine's one memory budget `B`: at the 1g default (and with the
  * cap off) every derived gate equals the constant it replaced, and every
  * gate forced to each side (the default budget, and 0 — or a small
  * positive budget for the semdedup chunk count) gives row-identical
  * output, on the sf0.001 inputs and on generated small frames. The forced
  * runs disable Catalyst's own broadcast thresholds, so a gate that does
  * not broadcast really shuffles. */
class MemoryBudgetSpec extends SparkSpec {
  graft.functions.GraftFunctions.register(spark)

  private val MiB = 1L << 20
  private val Mi = 1L << 20

  /** Every gate of the table: its name, its value at budget `b`, and the
    * constant it replaced (the value at 1g). */
  private def gates(b: Long): Seq[(String, Long, Long)] = Seq(
    ("annJoin ship ADC tables", MemoryBudget.shipTablesMaxBytes(b), 64 * MiB),
    ("annJoin halves dictionary", MemoryBudget.halvesDictMaxBytes(b), 256 * MiB),
    ("annJoin probe matrix", MemoryBudget.qvecMaxBytes(b), 512 * MiB),
    ("annJoin wide-pair floor", MemoryBudget.fatShuffleFloorBytes(b), 256 * MiB),
    ("annJoin query-side broadcast", MemoryBudget.qsideBroadcastMaxBytes(b), 1024 * MiB),
    ("annJoin broadcast candidates", MemoryBudget.broadcastCandMaxRows(b), 4 * Mi),
    ("annJoin handle slice memo", MemoryBudget.sliceMemoBytes(b), 1024 * MiB),
    ("skinny map build side rows", MemoryBudget.mapMaxRows(b), 4 * Mi),
    ("id-list build side rows", MemoryBudget.idListMaxRows(b), 8 * Mi),
    ("semdedup chunk assignment rows", MemoryBudget.idListMaxRows(b), 8 * Mi),
    ("slice LRU bytes", MemoryBudget.sliceLruBytes(b), 64 * MiB))

  private def withMaxResultSize[A](v: String)(body: => A): A = {
    val sc = spark.sparkContext
    val saved = TestSparkConf.get(sc, "spark.driver.maxResultSize")
    TestSparkConf.set(sc, "spark.driver.maxResultSize", v)
    try body
    finally saved match {
      case Some(s) => TestSparkConf.set(sc, "spark.driver.maxResultSize", s)
      case None => TestSparkConf.remove(sc, "spark.driver.maxResultSize")
    }
  }

  private def withoutAutoBroadcast[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A frame's rows, rendered and sorted: equal iff row-identical. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def params(minSuccessful: Int, seed: Long) =
    Test.Parameters.default.withMinSuccessfulTests(minSuccessful)
      .withInitialSeed(org.scalacheck.rng.Seed(seed))

  private val B = MemoryBudget.UnboundedBudget // B at the 1g default

  test("at 1g and with maxResultSize = 0 every derived gate equals the constant it replaced") {
    Seq("1g" -> B, "0" -> MemoryBudget.UnboundedBudget).foreach { case (size, want) =>
      withMaxResultSize(size) {
        val b = MemoryBudget.budgetOf(spark)
        assert(b === want, s"maxResultSize=$size")
        assert(MemoryBudget.current === b)
        gates(b).foreach { case (gate, got, replaced) =>
          assert(got === replaced, s"$gate at maxResultSize=$size")
        }
      }
    }
    assert(B === 512 * MiB)
    // the semdedup chunk count takes a second chunk one row past its cap
    // (dim 1 keeps the scratch bound out of it)
    assert(VectorQueries.semDedupChunkCount(8 * Mi, 1, spark) === 1)
    assert(VectorQueries.semDedupChunkCount(8 * Mi + 1, 1, spark) === 2)
    // a zero cap counts as one row, never as a division by zero
    assert(VectorQueries.semDedupChunkCount(5, 1, spark, budget = 0L) === 5)
    // a budget raised through the context conf moves every gate with it
    withMaxResultSize("8g") {
      assert(MemoryBudget.sliceLruBytes(MemoryBudget.budgetOf(spark)) === 512 * MiB)
    }
  }

  test("sf0.001: every gate forced to each side gives row-identical output") {
    withoutAutoBroadcast {
      // CC node map and id-list anti-join, on q94's pairs and q95's losers
      val edges = SparkEntry.queries("q94_semdedup_cells")(spark, sf)
        .select("id_a", "id_b").localCheckpoint()
      assert(edges.count() > 0, "fixture must have near-dup pairs")
      val comps = TextOps.minLabelComponents(edges, B)
      assert(rows(comps) === rows(TextOps.minLabelComponents(edges, 0L)))
      val e = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id")
      val losers = comps.where(col("id") =!= col("comp")).select(col("id").as("vec_id"))
      val kept = TextOps.antiJoinIds(e, "vec_id", losers, B)
      val keptShuffled = TextOps.antiJoinIds(e, "vec_id", losers, 0L)
      assert(rows(kept) === rows(keptShuffled))
      assert(kept.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      assert(!keptShuffled.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))

      // the text screen's band join and its sim-tier anti-join
      val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
      val (corpus, batch) = (docs.where(col("doc_id") % 5 =!= 0), docs.where(col("doc_id") % 5 === 0))
      val (pairs, tierPairs) = assertScreensAgree(corpus, batch, "sf0.001")
      info(s"sf0.001 screen: $pairs MinHash pairs, $tierPairs sim-tier pairs")

      // the chunked semdedup, one chunk vs as many as a small budget asks for
      val h = EngineOps.index(spark, sf)
      val cells = h.codes.select(col("id"),
        (col("coarse0").cast("long") * h.slim.v + col("coarse1")).as("cell_id"))
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val n = VectorQueries.semDedupChunkCount(cells.count(), h.slim.dim, spark, budget = 64L * 200)
      assert(n > 1, s"a 200-row assignment cap must take more than one chunk, got $n")
      assert(VectorQueries.semDedupChunkCount(cells.count(), h.slim.dim, spark) === 1)
      assert(chunked(cells, emb, VectorQueries.NearDupSimThreshold, n) ===
        chunked(cells, emb, VectorQueries.NearDupSimThreshold, 1))
    }
  }

  /** All chunks' pair rows of a chunked semdedup sweep. */
  private def chunked(cells: DataFrame, vecs: DataFrame, th: Double, n: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    VectorQueries.semDedupPairsChunked(cells, vecs, "vec_id", "embedding", th, n) {
      (df, _) => out ++= rows(df)
    }
    out.result().sorted
  }

  /** The screen at the default budget and at 0: the same MinHash pairs and
    * the same simhash-tier pairs, the band rows broadcast only at the
    * default. Returns how many pairs of each kind they agreed on. */
  private def assertScreensAgree(corpus: DataFrame, batch: DataFrame,
      what: String): (Int, Int) = {
    val bits = TextOps.simhashBits(spark)
    val sigs = TextOps.minhashSigsOf(corpus, TextOps.lshParams(spark)).localCheckpoint()
    val tier = Some((TextOps.simhashSigsOf(corpus, bits).localCheckpoint(), bits))
    val byDefault = TextScreen.screenImpl(corpus, sigs, batch, tier, B)
    val forced = TextScreen.screenImpl(corpus, sigs, batch, tier, 0L)
    assert(byDefault.bandsBroadcast && !forced.bandsBroadcast, what)
    val (pairs, tierPairs) = (rows(byDefault.pairs), rows(byDefault.sims.get._1))
    assert(pairs === rows(forced.pairs), s"$what: MinHash pairs")
    assert(tierPairs === rows(forced.sims.get._1), s"$what: sim-tier pairs")
    (pairs.size, tierPairs.size)
  }

  test("generated frames: every gate forced to each side gives row-identical output") {
    import spark.implicits._
    withoutAutoBroadcast {
      // graphs: cliques, paths and random edges over a few dozen ids
      val graphs = for {
        ids <- Gen.nonEmptyListOf(Gen.choose(0L, 500L)).map(_.distinct.take(30))
        pairs <- Gen.listOf(Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
        dropped <- Gen.someOf(ids)
      } yield (ids, pairs.filter(p => p._1 != p._2).take(60), dropped.toSeq)
      val graphProp = Prop.forAll(graphs) { case (ids, pairs, dropped) =>
        val edges = pairs.toDF("id_a", "id_b")
        val compsOk = pairs.isEmpty ||
          rows(TextOps.minLabelComponents(edges, B)) === rows(TextOps.minLabelComponents(edges, 0L))
        val corpus = ids.map(i => (i, s"v$i")).toDF("doc_id", "text")
        val losers = dropped.toDF("doc_id")
        val antiOk = rows(TextOps.antiJoinIds(corpus, "doc_id", losers, B)) ===
          rows(TextOps.antiJoinIds(corpus, "doc_id", losers, 0L))
        Prop(compsOk && antiOk) :| s"ids $ids pairs $pairs dropped $dropped"
      }
      val g = Test.check(params(6, 18L), graphProp)
      assert(g.passed, g.status.toString)

      // text corpora with planted exact and near copies across the split
      var agreed = (0, 0)
      val textProp = Prop.forAll(Gen.choose(0L, Long.MaxValue), Gen.choose(30, 70)) { (seed, n) =>
        val rnd = new scala.util.Random(seed)
        val texts = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
        (0 until n).foreach { i =>
          texts += (if (i > 0 && rnd.nextInt(4) == 0) {
            val src = texts(rnd.nextInt(i))
            src.map(t => if (rnd.nextDouble() < 0.05) s"x${rnd.nextInt(300)}" else t)
          } else Seq.fill(20 + rnd.nextInt(20))(s"w${rnd.nextInt(300)}"))
        }
        val docs = texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
          .toDF("doc_id", "text")
        val (p, tp) = assertScreensAgree(docs.where(col("doc_id") % 4 =!= 0),
          docs.where(col("doc_id") % 4 === 0), s"seed $seed n $n")
        agreed = (agreed._1 + p, agreed._2 + tp)
        Prop.passed
      }
      val t = Test.check(params(3, 19L), textProp)
      assert(t.passed, t.status.toString)
      assert(agreed._1 > 0 && agreed._2 > 0, s"no screen found pairs of both kinds: $agreed")

      // vectors in a few cells, swept in one chunk and in the four a
      // four-row assignment cap asks for
      val vecProp = Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
        val rnd = new scala.util.Random(seed)
        val dim = 4 + rnd.nextInt(4)
        val rowsIn = (0 until 16).map(i => (i.toLong, rnd.nextInt(3).toLong,
          Seq.fill(dim)(rnd.nextGaussian().toFloat)))
        val cells = rowsIn.map(r => (r._1, r._2)).toDF("id", "cell_id")
        val vecs = rowsIn.map(r => (r._1, r._3)).toDF("vec_id", "embedding")
        val n = VectorQueries.semDedupChunkCount(rowsIn.size.toLong, dim, spark, budget = 64L * 4)
        Prop(n == 4 && chunked(cells, vecs, 0.3, n) == chunked(cells, vecs, 0.3, 1)) :|
          s"seed $seed chunks $n"
      }
      val v = Test.check(params(4, 20L), vecProp)
      assert(v.passed, v.status.toString)
    }
  }
}
