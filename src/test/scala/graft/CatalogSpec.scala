package graft

import org.apache.spark.sql.functions._

/** Smoke + semantic checks of the query catalog at sf0.001 (the DuckDB
  * hash-parity gate runs driver-side at sf0.01; these assert the semantics
  * hold independent of the oracle). */
class CatalogSpec extends SparkSpec {

  test("every catalog query runs at sf0.001 and yields a stable schema") {
    SparkEntry.catalog.foreach { q =>
      val df = q.run(spark, sf)
      val n = df.count()
      assert(n >= 0, s"${q.name} failed")
      assert(df.columns.nonEmpty, s"${q.name} no columns")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys and non-empty") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.nonEmpty)
  }

  test("q05 aggregates match a hand computation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val expected = li.where(col("l_returnflag") === "A").count()
    val got = SparkEntry.queries("q05_group_agg")(spark, sf)
      .where(col("l_returnflag") === "A")
      .agg(sum("cnt")).head.getLong(0)
    assert(got === expected)
  }

  test("q25 LSH pairs all meet the jaccard threshold and are canonical") {
    val df = SparkEntry.queries("q25_minhash_lsh_pairs")(spark, sf)
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
  }

  /** r19 (VERDICT r18 #5): q64's `.distinct()` over the bucket join's
    * multi-band duplicates became a min-band filter (each pair emitted
    * once, from its lowest colliding band) — zero shuffle instead of an
    * Exchange + 2×HashAggregate. The row SET must be exactly the DISTINCT
    * formulation's: rebuilt here from the same band rows, independent of
    * the shipped plan. */
  test("q64 min-band emission ≡ the DISTINCT formulation, row for row") {
    import graft.ops.TextOps
    import graft.functions.TextFunctions
    val got = SparkEntry.queries("q64_simhash_hamming_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === got.toSet.size, "a pair surfaced from two bands")
    val docs = graft.ops.Tables(spark, sf, "documents")
    val sig = TextOps.simhashSigsOf(docs, 32).localCheckpoint()
    val bands = TextOps.simhashBandRowsOf(sig, 32)
    val ham = TextFunctions.hammingDistance(col("a.sh"), col("b.sh"))
    val want = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig")
          && col("a.doc_id") < col("b.doc_id"))
      .where(ham <= 3)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        ham.as("hamming"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet === want.toSet)
  }

  test("q33 LSH near-dup candidates are a subset of exact near-dups (q32)") {
    val lsh = SparkEntry.queries("q33_lsh_neardup")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("q32_embed_neardup")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  /** SemDeDup's recall trade is PRINCIPLED: q94 must return exactly the
    * q32 exact near-dup pairs whose endpoints the trained coarse
    * quantizer assigned to the same cell — no more (precision: the
    * cosine gate is identical) and no fewer (the within-cell sweep is
    * all-pairs). Recomputed here from the persisted codes independently
    * of both query plans. */
  test("q94 semdedup ≡ q32 exact pairs restricted to same-cell endpoints") {
    val h = graft.ops.EngineOps.index(spark, sf)
    val v = h.slim.v
    val cell = h.codes.select("id", "coarse0", "coarse1").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("coarse0").toLong * v + r.getAs[Int]("coarse1"))).toMap
    val exact = SparkEntry.queries("q32_embed_neardup")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exact.filter { case (a, b) => cell(a) == cell(b) }
    val got = SparkEntry.queries("q94_semdedup_cells")(spark, sf)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got === want)
  }

  /** The multi-probe sweep must be exactly the q32 exact pairs restricted
    * to endpoints sharing ANY probed (top-2) cell — a superset of q94's
    * rank-0-cell pairs — and the collapse must leave each pair exactly
    * once even when both cells are shared. */
  test("q104 multi-probe semdedup ≡ exact pairs sharing any probed cell; ⊇ q94") {
    val h = graft.ops.EngineOps.index(spark, sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probed = graft.engine.LopqIndexStore
      .assignCellsMulti(spark, h.dir, emb, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cell_id"))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val exact = SparkEntry.queries("q32_embed_neardup")(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exact.filter { case (a, b) => (probed(a) & probed(b)).nonEmpty }
    val rows = SparkEntry.queries("q104_semdedup_multiprobe")(spark, sf)
      .collect()
    val got = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(rows.length === got.size, "collapse must leave one row per pair")
    assert(got === want)
    val single = SparkEntry.queries("q94_semdedup_cells")(spark, sf)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(single.subsetOf(got), "multi-probe pairs must cover the single-cell sweep")
  }

  /** The skewed-cell triangular block decomposition must be invisible in
    * the results: forcing every fixture cell over the block bound
    * (blockRows=1 → every multi-member cell splits into n single-row
    * blocks, so every emitted pair crosses a block boundary) has to
    * reproduce the plain sweep's pair set, cosines included. */
  test("semDedupPairs blocked ≡ plain at a forced 1-row cell block size") {
    val h = graft.ops.EngineOps.index(spark, sf)
    val cells = h.codes.select(col("id"),
      (col("coarse0").cast("long") * h.slim.v + col("coarse1")).as("cell_id"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def run(blockRows: Int): Set[(Long, Long, Long, Double)] =
      graft.ops.VectorQueries.semDedupPairs(cells, emb, "vec_id", "embedding",
        blockRows = blockRows)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("cell_id"), r.getAs[Double]("cos_sim"))).toSet
    val plain = run(graft.ops.VectorQueries.CellBlockRows)
    val blocked = run(1)
    assert(blocked === plain)
  }

  /** Randomized brute-force model check for the whole semdedup family:
    * tiny random corpora with FEW cells (so multi-member cells and
    * within-cell collisions are dense), random thresholds, and a random
    * block size each trial — the full sweep must emit exactly the
    * same-cell pairs at or above the threshold, and the incremental pass
    * exactly the subset with ≥ 1 batch endpoint. In the multi-probe
    * trials each batch row carries TWO distinct cells (the ingest screen's
    * top-2 assignment), so the incremental pass's broadcast batch side
    * repeats ids: the expected set is then the pairs sharing any probed
    * cell, collapsed to one row each through `dedupProbePairs`.
    * Deterministic seeds, so a float-vs-double boundary flip cannot flake
    * (and with gaussian data a sim landing within 1e-7 of the threshold
    * has ~zero mass). */
  test("semdedup family matches a brute-force model on random corpora") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(4242L)
    import spark.implicits._
    var multiTrials = 0
    (1 to 5).foreach { trial =>
      val n = 40 + rnd.nextInt(60)
      val dim = 4 + rnd.nextInt(5)
      val nCells = 1 + rnd.nextInt(6)
      val th = 0.3 + rnd.nextDouble() * 0.5
      val blockRows = 1 + rnd.nextInt(8)
      val rows = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(nCells).toLong,
          Array.fill(dim)(rnd.nextGaussian().toFloat))
      }
      val cells = rows.map { case (id, c, _) => (id, c) }.toDF("id", "cell_id")
      val vecs = rows.map { case (id, _, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val brute = (for {
        (ia, ca, va) <- rows; (ib, cb, vb) <- rows
        if ia < ib && ca == cb && cos(va, vb) >= th
      } yield (ia, ib)).toSet
      def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      val full = graft.ops.VectorQueries.semDedupPairs(
        cells, vecs, "vec_id", "embedding", th, blockRows)
      assert(pairsOf(full) === brute, s"full sweep, trial $trial")
      // cosines agree with the double model to rounding
      full.collect().foreach { r =>
        val (a, b) = (r.getAs[Long]("id_a").toInt, r.getAs[Long]("id_b").toInt)
        assert(math.abs(r.getAs[Double]("cos_sim") - cos(rows(a)._3, rows(b)._3)) < 1e-5)
      }
      val isBatch: Long => Boolean = _ % 3 == 0
      def incremental(batchCells: org.apache.spark.sql.DataFrame) =
        graft.ops.VectorQueries.semDedupPairsIncremental(
          cells.where(pmod(col("id"), lit(3)) =!= 0), batchCells,
          vecs.where(pmod(col("vec_id"), lit(3)) =!= 0),
          vecs.where(pmod(col("vec_id"), lit(3)) === 0),
          "vec_id", "embedding", th)
      val incr = incremental(cells.where(pmod(col("id"), lit(3)) === 0))
      val bruteIncr = brute.filter { case (a, b) => isBatch(a) || isBatch(b) }
      assert(pairsOf(incr) === bruteIncr, s"incremental, trial $trial")
      if (nCells >= 2) {
        // multi-probe batch: a second, distinct cell per batch row (its
        // own generator, so the trials' corpora stay those of `rnd`)
        multiTrials += 1
        val rndP = new scala.util.Random(trial.toLong)
        val probed = rows.map { case (id, c, _) =>
          id -> (if (isBatch(id)) Set(c, (c + 1 + rndP.nextInt(nCells - 1)) % nCells)
                 else Set(c))
        }.toMap
        val batchCells = probed.toSeq.filter(p => isBatch(p._1))
          .flatMap { case (id, cs) => cs.map(id -> _) }.toDF("id", "cell_id")
        val multi = graft.ops.VectorQueries.dedupProbePairs(incremental(batchCells))
          .collect()
        val bruteMulti = (for {
          (ia, _, va) <- rows; (ib, _, vb) <- rows
          if ia < ib && (isBatch(ia) || isBatch(ib)) &&
            (probed(ia) & probed(ib)).nonEmpty && cos(va, vb) >= th
        } yield (ia, ib)).toSet
        val got = multi.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
        assert(got.length === got.toSet.size, s"multi-probe collapse, trial $trial")
        assert(got.toSet === bruteMulti, s"multi-probe incremental, trial $trial")
        assert(bruteIncr.subsetOf(bruteMulti))
        multi.foreach { r =>
          val (a, b) = (r.getAs[Long]("id_a").toInt, r.getAs[Long]("id_b").toInt)
          assert(math.abs(r.getAs[Double]("cos_sim") - cos(rows(a)._3, rows(b)._3)) < 1e-5)
        }
      }
    }
    assert(multiTrials > 0, "no trial exercised the multi-probe batch side")
  }

  /** q95's survivor set is exactly the corpus minus q94's non-canonical
    * component members: recompute the components from q94's pairs with a
    * driver-side union-find (independent of TextOps's min-label CC) and
    * check each component keeps precisely its minimum id. */
  test("q95 keeps exactly one canonical survivor per q94 pair component") {
    val pairs = SparkEntry.queries("q94_semdedup_cells")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val root = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = root.getOrElse(x, x)
      if (p == x) x else { val r = find(p); root(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) root(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val losers = members.groupBy(find).values
      .flatMap(g => g.filterNot(_ == g.min)).toSet
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = SparkEntry.queries("q95_semdedup_corpus")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got === (all -- losers))
    assert(losers.nonEmpty, "fixture must exercise at least one dup drop")
  }

  /** Randomized model check of the contract-then-propagate CC rewrite
    * (r13: one l0-contraction round, quotient propagation — the raw-edge
    * propagation ENOSPC'd at the 523M-pair deployment volume): random
    * graphs spanning the shapes that stress each path — pure cliques
    * (quotient empty), long paths (diameter > 1 after contraction, the
    * iterative loop must actually run), stars, and mixed sparse — vs a
    * driver-side union-find. Both broadcast and shuffle mapping paths. */
  test("minLabelComponents ≡ union-find on random clique/path/star/sparse graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 20) {
      val n = 2 + rnd.nextInt(40)
      val ids = (0 until n).map(_ => rnd.nextLong().abs % 1000000L).distinct
      val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      rnd.nextInt(4) match {
        case 0 => // cliques of random sizes
          ids.grouped(1 + rnd.nextInt(6)).foreach { g =>
            for (i <- g.indices; j <- i + 1 until g.length) edges += ((g(i), g(j)))
          }
        case 1 => // one long path: worst diameter
          ids.sliding(2).foreach { case Seq(a, b) => edges += ((a, b)); case _ => }
        case 2 => // stars
          ids.grouped(1 + rnd.nextInt(8)).foreach { g =>
            g.drop(1).foreach(m => edges += ((g.head, m)))
          }
        case _ => // sparse random
          (0 until n).foreach { _ =>
            val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
            if (a != b) edges += ((a, b))
          }
      }
      if (edges.nonEmpty) {
        val root = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = root.getOrElse(x, x)
          if (p == x) x else { val r = find(p); root(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) root(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = edges.flatMap(p => Seq(p._1, p._2)).distinct
          .map(v => (v, find(v))).toSet
        val forceShuffle = trial % 2 == 0
        val budget = if (forceShuffle) 0L else graft.core.MemoryBudget.budgetOf(spark)
        val got = graft.ops.TextOps
          .minLabelComponents(edges.toSeq.toDF("id_a", "id_b"), budget)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === want, s"trial $trial (forceShuffle=$forceShuffle)")
      }
    }
  }

  test("dedupEdgesOf components ≡ raw lshPairs components on planted exact groups") {
    // the r14 exact-content collapse (boilerplate cliques become star
    // edges): component membership — what q63/q72 consume — must equal
    // the raw verified-pair chain's on corpora WITH byte-identical
    // groups, near-dup mutations, and organic uniques mixed
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260816L)
    def tok() = s"w${rnd.nextInt(300)}"
    (0 until 4).foreach { trial =>
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var id = 0L
      (0 until 12).foreach { _ =>
        val base = Array.fill(15 + rnd.nextInt(25))(tok())
        val kind = rnd.nextInt(3)
        val groupN = 2 + rnd.nextInt(4)
        kind match {
          case 0 => // byte-identical group (the collapse target)
            (0 until groupN).foreach { _ =>
              docs += ((id, base.mkString(" "))); id += 1
            }
          case 1 => // near-dup group: light token substitution
            docs += ((id, base.mkString(" "))); id += 1
            (1 until groupN).foreach { _ =>
              val m = base.map(t => if (rnd.nextDouble() < 0.08) tok() else t)
              docs += ((id, m.mkString(" "))); id += 1
            }
          case _ => // organic unique
            docs += ((id, base.mkString(" "))); id += 1
        }
      }
      val df = docs.toSeq.toDF("doc_id", "text").repartition(4)
      def comps(edges: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        graft.ops.TextOps.minLabelComponents(edges.localCheckpoint())
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val raw = comps(graft.ops.TextOps.lshPairsOf(df).select("id_a", "id_b"))
      val collapsed = comps(graft.ops.TextOps.dedupEdgesOf(df))
      assert(collapsed === raw, s"trial $trial")
    }
  }

  test("antiJoinIds selects the id column by NAME and rejects ambiguous frames") {
    // ADVICE r13: taking columns.head of a multi-column frame whose first
    // column is not the id would anti-join on the wrong values silently
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    // idCol present by name but NOT first — must be picked by name
    val byName = Seq(("x", 2L)).toDF("other", "doc_id")
    val got = graft.ops.TextOps.antiJoinIds(corpus, "doc_id", byName)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L))
    // single-column frame under any name still works (the documented shape)
    val single = Seq(3L).toDF("loser")
    val got2 = graft.ops.TextOps.antiJoinIds(corpus, "doc_id", single)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got2 === Set(1L, 2L))
    // multi-column frame without the id column by name: refuse, don't guess
    val bad = Seq(("x", 2L)).toDF("other", "more")
    val ex = intercept[IllegalArgumentException](
      graft.ops.TextOps.antiJoinIds(corpus, "doc_id", bad))
    assert(ex.getMessage.contains("single-column"), ex.getMessage)
  }

  test("q31 brute-force kNN distances are nonnegative and ranked") {
    val rows = SparkEntry.queries("q31_knn_brute")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { g =>
      val ds = g.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("dist"))
      assert(ds.forall(_ >= 0.0))
      assert(ds.sameElements(ds.sorted))
    }
  }

  test("q84 injected PII spans are counted and fully redacted") {
    val rows = SparkEntry.queries("q84_pii_scrub")(spark, sf).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // counts must equal the deterministic injection arithmetic
      assert(r.getAs[Long]("n_email") == id % 4, s"doc $id email count")
      assert(r.getAs[Long]("n_phone") == id % 3, s"doc $id phone count")
      assert(r.getAs[Long]("n_ip") == (id + 1) % 3, s"doc $id ip count")
    }
    // redaction changes the content hash whenever anything matched
    val touched = rows.filter(r => r.getAs[Long]("n_email") +
      r.getAs[Long]("n_phone") + r.getAs[Long]("n_ip") > 0)
    assert(touched.nonEmpty)
  }

  test("q86 span cut acts exactly on q81's duplicated-gram signal") {
    val cut = SparkEntry.queries("q86_dup_span_cut")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_kept"))).toMap
    val spans = SparkEntry.queries("q81_dup_spans")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup")).toMap
    assert(cut.keySet == spans.keySet)
    cut.foreach { case (id, (nTok, nKept)) =>
      assert(nKept <= nTok, s"doc $id kept more than it had")
      // a doc loses tokens iff it has at least one duplicated gram
      assert((nKept < nTok) == (spans(id) > 0), s"doc $id cut/signal mismatch")
    }
    assert(cut.values.exists { case (t, k) => k < t }, "no spans cut at all")
    assert(cut.values.exists { case (t, k) => k == t }, "everything cut")
  }

  test("q87 sample takes exactly min(count, floor(sqrt(token mass))) docs per source") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val expected = docs
      .select(col("source"), size(split(trim(col("text")), " +")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("cnt"), sum("n_tok").as("tok"))
      .collect()
      .map(r => r.getAs[String]("source") ->
        math.min(r.getAs[Long]("cnt"),
          math.sqrt(r.getAs[Long]("tok").toDouble).toLong)).toMap
    val got = SparkEntry.queries("q87_mixture_sample")(spark, sf).collect()
      .groupBy(_.getAs[String]("source")).view.mapValues(_.length.toLong).toMap
    expected.foreach { case (src, n) =>
      assert(got.getOrElse(src, 0L) == n, s"source $src quota mismatch")
    }
  }

  test("q88 packed sequences respect capacity and next-fit order") {
    val C = 512L
    val rows = SparkEntry.queries("q88_sequence_pack")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("shard"), r.getAs[Long]("seq")))
    rows.groupBy(t => (t._3, t._4)).foreach { case ((shard, seq), g) =>
      val tot = g.map(_._2).sum
      // a sequence only exceeds capacity when a single over-capacity doc
      // sits alone in it
      assert(tot <= C || g.length == 1, s"shard $shard seq $seq overflows: $tot")
    }
    rows.groupBy(_._3).foreach { case (shard, g) =>
      val inOrder = g.sortBy(_._1)
      // seq numbers are nondecreasing in doc order and start at 0
      assert(inOrder.head._4 == 0L, s"shard $shard seq does not start at 0")
      inOrder.sliding(2).foreach { case Array(a, b) =>
        assert(b._4 == a._4 || b._4 == a._4 + 1, s"shard $shard seq jumps")
      case _ => ()
      }
      // next-fit: a new sequence opens only when the doc would not fit
      val fills = inOrder.scanLeft((0L, 0L)) { case ((fill, seq), (_, n, _, s2)) =>
        if (s2 == seq && fill > 0) (fill + n, seq) else (n, s2)
      }.drop(1)
      inOrder.zip(fills).sliding(2).foreach {
        case Array(((_, _, _, s1), (f1, _)), ((_, n2, _, s2), _)) =>
          if (s2 == s1 + 1) assert(f1 + n2 > C,
            s"shard $shard split early: fill $f1 + $n2 <= $C")
        case _ => ()
      }
    }
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("q85 mixture weights are max-normalized and compress the head/tail spread") {
    val rows = SparkEntry.queries("q85_domain_mix")(spark, sf).collect()
    val shares = rows.map(_.getAs[Double]("share"))
    val weights = rows.map(_.getAs[Double]("weight"))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    assert(math.abs(weights.max - 1.0) < 1e-9)
    assert(weights.forall(w => w > 0.0 && w <= 1.0))
    // α = 0.5 tempering: the head/tail weight ratio is the sqrt of the
    // share ratio — strictly gentler than proportional sampling
    val spreadShare = shares.max / shares.min
    val spreadWeight = weights.max / weights.min
    assert(spreadWeight < spreadShare)
    assert(math.abs(spreadWeight - math.sqrt(spreadShare)) / spreadWeight < 0.01)
  }
}
