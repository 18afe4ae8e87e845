package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.engine.ReleaseShape

/** Seeded inputs. Every vector is a pure function of (seed, stream, index),
  * so the same seed gives the same queries, batches and documents. */
object Inputs {
  private val Shape = Fixture.Shape
  val Dim: Int = Shape.rawDim

  /** Jitter around a corpus row: small against the unit noise that
    * separates rows of one center, so the row stays the true neighbour. */
  val QueryJitter = 0.3f
  /** Jitter of a planted near-duplicate in an ingest batch. */
  val DupJitter = 0.05f

  private def rng(seed: Long, stream: Long, i: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + stream * 1000003L + i)

  def jittered(src: Long, sigma: Float, r: java.util.Random): Array[Float] =
    ReleaseShape.rowVecFor(Shape, src).map(x => x + sigma * r.nextGaussian().toFloat)

  /** A vector unrelated to any corpus row, at the corpus' scale. */
  def fresh(r: java.util.Random): Array[Float] =
    Array.fill(Dim)(4f * r.nextGaussian().toFloat)

  /** Serve request `i`: every fifth is a fresh vector, the rest jittered
    * corpus rows (each has a true neighbour). The mix is fixed so runs with
    * different seeds carry the same load. */
  def serveQuery(seed: Long, i: Long): Array[Float] = {
    val r = rng(seed, 1, i)
    if (math.floorMod(i, 5L) != 4) jittered(math.floorMod(r.nextLong(), Shape.n), QueryJitter, r)
    else fresh(r)
  }

  /** Evaluation query `j`: a jittered row of `[0, n)` and its source row.
    * The evaluation set is the same in every run, like the fixed query set
    * of the reference's `lopq/eval.py`, so recall is comparable run to run
    * while the load around it follows the run's seed. */
  def evalQuery(j: Long, n: Long): (Long, Array[Float]) = {
    val r = rng(EvalSeed, 4, j)
    val src = math.floorMod(r.nextLong(), n)
    (src, jittered(src, QueryJitter, r))
  }
  val EvalSeed = 20170301L

  /** Whether row `j` of a batch is a planted near-duplicate: exactly
    * `dupsPer` in every 10 rows. */
  private def planted(j: Int, dupsPer10: Int): Boolean = j % 10 < dupsPer10

  /** Ingest vector batch of `rows` rows with ids from `firstId`: `dupsPer10`
    * in 10 are near-duplicates of seeded indexed rows `[0, indexed)`, the
    * rest fresh vectors. */
  def vectorBatch(seed: Long, cycle: Long, firstId: Long, rows: Int, dupsPer10: Int,
      indexed: Long): Seq[(Long, Array[Float])] = {
    val r = rng(seed, 2, cycle)
    (0 until rows).map { j =>
      val v =
        if (planted(j, dupsPer10)) jittered(math.floorMod(r.nextLong(), indexed), DupJitter, r)
        else fresh(r)
      (firstId + j, v)
    }
  }

  /** Ingest document batch: `dupsPer10` in 10 are edits (two substituted
    * words) of seeded corpus documents, the rest fresh documents. */
  def docBatch(seed: Long, cycle: Long, firstId: Long, rows: Int, dupsPer10: Int,
      corpusDocs: Int): Seq[(Long, String)] = {
    val r = rng(seed, 3, cycle)
    (0 until rows).map { j =>
      val text =
        if (planted(j, dupsPer10)) Docs.edit(Docs.corpusText(r.nextInt(corpusDocs).toLong), 2, r.nextLong())
        else Docs.text(r.nextLong())
      (firstId + j, text)
    }
  }
}

/** Exact top-k by brute force over generated corpus rows, on the driver
  * and outside every timed region. */
object Exact {
  def topK(queries: Seq[Array[Float]], ids: Long, k: Int): Seq[Seq[Long]] = {
    val parts = Harness.Cores
    val chunk = (ids + parts - 1) / parts
    val partial = (0 until parts).map { p =>
      java.util.concurrent.CompletableFuture.supplyAsync { () =>
        val heaps = queries.map(_ =>
          new java.util.PriorityQueue[(Double, Long)](k + 1,
            Ordering.Tuple2[Double, Long].reverse))
        var id = p * chunk
        while (id < math.min(ids, (p + 1) * chunk)) {
          val v = ReleaseShape.rowVecFor(Fixture.Shape, id)
          queries.indices.foreach { qi =>
            val q = queries(qi)
            var d = 0.0
            var i = 0
            while (i < v.length) { val x = (q(i) - v(i)).toDouble; d += x * x; i += 1 }
            val h = heaps(qi)
            h.add((d, id))
            if (h.size > k) h.poll()
          }
          id += 1
        }
        heaps.map(h => h.toArray.map(_.asInstanceOf[(Double, Long)]).toSeq)
      }
    }.map(_.join())
    queries.indices.map(qi =>
      partial.flatMap(_(qi)).sorted.take(k).map(_._2))
  }

  /** [[topK]], kept in a file under `work` named by a digest of the
    * queries, the row count, `k` and `sources` (the digest of the sources
    * the corpus rows come from), so each evaluation set is brute-forced
    * once per workspace. */
  def topKCached(work: String, sources: String, queries: Seq[Array[Float]], ids: Long,
      k: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s"$sources/$ids/$k".getBytes(UTF_8))
    queries.foreach(q => md.update(q.mkString("/", ",", "").getBytes(UTF_8)))
    val path = Paths.get(work, s"truth-${md.digest().take(8).map(b => f"$b%02x").mkString}.txt")
    if (Files.exists(path))
      Files.readAllLines(path, UTF_8).asScala.toSeq.map(_.split(" ").toSeq.map(_.toLong))
    else {
      val truth = topK(queries, ids, k)
      val tmp = Paths.get(s"$path.tmp")
      Files.write(tmp, truth.map(_.mkString(" ")).mkString("\n").getBytes(UTF_8))
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      truth
    }
  }

  def recall(found: Seq[Long], truth: Seq[Long]): Double =
    truth.toSet.intersect(found.toSet).size.toDouble / truth.size
}
