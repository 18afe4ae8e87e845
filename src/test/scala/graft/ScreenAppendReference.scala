package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.{CellMath, UpdateLog}
import graft.engine.{LopqIndexStore, LopqSearcher, RotationSource}
import graft.ops.IngestOps.IngestReport
import graft.ops.VectorQueries

/** The screened vector append as it stood before the one-pass cycle: the
  * bodies of `IngestOps.screenAndAppend`, `IngestOps.screenPairs`,
  * `VectorQueries.screenSurvivors`, `LopqIndexStore.assignCells`,
  * `LopqIndexStore.assignCellsMulti` and `LopqIndexStore.appendUpdate`,
  * copied with their logic unchanged. The batch is projected and assigned once per use
  * (the screen's cells, its broadcasts, the append's touched cells, its
  * encode), and the report takes three counts. The specs pin the one-pass
  * cycle against this second copy: same report, same index state. */
object ScreenAppendReference {

  def screenAndAppend(spark: SparkSession, dir: String,
      corpusVectors: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, updateId: String,
      simThreshold: Double = VectorQueries.NearDupSimThreshold): IngestReport = {
    if (UpdateLog.covers(LopqIndexStore.watermark(spark, dir), updateId))
      return IngestReport(applied = false, 0L, 0L, 0L)
    val b = batch.select(col(idCol), col(vecCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = screenPairs(spark, dir, corpusVectors, b, idCol, vecCol,
        simThreshold).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val flagged = pairs.count()
        val survivors = screenSurvivors(b, idCol, pairs)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val nKept = survivors.count()
          val applied = appendUpdate(spark, dir, survivors,
            idCol, vecCol, updateId)
          IngestReport(applied, b.count(), flagged, nKept)
        } finally { survivors.unpersist(); () }
      } finally { pairs.unpersist(); () }
    } finally { b.unpersist(); () }
  }

  def screenPairs(spark: SparkSession, dir: String, corpusVectors: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String,
      simThreshold: Double): DataFrame = {
    val multi = VectorQueries.screenMultiProbe(spark)
    val batchCells =
      if (multi) assignCellsMulti(spark, dir, batch, idCol, vecCol,
        LopqIndexStore.multiProbeCells(spark))
      else assignCells(spark, dir, batch, idCol, vecCol)
    val pairs = VectorQueries.semDedupPairsIncremental(indexedCells(spark, dir),
      batchCells, corpusVectors, batch, idCol, vecCol, simThreshold)
    if (multi) VectorQueries.dedupProbePairs(pairs) else pairs
  }

  private def indexedCells(spark: SparkSession, dir: String): DataFrame =
    if (LopqIndexStore.hasCodes(spark, dir))
      LopqIndexStore.readCodes(spark, dir)
        .select(col("id"), col("cell_id").cast("long").as("cell_id"))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("cell_id", LongType))))

  def screenSurvivors(batch: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val bids = batch.select(col(idCol).as("_bid"))
    // batch row with ANY smaller-id partner (corpus or batch): drop
    val dSmaller = pairs.join(broadcast(bids), col("id_b") === col("_bid"))
      .select(col("id_b").as(idCol))
    // batch row whose LARGER partner is corpus (already indexed): drop too
    val dCorpusLarger = pairs
      .join(broadcast(bids), col("id_a") === col("_bid"))
      .join(broadcast(bids.withColumnRenamed("_bid", "_bid2")),
        col("id_b") === col("_bid2"), "left_anti")
      .select(col("id_a").as(idCol))
    batch.join(broadcast(dSmaller.union(dCorpusLarger).distinct()),
      Seq(idCol), "left_anti")
  }

  def assignCells(spark: SparkSession, dir: String, df: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cm = LopqIndexStore.cachedModel(spark, dir)
    val (slimB, pcaB) = (cm.slimB, cm.pcaB)
    val u = udf { (v: Seq[Float]) =>
      val x0 = v.toArray
      val x = pcaB.value.map(_(x0)).getOrElse(x0)
      val m = slimB.value
      val (c0, c1) = m.predictCoarse(x)
      c0.toLong * m.v + c1
    }
    df.select(col(idCol).as("id"), u(col(vecCol)).as("cell_id"))
  }

  def assignCellsMulti(spark: SparkSession, dir: String, df: DataFrame,
      idCol: String, vecCol: String, probes: Int): DataFrame = {
    require(probes >= 2,
      s"multi-probe width must be >= 2 (use assignCells for 1), got $probes")
    val cm = LopqIndexStore.cachedModel(spark, dir)
    val (slimB, pcaB) = (cm.slimB, cm.pcaB)
    val u = udf { (v: Seq[Float]) =>
      val x0 = v.toArray
      val x = pcaB.value.map(_(x0)).getOrElse(x0)
      val m = slimB.value
      m.predictCoarseTopP(x, probes).map { case (c0, c1) => c0.toLong * m.v + c1 }
    }
    df.select(col(idCol).as("id"), explode(u(col(vecCol))).as("cell_id"))
  }

  def appendUpdate(spark: SparkSession, dir: String, batch0: DataFrame,
      idCol: String, vecCol: String, updateId: String): Boolean = {
    import LopqIndexStore._
    import spark.implicits._
    if (UpdateLog.covers(watermark(spark, dir), updateId)) return false
    val m = cachedModel(spark, dir)
    val unique = batch0.dropDuplicates(idCol)
    val input =
      if (m.pca.isEmpty) unique
      else {
        val pcaB = m.pcaB
        val applyU = udf((v: Seq[Float]) => pcaB.value.get(v.toArray).toSeq)
        unique.withColumn(vecCol, applyU(col(vecCol)))
      }
    val rows = input.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the batch's touched cells (O(batch) distinct values, driver-bounded)
    // name both the rotation slices the encode needs and the cell
    // directories the dedup scan reads
    val slimB = m.slimB
    val cellU = udf { (vec: Seq[Float]) =>
      val (c0, c1) = slimB.value.predictCoarse(vec.toArray)
      CellMath.cellId(c0, c1, slimB.value.v)
    }
    val touched = rows.select(cellU(col("vec"))).distinct().as[Int].collect().toSeq.sorted
    val rotB = spark.sparkContext.broadcast(
      RotationSource.Fetched(spark, dir).slices(RotationSource.keysOf(touched, m.slim.v)))
    val encoded = LopqSearcher.encodeWith(rows, slimB, rotB)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val deduped =
        if (hasCodes(spark, dir))
          encoded.join(indexedIdsInCells(spark, dir, touched), Seq("id"), "left_anti")
        else encoded
      val batchCounts = deduped.groupBy("cell_id").agg(count(lit(1)).as("cnt"))
        .as[(Int, Long)].collect().toSeq
      val n = batchCounts.map(_._2).sum
      appendCodesDelta(spark, dir, deduped)
      appendCountsDelta(spark, dir, batchCounts)
      UpdateLog.advance(spark, dir, Some(updateId))
      Seq((updateId, n)).toDF("update_id", "n_rows")
        .write.mode(SaveMode.Append).parquet(s"$dir/manifest")
      true
    } finally {
      encoded.unpersist()
      rows.unpersist()
      rotB.destroy()
    }
  }
}
