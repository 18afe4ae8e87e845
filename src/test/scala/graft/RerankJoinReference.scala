package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.engine.LopqSearcher
import graft.functions.VectorFunctions

/** The two join forms of the exact rerank that stood before the join-free
  * id lookup ([[graft.engine.LopqSearcher.rerankExact]]), each body copied
  * unchanged; the specs pin the production rerank against them. */
object RerankJoinReference {

  /** The earlier Scan shape: the prefix broadcast against a streaming scan
    * of the whole table. */
  def rerankScan(approx: DataFrame, vectors: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val qLit = array(query.map(lit): _*)
    def rerank(rows: DataFrame): DataFrame = rows
      .withColumn("exact_dist", sqrt(VectorFunctions.l2DistanceSq(qLit, col("vec"))))
      .orderBy(col("exact_dist"), col("id"))
      .limit(k)
      .select(col("id"), col("adc_dist"), col("exact_dist"))
    val vecs = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    rerank(vecs.join(broadcast(approx.select("id", "adc_dist")), "id"))
  }

  /** The earlier Lookup shape: the collected prefix becomes a local
    * DataFrame of the table's id type, broadcast-joined to the pushed id
    * IN-list read of the table. */

  def rerankLookup(approx: DataFrame, vectors: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val spark = vectors.sparkSession
    val qLit = array(query.map(lit): _*)
    def rerank(candidates: DataFrame, prefixDf: DataFrame): DataFrame =
      candidates.select(col(idCol).as("id"), col(vecCol).as("vec"))
        .join(broadcast(prefixDf), "id")
        .withColumn("exact_dist", sqrt(VectorFunctions.l2DistanceSq(qLit, col("vec"))))
        .orderBy(col("exact_dist"), col("id"))
        .limit(k)
        .select(col("id"), col("adc_dist"), col("exact_dist"))
    val prefix = approx.select("id", "adc_dist").collect()
    val prefixSchema = StructType(Seq(
      StructField("id", vectors.schema(idCol).dataType),
      StructField("adc_dist", DoubleType)))
    val prefixDf = spark.createDataFrame(
      java.util.Arrays.asList(prefix.map(r => Row(r.get(0), r.getDouble(1))): _*),
      prefixSchema)
    LopqSearcher.ensureInPushdown(spark, prefix.length)
    val candidates =
      if (prefix.isEmpty) vectors.where(lit(false))
      else vectors.where(col(idCol).isin(prefix.map(_.get(0)).toSeq: _*))
    rerank(candidates, prefixDf)
  }
}
