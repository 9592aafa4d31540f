package graft.plans

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The billion-vector IVF layout made physical: the assigned base table is
  * written PARTITIONED BY cell, so an nprobe-cell probe reads nprobe/k of
  * the directories — the bytes for unprobed cells are never opened.
  * Pruning is DYNAMIC: the probe side (queries × nearest centroids) is a
  * runtime-computed dimension, and Spark's dynamic partition pruning
  * turns the cell equi-join into a directory filter on the scan. This is
  * the disk layout the in-memory s03 plan simulates with an equi-join.
  */
object IvfCellLayout {

  private def basePath(path: String) = s"$path/base"
  private def centroidPath(path: String) = s"$path/centroids"

  /** One-time layout build: k-means assignment, base written by cell,
    * centroid table (k rows) alongside. */
  def build(spark: SparkSession, dir: String, path: String, k: Int = 16): Unit = {
    import org.apache.spark.ml.functions.array_to_vector
    val base = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // deterministic sample-trained quantizer shared with the in-memory plan
    val model = graft.operators.Similarity.trainQuantizer(base, k)
    val e = base.withColumn("features",
      array_to_vector(col("embedding").cast("array<double>")))
    model.transform(e)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(basePath(path))
    spark.createDataFrame(
      model.clusterCenters.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(centroidPath(path))
  }

  /** Probe: nearest nprobe cells per query, exact cosine re-rank of ONLY
    * those cells' partitions (dynamic partition pruning on the cell join). */
  def topK(spark: SparkSession, path: String, k: Int, nprobe: Int): DataFrame = {
    val base = spark.read.parquet(basePath(path))
    val centroids = spark.read.parquet(centroidPath(path))
    val queries = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // codegen'd kernel — bit-identical to the aggregate(zip_with(...))
    // squared-distance spelling (sequential double accumulation), minus
    // the interpreted per-element lambda (guide §4)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("dist", GraftFunctions.l2SqDist(col("q_emb"), col("centroid")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("raw_cos").desc, col("vec_id"))
    base.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("raw_cos", GraftFunctions.cosineSim(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        graft.operators.OracleRound.stableRound(col("raw_cos"), 4).as("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
}
