package graft.operators

import graft.functions.Vec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Index artifacts ARE tables (SURVEY §3): the kNN/projection graph is
  * an edge DataFrame, the IVF quantizer is a centroid DataFrame plus a
  * cell assignment. Persisting them is plain partitioned parquet —
  * loadable by any Spark job (or any parquet reader), joinable,
  * incrementally rebuildable per partition. The reference serializes
  * the same artifacts as custom binary blobs
  * (hnsw_with_bridges_optimized.py:310-378 save/load_layer0,
  * README_RoarGraph.md §格式); parquet is the cluster-native form.
  */
object IndexStore {

  /** Write a graph edge table bucketed-by-source for co-located
    * traversal joins (repartition on src so each file holds whole
    * adjacency lists). */
  def saveGraph(edges: DataFrame, path: String): Unit =
    edges.repartition(col("src")).sortWithinPartitions(col("src"))
      .write.mode("overwrite").parquet(path)

  def loadGraph(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Persist an IVF index: centroids + assigned base vectors
    * partitioned by cell id, so a probe reads only its cells' files. */
  def saveIvf(cents: DataFrame, assigned: DataFrame, path: String): Unit = {
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    assigned.write.mode("overwrite")
      .partitionBy("cid").parquet(s"$path/cells")
  }

  def loadIvf(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/cells"))

  /** Probe a PERSISTED IVF index with Ivf.search: each query's
    * nearest-nprobe cells are ranked on the driver against the loaded
    * centroids, the scan lists and reads only the probed cells'
    * partitions (partition filter on cid), and one VectorTopKJoin pass
    * scores each row against the queries probing its cell → exact
    * top-k (qid, rnk, bid, dist). */
  def searchPersisted(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      nprobe: Int,
      k: Int): DataFrame = {
    val (cents, cells) = loadIvf(spark, path)
    Ivf.search(cells, cents, queries, nprobe, k)
  }
}
