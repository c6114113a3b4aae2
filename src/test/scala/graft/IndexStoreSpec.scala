package graft

import graft.functions.Vec
import graft.operators.{BruteForce, IndexStore, Ivf, TopK}
import graft.queries.VectorQs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class IndexStoreSpec extends AnyFunSuite with SharedSpark with AdaptiveSparkPlanHelper {

  test("graph save/load roundtrip preserves edges") {
    val dir = Files.createTempDirectory("graphidx").toString
    val g = VectorQs.knnGraph(spark, sf)
    IndexStore.saveGraph(g, s"$dir/knn")
    val back = IndexStore.loadGraph(spark, s"$dir/knn")
    assert(back.count() == g.count())
    assert(back.join(g, Seq("src", "rnk", "dst")).count() == g.count())
  }

  test("persisted IVF index answers searches (with cid partition pruning)") {
    val dir = Files.createTempDirectory("ivfidx").toString
    val emb = Tables.t(spark, sf, "embeddings")
    val cents = Ivf.centroids(emb, 8, 2)
    val assigned = Ivf.assign(emb, cents)
    IndexStore.saveIvf(cents, assigned, s"$dir/ivf")
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def rows(df: DataFrame) =
      df.select(col("qid"), col("rnk"), col("bid"), col("dist"))
        .orderBy(col("qid"), col("rnk")).collect().toSeq
    val cells = cents.count().toInt

    // probing every cell is exact search: the answer is brute force's
    // top-5, ties broken by id
    val exact = BruteForce.topk(
      emb.select(col("vec_id").as("bid"), col("embedding").as("bv")), queries, "l2", 5)
      .withColumnRenamed("score", "dist")
    val all = IndexStore.searchPersisted(spark, s"$dir/ivf", queries, nprobe = cells, k = 5)
    assert(rows(all).size == queries.count() * 5)
    assert(rows(all) == rows(exact))

    // probing fewer cells: the scan reads only the probed cells'
    // partitions (the non-empty cells among each query's 2 nearest)
    val res = IndexStore.searchPersisted(spark, s"$dir/ivf", queries, nprobe = 2, k = 5)
    assert(res.collect().nonEmpty) // runs res's own plan, whose scan is inspected below
    val probed = TopK.perGroup(
      queries.crossJoin(cents).select(col("qid"), col("cid"),
        Vec.l2sqFast(col("qv"), col("cv")).as("d2")),
      "qid", "cid", "d2", 2, asc = true)
      .join(assigned.select(col("cid")).distinct(), Seq("cid"))
      .select(col("cid")).distinct().count()
    val nonEmpty = assigned.select(col("cid")).distinct().count()
    assert(probed < nonEmpty, "the fixture must leave some cells unprobed")
    val scans = collect(res.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, res.queryExecution.executedPlan.toString)
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty, "cid filter must prune partitions")
    assert(scan.metrics("numPartitions").value == probed,
      s"scan read ${scan.metrics("numPartitions").value} cell partitions, probed $probed")
  }
}
