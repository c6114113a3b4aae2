package graft

import graft.operators.{IndexStore, Ivf, TopK}
import graft.functions.Vec
import graft.plans.VectorTopKJoinExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Ivf.search scores the probed cells in one VectorTopKJoin pass. It
  * must answer row-for-row what the candidate-join form answered: that
  * form is kept here as the reference (queries × centroids → TopKAgg
  * probes → base ⋈ probes ⋈ queries → TopKAgg), the way PqSpec keeps
  * its per-subspace oracle. The corpus has duplicate vectors, so
  * (dist, bid) ties occur, and a duplicated centroid, so every query
  * meets a (d2, cid) probe tie. */
class IvfProbeSpec extends AnyFunSuite with SharedSpark with AdaptiveSparkPlanHelper {

  /** The join form of Ivf.search, verbatim. */
  private def joinSearch(base: DataFrame, cents: DataFrame, queries: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val probed = TopK.perGroup(
      queries.crossJoin(broadcast(cents))
        .select(col("qid").as("g"), col("cid"),
          Vec.l2sqFast(col("qv"), col("cv")).as("d2")),
      "g", "cid", "d2", nprobe, asc = true)
      .select(col("g").as("qid"), col("cid"))
    val cand = base.join(probed.join(queries, Seq("qid")), Seq("cid"))
      .select(col("qid"), col("vec_id").as("bid"),
        Vec.l2Fast(col("qv"), col("embedding")).as("dist"))
    TopK.perGroup(cand, "qid", "bid", "dist", k, asc = true)
  }

  private def rows(df: DataFrame) =
    df.select(col("qid"), col("rnk"), col("bid"), col("dist"))
      .orderBy(col("qid"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  /** Trained cells plus a copy of the first centroid under a new cid;
    * the base is spread round-robin over all cells, so both copies
    * hold rows and the wrong tie-break would change the candidates. */
  private lazy val fixture = {
    val emb = IvfFusedSpec.tieCorpus(spark).localCheckpoint()
    val trained = Ivf.centroids(emb, 4, 2).select(col("cid").cast("long"), col("cv"))
      .orderBy(col("cid")).localCheckpoint()
    val first = trained.head()
    val dupCid = trained.agg(max(col("cid"))).head().getLong(0) + 1
    import spark.implicits._
    val cents = trained.union(Seq((dupCid, first.getSeq[Double](1))).toDF("cid", "cv"))
      .localCheckpoint()
    val cids = cents.select(col("cid")).as[Long].collect().sorted
    val base = emb.withColumn("cid",
      element_at(typedLit(cids.toSeq), (col("vec_id") % cids.length).cast("int") + 1))
      .localCheckpoint()
    val queries = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val maxCell = base.groupBy(col("cid")).count().agg(max(col("count"))).head().getLong(0)
    (base, cents, queries, cids.length, maxCell.toInt)
  }

  test("probe search == join-form search: nprobe {1, 2, all} × k {1, 10, > any cell}") {
    val (base, cents, queries, cells, maxCell) = fixture
    val dir = Files.createTempDirectory("ivfprobe").toString
    IndexStore.saveIvf(cents, base, s"$dir/ivf")
    val (pCents, pCells) = IndexStore.loadIvf(spark, s"$dir/ivf")
    for (nprobe <- Seq(1, 2, cells); k <- Seq(1, 10, maxCell + 5)) {
      val at = s"nprobe=$nprobe k=$k"
      val want = rows(joinSearch(base, cents, queries, nprobe, k))
      assert(want.nonEmpty, at)
      assert(rows(Ivf.search(base, cents, queries, nprobe, k)) == want, s"in-memory $at")
      assert(rows(Ivf.search(pCells, pCents, queries, nprobe, k)) == want, s"persisted $at")
    }
  }

  test("a base row repeated in one partition collapses as in TopKAgg") {
    val (base, cents, queries, _, _) = fixture
    val twice = base.union(base).coalesce(1)
    for (k <- Seq(1, 10)) {
      val want = rows(joinSearch(twice, cents, queries, 2, k))
      assert(want == rows(joinSearch(base, cents, queries, 2, k)))
      assert(rows(Ivf.search(twice, cents, queries, 2, k)) == want, s"k=$k")
    }
  }

  test("probe ranking == TopKAgg over query × centroid d2 (ties and NaN worst)") {
    import spark.implicits._
    val bank = Array(
      Array(1.0, 1.0), Array(Double.NaN, 0.0), Array(0.0, 0.0), Array(1.0, 1.0),
      Array(-1.0, -1.0), Array(0.0, 0.0))
    val cids = Array(7L, 2L, 5L, 3L, 9L, 11L)
    val cents = cids.toSeq.zip(bank.toSeq.map(_.toSeq)).toDF("cid", "cv")
    val qs = Seq((1L, Array(0.5f, 0.5f)), (2L, Array(0f, 0f)), (3L, Array(1f, 1f)))
    val want = TopK.perGroup(
      qs.toDF("qid", "qv").crossJoin(cents)
        .select(col("qid"), col("cid"), Vec.l2sqFast(col("qv"), col("cv")).as("d2")),
      "qid", "cid", "d2", cids.length, asc = true)
      .orderBy(col("qid"), col("rnk")).select(col("qid"), col("cid")).as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSeq }
    for ((qid, qv) <- qs; np <- 1 to cids.length)
      assert(Ivf.probeCells(qv, cids, bank, np).toSeq == want(qid).take(np), s"q=$qid np=$np")
    // the NaN cell ranks after every finite one
    assert(Ivf.probeCells(qs.head._2, cids, bank, cids.length).last == 2L)
  }

  test("ivf_search plans and runs VectorTopKJoinExec in probe mode") {
    val df = queries.VectorQs3.ivfSearch.fn(spark, sf)
    assert(df.collect().nonEmpty)
    val ops = collect(df.queryExecution.executedPlan) { case e: VectorTopKJoinExec => e }
    assert(ops.size == 1, df.queryExecution.executedPlan.toString)
    val op = ops.head
    assert(op.probes.isDefined)
    assert(op.metrics("numQueries").value > 0)
    assert(op.metrics("numProbedCells").value > 0)
    assert(op.metrics("numScored").value > 0)
  }
}
