package graft

import graft.operators.{Ivf, Par, Pq}
import graft.queries.{VectorQs, VectorQs3}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization invariants: codes are deterministic and
  * m-wide, the ADC+rerank search substantially agrees with the exact
  * L2 groundtruth, and quantized candidates beat random chance by a
  * wide margin (8 bytes/vector vs 256 — the whole point at 100 TB). */
class PqSpec extends AnyFunSuite with SharedSpark {

  /** Each sf0.001 64d embedding tiled to 200d the deterministic way
    * (repeat + trim), every 40th vector: the 200d shape where the
    * data-sized m reaches 25 and 50. */
  private def tiled200 = Tables.t(spark, sf, "embeddings")
    .filter(col("vec_id") % 40 === 0)
    .select(col("vec_id"),
      slice(concat(col("embedding"), col("embedding"), col("embedding"), col("embedding")),
        1, 200).as("embedding"))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("sub"), col("cid"), col("cv")).orderBy(col("sub"), col("cid"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toList)).toList

  /** The per-subspace oracle: m independent Ivf.centroids k-means over
    * the slices (DataFrame branch — no hint), the training path the
    * one-read Pq.train replaced. The chains are independent, so they
    * fork onto a driver pool (`emb` must be materialized). */
  private def perSubspace(emb: org.apache.spark.sql.DataFrame, dim: Int, m: Int,
      ksub: Int, iters: Int) = {
    val dsub = dim / m
    Par.withPool { par =>
      (0 until m).map { s =>
        par.fork(canon(Ivf.centroids(emb.select(col("vec_id"),
            slice(col("embedding"), s * dsub + 1, dsub).as("embedding")), ksub, iters)
          .select(lit(s).as("sub"), col("cid"), col("cv"))))
      }.toList.flatMap(_())
    }
  }

  /** Driver branch (hinted), DataFrame branch (no hint) and the
    * per-subspace oracle must produce identical (sub, cid, cv) rows;
    * returns the shared codebook. */
  private def compareBranches(emb: org.apache.spark.sql.DataFrame, n: Long, dim: Int,
      m: Int, ksub: Int, iters: Int) = {
    val driver = canon(Pq.train(emb, dim, m, ksub, iters, nHint = Some(n)))
    val scans = canon(Pq.train(emb, dim, m, ksub, iters))
    val oracle = perSubspace(emb, dim, m, ksub, iters)
    val at = s"m=$m ksub=$ksub iters=$iters"
    assert(oracle.map(_._1).distinct == (0 until m), s"$at oracle subspaces")
    assert(driver == oracle, s"driver-branch train diverged from the oracle at $at")
    assert(scans == oracle, s"DataFrame-branch train diverged from the oracle at $at")
    oracle
  }

  test("train: driver branch == DataFrame branch == per-subspace Ivf.centroids (200d)") {
    val emb = tiled200.localCheckpoint()
    val n = emb.count()
    for (m <- Seq(8, 25, 50); iters <- 1 to 3) compareBranches(emb, n, 200, m, 16, iters)
  }

  test("train branches agree under duplicates and cell extinction") {
    val emb = IvfFusedSpec.tieCorpus(spark).localCheckpoint()
    val extinct = for (m <- Seq(2, 4); ksub <- Seq(4, 8); iters <- 1 to 3) yield {
      val book = compareBranches(emb, IvfFusedSpec.TieRows, 4, m, ksub, iters)
      book.groupBy(_._1).values.exists(_.length < ksub)
    }
    assert(extinct.contains(true), "corpus must drive at least one cell extinct")
  }

  test("encode is deterministic and m-wide") {
    val b = Tables.t(spark, sf, "embeddings").filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id"), col("embedding"))
    val cents = Pq.train(b, 64, 8, 16, 2).localCheckpoint()
    val c1 = Pq.encode(b, cents, 64, 8).orderBy(col("vec_id")).collect()
    val c2 = Pq.encode(b.repartition(7), cents, 64, 8).orderBy(col("vec_id")).collect()
    assert(c1.sameElements(c2))
    assert(c1.forall(_.getSeq[Int](1).length == 8))
    assert(c1.length == b.count())
  }

  test("fused encode kernel == per-subspace column form at m in {8, 16, 50}") {
    // m=50 needs dim % 50 == 0: the tiled 200d corpus exercises the
    // EXACT shape that broke at 200d (open item 36: m=50 fell out of
    // whole-stage codegen in the column form).
    val base = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 40 === 0)
      .select(col("vec_id"), col("embedding"))
    for ((m, df, dim) <- Seq((8, base, 64), (16, base, 64), (50, tiled200, 200))) {
      val cents = Pq.train(df, dim, m, 16, 2).localCheckpoint()
      val fused = Pq.encode(df, cents, dim, m).orderBy(col("vec_id")).collect()
      val cols = Pq.encodePerSubspace(df, cents, dim, m).orderBy(col("vec_id")).collect()
      assert(fused.length == cols.length && fused.nonEmpty, s"m=$m row counts")
      fused.zip(cols).foreach { case (f, c) =>
        assert(f.getLong(0) == c.getLong(0), s"m=$m id order")
        assert(f.getSeq[Int](1) == c.getSeq[Int](1),
          s"m=$m codes diverge at vec_id=${f.getLong(0)}")
      }
    }
  }

  test("pq_search recall@10 vs exact L2 >= 0.5") {
    val gt = VectorQs.gtTopk(spark, sf, "l2").select(col("qid"), col("bid"))
      .localCheckpoint()
    val res = VectorQs3.pqSearch.fn(spark, sf)
    val hits = res.select(col("qid"), col("bid")).join(gt, Seq("qid", "bid")).count()
    val recall = hits.toDouble / gt.count()
    info(s"pq adc+rerank recall@10 = $recall")
    assert(recall >= 0.5, s"pq recall $recall")
  }
}
