package graft

import graft.operators.Ivf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round 16: Ivf.centroids' fused driver-side Lloyd branch must be
  * bit-identical to the distributed DataFrame branch — same init (k
  * lowest vec_ids, cid = rank), same VecNearestCid assignment
  * arithmetic (float widened per element, strict Double.compare,
  * ascending-cid tie-break), same Moments quantization (floor(x·1e6 +
  * 0.5) long sums), same mean division, same empty-cell drop. Checked
  * on the real sf0.001 corpus and on crafted corpora that force ties,
  * duplicate vectors and cell extinction. */
class IvfFusedSpec extends AnyFunSuite {

  private lazy val spark = SharedSpark.session

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("cid"), col("cv")).orderBy(col("cid"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toList

  private def compare(emb: org.apache.spark.sql.DataFrame, k: Int, iters: Int,
      n: Long, dim: Int): Unit = {
    val df = canon(Ivf.centroids(emb, k, iters))
    val fused = canon(Ivf.centroids(emb, k, iters, Some((n, dim))))
    assert(fused == df, s"fused Lloyd diverged at k=$k iters=$iters")
  }

  test("fused == DataFrame Lloyd on the real corpus (every iters)") {
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val n = emb.count()
    for (iters <- 1 to 3) compare(emb, 16, iters, n, 64)
    compare(emb, 8, 2, n, 64)
  }

  test("fused == DataFrame Lloyd under ties, duplicates and cell extinction") {
    val emb = IvfFusedSpec.tieCorpus(spark)
    for (k <- Seq(2, 4, 8); iters <- 1 to 3)
      compare(emb, k, iters, IvfFusedSpec.TieRows, 4)
  }

  test("non-float element type falls back to the DataFrame branch") {
    import spark.implicits._
    val emb = (0 until 20).map(i => (i.toLong, Array.tabulate(4)(d => (i + d).toDouble)))
      .toDF("vec_id", "embedding")
    // must not throw and must equal the unhinted call (both DF branch)
    val a = canon(Ivf.centroids(emb, 4, 2))
    val b = canon(Ivf.centroids(emb, 4, 2, Some((20L, 4))))
    assert(a == b)
  }
}

object IvfFusedSpec {
  val TieRows = 42L

  /** 42 rows × 4d: duplicate vectors (ties in the argmin must break to
    * the lower cid in every branch) and a far outlier cluster whose
    * single init centroid captures everything around it — small k over
    * clustered data makes some cells go empty across iterations. */
  def tieCorpus(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      val c = i % 3
      val v = Array.tabulate(4)(d =>
        if (c == 2) 1000f + d else (c * 10 + (i % 5)).toFloat + d * 0.5f)
      (i.toLong * 7 + 3, v)
    } ++ Seq((500L, Array.fill(4)(0.25f)), (501L, Array.fill(4)(0.25f)))
    rows.toDF("vec_id", "embedding")
  }
}
