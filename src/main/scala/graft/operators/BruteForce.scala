package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Tight-loop brute-force top-k: the innermost all-pairs scoring
  * kernel, written as per-partition imperative code (the one place the
  * design rules sanction mapPartitions — genuine per-partition
  * imperative logic). The join/aggregate formulation pays ~µs of
  * row-machinery per pair; this kernel pays the ~60ns the 64-float
  * loop actually costs, which is what "matches the reference's NumPy
  * single-node throughput" requires.
  *
  * Shape (SURVEY §5): queries are collected+broadcast (bounded query
  * sets — groundtruth/training queries; for self-kNN at huge N use the
  * LSH/IVF candidate paths instead); the base streams once per
  * partition into per-query bounded pools; only partitions·Q·k pooled
  * candidates reach the TopKAgg shuffle merge.
  *
  * Determinism: scoring widens float→double per element and left-folds
  * in index order — bit-identical to VecDot/VecL2Sq/VecCosine and the
  * DuckDB oracle; pool ordering uses TopKAgg's exact (score, id) rule.
  */
object BruteForce {

  /** Plan-integrated variant: same kernel as a custom LogicalPlan +
    * SparkStrategy + SparkPlan (plans.VectorTopKJoin), visible in
    * EXPLAIN with SQL metrics. Self-registers the strategy on the
    * session (also injectable via GraftExtensions). */
  def topkPlan(
      base: DataFrame,
      queries: DataFrame,
      metric: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val spark = base.sparkSession
    graft.plans.VectorTopKJoin.ensureStrategy(spark)
    val bc = org.apache.spark.sql.graftbridge.Bridge
    val node = graft.plans.VectorTopKJoin(
      bc.planOf(queries.select(col("qid"), col("qv"))),
      bc.planOf(base.select(col("bid"), col("bv"))),
      metric, k, excludeSelf)
    TopK.perGroup(bc.ofRows(spark, node), "qid", "bid", "score", k, asc = metric == "l2")
  }

  /** @param base    (bid: long, bv: array<float>)
    * @param queries (qid: long, qv: array<float>) — must fit in memory
    * @param metric  cosine | l2 | ip
    * @return (qid, rnk, bid, score) exact top-k per query
    */
  def topk(
      base: DataFrame,
      queries: DataFrame,
      metric: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val asc = metric == "l2"
    val qArr: Array[(Long, Array[Float])] =
      queries.select(col("qid"), col("qv")).as[(Long, Array[Float])]
        .collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(qArr)
    val m = metric
    val skipSelf = excludeSelf

    val pooled = base.select(col("bid"), col("bv")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = bc.value
        val nq = qs.length
        val poolS = Array.fill(nq)(new Array[Double](k))
        val poolI = Array.fill(nq)(new Array[Long](k))
        val sizes = new Array[Int](nq)
        val ascL = m == "l2"

        // identical ordering rule to TopKAgg.beats (incl. NaN-ranks-
        // worst — pools merge through TopKAgg, rules must agree)
        def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
          val n1 = java.lang.Double.isNaN(s1); val n2 = java.lang.Double.isNaN(s2)
          if (n1 || n2) { if (n1 != n2) !n1 else i1 < i2 }
          else if (s1 != s2) { if (ascL) s1 < s2 else s1 > s2 }
          else i1 < i2
        }

        def insert(qi: Int, s: Double, id: Long): Unit = {
          val sz = sizes(qi)
          val ss = poolS(qi); val ii = poolI(qi)
          if (sz == k && beats(ss(k - 1), ii(k - 1), s, id)) return
          var pos = sz
          while (pos > 0 && beats(s, id, ss(pos - 1), ii(pos - 1))) pos -= 1
          if (pos >= k) return
          var j = math.min(sz, k - 1)
          while (j > pos) { ss(j) = ss(j - 1); ii(j) = ii(j - 1); j -= 1 }
          ss(pos) = s; ii(pos) = id
          if (sz < k) sizes(qi) = sz + 1
        }

        while (it.hasNext) {
          val (bid, bv) = it.next()
          var qi = 0
          while (qi < nq) {
            if (skipSelf && qs(qi)._1 == bid) { qi += 1 }
            else {
            val qv = qs(qi)._2
            val n = math.min(qv.length, bv.length)
            var s = 0.0
            m match {
              case "cosine" =>
                var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
                while (i < n) {
                  val x = qv(i).toDouble; val y = bv(i).toDouble
                  dot += x * y; na += x * x; nb += y * y; i += 1
                }
                s = dot / math.sqrt(na * nb)
              case "l2" =>
                var acc = 0.0; var i = 0
                while (i < n) {
                  val d = qv(i).toDouble - bv(i).toDouble
                  acc += d * d; i += 1
                }
                s = math.sqrt(acc)
              case _ => // ip
                var acc = 0.0; var i = 0
                while (i < n) { acc += qv(i).toDouble * bv(i).toDouble; i += 1 }
                s = acc
            }
            insert(qi, s, bid)
            qi += 1
            }
          }
        }
        Iterator.range(0, nq).flatMap { qi =>
          val qid = qs(qi)._1
          Iterator.range(0, sizes(qi)).map(j => (qid, poolI(qi)(j), poolS(qi)(j)))
        }
      }
      .toDF("qid", "bid", "score")
    TopK.perGroup(pooled, "qid", "bid", "score", k, asc)
  }
}
