package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types._

/** The full custom-operator route (LogicalPlan + Strategy + SparkPlan)
  * for the one whole-operator semantic Spark's built-ins can't express
  * efficiently: vector top-k join. The physical node collects+broadcasts
  * the (small) query side at execution time and streams the base side
  * through tight per-partition scoring loops with bounded pools — the
  * plan-integrated form of operators.BruteForce, with SQL metrics and
  * EXPLAIN visibility.
  *
  * Two modes:
  *  - brute force (`probes` = None): every base row is scored against
  *    every query;
  *  - IVF probe (`probes` = Some): the base side carries a third column
  *    `cid`, and each base row is scored only against the queries that
  *    probe its cell (operators.Ivf.search). Rows of cells no query
  *    probes are skipped.
  *
  * Output: (qid: long, bid: long, score: double) — per-partition pools
  * (≤ partitions·|Q|·k rows, UNMERGED); compose TopK.perGroup on top
  * for the global answer, exactly like the mapPartitions form. Pools
  * keep TopKAgg's rule (strict (score, id) order, NaN worst,
  * exact-duplicate (score, id) collapse), so the merged answer equals
  * TopKAgg over every scored pair.
  */
case class VectorTopKJoin(
    queries: LogicalPlan, // (qid: long, qv: array<float>)
    base: LogicalPlan, // (bid: long, bv: array<float>)
    metric: String,
    k: Int,
    excludeSelf: Boolean,
    probes: Option[CellProbes] = None,
    // output attrs live in the constructor: recomputing them per
    // instance would mint fresh exprIds on every optimizer copy() and
    // break downstream attribute binding
    output: Seq[Attribute] = VectorTopKJoin.freshOutput()) extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = base
  /** No expressions on this node → default `references` would be empty
    * and ColumnPruning would strip the children bare (runtime segfault
    * reading pruned rows). Every child column is required. */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(queries.output ++ base.output)
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): LogicalPlan =
    copy(queries = l, base = r)
}

/** Cell → query probe map for the IVF probe mode: `cells` ascending
  * and distinct, `qids(i)` the ascending, distinct query ids that
  * probe `cells(i)`. Built on the driver from the (qid, cid) probe
  * list; its toString is the EXPLAIN argument, so it prints sizes only. */
final class CellProbes private (val cells: Array[Long], val qids: Array[Array[Long]])
    extends Serializable {
  def pairs: Int = qids.iterator.map(_.length).sum
  override def toString: String = s"CellProbes(cells=${cells.length}, pairs=$pairs)"
}

object CellProbes {
  /** From (qid, cid) probe pairs; duplicate pairs collapse. */
  def apply(pairs: Seq[(Long, Long)]): CellProbes = {
    val byCell = pairs.groupBy(_._2).toArray.sortBy(_._1)
    new CellProbes(byCell.map(_._1), byCell.map(_._2.map(_._1).distinct.sorted.toArray))
  }
}

object VectorTopKJoin {
  /** Register the strategy on a live session (GraftExtensions injects
    * it into sessions built with the extensions config). */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(VectorTopKJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ VectorTopKJoinStrategy
    }

  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("bid", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

/** Planner strategy (inject via GraftExtensions). */
object VectorTopKJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: VectorTopKJoin =>
      VectorTopKJoinExec(planLater(j.queries), planLater(j.base),
        j.metric, j.k, j.excludeSelf, j.probes, j.output) :: Nil
    case _ => Nil
  }
}

case class VectorTopKJoinExec(
    queriesPlan: SparkPlan,
    basePlan: SparkPlan,
    metric: String,
    k: Int,
    excludeSelf: Boolean,
    probes: Option[CellProbes],
    override val output: Seq[Attribute]) extends BinaryExecNode {

  override def left: SparkPlan = queriesPlan
  override def right: SparkPlan = basePlan

  override lazy val metrics = Map(
    "numQueries" -> SQLMetrics.createMetric(sparkContext, "number of query vectors"),
    "numProbedCells" -> SQLMetrics.createMetric(sparkContext, "number of probed cells"),
    "numScored" -> SQLMetrics.createMetric(sparkContext, "number of scored candidates"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numQueries = longMetric("numQueries")
    val numScored = longMetric("numScored")
    val numOutputRows = longMetric("numOutputRows")

    // collect + broadcast the query side (bounded by contract)
    val qRows = queriesPlan.executeCollect()
    val qArr: Array[(Long, Array[Float])] = qRows.map { r =>
      (r.getLong(0), r.getArray(1).toFloatArray())
    }.sortBy(_._1)
    numQueries += qArr.length
    // probe mode: cells ascending, each with the indices (into qArr) of
    // the queries that probe it
    val cellQ: Option[(Array[Long], Array[Array[Int]])] = probes.map { p =>
      longMetric("numProbedCells") += p.cells.length
      val qids = qArr.map(_._1)
      (p.cells, p.qids.map(_.map(java.util.Arrays.binarySearch(qids, _)).filter(_ >= 0)))
    }
    val bc = sparkContext.broadcast((qArr, cellQ))
    val m = metric
    val kk = k
    val skipSelf = excludeSelf

    basePlan.execute().mapPartitions { it =>
      val (qs, cq) = bc.value
      val nq = qs.length
      val poolS = Array.fill(nq)(new Array[Double](kk))
      val poolI = Array.fill(nq)(new Array[Long](kk))
      val sizes = new Array[Int](nq)
      val mc = m match { case "l2" => 0; case "cosine" => 1; case _ => 2 }
      val allQ = Array.range(0, nq)

      // TopKAgg.beats: NaN ranks worst in either direction
      def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
        if (mc == 0) graft.operators.Rescore.poolBeats(s1, i1, s2, i2)
        else {
          val n1 = java.lang.Double.isNaN(s1); val n2 = java.lang.Double.isNaN(s2)
          if (n1 || n2) { if (n1 != n2) !n1 else i1 < i2 }
          else if (s1 != s2) s1 > s2
          else i1 < i2
        }

      // TopKAgg.insert, exact-duplicate (score, id) collapse included
      def insert(qi: Int, s: Double, id: Long): Unit = {
        val sz = sizes(qi)
        val ss = poolS(qi); val ii = poolI(qi)
        if (sz == kk && beats(ss(kk - 1), ii(kk - 1), s, id)) return
        var pos = sz
        while (pos > 0 && beats(s, id, ss(pos - 1), ii(pos - 1))) pos -= 1
        if (pos >= kk) return
        if (pos > 0 && ii(pos - 1) == id &&
          (ss(pos - 1) == s || (ss(pos - 1).isNaN && s.isNaN))) return
        var j = math.min(sz, kk - 1)
        while (j > pos) { ss(j) = ss(j - 1); ii(j) = ii(j - 1); j -= 1 }
        ss(pos) = s; ii(pos) = id
        if (sz < kk) sizes(qi) = sz + 1
      }

      def score(qv: Array[Float], bv: Array[Float]): Double =
        if (mc == 0) graft.operators.Rescore.l2Of(qv, bv)
        else {
          val n = math.min(qv.length, bv.length)
          if (mc == 1) {
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            while (i < n) {
              val x = qv(i).toDouble; val y = bv(i).toDouble
              dot += x * y; na += x * x; nb += y * y; i += 1
            }
            dot / math.sqrt(na * nb)
          } else {
            var acc = 0.0; var i = 0
            while (i < n) { acc += qv(i).toDouble * bv(i).toDouble; i += 1 }
            acc
          }
        }

      var scored = 0L
      while (it.hasNext) {
        val row = it.next()
        val targets = cq match {
          case None => allQ
          case Some((cells, qis)) =>
            val ci = java.util.Arrays.binarySearch(cells, row.getLong(2))
            if (ci < 0) null else qis(ci)
        }
        if (targets != null) {
          val bid = row.getLong(0)
          val bv = row.getArray(1).toFloatArray()
          var t = 0
          while (t < targets.length) {
            val qi = targets(t)
            if (!(skipSelf && qs(qi)._1 == bid)) {
              insert(qi, score(qs(qi)._2, bv), bid)
              scored += 1
            }
            t += 1
          }
        }
      }
      numScored += scored
      val proj = UnsafeProjection.create(Array[DataType](LongType, LongType, DoubleType))
      val out = InternalRow(0L, 0L, 0.0)
      Iterator.range(0, nq).flatMap { qi =>
        Iterator.range(0, sizes(qi)).map { j =>
          out.setLong(0, qs(qi)._1)
          out.setLong(1, poolI(qi)(j))
          out.setDouble(2, poolS(qi)(j))
          numOutputRows += 1
          proj(out).copy()
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(queriesPlan = l, basePlan = r)
}
