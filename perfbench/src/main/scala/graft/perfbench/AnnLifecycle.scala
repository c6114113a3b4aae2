package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.{SparkEntry, Tables}
import graft.operators.{Ivf, ProjIndex, Rescore}
import graft.queries.{VectorQs2, VectorQs3}
import graft.sources.SynthData
import graft.streaming.VectorIngest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's own workflow on a seeded 200d corpus: build every
  * index artifact from an empty store, search the persisted indexes,
  * score recall@10 against the exact result, and route a held-back
  * batch into IVF cells.
  *
  * Artifacts are keyed by the corpus directory, so the build runs on a
  * fresh copy of the corpus and writes into an empty part of the store. */
final class AnnLifecycle(run: Run) extends Workload {
  import AnnLifecycle._
  private val spark = run.spark
  import spark.implicits._

  private val root = new File(run.work, "ann")
  private var corpus: File = _
  private var heldBack: DataFrame = _
  private var buildDir: String = _
  private val results = scala.collection.mutable.Map.empty[String, Array[Row]]
  private var ingested: Array[(Long, Long)] = Array.empty

  private def genCorpus(dir: File, nBase: Int, nQ: Int, seed: Long): Unit = {
    val raw = SynthData.clusteredHostile(spark, nBase + nQ, Dim, Modalities, seed)
    // the catalog's split: queries are vec_id % 50 = 0, base the rest
    raw.select(
        expr(s"CAST(CASE WHEN vec_id < $nQ THEN vec_id * 50" +
          s" ELSE (vec_id - $nQ) + (vec_id - $nQ) div 49 + 1 END AS BIGINT)").as("vec_id"),
        col("embedding"), col("modality").cast("int").as("label"))
      .repartition(8)
      .write.mode("overwrite").parquet(new File(dir, "embeddings.parquet").getPath)
  }

  private def copyCorpus(to: File): Unit = {
    val src = new File(corpus, "embeddings.parquet").toPath
    val dst = new File(to, "embeddings.parquet").toPath
    Files.createDirectories(dst)
    Files.list(src).forEach(f => Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  /** Every artifact the four searches read, built from an empty store
    * (`gt_topk_l2` is the exact scan itself and reads none). */
  private def buildAll(dir: String): Unit = {
    run.tracer.span("operators.Ivf.build")(VectorQs3.baseIvf(spark, dir))
    run.tracer.span("operators.Pq.build")(VectorQs3.pqIndex(spark, dir))
    run.tracer.span("operators.graph.build") {
      ProjIndex.ensureGraph(spark, dir)(VectorQs2.roarProjectionGraph.fn(spark, dir))
    }
  }

  private def search(name: String, dir: String): Array[Row] =
    SparkEntry.queries(name)(spark, dir).select(col("qid"), col("rnk"), col("bid")).collect()

  private def ingest(dir: String): Array[(Long, Long)] = {
    val (cents, _) = VectorQs3.baseIvf(spark, dir)
    VectorIngest.assignCells(heldBack, cents)
      .select(col("vec_id"), col("cid").cast("long")).as[(Long, Long)].collect()
  }

  def setup(): Double = {
    val t0 = System.nanoTime()
    deleteTree(root)
    // the corpus is generated three times and the median kept, so set-up
    // time is a steady figure; the copies are identical
    val gens = (0 until 3).map { i =>
      val d = new File(root, s"corpus$i")
      val g0 = System.nanoTime()
      run.tracer.span("sources.SynthData.gen")(genCorpus(d, NBase, NQ, run.seed))
      ((System.nanoTime() - g0) / 1e9, d)
    }
    corpus = gens.head._2
    run.facts("gen_s") = gens.map(_._1)
    heldBack = SynthData.clusteredHostile(spark, NIngest, Dim, Modalities, run.seed + 1)
      .select((col("vec_id") + HeldBackIds).as("vec_id"), col("embedding"))
      .localCheckpoint()
    (System.nanoTime() - t0) / 1e9 - gens.map(_._1).sum + Stats.median(gens.map(_._1))
  }

  def measure(): Measured = {
    val t0 = System.nanoTime()
    // one cold build per run, in a fresh JVM, as a batch job builds an
    // index: JIT and codegen warm-up is part of what it costs
    val d = new File(root, "build")
    copyCorpus(d)
    buildDir = d.getPath
    run.op("build", builds = true)(buildAll(buildDir))
    val storeAfter = run.artifacts()
    // searches against the persisted indexes (at least two cycles; the
    // floor drops the first cycle's warm-up). A traced run takes five, so
    // two traced and two untraced cycles follow the warm-up.
    var c = 0
    while (c < (if (run.traced) 5 else 2) || (run.elapsedSince(t0) < 0.85 * run.seconds && c < 50)) {
      run.setTracing(c % 2 == 0)
      Searches.foreach { q =>
        run.op(q)(search(q, buildDir)).foreach { case (rows, _) => results(q) = rows }
      }
      c += 1
    }
    run.facts("search_cycles") = c
    // route the held-back batch into IVF cells
    var i = 0
    while (i < 3 || (run.elapsedSince(t0) < run.seconds && i < 50)) {
      run.setTracing(i % 2 == 0)
      run.op("streaming.VectorIngest.assignCells")(ingest(buildDir)).foreach { case (r, _) => ingested = r }
      i += 1
    }
    run.setTracing(true)
    run.facts("ingest_reps") = i

    val qps = (q: String) => NQ / run.medianOf(q)
    val exact = topByQuery(results.getOrElse("gt_topk_l2", Array.empty))
    def recall(q: String): Double = {
      val got = topByQuery(results.getOrElse(q, Array.empty))
      val hit = exact.toSeq.map { case (qid, ids) => got.getOrElse(qid, Seq.empty).toSet.intersect(ids.toSet).size }.sum
      hit.toDouble / math.max(1, exact.size * 10)
    }
    val specific = Map(
      "build_s" -> run.medianOf("build"),
      "exact_qps" -> qps("gt_topk_l2"),
      "ivf_qps" -> qps("ivf_search"),
      "pq_qps" -> qps("pq_search"),
      "graph_qps" -> qps("graph_beam_search"),
      "ivf_recall10" -> recall("ivf_search"),
      "pq_recall10" -> recall("pq_search"),
      "graph_recall10" -> recall("graph_beam_search"),
      "ingest_vps" -> NIngest / run.medianOf("streaming.VectorIngest.assignCells"))
    specific.foreach { case (k, v) => run.facts(k) = v }
    val e2e = Map(
      "cold_s" -> (specific("build_s"), "s"),
      "warm_s" -> ((Searches :+ "streaming.VectorIngest.assignCells").map(run.floorOf).sum, "s"),
      "quality" -> (Seq("ivf_recall10", "pq_recall10", "graph_recall10").map(specific).sum / 3, "ratio"))
    val layers =
      if (!run.traced) Map.empty[String, (Double, String)]
      else {
        run.sparkPerPass("build" +: Searches :+ "streaming.VectorIngest.assignCells") ++ Map(
          "trace.overhead_pct" -> (run.overheadPct(), "%"),
          "sources.gen_s" -> (run.spanMedian("sources.SynthData.gen"), "s"),
          "operators.BruteForce.topk_s" -> (run.medianOf("gt_topk_l2"), "s"),
          "operators.BruteForce.pairs" -> (NQ.toDouble * NBase, "count"),
          "operators.Ivf.build_s" -> (run.spanMedian("operators.Ivf.build"), "s"),
          "operators.Ivf.search_s" -> (run.medianOf("ivf_search"), "s"),
          "operators.Ivf.cands_per_q" -> (ivfCandidatesPerQuery(), "count"),
          "operators.Pq.build_s" -> (run.spanMedian("operators.Pq.build"), "s"),
          "operators.Pq.search_s" -> (run.medianOf("pq_search"), "s"),
          "operators.graph.build_s" -> (run.spanMedian("operators.graph.build"), "s"),
          "operators.BeamSearch.search_s" -> (run.medianOf("graph_beam_search"), "s"),
          "operators.BeamKernel.taken" -> (if (Rescore.fitsBank(NBase, Dim)) 1.0 else 0.0, "count"),
          "operators.ProjIndex.builds" -> (storeAfter.size.toDouble, "count"),
          "operators.ProjIndex.write_mb" -> (run.storeBytes() / 1048576.0, "MB"),
          "streaming.VectorIngest.assign_s" -> (run.medianOf("streaming.VectorIngest.assignCells"), "s"))
      }
    Measured(e2e, layers)
  }

  /** Mean number of base vectors an IVF search scores per query: the
    * sizes of the nprobe cells nearest each query, from the persisted
    * index. */
  private def ivfCandidatesPerQuery(): Double = {
    val (cents, assigned) = VectorQs3.baseIvf(spark, buildDir)
    val cells = cents.select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val sizes = assigned.groupBy(col("cid").cast("long")).count().as[(Long, Long)].collect().toMap
    val np = Ivf.nprobeFor(cells.length)
    val qs = Tables.t(spark, buildDir, "embeddings").filter(col("vec_id") % 50 === 0)
      .select(col("embedding")).as[Array[Float]].collect()
    val per = qs.map { q =>
      cells.map { case (cid, cv) => (l2sq(q, cv), cid) }
        .sorted.take(np).map(c => sizes.getOrElse(c._2, 0L)).sum
    }
    per.sum.toDouble / math.max(1, per.length)
  }

  def verify(): Unit = {
    // exact top-10 recomputed on the driver for a sample of queries,
    // ties broken by id, must equal BruteForce's through gt_topk_l2
    val emb = Tables.t(spark, buildDir, "embeddings").select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val base = emb.filter(_._1 % 50 != 0)
    val qs = emb.filter(_._1 % 50 == 0).sortBy(_._1)
    val sample = qs.indices.filter(_ % math.max(1, qs.length / VerifySample) == 0).take(VerifySample).map(qs)
    val exact = topByQuery(results.getOrElse("gt_topk_l2", Array.empty))
    val mism = sample.filter { case (qid, qv) =>
      val want = base.map { case (bid, bv) =>
        var acc = 0.0; var i = 0
        while (i < math.min(qv.length, bv.length)) {
          val d = qv(i).toDouble - bv(i).toDouble; acc += d * d; i += 1
        }
        (math.sqrt(acc), bid)
      }.sorted.take(10).map(_._2).toSeq
      exact.get(qid).forall(_ != want)
    }
    run.check("ann.exact_top10_matches_driver_scan", mism.isEmpty,
      Map("sampled" -> sample.length, "mismatched_qids" -> mism.map(_._1).toSeq))
    Searches.foreach { q =>
      val rows = results.getOrElse(q, Array.empty)
      run.check(s"ann.$q.rows", rows.length == NQ * 10, Map("rows" -> rows.length, "want" -> NQ * 10))
    }
    // ingest: every held-back vector routed to its nearest centroid
    val (cents, _) = VectorQs3.baseIvf(spark, buildDir)
    val cells = cents.select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val held = heldBack.filter(col("vec_id") < HeldBackIds + VerifySample * 10)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect().toMap
    val got = ingested.toMap
    val wrong = held.count { case (id, v) =>
      val best = cells.map { case (_, cv) => l2sq(v, cv) }.min
      // a tie in distance may go to either cell
      got.get(id).forall(c => cells.find(_._1 == c).forall { case (_, cv) =>
        l2sq(v, cv) > best * (1 + 1e-9)
      })
    }
    run.check("ann.ingest_nearest_cell", ingested.length == NIngest && wrong == 0,
      Map("routed" -> ingested.length, "want" -> NIngest, "wrong_in_sample" -> wrong))
    deleteTree(root)
  }
}

object AnnLifecycle {
  val Dim = 200
  val Modalities = 16
  val NBase = 8000
  val NQ = 200
  val NIngest = 10000
  val VerifySample = 16
  /** First id of the held-back batch, clear of the corpus's ids. */
  val HeldBackIds = 10000000L
  val Searches = Seq("gt_topk_l2", "ivf_search", "pq_search", "graph_beam_search")

  def topByQuery(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    }

  def l2sq(v: Array[Float], c: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
    acc
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
