package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.SparkEntry
import graft.functions.TextFns
import graft.queries.DedupQs
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** A seeded documents corpus with planted truth: exact duplicates
  * (case and whitespace changes only), near-duplicates (a few word
  * substitutions) and training docs carrying a 6-word run of a
  * benchmark-split doc (`doc_id % 100 = 0`). */
object DocGen {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Corpus(
      docs: Array[Doc],
      exactPairs: Seq[(Long, Long)], // (original, duplicate), original < duplicate
      nearPairs: Seq[(Long, Long)],
      contaminated: Seq[Long])

  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.5, "de" -> 0.125, "es" -> 0.125, "fr" -> 0.125, "zh" -> 0.125)
  val Vocab = 6000
  val StopShare = 0.3

  private val cons = "bcdfghjklmnprstvwxyz"
  private val vowels = "aeiou"
  /** Four-letter consonant-vowel words: never a stopword of any language. */
  def word(i: Int): String = {
    def syl(j: Int) = s"${cons(j % 20)}${vowels((j / 20) % 5)}"
    syl(i % 100) + syl((i / 100) % 100)
  }

  def apply(n: Int, seed: Long): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    // Zipf(1.1) ranks over the vocabulary
    val cdf = {
      val w = (1 to Vocab).map(r => math.pow(r.toDouble, -1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def zipf(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      word(math.min(Vocab - 1, if (i >= 0) i else -i - 1))
    }
    def lang(): String = {
      val u = rng.nextDouble()
      Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
        .find(_._2 > u).map(_._1).getOrElse("en")
    }
    val words = Array.tabulate(n) { _ =>
      val l = lang()
      val len = 40 + rng.nextInt(80)
      val stops = TextFns.stopwords(l)
      (l, Array.fill(len)(if (rng.nextDouble() < StopShare) stops(rng.nextInt(stops.size)) else zipf()))
    }
    val texts = words.map(_._2.mkString(" "))
    val langs = words.map(_._1)

    // planted roles go to distinct training docs, so no plant disturbs another
    val pool = {
      val ids = (0 until n).filter(_ % 100 != 0).toArray
      var i = ids.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
      ids.iterator
    }
    def pair(): (Int, Int) = { val a = pool.next(); val b = pool.next(); (math.min(a, b), math.max(a, b)) }
    val exact = Seq.fill(n / 40)(pair())
    exact.foreach { case (o, d) =>
      // same text up to case and whitespace: dedup_exact normalizes both
      texts(d) = words(o)._2.map(w => if (rng.nextInt(4) == 0) w.capitalize else w)
        .mkString(" ").replace(" a ", "  a ")
      langs(d) = langs(o)
    }
    val near = Seq.fill(n / 40)(pair())
    near.foreach { case (o, d) =>
      val w = words(o)._2.clone()
      (0 until 2).foreach { _ =>
        val p = rng.nextInt(w.length)
        var r = zipf()
        while (r == w(p)) r = zipf()
        w(p) = r
      }
      texts(d) = w.mkString(" ")
      langs(d) = langs(o)
    }
    val benchIds = (0 until n by 100).toArray
    val contam = Seq.fill(n / 100)(pool.next())
    contam.foreach { t =>
      val b = words(benchIds(rng.nextInt(benchIds.length)))._2
      val s = rng.nextInt(b.length - 6)
      val w = words(t)._2
      val at = rng.nextInt(w.length)
      texts(t) = (w.take(at) ++ b.slice(s, s + 6) ++ w.drop(at)).mkString(" ")
    }
    val docs = Array.tabulate(n) { i =>
      Doc(i.toLong, texts(i), langs(i), s"src${rng.nextInt(20)}", texts(i).length.toLong)
    }
    Corpus(docs, exact.map { case (o, d) => (o.toLong, d.toLong) },
      near.map { case (o, d) => (o.toLong, d.toLong) }, contam.map(_.toLong))
  }
}

/** The LLM-data half of the paper: the catalog's document operators
  * over a seeded corpus. Each cold pass runs on a fresh copy of the
  * corpus, so the dedup artifacts are built inside the pass (as a
  * first curation of a corpus builds them); the warm pass repeats the
  * pipeline over a copy whose artifacts already exist. */
final class CuratePipeline(run: Run) extends Workload {
  import CuratePipeline._
  import AnnLifecycle.deleteTree
  private val spark = run.spark
  import spark.implicits._

  private val root = new File(run.work, "curate")
  private var corpus: DocGen.Corpus = _
  private var corpusDir: File = _
  private var lastDir: String = _
  private val outputs = scala.collection.mutable.Map.empty[String, Array[Row]]

  private def copyCorpus(to: File): String = {
    val src = new File(corpusDir, "documents.parquet").toPath
    val dst = new File(to, "documents.parquet").toPath
    Files.createDirectories(dst)
    Files.list(src).forEach(f => Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    to.getPath
  }

  /** Words, 3-word shingles, their hashes and the 9 MinHashes over the
    * corpus, as the dedup operators compute them: the functions layer's
    * text kernels in one pass. */
  private def textKernels(dir: String): Unit = run.sink(DedupQs.sigTablePublic(spark, dir))

  /** One pass of the pipeline; `tag` prefixes the op names. A cold pass
    * is a declared build: it writes the dedup artifacts. The signature
    * pass runs in warm passes only, where the dedup operators' own
    * signature work no longer pays warm-up. */
  private def pass(dir: String, cold: Boolean, tag: String): Unit = {
    if (!cold) run.op(s"${tag}functions.TextFns.kernel")(textKernels(dir))
    Ops.foreach { q =>
      run.op(s"$tag$q", builds = cold) {
        val df = SparkEntry.queries(q)(spark, dir)
        if (Checked.contains(q)) outputs(q) = df.collect() else run.sink(df)
      }
    }
  }

  def setup(): Double = {
    val t0 = System.nanoTime()
    deleteTree(root)
    // generated three times and the median kept, so set-up time is a
    // steady figure; the copies are identical
    val gens = (0 until 3).map { i =>
      val d = new File(root, s"corpus$i")
      val g0 = System.nanoTime()
      run.tracer.span("sources.DocGen.gen") {
        val c = DocGen(NDocs, run.seed)
        spark.createDataset(c.docs.toSeq).repartition(8)
          .write.mode("overwrite").parquet(new File(d, "documents.parquet").getPath)
        corpus = c
      }
      ((System.nanoTime() - g0) / 1e9, d)
    }
    corpusDir = gens.head._2
    run.facts("gen_s") = gens.map(_._1)
    run.facts("planted") = Map("exact_pairs" -> corpus.exactPairs.size,
      "near_pairs" -> corpus.nearPairs.size, "contaminated" -> corpus.contaminated.size)
    (System.nanoTime() - t0) / 1e9 - gens.map(_._1).sum + Stats.median(gens.map(_._1))
  }

  def measure(): Measured = {
    val t0 = System.nanoTime()
    // one cold pass per run, in a fresh JVM and on a fresh copy of the
    // corpus, as a batch job curates a corpus the first time
    lastDir = copyCorpus(new File(root, "cold"))
    pass(lastDir, cold = true, "")
    val storeAfterCold = run.artifacts()
    // warm passes reuse the artifacts the cold pass wrote (at least two;
    // a traced run takes five, so that two traced and two untraced
    // passes follow the first)
    var w = 0
    while (w < (if (run.traced) 5 else 2) || (run.elapsedSince(t0) < run.seconds && w < 20)) {
      run.setTracing(w % 2 == 0)
      pass(lastDir, cold = false, "warm.")
      w += 1
    }
    run.setTracing(true)
    run.facts("warm_passes") = w
    val coldS = Ops.map(run.medianOf).sum
    val warmS = ("functions.TextFns.kernel" +: Ops).map(q => run.floorOf(s"warm.$q")).sum
    run.facts("curate_docs_per_s") = NDocs / coldS
    run.facts("curate_docs_per_s_warm") = NDocs / Ops.map(q => run.medianOf(s"warm.$q")).sum
    val recall = dedupRecall()
    run.facts("dedup_recall") = recall
    val e2e = Map("cold_s" -> (coldS, "s"), "warm_s" -> (warmS, "s"), "quality" -> (recall, "ratio"))
    val layers =
      if (!run.traced) Map.empty[String, (Double, String)]
      else {
        val ops = ("functions.TextFns.kernel" +: Ops).map("warm." + _)
        run.sparkPerPass(ops) ++ Map(
          "trace.overhead_pct" -> (run.overheadPct(), "%"),
          "sources.gen_s" -> (run.spanMedian("sources.DocGen.gen"), "s"),
          "operators.ProjIndex.builds" -> (storeAfterCold.size.toDouble, "count"),
          "operators.ProjIndex.write_mb" -> (run.storeBytes() / 1048576.0, "MB"),
          "functions.TextFns.kernel_s" -> (run.medianOf("warm.functions.TextFns.kernel"), "s"),
          "queries.dedup.candidates" -> (lshCandidates().toDouble, "count"),
          "queries.dedup.verified" -> (verifiedPairs().toDouble, "count")) ++
          Ops.map(q => s"queries.${q}_s" -> (run.medianOf(s"warm.$q"), "s"))
      }
    Measured(e2e, layers)
  }

  /** Planted duplicate pairs the pipeline grouped, over pairs planted:
    * exact pairs through dedup_exact's groups, near pairs through
    * dedup_minhash_groups' components. */
  private def dedupRecall(): Double = {
    val groups = outputs.getOrElse("dedup_exact", Array.empty)
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byId = corpus.docs.map(d => d.doc_id -> d.text).toMap
    val exactFound = corpus.exactPairs.count { case (o, d) =>
      groups.get(normMd5(byId(o))).exists { case (n, keep) => n >= 2 && keep <= o } &&
        normMd5(byId(o)) == normMd5(byId(d))
    }
    val survivor = outputs.getOrElse("dedup_minhash_groups", Array.empty)
      .map(r => r.getLong(2) -> r.getLong(0)).toMap
    val nearFound = corpus.nearPairs.count { case (o, d) =>
      survivor.get(o).exists(s => survivor.get(d).contains(s))
    }
    (exactFound + nearFound).toDouble / (corpus.exactPairs.size + corpus.nearPairs.size)
  }

  /** LSH candidate pairs the minhash bands propose (before verification). */
  private def lshCandidates(): Long = {
    val bands = DedupQs.bandsOfPublic(DedupQs.sigTablePublic(spark, lastDir))
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
  }

  /** Candidate pairs that passed the Jaccard verification (the persisted pair set). */
  private def verifiedPairs(): Long =
    spark.read.parquet(graft.operators.ProjIndex.tablePath(lastDir, "minhash_pairs")).count()

  def verify(): Unit = {
    // every planted exact duplicate removed: its group keeps a smaller
    // id, and curate_corpus does not keep it
    val groups = outputs.getOrElse("dedup_exact", Array.empty)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val byId = corpus.docs.map(d => d.doc_id -> d.text).toMap
    val kept = outputs.getOrElse("curate_corpus", Array.empty)
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val notRemoved = corpus.exactPairs.filterNot { case (o, d) =>
      groups.get(normMd5(byId(d))).exists(_ <= o) && kept.get(d).contains(false)
    }
    run.check("curate.exact_duplicates_removed", notRemoved.isEmpty && kept.size == NDocs,
      Map("planted" -> corpus.exactPairs.size, "not_removed" -> notRemoved.map(_._2).take(20),
        "curate_rows" -> kept.size))
    // every planted contaminated training doc flagged
    val flagged = outputs.getOrElse("contamination_check", Array.empty)
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val missed = corpus.contaminated.filterNot(t => flagged.get(t).contains(true))
    run.check("curate.contaminated_flagged", missed.isEmpty,
      Map("planted" -> corpus.contaminated.size, "missed" -> missed.take(20)))
    deleteTree(root)
  }
}

object CuratePipeline {
  val NDocs = 2000

  /** dedup_exact's key: MD5 of the lower-cased, whitespace-collapsed text. */
  def normMd5(text: String): String = {
    val norm = text.toLowerCase.replaceAll("\\s+", " ")
    java.security.MessageDigest.getInstance("MD5").digest(norm.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }
  val Ops = Seq("text_normalize", "lang_id", "text_quality", "dedup_exact",
    "dedup_minhash_groups", "dedup_simhash", "fingerprint_overlap",
    "contamination_check", "curate_corpus")
  val Checked = Set("dedup_exact", "dedup_minhash_groups", "contamination_check", "curate_corpus")

}
