package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON writer for the result and the run record. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One benchmark process: the session, the run's counters, the record
  * every workload appends to, and the artifact-store watch that flags
  * builds inside timed operations. */
final class Run(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val work: File,
    val store: File) {

  val tracer = new Tracer(s"$workload-seed$seed-trace${if (traced) 1 else 0}")
  val probe: Option[SparkProbe] = if (traced) Some(new SparkProbe(spark)) else None
  tracer.on = traced

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  val reps = mutable.ArrayBuffer.empty[Map[String, Any]]
  val buildsInTimed = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  var correct = true

  /** A failed output check: the run reports correct = false and says why. */
  def check(name: String, ok: Boolean, detail: Any): Unit = {
    checks(name) = Map("ok" -> ok, "detail" -> detail)
    if (!ok) correct = false
  }

  /** Every artifact under the store, as `<version>/<corpus dir>/<artifact>`
    * (a directory that holds a `_SUCCESS` below it). */
  def artifacts(): Set[String] = {
    val out = mutable.Set.empty[String]
    def walk(f: File): Unit =
      if (f.isDirectory) {
        if (new File(f, "_SUCCESS").exists())
          out += store.toPath.relativize(f.toPath).toString.split('/').take(3).mkString("/")
        Option(f.listFiles()).foreach(_.foreach(walk))
      }
    walk(store)
    out.toSet
  }

  def storeBytes(): Long = {
    def sz(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L) else f.length()
    sz(store)
  }

  /** Run one timed operation of the workload: counted as attempted; a
    * throw counts as failed with its class and message kept in the
    * record. The box load, CPU steal and GC time around it are recorded,
    * and the store is listed before and after, so an artifact written
    * inside an operation that is not a declared build (`builds`) is
    * reported by name. */
  def op[T](name: String, builds: Boolean = false)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val before = artifacts()
    val load0 = Box.load1; val gc0 = Box.gcSeconds; val steal0 = Box.stealSeconds
    val t0 = System.nanoTime()
    val res = try Some(tracer.span(name)(body)) catch {
      case t: Throwable =>
        failed += 1
        failures += Map("op" -> name, "class" -> t.getClass.getName,
          "message" -> String.valueOf(t.getMessage).take(2000))
        System.err.println(s"[perfbench] $name failed: $t")
        None
    }
    val dt = (System.nanoTime() - t0) / 1e9
    log(f"$name%s ${dt}%.3f s${if (res.isEmpty) " FAILED" else ""}%s")
    reps += Map("op" -> name, "s" -> dt, "load1_before" -> load0, "load1_after" -> Box.load1,
      "gc_s" -> (Box.gcSeconds - gc0), "steal_s" -> (Box.stealSeconds - steal0),
      "ok" -> res.isDefined, "traced" -> tracer.on)
    val added = artifacts() -- before
    if (added.nonEmpty && !builds)
      buildsInTimed += Map("op" -> name, "artifacts" -> added.toSeq.sorted)
    res.map(r => (r, dt))
  }

  /** Materialize every output column (count() would let Catalyst prune
    * the projection). */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${elapsedSince(born)}%.1fs] $msg%s")

  /** A traced run alternates traced and untraced reps, so it measures
    * its own tracing overhead; the listeners are attached only while
    * tracing is on. */
  def setTracing(on: Boolean): Unit = if (traced && tracer.on != on) {
    if (!on) probe.foreach { p => p.drain(); p.detach() } else probe.foreach(_.attach())
    tracer.on = on
  }

  private def repSeconds(op: String, tracedReps: Boolean): Seq[Double] =
    reps.filter(r => r("op") == op && r("ok") == true && r("traced") == tracedReps)
      .map(_("s").asInstanceOf[Double]).toSeq

  private def opSeconds(op: String): Seq[Double] = {
    val off = repSeconds(op, tracedReps = false)
    if (off.nonEmpty) off else repSeconds(op, tracedReps = true)
  }

  /** Median seconds of an op's successful reps (the untraced ones, or
    * the traced ones when no untraced rep exists); NaN when every rep
    * failed, which leaves the metric without a value. */
  def medianOf(op: String): Double = {
    val xs = opSeconds(op)
    if (xs.isEmpty) Double.NaN else Stats.median(xs)
  }

  /** Fastest successful rep of an op: the floor under host load, which
    * on a shared box only ever adds time. NaN when every rep failed. */
  def floorOf(op: String): Double = opSeconds(op).minOption.getOrElse(Double.NaN)

  /** Tracing overhead in percent: over every op with both kinds of rep
    * after its first (which pays warm-up), the summed median of traced
    * reps against that of untraced reps. */
  def overheadPct(): Double = {
    val pairs = reps.map(_("op").asInstanceOf[String]).distinct.flatMap { op =>
      val later = reps.filter(r => r("op") == op && r("ok") == true).drop(1)
      def secs(t: Boolean) = later.filter(_("traced") == t).map(_("s").asInstanceOf[Double]).toSeq
      val on = secs(true); val off = secs(false)
      if (on.nonEmpty && off.nonEmpty) Some((Stats.median(on), Stats.median(off))) else None
    }
    if (pairs.isEmpty) 0.0 else 100.0 * (pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0)
  }

  /** Spark counters for one pass over `ops`: per op the median of its
    * traced spans' windows, summed over the ops. */
  def sparkPerPass(ops: Seq[String]): Map[String, (Double, String)] = probe match {
    case None => Map.empty
    case Some(p) =>
      val perOp = ops.flatMap { op =>
        val ws = tracer.spans.filter(_.name == op).map(s => p.window(s.startMs, s.endMs)).toSeq
        if (ws.isEmpty) None
        else Some(ws.head.keys.map(k => k -> Stats.median(ws.map(_(k)))).toMap)
      }
      SparkProbe.units.map { case (k, u) => k -> (perOp.map(_.getOrElse(k, 0.0)).sum, u) }.toMap
  }

  /** Median duration of the traced spans named `name`. */
  def spanMedian(name: String): Double = {
    val ds = tracer.spans.filter(_.name == name).map(_.durS).toSeq
    if (ds.isEmpty) -1.0 else Stats.median(ds)
  }
}

object Main {
  /** Per-layer counts a workload reports only when its path reaches
    * that layer; on the other workloads the count is zero. */
  val NotOnPath: Map[String, (Double, String)] = Seq(
    "operators.BruteForce.pairs", "operators.Ivf.cands_per_q", "operators.BeamKernel.taken",
    "queries.dedup.candidates", "queries.dedup.verified").map(_ -> (0.0, "count")).toMap

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = new File(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val resultPath = new File(arg(args, "--result").getOrElse(sys.error("--result is required")))
    val recordPath = new File(arg(args, "--record").getOrElse(sys.error("--record is required")))
    val store = new File(sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      sys.error("SPARK_GRAFT_INDEX_DIR must point into the benchmark's work dir")))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

    val spark = graft.Tables.session("graft-perfbench", cpus)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val run = new Run(spark, workload, seed, seconds, traced, work, store)
    run.facts("session_s") = sessionS
    run.facts("cpus") = cpus
    val workloads: Map[String, Run => Workload] = Map(
      "ann_lifecycle" -> (r => new AnnLifecycle(r)),
      "curate_pipeline" -> (r => new CuratePipeline(r)))
    val w = workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (${workloads.keys.toSeq.sorted.mkString(", ")})"))(run)

    val setupRest = w.setup()
    val setupS = sessionS + setupRest
    Box.resetHeapPeak()
    val gc0 = Box.gcSeconds
    val measured = w.measure()
    val gcS = Box.gcSeconds - gc0
    val heapPeak = Box.heapPeakMb
    w.verify()
    run.probe.foreach(_.drain())

    run.facts("error_rate") = run.failed.toDouble / math.max(1, run.attempted)
    val e2e = Map("setup_s" -> (setupS, "s")) ++ measured.e2e
    val layers: Map[String, (Double, String)] =
      if (!traced) Map.empty
      else {
        val loads = run.reps.map(_("load1_before").asInstanceOf[Double]).filter(_ >= 0)
        Map(
          "jvm.gc_s" -> (gcS, "s"),
          "jvm.heap_peak_mb" -> (heapPeak, "MB"),
          "box.load1" -> (if (loads.isEmpty) -1.0 else Stats.median(loads.toSeq), "load"),
          "operators.ProjIndex.builds_in_timed" ->
            (run.buildsInTimed.map(_("artifacts").asInstanceOf[Seq[String]].size).sum.toDouble, "count")
        ) ++ Main.NotOnPath ++ measured.layers
      }
    val metrics = (if (traced) layers else e2e).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    val spans = run.tracer.spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS,
        "self_s" -> run.tracer.selfSeconds(s),
        "counts" -> run.probe.map(_.window(s.startMs, s.endMs)).getOrElse(Map.empty))
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "correct" -> run.correct, "attempted" -> run.attempted, "failed" -> run.failed,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "facts" -> run.facts, "checks" -> run.checks, "failures" -> run.failures,
      "builds_in_timed" -> run.buildsInTimed, "reps" -> run.reps, "spans" -> spans,
      "custom_nodes_by_kind" -> run.probe.map(_.customByKind()).getOrElse(Map.empty))
    recordPath.getParentFile.mkdirs()
    java.nio.file.Files.writeString(recordPath.toPath, Json(record))
    val result = Map("correct" -> run.correct, "attempted" -> run.attempted,
      "failed" -> run.failed, "metrics" -> metrics)
    java.nio.file.Files.writeString(resultPath.toPath, Json(result))
    run.probe.foreach(_.detach())
    spark.stop()
  }
}

/** What a workload's timed phase produced: end-to-end metrics, and the
  * per-layer metrics (filled only when the run is traced). */
final case class Measured(
    e2e: Map[String, (Double, String)],
    layers: Map[String, (Double, String)])

trait Workload {
  /** Everything before timing can begin, after the session exists;
    * returns its seconds. */
  def setup(): Double
  def measure(): Measured
  /** Output checks; they record through Run.check. */
  def verify(): Unit
}
