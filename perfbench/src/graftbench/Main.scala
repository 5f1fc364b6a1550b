package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One completed operation of the closed loop. `units` is the work it did
  * (queries, documents or edge-iterations); `check` runs after the timed
  * window and tells whether the operation's output was right; `latency`
  * overrides the loop's own timing when only part of the call is the
  * operation (a trigger, not the read that follows it). */
final case class Op(label: String, units: Double, check: () => Boolean,
                    latency: Option[Double] = None)

/** A workload: inputs made from the seed, a fixed warm-up, and one
  * operation per closed-loop step. Spans around calls into the engine go
  * through `tr`. */
trait Workload {
  /** Write the inputs made from the seed under `dir`. */
  def generate(dir: String): Unit
  /** The engine-side set-up over the inputs in `dir` (catalog registration,
    * statistics, starting streams); run [[Main.setupReps]] times. */
  def register(dir: String): Unit
  def warmup(): Unit
  def op(i: Int): Op
  /** Operations per round; the window always ends on a whole round, so
    * every run weighs the workload's kinds of operation alike. */
  def roundSize: Int = 1
  /** Whole rounds the window holds at least, however long they take. */
  def minRounds: Int = 1
  /** Called right before the timed window opens. */
  def startWindow(): Unit = ()
  /** Stops whatever the workload started, after the checks. */
  def close(): Unit = ()
  /** Workload-specific per-layer metrics, read after the timed window. */
  def perLayer(ops: Seq[(Op, Double)]): Map[String, Double] = Map.empty
  /** Facts about the inputs, printed with the run's details. */
  def details: Seq[(String, Any)] = Nil
}

object Main {
  /** Engine-side set-ups per run; `setup_s` counts their median. */
  val setupReps = 3

  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Checks whose expected value is deliberately corrupted (`--corrupt`),
    * to show that each check counts its operations as failed. */
  var corrupt = Set.empty[String]

  /** Median; 0 for no samples (a per-layer call the run never made). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail latency: the 90th percentile by nearest rank, with the
    * number of samples beyond it (a run is too short for a percentile
    * above the median that has ten samples beyond it). */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted; val n = s.size
    val rank = math.ceil(0.9 * n).toInt
    if (n == 0) (0.0, 0) else (s(rank - 1), n - rank)
  }

  private def loadAvg(): Seq[Double] =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val traceOut = a.get("trace-out")
    corrupt = a.get("corrupt").map(_.split(",").toSet).getOrElse(Set.empty)
    val tr = new Tracer(trace)
    val load0 = loadAvg()

    val t0 = System.nanoTime()
    val spark: SparkSession = tr.span("engine.session") {
      graft.engine.Graft.session("graftbench")
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val counters = if (trace) Some(new Counters(spark)) else None
    val wl: Workload = workload match {
      case "analytics_mix" => new AnalyticsMix(spark, seed, tr)
      case "ingest_stream" => new IngestStream(spark, seed, tr)
      case "graph_rank" => new GraphRank(spark, seed, tr)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tg = System.nanoTime()
    tr.span("setup.generate")(wl.generate(work))
    val genS = (System.nanoTime() - tg) / 1e9
    val setupS = (0 until setupReps).map { _ =>
      val t = System.nanoTime()
      tr.span("setup.register")(wl.register(work))
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    tr.span("warmup")(wl.warmup())
    val warmS = (System.nanoTime() - tw) / 1e9

    val before = counters.map(_.snapshot()).getOrElse(Map.empty)
    Jvm.resetPeaks()
    val gc0 = Jvm.gcSeconds()
    val done = mutable.ArrayBuffer.empty[(Op, Double)]
    var errors = 0
    wl.startWindow()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    val tLoop = System.nanoTime()
    while (System.nanoTime() < deadline || i % wl.roundSize != 0 || i < wl.minRounds * wl.roundSize) {
      tr.op = i
      val t = System.nanoTime()
      try {
        val o = wl.op(i)
        done += ((o, o.latency.getOrElse((System.nanoTime() - t) / 1e9)))
      } catch {
        case e: Exception =>
          errors += 1
          System.err.println(s"op $i failed: $e")
      }
      i += 1
    }
    val windowS = (System.nanoTime() - tLoop) / 1e9
    tr.op = -1
    val after = counters.map(_.snapshot()).getOrElse(Map.empty)
    val peakMb = Jvm.peakHeapMb()
    val gcS = Jvm.gcSeconds() - gc0

    val wrong = done.count { case (o, _) =>
      try !o.check() catch { case e: Exception => System.err.println(s"check failed: $e"); true }
    }
    val attempted = i
    val failed = errors + wrong
    val lat = done.map(_._2).toSeq
    val (tailV, tailBeyond) = tail(lat)
    val units = done.map(_._1.units).sum
    val throughput = if (lat.isEmpty) 0.0 else units / lat.sum
    val endToEnd = Seq(
      "setup_s" -> (sessionS + genS + median(setupS) + warmS),
      "throughput_per_s" -> throughput,
      "latency_p50_s" -> median(lat),
      "latency_tail_s" -> tailV)
    val layer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        delta ++ wl.perLayer(done.toSeq) ++ Map(
          "engine.session_s" -> sessionS,
          "sources.register_s" -> median(setupS),
          "sources.generate_s" -> genS,
          "jvm.peak_heap_mb" -> peakMb,
          "jvm.gc_s" -> gcS,
          "trace.latency_p50_s" -> median(lat),
          "trace.throughput_per_s" -> throughput,
          "trace.spans" -> tr.all.size.toDouble)
      }
    traceOut.filter(_ => trace).foreach(tr.write)
    val load1 = loadAvg()
    println(json.writeValueAsString(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> attempted, "errors" -> errors, "wrong" -> wrong,
      "window_s" -> windowS, "units" -> units,
      "end_to_end" -> endToEnd.toMap, "per_layer" -> layer,
      "details" -> (Seq(
        "session_s" -> sessionS, "generate_s" -> genS, "register_reps_s" -> setupS,
        "warmup_s" -> warmS,
        "latency_tail_percentile" -> 90, "latency_tail_beyond" -> tailBeyond,
        "latency_samples" -> lat.size,
        "master" -> spark.sparkContext.master,
        "loadavg_before" -> load0, "loadavg_after" -> load1) ++ wl.details).toMap)))
    wl.close()
    spark.stop()
  }
}
