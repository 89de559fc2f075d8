package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.Sessions

/**
 * The benchmark process: one workload (or `all`, one after another in
 * the same session), set up, measured for `--seconds`, gated, and
 * reported as one JSON line per workload on stdout.
 *
 *   --workload entity_rich_batch|snapshot_stream|synth_batch|all
 *   --seed <n> --seconds <s> --trace 0|1 [--size full|smoke] [--work <dir>]
 *
 * `--trace 0` measures untraced closed-loop samples and reports the
 * end-to-end metrics; `--trace 1` runs the traced wiring once and
 * reports the per-layer metrics. A detail line with every sample, its
 * weather and the highest percentile the sample count supports comes
 * before each result line.
 */
object BenchMain {

  final case class Size(
      synthTurns: Int, entityFamilies: Int, entityFirstNames: Int, entityTurns: Int,
      streamTurns: Int)

  val Sizes: Map[String, Size] = Map(
    "full" -> Size(synthTurns = 40000, entityFamilies = 10000, entityFirstNames = 400,
      entityTurns = 6500, streamTurns = 10000),
    // 4000 TranscriptSynth turns: the size the repo's golden P/R spec pins
    "smoke" -> Size(synthTurns = 4000, entityFamilies = 400, entityFirstNames = 40,
      entityTurns = 2000, streamTurns = 4000))

  val Workloads: Seq[String] = Seq("entity_rich_batch", "snapshot_stream", "synth_batch")

  /** The warm-up corpus has the measured one's shape under another
    * seed and a quarter of its size (the entity corpus: of its turns
    * and families; the stream's: 500 turns). A cold pass costs about
    * the same at any of these sizes; it is mostly JIT and code
    * generation. */
  private def workload(name: String, size: Size, seed: Long, spark: org.apache.spark.sql.SparkSession,
      work: Path): Workload = name match {
    case "synth_batch" =>
      new BatchWorkload(spark, work, Corpus.synth(size.synthTurns, 1, seed),
        Corpus.synth(size.synthTurns / 4, 0, seed + 1))
    case "entity_rich_batch" =>
      new BatchWorkload(spark, work,
        Corpus.entityRich(size.entityFamilies, size.entityFirstNames, size.entityTurns, 1, seed),
        Corpus.entityRich(size.entityFamilies / 4, size.entityFirstNames / 4, size.entityTurns / 4,
          0, seed + 1))
    case "snapshot_stream" =>
      new StreamWorkload(spark, work, Corpus.synth(size.streamTurns, 1, seed),
        Corpus.synth(500, 0, seed + 1))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
  private def result(correct: Boolean, attempted: Int, failed: Int,
      ms: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metricsJson(ms)}}"""

  /** Sample count, median and maximum: with fewer than eleven samples
    * the maximum is the highest percentile the count supports. */
  private def dist(xs: Seq[Double]): String =
    if (xs.isEmpty) "null"
    else s"""{"n":${xs.size},"median":${num(median(xs))},"max":${num(xs.max)}}"""

  private def measure(name: String, wl: Workload, seconds: Double, setupS: Double): (String, String) = {
    val cores = wl.cores
    val t0 = System.nanoTime()
    val ok = Vector.newBuilder[Sample]
    val details = Vector.newBuilder[String]
    var attempted, failed = 0
    var k = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (k == 0 || elapsed + last <= seconds) {
      val c0 = Weather.canary(cores)
      val st0 = Weather.stealSeconds()
      val s0 = System.nanoTime()
      val (s, why) =
        try { val s = wl.sample(k); (Some(s), s.failures) }
        catch { case e: Exception => (None, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      last = (System.nanoTime() - s0) / 1e9
      val steal = Weather.stealSeconds() - st0
      val c1 = Weather.canary(cores)
      attempted += s.map(_.attempts).getOrElse(1)
      failed += (if (s.isEmpty) 1 else why.size)
      s.filter(_ => why.isEmpty).foreach(ok += _)
      details += s"""{"sample":$k,"ok":${why.isEmpty},"wall_s":${num(last)},""" +
        s.fold("")(x => s""""triples_s":${num(x.triplesS)},"full_kg_s":${num(x.fullKgS)},""" +
          s""""delta_s":${x.deltaS.map(num).mkString("[", ",", "]")},""" +
          s""""live_heap_mb":${num(x.liveHeapMb)},""" +
          s""""precision":${num(x.precision)},"recall":${num(x.recall)},""") +
        s""""steal_s":${num(steal)},"canary_pre_mops":${num(c0)},"canary_post_mops":${num(c1)},""" +
        s""""failures":${why.map(str).mkString("[", ",", "]")}}"""
      k += 1
    }
    val good = ok.result()
    val triplesS = median(good.map(_.triplesS))
    val ms = Seq(
      ("setup_s", setupS, "s"),
      ("triples_turns_per_s", if (triplesS > 0) wl.triplesTurns / triplesS else 0.0, "turns/s"),
      ("full_kg_s", median(good.map(_.fullKgS)), "s"),
      ("delta_batch_s", median(good.flatMap(_.deltaS)), "s"),
      ("store_mb", median(good.map(_.storeBytes.toDouble)) / 1e6, "MB"),
      ("live_heap_mb", median(good.map(_.liveHeapMb)), "MB"),
      ("triple_precision", median(good.map(_.precision)), "frac"),
      ("triple_recall", median(good.map(_.recall)), "frac"),
      ("pass_frac", 1.0 - failed.toDouble / math.max(attempted, 1), "frac"))
    val detail = s"""{"workload":${str(name)},"trace":0,"triples_turns":${wl.triplesTurns},""" +
      s""""cores":$cores,"setup_s":${num(setupS)},""" +
      s""""triples_s":${dist(good.map(_.triplesS))},"full_kg_s":${dist(good.map(_.fullKgS))},""" +
      s""""delta_batch_s":${dist(good.flatMap(_.deltaS))},""" +
      s""""samples":${details.result().mkString("[", ",", "]")}}"""
    (detail, result(failed == 0 && good.nonEmpty, attempted, failed, ms))
  }

  private def trace(name: String, wl: Workload): (String, String) = {
    val cores = wl.cores
    val tr = new Tracer(wl.spark, Workload.Layers)
    val c0 = Weather.canary(cores)
    val st0 = Weather.stealSeconds()
    val (t, why) =
      try { val t = wl.traced(tr); (Some(t), t.failures) }
      catch { case e: Exception => (None, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val steal = Weather.stealSeconds() - st0
    val c1 = Weather.canary(cores)
    val ms = tr.report() ++ t.map(_.metrics).getOrElse(Nil) ++ Seq(
      ("weather.steal_s", steal, "s"),
      ("weather.canary_mops", math.min(c0, c1), "Mops/s"))
    tr.close()
    val attempted = t.map(_.attempts).getOrElse(1)
    val failed = if (t.isEmpty) 1 else why.size
    val detail = s"""{"workload":${str(name)},"trace":1,"cores":$cores,""" +
      s""""failures":${why.map(str).mkString("[", ",", "]")}}"""
    (detail, result(failed == 0, attempted, failed, ms))
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val names = o.getOrElse("workload", "all") match {
      case "all" => Workloads
      case w => Seq(w)
    }
    val seed = o.getOrElse("seed", "1").toLong
    val seconds = o.getOrElse("seconds", "20").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val sizeName = o.getOrElse("size", "full")
    val size = Sizes(sizeName)
    val work = Paths.get(o.getOrElse("work", ".bench_build/work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Sessions.local(cores, "perfbench")
    var allOk = true
    try {
      names.foreach { name =>
        val t0 = System.nanoTime()
        val wl = workload(name, size, seed, spark, work)
        // the smoke size checks names and gates only: no warm-up
        if (sizeName != "smoke" && (!traced || wl.traceNeedsWarmUp)) wl.warmUp()
        // the first workload's set-up also covers JVM and session start
        val setupS =
          if (name == names.head) ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
          else (System.nanoTime() - t0) / 1e9
        val (detail, line) = if (traced) trace(name, wl) else measure(name, wl, seconds, setupS)
        allOk &&= line.startsWith("{\"correct\":true")
        System.err.println(s"perfbench: $name done")
        println(detail)
        println(line)
      }
    } finally spark.stop()
    if (names.size > 1 && !allOk) sys.exit(1)
  }
}
