package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, size}

import graft.enrich.{EnrichmentPipeline, Protocol}
import graft.sources.Sources

/** End-to-end benchmark of the enrichment app `graft.Main`: seeded
  * collector-TSV inputs, `Main.main` driven in-process on a session this
  * harness creates, output checks, and one JSON result line on stdout.
  *
  * {{{
  * Bench --workload backfill_clean|stream_trickle --seed N
  *       --seconds S --trace 0|1 --work DIR --golden FILE
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` reports the
  * per-layer metrics from a traced run and writes its spans to
  * `DIR/trace-<workload>-<seed>.json`. See perfbench/README.md. */
object Bench {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
    golden: Path)

  /** Events of one backfill, split over this many input files. */
  val BackfillEvents = 24000
  val BackfillFiles = 8
  /** Backfill iterations are repeated until their summed wall time reaches
    * `--seconds`, and at least this often. */
  val MinIterations = 3
  /** Untimed backfill runs before the timed ones. */
  val WarmupRuns = 2
  /** Stream: files of `StreamFileEvents`. Warm-up: one file every
    * `StreamWarmupIntervalMs`, so that the queries run micro-batches back to
    * back, until both have run `StreamWarmupBatches` (JIT and caches settle
    * by batch count, not by time; fewer once an earlier stream warmed the
    * JVM) or `StreamWarmupMaxS` passed; then the harness waits until both
    * sinks have committed the warm-up. Window (measured): one file every
    * `StreamIntervalMs` for `--seconds`. */
  val StreamFileEvents = 250
  val StreamWarmupBatches = 10
  val StreamRewarmBatches = 3
  val StreamWarmupMaxS = 30
  val StreamWarmupIntervalMs = 250
  val StreamIntervalMs = 2000
  /** A stream run is invalid if its generator ran later than this share of
    * its interval, or its backlog grew by more than this many seconds of
    * input over the window. */
  val MaxLateShare = 0.5
  val MaxBacklogGrowthS = 2.0
  val Canary = 1000

  val Workloads = Set("backfill_clean", "stream_trickle")

  /** Output columns that carry wall-clock times (stream events are stamped
    * with their due time as the tracker's created time). */
  private def wallClockCols(workload: String): Seq[String] =
    if (workload == "stream_trickle") Seq("querystring", "created_us", "sent_us") else Nil

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList, Map.empty)
    val opts = Opts(o("workload"), o("seed").toLong, o("seconds").toInt, o("trace") == "1",
      Paths.get(o("work")).toAbsolutePath, Paths.get(o("golden")).toAbsolutePath)
    require(Workloads.contains(opts.workload), s"unknown workload ${opts.workload}")
    // Spark's non-daemon threads would keep a failed JVM alive
    val code =
      try { println(Json(new Bench(opts).run())); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(a: List[String], acc: Map[String, String]): Map[String, String] = a match {
    case Nil => acc
    case k :: v :: rest if k.startsWith("--") => parse(rest, acc + (k.drop(2) -> v))
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident memory since the last [[resetPeakRss]], in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def resetPeakRss(): Unit = Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(UTF_8))

  /** What one workload run measured. `metrics` are the end-to-end ones
    * besides setup_s; `layers` the per-layer ones (traced runs only). */
  final case class Measured(metrics: Seq[(String, (Double, String))], attempted: Long,
    failed: Long, problems: Seq[String], valid: Boolean,
    layers: Seq[(String, (Double, String))] = Nil)

  /** The backfill runs of one loop; `exec` holds the scheduler counts of
    * the last run when tracing. */
  final case class Loop(walls: Seq[Double], attempted: Long, failed: Long,
    peakMb: Double, outBytes: Long, exec: Map[String, Long])

  /** One stream run: latency samples (ms) and the facts its validity,
    * metrics and layers need, all of the measured window except `failed`,
    * `outBytes`, `inputProps` and `attempted`, which cover the whole run. */
  final case class Window(latencies: Seq[Double], units: Int, lateMaxMs: Double, backlogEnd: Long,
    backlogGrowth: Double, batches: Seq[BatchProgress], started: Long, threw: Option[Throwable],
    failed: Long, inBytes: Long, outBytes: Long, windowS: Double, committed: Long,
    peakMb: Double, exec: Map[String, Long], inputProps: Seq[(String, Any)], attempted: Long)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f)))
}

/** One run of one workload. */
final class Bench(opts: Bench.Opts) {
  import Bench._

  private val cores = Runtime.getRuntime.availableProcessors()
  /** The stream's generator thread counts against the machine's cores. */
  private val sparkCores =
    if (opts.workload == "stream_trickle") math.max(1, cores - 1) else cores
  private val work = opts.work
  private var spark: SparkSession = _
  private val artifact = mutable.LinkedHashMap.empty[String, Any]
  private var counters: ExecCounters = _
  private val tracer = new Tracer(s"${opts.workload}-${opts.seed}-${System.currentTimeMillis()}",
    () => if (counters == null) Map.empty else counters.snapshot())

  private def say(s: String): Unit = println(s)
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(name: String): Unit =
    say(f"[${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s] $name")

  private def newSession(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def mainBatch(in: Path, out: Path): Unit =
    graft.Main.main(Array("--mode", "batch", "--format", "collector-tsv", "--input", in.toString,
      "--good", out.resolve("good").toString, "--bad", out.resolve("bad").toString))

  private lazy val warmInput: Path = {
    val dir = work.resolve("warm/in")
    Gen.writeBatch(Gen.events(Gen.CanarySeed, 300), dir, 2)
    dir
  }

  /** Seconds from JVM start until the session is ready and the app has run
    * once on a tiny input: the cold start a user of the app pays. */
  private def setUp(): Double = tracer.span("setup") {
    spark = newSession(sparkCores)
    val out = work.resolve("warm/out")
    mainBatch(warmInput, out)
    deleteTree(out)
    (System.currentTimeMillis() - jvmStart) / 1e3
  }

  def run(): Map[String, Any] = {
    Files.createDirectories(work)
    val setup = setUp()
    say(f"setup_s $setup%.4f s (from JVM start)")
    val golden = readGolden()
    phase("set-up done")
    val res = tracer.span("workload") {
      if (opts.workload == "stream_trickle") new StreamRun(golden).run()
      else new BatchRun(golden).run()
    }
    phase("workload done")
    val e2e = Seq("setup_s" -> (setup, "s")) ++ res.metrics
    val correct = res.failed == 0 && res.valid
    say(f"failed_share ${res.failed.toDouble / math.max(1, res.attempted)}%.6f ratio (${res.failed} of ${res.attempted} events)")
    res.problems.foreach(p => say(s"check: $p"))
    if (!opts.trace) {
      e2e.foreach { case (k, (v, u)) => say(f"$k $v%.4f $u") }
      Map("correct" -> correct, "attempted" -> res.attempted, "failed" -> res.failed,
        "metrics" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    } else {
      val layers = res.layers
      layers.foreach { case (k, (v, u)) => say(f"$k $v%.6f $u") }
      artifact("workload") = opts.workload
      artifact("seed") = opts.seed
      artifact("cores") = cores
      artifact("spark_cores") = sparkCores
      artifact("end_to_end") = e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
      artifact("per_layer") = layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
      artifact("spans") = tracer.toJson
      val file = work.resolve(s"trace-${opts.workload}-${opts.seed}.json")
      Files.write(file, Json(artifact.toMap).getBytes(UTF_8))
      say(s"trace artifact: $file")
      Map("correct" -> correct, "attempted" -> res.attempted, "failed" -> res.failed,
        "metrics" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    }
  }

  private def readGolden(): Map[String, String] =
    if (!Files.exists(opts.golden)) Map.empty
    else "\"([a-z_]+)\"\\s*:\\s*\"(-?[0-9]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(opts.golden), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Adds the checks' verdict on one run of the app to `problems`; returns
    * the events it failed. The first [[Canary]] events have the lowest ids. */
  private def check(expected: Map[Long, Expect], out: Path, golden: Map[String, String],
    problems: mutable.ArrayBuffer[String]): Long = {
    val recorded = golden.get(opts.workload)
    val r = Checks.run(spark, expected, out.resolve("good"), out.resolve("bad"),
      _ < Gen.BaseUs + Canary * 1000L, wallClockCols(opts.workload), recorded)
    r.problems.foreach { case (k, v) => problems += s"$k: $v events" }
    if (!recorded.contains(r.canaryDigest))
      problems += s"canary digest ${r.canaryDigest} over ${r.canaryRows} good rows; recorded: ${recorded.getOrElse("none")}"
    r.failed
  }

  // ------------------------------------------------------------------ batch

  final class BatchRun(golden: Map[String, String]) {
    private val events = tracer.span("generate") {
      Gen.events(opts.seed, BackfillEvents, canary = Canary)
    }
    private val expected = events.map(e => e.id -> e.expect).toMap
    private val in = work.resolve("input")
    private val inBytes = Gen.writeBatch(events, in, BackfillFiles)
    private val n = events.size.toLong
    artifact("input") = Gen.properties(events, inBytes).toMap
    say(s"input: ${Gen.properties(events, inBytes).map { case (k, v) => s"$k=$v" }.mkString(" ")}")

    /** At least `minRuns` Main batch runs, and until their summed wall time
      * reaches `seconds`. */
    private def loop(tag: String, minRuns: Int, seconds: Double,
      problems: mutable.ArrayBuffer[String]): Loop = tracer.span(tag) {
      val walls = mutable.ArrayBuffer.empty[Double]
      var attempted, failed, outBytes = 0L
      var peak = 0.0
      var exec = Map.empty[String, Long]
      var checkS = 0.0
      var k = 0
      while (k < minRuns || walls.sum < seconds) {
        val out = work.resolve(s"out/$tag-$k")
        val before = if (counters == null) Map.empty[String, Long] else counters.snapshot()
        resetPeakRss()
        val t0 = System.nanoTime()
        val threw = tracer.span("main") {
          try { mainBatch(in, out); None } catch { case e: Exception => Some(e) }
        }
        val wall = (System.nanoTime() - t0) / 1e9
        peak = math.max(peak, peakRssMb())
        if (counters != null)
          exec = counters.snapshot().map { case (c, v) => c -> (v - before.getOrElse(c, 0L)) }
        attempted += n
        threw match {
          case Some(e) =>
            failed += n
            problems += s"Main.main threw: $e"
          case None =>
            walls += wall
            if (outBytes == 0)
              outBytes = Checks.dataBytes(out.resolve("good")) + Checks.dataBytes(out.resolve("bad"))
            val c0 = System.nanoTime()
            failed += tracer.span("check")(check(expected, out, golden, problems))
            checkS += (System.nanoTime() - c0) / 1e9
        }
        deleteTree(out)
        k += 1
      }
      say(f"$tag: checks took $checkS%.1f s")
      Loop(walls.toSeq, attempted, failed, peak, outBytes, exec)
    }

    def run(): Measured = {
      val problems = mutable.ArrayBuffer.empty[String]
      phase("input generated")
      // JIT and caches warm on the real input first; users of a long-lived
      // app do not pay that per job
      tracer.span("warmup")((0 until WarmupRuns).foreach { k =>
        mainBatch(in, work.resolve(s"out/warmup-$k"))
        deleteTree(work.resolve(s"out/warmup-$k"))
      })
      phase("warm-up runs done")
      val timed = loop("timed", MinIterations, opts.seconds, problems)
      val walls = timed.walls
      say(s"backfill: ${walls.size} runs of Main over $n events, wall s: ${walls.map(w => f"$w%.3f").mkString(", ")}")
      // every event of a backfill job is due at its start and visible at
      // its end, so a job is one independent latency sample; p99 with ten
      // samples beyond it needs 1000 jobs, so the tail reported is the worst
      val tail = walls.maxOption.getOrElse(0.0) * 1000
      say(s"latency samples: ${walls.size * n} events in ${walls.size} jobs; latency_p99_ms reads the maximum")
      val metrics = Seq(
        "events_per_s" -> (n / median(walls), "events/s"),
        "latency_p50_ms" -> (median(walls) * 1000, "ms"),
        "latency_p99_ms" -> (tail, "ms"),
        "peak_rss_mb" -> (timed.peakMb, "MB"),
        "out_bytes_per_event" -> (timed.outBytes.toDouble / n, "bytes"))
      if (!opts.trace)
        Measured(metrics, timed.attempted, timed.failed, problems.toSeq.distinct, valid = true)
      else {
        counters = new ExecCounters(spark.sparkContext)
        spark.sparkContext.addSparkListener(counters)
        val traced = loop("traced", 1, 0, problems)
        // layer costs are measured on twice the input (the same seed's
        // first 2n events) so that one call per layer reads above noise
        val layerIn = work.resolve("layer-input")
        Gen.writeBatch(
          Gen.events(opts.seed, 2 * BackfillEvents, canary = Canary), layerIn, BackfillFiles)
        val layers = tracer.span("layers")(Layers.measure(layerIn, traced.exec)) :+
          ("sources.scan_amplification" -> (traced.exec("input_bytes").toDouble / inBytes, "ratio"))
        val overhead = median(traced.walls) / median(walls) - 1
        val speedup =
          if (opts.workload == "backfill_clean") parallelSpeedup(median(walls)) else 0.0
        Measured(metrics, timed.attempted + traced.attempted, timed.failed + traced.failed,
          problems.toSeq.distinct, valid = true,
          layers = layers ++ Seq(
            "trace.overhead_share" -> (overhead, "ratio"),
            "exec.parallel_speedup" -> (speedup, "ratio"),
            "enrich.bad_share" -> (events.count(_.expect.expect_bad).toDouble / n, "ratio")) ++
            Layers.streamingNotApplicable)
      }
    }

    /** Wall time of one Main run at local[1] over the same input ÷ the
      * untraced median at `sparkCores`. Leaves the local[1] session behind. */
    private def parallelSpeedup(wallN: Double): Double = tracer.span("baseline.local1") {
      spark.stop()
      spark = newSession(1)
      mainBatch(warmInput, work.resolve("warm/out-1core"))
      val t0 = System.nanoTime()
      mainBatch(in, work.resolve("out/local1"))
      val w1 = (System.nanoTime() - t0) / 1e9
      deleteTree(work.resolve("out/local1"))
      say(f"local[1] wall $w1%.3f s vs local[$sparkCores] median $wallN%.3f s")
      w1 / wallN
    }
  }

  // ----------------------------------------------------------------- stream

  final class StreamRun(golden: Map[String, String]) {
    private val windowFiles = opts.seconds * 1000 / StreamIntervalMs
    private val maxFiles = StreamWarmupMaxS * 1000 / StreamWarmupIntervalMs + windowFiles
    private val events = tracer.span("generate") {
      Gen.events(opts.seed, maxFiles * StreamFileEvents, canary = Canary)
    }
    private def fileEvents(j: Int) = events.slice(j * StreamFileEvents, (j + 1) * StreamFileEvents)
    private val rate = StreamFileEvents * 1000.0 / StreamIntervalMs

    private def window(tag: String, warmBatches: Int, problems: mutable.ArrayBuffer[String]): Window =
      tracer.span(tag) {
        val root = work.resolve(s"stream-$tag")
        val (in, stage, out, ckpt) = (root.resolve("in"), root.resolve("stage"), root.resolve("out"),
          root.resolve("ckpt"))
        Seq(in, stage, out).foreach(Files.createDirectories(_))
        val log = new ProgressLog
        spark.streams.addListener(log)
        @volatile var threw: Option[Throwable] = None
        val app = new Thread(() =>
          try graft.Main.main(Array("--mode", "stream", "--format", "collector-tsv",
            "--input", in.toString, "--good", out.resolve("good").toString,
            "--bad", out.resolve("bad").toString, "--checkpoint", ckpt.toString))
          catch { case e: Throwable => threw = Some(e) }, "graft-main-stream")
        app.start()
        val deadline = System.currentTimeMillis() + 60000
        while (spark.streams.active.length < 2 && threw.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        // open loop: within a phase, file j is due on a fixed schedule
        // whatever the app does
        val due = new Array[Long](maxFiles)
        val late = new Array[Double](maxFiles)
        val backlog = mutable.ArrayBuffer.empty[(Long, Long)]
        var inBytes = 0L
        def committed = math.min(log.rows("out/good"), log.rows("out/bad"))
        /** Drops files `from` until `until` (or until `enough`); returns the
          * phase start and the first file not dropped. */
        def generate(from: Int, until: Int, intervalMs: Int, enough: => Boolean): (Long, Int) = {
          val t0 = System.currentTimeMillis() + 100
          var j = from
          while (j < until && !enough && threw.isEmpty) {
            due(j) = t0 + (j - from).toLong * intervalMs
            val wait = due(j) - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            inBytes += Gen.dropFile(fileEvents(j), stage, in, f"part-$j%05d.tsv", due(j))
            late(j) = (System.currentTimeMillis() - due(j)).toDouble
            backlog += due(j) -> ((j + 1L) * StreamFileEvents - committed)
            j += 1
          }
          (t0, j)
        }
        def drain(upTo: Long): Unit = tracer.span("drain") {
          val by = System.currentTimeMillis() + 30000
          while (committed < upTo && threw.isEmpty && System.currentTimeMillis() < by)
            Thread.sleep(20)
        }
        val (_, warmFiles) = tracer.span("warmup")(generate(0, maxFiles - windowFiles,
          StreamWarmupIntervalMs, log.batches("out/good") >= warmBatches &&
            log.batches("out/bad") >= warmBatches))
        drain(warmFiles.toLong * StreamFileEvents)
        val warmBytes = inBytes
        resetPeakRss()
        val countsStart = if (counters == null) Map.empty[String, Long] else counters.snapshot()
        val (windowStart, files) = tracer.span("generator")(
          generate(warmFiles, warmFiles + windowFiles, StreamIntervalMs, enough = false))
        val total = files.toLong * StreamFileEvents
        drain(total)
        val peakMb = peakRssMb()
        val exec = if (counters == null) Map.empty[String, Long]
                   else counters.snapshot().map { case (k, v) => k -> (v - countsStart.getOrElse(k, 0L)) }
        spark.streams.active.foreach(_.stop())
        app.join(60000)
        spark.streams.removeListener(log)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        threw.foreach(e => problems += s"Main.main threw: $e")

        // file -> micro-batch of each sink query, from the queries' source logs
        def fileBatches(sink: String): Map[String, Long] = {
          val dir = ckpt.resolve(s"$sink/sources/0")
          if (!Files.exists(dir)) Map.empty
          else Using.resource(Files.list(dir))(_.iterator().asScala.toList)
            .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")).flatMap { f =>
            Files.readAllLines(f).asScala.flatMap { l =>
              for {
                p <- "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l)
                b <- "\"batchId\":(\\d+)".r.findFirstMatchIn(l)
              } yield p.group(1).split('/').last -> b.group(1).toLong
            }
          }.toMap
        }
        val batches = log.all
        def endOf(sink: String): Map[Long, Long] =
          batches.filter(_.query.contains(s"out/$sink")).map(b => b.batchId -> b.endMs).toMap
        val ends = Map("good" -> endOf("good"), "bad" -> endOf("bad"))
        val inFile = Map("good" -> fileBatches("good"), "bad" -> fileBatches("bad"))
        // events of one file on one sink share their latency: (sink, file)
        // is the independent unit
        val samples = for {
          j <- warmFiles until files
          e <- fileEvents(j)
          sink = if (e.expect.expect_bad) "bad" else "good"
          b <- inFile(sink).get(f"part-$j%05d.tsv")
          end <- ends(sink).get(b)
        } yield (sink, j) -> (end - due(j)).toDouble
        val latencies = samples.map(_._2)
        say("per-file latency ms (good sink): " + (warmFiles until files).flatMap { j =>
          inFile("good").get(f"part-$j%05d.tsv").flatMap(ends("good").get).map(_ - due(j))
        }.mkString(" "))
        val inWindow = backlog.filter(_._1 >= windowStart).map(_._2.toDouble)
        val third = math.max(1, inWindow.size / 3)
        val growth = inWindow.takeRight(third).sum / third - inWindow.take(third).sum / third
        val failed =
          if (threw.isDefined) total
          else tracer.span("check")(check(events.take(files * StreamFileEvents)
            .map(e => e.id -> e.expect).toMap, out, golden, problems))
        val lastEnd = batches.map(_.endMs).maxOption.getOrElse(windowStart)
        say(s"stream warm-up: $warmFiles files until both queries ran $warmBatches micro-batches")
        val w = Window(latencies, samples.map(_._1).distinct.size, late.slice(warmFiles, files).maxOption.getOrElse(0.0),
          inWindow.lastOption.fold(0L)(_.toLong), growth,
          batches.filter(_.startMs >= windowStart), log.started.get, threw, failed, inBytes - warmBytes,
          // the whole run: the window alone is too few events for a steady
          // bytes-per-event figure
          Checks.dataBytes(out.resolve("good")) + Checks.dataBytes(out.resolve("bad")),
          (lastEnd - windowStart) / 1000.0, latencies.size.toLong, peakMb, exec,
          Gen.properties(events.take(files * StreamFileEvents), inBytes), total)
        deleteTree(root)
        w
      }

    private def e2e(w: Window, problems: mutable.ArrayBuffer[String]): (Seq[(String, (Double, String))], Boolean) = {
      val lateLimit = MaxLateShare * StreamIntervalMs
      val growthLimit = MaxBacklogGrowthS * rate
      val valid = w.threw.isEmpty && w.lateMaxMs <= lateLimit && w.backlogGrowth <= growthLimit &&
        w.latencies.nonEmpty
      say(f"stream: ${w.latencies.size} events in the ${opts.seconds} s window at $rate%.0f events/s; " +
        f"generator late max ${w.lateMaxMs}%.1f ms (limit $lateLimit%.0f); backlog growth ${w.backlogGrowth}%.0f events (limit $growthLimit%.0f); ${w.batches.size} micro-batches")
      if (!valid) problems += "INVALID stream run: generator late, backlog growing, or no latency samples"
      // p99 with ten independent samples beyond it needs 1000 (sink, file)
      // pairs: the tail reported is the worst one
      val tail = w.latencies.maxOption.getOrElse(0.0)
      say(s"latency samples: ${w.latencies.size} events in ${w.units} (sink, file) pairs; latency_p99_ms reads the maximum")
      val metrics = Seq(
        "events_per_s" -> (w.committed / w.windowS, "events/s"),
        "latency_p50_ms" -> (median(w.latencies), "ms"),
        "latency_p99_ms" -> (tail, "ms"),
        "peak_rss_mb" -> (w.peakMb, "MB"),
        "out_bytes_per_event" -> (w.outBytes.toDouble / w.attempted, "bytes"))
      // an invalid run is not reported as a latency
      (if (valid) metrics else metrics.filterNot(_._1.startsWith("latency")), valid)
    }

    def run(): Measured = {
      val problems = mutable.ArrayBuffer.empty[String]
      val w = window("timed", StreamWarmupBatches, problems)
      artifact("input") = w.inputProps.toMap
      say(s"input: ${w.inputProps.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
      val (metrics, valid) = e2e(w, problems)
      if (!opts.trace) Measured(metrics, w.attempted, w.failed, problems.toSeq.distinct, valid)
      else {
        counters = new ExecCounters(spark.sparkContext)
        spark.sparkContext.addSparkListener(counters)
        val tw = window("traced", StreamRewarmBatches, problems)
        val exec = tw.exec
        artifact("stream_batches") = tw.batches.map(b => Map("sink" -> b.query, "batch" -> b.batchId,
          "rows" -> b.rows, "start_ms" -> b.startMs, "end_ms" -> b.endMs, "duration_ms" -> b.durations))
        // the per-layer calls run on the stream's input as one static batch
        val in = work.resolve("stream-layers")
        val dropped = events.take(tw.attempted.toInt)
        Gen.writeBatch(dropped, in, dropped.size / StreamFileEvents)
        def p50(key: String) = median(tw.batches.map(_.durations.getOrElse(key, 0L).toDouble))
        val layers = tracer.span("layers")(Layers.measure(in, exec)) ++ Seq(
          "sources.scan_amplification" -> (exec("input_bytes").toDouble / math.max(1, tw.inBytes), "ratio"),
          "trace.overhead_share" -> (median(tw.latencies) / median(w.latencies) - 1, "ratio"),
          "exec.parallel_speedup" -> (0.0, "ratio"),
          "enrich.bad_share" -> (dropped.count(_.expect.expect_bad).toDouble / dropped.size, "ratio"),
          "streaming.batches" -> (tw.batches.size.toDouble, "count"),
          "streaming.queries" -> (tw.started.toDouble, "count"),
          "streaming.rows_per_batch_p50" -> (median(tw.batches.map(_.rows.toDouble)), "rows"),
          "streaming.trigger_ms_p50" -> (p50("triggerExecution"), "ms"),
          "streaming.add_batch_ms_p50" -> (p50("addBatch"), "ms"),
          "streaming.query_planning_ms_p50" -> (p50("queryPlanning"), "ms"),
          "streaming.wal_commit_ms_p50" -> (p50("walCommit"), "ms"),
          "streaming.commit_offsets_ms_p50" -> (p50("commitOffsets"), "ms"),
          "streaming.get_batch_ms_p50" -> (p50("getBatch"), "ms"),
          "streaming.latest_offset_ms_p50" -> (p50("latestOffset"), "ms"),
          "streaming.backlog_events_end" -> (tw.backlogEnd.toDouble, "events"),
          "gen.late_ms_max" -> (tw.lateMaxMs, "ms"))
        Measured(metrics, w.attempted + tw.attempted, w.failed + tw.failed, problems.toSeq.distinct,
          valid, layers)
      }
    }
  }

  // ----------------------------------------------------------------- layers

  object Layers {
    /** Layers that only a stream run has, reported as 0 on batch runs. */
    val streamingNotApplicable: Seq[(String, (Double, String))] = Seq(
      "streaming.batches" -> "count", "streaming.queries" -> "count",
      "streaming.rows_per_batch_p50" -> "rows", "streaming.trigger_ms_p50" -> "ms",
      "streaming.add_batch_ms_p50" -> "ms", "streaming.query_planning_ms_p50" -> "ms",
      "streaming.wal_commit_ms_p50" -> "ms", "streaming.commit_offsets_ms_p50" -> "ms",
      "streaming.get_batch_ms_p50" -> "ms", "streaming.latest_offset_ms_p50" -> "ms",
      "streaming.backlog_events_end" -> "events", "gen.late_ms_max" -> "ms"
    ).map { case (k, u) => k -> (0.0, u) }

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** One timed call, in seconds, inside a span. */
    private def time(name: String)(body: => Unit): Double = tracer.span(name) {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    /** Per-layer costs measured by calling each module's public functions
      * on the run's input; `exec` are the scheduler counts of one traced
      * Main run. */
    def measure(in: Path, exec: Map[String, Long]): Seq[(String, (Double, String))] = {
      val pipeline = graft.queries.PipelineQuery.pipeline
      val etl = lit(System.currentTimeMillis() * 1000L)
      def parsed() = Sources.collectorTsv(spark, in.toString)
      def raw() = Protocol.fromCollector(parsed())
      val payload = Sources.CollectorTsvFields.map(_._1)
      val tParse = time("sources.parse")(noop(parsed()))
      val tProtocol = time("enrich.protocol")(noop(raw()))
      val stages = pipeline.enrichments
      val prefix = (0 to stages.size).map { k =>
        val name = if (k == 0) "base" else stages(k - 1).getClass.getSimpleName
        time(s"enrich.prefix.$k.$name")(noop(EnrichmentPipeline(stages.take(k)).run(raw())))
      }
      val stageCosts = stages.indices.map { k =>
        s"enrich.stage.${stages(k).getClass.getSimpleName}_s" -> (prefix(k + 1) - prefix(k), "s")
      }
      val tBadSide = time("enrich.bad_side")(noop(pipeline.split(raw())._2
        .select((payload :+ "bad_row_errors").map(col): _*)))
      val tEnvelope = time("enrich.bad_envelope")(noop(
        pipeline.badRowsJson(raw(), payload, etl).select("bad_row")))
      val sinkDir = work.resolve("out/layers")
      val tGoodNoop = time("sinks.good_noop")(noop(pipeline.split(raw())._1))
      val tGoodReal = time("sinks.good_parquet")(
        pipeline.split(raw())._1.write.mode("overwrite").parquet(sinkDir.resolve("good").toString))
      val tBadReal = time("sinks.bad_text")(pipeline.badRowsJson(raw(), payload, etl)
        .select("bad_row").write.mode("overwrite").text(sinkDir.resolve("bad").toString))
      deleteTree(sinkDir)
      val failuresPerBad = tracer.span("enrich.failures_per_bad_row") {
        pipeline.split(raw())._2.agg(org.apache.spark.sql.functions.avg(size(col("bad_row_errors"))))
          .head().getDouble(0)
      }
      val phases = tracer.span("plans") {
        (0 until 3).map { _ =>
          val qe = pipeline.split(raw())._1.queryExecution
          qe.executedPlan
          qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        }
      }
      def phaseMs(k: String) = median(phases.map(_.getOrElse(k, 0.0)))
      stageCosts ++ Seq(
        "sources.parse_s" -> (tParse, "s"),
        "enrich.protocol_s" -> (tProtocol - tParse, "s"),
        "enrich.chain_s" -> (prefix.last, "s"),
        "enrich.bad_envelope_s" -> (tEnvelope - tBadSide, "s"),
        "enrich.failures_per_bad_row" -> (failuresPerBad, "count"),
        "sinks.good_parquet_s" -> (tGoodReal - tGoodNoop, "s"),
        "sinks.bad_text_s" -> (tBadReal - tEnvelope, "s"),
        "plans.analysis_ms" -> (phaseMs("analysis"), "ms"),
        "plans.optimization_ms" -> (phaseMs("optimization"), "ms"),
        "plans.planning_ms" -> (phaseMs("planning"), "ms"),
        "exec.jobs" -> (exec("jobs").toDouble, "count"),
        "exec.stages" -> (exec("stages").toDouble, "count"),
        "exec.tasks" -> (exec("tasks").toDouble, "count"),
        "exec.task_cpu_s" -> (exec("task_cpu_ns") / 1e9, "s"),
        "exec.gc_s" -> (exec("gc_ms") / 1e3, "s"),
        "exec.shuffle_bytes" -> (exec("shuffle_bytes").toDouble, "bytes"),
        "exec.spill_bytes" -> (exec("spill_bytes").toDouble, "bytes"))
    }
  }
}

/** Minimal JSON rendering of maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
