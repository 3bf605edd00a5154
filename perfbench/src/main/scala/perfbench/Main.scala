package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * The benchmark's JVM: one workload in one JVM on local[cores].
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s>
 *     --trace <0|1> --out <dir>
 *
 * Set-up (timed as `setup_s`, median of [[SetupReps]]): SparkSession
 * bring-up plus one warm-up train + predict on a slice of the fixture.
 * One full-size operation finishes the warm-up; then train + predict
 * operations repeat until `--seconds` have passed (at least [[MinOps]]).
 * With `--trace 1` every other operation, starting with the first, runs
 * with a job listener attached and yields the per-layer metrics; the
 * untraced operations between them give the tracing overhead. Starting
 * traced puts the end of the warm-up on the traced side, so the overhead
 * is over- rather than under-stated.
 *
 * The last stdout line is `PERFBENCH_RESULT <json>`.
 */
object Main {
  val SetupReps = 3
  /** Rounds of the warm-up training: enough to run every code path. */
  val WarmupRounds = 1
  val MinOps = 2

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, out: File)

  /** One timed operation: its result or its failure, and for a traced
    * one its per-layer metrics, spans and jobs. */
  final case class Op(result: Either[String, OpResult], traced: Boolean,
      layers: Map[String, Double], spans: Seq[Span], jobs: Seq[Job],
      warmup: Boolean = false)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --flag value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1: $trace")
    val a = Args(need("workload"), need("seed").toLong,
      need("seconds").toInt, trace == "1", new File(need("out")))
    require(a.seconds > 0, s"--seconds must be positive: ${a.seconds}")
    a
  }

  def session(cores: Int, out: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  object Jvm {
    private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    /** Sum of the heap pools' peaks: an upper bound on the peak heap. */
    def peakHeapMb(): Double =
      heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val mainStart = Clock.nowMs
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
    val cores = Runtime.getRuntime.availableProcessors
    val fixRoot = new File(a.out, "fixtures")
    fixRoot.mkdirs()

    var spark: SparkSession = null
    var full: String = null
    var slice: String = null
    val setups = (0 until SetupReps).map { _ =>
      if (spark != null) stop(spark)
      val t0 = Clock.nowMs
      spark = session(cores, a.out)
      val up = Clock.nowMs - t0
      if (full == null) { // fixture generation is outside every metric
        val g0 = Clock.nowMs
        val (f, s) = Fixtures.ensure(spark, fixRoot, wl, a.seed, wl.rows)
        full = f
        slice = s
        Fixtures.evict(fixRoot, wl, Set(full, slice))
        println(f"perfbench fixture ready in ${(Clock.nowMs - g0) / 1000}%.1f s")
      }
      val t1 = Clock.nowMs
      wl.run(spark, slice, cores, new Recorder(-1), WarmupRounds)
      (up + Clock.nowMs - t1) / 1000.0
    }

    val loopStart = Clock.nowMs
    val sc = spark.sparkContext
    val listener = new JobListener
    val ops = ArrayBuffer[Op]()
    def attempt(rec: Recorder): Either[String, OpResult] =
      try Right(wl.run(spark, full, cores, rec, wl.rounds))
      catch { case NonFatal(t) =>
        t.printStackTrace()
        Left(s"${t.getClass.getSimpleName}: ${t.getMessage}")
      }
    // One operation on the full fixture completes the warm-up: after the
    // slice warm-ups alone, the first two full-size operations still ran
    // 10-30% slower while the JIT compiled. Its checks count; its
    // timings are not measured.
    ops += Op(attempt(new Recorder(-1)), traced = false, Map.empty, Nil,
      Nil, warmup = true)
    val deadline = Clock.nowMs + a.seconds * 1000.0
    def measured = ops.count(!_.warmup)
    while (measured < MinOps || Clock.nowMs < deadline) {
      val run = measured
      val traced = a.trace && run % 2 == 0
      if (traced) sc.addSparkListener(listener)
      val gc0 = Jvm.gcMs()
      Jvm.resetPeaks()
      val rec = new Recorder(run)
      val res = attempt(rec)
      val jvm = Map("jvm.gc_s" -> (Jvm.gcMs() - gc0) / 1000.0,
        "jvm.peak_heap_mb" -> Jvm.peakHeapMb())
      if (!traced) ops += Op(res, traced = false, Map.empty, Nil, Nil)
      else {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
        val jobs = listener.take()
        rec.time("assemble", "") {
          wl.spec.assemble(wl.trainFrame(spark, full))
            .write.format("noop").mode("overwrite").save()
        }
        val spans = Layers.refineSearch(rec.spans.toSeq, jobs)
        val layers =
          if (res.isLeft) Map.empty[String, Double]
          else Layers.compute(spans, jobs, cores) ++ jvm
        ops += Op(res, traced = true, layers, spans, jobs)
      }
    }
    val loopEnd = Clock.nowMs
    stop(spark)
    val done = ops.toList
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def secs(from: Double, to: Double) = f"${(to - from) / 1000}%.1f s"
    println(s"perfbench wall: jvm start to main ${secs(jvmStart, mainStart)}, " +
      s"set-up ${secs(mainStart, loopStart)}, operations " +
      s"${secs(loopStart, loopEnd)}, stop ${secs(loopEnd, Clock.nowMs)}")

    // every operation at one seed must train the same model
    val results = done.flatMap(_.result.toOption)
    val reference = results.headOption.map(_.fingerprint)
    def failedOp(o: Op): Boolean = o.result match {
      case Left(_) => true
      case Right(r) => !r.checks.forall(_.ok) ||
        !reference.contains(r.fingerprint)
    }
    val failed = done.count(failedOp)
    println(s"perfbench workload=${wl.name} seed=${a.seed} cores=$cores " +
      s"ops=${done.size} traced=${done.count(_.traced)} " +
      s"fingerprint=${reference.getOrElse("none")}")
    done.zipWithIndex.foreach { case (o, i) =>
      val what = o.result match {
        case Left(err) => s"FAILED $err"
        case Right(r) =>
          (r.checks.map(c =>
            s"${c.name}=${if (c.ok) "pass" else "FAIL"}(${c.detail})") :+
            s"fingerprint=${r.fingerprint}" :+
            f"train=${r.trainS}%.3fs predict=${r.predictS}%.3fs").mkString(" ")
      }
      val tag = if (o.warmup) " warm-up" else if (o.traced) " traced" else ""
      println(s"  op $i$tag: $what")
    }
    require(results.nonEmpty, "every operation failed; no metrics")

    val untraced = done.filter(o => !o.traced && !o.warmup)
      .flatMap(_.result.toOption)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val predictS = untraced.map(_.predictS)
        def line(n: String, xs: Seq[Double], unit: String) =
          println(f"  $n%-20s ${Stats.summary(xs, unit)}")
        line("setup_s", setups, "s")
        println("  set-ups              " +
          setups.map(x => f"$x%.3f").mkString(" ") + " s")
        line("train_s", untraced.map(_.trainS), "s")
        line("steady rounds", untraced.flatMap(_.steadyRounds), "s")
        line("predict_s", predictS, "s")
        println(f"  failed_share         ${failed.toDouble / done.size}%.4f " +
          s"($failed of ${done.size} operations)")
        Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("train_s", Stats.median(untraced.map(_.trainS)), "s"),
          // a sweep mixes depths, so each operation contributes the mean
          // of its steady rounds
          ("round_s", Stats.median(untraced.map(r =>
            r.steadyRounds.sum / r.steadyRounds.size)), "s"),
          ("predict_rows_per_s", Stats.median(
            untraced.map(r => r.predictRows / r.predictS)), "rows/s"),
          ("eval_loss", Stats.median(untraced.map(_.evalLoss)), "loss"),
          ("cache_bytes_per_row",
            Stats.median(untraced.map(_.cacheBytesPerRow)), "B/row"))
      } else {
        val traced = done.filter(o => o.traced && o.layers.nonEmpty)
        require(traced.nonEmpty, "every traced operation failed")
        val overhead =
          Stats.median(traced.flatMap(_.result.toOption).map(_.opS)) /
            Stats.median(untraced.map(_.opS)) - 1.0
        writeTrace(a, wl.name, traced.toSeq)
        traced.head.layers.keys.toSeq.sorted.map { k =>
          (k, Stats.median(traced.map(_.layers(k)).toSeq), Units.of(k))
        } :+ (("trace.overhead_share", overhead, "share"))
      }
    metrics.foreach { case (n, v, u) => println(f"  $n%-34s $v%.6g $u") }

    val body = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not finite: $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""PERFBENCH_RESULT {"correct": ${failed == 0}, """ +
      s""""attempted": ${done.size}, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }

  /** Spans and jobs of the traced operations, one JSON object a line:
    * kind, name, start and end (epoch ms), parent, run. */
  private def writeTrace(a: Args, workload: String, done: Seq[Op]): Unit = {
    val dir = new File(a.out, "traces")
    dir.mkdirs()
    val w = new PrintWriter(new File(dir, s"$workload-s${a.seed}.jsonl"),
      "UTF-8")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") +
      "\""
    try done.foreach { o =>
      val run = o.spans.headOption.map(_.run).getOrElse(-1)
      o.spans.foreach { s =>
        w.println(s"""{"kind": "span", "name": ${q(s.name)}, """ +
          s""""start": ${s.start}, "end": ${s.end}, """ +
          s""""parent": ${q(s.parent)}, "run": ${s.run}}""")
      }
      o.jobs.foreach { j =>
        w.println(s"""{"kind": "job", "name": ${q(j.site)}, """ +
          s""""start": ${j.start}, "end": ${j.end}, """ +
          s""""parent": ${q(j.layer)}, "run": $run, "tasks": ${j.tasks}}""")
      }
    } finally w.close()
  }
}

/** Units of the per-layer metrics, by name suffix. */
object Units {
  def of(metric: String): String =
    if (metric.endsWith("_s") || metric.endsWith("_s_per_round")) "s"
    else if (metric.endsWith("_mb") || metric.endsWith("_mb_per_round")) "MB"
    else if (metric.endsWith("_share")) "share"
    else "count"
}
