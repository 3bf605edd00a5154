package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * on the same time base as Spark's listener event timestamps. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** A named interval of one timed operation (`run`), with the span that
  * caused it. Times are epoch milliseconds. */
final case class Span(name: String, start: Double, end: Double,
    parent: String, run: Int) {
  def secs: Double = (end - start) / 1000.0
}

/** One finished Spark job as the listener saw it. */
final case class Job(id: Int, start: Double, end: Double, site: String,
    tasks: Int, runMs: Long, resultBytes: Long, shuffleWriteBytes: Long) {
  lazy val layer: String = CallSites.layer(site)
}

/** Attribution of a job to a layer by its Spark call site. The short
  * call site reads "<operation> at <File>.scala:<line>"; the key is the
  * file plus the operation, never the line, so an edit that moves a
  * call inside its file keeps its layer. */
object CallSites {
  val Unknown = "learner.other"

  private val Site = """^(\S+) at ([^\s:]+)(?::\d+)?.*$""".r

  /** (file, operation) of a short call site, if it has that form. */
  def parse(site: String): Option[(String, String)] = site match {
    case Site(op, file) => Some((file, op))
    case _ => None
  }

  /** (file, operation) of a call site's long form: its first line is
    * the last Spark method called, its second the first user frame. */
  def parseLong(long: String): Option[(String, String)] = {
    val lines = long.split('\n')
    if (lines.length < 2) None
    else {
      val op = lines(0).takeWhile(_ != '(').split('.').last
      val file = lines(1).dropWhile(_ != '(').drop(1)
        .takeWhile(c => c != ':' && c != ')')
      if (op.isEmpty || file.isEmpty) None else Some((file, op))
    }
  }

  /** A job's call site: its own when that is in a known file, else the
    * call site of the SQL action that submitted it (adaptive execution
    * submits stages from a helper thread whose own call site is a JDK
    * frame). */
  def resolve(jobSite: String, sqlSite: Option[String]): String =
    if (parse(jobSite).exists(k => byFile.contains(k._1))) jobSite
    else sqlSite.getOrElse(jobSite)

  private val byFileOp = Map(
    ("GraftBoost.scala", "foreachPartition") -> "learner.pack",
    // small histograms merge in one aggregate, large ones in a tree
    ("Trainer.scala", "aggregate") -> "learner.hist",
    ("Trainer.scala", "treeAggregate") -> "learner.hist",
    ("Trainer.scala", "foreachPartition") -> "learner.advance")

  private val byFile = Map(
    "DMatrixSpec.scala" -> "data",
    "DataLoader.scala" -> "data",
    "GraftBoost.scala" -> "api",
    "Binner.scala" -> "learner.binner",
    "Trainer.scala" -> "learner.trainer",
    "Metrics.scala" -> "learner.eval",
    "TreeModel.scala" -> "learner.model",
    "EnsembleScore.scala" -> "functions",
    "GridSearch.scala" -> "ml",
    // actions the benchmark itself runs: predict scans, checks, fixtures
    "Workloads.scala" -> "bench")

  def layer(site: String): String = parse(site) match {
    case Some(key @ (file, _)) =>
      byFileOp.getOrElse(key, byFile.getOrElse(file, Unknown))
    case None => Unknown
  }
}

object Intervals {
  /** Length of the union of `[start, end)` intervals clipped to
    * `[lo, hi)`: overlapping or concurrent jobs count once. */
  def unionLength(ivs: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val sorted = ivs.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Collects finished jobs with their task totals. Registered only for
  * traced operations. */
final class JobListener extends SparkListener {
  private val open = mutable.Map[Int, (Double, String, Array[Long])]()
  private val stageJob = mutable.Map[Int, Int]()
  private val sqlSites = mutable.Map[Long, String]()
  private val done = ArrayBuffer[Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage (highest id) carries the job's call site
    val own =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val sql = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSites.get(id.toLong))
    val site = CallSites.resolve(own, sql)
    open(e.jobId) = (e.time.toDouble, site, new Array[Long](4))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      CallSites.parseLong(s.details).foreach { case (file, op) =>
        sqlSites(s.executionId) = s"$op at $file"
      }
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlSites.remove(s.executionId)
    }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); (_, _, acc) <- open.get(j)) {
      acc(0) += 1
      val m = e.taskMetrics
      if (m != null) {
        acc(1) += m.executorRunTime
        acc(2) += m.resultSize
        acc(3) += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (start, site, acc) =>
      done += Job(e.jobId, start, e.time.toDouble, site, acc(0).toInt,
        acc(1), acc(2), acc(3))
      stageJob.filterInPlace((_, j) => j != e.jobId)
    }
  }

  /** Jobs finished since the last call. */
  def take(): Seq[Job] = synchronized {
    val r = done.toList; done.clear(); r
  }
}

/** Per-layer metrics of one traced operation, from its spans and the
  * jobs that started inside it. */
object Layers {

  /** Round spans are named "round/<trial>/<round>"; trial spans
    * "trial/<trial>". Round 0 of every training is its first round. */
  private def roundIndex(s: Span): Int = s.name.split('/')(2).toInt

  /** A grid search materializes its matrix inside the call, where no
    * callback sees it. The first job the trainer runs ends that ingest:
    * it becomes the "materialize" span and the start of trial 0. */
  def refineSearch(spans: Seq[Span], jobs: Seq[Job]): Seq[Span] =
    spans.find(_.name == "search").flatMap { s =>
      jobs.filter(j => j.start >= s.start && j.start < s.end &&
          CallSites.parse(j.site).exists(_._1 == "Trainer.scala"))
        .map(_.start).minOption.map { t =>
          Span("materialize", s.start, t, "search", s.run) +: spans.map {
            sp =>
              if (sp.name == "trial/0" || sp.name == "round/0/0")
                sp.copy(start = t)
              else sp
          }
        }
    }.getOrElse(spans)

  def compute(spans: Seq[Span], jobs: Seq[Job], cores: Int)
      : Map[String, Double] = {
    def span(name: String): Option[Span] = spans.find(_.name == name)
    def in(w: Span): Seq[Job] =
      jobs.filter(j => j.start >= w.start && j.start < w.end)
    def union(js: Seq[Job], w: Span): Double =
      Intervals.unionLength(js.map(j => (j.start, j.end)), w.start,
        w.end) / 1000.0
    def layerUnion(layer: String, w: Span): Double =
      union(in(w).filter(_.layer == layer), w)
    val op = span("op").get
    val train = span("train").get
    val rounds = spans.filter(_.name.startsWith("round/"))
    val trials = spans.filter(_.name.startsWith("trial/"))
    val steady = rounds.filter(roundIndex(_) > 0)
    def perRound(f: Span => Double): Double =
      if (steady.isEmpty) 0.0 else steady.map(f).sum / steady.length
    val mat = span("materialize")
    val matJobs = mat.map(in).getOrElse(Nil)
    val steadyWall = steady.map(_.secs).sum
    val steadyGap = steady.map(r => r.secs - union(in(r), r)).sum
    val search = span("search")
    Map(
      "data.assemble_s" -> span("assemble").map(_.secs).getOrElse(0.0),
      "api.materialize_s" -> mat.map(_.secs).getOrElse(0.0),
      "api.materialize_jobs" -> matJobs.size.toDouble,
      "api.materialize_driver_mb" -> matJobs.map(_.resultBytes).sum / 1e6,
      "learner.binner_s" -> layerUnion("learner.binner", train),
      "learner.pack_s" -> layerUnion("learner.pack", train),
      "learner.round_first_s" -> Stats.median(
        rounds.filter(roundIndex(_) == 0).map(_.secs)),
      "learner.hist_s_per_round" -> perRound(r =>
        layerUnion("learner.hist", r)),
      "learner.hist_driver_mb_per_round" -> perRound(r =>
        in(r).filter(_.layer == "learner.hist").map(_.resultBytes).sum
          / 1e6),
      "learner.shuffle_mb_per_round" -> perRound(r =>
        in(r).map(_.shuffleWriteBytes).sum / 1e6),
      "learner.driver_gap_share" ->
        (if (steadyWall > 0) steadyGap / steadyWall else 0.0),
      "learner.exec_busy_share" ->
        in(train).map(_.runMs).sum / (train.end - train.start) / cores,
      "learner.jobs_per_round" -> perRound(in(_).size.toDouble),
      "learner.tasks_per_round" -> perRound(in(_).map(_.tasks).sum
        .toDouble),
      "learner.eval_s_per_round" -> perRound(r =>
        layerUnion("learner.eval", r)),
      "learner.advance_s_per_round" -> perRound(r =>
        layerUnion("learner.advance", r)),
      "learner.other_s" -> layerUnion(CallSites.Unknown, op),
      "functions.predict_s" -> span("predict").get.secs,
      "functions.predict_jobs" -> in(span("predict").get).size.toDouble,
      "ml.trial_s" -> Stats.median(trials.map(_.secs)),
      "ml.search_overhead_s" ->
        search.map(s => s.secs - trials.map(_.secs).sum).getOrElse(0.0))
  }
}
