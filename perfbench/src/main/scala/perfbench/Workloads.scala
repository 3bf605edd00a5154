package perfbench

import graft.api.GraftBoost
import graft.data.DMatrixSpec
import graft.learner.{GraftModel, TrainParams, TrainResult, TrainingCallback}
import graft.ml.GraftGridSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable.ArrayBuffer

final case class Check(name: String, ok: Boolean, detail: String)

/** What one timed operation (train + predict) produced. */
final case class OpResult(spans: Seq[Span], steadyRounds: Seq[Double],
    predictRows: Long, evalLoss: Double, cacheBytesPerRow: Double,
    fingerprint: String, checks: Seq[Check]) {
  private def secs(name: String) = spans.find(_.name == name).get.secs
  def trainS: Double = secs("train")
  def predictS: Double = secs("predict")
  def opS: Double = secs("op")
}

/** Spans of one operation: named intervals plus the boosting-round
  * clock driven by the training callback. */
final class Recorder(run: Int) {
  val spans = ArrayBuffer[Span]()
  private var mark = 0.0

  def time[T](name: String, parent: String)(body: => T): T = {
    val s = Clock.nowMs
    try body finally spans += Span(name, s, Clock.nowMs, parent, run)
  }

  /** The next round of `trial` is timed from now. */
  def startRounds(): Unit = mark = Clock.nowMs

  def round(trial: Int, r: Int): Unit = {
    val now = Clock.nowMs
    spans += Span(s"round/$trial/$r", mark, now, s"trial/$trial", run)
    mark = now
  }

  def steadyRounds: Seq[Double] = spans.collect {
    case s if s.name.startsWith("round/") && !s.name.endsWith("/0") => s.secs
  }.toSeq
}

/** One benchmark workload: a seeded fixture generator plus the timed
  * train → predict operation with its correctness checks. */
sealed trait Workload {
  def name: String
  /** Rows of the fixture. */
  def rows: Long
  /** Everything that shapes the fixture besides the seed. */
  def shape(rows: Long): String
  def generate(spark: SparkSession, dir: String, seed: Long,
      rows: Long): Unit
  def spec: DMatrixSpec
  /** The training frame, for the traced assemble scan and the tests. */
  def trainFrame(spark: SparkSession, dir: String): DataFrame
  /** Boosting rounds of a timed training. */
  def rounds: Int
  def run(spark: SparkSession, dir: String, cores: Int, rec: Recorder,
      rounds: Int): OpResult
}

object Workloads {
  val all: Seq[Workload] = Seq(TallIngest, WideRounds, MulticlassSweep)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n'; one of " +
      all.map(_.name).mkString(", ")))

  /** The generator of partition `part` of a fixture at `seed`. */
  def rng(seed: Long, part: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + part)

  /** The planted class boundaries are the same at every seed, so the
    * seed changes only the samples and the losses compare across seeds. */
  def planted: java.util.SplittableRandom = new java.util.SplittableRandom(7L)

  def fingerprint(m: GraftModel): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(m.toXgbJson.getBytes("UTF-8"))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** Order-independent content hash of a fixture: row count plus the
    * exact sum of per-row xxhash64 over every column. */
  def contentHash(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  /** Bytes of the training matrix: the lowest-id RDD cached since the
    * operation began (materialize caches the training blocks before
    * anything else it caches). */
  def trainCacheBytes(spark: SparkSession, before: Set[Int]): Long =
    spark.sparkContext.getRDDStorageInfo
      .filter(i => !before.contains(i.id) && i.numCachedPartitions > 0)
      .sortBy(_.id).headOption.map(i => i.memSize + i.diskSize)
      .getOrElse(0L)

  def cachedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** Round callback for a single training: trial 0, and a storage
    * snapshot of the training matrix at the end of its first round. */
  final class RoundClock(rec: Recorder, spark: SparkSession,
      before: Set[Int]) extends TrainingCallback {
    var cacheBytes = 0L
    override def afterIteration(round: Int,
        metrics: Map[String, Double]): Boolean = {
      rec.round(0, round)
      if (round == 0) cacheBytes = trainCacheBytes(spark, before)
      false
    }
  }

  /** materialize → train → predict for the binary workloads, which
    * train and predict the same parquet directory. `checks` sees the
    * training result and the clean-label error of the predictions. */
  def trainAndPredict(spark: SparkSession, dir: String, spec: DMatrixSpec,
      params: TrainParams, cores: Int, rec: Recorder)(
      checks: (TrainResult, Double) => Seq[Check]): OpResult = {
    val (res, cacheBytes, out) = rec.time("op", "") {
      val before = cachedIds(spark)
      val clock = new RoundClock(rec, spark, before)
      val res = rec.time("train", "op") {
        val m = rec.time("materialize", "train") {
          GraftBoost.materialize(spark.read.parquet(dir), spec, params,
            numWorkers = cores)
        }
        rec.startRounds()
        try rec.time("trial/0", "train") {
          m.train(params, evals = Seq(("train", m)), callbacks = Seq(clock))
        } finally m.unpersist()
      }
      val out = rec.time("predict", "op") {
        GraftBoost.predict(res.model, spark.read.parquet(dir), spec)
          .agg(count(lit(1)), avg(when((col("prediction") > 0.5)
            .cast("int") =!= col("label_clean").cast("int"), 1.0)
            .otherwise(0.0)))
          .head()
      }
      (res, clock.cacheBytes, out)
    }
    OpResult(rec.spans.toSeq, rec.steadyRounds, out.getLong(0),
      res.evalsResult("train")("logloss").last,
      cacheBytes.toDouble / res.totalN, fingerprint(res.model),
      checks(res, out.getDouble(1)))
  }
}

import Workloads._

/** The reference's learnable canonical shape (create_learnable_data.py
  * analog, as in BenchLarge): 4 float32 features of which 2 carry a
  * linear class boundary, 20% of labels flipped, an ignored `partition`
  * column, many part-files. Ingest (scan, sketch, bin, pack, cache) is
  * the largest single phase of training; histograms are a few MB per
  * round. */
object TallIngest extends Workload {
  val name = "tall_ingest"
  val rows = 600000L
  val parts = 100
  def shape(rows: Long) = s"r${rows}x4p$parts"

  val spec = DMatrixSpec(labelCol = Seq("labels"),
    ignore = Seq("partition", "label_clean"))
  val rounds = 5
  val params = TrainParams(objective = "binary:logistic", maxDepth = 6,
    eta = 0.3, evalMetric = Seq("logloss", "error"), seed = 1234)

  def generate(spark: SparkSession, dir: String, seed: Long,
      rows: Long): Unit = {
    import spark.implicits._
    val perPart = (rows / parts).toInt
    // one generator stream per part-file; a few tasks write them all
    spark.range(0, parts, 1, 4).as[Long].flatMap { pid =>
      val rng = Workloads.rng(seed, pid)
      Iterator.fill(perPart) {
        val x0 = rng.nextGaussian().toFloat
        val x1 = rng.nextGaussian().toFloat
        val clean = if (1.5 * x0 - x1 > 0) 1 else 0
        val y = if (rng.nextFloat() < 0.2f) 1 - clean else clean
        (x0, x1, rng.nextGaussian().toFloat, rng.nextGaussian().toFloat,
          y, clean, pid.toInt)
      }
    }.toDF("feature_0", "feature_1", "feature_2", "feature_3", "labels",
      "label_clean", "partition")
      .write.option("maxRecordsPerFile", perPart.toLong).parquet(dir)
  }

  def trainFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  def run(spark: SparkSession, dir: String, cores: Int, rec: Recorder,
      rounds: Int): OpResult = {
    trainAndPredict(spark, dir, spec, params.copy(numRounds = rounds), cores,
      rec) { (res, cleanErr) =>
      // BenchLarge's learnable gates: labeled error at the 0.2 flip floor
      // plus slack, and the noise-free boundary recovered
      val err = res.evalsResult("train")("error").last
      Seq(Check("error_last<=0.205", err <= 0.205, f"$err%.4f"),
        Check("clean_error<=0.05", cleanErr <= 0.05, f"$cleanErr%.4f"))
    }
  }
}

/** Many features in one pre-assembled array column (the VectorAssembler
  * convention), few rows: each round ships large partial histograms to
  * the driver, which merges them and scans for splits, while per-row
  * work is small. */
object WideRounds extends Workload {
  val name = "wide_rounds"
  val rows = 10000L
  val width = 128
  val informative = 4
  val parts = 8
  def shape(rows: Long) = s"r${rows}x${width}i$informative"

  val spec = DMatrixSpec(labelCol = Seq("label"),
    featureCols = Some(Seq("features")), ignore = Seq("label_clean"))
  val rounds = 6
  // 64 bins keep a round's histogram traffic (width × bins × nodes ×
  // partitions) inside the run length on a few cores
  val params = TrainParams(objective = "binary:logistic", maxDepth = 6,
    maxBins = 64, eta = 0.3, evalMetric = Seq("logloss"), seed = 1234)
  /** Accuracy against the planted pre-noise label. */
  val minCleanAccuracy = 0.9

  def generate(spark: SparkSession, dir: String, seed: Long,
      rows: Long): Unit = {
    import spark.implicits._
    val w = {
      val r = Workloads.planted
      Array.fill(informative)(r.nextGaussian())
    }
    val perPart = (rows / parts).toInt
    spark.range(0, parts, 1, parts).as[Long].flatMap { pid =>
      val rng = Workloads.rng(seed, pid)
      Iterator.fill(perPart) {
        val x = Array.fill(width)(rng.nextGaussian().toFloat)
        var s = 0.0
        var j = 0
        while (j < informative) { s += w(j) * x(j); j += 1 }
        val clean = if (s > 0) 1 else 0
        val y = if (rng.nextFloat() < 0.1f) 1 - clean else clean
        (x, y, clean)
      }
    }.toDF("features", "label", "label_clean").write.parquet(dir)
  }

  def trainFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  def run(spark: SparkSession, dir: String, cores: Int, rec: Recorder,
      rounds: Int): OpResult = {
    trainAndPredict(spark, dir, spec, params.copy(numRounds = rounds), cores,
      rec) { (_, cleanErr) =>
      val acc = 1.0 - cleanErr
      Seq(Check(s"clean_accuracy>=$minCleanAccuracy",
        acc >= minCleanAccuracy, f"$acc%.4f"))
    }
  }
}

/** Tuning traffic (the Ray Tune analog): a 4-candidate grid over one
  * materialized matrix, 5 classes so 5 trees per round, depth up to 8.
  * Ingest is a small share; job count and tree routing dominate. */
object MulticlassSweep extends Workload {
  val name = "multiclass_sweep"
  val rows = 40000L
  val width = 16
  val classes = 5
  val parts = 8
  def shape(rows: Long) = s"r${rows}x${width}c$classes"

  val spec = DMatrixSpec(labelCol = Seq("label"),
    ignore = Seq("label_clean"))
  val rounds = 2
  // 32 bins keep the histograms of depth-8, 5-class rounds inside the
  // run length; job count and tree routing are what the sweep stresses
  val base = TrainParams(objective = "multi:softprob", numClass = classes,
    maxBins = 32, eta = 0.3, evalMetric = Seq("mlogloss"), seed = 1234)
  def grid(rounds: Int): Seq[TrainParams] = GraftGridSearch.expand(
    base.copy(numRounds = rounds), maxDepth = Seq(4, 8),
    subsample = Seq(1.0, 0.8))
  val minCleanAccuracy = 0.8

  def generate(spark: SparkSession, dir: String, seed: Long,
      rows: Long): Unit = {
    import spark.implicits._
    // class = argmax over 5 planted linear scores of 4 features
    val w = {
      val r = Workloads.planted
      Array.fill(classes, 4)(r.nextGaussian())
    }
    val perPart = (rows / parts).toInt
    val df = spark.range(0, parts, 1, parts).as[Long].flatMap { pid =>
      val rng = Workloads.rng(seed, pid)
      Iterator.fill(perPart) {
        val x = Array.fill(width)(rng.nextGaussian().toFloat)
        var best = 0
        var bestS = Double.NegativeInfinity
        var c = 0
        while (c < classes) {
          var s = 0.0
          var j = 0
          while (j < 4) { s += w(c)(j) * x(j); j += 1 }
          if (s > bestS) { bestS = s; best = c }
          c += 1
        }
        val y = if (rng.nextFloat() < 0.1f) rng.nextInt(classes) else best
        (x, y, best, rng.nextInt(5))
      }
    }.toDF("x", "label", "label_clean", "fold")
    val flat = df.select((0 until width).map(j => col("x")(j).as(s"f$j")) ++
      Seq(col("label"), col("label_clean"), col("fold")): _*)
    flat.where(col("fold") =!= 0).drop("fold").write.parquet(s"$dir/train")
    flat.where(col("fold") === 0).drop("fold").write.parquet(s"$dir/val")
  }

  def trainFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/train")

  def run(spark: SparkSession, dir: String, cores: Int, rec: Recorder,
      rounds: Int): OpResult = {
    val grid = this.grid(rounds)
    val out = rec.time("op", "") {
      val before = cachedIds(spark)
      var cacheBytes = 0L
      rec.startRounds()
      val result = rec.time("train", "op") {
        rec.time("search", "train") {
          GraftGridSearch.fit(spark.read.parquet(s"$dir/train"), spec, grid,
            spark.read.parquet(s"$dir/val"), numWorkers = cores,
            onRound = (p, r, _) => {
              val trial = grid.indexOf(p)
              rec.round(trial, r)
              if (trial == 0 && r == 0)
                cacheBytes = trainCacheBytes(spark, before)
            })
        }
      }
      // trial t runs from the end of trial t-1's last round to the end
      // of its own; trial 0 from the start of the search
      val roundSpans = rec.spans.filter(_.name.startsWith("round/"))
      grid.indices.foreach { t =>
        val own = roundSpans.filter(_.name.startsWith(s"round/$t/"))
        rec.spans += Span(s"trial/$t", own.map(_.start).min,
          own.map(_.end).max, "search", own.head.run)
      }
      val row = rec.time("predict", "op") {
        GraftBoost.predict(result.bestResult.model,
          spark.read.parquet(s"$dir/val"), spec)
          .agg(count(lit(1)), avg(when(col("prediction") =!=
            col("label_clean").cast("double"), 1.0).otherwise(0.0)))
          .head()
      }
      val trainRows = result.bestResult.totalN
      (result, row, cacheBytes.toDouble / trainRows)
    }
    val (result, row, cacheRow) = out
    val acc = 1.0 - row.getDouble(1)
    OpResult(rec.spans.toSeq, rec.steadyRounds, row.getLong(0),
      result.bestResult.evalsResult("val")("mlogloss").last, cacheRow,
      fingerprint(result.bestResult.model), Seq(
        Check(s"clean_accuracy>=$minCleanAccuracy", acc >= minCleanAccuracy,
          f"$acc%.4f"),
        Check("trials==4", result.trials.size == grid.size,
          result.trials.size.toString)))
  }
}

/** Fixtures on disk, keyed by (workload, seed, shape). Generation time
  * is outside every metric; other fixtures of the same workload are
  * evicted so the cache stays one fixture deep per workload. */
object Fixtures {
  /** The fixture directory of (workload, seed, rows) and its warm-up
    * slice, generating both on a miss. */
  def ensure(spark: SparkSession, root: File, wl: Workload, seed: Long,
      rows: Long): (String, String) = {
    val key = s"${wl.name}-s$seed-${wl.shape(rows)}"
    val dir = new File(root, key)
    val sliceDir = new File(root, s"$key.slice")
    if (!new File(dir, "_READY").exists()) {
      val tmp = new File(root, s"$key.tmp")
      delete(tmp)
      wl.generate(spark, tmp.getPath, seed, rows)
      delete(dir)
      delete(sliceDir)
      require(tmp.renameTo(dir), s"cannot move fixture into $dir")
      slice(dir, sliceDir)
      new File(dir, "_READY").createNewFile()
    }
    (dir.getPath, sliceDir.getPath)
  }

  /** The first 1/20 of the part-files (at least one) of every parquet
    * directory under `from`, copied to the same place under `to`. */
  private def slice(from: File, to: File): Unit = {
    to.mkdirs()
    val files = Option(from.listFiles()).getOrElse(Array.empty[File])
    val parts = files.filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
    parts.take(math.max(1, parts.length / 20)).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new File(to, f.getName).toPath)
    }
    files.filter(_.isDirectory).foreach(d => slice(d, new File(to, d.getName)))
  }

  /** Drop fixtures of `wl` other than the given ones. */
  def evict(root: File, wl: Workload, keep: Set[String]): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(wl.name + "-") &&
        !keep.contains(f.getPath))
      .foreach(delete)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
