package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec

/**
 * ABSOLUTE model fingerprints, pinned across internal-representation
 * changes (r12: the cached training rows moved from per-row
 * `(TrainInstance, Array[Float])` tuples to per-partition chunked
 * primitive blocks). The partition-invariance goldens elsewhere are
 * RELATIVE (both sides run the current code); these hashes were
 * captured from the r11 tuple representation, so any refactor that
 * changes a single bit of any trained model — or of any per-round
 * metric value — fails here against the PREVIOUS implementation.
 *
 * Every representation-touching path is covered: pointwise gradients,
 * ranking group gradients, margins with k>1, subsample salts,
 * eval-set advance + metric aggregation, DART's fresh-margin rebuild,
 * survival bounds, the adaptive-leaf L1 refresh, categorical bins,
 * weight/base-margin columns, checkpoint fold-in, Cox's global pass,
 * and process_type=update.
 */
class RepresentationGoldenSpec extends SparkTestBase {
  import spark.implicits._
  import java.lang.{Double => JD, Float => JF}

  /** SHA-256 over a canonical full-fidelity serialization of the model
    * (every tree array bit-exact) + the per-round metric histories. */
  private def fingerprint(res: TrainResult): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(
        java.io.OutputStream.nullOutputStream(), md))
    val m = res.model
    buf.writeUTF(m.objective); buf.writeInt(m.numClass)
    buf.writeDouble(m.baseScore); buf.writeInt(m.numFeatures)
    buf.writeInt(m.numParallelTree)
    m.dartWeights.foreach(w => buf.writeLong(JD.doubleToLongBits(w)))
    m.trees.foreach { t =>
      t.feature.foreach(buf.writeInt)
      t.thresholdBin.foreach(buf.writeInt)
      t.threshold.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.defaultLeft.foreach(buf.writeBoolean)
      t.left.foreach(buf.writeInt); t.right.foreach(buf.writeInt)
      t.value.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.gain.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.cover.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.catSplit.foreach(buf.writeBoolean)
      t.catBits.foreach { b =>
        if (b == null) buf.writeInt(-1) else b.foreach(buf.writeLong)
      }
    }
    res.evalsResult.toSeq.sortBy(_._1).foreach { case (n, ms) =>
      buf.writeUTF(n)
      ms.toSeq.sortBy(_._1).foreach { case (mn, vs) =>
        buf.writeUTF(mn)
        vs.foreach(v => buf.writeLong(JD.doubleToLongBits(v)))
      }
    }
    buf.writeLong(res.totalN); buf.writeInt(res.roundsCompleted)
    buf.flush()
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  // deterministic synthetic frames (fixed seeds, fixed partitioning)
  private def regDf(n: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      val c = rng.nextInt(5).toDouble
      (a, b, c, 1.5 * a - b + 0.3 * c + 0.2 * rng.nextGaussian())
    }.toDF("a", "b", "c", "y").repartition(3)
  }

  private def clsDf(n: Int, k: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      val y = ((1.3 * a + 0.9 * b + rng.nextGaussian()) / 3.0)
        .floor.toInt.max(0).min(k - 1)
      (a, b, rng.nextDouble(), y.toDouble)
    }.toDF("a", "b", "noise", "y").repartition(3)
  }

  test("binary logistic + subsample/colsample + shared train eval + " +
      "held-out eval (r11 fingerprint)") {
    val df = clsDf(400, 2, 11)
    val ev = clsDf(120, 2, 12)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "binary:logistic", numRounds = 6,
        maxDepth = 4, eta = 0.4, subsample = 0.7, colsampleByTree = 0.8,
        evalMetric = Seq("logloss", "error"), seed = 101),
      evals = Seq(("train", df), ("held", ev)))
    assert(fingerprint(res) === "c6143c4afef2c79416c4f4f0ce834b02")
  }

  test("multi:softprob k=3 + numParallelTree=2 (r11 fingerprint)") {
    val res = GraftBoost.train(clsDf(360, 3, 21), DMatrixSpec("y"),
      TrainParams(objective = "multi:softprob", numClass = 3,
        numRounds = 4, maxDepth = 3, numParallelTree = 2, seed = 202))
    assert(fingerprint(res) === "efd30291d875f9a851daacc18a7ef335")
  }

  test("rank:ndcg qid groups + group metric (r11 fingerprint)") {
    val rng = new scala.util.Random(31)
    val df = (1 to 40).flatMap { q =>
      (1 to 8).map { _ =>
        val a = rng.nextDouble(); val b = rng.nextDouble()
        (q.toLong, a, b, (3 * a - b + 0.3 * rng.nextGaussian())
          .floor.toInt.max(0).min(3).toDouble)
      }
    }.toDF("qid", "a", "b", "rel").repartition(3)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelCol = Seq("rel"), qidCol = Some("qid")),
      TrainParams(objective = "rank:ndcg", numRounds = 5, maxDepth = 3,
        evalMetric = Seq("ndcg@4"), seed = 303),
      evals = Seq(("train", df)))
    assert(fingerprint(res) === "1c0ea2b72ff69ccbb2c0fc6165421734")
  }

  test("dart weighted + rateDrop + eval rebuild (r11 fingerprint)") {
    val res = GraftBoost.train(regDf(300, 41), DMatrixSpec("y"),
      TrainParams(booster = "dart", numRounds = 6, maxDepth = 3,
        rateDrop = 0.4, sampleType = "weighted", oneDrop = true,
        seed = 404),
      evals = Seq(("train", regDf(300, 41))))
    assert(fingerprint(res) === "0ea0c01ed7ac5e3bcda1b29b57145db7")
  }

  test("survival:aft interval bounds (r11 fingerprint)") {
    val rng = new scala.util.Random(51)
    val df = (1 to 300).map { _ =>
      val a = rng.nextDouble() * 3
      val t = math.exp(0.8 * a + 0.3 * rng.nextGaussian())
      val cens = rng.nextInt(3)
      val lo = if (cens == 2) t * 0.7 else t
      val hi = if (cens == 0) t else if (cens == 1) Double.NaN else t * 1.4
      (a, rng.nextDouble(), lo, hi)
    }.toDF("a", "b", "lo", "hi").repartition(3)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelLowerCol = Some("lo"), labelUpperCol = Some("hi")),
      TrainParams(objective = "survival:aft", numRounds = 5,
        maxDepth = 3, seed = 505))
    assert(fingerprint(res) === "e3117614d49266a5d13e52a2acc6eaf2")
  }

  test("multi-quantile adaptive leaf refresh (r11 fingerprint)") {
    val res = GraftBoost.train(regDf(350, 61), DMatrixSpec("y"),
      TrainParams(objective = "reg:quantileerror",
        quantileAlphas = Seq(0.1, 0.5, 0.9), numRounds = 4,
        maxDepth = 3, seed = 606))
    assert(fingerprint(res) === "3888fabc0732b8e7cc3e4fdca81e52e3")
  }

  test("MAE adaptive refresh + lossguide (r11 fingerprint)") {
    val res = GraftBoost.train(regDf(350, 71), DMatrixSpec("y"),
      TrainParams(objective = "reg:absoluteerror", numRounds = 4,
        growPolicy = "lossguide", maxLeaves = 12, maxDepth = 6,
        seed = 707))
    assert(fingerprint(res) === "3714cd468928031260fd34e4a03a5f25")
  }

  test("categorical partition + weight + base margin columns " +
      "(r11 fingerprint)") {
    val rng = new scala.util.Random(81)
    val df = (1 to 400).map { _ =>
      val c = rng.nextInt(9).toDouble
      val a = rng.nextDouble() * 2
      (a, c, 0.5 + rng.nextDouble(), rng.nextGaussian() * 0.1,
        (if (c == 2 || c == 5 || c == 7) 3.0 else 1.0) + a +
          0.2 * rng.nextGaussian())
    }.toDF("a", "c", "w", "bm", "y").repartition(3)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelCol = Seq("y"), weightCol = Some("w"),
        baseMarginCol = Some("bm"), categoricalCols = Seq("c")),
      TrainParams(numRounds = 4, maxDepth = 4, maxCatToOnehot = 4,
        seed = 808))
    assert(fingerprint(res) === "df3a818152481fbdf448c15957286940")
  }

  test("checkpoint fold-in resume == uninterrupted (r11 fingerprint)") {
    val df = regDf(300, 91)
    val p = TrainParams(numRounds = 3, maxDepth = 3, seed = 909)
    val first = GraftBoost.train(df, DMatrixSpec("y"), p)
    val res = GraftBoost.train(df, DMatrixSpec("y"), p,
      initModel = Some(first.model))
    assert(fingerprint(res) === "e1e1afd4678d1f3bdb6397ff4d734443")
  }

  test("survival:cox global pass (r11 fingerprint)") {
    val rng = new scala.util.Random(95)
    val df = (1 to 250).map { _ =>
      val a = rng.nextDouble() * 2
      val t = math.exp(-0.6 * a + 0.4 * rng.nextGaussian()) * 10
      // negative label = right-censored at |t| (xgboost cox convention)
      (a, rng.nextDouble(), if (rng.nextBoolean()) t else -t)
    }.toDF("a", "b", "y").repartition(3)
    val res = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = "survival:cox", numRounds = 4,
        maxDepth = 3, seed = 919))
    assert(fingerprint(res) === "93d04c89f4245e18a896235d843cc983")
  }

  test("process_type=update refresh,prune (r11 fingerprint)") {
    val df = regDf(300, 97)
    val base = GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(numRounds = 4, maxDepth = 4, seed = 929))
    val res = GraftBoost.train(regDf(300, 98), DMatrixSpec("y"),
      TrainParams(numRounds = 3, maxDepth = 4, seed = 929,
        processType = "update", updater = "refresh,prune", gamma = 0.1),
      initModel = Some(base.model))
    assert(fingerprint(res) === "b620fd5f3cb9de53367622329ed5037e")
  }

  // ---- r13 forward pins: the TrainBlock NULL-column fast paths ----
  // A block whose rows are all qid-0 stores qids = null, and one whose
  // rows are all uncensored stores uppers = null (TrainBlock.scala) —
  // these two tests force WHOLE partitions onto those paths while the
  // trainer still runs the group/bounds machinery, exactly where a
  // packing bug would hide. Captured from the r13 block trainer AFTER
  // the 11 r11 pins above passed, so they extend the same contract.

  test("rank:ndcg with an all-qid-0 partition (null-qids block path, " +
      "r13 fingerprint)") {
    val rng = new scala.util.Random(135)
    // three groups with qids {0, 1, 2}; sortByQid over 3 workers puts
    // the qid-0 group alone in partition 0 → its block stores qids=null
    // while group walking and ndcg eval still run over b.qid(i)
    val df = (0 to 2).flatMap { q =>
      (1 to 24).map { _ =>
        val a = rng.nextDouble(); val b = rng.nextDouble()
        (q.toLong, a, b, (3 * a - b + 0.3 * rng.nextGaussian())
          .floor.toInt.max(0).min(3).toDouble)
      }
    }.toDF("qid", "a", "b", "rel").repartition(2)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelCol = Seq("rel"), qidCol = Some("qid")),
      TrainParams(objective = "rank:ndcg", numRounds = 4, maxDepth = 3,
        evalMetric = Seq("ndcg@8"), seed = 1313),
      evals = Seq(("train", df)), numWorkers = 3)
    assert(fingerprint(res) === "65b28e7b3dbf35f41b8bc89446ff0a8c")
  }

  test("multi-label one-pass shared pack (r13 fingerprint)") {
    // the composite prepareMulti→pack path is code distinct from
    // toBinned; pin both per-label models absolutely (weights + base
    // margin columns ride along)
    val rng = new scala.util.Random(155)
    val df = (1 to 300).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      (a, b, 0.5 + rng.nextDouble(), rng.nextGaussian() * 0.05,
        2.0 * a + 0.1 * rng.nextGaussian(),
        3.0 * b - a + 0.1 * rng.nextGaussian())
    }.toDF("a", "b", "w", "bm", "y1", "y2").repartition(3)
    val res = GraftBoost.trainMultiLabel(df,
      DMatrixSpec(labelCol = Seq("y1", "y2"), weightCol = Some("w"),
        baseMarginCol = Some("bm")),
      TrainParams(numRounds = 3, maxDepth = 3, seed = 1515,
        subsample = 0.85))
    val combined = res.results.map { case (l, r) =>
      s"$l:${fingerprint(r)}"
    }.mkString("|")
    assert(combined === "y1:f6e1ceb936f183f47c6811c004a7d84b|" +
      "y2:909f6c202a0cc42d154d914a69243ffe")
  }

  test("survival:aft all-uncensored point labels (null-uppers block " +
      "path, r13 fingerprint)") {
    val rng = new scala.util.Random(145)
    // labelLowerCol only, no upper column: every row is an uncensored
    // point label (upper == label), so blocks store uppers = null and
    // gradHessBounds + the aft-nloglik metric read b.upper(i) through
    // the null fallback
    val df = (1 to 300).map { _ =>
      val a = rng.nextDouble() * 3
      (a, rng.nextDouble(),
        math.exp(0.8 * a + 0.3 * rng.nextGaussian()))
    }.toDF("a", "b", "t").repartition(3)
    val res = GraftBoost.train(df,
      DMatrixSpec(labelLowerCol = Some("t")),
      TrainParams(objective = "survival:aft", numRounds = 4,
        maxDepth = 3, evalMetric = Seq("aft-nloglik"), seed = 1414),
      evals = Seq(("train", df)))
    assert(fingerprint(res) === "5955e1fb1fc8e9431d9055a7bdf1ca3a")
  }

  // ---- multi-output pins: vector-leaf models, captured from the
  // dedicated multi-output trainer before it merged into Trainer's
  // tie-group growth, so the merge is proven bit-exact ----

  /** SHA-256 over every [[MultiOutput.MoTree]] array bit-exact plus the
    * model header. */
  private def moFingerprint(m: MultiOutput.MultiOutputModel): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(
        java.io.OutputStream.nullOutputStream(), md))
    buf.writeUTF(m.objective); buf.writeInt(m.k)
    buf.writeDouble(m.baseScore); buf.writeInt(m.numFeatures)
    m.labelNames.foreach(buf.writeUTF)
    m.trees.foreach { t =>
      buf.writeInt(t.k)
      t.feature.foreach(buf.writeInt)
      t.thresholdBin.foreach(buf.writeInt)
      t.threshold.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.defaultLeft.foreach(buf.writeBoolean)
      t.left.foreach(buf.writeInt); t.right.foreach(buf.writeInt)
      t.values.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.gain.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
      t.cover.foreach(v => buf.writeInt(JF.floatToIntBits(v)))
    }
    buf.flush()
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  test("multi-output reg:squarederror, 2 targets over 3 partitions " +
      "(multi-output fingerprint)") {
    val rng = new scala.util.Random(161)
    val df = (1 to 400).map { _ =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      val c = rng.nextInt(5).toDouble
      (a, b, c, 1.5 * a - b + 0.3 * c + 0.2 * rng.nextGaussian(),
        a * b - c + 0.2 * rng.nextGaussian())
    }.toDF("a", "b", "c", "y1", "y2").repartition(3)
    val m = GraftBoost.trainMultiOutput(df,
      DMatrixSpec(labelCol = Seq("y1", "y2")),
      TrainParams(numRounds = 4, maxDepth = 3, seed = 1616))
    assert(moFingerprint(m) === "ec21b6b2b99b97ae7f14e639f89a1352")
  }

  test("multi-output binary:logistic, 2 targets: non-constant " +
      "hessian pins the mean-hessian cover (multi-output fingerprint)") {
    val rng = new scala.util.Random(171)
    val df = (1 to 400).map { _ =>
      val a = rng.nextDouble() * 2 - 1; val b = rng.nextDouble() * 2 - 1
      (a, b, if (a + 0.3 * rng.nextGaussian() > 0) 1.0 else 0.0,
        if (a - b + 0.3 * rng.nextGaussian() > 0) 1.0 else 0.0)
    }.toDF("a", "b", "y1", "y2").repartition(3)
    val m = GraftBoost.trainMultiOutput(df,
      DMatrixSpec(labelCol = Seq("y1", "y2")),
      TrainParams(objective = "binary:logistic", numRounds = 4,
        maxDepth = 3, seed = 1717))
    assert(moFingerprint(m) === "889ed141d3554b23d660ba42ee0a75c8")
  }
}
