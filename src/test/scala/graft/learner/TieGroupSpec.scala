package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec
import org.apache.spark.sql.functions._

/**
 * Multi-output trees are grown by the shared [[Trainer]] round loop as
 * tie groups: one split decision per node for all targets. These tests
 * relate the vector trainer to the scalar one and pin the round-loop
 * knobs the vector trainer now inherits (etaSchedule, scalePosWeight)
 * and the one it must refuse (checkpointing).
 */
class TieGroupSpec extends SparkTestBase {
  import spark.implicits._

  private def regDf(n: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val a = rng.nextDouble() * 4; val b = rng.nextDouble() * 4
      val c = rng.nextInt(5).toDouble
      (a, b, c, 1.5 * a - b + 0.3 * c + 0.2 * rng.nextGaussian())
    }.toDF("a", "b", "c", "y").repartition(3)
  }

  test("the scalar trainer is the group-size-1 case: two identical " +
      "targets reproduce the scalar model, with twice its gain") {
    val df = regDf(400, 181)
    val p = TrainParams(numRounds = 4, maxDepth = 3, seed = 1818)
    val scalar = GraftBoost.train(df, DMatrixSpec("y"), p).model
    val m = GraftBoost.trainMultiOutput(df.withColumn("y2", col("y")),
      DMatrixSpec(labelCol = Seq("y", "y2")), p)
    assert(m.trees.length == scalar.trees.length)
    Seq(0, 1).foreach { j =>
      m.sliceModel(j).trees.zip(scalar.trees).zipWithIndex.foreach {
        case ((s, t), r) =>
          val at = s"slice $j round $r"
          assert(s.feature.toSeq == t.feature.toSeq, at)
          assert(s.thresholdBin.toSeq == t.thresholdBin.toSeq, at)
          assert(s.threshold.toSeq == t.threshold.toSeq, at)
          assert(s.defaultLeft.toSeq == t.defaultLeft.toSeq, at)
          assert(s.left.toSeq == t.left.toSeq, at)
          assert(s.right.toSeq == t.right.toSeq, at)
          assert(s.value.toSeq == t.value.toSeq, at)
          assert(s.gain.toSeq == t.gain.map(_ * 2f).toSeq, at)
          // mean hessian of two equal hessians is that hessian
          assert(s.cover.toSeq == t.cover.toSeq, at)
      }
    }
  }

  // binary feature x ∈ {0,1}; two targets with opposite signals
  private def stumpDf(n: Int = 400) =
    (0 until n).map { i =>
      val y = (i % 50).toDouble
      (if (y >= 25) 1.0 else 0.0, y, 50.0 - y)
    }.toDF("x", "y1", "y2")

  test("etaSchedule drives the vector leaves: closed-form stump at a " +
      "constant schedule of 0.1") {
    val df = stumpDf()
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    val m = GraftBoost.trainMultiOutput(df, spec,
      TrainParams(numRounds = 1, maxDepth = 1, seed = 1,
        etaSchedule = Some(_ => 0.1)), numWorkers = 4)
    val rows = df.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    def leaf(side: Double, y: Int): Float = {
      val grp = rows.filter(_._1 == side)
      val n = grp.length
      val sy = grp.map(r => if (y == 0) r._2 else r._3).sum
      ((-0.1 * (0.5 * n - sy)) / (n + 1.0)).toFloat
    }
    val t = m.trees.head
    assert(t.feature(0) == 0, "must split on the only feature")
    Seq((t.left(0), 0.0), (t.right(0), 1.0)).foreach { case (nid, x) =>
      Seq(0, 1).foreach { j =>
        assert(t.values(nid * 2 + j) == leaf(x, j),
          s"x=$x target $j: got ${t.values(nid * 2 + j)} want ${leaf(x, j)}")
      }
    }
  }

  test("scalePosWeight scales positive rows per target: closed-form " +
      "binary:logistic stump at margin 0") {
    // x=0 rows: 1 in 4 positive for y1; x=1 rows: 3 in 4; y2 mirrored
    val df = (0 until 400).map { i =>
      val x = if (i < 200) 0.0 else 1.0
      val pos = if (x == 0.0) i % 4 == 0 else i % 4 != 0
      (x, if (pos) 1.0 else 0.0, if (pos) 0.0 else 1.0)
    }.toDF("x", "y1", "y2").repartition(2)
    val spw = 2.0
    val m = GraftBoost.trainMultiOutput(df,
      DMatrixSpec(labelCol = Seq("y1", "y2")),
      TrainParams(objective = "binary:logistic", numRounds = 1,
        maxDepth = 1, scalePosWeight = spw, seed = 1))
    val rows = df.collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // margin 0 ⇒ p = 0.5: g = 0.5 − y, h = 0.25, positives weighted spw
    def leaf(side: Double, y: Int): Double = {
      val ys = rows.filter(_._1 == side).map(r => if (y == 0) r._2 else r._3)
      val w = ys.map(v => if (v == 1.0) spw else 1.0)
      val g = ys.zip(w).map { case (v, wi) => (0.5 - v) * wi }.sum
      val h = w.map(_ * 0.25).sum
      -0.3 * g / (h + 1.0)
    }
    val t = m.trees.head
    assert(t.feature(0) == 0, "must split on the only feature")
    Seq((t.left(0), 0.0), (t.right(0), 1.0)).foreach { case (nid, x) =>
      Seq(0, 1).foreach { j =>
        assert(math.abs(t.values(nid * 2 + j) - leaf(x, j)) < 1e-6,
          s"x=$x target $j: got ${t.values(nid * 2 + j)} want ${leaf(x, j)}")
      }
    }
  }

  test("checkpointing is rejected before any data scan (the round " +
      "checkpoint would write a single-output model)") {
    // evaluating this frame throws: a scan before the check would
    // surface as a Spark task failure, not the parameter error
    val boom = udf((x: Double) => {
      if (x >= 0) throw new IllegalStateException("scanned"); x
    })
    val df = stumpDf(8).withColumn("x", boom(col("x")))
    val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))
    Seq(TrainParams(numRounds = 2, checkpointEvery = 1,
        checkpointPath = Some("/nonexistent/ckpt")),
      TrainParams(numRounds = 2, checkpointPath = Some("/nonexistent/c")),
      TrainParams(numRounds = 2, checkpointEvery = 1)).foreach { p =>
      val e = intercept[IllegalArgumentException] {
        GraftBoost.trainMultiOutput(df, spec, p)
      }
      assert(e.getMessage.contains("checkpoint"), e.getMessage)
    }
  }
}
