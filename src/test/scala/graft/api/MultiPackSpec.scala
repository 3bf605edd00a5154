package graft.api

import graft.SparkTestBase
import graft.data.DMatrixSpec
import graft.learner.TrainParams
import org.apache.spark.sql.functions._

/**
 * The one-pass multi-label pack behind trainMultiLabel and
 * trainMultiOutput follows materialize's non-deterministic-plan rule:
 * such an input is prepared once and cached, and the row count comes
 * from that cache, so the reported total equals the packed rows.
 */
class MultiPackSpec extends SparkTestBase {
  import spark.implicits._

  private val n = 3001
  private def frame = (1 to n).map { i =>
    (i.toDouble, (i % 7 + i / 1000).toDouble, (i % 3).toDouble)
  }.toDF("a", "y1", "y2").repartition(4)
  private val spec = DMatrixSpec(labelCol = Seq("y1", "y2"))

  /** Keeps each row only the FIRST time the plan evaluates it: every
    * re-evaluation of the input sees zero rows. */
  private def firstScanOnly(tag: String) = {
    val keep = udf((a: Double) => MultiPackSpec.seen.add(s"$tag/$a"))
      .asNondeterministic()
    frame.where(keep(col("a")))
  }

  test("sample-bearing and non-deterministic inputs: the counted total " +
      "equals the packed row count") {
    Seq("sample" -> frame.sample(0.5, 7),
      "udf" -> firstScanOnly("pack")).foreach { case (what, in) =>
      val (blocks, _, total) = GraftBoost.packMulti(in, spec,
        TrainParams(), Array.empty, 1, 0.5f, 0)
      try {
        val packed = blocks.map(_.n.toLong).fold(0L)(_ + _)
        assert(total == packed, s"$what: counted $total, packed $packed")
        assert(packed > 0, what)
      } finally blocks.unpersist()
    }
  }

  test("trainMultiLabel and trainMultiOutput train on the rows they " +
      "counted when re-scanning the input would change them") {
    val p = TrainParams(numRounds = 1, maxDepth = 1)
    val res = GraftBoost.trainMultiLabel(firstScanOnly("label"), spec, p)
    assert(res.results.map(_._2.totalN) == Seq(n.toLong, n.toLong))
    val m = GraftBoost.trainMultiOutput(firstScanOnly("output"), spec, p)
    assert(m.trees.length == 1 && m.trees.head.numNodes == 3)
  }
}

object MultiPackSpec {
  val seen: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
