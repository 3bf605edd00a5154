package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LogicSpec extends AnyFunSuite {

  test("interval union counts overlapping and concurrent jobs once") {
    // two concurrent jobs inside a third, one disjoint, one touching
    val ivs = Seq((0.0, 10.0), (2.0, 5.0), (3.0, 8.0), (20.0, 25.0),
      (25.0, 30.0))
    assert(Intervals.unionLength(ivs, 0, 100) == 20.0)
    // the naive sum (28) exceeds a 25-unit window, which would make
    // the driver gap negative; the union never does
    assert(ivs.map { case (s, e) => e - s }.sum == 28.0)
    assert(Intervals.unionLength(ivs, 0, 25) == 15.0)
  }

  test("interval union clips jobs to the window") {
    val ivs = Seq((-5.0, 5.0), (8.0, 15.0))
    assert(Intervals.unionLength(ivs, 0, 10) == 7.0)
    assert(Intervals.unionLength(ivs, 20, 30) == 0.0)
    assert(Intervals.unionLength(Nil, 0, 10) == 0.0)
  }

  test("driver gap is never negative with concurrent jobs in a round") {
    val round = Span("round/0/1", 1000, 2000, "trial/0", 0)
    val spans = Seq(Span("op", 0, 3000, "", 0),
      Span("train", 0, 2500, "op", 0), Span("trial/0", 0, 2500, "train", 0),
      Span("round/0/0", 0, 1000, "trial/0", 0), round,
      Span("predict", 2500, 3000, "op", 0))
    def job(id: Int, s: Double, e: Double, site: String) =
      Job(id, s, e, site, 4, 100, 1000, 0)
    val jobs = Seq(
      job(1, 1100, 1600, "aggregate at Trainer.scala:740"),
      job(2, 1200, 1700, "aggregate at Trainer.scala:740"),
      job(3, 1300, 1500, "collect at Metrics.scala:31"),
      job(4, 2600, 2900, "head at Workloads.scala:150"))
    val m = Layers.compute(spans, jobs, cores = 4)
    // union 1100..1700 = 600 ms of a 1000 ms round: gap 0.4
    assert(math.abs(m("learner.driver_gap_share") - 0.4) < 1e-9)
    assert(math.abs(m("learner.hist_s_per_round") - 0.6) < 1e-9)
    assert(m("learner.jobs_per_round") == 3.0)
    assert(m("learner.tasks_per_round") == 12.0)
    assert(m("learner.hist_driver_mb_per_round") == 0.002)
    assert(m("functions.predict_jobs") == 1.0)
  }

  test("tail percentile needs at least ten samples beyond it") {
    assert(Stats.tail(Seq.tabulate(10)(_.toDouble)).isEmpty)
    val (p11, v11) = Stats.tail(Seq.tabulate(11)(i => (10 - i).toDouble)).get
    assert(v11 == 0.0 && math.abs(p11 - 100.0 / 11) < 1e-9)
    val xs = Seq.tabulate(40)(_.toDouble)
    val (p, v) = Stats.tail(xs).get
    assert(xs.count(_ > v) == 10)
    assert(p == 75.0 && v == 29.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("call site maps by file and operation, never by line") {
    import CallSites.layer
    assert(layer("treeAggregate at Trainer.scala:741") == "learner.hist")
    assert(layer("aggregate at Trainer.scala:1") == "learner.hist")
    assert(layer("aggregate at Trainer.scala:99999") == "learner.hist")
    assert(layer("foreachPartition at Trainer.scala:1701") ==
      "learner.advance")
    assert(layer("collect at Trainer.scala:478") == "learner.trainer")
    assert(layer("foreachPartition at GraftBoost.scala:222") ==
      "learner.pack")
    assert(layer("count at GraftBoost.scala:216") == "api")
    assert(layer("collect at Binner.scala:134") == "learner.binner")
    assert(layer("collect at Metrics.scala:31") == "learner.eval")
    assert(layer("head at GridSearch.scala:10") == "ml")
    assert(layer("save at DMatrixSpec.scala:12") == "data")
  }

  test("unknown call sites fall back to learner.other") {
    import CallSites.{Unknown, layer}
    assert(Unknown == "learner.other")
    assert(layer("run at ThreadPoolExecutor.java:1136") == Unknown)
    assert(layer("$anonfun$withThreadLocalCaptured$2 at " +
      "CompletableFuture.java") == Unknown)
    assert(layer("") == Unknown)
    assert(layer("no call site here") == Unknown)
  }

  test("a job submitted for a SQL action takes the action's call site") {
    val long = "org.apache.spark.sql.Dataset.count(Dataset.scala:3615)\n" +
      "graft.api.GraftBoost$.materialize(GraftBoost.scala:216)\n" +
      "perfbench.Workloads$.trainAndPredict(Workloads.scala:128)"
    assert(CallSites.parseLong(long) == Some(("GraftBoost.scala", "count")))
    val helper = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java"
    assert(CallSites.resolve(helper, Some("count at GraftBoost.scala")) ==
      "count at GraftBoost.scala")
    assert(CallSites.layer(CallSites.resolve(helper, None)) ==
      CallSites.Unknown)
    // a job whose own site is already in a known file keeps it
    assert(CallSites.resolve("collect at Binner.scala:134",
      Some("count at GraftBoost.scala")) == "collect at Binner.scala:134")
  }
}
