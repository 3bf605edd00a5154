package graft.learner

/**
 * Multi-output trees — the xgboost 2.x
 * `multi_strategy = "multi_output_tree"` analog (the one modern
 * forwarded-param family the per-label pipeline cannot express;
 * reference xgboost_ray forwards arbitrary xgboost params,
 * main.py:1341-1398): every boosting round grows ONE tree whose
 * leaves hold a VECTOR of K values, one per target. Split gain sums
 * the per-target scores, so the tree finds structure shared across
 * targets; leaves fit each target independently given that structure.
 * Contrast [[graft.api.GraftBoost.trainMultiLabel]] (one full model
 * per label — xgboost's `one_output_per_tree` strategy): K targets
 * cost ONE histogram job per level here instead of K, and the model
 * is K× smaller, at the price of shared split structure.
 *
 * Training is [[Trainer]]'s own round loop: blocks carry K labels and
 * K margins per row, the scalar objective applies per target, and each
 * round grows the K per-target trees as one TIE GROUP
 * ([[Trainer]].buildTrees) — one split decision per node with gain
 * ½·(Σ_j score_L,j + Σ_j score_R,j − Σ_j score_P,j) − γ and
 * `min_child_weight` against the mean hessian, per-target leaves
 * −η·T_α(G_j)/(H_j+λ). This object holds only the model types, the
 * parameter limits and [[fromTied]], which folds a round's K tied
 * trees into one [[MoTree]]. The closed-form `ml_stump_multiout` and
 * `ml_train_multiout` oracles pin the arithmetic.
 *
 * Scope (mirrors xgboost 2.x's own vector-leaf limits): pointwise
 * scalar objectives applied per target (reg:*, binary:*) without
 * adaptive leaves, numeric features, depthwise growth, no row/column
 * subsampling, no monotone/interaction constraints, gbtree only, no
 * round checkpoints. Everything outside that scope fails loudly at
 * entry.
 */
object MultiOutput {

  /**
   * One vector-leaf regression tree: [[RegTree]]'s flat-array layout
   * with `values` holding K entries per node (node-major). `gain` is
   * the summed-over-targets split gain; `cover` the mean hessian
   * across targets routed through the node.
   */
  final class MoTree(
      val feature: Array[Int],
      val thresholdBin: Array[Int],
      val threshold: Array[Float],
      val defaultLeft: Array[Boolean],
      val left: Array[Int],
      val right: Array[Int],
      val values: Array[Float],
      val gain: Array[Float],
      val cover: Array[Float],
      val k: Int) extends Serializable {

    def numNodes: Int = feature.length

    /** Scalar view of target `j`: a [[RegTree]] SHARING every
      * structure array by reference (only the K-stride value column
      * materializes), so the whole single-output model surface —
      * codegen [[graft.functions.EnsembleScore]] predict, SHAP,
      * treesToDataFrame, xgboost-JSON export — works on a slice
      * unchanged. Caveat (advice r20): `gain` and `cover` are shared
      * TREE-LEVEL arrays — summed-over-targets gain, mean-across-
      * targets cover — not per-target quantities, so gain-based
      * feature importance and TreeSHAP background weights computed on
      * a slice are joint-tree values; for non-constant-hessian
      * objectives (e.g. binary:logistic) treat them as approximate
      * per-target attributions. PREDICTIONS on a slice are exact. */
    def slice(j: Int): RegTree = {
      require(j >= 0 && j < k, s"output $j out of range [0,$k)")
      val v = new Array[Float](numNodes)
      var i = 0
      while (i < numNodes) { v(i) = values(i * k + j); i += 1 }
      new RegTree(feature, thresholdBin, threshold, defaultLeft,
        left, right, v, gain, cover)
    }
  }

  /**
   * A trained multi-output model: one [[MoTree]] per round.
   * [[sliceModel]] yields the per-target [[GraftModel]] view for the
   * existing predict/export machinery.
   */
  final case class MultiOutputModel(
      trees: Seq[MoTree],
      k: Int,
      objective: String,
      baseScore: Double,
      numFeatures: Int,
      labelNames: Seq[String]) extends Serializable {
    require(trees.forall(_.k == k), "tree output width mismatch")
    require(labelNames.length == k,
      s"labelNames ${labelNames.length} != k $k")

    def sliceModel(j: Int): GraftModel =
      new GraftModel(trees.map(_.slice(j)).toArray, objective, 0,
        baseScore, Binner.MissingBin, numFeatures)
  }

  /** Param-only validation — callable BEFORE any data scan, so an
    * unsupported knob fails in milliseconds, not after prepare/bin/
    * pack of a 100 TB input (review r20). */
  private[graft] def checkParams(p: TrainParams, obj: Objective): Unit = {
    def no(cond: Boolean, what: String): Unit = require(cond,
      s"multi_output_tree: $what is not supported (xgboost 2.x's " +
        "vector-leaf strategy carries the same limits); train " +
        "per-label via trainMultiLabel instead")
    no(!obj.needsGroups && !obj.needsBounds && !obj.needsGlobalPass,
      s"objective ${obj.name}")
    no(obj.numOutputs == 1, s"multi-class objective ${obj.name}")
    no(obj.leafRefreshAlphas.isEmpty,
      s"adaptive-leaf objective ${obj.name}")
    no(p.subsample >= 1.0, "subsample < 1")
    no(p.colsampleByTree >= 1.0 && p.colsampleByLevel >= 1.0 &&
      p.colsampleByNode >= 1.0, "colsample_by* < 1")
    no(p.numParallelTree == 1, "num_parallel_tree > 1")
    no(p.booster == "gbtree", s"booster ${p.booster}")
    no(p.growPolicy == "depthwise", s"grow_policy ${p.growPolicy}")
    no(p.maxLeaves == 0, "max_leaves")
    no(p.processType == "default", s"process_type ${p.processType}")
    no(p.monotoneConstraints.forall(_ == 0), "monotone_constraints")
    no(p.interactionConstraints.isEmpty, "interaction_constraints")
    no(p.quantileAlphas.isEmpty, "vector quantile_alpha")
    // the round checkpoint saves a GraftModel, not a MultiOutputModel
    no(p.checkpointEvery == 0 && p.checkpointPath.isEmpty,
      "checkpointEvery/checkpointPath")
    require(p.maxDepth >= 1,
      s"multi_output_tree: maxDepth must be >= 1, got ${p.maxDepth}")
  }

  /** Fold each round's `k` tied trees (target-inner, as
    * [[Trainer]].boostRounds lays them out) into one [[MoTree]]. The
    * members share structure, gain and the mean-hessian cover, so the
    * first member supplies them; only the values interleave. */
  private[graft] def fromTied(trees: Array[RegTree], k: Int): Seq[MoTree] =
    trees.grouped(k).map { grp =>
      val t = grp(0)
      val values = new Array[Float](t.numNodes * k)
      var i = 0
      while (i < t.numNodes) {
        var j = 0
        while (j < k) { values(i * k + j) = grp(j).value(i); j += 1 }
        i += 1
      }
      new MoTree(t.feature, t.thresholdBin, t.threshold, t.defaultLeft,
        t.left, t.right, values, t.gain, t.cover, k)
    }.toSeq
}
