package graft.models

import scala.collection.mutable

import graft.models.PickleReader.{NDArray, PyObject}

/** Extractors that turn unpickled scikit-learn estimators
  * ([[PickleReader]] output) into JVM scorers with sklearn's exact
  * prediction semantics.
  *
  * The reference bundles its trained classifiers as sklearn pickles
  * (data/models/rf.sav, KN_model_1PC.pkl, the for_al_loop pickles,
  * model_orphans.pkl — see data/models/README.md), so loading them is
  * pure-format work, no training involved.
  */
object SklearnModels {

  /** One sklearn decision tree (tree_.__getstate__ arrays). Inputs are
    * cast to float32 before threshold comparison, as sklearn's predict
    * does (sklearn/tree/_classes.py DTYPE=np.float32).
    */
  final class SkTree(val left: Array[Long], val right: Array[Long],
      val feature: Array[Long], val threshold: Array[Double],
      val values: Array[Array[Double]]) extends Serializable {
    def leafValues(x32: Array[Float]): Array[Double] = {
      var n = 0
      while (left(n) != -1) {
        n = (if (x32(feature(n).toInt) <= threshold(n)) left(n) else right(n)).toInt
      }
      values(n)
    }
  }

  /** RandomForestClassifier.predict_proba: per tree, normalize the leaf
    * class-count vector to probabilities; average over trees.
    */
  final class ForestClassifier(val trees: Array[SkTree],
      val classes: Vector[Any]) extends Serializable {
    val nClasses: Int = classes.length

    def proba(x: Array[Double]): Array[Double] = {
      val x32 = new Array[Float](x.length)
      var i = 0
      while (i < x.length) { x32(i) = x(i).toFloat; i += 1 }
      val acc = new Array[Double](nClasses)
      var t = 0
      while (t < trees.length) {
        val v = trees(t).leafValues(x32)
        var s = 0.0
        var c = 0
        while (c < nClasses) { s += v(c); c += 1 }
        c = 0
        while (c < nClasses) { acc(c) += v(c) / s; c += 1 }
        t += 1
      }
      var c = 0
      while (c < nClasses) { acc(c) /= trees.length; c += 1 }
      acc
    }
  }

  /** ForestClassifier exposed through the [[Scorer]] interface as
    * P(classes(classIndex)).
    */
  final case class ForestScorer(forest: ForestClassifier, classIndex: Int)
      extends Scorer {
    def score(x: Array[Double]): Double = forest.proba(x)(classIndex)
  }

  /** sklearn.preprocessing.RobustScaler transform:
    * (x - center_) / scale_.
    */
  final case class RobustScaler(center: Array[Double], scale: Array[Double])
      extends Serializable {
    def transform(x: Array[Double]): Array[Double] = {
      val out = new Array[Double](x.length)
      var i = 0
      while (i < x.length) { out(i) = (x(i) - center(i)) / scale(i); i += 1 }
      out
    }
  }

  /** sklearn.decomposition.PCA transform: (x - mean_) @ components_.T. */
  final case class PcaTransform(mean: Array[Double],
      components: Array[Array[Double]]) extends Serializable {
    def transform(x: Array[Double]): Array[Double] = {
      val out = new Array[Double](components.length)
      var k = 0
      while (k < components.length) {
        var acc = 0.0
        val row = components(k)
        var i = 0
        while (i < row.length) { acc += (x(i) - mean(i)) * row(i); i += 1 }
        out(k) = acc
        k += 1
      }
      out
    }
  }

  /** GradientBoostingClassifier (binary): sigmoid(init + lr * sum of
    * regression-tree outputs) — sklearn's log-odds decision path.
    */
  final class GradientBoostingBinary(val trees: Array[SkTree],
      val learningRate: Double, val initLogOdds: Double)
      extends Scorer {
    def score(x: Array[Double]): Double = {
      val x32 = new Array[Float](x.length)
      var i = 0
      while (i < x.length) { x32(i) = x(i).toFloat; i += 1 }
      var z = initLogOdds
      var t = 0
      while (t < trees.length) { z += learningRate * trees(t).leafValues(x32)(0); t += 1 }
      1.0 / (1.0 + math.exp(-z))
    }
  }

  // ---- extraction -----------------------------------------------------

  private def asObj(x: Any, what: String): PyObject = x match {
    case po: PyObject => po
    case other => sys.error(s"$what: expected PyObject, got $other")
  }

  /** tree_ state → SkTree. */
  def tree(treeObj: Any): SkTree = {
    val t = asObj(treeObj, "tree_")
    val nodes = t.field("nodes").asInstanceOf[NDArray]
    val values = t.field("values").asInstanceOf[NDArray]
    val raw = values.doubles // shape (nNodes, 1, nClasses)
    val nNodes = values.shape(0)
    val nClasses = values.shape(2)
    val perNode = Array.tabulate(nNodes)(n =>
      java.util.Arrays.copyOfRange(raw, n * nClasses, (n + 1) * nClasses))
    new SkTree(nodes.fieldLongs("left_child"), nodes.fieldLongs("right_child"),
      nodes.fieldLongs("feature"), nodes.fieldDoubles("threshold"), perNode)
  }

  private def classLabels(classesField: Any): Vector[Any] = classesField match {
    case nd: NDArray if nd.dtype.kind == 'U' => nd.strings.toVector
    case nd: NDArray if nd.dtype.kind == 'b' => nd.bools.toVector.map(b => b: Any)
    case nd: NDArray if nd.dtype.kind == 'i' => nd.longs.toVector.map(l => l: Any)
    case nd: NDArray if nd.objects != null => nd.objectsOrDie
    case other => sys.error(s"classes_: $other")
  }

  /** RandomForestClassifier → ForestClassifier. */
  def forestClassifier(obj: Any): ForestClassifier = {
    val rf = asObj(obj, "RandomForestClassifier")
    require(rf.cls.endsWith("RandomForestClassifier"), rf.cls)
    val ests = rf.field("estimators_").asInstanceOf[mutable.ArrayBuffer[Any]]
    val trees = ests.map(e => tree(asObj(e, "estimator").field("tree_"))).toArray
    new ForestClassifier(trees, classLabels(rf.field("classes_")))
  }

  /** Pipeline(RobustScaler, RandomForestClassifier) — the kilonova
    * bundle's exact shape.
    */
  def scaledForest(obj: Any): (RobustScaler, ForestClassifier) = {
    val pipe = asObj(obj, "Pipeline")
    require(pipe.cls == "sklearn.pipeline.Pipeline", pipe.cls)
    val steps = pipe.field("steps").asInstanceOf[mutable.ArrayBuffer[Any]]
      .map(_.asInstanceOf[Vector[Any]]).map(s =>
        s(0).asInstanceOf[String] -> s(1)).toMap
    val sc = asObj(steps("robustscaler"), "robustscaler")
    val scaler = RobustScaler(
      sc.field("center_").asInstanceOf[NDArray].doubles,
      sc.field("scale_").asInstanceOf[NDArray].doubles)
    (scaler, forestClassifier(steps("randomforestclassifier")))
  }

  /** PCA → PcaTransform. */
  def pca(obj: Any): PcaTransform = {
    val p = asObj(obj, "PCA")
    require(p.cls.endsWith(".PCA"), p.cls)
    val comp = p.field("components_").asInstanceOf[NDArray]
    val mean = p.field("mean_").asInstanceOf[NDArray].doubles
    val flat = comp.doubles
    val k = comp.shape(0); val d = comp.shape(1)
    PcaTransform(mean, Array.tabulate(k)(i =>
      java.util.Arrays.copyOfRange(flat, i * d, (i + 1) * d)))
  }

  /** GradientBoostingClassifier (binary) → GradientBoostingBinary. */
  def gradientBoostingBinary(obj: Any): GradientBoostingBinary = {
    val gb = asObj(obj, "GradientBoostingClassifier")
    require(gb.cls.endsWith("GradientBoostingClassifier"), gb.cls)
    val lr = gb.field("learning_rate") match {
      case d: Double => d
      case i: Int => i.toDouble
      case l: Long => l.toDouble
    }
    val ests = gb.field("estimators_").asInstanceOf[NDArray].objectsOrDie
    val trees = ests.map(e => tree(asObj(e, "estimator").field("tree_"))).toArray
    // init_: DummyClassifier with class priors -> log-odds
    val priors = asObj(gb.field("init_"), "init_")
      .field("class_prior_").asInstanceOf[NDArray].doubles
    val initLogOdds = math.log(priors(1) / priors(0))
    new GradientBoostingBinary(trees, lr, initLogOdds)
  }
}
