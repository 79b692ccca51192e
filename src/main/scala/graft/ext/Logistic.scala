package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** The gradient kernel of the logistic-regression trainers
  * ([[QualityTrain.fit]], [[HashedNgram.fit]]'s dense and long
  * layouts): batch gradient descent from zero weights. The trainer
  * hands over its training frames and writes one gradient pass as a
  * function of the current weights; `Logistic` owns the rest. Contract:
  *   - Cuts. Each training frame (label column [[Label]]) is cut once,
  *     lazily and with its partitioning kept
  *     ([[GraftBridge.persistCutFrame]]): the first pass materializes
  *     it, and the cuts are released when the fit returns or throws.
  *   - Determinism. Each row's gradient term (p − y)·x is computed in
  *     IEEE double, quantized to DECIMAL(38,6) and summed exactly:
  *     decimal addition is order-invariant, so the fit is
  *     partition-invariant and reproducible by another engine (the
  *     q99/q188 oracles unroll it in SQL). `iters` is fixed, never a
  *     convergence test: two engines disagreeing on the last ulp of a
  *     test would diverge in rounds, not ulps.
  *   - Validation rides every pass's own aggregate: it counts the
  *     examples (n) and the rows with a null label or feature. Such a
  *     row would silently drop gradient terms while n still counts it,
  *     a stealth learning-rate shrink no reference trainer reproduces,
  *     so the fit fails instead. An empty frame fails too.
  *   - Step. w_j −= lr · (g_j / n), in double.
  */
private[ext] object Logistic {

  /** The 0/1 label column, as double, of a training frame. */
  val Label = "__y"

  /** The prediction column of a pass's rows. */
  val P = "__p"

  /** σ(z): the one expression tree of every trainer and scorer. */
  def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** One gradient pass: `rows` carry [[Label]], [[P]] and the features
    * `x`. Without a key, a row is one example and `x(j)` is weight j's
    * feature. With a (long) key, a row holds the single feature `x(0)`
    * of weight `key`, and the rows of key 0, the intercept's, are the
    * examples.
    */
  final case class Pass(rows: DataFrame, x: Seq[Column], key: Option[Column] = None)

  /** `dims` weights after `iters` passes of `pass(cuts, w)`, the cuts
    * in `train`'s order. Weight 0 is the intercept.
    */
  def descend(train: Seq[DataFrame], dims: Int, iters: Int, lr: Double)(
      pass: (Seq[DataFrame], IndexedSeq[Double]) => Pass): IndexedSeq[Double] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    val cuts = train.map(GraftBridge.persistCutFrame(_, keepPartitioning = true))
    try {
      val w = Array.fill(dims)(0.0)
      for (_ <- 1 to iters) {
        val Pass(rows, x, key) = pass(cuts.map(_.df), w.toIndexedSeq)
        val bad = x.foldLeft(col(Label).isNull)(_ || _.isNull)
        val aggs = count(lit(1)) +: count(when(bad, 1)) +:
          x.map(c => sum(((col(P) - col(Label)) * c).cast("decimal(38,6)")))
        val out = key.fold(rows.groupBy())(k => rows.groupBy(k))
          .agg(aggs.head, aggs.tail: _*).collect()
        val at = key.size // first aggregate column
        val g = Array.fill(dims)(0.0)
        var n, nBad = 0L
        out.foreach { r =>
          val j0 = if (key.isEmpty) 0 else r.getLong(0).toInt
          if (j0 == 0) { n = r.getLong(at); nBad = r.getLong(at + 1) }
          for (i <- x.indices; s <- Option(r.getDecimal(at + 2 + i)))
            g(j0 + i) = s.doubleValue
        }
        require(n > 0, "cannot fit on an empty labeled frame")
        require(nBad == 0,
          s"labeled frame has $nBad rows with null label or null features — drop or impute before fit")
        for (j <- 0 until dims) w(j) -= lr * (g(j) / n)
      }
      w.toIndexedSeq
    } finally cuts.foreach(_.release())
  }
}
