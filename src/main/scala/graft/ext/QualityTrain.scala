package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine trainer for [[QualityModel]]: deterministic batch-gradient
  * logistic regression over the model's own feature expressions,
  * closing the train→apply loop the way [[BpeTrain.learnMerges]] does
  * for tokenization — the learned weights come back in exactly the
  * caller-table contract [[QualityModel.score]]/[[QualityModel.classify]]
  * consume, so `classify(df, text, t, fit(labeled, ...))` is the whole
  * pipeline (fastText/C4-style quality classifiers are this shape:
  * hand few labeled docs to a linear trainer, score the corpus).
  *
  * The descent is [[Logistic.descend]]'s (shared with
  * [[HashedNgram.fit]]): gradient terms quantized to DECIMAL(38,6) and
  * summed exactly, so the fit is partition-invariant and
  * cluster-reproducible (pinned by spec: repartition(2) ≡
  * repartition(7) ≡ a driver-side reference trainer, bit for bit).
  * The dot product is [[QualityModel.score]]'s left-to-right fold from
  * the intercept, so training-time predictions and serving-time scores
  * are the same IEEE expression tree.
  *
  * Scale design: the text scan runs ONCE — the 5 features and the
  * label are the kernel's cut, and each of the `iters` gradient passes
  * is one partial-aggregated scan of that narrow frame (6 decimal
  * sums, map-side combined). Weights are bounded driver state (6
  * doubles — the BPE merge-table contract). Labeled sets are
  * sample-sized by nature; nothing here touches the unlabeled corpus.
  */
object QualityTrain {

  /** Fit logistic-regression weights for [[QualityModel.featureNames]]
    * over labeled text.
    *
    * @param df     labeled frame
    * @param text   text column (featurized by [[QualityModel.features]])
    * @param label  0/1 label column (castable to double)
    * @param iters  fixed gradient steps — part of the reproducibility
    *               contract (no tolerance-based early stop)
    * @param lr     learning rate
    * @return (name, weight) rows — "intercept" first, then
    *         [[QualityModel.featureNames]] order; exactly what
    *         [[QualityModel.score]]'s `weights` parameter takes
    */
  def fit(df: DataFrame, text: Column, label: Column,
          iters: Int = 50, lr: Double = 0.5): Seq[(String, Double)] = {
    val names = QualityModel.featureNames
    val train = df.select(QualityModel.features(text).zip(names)
      .map { case (c, name) => c.as(name) } :+ label.cast("double").as(Logistic.Label): _*)
    // the intercept's feature is the constant 1.0
    val x = lit(1.0) +: names.map(col)
    val w = Logistic.descend(Seq(train), x.length, iters, lr) { (cuts, w) =>
      val z = x.tail.zip(w.tail).foldLeft(lit(w(0))) {
        case (acc, (f, wj)) => acc + lit(wj) * f
      }
      Logistic.Pass(cuts.head.withColumn(Logistic.P, Logistic.sigmoid(z)), x)
    }
    ("intercept" +: names).zip(w)
  }
}
