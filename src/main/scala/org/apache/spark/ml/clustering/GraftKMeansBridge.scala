package org.apache.spark.ml.clustering

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.mllib.clustering.{KMeansModel => OldKMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.DataFrame

/** Bridge to the `private[clustering]` KMeansModel/KMeansSummary
  * constructors: the only way `graft.operators.Clustering` builds its
  * model, from the centers of its own K-Means (k-means++ on the whole table
  * or on a sample, then first-min Lloyd's). The model is the type
  * `KMeans.fit` returns: `k` set, and a training summary carrying the
  * iteration count, the training cost and `model.transform(dataset)` as its
  * predictions. */
object GraftKMeansBridge {
  def model(centers: Array[Vector], numIter: Int, trainingCost: Double,
            dataset: DataFrame): KMeansModel = {
    val parent = new OldKMeansModel(centers.map(OldVectors.fromML), "euclidean",
      trainingCost, numIter)
    val bare = new KMeansModel(Identifiable.randomUID("kmeans"), parent)
    val m = bare.copy(ParamMap(bare.k -> centers.length))
    m.setSummary(Some(new KMeansSummary(m.transform(dataset), m.getPredictionCol,
      m.getFeaturesCol, centers.length, numIter, trainingCost)))
  }
}
