package org.apache.spark.graftshim

import org.apache.spark.{MapOutputTrackerMaster, ShuffleDependency, SparkEnv}
import org.apache.spark.rdd.RDD

/** Test access to the `private[spark]` map-output tracker. */
object ShuffleOutputs {

  /** Forgets the map outputs of every shuffle in `rdd`'s lineage, as
    * losing the executors that wrote them would: the next job that
    * reads one of those shuffles reruns its map stage.
    */
  def drop(rdd: RDD[_]): Unit = {
    val tracker = SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    def shuffles(r: RDD[_]): Seq[Int] = r.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s.shuffleId +: shuffles(s.rdd)
      case d => shuffles(d.rdd)
    }
    shuffles(rdd).distinct.foreach(tracker.unregisterAllMapAndMergeOutput)
  }
}
