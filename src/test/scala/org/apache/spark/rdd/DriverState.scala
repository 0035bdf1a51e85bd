package org.apache.spark.rdd

import org.apache.spark.{SparkContext, storage}

/** Driver state Spark keeps `private[spark]`, read by the lifetime
  * specs.
  */
object DriverState {
  /** The value of every broadcast the driver still holds, by id. */
  def liveBroadcasts(sc: SparkContext): Map[Long, Any] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case storage.BroadcastBlockId(_, "") => true
      case _                               => false
    }.flatMap {
      case id @ storage.BroadcastBlockId(b, _) =>
        bm.memoryStore.getValues(id).flatMap(_.toSeq.headOption).map(b -> _)
      case _ => None
    }.toMap
  }

  /** The ids of the persisted RDDs that are not checkpoints (a
    * truncate's local checkpoint stays persisted by design).
    */
  def persistedNonCheckpoints(sc: SparkContext): Set[Int] =
    sc.getPersistentRDDs.values
      .filterNot(r => r.isLocallyCheckpointed || r.isReliablyCheckpointed)
      .map(_.id).toSet
}
