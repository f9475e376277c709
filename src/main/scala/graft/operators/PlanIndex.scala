package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame

/**
 * Shipping for the driver-built indexes of the map-only kernels
 * ([[PipIndex]], [[KnnIndex]], [[SetbackIndex]], [[TileIndex]]): a Spark
 * broadcast from the probe DataFrame's own session. The expression then
 * carries only the handle, each executor fetches the index once and every
 * task there shares that one instance and its lazy builds. The handle is not destroyed eagerly — plans
 * re-execute (streaming micro-batches, repeated actions); `ContextCleaner`
 * frees it once the plan holding it is garbage.
 */
private[graft] object PlanIndex {
  def broadcast[T: ClassTag](probes: DataFrame, index: T): Broadcast[T] =
    probes.sparkSession.sparkContext.broadcast(index)
}
