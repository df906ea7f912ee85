package org.apache.spark.perfbridge

import org.apache.spark.SparkEnv

/** Block-manager storage memory currently held by cached and
  * checkpointed blocks, in bytes. `SparkEnv.memoryManager` is
  * private[spark], so this accessor lives under the org.apache.spark
  * package tree, next to the library's own `graftbridge`.
  */
object StorageMemory {
  def usedBytes(): Long = {
    val env = SparkEnv.get
    if (env == null) 0L else env.memoryManager.storageMemoryUsed
  }
}
