package org.apache.spark

/** Test access to the (package-private) memory manager: the Tungsten
  * page size the running context's tasks allocate. */
object MemoryPages {
  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes
}
