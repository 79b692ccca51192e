package org.apache.spark

/** The scheduler and storage hooks the benchmark needs that Spark keeps
  * package-private.
  */
object BenchBridge {

  /** Waits until every posted listener event has been delivered, so
    * per-operation layer counters are complete when read.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of every RDD block stored now, keyed `<executor>/<block>`. */
  def rddBlocks(sc: SparkContext): Map[String, Long] =
    sc.env.blockManager.master.getStorageStatus.toSeq.flatMap { st =>
      st.rddBlocks.map { case (id, b) => s"${st.blockManagerId.executorId}/${id.name}" -> (b.memSize + b.diskSize) }
    }.toMap
}
