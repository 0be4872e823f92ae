package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener}

/** Reaches listener buses Spark keeps package-private: the context's, so
  * the benchmark can read its listener's totals only after every event of
  * the run has been delivered, and the external catalog's, whose events
  * reach a listener on the thread that made the catalog call.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Calls `f` on every external catalog event until the returned function
    * is called.
    */
  def onCatalogEvent(spark: SparkSession)(f: ExternalCatalogEvent => Unit): () => Unit = {
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.externalCatalog
    val listener = new ExternalCatalogEventListener {
      override def onEvent(e: ExternalCatalogEvent): Unit = f(e)
    }
    catalog.addListener(listener)
    () => catalog.removeListener(listener)
  }
}
