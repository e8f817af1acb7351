package org.apache.spark.graftprobe

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Lives under `org.apache.spark`
  * because the listener bus, which must drain before the count is read,
  * is package-private.
  */
object Jobs {
  private val TagKey = "graftprobe.tag"

  /** Jobs started by `f`'s thread or by threads it hands work to (the
    * tag is a local property, which broadcast and AQE stage threads
    * inherit), so jobs of other sessions' queries are not counted.
    */
  def counted(sc: SparkContext)(f: => Any): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(TagKey) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val before = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try {
      f
      sc.listenerBus.waitUntilEmpty()
      n.get
    } finally {
      sc.setLocalProperty(TagKey, before)
      sc.removeSparkListener(listener)
    }
  }
}
