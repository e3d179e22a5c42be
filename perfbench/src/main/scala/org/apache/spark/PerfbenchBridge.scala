package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The two Spark-internal calls the benchmark needs. */
object PerfbenchBridge {
  /** Block until every queued listener event has been delivered, so a
    * span's counters are complete before the next span starts.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empty the JVM-wide cache of compiled generated classes, so the next
    * query compiles its generated code again, as a new JVM would. The cache
    * is private to `CodeGenerator`, hence the reflection.
    */
  def clearCodegenCache(): Unit = {
    val field = CodeGenerator.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(CodeGenerator)
    val loading = cache.getClass.getMethod("loadingCache").invoke(cache)
    Class.forName("org.sparkproject.guava.cache.Cache").getMethod("invalidateAll").invoke(loading)
  }
}
