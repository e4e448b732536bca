package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Listener events reach listeners asynchronously; the benchmark drains
  * the bus before it reads what its listeners recorded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Spark's JVM-wide cache of compiled generated classes. Emptying it before
  * an execution makes the query compile its generated code again, as it does
  * the first time it runs in a JVM. */
object CodegenCache {
  private lazy val cache: NonFateSharingCache[_, _] = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    f.get(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
  }

  def clear(): Unit = cache.invalidateAll()
}
