package graft

/** Steady-state A/B probe: runs each named query N times in ONE warm
  * JVM (the [[GraftSession]] Bench runs on) and prints every iteration's
  * seconds. The per-fresh-JVM subset bench carries 1–3 s of JIT/codegen
  * noise — far larger than most plan-level effects — so optimization
  * A/Bs compare iterations ≥2 here (steady state), with the full bench
  * as the final arbiter. Dev tool only; never run by the driver.
  * Usage: runMain graft.OptProbe <sfDir> <reps> <queryKey ...>
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val keys = args.drop(2).toSeq
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      val fn = SparkEntry.queries(k)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(s"PROBE $k " + times.map(t => f"$t%.3f").mkString(" "))
    }
    spark.stop()
  }
}
