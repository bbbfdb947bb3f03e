package graft

/** Dev-only interleaved query prober (not part of the driver contract).
  * This VM's throughput drifts >2× minute-to-minute (hypervisor steal), so a
  * single timing — or even best-of-2 of ADJACENT runs — can misattribute a
  * host-noise window to a code change. Interleaving rounds across the probed
  * queries samples them all over the SAME drift windows; the per-query MIN
  * then estimates each one's steady state under one-sided noise.
  *
  * Usage: runMain graft.QueryProbe <sfDir> <rounds> <query>...
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QueryProbe <sfDir> <rounds> <query>...")
    val sfDir = args(0)
    val rounds = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = Main.session("graft-query-probe")

    val fns = names.map(n => n -> SparkEntry.queries(n))
    // warmup: one untimed pass each (model/closure caches, codegen, JIT)
    fns.foreach { case (_, fn) => fn(spark, sfDir).count() }

    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to rounds; (n, fn) <- fns) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      samples(n) = samples(n) :+ (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n =>
      val xs = samples(n).sorted
      val med =
        if (xs.size % 2 == 1) xs(xs.size / 2)
        else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
      println(f"PROBE $n min=${xs.head}%.3f med=$med%.3f max=${xs.last}%.3f " +
        xs.map(x => f"$x%.3f").mkString("samples=[", ",", "]"))
    }
    spark.stop()
  }
}
