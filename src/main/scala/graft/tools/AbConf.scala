package graft.tools

/** In-JVM A/B of one runtime SQL conf over named queries — immune to
  * box drift between separate bench runs (the two arms interleave
  * rep-by-rep in one session). Bench's cache-release discipline per
  * rep; medians per arm.
  *   sbt "runMain graft.tools.AbConf <conf> <offVal> <onVal> <query...>"
  */
object AbConf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: AbConf <conf> <off> <on> <query...>")
    val (key, offV, onV) = (args(0), args(1), args(2))
    val names = args.drop(3).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = graft.GraftSession.get(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def rep(name: String, v: String): Double = {
      spark.conf.set(key, v)
      graft.CacheRegistry.release(); spark.catalog.clearCache()
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    names.foreach { n =>
      rep(n, offV); rep(n, onV) // warmup both arms
      val pairs = (1 to reps).map(_ => (rep(n, offV), rep(n, onV)))
      println(f"[abconf] $n%-34s off=${med(pairs.map(_._1))}%6.3f on=${med(pairs.map(_._2))}%6.3f  (${pairs.map(p => f"${p._1}%.2f/${p._2}%.2f").mkString(" ")})")
    }
    spark.stop()
  }
}
