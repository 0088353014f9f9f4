package graft

/** Dev tool: run one declared query N times with timing + formatted plan.
  * Usage: runMain graft.Explain <queryKey> [sfDir] [reps]; with reps = 0
  * it prints only the plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Explain <queryKey> [sfDir] [reps]"
    require(args.length >= 1 && args.length <= 3, usage)
    val key   = args(0)
    val fn = SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"unknown query '$key'; $usage"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps  = if (args.length > 2) args(2).toInt else 3
    val spark = Harness.session(Harness.cpus,
      sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(extraConf).getOrElse(Nil))
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      Harness.consume(fn(spark, sfDir)) // same action Bench times
      println(f"[explain] $key run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      graft.ext.Materialize.release(spark)
      Harness.dropStreamSinks(spark)
    }
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }

  /**
   * Measurement-only conf override (guide §1): semicolon-separated k=v
   * pairs, e.g. SPARK_GRAFT_EXTRA_CONF="spark.sql.shuffle.partitions=8".
   * Empty segments are skipped; the value is everything after the first
   * `=`. Explain is a dev tool — Bench never reads this.
   */
  def extraConf(raw: String): Seq[(String, String)] =
    raw.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_EXTRA_CONF segment '$kv' is not k=v")
      kv.take(i).trim -> kv.drop(i + 1).trim
    }
}
