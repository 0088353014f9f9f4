package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare. Exits 1, after
  * writing every dump that succeeded and oracle_sql.json, when any query
  * throws — a missing dump is otherwise invisible to a compare that only
  * walks the dumps that exist. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q60,q61 narrows the dump for local iteration
    // (Harness.onlyFilter); unset, it dumps everything.
    val only = Harness.onlyFilter(sys.env.get("SPARK_GRAFT_ONLY"))
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_(name)) }
      .filterNot { case (name, fn) =>
        val ok =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            true
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            false
          }
        // each result is fully on disk now — drop the query's lineage-cut
        // blocks and stream-sink views so 372 queries don't accumulate
        // BlockManager state or memory-sink rows on the heap
        graft.ext.Materialize.release(spark)
        Harness.dropStreamSinks(spark)
        ok
      }.map(_._1)
    // partial oracles read the Spark dump back (scored-subset / bound
    // checks — see SparkEntry.oracleSql doc); patch in the actual dump dir.
    // The path lands inside a single-quoted SQL literal — escape quotes so
    // an apostrophe in the path can't break (or inject into) the oracle.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString.replace("'", "''")
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${Harness.jsonString(k)}: ${Harness.jsonString(v.replace("__OUT__", outAbs))}"
      }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
