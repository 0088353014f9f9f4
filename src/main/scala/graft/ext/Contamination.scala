package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/**
 * Benchmark-contamination detection: for every corpus document, the
 * fraction of its word n-gram shingles that also occur anywhere in a
 * benchmark corpus — the standard eval-leakage screen an LLM training
 * pipeline runs before a dataset ships (n-gram overlap as in GPT-3's
 * 13-gram and PaLM's 8-gram decontamination).
 *
 * Scale design (100 TB corpus, small benchmark): eval suites are thousands
 * of documents while the corpus is unbounded, so the benchmark's distinct
 * shingle set is BROADCAST and probed from inside the corpus's exploded
 * shingle stream — the benchmark is never shuffled, and the corpus
 * shuffles exactly once (by doc id, partial+final count aggregation).
 * There is no corpus×benchmark join fan-out: each corpus shingle meets the
 * broadcast hash table, not benchmark rows.
 *
 * The reference has no contamination surface (its analytics are grouped
 * counts, `/root/reference/sree-etl-tdk-glue-job.py:51-68`); this extends
 * the SURVEY.md §2.11 training-data set.
 */
object Contamination {


  /**
   * Per-document overlap with `bench`: `(idCol, n_shingles, n_contaminated,
   * contamination)` where `contamination = n_contaminated / n_shingles`
   * over the document's DISTINCT n-gram shingles. Documents with fewer
   * than `n` tokens have no shingles and are absent from the output
   * (contamination of a shingle-less doc is undefined).
   */
  def contamination(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val benchShingles = broadcast(
      bench.select(explode(Dedup.shingles(col(textCol), n)).as("s"))
        .distinct()
        .withColumn("hit", lit(1L)))
    corpus
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("s"))
      .join(benchShingles, Seq("s"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
  }

  /**
   * Multi-benchmark contamination with per-benchmark ATTRIBUTION: one
   * row per (document, benchmark) with that benchmark's own overlap —
   * the registry form of the screen (a real pipeline checks against a
   * SUITE of eval sets, and "which benchmark leaked into this document"
   * decides whether to drop the doc or fix the benchmark split).
   * `benches` carries `(benchCol, textCol)`; output is `(idCol,
   * benchCol, n_shingles, n_contaminated, contamination)`, restricted to
   * pairs with at least one overlapping shingle (a zero row per
   * document × benchmark would be |corpus|·|registry| rows of nothing —
   * absence means clean). `n_shingles` is the document's total, so
   * per-benchmark fractions compare on one denominator.
   *
   * Same scale contract as [[contamination]]: the registry's distinct
   * (benchmark, shingle) set broadcasts; a shingle shared by k
   * benchmarks fans each matching corpus shingle out k ways — the
   * attribution cost, bounded by the registry (small) side.
   */
  def multiContamination(
      corpus: DataFrame, benches: DataFrame,
      idCol: String, textCol: String, benchCol: String, n: Int = 5): DataFrame = {
    val registry = broadcast(
      benches.select(col(benchCol),
          explode(Dedup.shingles(col(textCol), n)).as("s"))
        .distinct())
    val docShingles = corpus
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("s"))
    val totals = docShingles.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    docShingles
      .join(registry, Seq("s")) // inner: only contaminated pairs survive
      .groupBy(col(idCol), col(benchCol))
      .agg(count(lit(1)).as("n_contaminated"))
      .join(totals, Seq(idCol))
      .select(col(idCol), col(benchCol), col("n_shingles"),
        col("n_contaminated"),
        (col("n_contaminated").cast("double") /
          col("n_shingles").cast("double")).as("contamination"))
  }

  /**
   * [[contamination]] with a BLOOM-FILTER prune — same exact output
   * (false positives are removed by an exact verify join; q50 shares
   * q39's oracle to prove it), different scale regime: when the
   * benchmark's distinct shingle set is too large to broadcast raw (a
   * full eval-suite registry is tens of GB of strings), its Bloom filter
   * at `fpp`≈1% is ~10 bits per shingle — 50-100× smaller — and rides to
   * every task as one binary value. The corpus's exploded shingle stream
   * is pruned against the filter IN PLACE (narrow, codegen'd
   * `might_contain`, no join, no shuffle); only the surviving ~ε·|corpus
   * shingles| + true hits take the exact equi-join, so the join cost
   * tracks the CONTAMINATION RATE instead of the corpus size. Per-doc
   * shingle totals are counted before the prune — arithmetic the prune
   * cannot perturb.
   *
   * Built on Spark's own sketch expressions (`BloomFilterAggregate` /
   * `BloomFilterMightContain`, the pair behind runtime row-level
   * filtering), driven through the same xxhash64 both sides share.
   */
  def contaminationBloom(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 5,
      expectedItems: Long = 1000000L, fpBits: Long = 8 * 1024 * 1024): DataFrame = {
    // materialized: consumed twice (bloom build + verify join) — without
    // the cut each consumer would re-shingle the full benchmark corpus
    val benchShingles = Materialize.cut(bench
      .select(explode(Dedup.shingles(col(textCol), n)).as("s"))
      .distinct())

    // build: one pass over the benchmark shingles → a single binary value,
    // carried into the probe as an UNCORRELATED SCALAR SUBQUERY (the
    // exact carrier Spark's own runtime row-level filtering uses for
    // BloomFilterMightContain) rather than a collected `lit(bytes)`: a
    // ~1 MB literal embedded in the plan bloats every plan copy,
    // canonicalization, and codegen reference the session accumulates
    // (the r12 bench recorded a 12x session artifact on exactly this
    // query), and the head() forced a driver round-trip at plan-build
    // time. The subquery executes once per run, executor-side. The
    // subquery expression is built DIRECTLY on the aggregate's analyzed
    // plan — no named temp view: the per-call
    // `createOrReplaceTempView(graft_bloom_carrier_N)` carrier leaked one
    // analyzed view per call into the session catalog for the session's
    // lifetime (the r13 advice), in exactly the repeated-bench sessions
    // the subquery carrier was introduced for.
    val bloomAgg = benchShingles
      .select(column(new BloomFilterAggregate(expression(xxhash64(col("s"))),
        Literal(expectedItems), Literal(fpBits))
        .toAggregateExpression()).as("bf"))
    val mightContain = column(BloomFilterMightContain(
      ScalarSubquery(bloomAgg.queryExecution.analyzed),
      expression(xxhash64(col("s")))))

    // materialized: the totals aggregate and the pruned verify branch both
    // read it — uncut, each branch is a full redundant corpus text scan,
    // the dominant cost at the scale regime this operator exists for
    val exploded = Materialize.cut(corpus
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("s")))
    val totals = exploded.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    // prune narrowly, then verify ONLY the survivors exactly
    val verified = exploded
      .filter(mightContain)
      .join(benchShingles.withColumn("hit", lit(1L)), Seq("s"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
    totals.join(verified, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
  }
}
