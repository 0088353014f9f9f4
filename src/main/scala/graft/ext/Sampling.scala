package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling for training-data mixes. `rand()`-based sampling
 * is unstable under retry/re-partitioning and irreproducible across
 * engines; these operators key every decision on a content hash, so the
 * same corpus always yields the same sample — on this engine, on a rerun
 * after an executor loss, and on the DuckDB oracle.
 *
 * The reference has no sampling surface (its analytics are full-table
 * grouped counts, `/root/reference/sree-etl-tdk-glue-job.py:51-68`);
 * SURVEY.md §2.11 extension.
 */
object Sampling {

  /**
   * Content-hash Bernoulli sample: keep rows whose lowercase md5 hex of
   * `key` sorts below `hexCeil` (e.g. "2a" keeps ≈ 42/256 of rows).
   * Pure filter — no shuffle, no state, trivially pushdown-friendly; the
   * sharding-safe replacement for `sample()` when the sample must be
   * stable across reruns and engines.
   */
  def hashSample(df: DataFrame, key: Column, hexCeil: String): DataFrame =
    df.filter(md5(key.cast("binary")) < lit(hexCeil))

  /**
   * Stratified quota by stable hash order: the `k` rows of each stratum
   * whose content hash sorts first (ties broken by `idCol`), with the rank
   * in column `rk` — "give me exactly k docs per language, reproducibly".
   *
   * Scale note: with `buckets = 1` the window shuffles by stratum, so
   * parallelism equals the stratum count — fine for strata-rich keys
   * (domain, date). For a low-cardinality stratum over a huge corpus set
   * `buckets > 1`: rows first rank within `(stratum, hash-bucket)` — so
   * the big sort runs at `strata × buckets` parallelism and each task
   * sees `|stratum| / buckets` rows — and only the per-bucket top-`k`
   * survivors (≤ `buckets × k` rows per stratum, a bounded set) enter
   * the per-stratum window that assigns the final rank. EXACTLY the
   * single-window result: any row in a stratum's true top-k is
   * necessarily in its own bucket's top-k (spec-asserted equality).
   */
  def stratifiedTake(
      df: DataFrame, stratumCol: String, key: Column, idCol: String,
      k: Int, buckets: Int = 1): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val h = md5(key.cast("binary"))
    val candidates =
      if (buckets == 1) df
      else {
        // deterministic spread: bucket from the id hash, NOT the sort
        // hash (bucketing by a prefix of the sort key would put a whole
        // bucket's rows in one rank range, not thin each range)
        val wLocal = Window
          .partitionBy(col(stratumCol), pmod(hash(col(idCol)), lit(buckets)))
          .orderBy(h.asc, col(idCol).asc)
        df.withColumn("_brk", row_number().over(wLocal))
          .filter(col("_brk") <= k).drop("_brk")
      }
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(h.asc, col(idCol).asc)
    candidates.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /**
   * Per-stratum TOKEN budget — the other axis of corpus quota-ing:
   * [[stratifiedTake]] caps documents, this caps what training actually
   * spends — tokens (`weight`). Rows are taken in stable hash order
   * (`md5(key)`, ties by `idCol`) while the stratum's RUNNING weight stays
   * `<= budget`, so the kept set is a deterministic prefix of hash order:
   * kept total ≤ budget always holds (a first document alone above
   * budget means NO document fits — the stratum yields nothing, loudly
   * visible in counts rather than silently over budget), and like
   * [[mixtureSample]] the kept set only grows when the budget grows.
   * NULL weights cost 0 (coalesced BEFORE the running sum — a leading
   * NULL must not poison the prefix into NULL-never-≤-budget).
   *
   * Scale design: one aggregate finds each stratum's total; strata at or
   * under budget PASS THROUGH on a broadcast semi-join — no window, no
   * per-stratum sort, which at 100 TB is almost every stratum. Only
   * over-budget strata (the few dominant sources — the rows the budget
   * exists to cut) pay the ordered prefix-sum window, each as one sorted
   * partition of exactly the rows being cut. NULL-stratum rows form
   * their own budgeted group (the window's NULL partition), not a
   * pass-through leak.
   */
  def perKeyTokenBudget(
      df: DataFrame, stratumCol: String, key: Column, idCol: String,
      weight: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w0 = coalesce(weight.cast("long"), lit(0L))
    val totals = df.groupBy(col(stratumCol).as("_s"))
      .agg(sum(w0).as("_tot"))
      .filter(col("_s").isNotNull) // NULL stratum never pass-through-joins
    val underBudget = broadcast(totals.filter(col("_tot") <= budget)
      .select(col("_s")))
    val passThrough = df.join(underBudget,
      df(stratumCol) <=> underBudget("_s"), "left_semi")
    val needCut = df.join(underBudget,
      df(stratumCol) <=> underBudget("_s"), "left_anti")
    val cum = sum(w0).over(Window.partitionBy(col(stratumCol))
      .orderBy(md5(key.cast("binary")).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    passThrough.unionByName(
      needCut.withColumn("_cum", cum).filter(col("_cum") <= budget)
        .drop("_cum"))
  }

  /**
   * Deterministic train/val/test split: label each row by where its
   * content hash falls among ascending hex cut points —
   * `labels(i)` for `md5 < cutsHex(i)`, the last label above the last
   * cut. A hex prefix like "cc" splits at 204/256 ≈ 0.8. Pure
   * projection (no shuffle, no state); membership is a function of
   * content alone, so the split is stable across reruns, engines, and
   * repartitioning — which is what keeps eval rows out of the train
   * set when the corpus is rebuilt. The same-hash-same-split property
   * also means exact duplicates can never straddle the boundary.
   */
  /**
   * Split-leakage audit: how many `groupCol` groups landed rows in MORE
   * than one split. Zero by construction for any split keyed on the
   * group itself (dedup cluster, user, source — see
   * [[graft.ext.Dedup.clusterLabels]]); positive for a row-keyed split,
   * where it QUANTIFIES train/test contamination. One row
   * `(n_groups, leaky_groups)`; one group-keyed aggregate, then a
   * group-count-sized fold.
   */
  def splitLeakage(
      df: DataFrame, groupCol: Column, splitCol: Column): DataFrame =
    df.select(groupCol.as("_g"), splitCol.as("_s"))
      .filter(col("_g").isNotNull)
      .groupBy("_g")
      .agg(countDistinct(col("_s")).as("_k"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("_k") > 1, 1L).otherwise(0L)).as("leaky_groups"))

  def hashSplit(
      df: DataFrame, key: Column, labels: Seq[String], cutsHex: Seq[String],
      splitCol: String = "split"): DataFrame = {
    require(labels.size == cutsHex.size + 1,
      s"need exactly one more label than cut, got ${labels.size} labels / ${cutsHex.size} cuts")
    require(cutsHex == cutsHex.sorted, s"cuts must ascend: $cutsHex")
    val h = md5(key.cast("binary"))
    val e = cutsHex.zip(labels.init).foldRight(lit(labels.last): Column) {
      case ((cut, lab), acc) => when(h < lit(cut), lit(lab)).otherwise(acc)
    }
    df.withColumn(splitCol, e)
  }

  /**
   * Per-stratum mixture sampling — the training-data MIXING primitive
   * (a Pile/RedPajama-style recipe assigns every source a different
   * sampling rate; temperature-weighted mixtures reduce to rates
   * computed upstream): keep a row iff the [0,1) fraction of its content
   * hash sorts below its stratum's rate. Pure per-row filter — no
   * shuffle, deterministic across reruns, engines, AND rate changes:
   * raising one stratum's rate only ADDS rows (the kept set is a prefix
   * of hash order per stratum), so yesterday's 10% sample is a subset of
   * today's 20% — the property that makes incremental mixture rebuilds
   * cheap. Rates quantize to 1/2³² (the 8-hex-digit prefix); strata
   * absent from `rates` use `defaultRate`; rate ≥ 1 keeps every
   * hashable row, ≤ 0 drops everything. A NULL `key` has no hash
   * position, so the row is un-sampleable and drops at EVERY rate —
   * including 1.0; were rate-1 to keep it, nudging a stratum from 1.0
   * to 0.999999 would discontinuously drop its NULL-keyed rows, and the
   * monotone-subset property above would break at exactly one point.
   */
  def mixtureSample(
      df: DataFrame, stratumCol: String, key: Column,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    def keep(r: Double): Column =
      if (r >= 1.0) key.isNotNull
      else if (r <= 0.0) lit(false)
      else substring(md5(key.cast("binary")), 1, 8) <
        lit(f"${math.floor(r * 4294967296.0).toLong}%08x")
    val cond = rates.toSeq.sortBy(_._1).foldRight(keep(defaultRate)) {
      case ((s, r), els) => when(col(stratumCol) === s, keep(r)).otherwise(els)
    }
    df.filter(cond)
  }

  /**
   * Temperature-flattened mixture rates (the XLM-R/mT5 multilingual
   * convention): stratum i gets mixture share `c_i^α / Σ c_j^α`, so a
   * `target`-row sample takes `rate_i = min(1, target·w_i/Z/c_i)` from
   * each stratum — α = 1 reproduces the corpus proportions (every
   * stratum the same rate), α → 0 flattens toward equal shares
   * (up-sampling the tails is capped at rate 1 — this function never
   * duplicates rows; pair with epoch builds for true up-sampling).
   * Feeds [[mixtureSample]] directly.
   *
   * Determinism contract (the oracle-replay rule): the weights round to
   * 6-dp DECIMALS before summing, so Z is exact and order-independent;
   * each rate is then one double expression in a fixed operation order
   * (`target·w/Z/c`, min, round 6). Driver-side on the stratum-count
   * map — strata are metadata-sized by definition.
   */
  def temperatureRates(
      counts: Map[String, Long], alpha: Double,
      target: Long): Map[String, Double] = {
    require(target > 0, s"target must be positive, got $target")
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    val w = counts.collect { case (k, c) if c > 0 =>
      k -> BigDecimal(math.pow(c.toDouble, alpha))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val z = w.values.foldLeft(BigDecimal(0))(_ + _)
    w.map { case (k, wi) =>
      k -> BigDecimal(math.min(1.0,
          target.toDouble * wi.toDouble / z.toDouble / counts(k).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /**
   * Deterministic weighted sample WITHOUT replacement — Efraimidis &
   * Spitsas (2006) exponential-keys: each row gets `key = u^(1/w)` for
   * a content-derived uniform `u` (so the "randomness" is a pure
   * function of `salt` + id — reproducible across engines and reruns),
   * and the sample is the top-`k` rows by key. P(row ∈ sample) is the
   * textbook weighted-without-
   * replacement probability; raising a row's weight (same salt) can
   * only raise its key — monotone, spec-pinned.
   *
   * `u` is the first 12 md5 hex nibbles of `salt:id` scaled by 16⁻¹²
   * (exact in a double); the key rounds to 12 dp BEFORE ranking so the
   * one engine-sensitive op (`pow`) cannot reorder near-equal keys
   * across engines, and ties break by `idCol`. Non-positive / NULL
   * weights drop. Plans as one narrow projection + TakeOrdered — no
   * shuffle, no global sort.
   *
   * Returns the input + `es_key`, the `k` winners.
   */
  def weightedTake(
      df: DataFrame, weight: Column, idCol: String, k: Int,
      salt: String = "es42"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = conv(substring(
        md5(concat(lit(s"$salt:"), col(idCol).cast("string"))
          .cast("binary")), 1, 12), 16, 10).cast("double") /
      lit(281474976710656.0) // 16^12
    df.filter(weight.isNotNull && weight.cast("double") > 0.0)
      .withColumn("es_key",
        round(pow(u, lit(1.0) / weight.cast("double")), 12))
      .orderBy(col("es_key").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * [[temperatureRates]] as a pure FRAME computation — byte-identical
   * rates (spec-pinned law) with zero driver collect: the Map form is
   * right when strata are metadata-sized (languages, sources); this
   * form is the scale path when the stratum key has DOMAIN cardinality
   * (millions of registrable domains — a Map would BE a driver-sized
   * collect), keeping rates as a frame to equi-join onto the corpus.
   * Same arithmetic chain in the same order: per-group weight
   * `round(c^α, 6)` folded as decimal (exact, order-independent Z),
   * then the one double expression `min(1, target·w/Z/c)`, 6-dp.
   * NULL groups drop. Returns group-sized `(g, n_rows, rate)`.
   */
  def temperatureRatesFrame(
      df: DataFrame, groupCol: String, alpha: Double,
      target: Long): DataFrame = {
    require(target > 0, s"target must be positive, got $target")
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("_w",
        round(pow(col("n_rows").cast("double"), alpha), 6).cast(dec6))
    val z = counts.agg(sum(col("_w")).as("_z"))
    counts.crossJoin(broadcast(z))
      .select(col("g"), col("n_rows"),
        round(least(lit(1.0),
          lit(target.toDouble) * col("_w").cast("double")
            / col("_z").cast("double") / col("n_rows").cast("double")),
          6).as("rate"))
  }

  /**
   * [[weightedTake]] PER GROUP — the k best-keyed rows of every stratum
   * under the same Efraimidis–Spitsas exponential keys (per-source
   * exemplar picks, per-language weighted quotas): identical `es_key`
   * derivation and tie rule, ranked inside a GROUP-PARTITIONED window
   * instead of a global TakeOrdered, so the plan is fully
   * shuffle-parallel on the group key — no stratum ever sees another's
   * rows. Non-positive / NULL weights and NULL groups drop. Returns
   * the input + `es_key` (the winners of every group).
   */
  def weightedTakePerGroup(
      df: DataFrame, groupCol: String, weight: Column, idCol: String,
      k: Int, salt: String = "es42"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = conv(substring(
        md5(concat(lit(s"$salt:"), col(idCol).cast("string"))
          .cast("binary")), 1, 12), 16, 10).cast("double") /
      lit(281474976710656.0) // 16^12
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("es_key").desc, col(idCol).asc)
    df.filter(col(groupCol).isNotNull &&
        weight.isNotNull && weight.cast("double") > 0.0)
      .withColumn("es_key",
        round(pow(u, lit(1.0) / weight.cast("double")), 12))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** Deterministic shuffle key: the content hash of `salt` + `key`.
    * Sorting by it is a reproducible corpus-wide random permutation —
    * change the salt, get an independent epoch order. */
  def shuffleKey(key: Column, salt: String): Column =
    md5(concat_ws("", lit(salt), key.cast("string")).cast("binary"))

  /**
   * Temporal train/test split with an EMBARGO gap — the
   * leakage-prevention rule for time-ordered data that [[hashSplit]]'s
   * content hashing cannot express: a model trained through day d and
   * tested from day d+1 still leaks through short-range
   * autocorrelation (sessions straddling midnight, lagged features),
   * so the days immediately after the cutoff are EXCLUDED from both
   * sides (de Prado's purged split, the time-series CV hygiene rule).
   *
   * The cutoff is the rank-exact day at sorted position
   * `⌈(1−testFraction)·n_days⌉` over the DISTINCT day frame (an
   * actual observed day — the [[graft.analytics.Robust]]
   * percentile_disc rule, engine-exact), train = day ≤ cutoff,
   * embargo = the next `embargoDays` days, test = the rest. Adds
   * `split` ∈ {train, embargo, test}; day arithmetic is integer epoch
   * division.
   *
   * Shape: the day frame is bounded (aggregate-first — its one rank
   * window is day-cardinality); the assignment is a per-row
   * projection against the broadcast 1-row cutoff.
   */
  def temporalSplit(
      df: DataFrame, tsCol: Column,
      testFraction: Double = 0.2, embargoDays: Int = 2,
      splitCol: String = "split"): DataFrame = {
    require(testFraction > 0.0 && testFraction < 1.0,
      s"testFraction must be in (0,1), got $testFraction")
    require(embargoDays >= 0,
      s"embargoDays must be >= 0, got $embargoDays")
    val day = floor(tsCol.cast("long") / lit(86400L)).cast("long")
    val days = df.filter(tsCol.isNotNull)
      .select(day.as("_d")).distinct()
    val nD = days.agg(count(lit(1)).as("_n"))
    val wD = org.apache.spark.sql.expressions.Window.orderBy(col("_d"))
    val cutoff = days
      .withColumn("_r", row_number().over(wD).cast("long"))
      .crossJoin(broadcast(nD))
      .filter(col("_r") ===
        ceil(col("_n").cast("double") * lit(1.0 - testFraction))
          .cast("long"))
      .select(col("_d").as("_cut"))
    df.filter(tsCol.isNotNull)
      .crossJoin(broadcast(cutoff))
      .withColumn(splitCol,
        when(day <= col("_cut"), "train")
          .when(day <= col("_cut") + embargoDays, "embargo")
          .otherwise("test"))
      .drop("_cut")
  }
}
