package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression guards: the declared queries must keep the
  * plan shapes they were tuned to (broadcast small sides, planning-time
  * partition pruning, top-k pushdown, column pruning). A change that
  * silently degrades one of these to a shuffle join or a full scan fails
  * here instead of only showing up as a bench regression. */
class PlanAuditSpec extends GraftSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(key: String): String = {
    val df: DataFrame = SparkEntry.queries(key)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q10: dimension joins are broadcast, not shuffle") {
    val p = plan("q10_join_users_dim")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q06: day read prunes partitions at planning time") {
    val p = plan("q06_partition_pruned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(date"))
  }

  test("q18: limit folds into TakeOrderedAndProject (no global sort)") {
    val p = plan("q18_token_counts")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q19: corpus never shuffles — broadcast nested loop over queries") {
    val p = plan("q19_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q24: scan reads only the needed columns") {
    val p = plan("q24_quality_score")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q11: anti join stays a join, not a cartesian") {
    val p = plan("q11_anti_join")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q361: the Bloom screen joins the word frame by BROADCAST — the " +
      "batch side never shuffles for the filter lookup") {
    // the screen's whole scale story is that the filter frame (<= m/63
    // rows) ships to the batch, not the batch to the filter: a silent
    // degradation to a shuffle join would drag the exploded batch
    // through the network at 100-TB history. Audited on the SCREEN's
    // own plan (not q361's, which has two more joins that could satisfy
    // a loose broadcast assertion), and keyed: the one broadcast join
    // must be ON word.
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = Tables(spark, sfDir, "documents")
    val bloom = graft.ext.BloomIndex.bloomBuild(
      docs.filter(pmod(col("doc_id"), lit(2L)) === 0), col("text"),
      words = 4096, k = 3, salt = "bloom-r16")
    val p = graft.ext.BloomIndex.bloomScreen(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1), "doc_id",
        col("text"), bloom, words = 4096, k = 3, salt = "bloom-r16")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[word#\\d+L?\\]".r.findFirstIn(p).nonEmpty,
      s"screen's filter lookup must be a broadcast join keyed on word:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // and the full q361 composition still has no cartesian anywhere
    val full = plan("q361_bloom_screen")
    assert(!full.contains("CartesianProduct"))
  }

  test("q363: the per-label centroid frame broadcasts back to the " +
      "corpus — labels are few by construction, the corpus is not") {
    val p = plan("q363_prototypicality")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q37 components round: equi-joins only, even with broadcast disabled") {
    // the label-propagation round executes up to maxIters times per q37 run;
    // at 100 TB neither the edge list nor the label table is broadcastable,
    // so the round must stay an ordinary shuffled equi-join + hash
    // aggregate — never a nested-loop or cartesian shape
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
      val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      val labels = edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("component"))
      val p = graft.ext.Dedup.componentsStep(edges, labels)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
      assert(p.contains("HashAggregate")) // partial min agg combines map-side
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q40/q41: window queries shuffle data once (plus the output sort)") {
    // stratifiedTake and pack each need exactly one hash shuffle (by
    // stratum / by shard) before their window; the only other exchange
    // allowed is the final presentation orderBy's range partitioning. A
    // third exchange would mean the window or a join re-shuffled the data.
    Seq("q40_stratified_sample", "q41_packing").foreach { k =>
      val p = plan(k)
      assert(p.contains("Window"), s"$k lost its window")
      val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).size
      assert(exchanges <= 2, s"$k shuffles ${exchanges}x:\n$p")
    }
  }

  test("IVF Lloyd iteration: argmin below the generator, one tiny shuffle") {
    // the per-row centroid argmin (the native graft_ivf_cells selection
    // over the k-centroid matrix) must sit in the Project BELOW the
    // posexplode Generate — above it, the k dots re-run once per exploded
    // ELEMENT (dim×, measured 5.1s vs 1.3s per q44 training at sf0.1)
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec, SparkPlan}
    val emb = Tables(spark, sfDir, "embeddings")
    val cent = graft.ext.AnnIvf.trainCentroids(emb, k = 4, iters = 0)
    // sparkPlan, not executedPlan: collect() does not descend into the
    // AdaptiveSparkPlanExec wrapper
    val exec = graft.ext.AnnIvfTwins.iterPlanProbe(emb, cent)
      .queryExecution.sparkPlan
    def find(p: SparkPlan): Seq[GenerateExec] =
      p.collect { case g: GenerateExec => g }
    val gens = find(exec)
    assert(gens.nonEmpty, s"no Generate in:\n$exec")
    val gen = gens.head
    val argminBelow = gen.child.collect { case pr: ProjectExec => pr }
      .exists(_.projectList.exists(_.sql.contains("graft_ivf_cells")))
    assert(argminBelow, s"argmin not below Generate:\n$exec")
    assert(gen.requiredChildOutput.map(_.name) == Seq("cell"),
      "Generate must pass through only the cell attribute, " +
        s"got ${gen.requiredChildOutput.map(_.name)}")
  }

  test("q46: per-language top-k pushes the rank limit into the window") {
    val p = plan("q46_distinctive_terms")
    assert(p.contains("WindowGroupLimit"), p.linesIterator.take(12).mkString("\n"))
  }

  test("q48: the selective re-read pushes its filter to the parquet scan") {
    val p = plan("q48_sorted_layout")
    assert(p.contains("PushedFilters: [IsNotNull(user_id), " +
      "GreaterThanOrEqual(user_id,10), LessThanOrEqual(user_id,19)]"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q47: quantization is a pure narrow projection — zero exchanges " +
    "before the output sort") {
    val df = SparkEntry.queries("q47_quantize_int8")(spark, sfDir)
    val exchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the output-sort exchange, got $exchanges")
  }

  test("q50: the bloom prune is a narrow filter below the verify join") {
    // might_contain must sit in a Filter that is NOT preceded by a join on
    // its input side — the prune happens before any pairing
    val df = SparkEntry.queries("q50_bloom_contamination")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), "bloom probe missing from the plan")
    val filterLine = p.linesIterator.find(_.contains("might_contain")).get
    assert(filterLine.contains("Filter") || filterLine.contains("filter"),
      s"bloom probe not in a Filter: $filterLine")
  }

  test("q53/q56: as-of joins are a single window pass — no join node, " +
    "one hash shuffle") {
    // the union-tag formulation must never degrade to the pair-
    // materializing (left × candidate-right) join the oracles run
    Seq("q53_asof_join", "q56_asof_forward").foreach { k =>
      val p = plan(k)
      assert(p.contains("Window"), s"$k: " + p.linesIterator.take(12).mkString("\n"))
      assert(!p.contains("Join"), s"$k: pair-materializing join appeared:\n$p")
      val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashShuffles == 1, s"$k: expected exactly one key shuffle:\n$p")
    }
  }

  test("q54/q57: range joins plan as hash equi-joins on the bucket id") {
    Seq("q54_range_join", "q57_session_attribution").foreach { k =>
      val p = plan(k)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$k: range join degraded to a nested loop:\n$p")
      assert(p.contains("HashJoin"), s"$k: " + p.linesIterator.take(12).mkString("\n"))
    }
  }

  test("q55: chunking is a narrow Generate — no shuffle before the " +
    "output sort") {
    val p = plan("q55_chunk")
    assert(p.contains("Generate"), p.linesIterator.take(12).mkString("\n"))
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashShuffles == 0, s"chunking shuffled:\n$p")
  }

  test("q62: the incremental screen is equi-joins only, even with broadcast disabled") {
    // at 100 TB neither the batch nor the corpus side fits a broadcast;
    // every stage (hash anti-join, band-bucket join, verify join) must
    // stay an ordinary shuffled equi-join — never a nested-loop shape
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q62_incremental_dedup")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q75's verify stage: the parquet index is scanned column-pruned per consumer") {
    // the whole point of persisting the index: the band explode must read
    // only (ghash, sig) and the verify join only (ghash, sh) — a scan that
    // drags all three columns would deserialize the heavy shingle arrays
    // through the explode, which a localCheckpointed index cannot avoid.
    // Audited on Dedup.nearDropped — the exact stage screen runs — because
    // inside the full query the surrounding lineage cuts execute it
    // eagerly and its scans never reach the final plan.
    import org.apache.spark.sql.functions.{col, size => asize}
    val Dedup = graft.ext.Dedup
    val docs = Tables(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_audit").toString
    Dedup.buildDedupIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)

    val bIdx = Dedup.buildDedupIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    val bSh = bIdx.filter(asize(col("sh")) > 0).select("ghash", "sh")
    val bBk = Dedup.bandBuckets(
        bIdx.filter(col("sig").isNotNull).select("ghash", "sig"),
        "ghash", "sig", 16, 2)
      .select(col("ghash").as("b_gh"), col("band"), col("bucket"))
    val cSh = index.filter(asize(col("sh")) > 0).select("ghash", "sh")
    val cBk = Dedup.bandBuckets(
        index.filter(col("sig").isNotNull).select("ghash", "sig"),
        "ghash", "sig", 16, 2)
      .select(col("ghash").as("c_gh"), col("band"), col("bucket"))

    val p = Dedup.nearDropped(bSh, bBk, cSh, cBk, 0.6)
      .queryExecution.executedPlan.toString
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(p.contains("ReadSchema: struct<ghash:string,sig:array<bigint>>"), schemas)
    assert(p.contains("ReadSchema: struct<ghash:string,sh:array<string>>"), schemas)
    assert(!p.contains("sh:array<string>,sig"),
      s"an index scan reads all columns:\n$schemas")
  }

  test("q64: the shuffled head is TakeOrdered, never a global sort") {
    val p = plan("q64_corpus_shuffle")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q66: pivot carries its declared values — no distinct-collect pre-job") {
    // the declared value list appears as pivotfirst literals, proving no
    // extra job ran to discover the column set; the plan holds exactly
    // the two aggregation exchanges pivot needs plus the output sort
    val p = plan("q66_pivot")
    assert(p.contains("pivotfirst(lang"), p)
    assert(p.contains(", de, en, es, fr, zh,"), p)
    assert("Exchange".r.findAllIn(p).size <= 3, p)
  }

  test("q70: CDC compaction is a max_by aggregate — no ranking window, no per-key sort") {
    // the window twin must shuffle and SORT every change-log row per key;
    // the aggregate reduces each map task to one candidate per key before
    // the shuffle — this is the entire scale argument of latestByKey
    val p = plan("q70_cdc_compact")
    assert(!p.contains("Window"), s"ranking window crept back in:\n$p")
    assert(p.contains("partial_max_by"),
      "map-side partial max_by missing:\n" + p.linesIterator.take(12).mkString("\n"))
  }

  test("q73: snapshot diff is exactly one full-outer equi-join") {
    // the change feed costs one shuffled key join — a second join (or a
    // nested-loop shape) would mean the null-safe compare re-paired rows
    val p = plan("q73_snapshot_diff")
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin|CartesianProduct)".r
      .findAllIn(p).toSeq
    assert(joins.length == 1, s"expected exactly one join, got $joins:\n$p")
    assert(p.contains("FullOuter"), p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q79: span census is hash joins on the window key — no cartesian, " +
    "windows generated narrowly") {
    val p = plan("q79_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the window fan-out is a Generate (explode), never a join against a
    // positions table
    assert(p.contains("Generate explode"), p)
  }

  test("q80: LM scoring is equi-joins against the count frames — " +
    "no cartesian even with broadcast disabled") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q80_lm_score")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q81: the ADC sweep broadcasts the query batch — the code table " +
    "side never shuffles before scoring") {
    val p = plan("q81_pq_topk")
    // broadcast nested loop of the tiny query batch over the code scan
    // (the bruteForceTopK plan over ~32× fewer bytes); the only exchanges
    // are the ranking windows' q_id partitions and the rerank join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange hashpartitioning(nn_id"), s"code side shuffled:\n$p")
  }

  test("q85: retrieval plans as TakeOrdered over the score aggregate — " +
    "no global sort of the corpus") {
    val p = plan("q85_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q86: funnel stages are user-key equi-joins — no cartesian, " +
    "no ranking window") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q86_funnel")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("Window"), s"funnel should be join-shaped, not windowed:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q88: mixture sampling is a pure narrow filter — zero exchanges " +
    "before the output sort") {
    val p = plan("q88_mixture_sample")
    // the only exchange is the final orderBy's range partitioning
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges == 1, s"mixture filter shuffled:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q101: LOCF window partitions by user — no global-partition window") {
    val p = plan("q101_resample_locf")
    // a Window whose partition spec is empty prints "Window [..], [..]"
    // with no PartitionBy keys and triggers the single-partition WARN;
    // every window here must carry the user key
    assert(p.contains("Window"), p)
    assert("windowspecdefinition\\(\\s*_b".r.findFirstIn(p).isEmpty,
      s"window lost its user partition key:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q102: fuzzy matching joins on block keys — no cartesian even " +
    "with broadcast off") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q102_fuzzy_pairs")
      assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
        s"fuzzy join degenerated to all-pairs:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q103: vocab top-k plans as TakeOrdered, not a global sort") {
    val p = plan("q103_vocab")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q292: zipf fit is limit-FIRST — the rank window sits above a " +
    "TakeOrdered of the vocabulary, never over the full term frame") {
    val p = plan("q292_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"zipf lost its per-partition top-N heads:\n$p")
    // tree print = parent first: the (topN-row) Window must be ABOVE
    // the TakeOrdered, i.e. the rank-then-filter shape is gone
    assert(p.indexOf("Window") >= 0 &&
      p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
      s"rank window is not running over the TakeOrdered frame:\n$p")
  }

  test("q315: coverage window runs over the count-of-counts frame — " +
    "no window is ever ordered by term") {
    val p = plan("q315_coverage_targets")
    // the value-grouped shape orders its cumulative windows by the
    // count value _c alone; the old vocab-frame shape ordered by
    // (_c, _t) — a term-keyed sort of the whole vocabulary
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no window found:\n$p")
    specs.foreach(s =>
      assert(!s.contains("_t#"),
        s"a window is ordered by the term column (vocab-sized sort): $s"))
  }

  test("q104: rollup merge carries partial aggregation (map-side combine)") {
    val p = plan("q104_rollup_merge")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"rollup aggregate lost its partial stage:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q105: transition lag window is user-partitioned; output agg " +
    "keeps map-side partials") {
    val p = plan("q105_transitions")
    assert(p.contains("Window"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("q106: skew profile top-k plans as TakeOrdered over the key counts") {
    val p = plan("q106_skew_profile")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q107: vocab encode is a pure narrow projection — no joins, the " +
    "only exchange is the output sort") {
    val p = plan("q107_encode_vocab")
    assert(!p.contains("Join"), s"driver-literal map must not plan a join:\n$p")
    assert("Exchange ".r.findAllIn(p).size == 1, s"encode shuffled:\n$p")
  }

  test("q108: kNN eval broadcasts the query side; corpus never shuffles " +
    "before the top-k window") {
    val p = plan("q108_knn_classify")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q113: debounce windows are key-partitioned — no global window, " +
    "no join") {
    val p = plan("q113_debounce")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert("windowspecdefinition\\(\\s*cast".r.findFirstIn(p).isEmpty,
      s"window lost its user/type partition keys:\n$p")
  }

  test("q110/q112: distribution profiles keep partial aggregation and " +
    "key-partitioned windows") {
    val p10 = plan("q110_value_deciles")
    assert(p10.contains("Window") && !p10.contains("Join"), p10)
    val p12 = plan("q112_group_quantiles")
    assert(p12.contains("partial_percentile") || p12.contains("Partial"), p12)
    assert(!p12.contains("Window") && !p12.contains("Join"), p12)
  }

  test("q114: the group split is a narrow projection into the count agg — " +
    "one data shuffle, no join") {
    val p = plan("q114_group_split")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("q118: the manifest fold is two bounded aggregation levels — the " +
    "bucket key reaches the physical plan") {
    val p = plan("q118_manifest")
    // level 1 groups on (shard, _bkt): a plan without the bucket key would
    // mean the fold regressed to the single-level whole-shard collect
    assert(p.contains("_bkt"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("CollectLimitExec"), p)
  }

  test("q119: the ANN-fed vote stays on the cell equi-join — never " +
    "all-pairs") {
    val p = plan("q119_knn_classify_ann")
    assert(!p.contains("CartesianProduct"), p)
    // candidates come from the bucketed cell join; the scoring side must
    // keep the window partitioned by query id (no global window)
    assert(!"windowspecdefinition\\(\\s*cast".r.findFirstIn(p).isDefined, p)
  }

  test("q120/q121: decode is a narrow MapPartitions pass — no join, no " +
    "pre-sort shuffle ahead of the codec") {
    Seq("q120_image_decode", "q121_audio_decode").foreach { k =>
      val p = plan(k)
      assert(p.contains("MapPartitions"), s"$k lost the batch-decode stage:\n$p")
      assert(!p.contains("Join") && !p.contains("CartesianProduct"), s"$k:\n$p")
      // the only Exchange is the final presentation sort — the decode
      // itself must not shuffle (one range partitioning, nothing else)
      assert("Exchange".r.findAllIn(p).size <= 1, s"$k decode shuffled:\n$p")
    }
  }

  test("q122: mining re-rank stays partitioned by (q_id, kind) — no " +
    "global window, no cartesian") {
    val p = plan("q122_contrastive_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!"windowspecdefinition\\(\\s*cast".r.findFirstIn(p).isDefined, p)
  }

  test("q123: the boilerplate cut is an equi-anti-join with partial " +
    "aggregation — no cartesian, no global window") {
    val p = plan("q123_boilerplate")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q126: the merged read keeps partial aggregation and prunes to " +
    "the three needed columns plus the partition key") {
    val p = plan("q126_schema_merge")
    assert(p.contains("partial_count") || p.contains("Partial"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("q125/q127: the report joins are class-sized (no cartesian), the " +
    "batching windows stay shard-partitioned") {
    val p25 = plan("q125_class_report")
    assert(!p25.contains("CartesianProduct"), p25)
    val p27 = plan("q127_pad_batches")
    assert(!p27.contains("Join") && !p27.contains("CartesianProduct"), p27)
    assert(!"windowspecdefinition\\(\\s*cast".r.findFirstIn(p27).isDefined,
      s"q127 window lost its shard partition key:\n$p27")
  }

  test("q129-q133: the eval scalars stay on class-sized joins and " +
    "query-partitioned windows — no cartesian anywhere") {
    // kappa: the sample vote (broadcast) + two CLASS-sized grouped frames
    // joined on class + the 1×1 scalar join — nothing may plan cartesian
    assert(!plan("q129_cohens_kappa").contains("CartesianProduct"))
    // AUC's global rank window is the documented eval contract; the rest
    // of the plan must stay join-free
    val p30 = plan("q130_roc_auc")
    assert(!p30.contains("Join") && !p30.contains("CartesianProduct"), p30)
    // ndcg: both windows partition by q_id — no global (empty-key) window
    val p33 = plan("q133_ndcg")
    assert(!p33.contains("CartesianProduct"), p33)
    assert(!"windowspecdefinition\\(\\s*cast".r.findFirstIn(p33).isDefined,
      s"q133 window lost its q_id partition key:\n$p33")
  }

  test("q131/q132/q134: the binned and spectrum aggregations are pure " +
    "two-level hash aggs — partial combine, no join, no window") {
    Seq("q131_calibration", "q132_ece", "q134_zipf").foreach { k =>
      val p = plan(k)
      assert(p.contains("Partial") || p.contains("partial_"), s"$k:\n$p")
      assert(!p.contains("Join") && !p.contains("CartesianProduct") &&
        !p.contains("Window"), s"$k:\n$p")
    }
  }

  test("q135-q137: tau pairs stay broadcast, PMI's top-k is TakeOrdered " +
    "over vocabulary-sized joins, the growth window is bucket-sized") {
    // τ's i<j pair join broadcasts the sample side — BNLJ by the eval
    // contract, never an unbroadcast CartesianProduct
    val p35 = plan("q135_kendall")
    assert(p35.contains("BroadcastNestedLoopJoin"), p35)
    assert(!p35.contains("CartesianProduct"), p35)
    // PMI: count-frame equi-joins + TakeOrdered — no cartesian, no window
    val p36 = plan("q136_pmi")
    assert(p36.contains("TakeOrdered"), p36)
    assert(!p36.contains("CartesianProduct") && !p36.contains("Window"), p36)
    // growth: the only window is the bucket-frame cumsum; aggregation
    // below it keeps map-side partial combine
    val p37 = plan("q137_vocab_growth")
    assert(p37.contains("Partial") || p37.contains("partial_"), p37)
    assert(!p37.contains("CartesianProduct") && !p37.contains("Join")
      || p37.contains("SortMergeJoin") || p37.contains("BroadcastHashJoin"),
      p37)
  }

  test("q138-q140: threshold chains aggregate before their windows; " +
    "RBO is one equi-join over two top-k lists") {
    // pr-curve/AP: the ordered window sits ABOVE the distinct-score
    // aggregation (threshold-sized), with partial combine underneath
    Seq("q138_pr_curve", "q139_avg_precision").foreach { k =>
      val p = plan(k)
      assert(p.contains("Partial") || p.contains("partial_"), s"$k:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k:\n$p")
    }
    // rbo: the doc-id join is an equi-join (hash/sort), never cartesian;
    // both rankers keep their TakeOrdered top-k shape
    val p40 = plan("q140_rbo")
    assert(!p40.contains("CartesianProduct"), p40)
    assert(p40.contains("TakeOrdered"), p40)
  }

  test("no CollectLimit-to-driver in any declared aggregate query") {
    // collect()-shaped operators in a declared plan would mean driver-side
    // data movement; the only driver scalars allowed are in q06/q33's
    // literal lookup, which happens at plan-build time, not in the plan.
    Seq("q01_distinct_users", "q02_requests_per_user", "q15_totals_row",
      "q20_near_dedup", "q30_centroids").foreach { k =>
      assert(!plan(k).contains("CollectLimitExec"), s"$k collects to driver")
    }
  }

  test("q145: the PageRank round is equi-joins + hash aggregates — no " +
    "cartesian even with broadcast off (the 1-row dangling frame is " +
    "the only nested-loop, and it is explicitly broadcast)") {
    // the per-iteration frames are materialized (lineage cuts), so the
    // declared query's final plan is a checkpoint scan — pin the ROUND
    // itself, the q37 componentsStep precedent
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      val deg = e.groupBy("src")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("outdeg"))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val ranks = nodes.withColumn("r",
        org.apache.spark.sql.functions.lit(1.0 / 3))
      val p = graft.ext.GraphOps
        .pageRankStep(e, deg, nodes, ranks, 3.0, 0.85)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"pagerank went all-pairs:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("HashAggregate"), p)
      // exactly one nested loop: the broadcast 1-row dangling scalar
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q151/q152: vector preprocessing applies as a narrow projection — " +
    "zero exchanges before the output sort") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sfDir, "embeddings")
    val std = graft.ext.VectorOps.standardize(emb, "embedding",
      graft.ext.VectorOps.dimStats(emb, "embedding"))
    val pStd = std.queryExecution.executedPlan.toString
    assert(!pStd.contains("Exchange"), s"standardize apply shuffles:\n$pStd")
    val proj = graft.ext.VectorOps.randomProject(emb, "embedding", 64, 8)
    val pProj = proj.queryExecution.executedPlan.toString
    assert(!pProj.contains("Exchange"), s"randomProject shuffles:\n$pProj")
    assert(!pProj.contains("Join"), pProj)
  }

  test("q150: both winsorize shuffles key on the group column — no " +
    "global-partition window, no cartesian") {
    val p = plan("q150_winsorized_mean")
    assert("windowspecdefinition\\(\\s*specifiedwindowframe".r
      .findFirstIn(p).isEmpty, s"window lost its group key:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q153: the keyword rank window partitions by document; corpus " +
    "count rides a broadcast 1-row frame") {
    val p = plan("q153_keywords")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the 1-row N frame
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("q155: the triangle enumeration is equi-joins only, even with " +
    "broadcast off — wedge join on the middle node, closure on the " +
    "outer pair") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q155_triangles")
      assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
        s"triangle join went all-pairs:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q147/q148: trend and autocorr are one hash aggregate per group " +
    "(+ the window pass for autocorr) — no join anywhere") {
    Seq("q147_trend", "q148_autocorr").foreach { k =>
      val p = plan(k)
      assert(!p.contains("Join"), s"$k grew a join:\n$p")
      assert(p.contains("HashAggregate"), s"$k:\n$p")
    }
  }

  test("q163/q164/q168: attribution windows stay user-keyed, the " +
    "weighted sample is TakeOrdered, the rolling-active fan-out never " +
    "self-joins the raw events") {
    val p163 = plan("q163_attribution")
    assert("windowspecdefinition\\(\\s*specifiedwindowframe".r
      .findFirstIn(p163).isEmpty, s"attribution window lost its key:\n$p163")
    assert(!p163.contains("CartesianProduct"), p163)
    val p164 = plan("q164_weighted_sample")
    assert(p164.contains("TakeOrdered"), p164)
    assert(!p164.contains("Join"), p164)
    val p168 = plan("q168_rolling_active")
    assert(!p168.contains("CartesianProduct")
      && !p168.contains("BroadcastNestedLoopJoin"),
      s"rolling actives degenerated to all-pairs:\n$p168")
    assert(p168.contains("Generate"), s"fan-out explode missing:\n$p168")
  }

  test("q171/q172: the inverted-feature and basket self-joins stay " +
    "equi-keyed — no cartesian even with broadcast off") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq("q171_similar_users", "q172_assoc_rules").foreach { k =>
        val p = plan(k)
        assert(!p.contains("CartesianProduct"),
          s"$k degenerated to all-pairs:\n$p")
        assert(p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin"), s"$k:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q166/q170: chi-squared densification is category-sized — the " +
    "only nested-loop is the margins cross join (R×C), the 1-row " +
    "totals broadcast; q169 readability is a pure narrow projection") {
    Seq("q166_chi2_independence", "q170_term_homogeneity").foreach { k =>
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k:\n$p")
      assert(p.contains("HashAggregate"), s"$k:\n$p")
    }
    val p169 = plan("q169_readability")
    assert(!p169.contains("Exchange") ||
      "Exchange ".r.findAllIn(p169).size == 1, // only the output sort
      s"readability shuffled beyond the output sort:\n$p169")
    assert(!p169.contains("Join"), p169)
  }

  test("q205/q208/q209: the new join families stay equi-keyed — no " +
    "cartesian even with broadcast off") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq("q205_span_novelty", "q208_containment",
        "q209_cross_corr").foreach { k =>
        val p = plan(k)
        assert(!p.contains("CartesianProduct"),
          s"$k degenerated to all-pairs:\n$p")
        assert(p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin"), s"$k:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q203: the bootstrap's only unpartitioned window rides the B-row " +
    "replicate aggregate, never data rows") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val exec: SparkPlan = SparkEntry.queries("q203_bootstrap_ci")(
      spark, sfDir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val ws = exec.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(ws.nonEmpty, "expected the replicate-ranking window")
    ws.foreach { w =>
      assert(w.collectFirst { case agg: BaseAggregateExec => agg }.isDefined,
        s"window input is not the replicate aggregate:\n$w")
    }
  }

  test("q128/q140: the dense ranker's top-20 is TakeOrdered and every " +
    "unpartitioned window rides a bounded (TakeOrdered) input — no " +
    "corpus-wide single-partition ranking sort") {
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def exec(key: String): SparkPlan =
      SparkEntry.queries(key)(spark, sfDir)
        .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    Seq("q128_rrf_fusion", "q140_rbo").foreach { k =>
      val p = exec(k)
      assert(p.collectFirst {
        case t: TakeOrderedAndProjectExec => t }.isDefined, s"$k:\n$p")
      // every row_number window with an empty PARTITION BY must sit over
      // a TakeOrdered (k-row) subtree, never the raw corpus scan
      p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          assert(w.collectFirst {
            case t: TakeOrderedAndProjectExec => t }.isDefined,
            s"$k has a data-sized unpartitioned window:\n$w")
        }
    }
  }

  test("q224 HITS: top-k is TakeOrdered, rounds are equi-joins with no " +
    "cartesian, even with broadcast disabled") {
    // at 100 TB neither the edge list nor the score frames broadcast;
    // each half-round must stay a shuffled equi-join + hash aggregate
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q224_hits")
      assert(p.contains("TakeOrderedAndProject"), p)
      assert(!p.contains("CartesianProduct"), p)
      // the only nested-loop is the 1-row total fan-in
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnl <= 1, s"unexpected nested loops ($bnl):\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("q221/q222 CMS: the sketch side broadcasts into the estimate " +
    "join; the top-10 pick is TakeOrdered") {
    Seq("q221_cms_estimate", "q222_cms_merge").foreach { k =>
      val p = plan(k)
      assert(p.contains("TakeOrderedAndProject"), s"$k:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$k:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k:\n$p")
    }
  }

  test("q229 rolling HLL: the shuffle carries day-sized sketches — no " +
    "user-day fan-out, no global window") {
    val p = plan("q229_rolling_hll")
    assert(p.contains("hll_sketch_agg"), p)
    // the fan-out explode must sit ABOVE the per-day sketch aggregate
    // (day-sized input), which the plan shows as generate-over-agg
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q231/q232 omnibus tests: one data shuffle into a group/value " +
    "frame, no data-sized unpartitioned window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def exec(key: String) =
      SparkEntry.queries(key)(spark, sfDir)
        .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    // q231 has no window at all; q232's one unpartitioned window must
    // read from an aggregated (distinct-value) subtree, i.e. there is
    // an Exchange between it and any scan
    assert(exec("q231_anova").collect {
      case w: WindowExec => w }.isEmpty, "ANOVA must be window-free")
    exec("q232_kruskal_wallis").collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.foreach { w =>
      assert(w.collectFirst { case s: ShuffleExchangeExec => s }.isDefined,
        s"the KW window must sit over the aggregated value frame:\n$w")
    }
  }

  test("q267/q269/q279: the audit/moment aggregates are window-free " +
    "and never cartesian") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("q267_k_anonymity", "q269_jarque_bera", "q279_dispersion")
      .foreach { k =>
        val e = SparkEntry.queries(k)(spark, sfDir)
          .queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        assert(e.collect { case w: WindowExec => w }.isEmpty,
          s"$k must be window-free")
        assert(!e.toString.contains("CartesianProduct"), k)
      }
  }

  test("q273 modularity: equi-joins only, no cartesian, even with " +
    "broadcast disabled") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the 1-row totals fan-in (crossJoin of broadcast aggregates) is
    // the documented exception — data-sized joins must stay equi
    try {
      val p = plan("q273_modularity")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p)
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q274 rouge: JOIN-FREE since the native clip — per-row " +
    "graft_clipped_overlap off the cut token frame, no explode, no " +
    "gram shuffle (r13; the exploded formulation was the sweep's " +
    "slowest entry)") {
    val p = plan("q274_rouge")
    assert(p.contains("graft_clipped_overlap"), p)
    assert(!p.contains("Join"), s"rouge regained a join:\n$p")
    assert(!p.contains("Generate"), s"rouge regained an explode:\n$p")
  }

  test("q277: HLL overlap joins day sketches on the day key — no " +
    "user-keyed shuffle, no data-sized window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val e = SparkEntry.queries("q277_hll_overlap")(spark, sfDir)
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(e.collect { case w: WindowExec => w }.isEmpty)
    assert(!e.toString.contains("CartesianProduct"))
  }

  test("q27: simhash bucketing stays at the 12-bit-chunk operating " +
    "point (4 chunks; no 6-bit chunking sneaking back)") {
    val p = plan("q27_simhash_neardup")
    // 4 chunks of 12 bits → shifts 0/12/24/36; the quadratic 8×6-bit
    // point the 10x run DNF'd on had shifts up to 42
    assert(p.contains("36)"), "expected the 4th 12-bit chunk shift")
    assert(!p.contains("42)"), "6-bit chunking (shift 42) must not return")
    assert(!p.contains("CartesianProduct"))
  }

  test("q342: the frame sample is one narrow pass — the only exchange " +
    "is the output-order sort, no join, and the scan reads only doc_id") {
    val p = plan("q342_frame_sample")
    // MapPartitions (decode) → Generate (explode) are narrow; the single
    // Exchange is the rangepartitioning the deterministic dump order
    // needs, nothing upstream of it shuffles
    assert("Exchange".r.findAllIn(p).size == 1,
      "frame sampling itself must not shuffle")
    assert(p.contains("rangepartitioning"),
      "the one exchange is the output sort")
    assert(!p.contains("Join"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      "payload synthesis needs only doc_id — text must be pruned")
  }

  test("q345/q349: the funnel census reads only the text column and " +
    "the cumulative window runs over the rules-sized frame (its input " +
    "is the rules LocalTableScan join, behind the census aggregate)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE wraps the executed plan in opaque stages — pin the static
    // shape instead (the contract is planner-level, not runtime-level)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (key <- Seq("q345_filter_funnel", "q349_funnel_merge")) {
      val e = SparkEntry.queries(key)(spark, sfDir)
        .queryExecution.executedPlan
      val p = e.toString
      // q345 needs only text; q349's shard split also reads doc_id —
      // either way, nothing beyond the rule inputs reaches the scan
      val expected =
        if (key.startsWith("q349")) "struct<doc_id:bigint,text:string>"
        else "struct<text:string>"
      assert(p.contains(s"ReadSchema: $expected"),
        s"$key: scan must read only the rule inputs")
      assert(!p.contains("CartesianProduct"), key)
      val windows = e.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$key: cumulative window expected")
      windows.foreach { w =>
        // the window's direct input is the rules frame joined to the
        // (already-aggregated) census — the corpus only ever reaches it
        // through a HashAggregate, never as raw rows
        assert(w.child.toString.contains("LocalTableScan"),
          s"$key: window must sit on the rules-sized frame")
        assert(w.child.toString.contains("HashAggregate"),
          s"$key: the corpus side must be aggregated before the window")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q350: the soft-dedup index lookup stays a hash-joinable " +
    "equi-join even with broadcast disabled (at 100 TB neither the " +
    "batch nor a web-scale count index is broadcastable)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q350_soft_dedup_indexed")
      assert(!p.contains("CartesianProduct"))
      // the null-safe <=> key lookup must never degrade to a nested
      // loop; the only BNLJ allowed is the established 1-row scalar-cut
      // attach (Cross BuildRight over a 1-row aggregate)
      assert(!p.contains("BroadcastNestedLoopJoin LeftOuter"),
        "the null-safe key lookup must stay a hash-joinable equi-join")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "with broadcast off the lookup must become a shuffled equi-join")
    } finally spark.conf
      .set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q351: the threshold table rides the batch as a broadcast") {
    val p = plan("q351_ccnet_indexed")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q356/q358: the Gaussian release is one hash aggregate + a " +
    "noise projection — no join, no window; the seeded probit stays a " +
    "scalar expression over the group frame") {
    for (key <- Seq("q356_dp_gaussian", "q358_dp_gaussian_merge")) {
      val p = plan(key)
      assert(!p.contains("Join"), s"$key: the release must not join")
      assert(!p.contains("Window"), s"$key: no window — noise is a " +
        "per-group projection, not a rank")
      assert(p.contains("HashAggregate"),
        s"$key: the census must be a hash aggregate (map-side partial)")
    }
  }

  test("q157: linkage candidates come from the UNION of the name and " +
    "balance-band blocks — never a nation-only join") {
    val p = plan("q157_record_linkage")
    assert(p.contains("Union"))
    assert(p.toLowerCase.contains("a_name"), "name-block join missing")
    assert(p.contains("_band"), "balance-band block join missing")
    assert(!p.contains("CartesianProduct"))
    // the old quadratic shape: a join whose ONLY key was the nation —
    // every remaining nation reference must ride one of the two blocks
    val nationOnlyJoin =
      "BroadcastHashJoin \\[a_nat[^,\\]]*\\], \\[b_nat[^,\\]]*\\]".r
    assert(nationOnlyJoin.findFirstIn(p).isEmpty,
      "nation-only equi-join must not return")
  }
}
