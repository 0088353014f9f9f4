package graft.ext

import graft.GraftSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends GraftSpec {
  import spark.implicits._

  private lazy val docs = (1L to 100L)
    .map(i => (i, s"document number $i body", if (i % 2 == 0) "en" else "es"))
    .toDF("doc_id", "text", "lang")

  test("hashSample: deterministic, repartition-stable, pure filter") {
    val a = Sampling.hashSample(docs, col("text"), "80")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs.repartition(7), col("text"), "80")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)                       // stable under repartitioning
    assert(a.nonEmpty && a.size < 100)   // ceil "80" keeps ≈ half
    // no shuffle: the sample is a filter over the scan
    val p = Sampling.hashSample(docs, col("text"), "80")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"))
  }

  test("stratifiedTake: exactly k per stratum, rank order stable") {
    val taken = Sampling.stratifiedTake(docs, "lang", col("text"), "doc_id", 5)
      .select($"lang", $"doc_id", $"rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(taken.count(_._1 == "en") == 5 && taken.count(_._1 == "es") == 5)
    assert(taken.filter(_._1 == "en").map(_._3).sorted.sameElements(1L to 5L))
    // same quota on a reshuffled input → identical selection
    val again = Sampling.stratifiedTake(docs.repartition(13), "lang",
        col("text"), "doc_id", 5)
      .select($"lang", $"doc_id", $"rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(taken.toSet == again.toSet)
  }

  test("stratifiedTake: bucketed two-level rank == single-window rank, exactly") {
    val real = graft.Tables(spark, "/root/testdata/sf0.01", "documents")
    def rows(buckets: Int) = Sampling
      .stratifiedTake(real, "source", col("text"), "doc_id", 25, buckets)
      .select($"source", $"doc_id", $"rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(8) == rows(1)) // incl. the rk values, not just membership
  }

  test("perKeyTokenBudget: hash-order prefix per stratum, inclusive boundary") {
    // weights chosen so the hash order per stratum is observable: budget
    // cuts mid-stratum, boundary row whose cum == budget is KEPT
    val df = (1L to 20L)
      .map(i => (i, s"tok doc $i", if (i <= 10) "big" else "small", 100L))
      .toDF("doc_id", "text", "source", "w")
    val kept = Sampling.perKeyTokenBudget(df, "source", col("text"),
      "doc_id", col("w"), budget = 400L)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // both strata total 1000 > 400: each keeps exactly 4 rows (4×100=400,
    // the inclusive boundary)
    assert(bySrc == Map("big" -> 4L, "small" -> 4L))
    // and the kept rows are the hash-order prefix — recompute naively
    val naive = df.withColumn("_h", md5(col("text").cast("binary")))
      .withColumn("_cum", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("_h").asc, col("doc_id").asc)
          .rowsBetween(Long.MinValue, 0)))
      .filter(col("_cum") <= 400L).select("doc_id")
      .as[Long].collect().toSet
    assert(kept.select("doc_id").as[Long].collect().toSet == naive)
  }

  test("perKeyTokenBudget: under-budget strata pass through whole; " +
    "giant first doc yields nothing; NULL weight costs 0; NULL stratum is budgeted") {
    // md5 order within each stratum is pinned by the fixed texts:
    // giant: "g1" < "g2"; null stratum: "n2" < "n1"; nw: "z8" < "z7"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.LongType)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "a1", "under", 50L),
      org.apache.spark.sql.Row(2L, "a2", "under", 50L),   // total 100 <= 400
      org.apache.spark.sql.Row(3L, "g1", "giant", 9999L), // sorts first, never fits
      org.apache.spark.sql.Row(4L, "g2", "giant", 1L),    // behind g1: prefix 10000
      org.apache.spark.sql.Row(5L, "n1", null, 300L),     // NULL stratum: 600 > 400
      org.apache.spark.sql.Row(6L, "n2", null, 300L),     // "n2" sorts first → kept
      org.apache.spark.sql.Row(7L, "z8", "nw", null),     // NULL w, sorts first
      org.apache.spark.sql.Row(8L, "z7", "nw", 500L))     // pushes nw over budget
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val kept = Sampling.perKeyTokenBudget(df, "source", col("text"),
      "doc_id", col("w"), budget = 400L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.intersect(Set(1L, 2L)) == Set(1L, 2L)) // pass-through whole
    // giant: first doc alone exceeds the budget — the stratum yields
    // NOTHING (inclusive-boundary contract), loudly, not silently over
    assert(kept.intersect(Set(3L, 4L)).isEmpty)
    // NULL stratum is cut to its 400-budget prefix, not passed through
    assert(kept.intersect(Set(5L, 6L)) == Set(6L))
    // a LEADING NULL weight costs 0 and must not poison the running sum
    // into NULL (dropped): doc 7 is kept, doc 8 (cum 500) is cut
    assert(kept.contains(7L) && !kept.contains(8L))
  }

  test("perKeyTokenBudget: all-under-budget corpus is the identity") {
    val df = (1L to 30L).map(i => (i, s"d$i", s"s${i % 5}", 10L))
      .toDF("doc_id", "text", "source", "w")
    val kept = Sampling.perKeyTokenBudget(df, "source", col("text"),
      "doc_id", col("w"), budget = 1000L)
    assert(kept.select("doc_id").as[Long].collect().toSet == (1L to 30L).toSet)
  }

  test("hashSplit: total, disjoint, repartition-stable; duplicates never straddle") {
    val twin = docs.unionAll(docs) // every text twice
    val split = Sampling.hashSplit(twin, col("text"),
      Seq("train", "val", "test"), Seq("cc", "e6"))
    // total: every row gets exactly one label; pure projection
    assert(split.filter(col("split").isNull).count() == 0)
    assert(!split.queryExecution.executedPlan.toString.contains("Exchange"))
    val byLabel = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") > byLabel("val") + byLabel("test")) // ≈ 80/10/10
    // same-content rows always land in the same split
    val leaks = split.groupBy("text")
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count()
    assert(leaks == 0)
    // stable under repartitioning
    val again = Sampling.hashSplit(twin.repartition(9), col("text"),
      Seq("train", "val", "test"), Seq("cc", "e6"))
    assert(split.select("doc_id", "split").exceptAll(
      again.select("doc_id", "split")).isEmpty)
  }

  test("shuffleKey: one deterministic permutation per salt, independent of partitioning") {
    def order(df: org.apache.spark.sql.DataFrame, salt: String): Seq[Long] =
      df.orderBy(Sampling.shuffleKey(col("doc_id"), salt))
        .select("doc_id").as[Long].collect().toSeq
    val order1 = order(docs, "epoch1")
    assert(order(docs.repartition(11), "epoch1") == order1)
    val order2 = order(docs, "epoch2")
    assert(order1 != order2)
    assert(order1.sorted == order2.sorted) // same corpus, different order
  }

  test("pack: offsets are per-shard prefix sums; bins chunk the stream") {
    val r = Packing.pack(docs, "doc_id", size(TextOps.tokens(col("text"))),
        contextLen = 10L, shards = 2)
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("shard"), x.getAs[Long]("n_tokens"),
          x.getAs[Long]("tok_offset"), x.getAs[Long]("bin")))
      .toMap
    // every doc is "document number N body" → 4 tokens
    assert(r.values.forall(_._2 == 4L))
    // shard 0 = even ids ordered 2,4,6,…: offsets 0,4,8,…
    assert(r(2L) == (0L, 4L, 0L, 0L))
    assert(r(4L) == (0L, 4L, 4L, 0L))
    assert(r(6L) == (0L, 4L, 8L, 0L))   // starts inside bin 0 (8 < 10)
    assert(r(8L) == (0L, 4L, 12L, 1L))  // next context window
    // shard 1 = odd ids 1,3,5,…
    assert(r(1L) == (1L, 4L, 0L, 0L))
    assert(r(3L) == (1L, 4L, 4L, 0L))
  }

  test("pack: string doc ids hash-shard across shards, not one null shard") {
    // pmod on a string id would cast to null (every row in ONE serial
    // window partition) or throw under ANSI — string ids must hash-shard
    val docs = (1 to 40).map(i => (s"doc-$i", "four short tokens here"))
      .toDF("doc_id", "text")
    val r = Packing.pack(docs, "doc_id", size(TextOps.tokens(col("text"))),
        contextLen = 10L, shards = 4)
      .select("doc_id", "shard").collect()
      .map(x => x.getString(0) -> x.getLong(1))
    assert(r.forall { case (_, s) => s >= 0L && s < 4L })
    assert(r.map(_._2).distinct.length > 1, "all rows landed in one shard")
    // deterministic: same ids → same shards on re-run
    val again = Packing.pack(docs.repartition(7), "doc_id",
        size(TextOps.tokens(col("text"))), contextLen = 10L, shards = 4)
      .select("doc_id", "shard").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.toMap == again)
  }

  test("padBatches: length-sorted runs minimize padding; pad is the gap " +
    "to the batch max; repartition-stable") {
    // one shard, lengths 1..8 tokens, batchSize 4: sorted runs are
    // {1,2,3,4} (max 4) and {5,6,7,8} (max 8)
    val docs = (1L to 8L)
      .map(i => (i, (1L to i).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Packing.padBatches(docs, "doc_id",
        size(TextOps.tokens(col("text"))), batchSize = 4, shards = 1)
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("batch"), x.getAs[Long]("n_tokens"),
          x.getAs[Long]("pad")))).toMap
    (1L to 4L).foreach(i => assert(r(i) == ((0L, i, 4L - i)), s"doc $i"))
    (5L to 8L).foreach(i => assert(r(i) == ((1L, i, 8L - i)), s"doc $i"))
    // total padding 6+6=12; the unsorted id-order batching of the same
    // lengths would alternate short/long and pay more — the sort IS the
    // optimization (here: id order == length order, so construct the
    // adversarial order by reversing half)
    assert(r.values.map(_._3).sum == 12L)

    // repartition-stable (window order is total)
    val again = Packing.padBatches(docs.repartition(5), "doc_id",
        size(TextOps.tokens(col("text"))), batchSize = 4, shards = 1)
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("batch"), x.getAs[Long]("n_tokens"),
          x.getAs[Long]("pad")))).toMap
    assert(again == r)

    // a ragged tail batch pads to ITS max, not the global one
    val ragged = Packing.padBatches(docs.filter($"doc_id" <= 6L), "doc_id",
        size(TextOps.tokens(col("text"))), batchSize = 4, shards = 1)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        x.getAs[Long]("pad")).toMap
    assert(ragged(5L) == 1L && ragged(6L) == 0L) // tail {5,6}, max 6
  }

  test("mixtureSample: rate boundaries, default rate, and subset monotonicity") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    def kept(rates: Map[String, Double], dflt: Double): Set[Long] =
      Sampling.mixtureSample(docs, "source", col("text"), rates, dflt)
        .select("doc_id").as[Long].collect().toSet

    // rate 1 keeps the whole stratum, rate 0 drops it, default applies
    // to unlisted strata
    val all = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val k1 = kept(Map("src0" -> 1.0, "src1" -> 0.0), 0.5)
    assert(all.filter(_._2 == "src0").map(_._1).toSet.subsetOf(k1))
    assert(!k1.exists(id => all.exists(x => x._1 == id && x._2 == "src1")))

    // raising a rate only ADDS rows (kept set is a hash-order prefix per
    // stratum) — the incremental-rebuild property
    val lo = kept(Map("src2" -> 0.2), 0.0)
    val hi = kept(Map("src2" -> 0.6), 0.0)
    assert(lo.subsetOf(hi))
    assert(lo.size < hi.size)

    // deterministic across repartition
    assert(kept(Map("src2" -> 0.6), 0.0)
      == Sampling.mixtureSample(docs.repartition(7), "source", col("text"),
          Map("src2" -> 0.6), 0.0)
        .select("doc_id").as[Long].collect().toSet)

    // a NULL key is un-sampleable at EVERY rate, including 1.0 — keeping
    // it at rate 1 would break subset-monotonicity at exactly that point
    val withNull = Seq((900L, "src0", null.asInstanceOf[String]),
        (901L, "src0", "real text"))
      .toDF("doc_id", "source", "text")
    val keptNull = Sampling.mixtureSample(withNull, "source", col("text"),
        Map("src0" -> 1.0), 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(keptNull == Set(901L))
  }

  test("group-keyed hashSplit: no source straddles a split boundary") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val assigned = Sampling.hashSplit(docs, col("source"),
      Seq("train", "val", "test"), Seq("cc", "e6"))
    val perSource = assigned.groupBy("source")
      .agg(countDistinct(col("split")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(perSource.nonEmpty && perSource.forall(_._2 == 1L),
      s"sources straddling splits: ${perSource.filter(_._2 != 1L).toSeq}")
    // and the split is a pure function of the source value
    val bySource = assigned.select("source", "split").distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val again = Sampling.hashSplit(docs.repartition(5), col("source"),
      Seq("train", "val", "test"), Seq("cc", "e6"))
      .select("source", "split").distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bySource == again)
  }

  test("temperatureRates: alpha=1 is the uniform corpus rate, lower " +
    "alpha up-weights tails, rates cap at 1, empties drop") {
    val counts = Map("big" -> 900L, "mid" -> 90L, "tiny" -> 10L,
      "empty" -> 0L)
    // α = 1: every stratum samples at exactly target/total — the
    // proportional mixture is one shared rate
    val prop = Sampling.temperatureRates(counts, alpha = 1.0, target = 100L)
    assert(prop.keySet == Set("big", "mid", "tiny"))
    assert(prop.values.toSet == Set(0.1), prop)
    // α < 1 flattens: the tail's rate rises, the head's falls, and the
    // up-sampling cap holds at 1.0
    val flat = Sampling.temperatureRates(counts, alpha = 0.3, target = 500L)
    assert(flat("tiny") == 1.0, flat) // capped — never duplicates
    assert(flat("big") < 0.5 && flat("big") > 0.0, flat)
    assert(flat("tiny") >= flat("mid") && flat("mid") >= flat("big"), flat)
    // every rate lands in [0, 1] after 6-dp rounding
    flat.values.foreach(r => assert(r >= 0.0 && r <= 1.0))
    intercept[IllegalArgumentException] {
      Sampling.temperatureRates(counts, alpha = 0.0, target = 10L)
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureRates(counts, alpha = 0.7, target = 0L)
    }
  }

  test("temperatureRates compose with mixtureSample: kept sets are the " +
    "per-stratum hash prefixes at the computed rates") {
    val docs = (0 until 60).map(i =>
      (i.toLong, if (i < 50) "big" else "small", s"doc text $i"))
      .toDF("doc_id", "source", "text")
    val counts = Map("big" -> 50L, "small" -> 10L)
    val rates = Sampling.temperatureRates(counts, alpha = 0.5, target = 20L)
    val kept = Sampling.mixtureSample(docs, "source", col("text"), rates)
      .collect().map(_.getLong(0)).toSet
    // reference: same hash-prefix rule per row
    val expected = docs.select(col("doc_id"), col("source"),
        substring(md5(col("text").cast("binary")), 1, 8).as("h"))
      .collect().filter { r =>
        val rate = rates(r.getString(1))
        rate >= 1.0 ||
          (rate > 0.0 && r.getString(2) <
            f"${math.floor(rate * 4294967296.0).toLong}%08x")
      }.map(_.getLong(0)).toSet
    assert(kept == expected)
  }

  test("temperatureRatesFrame law: the collect-free frame form equals " +
    "the Map form rate-for-rate on the same counts") {
    val rows = (0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 990).map(i => (i.toLong, "mid")) ++
      (990 until 1000).map(i => (i.toLong, "tiny")) ++
      Seq((1000L, null.asInstanceOf[String])) // NULL group drops
    val df = rows.toDF("id", "g")
    Seq((1.0, 100L), (0.3, 500L), (0.7, 250L)).foreach { case (a, tgt) =>
      val frame = Sampling.temperatureRatesFrame(df, "g", a, tgt)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val map = Sampling.temperatureRates(
        Map("big" -> 900L, "mid" -> 90L, "tiny" -> 10L), a, tgt)
      assert(frame == map, s"alpha=$a target=$tgt: $frame vs $map")
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureRatesFrame(df, "g", 0.0, 10L)
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureRatesFrame(df, "g", 0.5, 0L)
    }
  }

  test("weightedTake: reproducible, weight-monotone, salt-sensitive; " +
    "non-positive weights drop; plans as TakeOrdered") {
    val df = (1L to 200L).map(i => (i, (i % 13 + 1).toDouble))
      .toDF("doc_id", "w")
    def take(dfIn: org.apache.spark.sql.DataFrame, salt: String = "es42") =
      Sampling.weightedTake(dfIn, col("w"), "doc_id", k = 20, salt)
    val first = take(df).collect().map(_.getLong(0)).toSeq
    assert(first == take(df.repartition(7)).collect()
      .map(_.getLong(0)).toSeq, "partitioning-invariant")
    assert(first != take(df, salt = "other").collect()
      .map(_.getLong(0)).toSeq, "salt changes the draw")
    // monotone: boosting an absent row's weight massively pulls it in
    val out = first.toSet
    val absent = (1L to 200L).find(!out.contains(_)).get
    val boosted = df.withColumn("w",
      when(col("doc_id") === absent, lit(1.0e6)).otherwise(col("w")))
    assert(take(boosted).collect().map(_.getLong(0)).contains(absent))
    // zero weights never sampled
    val zeroed = df.withColumn("w",
      when(col("doc_id") <= 100L, lit(0.0)).otherwise(col("w")))
    assert(take(zeroed).collect().forall(_.getLong(0) > 100L))
    val plan = take(df).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), plan)
  }

  test("splitLeakage: group-keyed splits audit to zero, row-keyed splits " +
    "count straddling groups; NULL groups drop") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Some(1L), "train"), (Some(1L), "train"), // intact cluster
      (Some(2L), "train"), (Some(2L), "test"), // leaky cluster
      (Some(3L), "test"), (None, "train")
    ).toDF("cluster", "split")
    val audit = Sampling.splitLeakage(df, col("cluster"), col("split"))
      .collect().head
    assert(audit.getLong(0) == 3L && audit.getLong(1) == 1L)
    // a split KEYED on the group can never leak
    val keyed = Sampling.hashSplit(
      Seq(1L, 1L, 2L, 2L, 3L).toDF("cluster"),
      col("cluster").cast("string"), Seq("a", "b"), Seq("80"))
    assert(Sampling.splitLeakage(keyed, col("cluster"), col("split"))
      .collect().head.getLong(1) == 0L)
  }

  test("weightedTakePerGroup: each stratum's winners equal the global " +
    "take restricted to that stratum; NULL groups drop") {
    val df = (0 until 120).map(i =>
      (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c",
        (i % 17 + 1).toDouble))
      .toDF("doc_id", "g", "w")
      .unionByName(Seq((900L, null.asInstanceOf[String], 5.0))
        .toDF("doc_id", "g", "w"))
    val got = Sampling.weightedTakePerGroup(df, "g", col("w"),
      "doc_id", k = 4)
    assert(got.groupBy("g").count().collect()
      .forall(_.getLong(1) == 4L), "exactly k per group")
    Seq("a", "b", "c").foreach { g =>
      val perGroup = Sampling.weightedTake(
        df.filter(col("g") === g), col("w"), "doc_id", k = 4)
        .collect().map(_.getLong(0)).toSet
      val mine = got.filter(col("g") === g)
        .collect().map(_.getLong(0)).toSet
      assert(mine == perGroup, s"stratum $g")
    }
    assert(got.filter(col("g").isNull).count() == 0L)
    intercept[IllegalArgumentException] {
      Sampling.weightedTakePerGroup(df, "g", col("w"), "doc_id", 0)
    }
  }

  test("temporalSplit: the embargo gap separates train's last day " +
    "from test's first; cutoff is the rank-exact day; params " +
    "validated") {
    import org.apache.spark.sql.functions.timestamp_seconds
    // 10 days, one row per day: cutoff = day at rank ceil(8) = day 7
    // (0-indexed), embargo days 8-9... with embargoDays=2: train 0-7,
    // embargo 8-9, test empty → use 12 days so test is non-empty
    val ev = (0 until 12).map(d => d.toLong * 86400L + 10L)
      .toDF("ep").withColumn("ts", timestamp_seconds(col("ep")))
    val got = Sampling.temporalSplit(ev, col("ts"),
        testFraction = 0.25, embargoDays = 2)
      .groupBy("split")
      .agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.floor(
            col("ts").cast("long") / 86400L)).as("lo"),
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.floor(
            col("ts").cast("long") / 86400L)).as("hi"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // cutoff = rank ceil(.75·12) = 9 → day 8 (0-indexed rank 9)
    assert(got("train") == ((0L, 8L)), s"$got")
    assert(got("embargo") == ((9L, 10L)), s"$got")
    assert(got("test") == ((11L, 11L)), s"$got")
    assert(got("test")._1 - got("train")._2 > 2,
      "the embargo must separate the sides")
    intercept[IllegalArgumentException] {
      Sampling.temporalSplit(ev, col("ts"), testFraction = 0.0)
    }
    intercept[IllegalArgumentException] {
      Sampling.temporalSplit(ev, col("ts"), embargoDays = -1)
    }
  }
}
