package graft.ext

import graft.GraftSpec
import graft.functions.TopBigramCount
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Randomized differential tests against driver-side reference
 * implementations (deterministic seeds — the suite never flakes):
 *
 *  - [[Dedup.components]] vs union-find: the distributed min-label
 *    propagation must agree with the textbook sequential algorithm on
 *    arbitrary graphs, not just the hand-picked chains in DedupSpec.
 *  - `graft_top_bigram` vs a naive Scala mode count: the codegen'd
 *    expression must agree with the obvious formulation on arbitrary
 *    token arrays (repeats, singletons, empties).
 */
class FuzzSpec extends GraftSpec {
  import spark.implicits._

  private def cases[T](gen: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(seed + i)))

  test("components agrees with driver-side union-find on random graphs") {
    // total generator (no filters): b derived as a + delta mod nodes, so
    // every seed yields a case — small graphs are fuzzed, none drop
    val graphGen: Gen[Seq[(Long, Long)]] = for {
      nodes <- Gen.chooseNum(2, 40)
      nEdge <- Gen.chooseNum(1, 60)
      edges <- Gen.listOfN(nEdge, for {
        a <- Gen.chooseNum(0L, nodes.toLong - 1)
        d <- Gen.chooseNum(1L, nodes.toLong - 1)
      } yield { val b = (a + d) % nodes; (math.min(a, b), math.max(a, b)) })
    } yield edges

    val graphs = cases(graphGen, 12, seed = 0xC0FFEEL)
    assert(graphs.size == 12) // generation is total — nothing sampled away
    graphs.foreach { edges =>
      // reference: union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap

      val got = Dedup.components(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  test("graft_top_bigram agrees with a naive mode count on random token arrays") {
    val toksGen: Gen[List[String]] = for {
      n <- Gen.chooseNum(0, 30)
      t <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "ab", "x"))
    } yield t

    val all = cases(toksGen, 60, seed = 0xBEEFL)
    val expected = all.map { t =>
      if (t.length < 2) 0L
      else t.sliding(2).toSeq.groupBy(identity).values.map(_.size.toLong).max
    }
    val got = all.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "toks")
      .select($"i", column(TopBigramCount(expression($"toks"))).as("c"))
      .collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    assert(got == expected)
  }

  // arbitrary unicode strings (not just ASCII words) — the native
  // expressions hash raw UTF-8 bytes, so multi-byte code points are the
  // edge their twins must agree on
  private val uniStr: Gen[String] = for {
    n <- Gen.chooseNum(0, 12)
    s <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("é", "ß", "中", "文", "🙂", " ", "\t")))
  } yield s.mkString

  test("graft_minhash agrees with its HOF twin on random unicode shingles") {
    val arrGen: Gen[List[String]] = for {
      n <- Gen.chooseNum(0, 15)
      t <- Gen.listOfN(n, uniStr)
    } yield t
    val all = cases(arrGen, 50, seed = 0x314159L)
    val mismatches = all.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "sh")
      .select(
        Dedup.minhashSignature($"sh", 8).as("native"),
        DedupTwins.minhashSignatureHof($"sh", 8).as("hof"))
      .filter(not($"native" <=> $"hof"))
      .count()
    assert(mismatches == 0)
  }

  test("graft_simhash agrees with the relational twin on random unicode docs") {
    val docGen: Gen[String] = for {
      n <- Gen.chooseNum(0, 10)
      t <- Gen.listOfN(n, uniStr)
    } yield t.mkString(" ")
    val docs = cases(docGen, 50, seed = 0x51AL).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = TextOps.simhash(docs, "doc_id", "text")
    val twin = TextOpsTwins.simhashRelational(docs, "doc_id", "text")
    assert(native.count() == twin.count())
    assert(native.unionAll(twin).distinct().count() == twin.count())
  }

  test("asofBackward agrees with a driver-side scan on random frames") {
    // tiny key/time domains force the edge cases: equal-time ties (both
    // sides), duplicate left rows, keys missing from either side
    val frameGen: Gen[(Seq[(Long, Long, Long)], Seq[(Long, Long, Long)])] =
      for {
        nl <- Gen.chooseNum(1, 25)
        nr <- Gen.chooseNum(0, 25)
        mk = for {
          k <- Gen.chooseNum(0L, 4L)
          t <- Gen.chooseNum(0L, 9L)
          id <- Gen.chooseNum(0L, 99L)
        } yield (id, k, t)
        l <- Gen.listOfN(nl, mk)
        r <- Gen.listOfN(nr, mk)
      } yield (l, r)

    cases(frameGen, 15, seed = 0xA50FL).foreach { case (l, r) =>
      val left = l.toDF("id", "key", "time")
      val right = r.toDF("rid", "rkey", "rtime")
      val got = AsofJoin.asofBackward(left, right, "key", "rkey",
          "time", "rtime", Seq("rid"), "rid")
        .collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
          Option(row.get(3)).map(_.asInstanceOf[Long])))
        .sorted
      val expected = l.map { case (id, k, t) =>
        val m = r.filter { case (_, rk, rt) => rk == k && rt <= t }
          .sortBy { case (rid, _, rt) => (rt, rid) }.lastOption.map(_._1)
        (id, k, t, m)
      }.sorted
      assert(got.toSeq == expected, s"l=$l r=$r")

      val gotF = AsofJoin.asofForward(left, right, "key", "rkey",
          "time", "rtime", Seq("rid"), "rid")
        .collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
          Option(row.get(3)).map(_.asInstanceOf[Long])))
        .sorted
      val expectedF = l.map { case (id, k, t) =>
        // nearest following time; ties at that time to the greatest rid
        val m = r.filter { case (_, rk, rt) => rk == k && rt >= t }
          .sortBy { case (rid, _, rt) => (-rt, rid) }.lastOption.map(_._1)
        (id, k, t, m)
      }.sorted
      assert(gotF.toSeq == expectedF, s"forward: l=$l r=$r")
    }
  }

  test("dedupIncrementalIndexed agrees with the self-contained screen on random corpora") {
    // tiny vocabulary → dense shingle overlap, so every case exercises the
    // exact stage (verbatim repeats), the near stage (borderline Jaccard
    // pairs), and the un-shingleable path (2-word docs). Both overloads run
    // the same screen core on the same deterministic signatures, so their
    // outputs must be EQUAL — no recall caveat applies to this comparison.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val docGen: Gen[String] = for {
      n <- Gen.chooseNum(2, 10)
      w <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield w.mkString(" ")
    val caseGen: Gen[(Seq[(Long, String)], Seq[(Long, String)])] = for {
      nc <- Gen.chooseNum(1, 10)
      nb <- Gen.chooseNum(1, 10)
      cs <- Gen.listOfN(nc, docGen)
      bs <- Gen.listOfN(nb, docGen)
    } yield (
      cs.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      bs.zipWithIndex.map { case (t, i) => (100L + i, t) })

    cases(caseGen, 5, seed = 0xDED0L).foreach { case (c, b) =>
      val corpus = c.toDF("doc_id", "text")
      val batch = b.toDF("doc_id", "text")
      val index = Dedup.buildDedupIndex(corpus, "doc_id", "text")
      val r = Dedup.dedupIncrementalIndexed(batch, index, "doc_id", "text",
        threshold = 0.5)
      val viaIndex = r.accepted.select("doc_id").as[Long].collect().sorted.toSeq
      val selfContained = Dedup
        .dedupIncremental(batch, corpus, "doc_id", "text", threshold = 0.5)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(viaIndex == selfContained, s"corpus=$c batch=$b")
      // the append loop can never drift from a from-scratch rebuild
      assert(DedupIndexRows(index) ++ DedupIndexRows(r.indexAppend) ==
        DedupIndexRows(Dedup.buildDedupIndex(
          corpus.unionAll(r.accepted), "doc_id", "text")),
        s"index drift: corpus=$c batch=$b")
    }
  }

  test("pointInRange agrees with the naive filter on random intervals, " +
    "negatives included") {
    val caseGen: Gen[(Seq[Double], Seq[(Long, Double, Double)])] = for {
      np <- Gen.chooseNum(1, 30)
      nr <- Gen.chooseNum(1, 10)
      ps <- Gen.listOfN(np, Gen.chooseNum(-120, 120).map(_ / 4.0))
      rs <- Gen.listOfN(nr, for {
        lo <- Gen.chooseNum(-120, 120).map(_ / 4.0)
        len <- Gen.chooseNum(0, 80).map(_ / 4.0)
      } yield (lo, lo + len))
    } yield (ps, rs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) })

    cases(caseGen, 12, seed = 0x4A11L).foreach { case (ps, rs) =>
      val points = ps.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("pid", "v")
      val ranges = rs.toDF("rid", "lo", "hi")
      val got = RangeJoin.pointInRange(points, "v", ranges, "lo", "hi", 7.0)
        .select($"pid", $"rid").as[(Long, Long)].collect().sorted.toSeq
      val expected = ps.zipWithIndex.flatMap { case (v, i) =>
        rs.filter { case (_, lo, hi) => v >= lo && v < hi }
          .map(r => (i.toLong, r._1))
      }.sorted
      assert(got == expected, s"ps=$ps rs=$rs")
    }
  }

  test("graft_ivf_cells agrees with the unrolled twin on adversarial vectors " +
    "(zero norms, NaN, length mismatch, null elements, duplicate centroids)") {
    val dim = 4
    def jnorm(v: Seq[Float]): Double = {
      var a = 0.0; v.foreach(x => a += x.toDouble * x.toDouble); math.sqrt(a)
    }
    // centroid sets: ordinary values plus exact-zero vectors (zero c_norm →
    // NULL dist for every input) and, on even sizes, a duplicated vector
    // under two cell ids (pure tie — must break to the lower cell)
    val centGen: Gen[Seq[(Long, Seq[Float], Double)]] = for {
      k <- Gen.chooseNum(1, 6)
      vs <- Gen.listOfN(k, Gen.listOfN(dim,
        Gen.frequency(9 -> Gen.chooseNum(-50, 50).map(_ / 10.0f),
          1 -> Gen.const(0.0f))))
    } yield {
      val tied = if (k >= 2 && k % 2 == 0) vs.init :+ vs.head else vs
      tied.zipWithIndex.map { case (v, i) =>
        (i.toLong * 3 + 1, v.toSeq, jnorm(v.toSeq)) }
    }
    // vectors: ordinary, all-zero (zero norm), NaN-bearing, wrong length,
    // null-element — every class the expression's null/NaN rules cover.
    // Whole-NULL embeddings are excluded: native NULL-cell vs the unrolled
    // lowest-cell there is the one documented deliberate divergence.
    val elemGen: Gen[Option[Float]] = Gen.frequency(
      12 -> Gen.chooseNum(-50, 50).map(x => Some(x / 10.0f)),
      2 -> Gen.const(Some(0.0f)),
      1 -> Gen.const(Some(Float.NaN)),
      1 -> Gen.const(Option.empty[Float]))
    val vecGen: Gen[Seq[Option[Float]]] = for {
      n <- Gen.frequency(8 -> Gen.const(dim), 1 -> Gen.const(dim - 1),
        1 -> Gen.const(dim + 1))
      v <- Gen.listOfN(n, elemGen)
    } yield v

    val caseGen = for {
      cents <- centGen
      nv <- Gen.chooseNum(3, 12)
      vecs <- Gen.listOfN(nv, vecGen)
    } yield (cents, vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) })

    cases(caseGen, 10, seed = 0x1FFC3115L).foreach { case (cents, vecs) =>
      val corpus = vecs.toDF("vec_id", "embedding")
      val centroids = cents.toDF("cell", "centroid", "c_norm")
      val nprobe = math.min(2, cents.size)
      val ref = corpus.select(col("vec_id"),
          AnnIvfTwins.nearestCellsUnrolled(col("embedding"), cents, nprobe).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      val native = AnnIvfTwins.probeCellsNative(corpus, centroids, nprobe)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(native == ref, s"probe order drifted: cents=$cents vecs=$vecs")
    }
  }

  // tiny-vocab docs: heavy n-gram collisions, repeats, empties — the
  // worst case for span census and LM smoothing alike
  private val docGen: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.chooseNum(2, 8)
    docs <- Gen.listOfN(nDocs, for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("dupSpanStats + removeDupSpans agree with a driver-side reference " +
    "on random tiny-vocab corpora") {
    val L = 3
    cases(docGen, 10, seed = 0x5FA2DEDL).foreach { docs =>
      val df = docs.toDF("doc_id", "text")
      // reference census + interval union + cut
      val toks = docs.map { case (id, t) =>
        id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
      val wins = toks.flatMap { case (id, ts) =>
        (0 to ts.length - L).map(i => (id, i + 1, ts.slice(i, i + L).mkString(" "))) }
      val dupKeys = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
      val expStats = toks.filter(_._2.nonEmpty).map { case (id, ts) =>
        val mine = wins.filter(w => w._1 == id && dupKeys(w._3))
        val cov = mine.flatMap(w => w._2 until (w._2 + L)).distinct
        id -> ((ts.length.toLong, mine.size.toLong, cov.size.toLong))
      }.toMap
      val gotStats = SpanDedup.dupSpanStats(df, "doc_id", "text", L)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(gotStats == expStats, s"stats drifted: docs=$docs")

      val expClean = toks.filter(_._2.nonEmpty).map { case (id, ts) =>
        val mine = wins.filter(w => w._1 == id && dupKeys(w._3))
        val cov = mine.flatMap(w => w._2 until (w._2 + L)).toSet
        val kept = ts.zipWithIndex.collect { case (w, i) if !cov(i + 1) => w }
        id -> ((kept.mkString(" "), kept.size.toLong))
      }.toMap
      val gotClean = SpanDedup.removeDupSpans(df, "doc_id", "text", L)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(gotClean == expClean, s"cut drifted: docs=$docs")
    }
  }

  test("funnel agrees with a driver-side per-user walker on random event logs") {
    val evGen: Gen[Seq[(Long, Long, String)]] = for {
      nUsers <- Gen.chooseNum(1, 6)
      nEv <- Gen.chooseNum(1, 40)
      evs <- Gen.listOfN(nEv, for {
        u <- Gen.chooseNum(0L, nUsers.toLong - 1)
        t <- Gen.chooseNum(0L, 50L) // coarse secs → plenty of ties
        ty <- Gen.oneOf("a", "b", "c", "x")
      } yield (u, t, ty))
    } yield evs

    val stages = Seq("a", "b", "c")
    cases(evGen, 12, seed = 0xF0AE10L).foreach { evs =>
      val df = evs.map { case (u, t, ty) =>
        (u, new java.sql.Timestamp(t * 1000L), ty) }
        .toDF("user_id", "ts", "event_type")
      Seq(Option.empty[Long], Some(10L)).foreach { cap =>
        // reference: per user, anchor at the earliest qualifying event of
        // each successive stage (strictly later than the previous anchor,
        // within the cap when set)
        val expect = scala.collection.mutable.Map(
          stages.map(_ -> 0L): _*)
        evs.groupBy(_._1).foreach { case (_, userEvs) =>
          var anchor = Option.empty[Long]
          var alive = true
          stages.foreach { st =>
            if (alive) {
              val cand = userEvs.filter(e => e._3 == st &&
                anchor.forall(a => e._2 > a &&
                  cap.forall(c => e._2 <= a + c)))
              if (cand.isEmpty) alive = false
              else {
                anchor = Some(cand.map(_._2).min)
                expect(st) += 1L
              }
            }
          }
        }
        val got = graft.analytics.LogAnalytics.funnel(df, stages,
            maxStepSeconds = cap)
          .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
        assert(got == expect.toMap, s"cap=$cap evs=$evs")
      }
    }
  }

  test("LmScore agrees with a driver-side add-one bigram reference " +
    "on random tiny-vocab corpora") {
    cases(docGen, 10, seed = 0x11A2B3CL).foreach { docs =>
      val df = docs.toDF("doc_id", "text")
      val ref = docs.filter(_._1 % 2 == 0)
      val lm = LmScore.train(df.filter(col("doc_id") % 2 === 0), "text")
      def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val refBigrams = ref.flatMap { case (_, t) => toks(t).sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))).toSeq }
      val c12 = refBigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val c1 = refBigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val v = ref.flatMap(d => toks(d._2)).distinct.size.toLong
      if (v == 0L) {
        intercept[IllegalArgumentException] {
          LmScore.score(df, "doc_id", "text", lm) }
      } else {
        val expect = docs.flatMap { case (id, t) =>
          val bs = toks(t).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))).toSeq
          if (bs.isEmpty) None
          else {
            val nls = bs.map(b => -math.log(
              (c12.getOrElse(b, 0L) + 1.0) / (c1.getOrElse(b._1, 0L) + v.toDouble)))
            Some(id -> ((bs.size.toLong,
              BigDecimal(nls.sum / nls.size)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
          }
        }.toMap
        val got = LmScore.score(df, "doc_id", "text", lm)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        assert(got == expect, s"scores drifted: docs=$docs v=$v")
      }
    }
  }

  test("resampleLocf agrees with a driver-side carry-forward on random series") {
    import graft.analytics.TimeSeries
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    // small user/time domains force same-bucket ties, gaps, NULL values
    val gen: Gen[Seq[(Long, Long, Long, Option[Double])]] = for {
      n <- Gen.chooseNum(1, 30)
      mk = for {
        id <- Gen.chooseNum(0L, 999L)
        u <- Gen.chooseNum(0L, 3L)
        s <- Gen.chooseNum(0L, 600L) // 10 one-minute buckets
        v <- Gen.option(Gen.chooseNum(0, 99).map(_.toDouble))
      } yield (id, u, s, v)
      rows <- Gen.listOfN(n, mk)
    } yield rows.distinctBy(_._1) // event ids unique, as in the real table

    cases(gen, 12, seed = 0x10CFL).foreach { rows =>
      val df = rows.toDF("event_id", "user_id", "sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      val got = TimeSeries.resampleLocf(df, 60L)
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq.sorted
      val expected = rows.groupBy(_._2).toSeq.flatMap { case (u, rs) =>
        val byBucket = rs.groupBy(_._3 / 60).view.mapValues(
          _.maxBy(r => (r._3, r._1))._4).toMap // last by (ts, id)
        var carry: Option[Double] = None
        (byBucket.keys.min to byBucket.keys.max).map { b =>
          byBucket.get(b).flatten.foreach(v => carry = Some(v))
          (u, fmt.format(java.time.Instant.ofEpochSecond(b * 60)), carry)
        }
      }.sorted
      assert(got == expected, s"rows=$rows")
    }
  }

  test("fuzzy pairs are exact-distance true pairs; same-prefix pairs are " +
    "never missed (random edited clones)") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val gen: Gen[Seq[String]] = for {
      n <- Gen.chooseNum(2, 10)
      base <- Gen.listOfN(50, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
      texts <- Gen.listOfN(n, for {
        edits <- Gen.chooseNum(0, 14)
        positions <- Gen.listOfN(edits, Gen.chooseNum(0, 49))
      } yield positions.foldLeft(base)((s, p) =>
        s.updated(p, if (s(p) == 'a') 'z' else 'a')))
    } yield texts

    cases(gen, 10, seed = 0xF0CAL).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val heads = texts.map(_.toLowerCase.take(64))
      val got = FuzzyJoin.editDistancePairs(docs, maxDist = 10)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      // precision: every emitted pair is a true <=10 pair at the exact dist
      got.foreach { case ((i, j), dist) =>
        assert(lev(heads(i.toInt), heads(j.toInt)).toLong == dist
          && dist <= 10L, s"pair ($i,$j) dist drifted")
      }
      // recall floor: an edit-free first block guarantees the pair is seen
      for (i <- heads.indices; j <- heads.indices if i < j) {
        val trueDist = lev(heads(i), heads(j))
        if (trueDist <= 10 && heads(i).take(16) == heads(j).take(16))
          assert(got.contains((i.toLong, j.toLong)),
            s"same-prefix pair ($i,$j) at dist $trueDist missed")
      }
    }
  }

  test("debounce agrees with a driver-side window walk on random bursts") {
    import graft.analytics.LogAnalytics
    val gen: Gen[Seq[(Long, Long, String, Long)]] = for {
      n <- Gen.chooseNum(1, 40)
      mk = for {
        u <- Gen.chooseNum(0L, 2L)
        t <- Gen.oneOf("a", "b")
        s <- Gen.chooseNum(0L, 120L) // dense: same-second ties guaranteed
      } yield (u, t, s)
      rows <- Gen.listOfN(n, mk)
    } yield rows.zipWithIndex.map { case ((u, t, s), i) => (i.toLong, u, t, s) }

    cases(gen, 12, seed = 0xDEBL).foreach { rows =>
      val df = rows.toDF("event_id", "user_id", "event_type", "sec")
        .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      val got = LogAnalytics.debounce(df, withinSeconds = 30L)
        .collect().map(_.getAs[Long]("event_id")).toSet
      // reference: per (user, type) in (ts, id) order, window index from
      // the key's first event; keep the first of each occupied window
      val expected = rows.groupBy(r => (r._2, r._3)).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (r._4, r._1))
        val first = sorted.head._4
        sorted.groupBy(r => (r._4 - first) / 30L).values
          .map(_.minBy(r => (r._4, r._1))._1)
      }.toSet
      assert(got == expected, s"rows=$rows")
    }
  }

  test("encodeWithVocab agrees with a driver-side encoder on random docs") {
    val word = Gen.chooseNum(1, 4).flatMap(l =>
      Gen.listOfN(l, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val doc = Gen.chooseNum(0, 8).flatMap(w =>
      Gen.listOfN(w, word).map(_.mkString(" ")))
    val gen: Gen[(Seq[(Long, String)], Seq[(Long, String)])] = for {
      nTrain <- Gen.chooseNum(1, 6)
      nApply <- Gen.chooseNum(1, 6)
      train <- Gen.listOfN(nTrain, doc)
      app <- Gen.listOfN(nApply, doc)
    } yield (train.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      app.zipWithIndex.map { case (t, i) => (i.toLong, t) })

    cases(gen, 12, seed = 0xE2CL).foreach { case (train, app) =>
      val trainDf = train.toDF("doc_id", "text")
      val appDf = app.toDF("doc_id", "text")
      def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      // driver-side vocab: freq desc, token asc, ids from 1, top 5
      val freq = train.flatMap(d => toks(d._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val vocabRef = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(5)
        .zipWithIndex.map { case ((t, _), i) => t -> (i + 1L) }.toMap
      if (vocabRef.isEmpty) {
        intercept[IllegalArgumentException] {
          TextOps.encodeWithVocab(appDf, "doc_id", "text",
            TextOps.buildVocab(trainDf, "text", k = 5))
        }
      } else {
        val got = TextOps.encodeWithVocab(appDf, "doc_id", "text",
            TextOps.buildVocab(trainDf, "text", k = 5))
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
        val expected = app.flatMap { case (id, text) =>
          val ts = toks(text)
          if (ts.isEmpty) None
          else {
            val ids = ts.map(t => vocabRef.getOrElse(t, 0L))
            val h = java.security.MessageDigest.getInstance("MD5")
              .digest(ids.mkString(" ").getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            Some(id -> ((ts.size.toLong, ids.count(_ == 0L).toLong, h)))
          }
        }.toMap
        assert(got == expected, s"train=$train app=$app")
      }
    }
  }

  test("parseNetpbm/parseWav invert serialization on random assets — " +
    "moments equal the direct computation") {
    // property: parse(serialize(asset)) recovers the asset's directly
    // computed moments, for arbitrary dims, pixel values, comments, and
    // sample values (including full-scale negatives)
    val imgGen = for {
      w <- Gen.chooseNum(1, 9)
      h <- Gen.chooseNum(1, 7)
      rgb <- Gen.oneOf(false, true)
      px <- Gen.listOfN(w * h * (if (rgb) 3 else 1), Gen.chooseNum(0, 255))
      comment <- Gen.oneOf(true, false)
    } yield (w, h, rgb, px, comment)
    cases(imgGen, 20, seed = 0xA55E7L).foreach { case (w, h, rgb, px, cm) =>
      val magic = if (rgb) "P6" else "P5"
      val head = if (cm) s"$magic\n# fuzz\n$w $h\n255\n"
        else s"$magic $w $h 255\n"
      val bytes = head.getBytes("US-ASCII") ++ px.map(_.toByte).toArray
      val s = MediaCodec.parseNetpbm(bytes).get
      val ch = if (rgb) 3 else 1
      assert((s.width, s.height, s.channels) == ((w, h, ch)))
      (0 until ch).foreach { c =>
        val mine = px.zipWithIndex.filter(_._2 % ch == c).map(_._1.toLong)
        assert(s.sums(c) == mine.sum, s"w=$w h=$h ch=$c")
        assert(s.sqSums(c) == mine.map(v => v * v).sum)
      }
    }

    val wavGen = for {
      rate <- Gen.oneOf(8000, 16000, 44100)
      chs <- Gen.chooseNum(1, 2)
      n <- Gen.chooseNum(0, 40)
      ss <- Gen.listOfN(n, Gen.chooseNum(-32768, 32767))
    } yield (rate, chs, ss)
    cases(wavGen, 20, seed = 0xBEEFL).foreach { case (rate, chs, ss) =>
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * ss.size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      "RIFF".foreach(c => bb.put(c.toByte)); bb.putInt(36 + 2 * ss.size)
      "WAVEfmt ".foreach(c => bb.put(c.toByte)); bb.putInt(16)
      bb.putShort(1); bb.putShort(chs.toShort)
      bb.putInt(rate); bb.putInt(rate * chs * 2)
      bb.putShort((chs * 2).toShort); bb.putShort(16)
      "data".foreach(c => bb.put(c.toByte)); bb.putInt(2 * ss.size)
      ss.foreach(v => bb.putShort(v.toShort))
      val s = MediaCodec.parseWav(bb.array()).get
      assert((s.sampleRate, s.channels, s.nSamples) ==
        ((rate, chs, ss.size.toLong)))
      assert(s.sampleSum == ss.map(_.toLong).sum)
      assert(s.sampleSqSum == ss.map(v => v.toLong * v).sum)
    }
  }

  test("padBatches agrees with a driver-side sort-and-cut on random " +
    "length profiles") {
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      lens <- Gen.listOfN(n, Gen.chooseNum(1L, 30L))
      bs <- Gen.chooseNum(1, 7)
      shards <- Gen.chooseNum(1, 3)
    } yield (lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }, bs, shards)
    cases(gen, 12, seed = 0xBA7C4L).foreach { case (docs, bs, shards) =>
      // reference: per shard (id mod), sort by (len, id), cut bs-runs,
      // pad to each run's max
      val expected = docs.groupBy(_._1 % shards).flatMap { case (sh, ds) =>
        ds.sortBy(d => (d._2, d._1)).grouped(bs).zipWithIndex.flatMap {
          case (run, b) =>
            val mx = run.map(_._2).max
            run.map { case (id, len) => id -> ((sh, b.toLong, mx - len)) }
        }
      }
      val got = Packing.padBatches(
          docs.toDF("doc_id", "n_tokens_in"),
          "doc_id", org.apache.spark.sql.functions.col("n_tokens_in"),
          batchSize = bs, shards = shards)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("shard"), r.getAs[Long]("batch"),
            r.getAs[Long]("pad")))).toMap
      assert(got == expected, s"docs=$docs bs=$bs shards=$shards")
    }
  }

  test("classificationReport agrees with a driver-side reference on " +
    "random confusion tables") {
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      rows <- Gen.listOfN(n, for {
        l <- Gen.chooseNum(0, 4); p <- Gen.chooseNum(0, 5)
      } yield (l, p)) // pred range wider: phantom classes occur
    } yield rows
    cases(gen, 12, seed = 0xC1A55L).foreach { rows =>
      val support = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val predN = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val diag = rows.filter(r => r._1 == r._2)
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      def rnd(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expected = (support.keySet ++ predN.keySet).map { c =>
        val d = diag.getOrElse(c, 0L).toDouble
        val p = predN.get(c).map(d / _)
        val r = support.get(c).map(d / _)
        val f1 = for { pv <- p; rv <- r; s = pv + rv; if s != 0.0 }
          yield rnd(2.0 * pv * rv / s)
        (c, support.getOrElse(c, 0L), p.map(rnd), r.map(rnd), f1)
      }
      val got = Eval.classificationReport(rows.toDF("label", "pred"))
        .collect().map(r => (r.getInt(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
      assert(got == expected, s"rows=$rows")
    }
  }

  test("stripBoilerplate agrees with a driver-side cut on random corpora") {
    // docs are built from a tiny line alphabet so cross-doc repeats are
    // common; group is doc_id % 2 mapped to a name
    val lineGen = Gen.oneOf("nav bar", "footer (c)", "alpha", "beta",
      "gamma", "  nav bar  ", "", " ")
    val docGen = for {
      n <- Gen.chooseNum(1, 6)
      ls <- Gen.listOfN(n, lineGen)
    } yield ls.mkString("\n")
    val corpusGen = for {
      nd <- Gen.chooseNum(2, 12)
      docs <- Gen.listOfN(nd, docGen)
    } yield docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, if (i % 2 == 0) "even" else "odd", t) }

    cases(corpusGen, 12, seed = 0xB0117L).foreach { corpus =>
      val minDocs = 2L
      // driver-side reference: trim-keyed df per (group, key), cut, rebuild
      val df = corpus
        .flatMap { case (id, g, t) =>
          t.split("\n", -1).map(_.trim).filter(_.nonEmpty).distinct
            .map(k => (g, k, id)) }
        .groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).distinct.size)
      val boiler = df.filter(_._2 >= minDocs).keys.toSet
      val expected = corpus.map { case (id, g, t) =>
        val kept = t.split("\n", -1).filter(l => {
          val k = l.trim; k.isEmpty || !boiler((g, k)) })
        (id, kept.mkString("\n"),
          (t.split("\n", -1).length - kept.length).toLong)
      }.toSet
      val got = Boilerplate.stripBoilerplate(
          corpus.toDF("doc_id", "source", "text"), minDocs = minDocs)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == expected, s"corpus=$corpus")
    }
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // scores from a tiny grid so ties are the COMMON case, not the corner
  private val scoredGen: Gen[Seq[(Long, Double, Int)]] = for {
    n <- Gen.chooseNum(1, 50)
    rows <- Gen.listOfN(n, for {
      s <- Gen.chooseNum(0, 4)
      y <- Gen.oneOf(0, 1)
    } yield (s / 4.0, y))
  } yield rows.zipWithIndex.map { case ((s, y), i) => (i.toLong, s, y) }

  test("rocAuc agrees with the probabilistic pair definition on random " +
    "tie-heavy scores") {
    cases(scoredGen, 15, seed = 0xA0CL).foreach { rows =>
      val pos = rows.filter(_._3 == 1).map(_._2)
      val neg = rows.filter(_._3 == 0).map(_._2)
      // AUC = P(s⁺ > s⁻) + ½P(s⁺ = s⁻): numerator 2·wins + ties is the
      // same exact integer as the engine's 2ΣR₊ − P(P+1)
      val wins = (for (p <- pos; m <- neg) yield p > m).count(identity)
      val ties = (for (p <- pos; m <- neg) yield p == m).count(identity)
      val expected =
        if (pos.isEmpty || neg.isEmpty) None
        else Some(round6((2L * wins + ties).toDouble /
          (2.0 * pos.size * neg.size)))
      val r = Eval.rocAuc(rows.toDF("id", "score", "y"), "score", "y", "id")
        .head()
      val got = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(got == expected &&
        r.getLong(0) == pos.size.toLong && r.getLong(1) == neg.size.toLong,
        s"rows=$rows got=$got want=$expected")
    }
  }

  test("kendallTau agrees with the brute-force pair count on random " +
    "tie-heavy columns") {
    val colsGen: Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 5L); b <- Gen.chooseNum(0L, 5L)
      } yield (a, b))
    } yield rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
    cases(colsGen, 15, seed = 0x7A0L).foreach { rows =>
      val pairs = for {
        i <- rows.indices; j <- (i + 1) until rows.size
      } yield (rows(i), rows(j))
      val c = pairs.count { case (x, y) =>
        (x._2 - y._2).sign * (x._3 - y._3).sign > 0 }
      val d = pairs.count { case (x, y) =>
        (x._2 - y._2).sign * (x._3 - y._3).sign < 0 }
      val t1 = pairs.count { case (x, y) => x._2 == y._2 }
      val t2 = pairs.count { case (x, y) => x._3 == y._3 }
      val n0 = rows.size.toLong * (rows.size - 1) / 2
      val denom = math.sqrt((n0 - t1).toDouble) * math.sqrt((n0 - t2).toDouble)
      val expected =
        if (denom == 0.0) None else Some(round6((c - d).toDouble / denom))
      val r = Eval.kendallTau(rows.toDF("id", "a", "b"), "a", "b", "id")
        .head()
      val got = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(got == expected &&
        r.getLong(1) == c.toLong && r.getLong(2) == d.toLong,
        s"rows=$rows got=$got want=$expected")
    }
  }

  test("averagePrecision agrees with a driver-side threshold walk on " +
    "random tie-heavy scores") {
    cases(scoredGen, 15, seed = 0xAFL).foreach { rows =>
      val byScore = rows.groupBy(_._2).toSeq.sortBy(-_._1)
        .map { case (s, rs) => (s, rs.size.toLong,
          rs.count(_._3 == 1).toLong) }
      var (pred, tp) = (0L, 0L)
      var sum = BigDecimal(0)
      byScore.foreach { case (_, n, np) =>
        pred += n; tp += np
        if (np > 0) sum += BigDecimal(
          np.toDouble * (tp.toDouble / pred.toDouble))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      val nPos = rows.count(_._3 == 1).toLong
      val expected =
        if (nPos == 0L) None else Some(round6(sum.toDouble / nPos.toDouble))
      val r = Eval.averagePrecision(
        rows.toDF("id", "score", "y"), "score", "y").head()
      val got = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(got == expected && r.getLong(0) == rows.size.toLong &&
        r.getLong(1) == nPos, s"rows=$rows got=$got want=$expected")
    }
  }
}
