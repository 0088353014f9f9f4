package graft.ext

import graft.GraftSpec
import org.apache.spark.sql.functions._

class DedupSpec extends GraftSpec {
  import spark.implicits._

  // doc 1 ~ doc 2 (one word changed of 12 → high shingle overlap),
  // doc 3 unrelated, doc 4 too short for 3-shingles, doc 5 == doc 1 exactly.
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river"),
    (2L, "the quick brown fox jumps over the lazy cat near the river"),
    (3L, "completely different words about spark catalyst codegen and shuffles"),
    (4L, "two words"),
    (5L, "the quick brown fox jumps over the lazy dog near the river")
  ).toDF("doc_id", "text")

  test("shingles: distinct word n-grams; short text yields empty set") {
    val r = docs.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1)).toMap
    assert(r(1L).length == 10) // 12 tokens → 10 trigrams, all distinct here
    assert(r(1L).contains("the quick brown"))
    assert(r(4L).isEmpty)
  }

  test("shingles: surrounding whitespace is invisible — no phantom boundary shingles") {
    // split on \s+ keeps the empty token a leading/trailing run produces;
    // unfiltered, "a b c d " grows a phantom "c d " shingle and two docs
    // differing only in whitespace stop being exact near-dups
    val r = Seq(
      (1L, "a b c d"),
      (2L, "  a b c d \n"),
      (3L, " \t ") // whitespace-only: zero tokens, zero shingles
    ).toDF("doc_id", "text")
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1).toSet).toMap
    assert(r(1L) == Set("a b c", "b c d"))
    assert(r(2L) == r(1L))
    assert(r(3L).isEmpty)
    val pairs = Dedup.nearDuplicatePairs(
      Seq((1L, "a b c d e f"), (2L, "  a b c d e f \n")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.9)
      .collect().map(x => (x.getAs[Long]("a_id"), x.getAs[Double]("jaccard")))
    assert(pairs.toSeq == Seq((1L, 1.0))) // whitespace twins ARE exact dups
  }

  test("near-dup pair detected; unrelated pair absent; exact dup jaccard = 1") {
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
    assert(pairs((1L, 5L)) == 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("skew guard: m identical docs cost 1 LSH row, not m²/2 candidates") {
    // 100 byte-identical docs plus two distinct ones. Without the
    // exact-dup collapse every band bucket holds all 100 and the self-join
    // emits 4950 candidate pairs; with it, LSH sees one representative per
    // distinct text, so the candidate stage must produce ZERO pairs (the
    // three texts share no shingles) while the OUTPUT still restores all
    // 4950 member pairs at jaccard exactly 1.
    val docs = (1L to 100L).map(i => (i, "the same boilerplate page body repeated verbatim across the crawl")) ++
      Seq((101L, "one unrelated document about catalyst optimizer internals here"),
          (102L, "another unrelated document describing shuffle partitioning strategy"))
    val df = docs.toDF("doc_id", "text")

    val reps = Dedup.representatives(df, "doc_id", "text")
    assert(reps.count() == 3)
    // at threshold 0 every LSH candidate survives the verify, so any
    // representative-level candidate would add cross-group pairs
    assert(Dedup.nearDuplicatePairs(df, "doc_id", "text", threshold = 0.0)
      .count() == 100L * 99L / 2L)

    val out = Dedup.nearDuplicatePairs(df, "doc_id", "text", threshold = 0.6)
    assert(out.count() == 100L * 99L / 2L)
    assert(out.filter($"jaccard" =!= 1.0).count() == 0)
    // cross-group restoration: every member of the identical group pairs
    // with a near-dup of the representative, not only with the rep itself
    val docs2 = df.union(Seq(
      (103L, "the same boilerplate page body repeated verbatim across the crawl!")).toDF("doc_id", "text"))
    val out2 = Dedup.nearDuplicatePairs(docs2, "doc_id", "text", threshold = 0.5)
    assert(out2.filter($"b_id" === 103L).count() == 100) // 103 ~ every clone
  }

  test("dedupTransitive: a chain collapses to one survivor") {
    // 1 ~ 3 and 2 ~ 3 at J = 0.8 (16 shared of 20 trigrams), 1 ≁ 2
    // (J = 14/22 ≈ 0.64 < 0.7). The middle doc has the LARGEST id, so a
    // one-hop rule (drop docs with a smaller-id near-dup) would drop only 3
    // and keep both endpoints; connected components keep exactly the least id.
    val w = (1 to 24).map(i => f"w$i%02d")
    val chain = Seq(
      (1L, w.slice(0, 20).mkString(" ")),  // tokens w01..w20
      (2L, w.slice(4, 24).mkString(" ")),  // tokens w05..w24 (far end)
      (3L, w.slice(2, 22).mkString(" ")),  // tokens w03..w22 (middle)
      (4L, "entirely unrelated text about broadcast joins and partition pruning")
    ).toDF("doc_id", "text")

    val pairs = Dedup.nearDuplicatePairs(chain, "doc_id", "text", threshold = 0.7)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L), (2L, 3L))) // chain edges only

    val cc = Dedup.dedupTransitive(chain, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().sorted
    assert(cc.sameElements(Array(1L, 4L))) // one survivor per component
  }

  test("clusterLabels: every row gets its component's min id — exact " +
    "copies inherit the text group's rep, chains collapse, singletons " +
    "and NULL-text rows label themselves") {
    val w = (1 to 24).map(i => f"w$i%02d")
    val docs = Seq(
      (1L, Some(w.slice(0, 20).mkString(" "))), // chain end
      (2L, Some(w.slice(4, 24).mkString(" "))), // chain far end
      (3L, Some(w.slice(2, 22).mkString(" "))), // chain middle
      (4L, Some("entirely unrelated text about broadcast joins here")),
      (5L, Some(w.slice(0, 20).mkString(" "))), // byte-identical to 1
      (6L, Option.empty[String]) // unhashable
    ).toDF("doc_id", "text")
    val got = Dedup.clusterLabels(docs, "doc_id", "text", threshold = 0.7)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 1L), (6L, 6L)), got.toString)
  }

  test("dedupIncremental: exact copies and near-dups of the corpus drop; fresh and short docs survive") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river"),
      (11L, "completely different words about spark catalyst codegen and shuffles")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // byte-identical to corpus 10 → exact-stage drop
      (20L, "the quick brown fox jumps over the lazy dog near the river"),
      // near-dup of corpus 10 (one word changed) → near-stage drop
      (21L, "the quick brown fox jumps over the lazy cat near the river"),
      // fresh content → survives
      (22L, "a wholly novel document mentioning watermarks state stores and sinks"),
      // batch-internal duplicates of fresh content: BOTH survive —
      // within-batch dedup is dedup()'s job, not the incremental screen's
      (23L, "another new text that resembles nothing in the settled corpus today"),
      (24L, "another new text that resembles nothing in the settled corpus today"),
      // too short to shingle → no near check possible → survives
      (25L, "two words")
    ).toDF("doc_id", "text")

    val out = Dedup.dedupIncremental(batch, corpus, "doc_id", "text",
      threshold = 0.5)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(22L, 23L, 24L, 25L))

    // one-sided: the corpus itself is never touched, and re-screening the
    // survivors is a no-op (idempotent by construction)
    val again = Dedup.dedupIncremental(out, corpus, "doc_id", "text",
      threshold = 0.5)
    assert(again.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(22L, 23L, 24L, 25L))
  }

  test("dedupIncrementalIndexed: index-fed screen ≡ self-contained; append ≡ from-scratch rebuild") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river"),
      (11L, "completely different words about spark catalyst codegen and shuffles"),
      (12L, "so short") // un-shingleable corpus text: ghash-only index row
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog near the river"), // exact drop
      (21L, "the quick brown fox jumps over the lazy cat near the river"), // near drop
      (22L, "a wholly novel document mentioning watermarks state stores and sinks"),
      (25L, "two words") // un-shingleable fresh text: survives, indexed by hash
    ).toDF("doc_id", "text")

    // the index screens identically to deriving the corpus side in place
    val index = Dedup.buildDedupIndex(corpus, "doc_id", "text")
    val r = Dedup.dedupIncrementalIndexed(batch, index, "doc_id", "text", threshold = 0.5)
    val selfContained = Dedup.dedupIncremental(batch, corpus, "doc_id", "text", threshold = 0.5)
    assert(r.accepted.select("doc_id").as[Long].collect().sorted.toSeq == Seq(22L, 25L))
    assert(selfContained.select("doc_id").as[Long].collect().sorted.toSeq == Seq(22L, 25L))

    // index ∪ indexAppend is EXACTLY a from-scratch build over
    // corpus ∪ accepted — the append loop never diverges from rebuild
    val appended = DedupIndexRows(index) ++ DedupIndexRows(r.indexAppend)
    val rebuilt = DedupIndexRows(Dedup.buildDedupIndex(
      corpus.unionAll(r.accepted), "doc_id", "text"))
    assert(appended == rebuilt)
    // the short fresh text is in the append (hash-only, NULL signature):
    // tomorrow's exact stage must see it
    assert(DedupIndexRows(r.indexAppend)
      .exists { case (_, sh, sig) => sh.isEmpty && sig.isEmpty })

    // screening the same batch against the grown index drops everything —
    // exact copies of what was just accepted never re-enter
    val again = Dedup.dedupIncrementalIndexed(
      batch, index.unionAll(r.indexAppend), "doc_id", "text", threshold = 0.5)
    assert(again.accepted.count() == 0)
  }

  test("dedup index: parquet roundtrip screens identically (the persisted form)") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river"),
      (11L, "completely different words about spark catalyst codegen and shuffles")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (21L, "the quick brown fox jumps over the lazy cat near the river"),
      (22L, "a wholly novel document mentioning watermarks state stores and sinks")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    Dedup.buildDedupIndex(corpus, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val r = Dedup.dedupIncrementalIndexed(
      batch, spark.read.parquet(dir), "doc_id", "text", threshold = 0.5)
    assert(r.accepted.select("doc_id").as[Long].collect().toSeq == Seq(22L))
    // the daily loop: append the accepted rows' index, re-read, re-screen
    r.indexAppend.write.mode("append").parquet(dir)
    val again = Dedup.dedupIncrementalIndexed(
      batch, spark.read.parquet(dir), "doc_id", "text", threshold = 0.5)
    assert(again.accepted.count() == 0)
  }

  test("components: labels converge to the component minimum") {
    // two components: a 4-chain 10-11-12-13 (needs >1 round) and a pair
    val pairs = Seq((11L, 10L), (11L, 12L), (12L, 13L), (20L, 21L))
      .toDF("a_id", "b_id")
    val comp = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("components: a 14-hop chain converges under the default cap, throws under a tight one") {
    // path graph 0-1-2-…-14: node 14 is 14 hops from the component
    // minimum. Plain min-label propagation would need 14 rounds; the
    // pointer-doubled step's reach grows as 2^t − 1 (1, 3, 7, 15 …), so
    // the chain finishes in 4 working rounds + 1 to observe the fixpoint.
    val chain = (0L until 14L).map(i => (i, i + 1)).toDF("a_id", "b_id")

    val ok = Dedup.componentsResult(chain) // default maxIters
    assert(ok.converged && ok.residual == 0L)
    assert(ok.rounds <= 6, s"pointer doubling regressed: ${ok.rounds} rounds")
    val labels = ok.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 15 && labels.values.forall(_ == 0L))
    assert(Dedup.lastComponentsRounds.get() == ok.rounds)

    // capped run: never silent — componentsResult reports the residual, and
    // its partial labels are conservative (split, never wrongly merged) …
    val capped = Dedup.componentsResult(chain, maxIters = 2)
    assert(!capped.converged && capped.residual > 0L && capped.rounds == 2)
    val partial = capped.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial.forall { case (id, c) => c <= id }) // labels only move down

    // … while the strict entry point throws instead of under-deduping
    val e = intercept[IllegalStateException](Dedup.components(chain, maxIters = 2))
    assert(e.getMessage.contains("did not converge"))
  }

  test("components: a fixpoint reached exactly in the last allowed round converges") {
    // 7-edge path: the doubled step's reach is 1, 3, 7 — node 7 takes its
    // final label in round 3 (the cap). That is indistinguishable from a
    // capped stop without the probe round — the result must be converged,
    // not a spurious throw.
    val chain = (0L until 7L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val r = Dedup.componentsResult(chain, maxIters = 3)
    assert(r.converged && r.rounds == 3)
    assert(r.labels.collect().map(_.getLong(1)).forall(_ == 0L))
    assert(Dedup.components(chain, maxIters = 3).count() == 8) // no throw
  }

  test("pointer-doubled components ≡ plain min-label propagation on a fuzz graph") {
    // 400 LCG edges over 150 nodes — chains, cycles, singleton-free
    // clusters of every small shape; the doubled loop must land on the
    // identical label table the plain componentsStep fixpoint defines
    val pairs = (1 to 400).map { i =>
      val a = (i * 2654435761L) % 150L
      val b = (a + 1L + (i * 40503L) % 7L) % 150L
      (a, b)
    }.filter(p => p._1 != p._2).toDF("a_id", "b_id")
    val doubled = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // reference: the PLAIN step iterated to ITS fixpoint
    val p = Materialize.cut(pairs.select(col("a_id"), col("b_id")))
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(p.select(col("b_id").as("src"), col("a_id").as("dst")))
    var labels = Materialize.cut(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("component")))
    var changed = 1L
    while (changed > 0) {
      val stepped = Materialize.cut(Dedup.componentsStep(edges, labels))
      changed = stepped.filter(col("chg")).count()
      labels = stepped.select("id", "component")
    }
    val plain = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(doubled == plain,
      "pointer-doubled labels diverged from the plain fixpoint")
  }

  test("materialize: parquet spill mode yields identical pairs and cleans up") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mat_spec").toString
    val local = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(_.toSeq).toSet
    spark.conf.set("spark.graft.materialize", "parquet")
    spark.conf.set("spark.graft.materialize.dir", dir)
    try {
      val spilled = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5)
      assert(spilled.collect().map(_.toSeq).toSet == local)
      assert(new java.io.File(dir).listFiles().nonEmpty) // cuts actually spilled
      Materialize.release(spark)
      assert(new java.io.File(dir).listFiles().isEmpty)  // release deletes spills
    } finally {
      spark.conf.set("spark.graft.materialize", "local")
      spark.conf.unset("spark.graft.materialize.dir")
    }
  }

  test("candidate generation never cross-joins: pair count bounded by bands") {
    // 3 unrelated docs share no shingles — with no bucket collision there
    // must be zero candidates (probabilistic but astronomically safe).
    val distinctDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red orange yellow green blue indigo violet")
    ).toDF("doc_id", "text")
    // threshold 0: every LSH candidate would survive the verify
    assert(Dedup.nearDuplicatePairs(distinctDocs, "doc_id", "text",
      threshold = 0.0).count() == 0)
  }

  test("containmentPairs: a quoted paragraph scores ~1 on its side with " +
    "tiny jaccard; hot shingles alone never form a candidate; verify " +
    "is exact on full sets") {
    val quote = "alpha beta gamma delta epsilon zeta"      // 4 shingles
    val long = ("intro words here now " + quote +
      " trailing tail of much longer body text continues onward " +
      "with many extra unique tokens appended further still")
    // docs 3/4 share ONLY a ubiquitous shingle ("the same thing" in
    // every filler doc below) that exceeds maxDf=2 -> no candidate
    val filler = (10L until 16L).map(i =>
      (i, s"the same thing unique$i word$i"))
    val docs = (Seq((1L, quote), (2L, long)) ++ filler)
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.5, n = 3, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(got.keySet == Set((1L, 2L)), got)
    val (nc, na, nb, cab, cba) = got((1L, 2L))
    assert(na == 4L && nc == 4L && cab == 1.0,
      "every quote shingle appears in the long doc")
    assert(nb > 4L && cba < 0.5, "the long doc is NOT contained")
    // jaccard would have missed this pair at any threshold >= 0.5
    assert(nc.toDouble / (na + nb - nc) < 0.5)
    // orientation: a_id < b_id always
    assert(got.keySet.forall { case (a, b) => a < b })
  }

  test("containment screen laws: probe==index reproduces self-contained " +
    "pairs; index append == rebuild; batch screen never recomputes " +
    "historical pairs") {
    val quote = "alpha beta gamma delta epsilon zeta"
    val long = ("intro words here now " + quote +
      " trailing tail of much longer body text continues onward")
    val older = Seq((1L, quote), (2L, long),
      (3L, "other unrelated stuff entirely here today"))
    val fresh = Seq((10L, "alpha beta gamma delta epsilon zeta pad pad"))
    val all = (older ++ fresh).toDF("doc_id", "text")
    val olderDf = older.toDF("doc_id", "text")
    val freshDf = fresh.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    // law 1: probe == index docs => self-contained pairs, exactly
    val idx = Dedup.buildContainmentIndex(all, "doc_id", "text")
    assert(rows(Dedup.containmentScreenIndexed(all, idx,
        "doc_id", "text", 0.5, maxDf = 2)) ==
      rows(Dedup.containmentPairs(all, "doc_id", "text", 0.5, maxDf = 2)))

    // law 2: per-doc-local postings => append == rebuild
    assert(rows(Dedup.buildContainmentIndex(olderDf, "doc_id", "text")
        .unionByName(Dedup.buildContainmentIndex(freshDf,
          "doc_id", "text"))) ==
      rows(idx))

    // law 3: screening only the fresh batch returns exactly the full
    // run's pairs that involve a fresh doc — no historical (1,2) pair
    val oldIdx = Dedup.buildContainmentIndex(olderDf, "doc_id", "text")
    // maxDf = 3: the quote shingles sit in docs 1, 2 AND 10 (df = 3)
    val screened = rows(Dedup.containmentScreenIndexed(freshDf, oldIdx,
      "doc_id", "text", 0.5, maxDf = 3))
    val full = Dedup.containmentPairs(all, "doc_id", "text", 0.5,
      maxDf = 3)
    assert(screened == rows(full.filter(
      col("a_id") === 10L || col("b_id") === 10L)))
    assert(screened.nonEmpty, "fixture must exercise the screen")
  }

  test("dedupParagraphs: globally-first occurrence survives, rebuilt " +
      "in order; within-doc and cross-doc repeats both removed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A\n\nB\n\nA"),   // trailing A repeats within the doc
      (2L, "B\n\nC"),        // B already seen in doc 1
      (3L, "D"),
      (4L, "A\n\nB")         // every paragraph seen before → ""
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) == ((3L, 2L, "A\n\nB")))
    assert(out(2L) == ((2L, 1L, "C")))
    assert(out(3L) == ((1L, 1L, "D")))
    assert(out(4L) == ((2L, 0L, "")))

    // idempotent: a second pass keeps everything that survived
    val again = Dedup.dedupParagraphs(
        Dedup.dedupParagraphs(docs, "doc_id", "text")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("text")),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again == Map(1L -> "A\n\nB", 2L -> "C", 3L -> "D"))

    // repartition-invariant (first = least (id, pos), not arrival order)
    val shuffled = Dedup.dedupParagraphs(
        docs.repartition(5), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(shuffled == out)
  }

  test("paragraph index: indexed screen ≡ full-corpus dedup restricted " +
      "to the batch (history ids first)") {
    import spark.implicits._
    val history = Seq(
      (1L, "A\n\nB"),
      (2L, "B\n\nC")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "C\n\nX\n\nX"),   // C seen in history; X fresh, repeated
      (11L, "X\n\nY"),        // X taken by doc 10; Y fresh
      (12L, "A\n\nB")         // nothing survives
    ).toDF("doc_id", "text")

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet

    val screened = rows(Dedup.dedupParagraphsIndexed(batch,
      Dedup.buildParagraphIndex(history, "doc_id", "text"),
      "doc_id", "text"))
    val full = rows(Dedup.dedupParagraphs(
        history.unionByName(batch), "doc_id", "text")
      .filter(col("doc_id") >= 10L))
    assert(screened == full)
    assert(screened == Set(
      (10L, 3L, 1L, "X"),
      (11L, 2L, 1L, "Y"),
      (12L, 2L, 0L, "")))
  }

  test("graft_shingles equals the HOF twin ELEMENT-FOR-ELEMENT (order " +
      "included) on fuzzed unicode text, whitespace runs, short texts " +
      "and repeated windows, for n = 1..4") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x5419)
    val words = Seq("the", "cat", "sat", "\u00e9t\u00e9", "\u4e2d\u6587", "a", "BB",
      "x1", "", " ", "CAT", "Tab\u00dc")
    val ws = Seq(" ", "  ", "\t", "\n", " \t ")
    val texts = (1 to 400).map { i =>
      val k = rnd.nextInt(12)
      val body = (0 to k).map(_ => words(rnd.nextInt(words.size)))
        .mkString(ws(rnd.nextInt(ws.size)))
      if (i % 7 == 0) ws(rnd.nextInt(ws.size)) + body else body
    } ++ Seq("", " ", "one", "one two", "a a a a a a", "A b A b A b",
      "\u4e2d \u6587 \u4e2d \u6587")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    (1 to 4).foreach { n =>
      val got = df.select(col("id"),
          Dedup.shingles(col("text"), n).as("a"),
          DedupTwins.shinglesHof(col("text"), n).as("b"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n id=${r.getLong(0)} text=${texts(r.getLong(0).toInt)}: " +
            s"native=${r.getSeq[String](1)} hof=${r.getSeq[String](2)}")
      }
    }
    // null text: both null
    val nulls = Seq((0L, null: String)).toDF("id", "text")
      .select(Dedup.shingles(col("text"), 3).as("a"),
        DedupTwins.shinglesHof(col("text"), 3).as("b"))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }
}
