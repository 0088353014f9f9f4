package graft.ext

import graft.{GraftSpec, Tables}
import org.apache.spark.sql.functions._

class TextOpsSpec extends GraftSpec {
  import spark.implicits._

  test("langId: marker majority wins; tie → alphabetical; no hits → und") {
    val df = Seq(
      "the cat and the dog",          // en
      "der hund und die katze ist",   // de
      "le chat et la porte",          // fr
      "xyzzy plugh quux",             // und
      "the der"                       // tie en=de → de (alphabetical)
    ).toDF("text").select(TextOps.langId($"text").as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "de", "fr", "und", "de"))
  }

  test("langId: native expression equals the relational twin on hand " +
    "edges and on real documents") {
    val edges = Seq(
      Some("the cat and the dog"), Some("der hund und die katze ist"),
      Some("THE AND OF TO IN"),          // uppercase → lowered
      Some("the der"),                   // tie → alphabetical
      Some("  \t le\nla \r et  "),       // \s+ variety + padding
      Some(""), Some("   "), None,       // empty / blank / null → und
      Some("naïve café der die"),        // non-ASCII bytes in non-markers
      Some("them theories ofx")          // substrings must NOT count
    ).toDF("text")
    val docs = graft.Tables(spark, "/root/testdata/sf0.01", "documents")
      .select($"text")
    for (df <- Seq(edges, docs)) {
      val both = df.select(TextOps.langId($"text").as("native"),
        TextOpsTwins.langIdRelational($"text").as("twin"))
      assert(both.filter($"native" =!= $"twin").count() == 0)
      assert(both.filter($"native".isNull || $"twin".isNull).count() == 0)
    }
  }

  test("qualityScore: bounded in [0,1], longer well-formed text scores higher") {
    val df = Seq(
      ("good", ("the quick brown fox and the lazy dog walk to town in rain " * 5)),
      ("bad", "x"),
      ("empty", ""),    // tokenless: must be 0.0, NOT NaN — Spark orders
      ("blank", "   ")  // NaN above every double, so a `>= floor` quality
    ).toDF("k", "text") // gate would otherwise ADMIT empty junk
      .select($"k", TextOps.qualityScore($"text").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(df.values.forall(s => s >= 0.0 && s <= 1.0)) // NaN fails this too
    assert(df("good") > df("bad"))
    assert(df("empty") == 0.0 && df("blank") == 0.0)
  }

  test("bpeTokens: letter runs, digit runs, single punctuation") {
    val toks = Seq("Hello, world42! x")
      .toDF("text").select(TextOps.bpeTokens($"text").as("t"))
      .as[Seq[String]].collect()(0)
    assert(toks == Seq("hello", ",", "world", "42", "!", "x"))
  }

  test("fingerprint: equal for identical text, differs on change, null when short") {
    val fps = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f g"),
      (3L, "a b c d e f h"),
      (4L, "a b")
    ).toDF("doc_id", "text")
      .select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(fps(1L) == fps(2L) && fps(1L).isDefined)
    assert(fps(4L).isEmpty)
    // doc 3 shares shingles with 1 but the MIN shingle hash may or may not
    // move; what must hold is determinism:
    assert(fps(3L).isDefined)
  }

  test("simhash: identical docs → distance 0; near-dup close; unrelated far") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val sh = TextOps.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hd(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hd(sh(1L), sh(2L)) == 0)
    assert(hd(sh(1L), sh(3L)) < hd(sh(1L), sh(4L)))
  }

  test("graft_simhash matches the relational twin bit-exactly; empty docs dropped") {
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents").limit(300)
      .select(col("doc_id"), col("text"))
      .unionAll(Seq((-1L, ""), (-2L, "   "), (-3L, "one two")).toDF("doc_id", "text"))
    val native = TextOps.simhash(docs, "doc_id", "text")
    val twin = TextOpsTwins.simhashRelational(docs, "doc_id", "text")
    assert(native.count() == twin.count(), "native dropped/added docs")
    assert(native.unionAll(twin).distinct().count() == twin.count(),
      "native and relational simhash disagree on some doc")
    // tokenless docs are absent from BOTH formulations
    assert(native.filter(col("doc_id") < -2L).count() == 1)
    assert(native.filter(col("doc_id").isin(-1L, -2L)).count() == 0)
  }

  test("distinctiveTerms: language-exclusive terms outrank shared ones") {
    val df = Seq(
      (1L, "en", "hello world shared"),
      (2L, "en", "hello again shared"),
      (3L, "de", "hallo welt shared")
    ).toDF("doc_id", "lang", "text")
    val r = TextOps.distinctiveTerms(df, "lang", "text", k = 10)
      .collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getDouble(4)))
      .toMap
    // en-exclusive "hello": tf 2, df 2 → weight 1.0
    assert(r(("en", "hello")) == (2L, 2L, 1.0))
    // "shared" appears in all 3 docs: en tf 2 / df 3, de tf 1 / df 3
    assert(r(("en", "shared")) == (2L, 3L, 2.0 / 3.0))
    assert(r(("de", "shared")) == (1L, 3L, 1.0 / 3.0))
    // de-exclusive terms carry weight 1.0 and outrank "shared"
    assert(r(("de", "hallo")) == (1L, 1L, 1.0))
  }

  test("repetition: top bigram run and duplicate-word fraction") {
    val df = Seq(
      // "a b" occurs 3× (positions 1,3,5), 8 words, 3 distinct
      (1L, "a b a b a b c c"),
      // all distinct: top bigram count 1, dup frac 0
      (2L, "one two three four"),
      // single word: no bigrams at all
      (3L, "solo")
    ).toDF("doc_id", "text")
    val r = df.select($"doc_id",
        TextOps.topBigramCount($"text").as("top"),
        TextOps.dupWordFrac($"text").as("dup"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) == (3L, (8.0 - 3.0) / 8.0))
    assert(r(2L) == (1L, 0.0))
    assert(r(3L) == (0L, 0.0))
  }

  test("topBigramCount: native expression equals the HOF twin on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val d = docs.select(
      TextOps.topBigramCount($"text").as("native"),
      TextOpsTwins.topBigramCountHof($"text").as("hof"))
    assert(d.filter($"native" =!= $"hof").count() == 0)
    assert(d.filter($"native" > 1).count() > 0) // corpus actually repeats
    // null text → NULL from both formulations
    val n = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(TextOps.topBigramCount($"text").as("native"),
        TextOpsTwins.topBigramCountHof($"text").as("hof"))
      .collect().head
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("simhashNearDupPairs: identical pair found with hamming 0") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val pairs = TextOps.simhashNearDupPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("simhashNearDupPairs: recall exactly 1 vs brute-force all-pairs " +
    "at the default (hamming ≤ 3, 4 chunks) operating point") {
    // Long base docs plus 1-3-word-swapped variants: a single swapped
    // token moves each of the 48 sign sums by ±2, so variants of a
    // 60-token doc land at SMALL nonzero hamming (some ≤ 3, some above)
    // while unrelated docs sit far away; brute-force is ground truth.
    val rnd = new scala.util.Random(13)
    val vocab = Vector("data", "spark", "scale", "join", "hash", "text",
      "near", "dup", "band", "chunk", "corpus", "token", "plan", "agg",
      "sort", "scan", "read", "write", "map", "key")
    val docs = (0 until 10).flatMap { g =>
      val base = Vector.fill(60)(vocab(rnd.nextInt(vocab.size)))
      (0 until 4).map { v =>
        val d = (1 to v).foldLeft(base)((acc, _) =>
          acc.updated(rnd.nextInt(acc.size), vocab(rnd.nextInt(vocab.size))))
        (g * 4L + v + 1L, d.mkString(" "))
      }
    }
    val df = docs.toDF("doc_id", "text")
    val sh = TextOps.simhash(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)).sorted
    val got = TextOps.simhashNearDupPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(expected.nonEmpty, "fixture must exercise the threshold")
    assert(got == expected)
  }

  test("chunkTokens: overlap, tail chunk, short docs, empty docs") {
    // 10 tokens, size 4, stride 3 ⇒ chunks [0,4) [3,7) [6,10): the last
    // stride lands exactly on the tail, overlap is size - stride = 1
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, "a b"),    // shorter than one chunk → one short chunk
      (3L, "   "),    // whitespace only → zero chunks
      (4L, "x y z w") // exactly one chunk, no second
    ).toDF("doc_id", "text")
    val got = TextOps.chunkTokens(docs, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == Seq((1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 4L),
      (2L, 0L, 2L), (4L, 0L, 4L)))
    // overlapping chunks of the same doc differ, identical docs chunk alike
    val md = TextOps.chunkTokens(docs, "doc_id", "text", 4, 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(3))).toMap
    assert(md((1L, 0L)) != md((1L, 1L)))
    val twin = Seq((9L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val tw = TextOps.chunkTokens(twin, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(1), r.getString(3))).toMap
    assert((0L to 2L).forall(i => tw(i) == md((1L, i))),
      "chunking is content-determined, not id-determined")
  }

  test("chunkTokens: agrees with a driver-side scan on real documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextOps.chunkTokens(docs, "doc_id", "text", 64, 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val expected = docs.select($"doc_id", $"text").collect().flatMap { r =>
      val toks = Option(r.getString(1)).getOrElse("")
        .toLowerCase.split("\\s+").filter(_.nonEmpty)
      val n = toks.length
      if (n == 0) Seq.empty
      else (0L to ((math.max(n - 64, 0) + 47) / 48).toLong).map { i =>
        (r.getLong(0), i, math.min(i * 48 + 64, n) - i * 48)
      }
    }.sorted.toSeq
    assert(got == expected)
  }

  test("wordEntropy: hand cases — uniform max, single-token zero, " +
    "spam low, tokenless absent") {
    val docs = Seq(
      (1L, "a b c d"),      // uniform over 4 → ln 4
      (2L, "a a a a"),      // one word → 0
      (3L, "x"),            // single token → exactly 0.0
      (4L, ""),             // tokenless → absent
      (5L, "a a b b")       // two × two → ln 2
    ).toDF("doc_id", "text")
    val got = TextOps.wordEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(
      1L -> ((4L, r6(math.log(4.0)))),
      2L -> ((4L, 0.0)),
      3L -> ((1L, 0.0)),
      5L -> ((4L, r6(math.log(2.0))))))
    // the quality story: both these docs repeat 75% of their words, so
    // dupWordFrac cannot tell them apart — entropy separates one-word
    // spam (0) from two-word repetition (ln 2) at EQUAL dup frac:
    val same = Seq((6L, "a a a a"), (7L, "a a a a b b b b"))
      .toDF("doc_id", "text")
    val dup = same.select(col("doc_id"), TextOps.dupWordFrac(col("text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dup(6L) == dup(7L)) // indistinguishable to the repeat fraction
    val ent = TextOps.wordEntropy(same, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ent(6L) < ent(7L))  // entropy separates them
  }

  test("adaptiveTokenFloor: interpolated quantile threshold, inclusive; " +
    "empty input degrades") {
    // token counts 1..8; p25 position = 7 * 0.25 = 1.75 between sorted
    // values 2 and 3 -> threshold 2.75 -> docs with >= 3 tokens survive
    val docs = (1L to 8L)
      .map(i => (i, (1L to i).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val kept = TextOps.adaptiveTokenFloor(docs, "doc_id", "text", q = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(kept == (3L to 8L).map(i => (i, i)))
    assert(TextOps.adaptiveTokenFloor(
      docs.filter(lit(false)), "doc_id", "text", q = 0.25).count() == 0)
    intercept[IllegalArgumentException] {
      TextOps.adaptiveTokenFloor(docs, "doc_id", "text", q = 1.0)
    }
    // the approx path keeps the same shape (GK sketch is exact at n=8)
    val approx = TextOps.adaptiveTokenFloor(docs, "doc_id", "text",
      q = 0.25, exact = false)
      .collect().map(r => r.getLong(0)).toSet
    assert(approx.subsetOf((1L to 8L).toSet) && approx.size >= 6)
  }

  test("buildVocab: freq-desc ids with lexical tiebreak, k cap, minFreq") {
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a d C c")  // lowercased: ties a=3/b=3 broken lexically
    ).toDF("doc_id", "text")
    val vocab = TextOps.buildVocab(docs, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(vocab.toSeq == Seq(("a", 1L, 3L), ("b", 2L, 3L), ("c", 3L, 3L)))
    // minFreq drops the singleton before ranking
    val floored = TextOps.buildVocab(docs, "text", k = 10, minFreq = 2L)
      .collect().map(_.getString(0)).toSet
    assert(floored == Set("a", "b", "c"))
    // rerun is bit-identical (total order, no hash-iteration anywhere)
    val again = TextOps.buildVocab(docs, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == vocab.toSeq)
    intercept[IllegalArgumentException] {
      TextOps.buildVocab(docs, "text", k = 0)
    }
  }

  test("encodeWithVocab: in-vocab ids, OOV→0, md5 over the id sequence, " +
    "empty docs dropped") {
    val train = Seq((1L, "a a b")).toDF("doc_id", "text")
    val vocab = TextOps.buildVocab(train, "text", k = 10) // a→1, b→2
    val docs = Seq(
      (10L, "a b zzz A"), // 4 tokens (lowered), zzz is OOV
      (11L, "   ")        // tokenless — dropped
    ).toDF("doc_id", "text")
    val got = TextOps.encodeWithVocab(docs, "doc_id", "text", vocab)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(got.length == 1)
    val (id, n, oov, h) = got(0)
    assert(id == 10L && n == 4L && oov == 1L)
    // the certified sequence is "1 2 0 1"
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("1 2 0 1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(h == expected)
    intercept[IllegalArgumentException] {
      TextOps.encodeWithVocab(docs, "doc_id", "text", vocab.limit(0))
    }
  }

  test("encodeWithVocab: the broadcast carrier is bit-equal to the " +
      "literal path, and an above-ceiling vocabulary dispatches to it " +
      "end-to-end") {
    val docs = Seq(
      (1L, "tok1 tok2 zzz tok3"),
      (2L, "tok4999 tok5000 tok1"),
      (3L, "all oov here")
    ).toDF("doc_id", "text")
    // a synthetic 5000-entry vocabulary: over LiteralVocabCeiling, so
    // the PUBLIC path must take the broadcast carrier
    assert(5000 > TextOps.LiteralVocabCeiling)
    val big = (1 to 5000).map(i => (s"tok$i", i.toLong, 1L))
      .toDF("token", "id", "freq")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val viaPublic = rows(
      TextOps.encodeWithVocab(docs, "doc_id", "text", big))
    // hand expectation for doc 1: ids "1 2 0 3"
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("1 2 0 3".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(viaPublic.head == ((1L, 4L, 1L, h)), s"${viaPublic.head}")
    assert(viaPublic(2)._3 == 3L, "doc 3 is all-OOV")
    // bit-equality of the two transports at a sub-ceiling size: run the
    // bcast column builder directly against the literal public path
    val small = (1 to 10).map(i => (s"tok$i", i.toLong, 1L))
      .toDF("token", "id", "freq")
    val entries = small.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val bc = TextOps.bcastIds(entries)
    val viaBcast = docs.filter($"text".isNotNull)
      .withColumn("_ids", bc(split(lower($"text"), "\\s+")))
      .select($"doc_id", $"_ids").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val vmap = typedLit(entries)
    val viaLit = docs.filter($"text".isNotNull)
      .withColumn("_ids", transform(split(lower($"text"), "\\s+"),
        t => coalesce(element_at(vmap, t), lit(0L))))
      .select($"doc_id", $"_ids").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(viaBcast == viaLit)
  }

  test("mergeTermFrequencies(history, batch) ranks identically to the " +
    "from-scratch vocab at any split") {
    val docs = Seq(
      (1L, "x x y z"), (2L, "y z z q"), (3L, "x q q q w")
    ).toDF("doc_id", "text")
    def vocabOf(df: org.apache.spark.sql.DataFrame) =
      TextOps.buildVocab(df, "text", k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val full = vocabOf(docs)
    Seq(1L, 2L, 3L).foreach { cut =>
      val merged = TextOps.vocabFromTf(
        TextOps.mergeTermFrequencies(
          TextOps.termFrequencies(docs.filter($"doc_id" < cut), "text"),
          TextOps.termFrequencies(docs.filter($"doc_id" >= cut), "text")),
        k = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(merged == full, s"split at $cut drifted")
    }
  }

  test("freqSpectrum: distinct terms per exact occurrence count, hapaxes " +
    "in the freq=1 row") {
    // tf over "x x y z | y z z q | x q q q w":
    // x=3 y=2 z=3 q=4 w=1 → spectrum: 1→{w}, 2→{y}, 3→{x,z}, 4→{q}
    val docs = Seq(
      (1L, "x x y z"), (2L, "y z z q"), (3L, "x q q q w")
    ).toDF("doc_id", "text")
    val got = TextOps.freqSpectrum(TextOps.termFrequencies(docs, "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("pmiBigrams: hand-counted probabilities, the min-count cut, and " +
    "the (pmi, x, y) tie order") {
    // docs "a b a b" | "a b c": bigrams (a,b)=3 (b,a)=1 (b,c)=1, N2=5;
    // unigrams a=3 b=3 c=1, N1=7.
    // pmi(a,b) = ln((3/5)/((3/7)(3/7))), pmi(b,c) = ln((1/5)/((3/7)(1/7)))
    // — algebraically BOTH are ln(49/15): a genuine tie, broken by (x,y)
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    def pmiOf(nxy: Long, n2: Long, cx: Long, cy: Long, n1: Long): Double =
      BigDecimal(math.log((nxy.toDouble / n2.toDouble) /
          ((cx.toDouble / n1.toDouble) * (cy.toDouble / n1.toDouble))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cut = TextOps.pmiBigrams(docs, "text", minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(cut.toSeq == Seq(("a", "b", 3L, pmiOf(3, 5, 3, 3, 7))),
      s"got ${cut.toSeq}")
    val top2 = TextOps.pmiBigrams(docs, "text", minCount = 1L, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(top2 == Seq(("a", "b"), ("b", "c")), s"tie order broke: $top2")
  }

  test("vocabGrowth: new terms land in their first-occurrence bucket; " +
    "cumulative tokens and vocabulary run over bucket order") {
    val docs = Seq(
      (0L, "x y"), (1L, "x z"), (2L, "y w"), (3L, ""), (5L, "v x")
    ).toDF("doc_id", "text")
    val got = TextOps.vocabGrowth(docs, "doc_id", "text", bucketWidth = 2L)
      .orderBy($"bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (0L, 2L, 4L, 3L, 4L, 3L), // docs 0,1: tokens x y x z → new x,y,z
      (1L, 2L, 2L, 1L, 6L, 4L), // docs 2,3 (empty counts, mints nothing)
      (2L, 1L, 2L, 1L, 8L, 5L)  // doc 5: v is new, x is not
    ), s"got ${got.toSeq}")
  }

  test("vocabGrowth standing state merges to the from-scratch curve at " +
    "ANY split — even id-interleaved (min/sum associativity)") {
    val docs = Seq(
      (0L, "x y"), (1L, "x z"), (2L, "y w"), (3L, "q"), (5L, "v x q")
    ).toDF("doc_id", "text")
    val full = TextOps.vocabGrowth(docs, "doc_id", "text", 2L)
      .orderBy($"bucket").collect().map(_.toSeq).toSeq
    // prefix split (the streaming/history shape) AND parity split (an
    // interleave no prefix-based index would survive — min-merge does)
    Seq($"doc_id" < 2L, $"doc_id" % 2 === 0).foreach { half =>
      val (a, b) = (docs.filter(half), docs.filter(!half))
      val merged = TextOps.vocabGrowthFrom(
          TextOps.mergeDocBucketStats(
            TextOps.docBucketStats(a, "doc_id", "text", 2L),
            TextOps.docBucketStats(b, "doc_id", "text", 2L)),
          TextOps.mergeFirstOccurrences(
            TextOps.firstOccurrences(a, "doc_id", "text"),
            TextOps.firstOccurrences(b, "doc_id", "text")),
          2L)
        .orderBy($"bucket").collect().map(_.toSeq).toSeq
      assert(merged == full, s"split drifted: $merged vs $full")
    }
  }

  test("readability: hand-computed LIX, floor-1 sentences, NULL and " +
    "empty texts degrade to NULL lix") {
    val docs = Seq(
      // 8 words, 2 sentences, 2 long (>6 chars incl. punctuation)
      (1L, "the reading carefully. measured text is quite plain?"),
      (2L, "no terminal punctuation here"), // 4 words, floor-1 sentence
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextOps.readability(docs, "text")
      .select("doc_id", "n_words", "n_sentences", "n_long", "lix")
      .collect().map(r => r.getLong(0) -> r).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L).getLong(1) == 8L && got(1L).getLong(2) == 2L)
    assert(got(1L).getLong(3) == 3L, "reading + carefully. + measured")
    assert(got(1L).getDouble(4) == r6(8.0 / 2.0 + 100.0 * 3.0 / 8.0))
    assert(got(2L).getLong(2) == 1L, "sentence floor")
    assert(got(2L).getLong(3) == 2L, "terminal + punctuation")
    assert(got(2L).getDouble(4) == r6(4.0 + 100.0 * 2.0 / 4.0))
    assert(got(3L).getLong(1) == 0L && got(3L).isNullAt(4))
    assert(got(4L).isNullAt(4))
  }
  test("vocabCoverage: hand-ranked curve with tie-break, TakeOrdered " +
    "candidate cut in the plan, topK validated") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "b b b a a c"), (2L, "a d")).toDF("doc_id", "text")
    val tf = TextOps.termFrequencies(docs, "text")
    val got = TextOps.vocabCoverage(tf, topK = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // freqs: a=3, b=3, c=1, d=1 -> (a before b by term), total 8
    assert(got == Seq((1L, "a", 3L, 0.375), (2L, "b", 3L, 0.75),
      (3L, "c", 1L, 0.875)))
    val plan = TextOps.vocabCoverage(tf, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), plan)
    intercept[IllegalArgumentException] {
      TextOps.vocabCoverage(tf, 0)
    }
  }

  test("ngramDiversity: hand-counted bigram ratio; short docs drop; " +
    "n=1 degenerates to the token type/token ratio") {
    val docs = Seq(("en", "a b a b"), ("en", "x"), ("fr", "c c c"))
      .toDF("lang", "text")
    val got = TextOps.ngramDiversity(docs, "lang", "text", n = 2)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // en: "a b","b a","a b" → 3 grams, 2 distinct; the 1-token doc drops
    // fr: "c c","c c" → 2 grams, 1 distinct
    assert(got == Seq(("en", 3L, 2L, 0.666667), ("fr", 2L, 1L, 0.5)))
    val uni = TextOps.ngramDiversity(docs, "lang", "text", n = 1)
      .orderBy("lang").collect()
    assert(uni.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((5L, 3L), (3L, 1L)), "distinct-1 = type/token counts")
    intercept[IllegalArgumentException] {
      TextOps.ngramDiversity(docs, "lang", "text", n = 0)
    }
  }

  test("goodTuring: hand-computed frequency-of-frequencies, NULL r* at " +
    "a missing next count, n-gram units, bad args rejected") {
    val df = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val got = TextOps.goodTuring(df, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((1L, Some(2.0), 0.166667)))   // r* = 2·N2/N1
    assert(got(2L) == ((1L, Some(3.0), 0.333333)))
    assert(got(3L) == ((1L, None, 0.5)), "N4 = 0 => r* undefined")
    // trigram units: "x y z w" has trigrams "x y z" and "y z w"
    val tri = TextOps.goodTuring(
      Seq((1L, "x y z w"), (2L, "x y z")).toDF("doc_id", "text"),
      "text", gramN = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 1L, 2L -> 1L),
      s"one trigram seen twice, one once: $tri") // x y z: 2, y z w: 1
    intercept[IllegalArgumentException] {
      TextOps.goodTuring(df, "text", rMax = 0)
    }
    intercept[IllegalArgumentException] {
      TextOps.goodTuring(df, "text", gramN = 0)
    }
  }

  test("zipfSlope: a frequency-decaying vocabulary fits a negative " +
    "slope with the replicated moment chain") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // counts: a→8, b→4, c→2 → ranks 1,2,3
    val docs = Seq(("a " * 8) + ("b " * 4) + ("c " * 2)).toDF("text")
    val got = TextOps.zipfSlope(docs, "text", topN = 1000).head()
    val pts = Seq((1.0, 8.0), (2.0, 4.0), (3.0, 2.0))
      .map { case (r, c) => (math.log(r), math.log(c)) }
    val n = 3.0
    val sx = pts.map(p => r12(p._1)).sum
    val sy = pts.map(p => r12(p._2)).sum
    val sxx = pts.map(p => r12(p._1 * p._1)).sum
    val sxy = pts.map(p => r12(p._1 * p._2)).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(got.getLong(0) == 3L)
    assert(got.getDouble(1) == r6(slope) && slope < 0.0, s"$got")
    assert(got.getDouble(3) > 0.9, "near-power-law head fits tightly")
    intercept[IllegalArgumentException] {
      TextOps.zipfSlope(docs, "text", topN = 2)
    }
  }

  test("lexicalDiversity: hand-computed TTR and Guiraud RTTR per " +
    "source") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq(("s1", "a b a"), ("s2", "x y z w"))
      .toDF("source", "text")
    val got = TextOps.lexicalDiversity(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got("s1") == ((3L, 2L, r6(2.0 / 3.0),
      r6(2.0 / math.sqrt(3.0)))), s"$got")
    assert(got("s2") == ((4L, 4L, 1.0, 2.0)), s"$got")
  }

  test("sourceJsMatrix: identical distributions score 0 bits, " +
    "disjoint vocabularies score 1 bit") {
    val docs = Seq(("s1", "a a b"), ("s2", "a a b"), ("s3", "c c d"))
      .toDF("source", "text")
    val got = TextOps.sourceJsMatrix(docs, "source", "text", topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    assert(got(("s1", "s2")) == 0.0, s"$got")
    assert(got(("s1", "s3")) == 1.0 && got(("s2", "s3")) == 1.0,
      "disjoint supports are maximally divergent")
  }

  test("coverageTargets: hand-computed mass curve — each target picks " +
    "the smallest qualifying rank") {
    import org.apache.spark.sql.functions.col
    val counts = Seq(("a", 6L), ("b", 3L), ("c", 1L)).toDF("_t", "_c")
    val got = TextOps.coverageTargets(counts, Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got(0.5) == ((1L, 0.6)), s"$got")
    assert(got(0.9) == ((2L, 0.9)), s"$got")
    assert(got(0.99) == ((3L, 1.0)), s"$got")
    intercept[IllegalArgumentException] {
      TextOps.coverageTargets(counts, Seq(1.5))
    }
  }

  test("coverageTargets: value-grouped arithmetic agrees with the " +
    "brute-force ranked reference on tie-heavy and random vocabularies") {
    import org.apache.spark.sql.functions.col
    // brute force: the ORIGINAL ranked semantics — sort (count desc,
    // term asc), per-rank share = cum/total (double), smallest rank
    // whose share >= target
    def reference(counts: Seq[(String, Long)], targets: Seq[Double])
        : Map[Double, (Long, Double)] = {
      val ranked = counts.sortBy { case (t, c) => (-c, t) }
      val total = counts.map(_._2).sum.toDouble
      var cum = 0L
      val shares = ranked.zipWithIndex.map { case ((_, c), i) =>
        cum += c
        (i + 1L, cum.toDouble / total)
      }
      targets.map { tg =>
        val (k, s) = shares.find(_._2 >= tg).get
        tg -> ((k, BigDecimal(s).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.toMap
    }
    def run(counts: Seq[(String, Long)], targets: Seq[Double])
        : Map[Double, (Long, Double)] =
      TextOps.coverageTargets(counts.toDF("_t", "_c"), targets)
        .collect()
        .map(r => r.getDouble(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
    // tie-heavy: 5 terms at count 4, 10 terms at count 1 — targets land
    // inside tie groups, exactly on group boundaries, and at 1.0
    val tieHeavy = ('a' to 'e').map(c => c.toString -> 4L) ++
      (1 to 10).map(i => f"t$i%02d" -> 1L)
    val targets1 = Seq(4.0 / 30.0, 0.5, 0.7, 1.0)
    assert(run(tieHeavy, targets1) == reference(tieHeavy, targets1))
    // randomized heavy-tailed vocabulary
    val rng = new scala.util.Random(7)
    val rand = (1 to 60).map(i =>
      f"w$i%03d" -> (1L + rng.nextInt(1 + rng.nextInt(30))))
    val targets2 = Seq(0.1, 0.25, 0.5, 0.9, 0.99)
    assert(run(rand, targets2) == reference(rand, targets2))
  }

  test("templateCensus: digit-masked skeletons group templated docs; " +
    "unique docs stay singletons") {
    val docs = Seq(
      "Order 1 shipped to client 7", "Order 2 shipped to client 14",
      "Order 99 shipped to client 693", "a unique document",
      "another unique one").toDF("text")
    val got = TextOps.templateCensus(docs, "text").head()
    assert(got.getLong(0) == 5L && got.getLong(1) == 3L)
    assert(got.getLong(2) == 1L, "one template family")
    assert(got.getLong(3) == 3L && got.getLong(4) == 3L, s"$got")
    val none = TextOps.templateCensus(
      Seq("x", "y").toDF("text"), "text").head()
    assert(none.getLong(2) == 0L && none.getLong(4) == 0L)
  }

  test("piiCensus: injected emails and digit runs are counted per " +
    "source; clean text reports zero") {
    val docs = Seq(
      ("s1", "reach me at a.b@example.com or c@d.org thanks"),
      ("s1", "clean text without identifiers"),
      ("s2", "card 12345678 and phone 5551234567 here"))
      .toDF("source", "text")
    val got = TextOps.piiCensus(docs, "source", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got("s1") == ((2L, 1L, 2L, 0L, 0L)), s"$got")
    assert(got("s2") == ((1L, 0L, 0L, 1L, 2L)), s"$got")
  }

  test("chao1: hand-computed richness estimate — hapaxes project " +
    "unseen vocabulary, a saturated corpus stays at V") {
    val docs = Seq("a a b c").toDF("text")
    val got = TextOps.chao1(docs, "text").head()
    // V=3, f1=2 (b,c), f2=1 (a) → 3 + 2·1/(2·2) = 3.5
    assert(got.getLong(0) == 3L && got.getLong(1) == 2L &&
      got.getLong(2) == 1L)
    assert(got.getDouble(3) == 3.5, s"$got")
    // every type seen twice → no projected unseen mass
    val sat = Seq("x y x y").toDF("text")
    val s = TextOps.chao1(sat, "text").head()
    assert(s.getLong(1) == 0L && s.getDouble(3) == 2.0)
  }

  test("llrBigrams: hand-computed G² on a planted collocation; " +
    "minCount gates attestation; k bounds the output") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq("a b", "c d", "a b", "c e").toDF("text")
    val got = TextOps.llrBigrams(docs, "text", minCount = 2L, k = 10)
      .collect()
    assert(got.length == 1, "only (a,b) is attested twice")
    val ab = got.head
    // 2x2: O = [[2,0],[0,2]], N=4 → G² = 2·(2ln2 + 2ln2) = 8 ln 2
    val t = 2.0 * math.log((2.0 / 4.0) / ((2.0 / 4.0) * (2.0 / 4.0)))
    assert(ab.getString(0) == "a" && ab.getString(1) == "b" &&
      ab.getLong(2) == 2L)
    assert(ab.getDouble(3) == r6(2.0 * (t + 0.0 + 0.0 + t)), s"$ab")
    // at minCount 1 the hapax pairs appear but rank BELOW the
    // attested collocation — the anti-PMI property
    val all = TextOps.llrBigrams(docs, "text", minCount = 1L, k = 10)
      .collect()
    assert(all.head.getString(0) == "a" && all.length == 3)
    assert(all.tail.forall(_.getDouble(3) < all.head.getDouble(3)))
    intercept[IllegalArgumentException] {
      TextOps.llrBigrams(docs, "text", k = 0)
    }
  }

  test("rougeN: hand-computed clipped bigram overlap — repeats clip " +
    "at the reference count") {
    import org.apache.spark.sql.functions.col
    val pairs = Seq(
      (1L, 2L, "the cat sat on the mat", "the cat sat on the cat"),
      (3L, 4L, "a b a b", "a b a b a b"))
      .toDF("aid", "bid", "ta", "tb")
    val got = TextOps.rougeN(pairs, col("aid"), col("bid"),
      col("ta"), col("tb"), n = 2).collect()
    val p1 = got.find(_.getLong(0) == 1L).get
    // clip = 4 of 5/5 grams → R = P = F = 0.8
    assert(p1.getLong(2) == 5L && p1.getLong(3) == 5L &&
      p1.getLong(4) == 4L)
    assert(p1.getDouble(5) == 0.8 && p1.getDouble(6) == 0.8 &&
      p1.getDouble(7) == 0.8, s"$p1")
    val p2 = got.find(_.getLong(0) == 3L).get
    // a: {ab:2, ba:1}; b: {ab:3, ba:2} → clip 3; R=1, P=0.6, F=0.75
    assert(p2.getLong(4) == 3L)
    assert(p2.getDouble(5) == 1.0 && p2.getDouble(6) == 0.6 &&
      p2.getDouble(7) == 0.75, s"$p2")
  }

  test("rougeN: a side shorter than n grams yields NULL ratios and " +
    "zero clip; disjoint texts score zero with NULL f1") {
    import org.apache.spark.sql.functions.col
    val pairs = Seq(
      (1L, 2L, "only", "the cat sat"),
      (3L, 4L, "a b c", "x y z"))
      .toDF("aid", "bid", "ta", "tb")
    val got = TextOps.rougeN(pairs, col("aid"), col("bid"),
      col("ta"), col("tb"), n = 2).collect()
    val short = got.find(_.getLong(0) == 1L).get
    assert(short.getLong(2) == 0L && short.getLong(4) == 0L)
    assert(short.isNullAt(5) && short.isNullAt(6) && short.isNullAt(7))
    val disj = got.find(_.getLong(0) == 3L).get
    assert(disj.getLong(4) == 0L)
    assert(disj.getDouble(5) == 0.0 && disj.getDouble(6) == 0.0)
    assert(disj.isNullAt(7), "P + R = 0 leaves f1 undefined")
    intercept[IllegalArgumentException] {
      TextOps.rougeN(pairs, col("aid"), col("bid"), col("ta"),
        col("tb"), n = 0)
    }
  }

  test("rougeN: NULL text clips to 0 (the exploded formulation's " +
    "convention), with NULL gram count and ratios on that side") {
    import org.apache.spark.sql.functions.col
    val pairs = Seq(
      (1L, 2L, null.asInstanceOf[String], "the cat sat"),
      (3L, 4L, "a b c", null.asInstanceOf[String]))
      .toDF("aid", "bid", "ta", "tb")
    val got = TextOps.rougeN(pairs, col("aid"), col("bid"),
      col("ta"), col("tb"), n = 2).collect()
    got.foreach { r =>
      assert(r.getLong(4) == 0L, s"clip must coalesce to 0, got $r")
      assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7))
    }
    assert(got.find(_.getLong(0) == 1L).get.isNullAt(2)) // n_a NULL
    assert(got.find(_.getLong(0) == 3L).get.isNullAt(3)) // n_b NULL
  }
}
