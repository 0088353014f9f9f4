package graft.ext

import graft.GraftSpec

class BoilerplateSpec extends GraftSpec {
  import spark.implicits._

  // site A: 3 pages sharing a nav line and a footer; site B: 2 pages
  // sharing a line that is ALSO site A's nav (groups are independent)
  private lazy val docs = Seq(
    (1L, "A", "Home | About | Contact\nunique one\n\n(c) site A"),
    (2L, "A", "Home | About | Contact\nunique two\n(c) site A"),
    (3L, "A", "Home | About | Contact\nunique three\n(c) site A"),
    (4L, "B", "Home | About | Contact\npage four"),
    (5L, "B", "page five\n  Home | About | Contact  ")
  ).toDF("doc_id", "source", "text")

  test("lines at the group threshold are cut everywhere; unique lines, " +
    "blanks, and under-threshold groups survive") {
    val got = Boilerplate.stripBoilerplate(docs, minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    // site A (3 docs): nav and footer both reach df=3 → cut; the blank
    // line in doc 1 survives (blank keys are never boilerplate)
    assert(got(1L) == (("unique one\n", 1L + 1L)))
    assert(got(2L) == (("unique two", 2L)))
    assert(got(3L) == (("unique three", 2L)))
    // site B (2 docs < minDocs): its copies of the SAME nav line survive —
    // frequency is counted within the group, not globally
    assert(got(4L) == (("Home | About | Contact\npage four", 0L)))
    assert(got(5L) == (("page five\n  Home | About | Contact  ", 0L)))
  }

  test("trim-keyed matching cuts indented copies but preserves surviving " +
    "lines' original bytes; a fully-template doc becomes empty, not " +
    "dropped") {
    // doc 6's nav is indented — trim-keyed, it still matches site A's nav
    val withIndented = docs.unionByName(Seq(
      (6L, "A", "   Home | About | Contact   "),
      (7L, "A", "(c) site A")
    ).toDF("doc_id", "source", "text"))
    val got = Boilerplate.stripBoilerplate(withIndented, minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(6L) == (("", 1L)), "indented template copy must be cut")
    assert(got(7L) == (("", 1L)), "fully-template doc stays as a row")
    assert(got.size == 7)
    // survivors keep their exact original bytes (doc 5's padded line)
    assert(got(5L)._1 == "page five\n  Home | About | Contact  ")
  }

  test("a NULL-text document keeps its row: NULL text_clean, zero cuts — " +
    "neither dropped nor forged into an empty string") {
    val withNull = docs.unionByName(Seq(
      (9L, "A", Option.empty[String])
    ).toDF("doc_id", "source", "text"))
    val got = Boilerplate.stripBoilerplate(withNull, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2)))).toMap
    assert(got.size == 6)
    assert(got(9L) == ((None, 0L)))
    // and the NULL row neither votes in frequencies nor perturbs others
    assert(got(2L) == ((Some("unique two"), 2L)))
  }

  test("minDocs guard") {
    intercept[IllegalArgumentException] {
      Boilerplate.stripBoilerplate(docs, minDocs = 1)
    }
    intercept[IllegalArgumentException] {
      Boilerplate.stripBoilerplateIndexed(docs,
        Boilerplate.buildBoilerplateIndex(docs), minDocs = 0)
    }
  }

  test("indexed strip == self-contained strip; one index serves any threshold") {
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    val idx = Boilerplate.buildBoilerplateIndex(docs)
    assert(snap(Boilerplate.stripBoilerplateIndexed(docs, idx, minDocs = 3))
      == snap(Boilerplate.stripBoilerplate(docs, minDocs = 3)))

    // one index serves any threshold: the cut applies minDocs at strip
    // time, so a stricter screen needs no rebuild
    assert(snap(Boilerplate.stripBoilerplateIndexed(docs, idx, minDocs = 2))
      == snap(Boilerplate.stripBoilerplate(docs, minDocs = 2)))
  }
}
