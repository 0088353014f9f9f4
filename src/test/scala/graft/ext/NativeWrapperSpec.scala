package graft.ext

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSpec
import graft.clf.ClfParser
import graft.functions._

/** Each production wrapper must put its own native expression into the
  * analyzed plan. The value specs compare a native expression against its
  * built-in twin, so they would still pass if a wrapper silently built the
  * twin instead; this table pins wrapper → expression class. A wrapper
  * that cuts lineage (`Materialize.cut`) runs the expression inside the
  * cut, so the plans of the actions run while building count too. */
class NativeWrapperSpec extends GraftSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat and the cat ran"),
    (2L, "a dog and the cat sat on a mat"))
    .toDF("doc_id", "text")
  private lazy val emb = Seq(
    (1L, Seq(1.0f, 0.0f, 0.5f, 2.0f)),
    (2L, Seq(0.0f, 1.0f, 1.5f, 1.0f)))
    .toDF("vec_id", "embedding")
  private val cents = Seq((0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 1.0),
    (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1.0))
  private def text = col("text")
  private def vec = col("embedding")

  private lazy val wrappers: Seq[(String, () => DataFrame, Class[_ <: Expression])] = Seq(
    ("TextOps.tokens", () => docs.select(TextOps.tokens(text)),
      classOf[WhitespaceTokens]),
    ("Dedup.shingles", () => docs.select(Dedup.shingles(text)),
      classOf[WordShingles]),
    ("Dedup.minhashSignature",
      () => docs.select(Dedup.minhashSignature(Dedup.shingles(text), 8)),
      classOf[MinHashSignature]),
    ("Similarity.nativeDot", () => emb.select(Similarity.nativeDot(vec, vec)),
      classOf[FloatDotProduct]),
    ("AnnLsh.buckets", () => AnnLsh.buckets(emb, "vec_id", "embedding", 4, 2, 2),
      classOf[LshBuckets]),
    ("AnnLsh.buildLshIndex", () => AnnLsh.buildLshIndex(emb, 4, 2, 2),
      classOf[LshBuckets]),
    ("TextOps.simhash", () => TextOps.simhash(docs, "doc_id", "text"),
      classOf[SimHash48]),
    ("TextOps.compressionRatio", () => docs.select(TextOps.compressionRatio(text)),
      classOf[DeflateLength]),
    ("Scrub.normalize", () => docs.select(Scrub.normalize(text)),
      classOf[UnicodeNormalize]),
    ("FuzzyJoin.jaroWinklerPairs", () => FuzzyJoin.jaroWinklerPairs(docs),
      classOf[JaroWinkler]),
    ("TextOps.langId", () => docs.select(TextOps.langId(text)), classOf[LangId]),
    ("TextOps.qualityScore (tokens)", () => docs.select(TextOps.qualityScore(text)),
      classOf[WhitespaceTokensNoFuse]),
    ("TextOps.qualityScore (markers)", () => docs.select(TextOps.qualityScore(text)),
      classOf[MarkerHits]),
    ("TextOps.qualityScore (lengths)", () => docs.select(TextOps.qualityScore(text)),
      classOf[TokenLengthSum]),
    ("TextOps.topTokenCount",
      () => docs.select(TextOps.topTokenCount(TextOps.tokens(text))),
      classOf[TopTokenCount]),
    ("TextOps.topBigramCount", () => docs.select(TextOps.topBigramCount(text)),
      classOf[TopBigramCount]),
    ("TextOps.rougeN", () => TextOps.rougeN(docs, col("doc_id"), col("doc_id"),
      text, text), classOf[ClippedOverlap]),
    ("Contamination.contaminationBloom (build)",
      () => Contamination.contaminationBloom(docs, docs, "doc_id", "text", 2,
        100L, 1024L), classOf[BloomFilterAggregate]),
    ("Contamination.contaminationBloom (probe)",
      () => Contamination.contaminationBloom(docs, docs, "doc_id", "text", 2,
        100L, 1024L), classOf[BloomFilterMightContain]),
    ("AnnIvf.nearestCells", () => emb.select(AnnIvf.nearestCells(vec, cents, 1)),
      classOf[IvfNearestCells]),
    ("AnnIvf.nearestCellsBcast",
      () => emb.select(AnnIvf.nearestCellsBcast(vec, cents, 1)),
      classOf[IvfNearestCellsBc]),
    ("AnnPq.buildPqIndex", () => AnnPq.buildPqIndex(emb, AnnPq.Codebooks(2, 2,
      Seq(Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)), Seq(Seq(1.0f, 1.0f))))),
      classOf[IvfNearestCells]),
    ("GraphOps.triangleCounts", () => GraphOps.triangleCounts(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst"), "src", "dst"),
      classOf[TriangleCredits]),
    ("VectorOps.matryoshkaEval", () => VectorOps.matryoshkaEval(emb, "vec_id",
      "embedding", Seq(2, 4), 1, col("vec_id") === 1L),
      classOf[PrefixDots]),
    ("SpanDedup.tokenWindows",
      () => SpanDedup.tokenWindows(docs, "doc_id", "text", 3),
      classOf[SpanWindowKey]),
    ("TextOps.bcastIds", () => docs.select(
      TextOps.bcastIds(Map("cat" -> 0L))(TextOps.tokens(text))),
      classOf[VocabEncodeBc]),
    ("ClfParser.parse", () => ClfParser.parse(Seq(
      """10.0.0.1 - 7 [13/Nov/2015:11:45:42 +0000] "GET /a HTTP/1.0" 200 1 "-" "ua"""")
      .toDF("value")), classOf[ClfLine]))

  /** Whether `cls` occurs in the analyzed plan `build` returns or in that
    * of any action it runs. Actions are reported on the asynchronous
    * listener bus, hence the bounded wait. */
  private def holds(build: () => DataFrame, cls: Class[_ <: Expression]): Boolean = {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.analyzed)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def found = plans.asScala.exists(
      _.collectWithSubqueries { case p => p.expressions }.flatten
        .exists(_.exists(cls.isInstance)))
    spark.listenerManager.register(listener)
    try {
      plans.add(build().queryExecution.analyzed)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!found && System.nanoTime() < deadline) Thread.sleep(50)
      found
    } finally spark.listenerManager.unregister(listener)
  }

  test("each wrapper's analyzed plan holds its native expression") {
    val missing = wrappers.filterNot { case (_, build, cls) => holds(build, cls) }
      .map { case (name, _, cls) => s"$name → ${cls.getSimpleName}" }
    assert(missing.isEmpty, missing.mkString("; "))
    Materialize.release(spark)
  }
}
