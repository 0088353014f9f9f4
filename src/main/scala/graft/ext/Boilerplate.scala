package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Line-frequency boilerplate removal — the CCNet-style cleanup a web
 * corpus runs before training: navigation menus, cookie banners, and
 * footers repeat VERBATIM across a site's pages, so a line whose
 * document frequency within its group (site/domain/source) reaches a
 * threshold is template, not content, and is cut from every document
 * (CCNet deduplicates paragraphs by hash across shards; Gopher/RefinedWeb
 * apply the same rule at line level).
 *
 * Semantics (deterministic, engine-replayable — the q123 oracle): lines
 * are `split(text, "\n")` with positions; a line's KEY is its trimmed
 * form; empty keys are never boilerplate (blank separators are layout,
 * not template); a key whose distinct-document count within its group is
 * `>= minDocs` is cut wherever it appears; each document rebuilds from
 * its surviving lines in original order. Returns one row per input
 * document: `(idCol, text_clean, n_cut)` — a fully-template document
 * comes back as the empty string, not a dropped row, and a NULL-text
 * document comes back with NULL `text_clean` and zero cuts, not a
 * forged empty string (the caller decides what to discard; losing or
 * inventing a row would silently change corpus membership).
 *
 * Scale shape: the explode is narrow (each doc pays its own line count);
 * the frequency pass is one hash aggregate on `(group, key)` with
 * partial aggregation; the cut is a shuffled left-anti equi-join on the
 * same key (boilerplate sets are corpus-derived — never assume they
 * broadcast); the rebuild groups by document, and the per-group
 * `collect_list` buffer is one document's own lines — bounded by the
 * longest single document, the same bound the corpus already imposes on
 * any whole-doc operator.
 */
object Boilerplate {

  /** Positioned, trim-keyed line explode shared by every path. */
  private def linesOf(base: DataFrame, idCol: String): DataFrame =
    base
      .select(col(idCol), col("_grp"),
        posexplode(split(col("_text"), "\n")).as(Seq("_pos", "_line")))
      .withColumn("_key", trim(col("_line")))

  private def baseOf(
      docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame =
    docs.select(col(idCol), col(groupCol).as("_grp"), col(textCol).as("_text"))

  /** The shared cut-and-rebuild core: drop every line whose `(grp, key)`
    * is in `boiler`, reassemble survivors in position order. ONE
    * implementation under the self-contained and indexed paths, so the
    * two can never drift. */
  private def stripWith(
      base: DataFrame, boiler: DataFrame, idCol: String): DataFrame = {
    val rebuilt = linesOf(base, idCol)
      .join(boiler.select(col("_grp"), col("_key")), Seq("_grp", "_key"),
        "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
            x => x.getField("_line")), "\n").as("_clean"),
        count(lit(1)).as("_nkept"))
    base
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        // NULL text stays NULL (it has no lines to cut — '' would forge
        // an empty document out of an absent one); the '' case is
        // reserved for documents whose every line was cut
        when(col("_text").isNull, lit(null: String))
          .otherwise(coalesce(col("_clean"), lit(""))).as("text_clean"),
        when(col("_text").isNull, lit(0L))
          .otherwise(size(split(col("_text"), "\n"))
            - coalesce(col("_nkept"), lit(0L)))
          .cast("long").as("n_cut"))
  }

  def stripBoilerplate(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      groupCol: String = "source", minDocs: Long = 5L): DataFrame = {
    require(minDocs >= 2, s"minDocs < 2 would cut every non-blank line: $minDocs")
    val base = baseOf(docs, idCol, textCol, groupCol)
    val boiler = linesOf(base, idCol).filter(length(col("_key")) > 0)
      .groupBy(col("_grp"), col("_key"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDocs)
    stripWith(base, boiler, idCol)
  }

  /**
   * The PERSISTED form of the line-frequency table: one row per
   * `(grp, key)` with its distinct-document count — derive once per
   * corpus generation, persist as parquet, and cut any number of
   * batches against it with [[stripBoilerplateIndexed]] (the standing-
   * index symmetry every screen family here has: a daily cut should not
   * re-explode the whole corpus's lines).
   */
  def buildBoilerplateIndex(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      groupCol: String = "source"): DataFrame =
    linesOf(baseOf(docs, idCol, textCol, groupCol), idCol)
      .filter(length(col("_key")) > 0)
      .select(col("_grp"), col("_key"), col(idCol))
      .distinct()
      .groupBy(col("_grp"), col("_key"))
      .agg(count(lit(1)).as("_df"))

  /** [[stripBoilerplate]] against a precomputed
    * [[buildBoilerplateIndex]] table: the batch pays only its own line
    * explode; the corpus-wide frequency knowledge is a bare columnar
    * scan + threshold filter. Same cut core as the self-contained path
    * (can't drift). The threshold applies at CUT time, so one index
    * serves any `minDocs`. */
  def stripBoilerplateIndexed(
      docs: DataFrame, index: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      groupCol: String = "source", minDocs: Long = 5L): DataFrame = {
    require(minDocs >= 2, s"minDocs < 2 would cut every non-blank line: $minDocs")
    stripWith(baseOf(docs, idCol, textCol, groupCol),
      index.filter(col("_df") >= minDocs), idCol)
  }
}
