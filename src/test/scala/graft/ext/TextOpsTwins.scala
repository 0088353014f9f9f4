package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps.{langMarkers, simhashBits, tokens}

/**
 * The built-ins-only formulations of [[TextOps]]' native expressions,
 * kept as the twins the specs check each native expression against; the
 * relational ones are also the shapes the DuckDB oracles mirror.
 */
object TextOpsTwins {

  /** HOF formulation of [[TextOps.tokens]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against. */
  private[graft] def tokensHof(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  private def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(markers), t)))

  /** Relational formulation of [[TextOps.langId]] — the engine-agnostic
    * semantics reference the spec checks the native expression
    * against; also the shape the DuckDB oracle mirrors. */
  private[graft] def langIdRelational(text: Column): Column = {
    val toks   = tokens(text)
    val scores = langMarkers.map { case (code, ms) => code -> markerHits(toks, ms) }
    val best   = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((code, s), acc) =>
      when(best > 0 && s === best, lit(code)).otherwise(acc)
    }
  }

  /** All word bigrams of the token array in order, repeats kept — the
    * frequency-bearing variant of [[Dedup.shingles]] (which distincts). */
  private[ext] def bigramsAll(toks: Column): Column = {
    val z = arrays_zip(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
    transform(
      filter(z, x => x.getField("0").isNotNull && x.getField("1").isNotNull),
      x => concat_ws(" ", x.getField("0"), x.getField("1")))
  }

  /** Occurrence count of the most frequent element of a string array,
    * computed per row: sort, then scan runs inside one `aggregate` HOF.
    * O(k log k) per row and ZERO shuffle — the mode-by-groupBy formulation
    * would explode 100 TB of corpus into a corpus-sized shuffle to answer
    * a per-document question. Empty array → 0. */
  private[ext] def topRunCount(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** HOF formulation of [[TextOps.topBigramCount]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against. */
  private[ext] def topBigramCountHof(text: Column): Column =
    topRunCount(bigramsAll(tokens(text)))

  /** HOF formulation of [[TextOps.topTokenCount]] — kept as the engine-agnostic
    * semantics reference the spec checks the native expression against:
    * for every distinct token, re-filter the array and count, then max. */
  private[graft] def topTokenCountHof(toks: Column): Column =
    array_max(transform(array_distinct(toks),
      w => size(filter(toks, x => x === w))))

  /** Relational formulation of [[TextOps.simhash]] — explode tokens, one md5 per
    * token, 48 map-side partial sums in one hash aggregate (O(tokens) rows
    * through a partial agg, not O(tokens × 48)). Kept as the
    * engine-agnostic semantics reference the spec checks the native
    * expression against; also the shape the DuckDB oracle mirrors. */
  private[graft] def simhashRelational(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .withColumn("h", md5(col("t")))
    val sums: Seq[Column] = (0 until simhashBits).map { j =>
      val digit = instr(lit("0123456789abcdef"), substring(col("h"), j / 4 + 1, 1)) - 1
      val bit   = shiftright(digit, j % 4).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val packed = (0 until simhashBits).reverse
      .foldLeft(lit(0L): Column)((acc, j) =>
        acc * 2 + when(col(s"s$j") > 0, 1L).otherwise(0L))
    tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }
}
