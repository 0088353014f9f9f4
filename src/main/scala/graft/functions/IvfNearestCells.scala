package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expression: the `nprobe` nearest IVF centroids of an
 * `array<float>` vector — cell ids ordered by ascending (cosine distance,
 * cell id) — with the whole centroid matrix folded into ONE expression
 * node evaluated as two tight JIT'd loops (norm fold, then k distance
 * folds with streaming selection).
 *
 * Why a custom Expression (same SURVEY.md §4 case as [[LshBuckets]], and
 * the lift for the k-ceiling its unrolled predecessor had): the unrolled
 * `least(struct(dist, cell) × k)` / `sort_array(array(...))` formulation
 * emits one codegen'd `graft_dot` term PER CENTROID — at the q33-scale
 * k=16 that is the measured 30s→1.3s win over interpreted HOFs, but at
 * IVF's √N rule a 10⁹-vector corpus wants k in the thousands, where
 * thousands of literal terms in a single projection blow past
 * Janino/JIT method limits and fall back to interpreted evaluation (the
 * exact pathology [[LshBuckets]] documents for 128 plane dots). Here k
 * only sizes a reference-object float matrix, never the generated code:
 * the expression stays a single call inside whole-stage codegen at any k
 * (AnnIvfSpec pins no-CodegenFallback at k=256 and bit-equality with the
 * unrolled form, which AnnIvf keeps as the semantics reference).
 *
 * Three metrics share the one selection loop (see
 * [[IvfNearestCells.metricCodes]]): `cosine` (the default, used by the
 * IVF paths), `l2` (squared euclidean — the PQ
 * sub-codebook metric), and `ip` (negated inner product).
 *
 * Cosine semantics twin the unrolled form, field for field:
 * `dist = 1 - dot/(norm(v)·c_norm)` with the ascending-index double folds
 * of `graft_dot`/[[graft.ext.Similarity.norm]]. An UNDEFINED distance —
 * indeterminate dot (vector/dim length mismatch, null element) or an
 * exactly-zero denominator (zero-norm vector or centroid) — evaluates as
 * `+Infinity`, so undefined sorts LAST and a zero-norm centroid can never
 * capture the corpus. This is the `nullif`-guarded convention of
 * the `Similarity` scoring sites made total: a bare `Divide` would
 * THROW under ANSI mode (Spark 4's default) the first time a zero norm
 * appeared at scale. NaN distances (NaN elements) sort after +Infinity
 * (Spark's double total order = `java.lang.Double.compare`); ties break
 * to the lowest cell id. Null vector → NULL (nearest cell undefined —
 * the row degrades out of the cell equi-join). Output length is
 * `min(nprobe, k)`.
 */
case class IvfNearestCells(
    child: Expression,
    cells: Seq[Long], flat: Seq[Float], norms: Seq[Double],
    dim: Int, nprobe: Int, metric: String = "cosine")
    extends UnaryExpression {
  require(dim > 0, s"bad dim=$dim")
  require(nprobe > 0, s"bad nprobe=$nprobe")
  require(cells.nonEmpty, "graft_ivf_cells requires a non-empty centroid set")
  require(flat.size == cells.size * dim,
    s"centroid matrix size ${flat.size} != k*dim ${cells.size * dim}")
  require(norms.size == cells.size,
    s"norms size ${norms.size} != k ${cells.size}")
  require(IvfNearestCells.metricCodes.contains(metric),
    s"unknown metric '$metric' (one of ${IvfNearestCells.metricCodes.keys.mkString(", ")})")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_cells requires array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ivf_cells"

  @transient private lazy val cellsArr: Array[Long] = cells.toArray
  @transient private lazy val flatArr: Array[Float] = flat.toArray
  @transient private lazy val normsArr: Array[Double] = norms.toArray
  private def metricCode: Int = IvfNearestCells.metricCodes(metric)

  override def nullSafeEval(a: Any): Any =
    IvfNearestCells.compute(a.asInstanceOf[ArrayData],
      cellsArr, flatArr, normsArr, dim, nprobe, metricCode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("ivfCells", cellsArr, "long[]")
    val flatRef = ctx.addReferenceObj("ivfCents", flatArr, "float[]")
    val normsRef = ctx.addReferenceObj("ivfNorms", normsArr, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.IvfNearestCells$$.MODULE$$.compute(" +
        s"$a, $cellsRef, $flatRef, $normsRef, $dim, $nprobe, $metricCode)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfNearestCells =
    copy(child = newChild)
}

/**
 * The centroid matrix as one serializable value — the payload of
 * [[IvfNearestCellsBc]]'s broadcast carrier. Same layout the literal
 * expression holds as fields: cell ids, the row-major flat float matrix,
 * the precomputed norms, and the dimension.
 */
case class IvfCentroidSet(
    cells: Array[Long], flat: Array[Float], norms: Array[Double], dim: Int) {
  require(dim > 0, s"bad dim=$dim")
  require(cells.nonEmpty, "empty centroid set")
  require(flat.length == cells.length * dim,
    s"centroid matrix size ${flat.length} != k*dim ${cells.length * dim}")
  require(norms.length == cells.length,
    s"norms size ${norms.length} != k ${cells.length}")
}

/**
 * Broadcast-carrier twin of [[IvfNearestCells]]: identical semantics (the
 * two share [[IvfNearestCells.compute]] verbatim, so bit-equality is by
 * construction — AnnIvfSpec pins it anyway), different transport. The
 * literal form holds the centroid matrix as expression FIELDS, which ride
 * inside the serialized plan of every task; at IVF's k≈√N rule that is
 * ~8 MB of plan at N=10⁹ and ~80 MB at 10¹¹ — past the point where
 * per-task plan shipping and driver plan copies hurt. Here the matrix
 * lives in ONE `Broadcast[IvfCentroidSet]`: shipped once per executor via
 * the torrent protocol, fetched in the generated class's init (not per
 * row), and shared by every task and every plan that references it.
 *
 * [[graft.ext.AnnIvf.nearestCells]] dispatches on k: the literal path
 * below `LiteralCentroidCeiling` (self-contained plans, no broadcast
 * lifecycle), this carrier above it. The broadcast lives until the
 * session ends — the standard lifetime of a broadcast dim table.
 */
case class IvfNearestCellsBc(
    child: Expression, bc: Broadcast[IvfCentroidSet],
    nprobe: Int, metric: String = "cosine")
    extends UnaryExpression {
  require(nprobe > 0, s"bad nprobe=$nprobe")
  require(IvfNearestCells.metricCodes.contains(metric),
    s"unknown metric '$metric' (one of ${IvfNearestCells.metricCodes.keys.mkString(", ")})")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_cells_bc requires array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ivf_cells_bc"

  private def metricCode: Int = IvfNearestCells.metricCodes(metric)

  override def nullSafeEval(a: Any): Any = {
    val c = bc.value
    IvfNearestCells.compute(a.asInstanceOf[ArrayData],
      c.cells, c.flat, c.norms, c.dim, nprobe, metricCode)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("ivfCentsBc", bc,
      classOf[Broadcast[_]].getName)
    // fetch the broadcast value ONCE, in the generated class's init —
    // the per-row code touches only resolved primitive arrays
    val cents = ctx.addMutableState("graft.functions.IvfCentroidSet", "ivfCents",
      v => s"$v = (graft.functions.IvfCentroidSet) $bcRef.value();")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.IvfNearestCells$$.MODULE$$.compute(" +
        s"$a, $cents.cells(), $cents.flat(), $cents.norms(), " +
        s"$cents.dim(), $nprobe, $metricCode)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfNearestCellsBc =
    copy(child = newChild)
}

object IvfNearestCells {

  /** Distance metrics. `cosine` is the ANN production metric; `l2`
    * (SQUARED euclidean — monotone in the true distance, so the argmin
    * and the probe ORDER are identical and the sqrt is never paid) is
    * what PQ sub-codebook training/encoding minimizes (reconstruction
    * error is norm-sensitive — cosine on sub-vectors would collapse
    * magnitudes); `ip` (negated inner product) ranks by raw dot for
    * pre-normalized embeddings. All three share the undefined-→+Infinity
    * rule; `l2`/`ip` have no denominator, so only an indeterminate dot
    * (length mismatch / null element) is undefined. */
  val metricCodes: Map[String, Int] = Map("cosine" -> 0, "l2" -> 1, "ip" -> 2)

  /** Ascending `(dist, cell)` order: `Double.compare` (NaN greatest — the
    * same total order Spark sorts doubles with), ties to the lower cell. */
  private def before(a: Double, aCell: Long, b: Double, bCell: Long): Boolean = {
    val cmp = java.lang.Double.compare(a, b)
    cmp < 0 || (cmp == 0 && aCell < bCell)
  }

  /** All k distances + `min(nprobe, k)`-selection in one pass; called from
    * generated code. */
  def compute(
      arr: ArrayData, cells: Array[Long], flat: Array[Float],
      norms: Array[Double], dim: Int, nprobe: Int, metric: Int): ArrayData = {
    val k = cells.length
    // vector norm: ascending-index double fold (Similarity.norm twin);
    // indeterminate (length mismatch / null element) → every dist
    // undefined → +Infinity, sorts last
    val n = arr.numElements()
    var indet = n != dim
    var vnsq = 0.0
    if (!indet) {
      var i = 0
      while (i < dim && !indet) {
        if (arr.isNullAt(i)) indet = true
        else { val x = arr.getFloat(i).toDouble; vnsq += x * x }
        i += 1
      }
    }
    val vn = math.sqrt(vnsq)

    val take = math.min(nprobe, k)
    // streaming partial selection: ordered best-so-far of length `take` —
    // O(k·take) worst case, O(k) when the probe count is small (the
    // assignment path is take=1), no per-row allocation beyond the result
    val bd = new Array[Double](take)
    val bc = new Array[Long](take)
    var filled = 0
    var c = 0
    while (c < k) {
      var d = Double.PositiveInfinity
      if (!indet) {
        var dot = 0.0
        val off = c * dim
        var i = 0
        while (i < dim) {
          dot += arr.getFloat(i).toDouble * flat(off + i).toDouble
          i += 1
        }
        if (metric == 1) {
          // squared L2 via the norm identity: ||v-c||² = ||v||² - 2v·c + ||c||²
          d = vnsq - 2.0 * dot + norms(c) * norms(c)
        } else if (metric == 2) {
          d = -dot
        } else {
          val denom = vn * norms(c)
          // zero denominator: undefined stays +Infinity (a bare divide
          // would THROW under ANSI; NULL-and-sort-first would let a
          // zero-norm centroid capture the whole corpus)
          if (denom != 0.0) d = 1.0 - dot / denom
        }
      }
      val cell = cells(c)
      if (filled < take || before(d, cell, bd(filled - 1), bc(filled - 1))) {
        var pos = if (filled < take) filled else take - 1
        while (pos > 0 && before(d, cell, bd(pos - 1), bc(pos - 1))) {
          bd(pos) = bd(pos - 1); bc(pos) = bc(pos - 1)
          pos -= 1
        }
        bd(pos) = d; bc(pos) = cell
        if (filled < take) filled += 1
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bc)
  }
}
