package graft.ext

/** Inspection helpers for [[AnnLsh]]'s hyperplanes, kept for the specs. */
object AnnLshTwins {

  /** Deterministic ±1 hyperplane matrix (numPlanes × dim) — the
    * [[graft.functions.LshBuckets]] LCG matrix reshaped for inspection. */
  private[ext] def planeMatrix(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] =
    graft.functions.LshBuckets.planeRows(numPlanes, dim, seed)
      .map(_.toDouble).toSeq.grouped(dim).toSeq
}
