package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.NearestCentroid

/** Distributed fixed-iteration Lloyd's k-means over an embedding
  * column — the FULL-CORPUS trainer for the coarse quantizers the ANN /
  * SemDeDup family consumes ([[IvfCosine]], [[IvfPq]], [[SemDedup]]).
  *
  * [[IvfCosine.buildIndex]] deliberately trains on a bounded
  * driver-side sample (centroid quality saturates long before 100k
  * rows); this operator is the complementary path for when the trainer
  * must see the whole corpus — k proportional to corpus size (the
  * SemDeDup regime, nlist ~ 50k at paper scale), or per-cluster
  * statistics that a sample cannot estimate. Centroids travel as a
  * driver-side matrix: nlist × dim doubles, which every round collects
  * anyway, and which the [[graft.functions.NearestCentroid]] kernel
  * carries as one array literal — plan size independent of nlist.
  *
  * Per iteration, ONE corpus pass: kernel assignment feeds a
  * per-(cell, coordinate) MEAN via posexplode + a map-side-combined
  * groupBy (the shuffle carries at most nlist × dim partial rows per
  * task regardless of corpus size), and the nlist mean rows are
  * collected. Cells that lose every member keep their previous
  * centroid (the standard Lloyd's convention, mirrored in the oracle's
  * LEFT JOIN). Nothing per round outlives the collect, so lineage stays
  * one round deep.
  *
  * Fixed `iters` with a pinned init makes the whole fit DETERMINISTIC
  * up to floating-point summation order (partial-aggregated means can
  * differ in the last ulp across partitionings; assignment argmins are
  * robust to that because inter-centroid distance gaps are ~1e-2, not
  * 1e-16) — which is what lets a 2-iteration fit verify end-to-end
  * against an unrolled DuckDB mirror, unlike seeded-sample k-means.
  *
  * Reference analog: the fit step behind centimators' cluster-based
  * operators is scikit-learn KMeans (dimensionality_reduction.py uses
  * fitted models); this is its corpus-scale Spark re-expression.
  */
object KMeans {

  private val liveCaches =
    graft.operators.GraftTransformer.newCacheQueue()

  /** `iters` Lloyd rounds from `init` (one row per cell, cell id =
    * index); returns the final centroids. The corpus projection is
    * persisted once — every round's pass and the caller's final
    * assignment read it, not the source scan. */
  def lloyd(vecs: DataFrame, idCol: String, vecCol: String,
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    liveCaches.release()
    lloydOn(keepCorpus(vecs, idCol, vecCol), vecCol, init, iters)
  }

  private def keepCorpus(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    liveCaches.keep(
      vecs.select(col(idCol), col(vecCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def lloydOn(corpus: DataFrame, vecCol: String,
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    require(iters >= 1, s"iters must be positive: $iters")
    var cents = init
    var i = 0
    while (i < iters) {
      cents = oneRound(corpus, vecCol, cents)
      i += 1
    }
    cents
  }

  /** One Lloyd round: kernel assignment + per-(cell, coordinate) mean,
    * collected (nlist rows); a cell with no members keeps its previous
    * centroid. */
  private def oneRound(corpus: DataFrame, vecCol: String,
      cents: Array[Array[Double]]): Array[Array[Double]] = {
    // assign in its own projection: a column selected beside a
    // generator is evaluated after it, once per exploded coordinate
    val means = corpus
      .select(NearestCentroid.assign(vecCol, cents).as("cell"), col(vecCol))
      .select(col("cell"),
        posexplode(col(vecCol).cast("array<double>"))
          .as(Seq("__i", "__x")))
      .groupBy(col("cell"), col("__i"))
      .agg(avg(col("__x")).as("__mu"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("__i"), col("__mu")))),
        e => e.getField("__mu")).as("__new"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    cents.indices.map(c => means.getOrElse(c, cents(c))).toArray
  }

  /** Max L2 centroid movement between two centroid sets. */
  private def maxMovement(prev: Array[Array[Double]],
      next: Array[Array[Double]]): Double =
    prev.zip(next).map { case (a, b) =>
      math.sqrt(a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + (x - y) * (x - y) })
    }.max

  /** CONVERGENCE-mode Lloyd's — the standard stopping contract: iterate
    * until the max centroid movement drops below `tol`, hard-capped at
    * `maxIters` rounds (a cap, not a target — separated data stops in a
    * handful of rounds). Returns (centroids, rounds run); the movement
    * is measured driver-side on the collected centroids. Convergence-mode
    * fits are NOT oracle-checkable (the round count depends on float
    * sums), so the driver-gate query (q_kmeans) stays on the
    * fixed-iteration form; this is the production trainer contract,
    * pinned by DataFormAnnSpec's separated-blobs early-stop test. */
  def lloydConverged(vecs: DataFrame, idCol: String, vecCol: String,
      init: Array[Array[Double]], maxIters: Int,
      tol: Double): (Array[Array[Double]], Int) = {
    require(maxIters >= 1, s"maxIters must be positive: $maxIters")
    liveCaches.release()
    val corpus = keepCorpus(vecs, idCol, vecCol)
    var cents = init
    var i = 0
    var moved = Double.MaxValue
    while (i < maxIters && moved >= tol) {
      val next = oneRound(corpus, vecCol, cents)
      moved = maxMovement(cents, next)
      cents = next
      i += 1
    }
    (cents, i)
  }

  /** Fit + final assignment: (idCol, cell) for every row, under the
    * centroids after `iters` rounds — the fit passes and the final
    * assignment all read the one persisted corpus projection. */
  def fitAssign(vecs: DataFrame, idCol: String, vecCol: String,
      init: Array[Array[Double]], iters: Int): DataFrame = {
    liveCaches.release()
    val corpus = keepCorpus(vecs, idCol, vecCol)
    val cents = lloydOn(corpus, vecCol, init, iters)
    corpus.select(col(idCol), NearestCentroid.assign(vecCol, cents).as("cell"))
  }
}
