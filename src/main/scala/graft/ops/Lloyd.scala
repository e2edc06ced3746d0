package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{ArrayFunctions, Num, VecAggregates}

/** FULL-CORPUS distributed spherical k-means by fixed-round Lloyd
  * iteration (X212) — the scale sibling of [[Similarity.fitIvf]]:
  * where the IVF fit collects a bounded 2048-row SAMPLE to the driver
  * and iterates there, this fit never moves a vector. Each round is
  * ONE map-side-combining pass over the corpus: every partition folds
  * its rows into k per-cluster (count, Σvec) buffers through
  * [[graft.functions.DoubleVecSum]] under a
  * [[graft.functions.ArrayFunctions.nearestCentroid]] codegen
  * assignment, partials merge pairwise, and only k·(dim+1) doubles
  * reach the driver — the centroid matrix is driver-resident metadata
  * that re-enters the next round's scan as literals. At 100 TB that
  * is k × 65 numbers per round regardless of corpus size.
  *
  * Determinism contract (the X66/X188/X189 pinned-round discipline):
  * the result is "`iters`-round Lloyd from the k lowest-id vectors",
  * not "the converged clustering". The per-cluster mean lanes are
  * merged-fold doubles → each dimension is qround(6) before the
  * (element-wise, hence bit-identical) L2 normalization, so any
  * engine replaying the same rounds lands on identical centroids.
  * Ties in the assignment argmax break first-max (lowest cluster id),
  * matching the oracle's `ORDER BY dot DESC, c ASC` row_number.
  * Empty clusters keep their previous centroid (the fitIvf rule). */
object Lloyd {


  /** Left-fold L2 normalization — same accumulation order as the
    * oracle's `list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)`
    * so the sqrt argument is bit-identical. */
  private[ops] def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** The one Lloyd round loop, over one or more independent lanes
    * (vector expressions, array<double>) fit in lock-step: ONE init
    * collect of the k lowest-id rows serves every lane, then each of
    * `iters` rounds is ONE exploded (lane, assign)-keyed
    * map-side-combining count + vecSum aggregate collecting ≤ lanes·k
    * rows. Per (lane, c) group the buffers see the same values in the
    * same partition-local order whatever lanes ride along, means are
    * qround(6) per dimension, empty clusters keep their previous
    * centroid, and `finish` post-processes each centroid, the initial
    * ones included (L2-normalize for the spherical fit, identity for
    * plain L2). */
  private def rounds(corpus: DataFrame, vecs: Seq[Column], idCol: String,
      k: Int, dim: Int, iters: Int,
      assign: (Column, Array[Array[Double]]) => Column,
      finish: Array[Double] => Array[Double])
      : IndexedSeq[Array[Array[Double]]] = {
    val m = vecs.length
    require(m > 0, "Lloyd: no vector lanes")
    val frame = corpus.select(col(idCol).as("__id") +:
      vecs.zipWithIndex.map { case (v, i) => v.as(s"__v$i") }: _*)
    // k + 1 rows in the same one job: a tie at the k-th id would make
    // the init depend on which tied row the sort happens to keep
    val initRows = frame.orderBy(col("__id")).limit(k + 1).collect()
    require(initRows.length >= k, s"corpus has < $k vectors")
    require(initRows.map(_.get(0)).distinct.length == initRows.length,
      s"Lloyd: duplicate $idCol among the ${k + 1} lowest ids — " +
        "the init needs a unique id column")
    var cents = (0 until m).map { i =>
      initRows.take(k).map(r => finish(r.getSeq[Double](i + 1).toArray))
    }
    for (_ <- 0 until iters) {
      val exploded = frame.select(explode(array((0 until m).map { i =>
        struct(lit(i).as("lane"),
          assign(col(s"__v$i"), cents(i)).as("c"),
          col(s"__v$i").as("v"))
      }: _*)).as("e"))
      val rows = exploded
        .groupBy(col("e.lane").as("lane"), col("e.c").as("c"))
        .agg(count(lit(1)).as("n"),
          VecAggregates.vecSum(col("e.v"), dim).as("s"))
        .collect() // ≤ m·k rows: bounded driver metadata
      val byLane = rows.groupBy(_.getInt(0))
      cents = (0 until m).map { i =>
        val byC = byLane.getOrElse(i, Array.empty[Row])
          .map(r => r.getInt(1) -> (r.getLong(2), r.getSeq[Double](3).toArray))
          .toMap
        Array.tabulate(k) { c =>
          byC.get(c) match {
            case Some((n, sum)) if n > 0 =>
              finish(sum.map(x => Num.qround(x / n, 6)))
            case _ => cents(i)(c)
          }
        }
      }
    }
    cents
  }

  /** `iters` Lloyd rounds over the whole corpus; returns the final
    * L2-normalized centroid matrix (k × dim). `vecCol` may be
    * array<float> — widened exactly to double on both engines. */
  def fit(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, dim: Int, iters: Int): Array[Array[Double]] =
    rounds(corpus, Seq(col(vecCol).cast("array<double>")), idCol, k, dim,
      iters, ArrayFunctions.nearestCentroid, normalize).head

  /** ||v − c||² as a 0.0-init sequential zip-fold — identical
    * accumulation to the oracle's list_reduce(list_transform(...))
    * (0.0 + e₁ ≡ e₁, the recorded fold-equivalence), so per-row
    * distances are bit-identical cross-engine. Interpreted HOFs —
    * fine for the bounded k×subdim product-quantization tier (X236),
    * NOT for a 64-dim full-corpus hot path (the X189 lesson; that
    * path has the fused NearestCentroid kernel). */
  def sqDist(v: Column, c: Array[Double]): Column =
    aggregate(zip_with(v, typedLit(c.toSeq),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, t) => acc + t)

  /** argmin_c ||v − c||², first-min tie-break (array_position finds
    * the FIRST occurrence — mirrors the oracle's
    * `ORDER BY dist ASC, c ASC` row_number). */
  def assignL2(v: Column, cents: Array[Array[Double]]): Column = {
    val dists = array(cents.map(c => sqDist(v, c)): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Plain-L2 (non-spherical) fixed-round Lloyd over one or more
    * vector EXPRESSIONS fit in lock-step — the product-quantization
    * subspace fit (X236, one lane per subspace): same
    * one-aggregated-pass-per-round / qround(6)-mean shape as [[fit]],
    * but argmin Euclidean distance and NO normalization (PQ codebooks
    * are means, not directions). Each `vecs` entry must already be
    * array<double>; returns one k × dim codebook per entry. */
  def fitL2(corpus: DataFrame, vecs: Seq[Column], idCol: String,
      k: Int, dim: Int, iters: Int): IndexedSeq[Array[Array[Double]]] =
    rounds(corpus, vecs, idCol, k, dim, iters, assignL2, identity)
}
