package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

import graft.Tables

/** OPQ rotation for the IVF-PQ path (Ge, He, Ke, Sun — "Optimized
  * Product Quantization", CVPR 2013, the PARAMETRIC solution): product
  * quantization's error depends on how variance lands across the M
  * subspaces, and a fixed dimension split is at the data's mercy. The
  * parametric OPQ rotates vectors by an orthonormal R built from the
  * data's principal directions with EIGENVALUE ALLOCATION — directions
  * are dealt greedily to the subspace with the smallest running
  * log-variance product, balancing information across subspaces — and
  * the PQ codebooks are refit in the rotated space. Rotation preserves
  * dot products and norms, so cosine scores computed from rotated
  * codes estimate the SAME similarity; only the quantization error
  * changes.
  *
  * Both artifacts (the 64×64 rotation and the rotated codebooks) are
  * OFFLINE index artifacts beside the persisted IVF quantizer and the
  * [[PqIndex]] codebooks, in PqIndex's artifact format: trained once
  * per dataset version, persisted to disk, never refit in a query
  * path; the data version in the file name invalidates them when the
  * dataset is regenerated. The spectral step runs driver-side on the
  * 64×64 second-moment matrix: the Gramian is one distributed pass
  * that aggregates to a constant-size matrix regardless of corpus
  * size, its sums are exact so it does not depend on how the table is
  * split, and the decomposition is O(64³) driver math. The codebooks
  * then train on the rotated [[PqIndex.trainingSample]] with
  * [[PqIndex.kmeans]], like PQ's. */
object OpqIndex {
  /** rotation(i) = the i-th row of R; x' = R·x. */
  type Rotation = Array[Array[Double]]

  private val rotCache = new ConcurrentHashMap[(String, String), Rotation]()
  private val bookCache =
    new ConcurrentHashMap[(String, String), PqIndex.Codebooks]()

  private def cacheKey(s: SparkSession, d: String): (String, String) =
    (d, Tables.version(s, d, "embeddings"))

  /** Test seam: forget fitted artifacts so the next build must go
    * through the disk artifact (or refit). */
  private[graft] def clearMemoryCache(): Unit = {
    rotCache.clear(); bookCache.clear()
  }

  /** Stored as a one-book artifact whose 64 "centroids" are R's rows. */
  def rotation(s: SparkSession, d: String): Rotation =
    rotCache.computeIfAbsent(cacheKey(s, d), key => PqIndex.loadOrFit(s, key,
      s"opq-rot-m${PqIndex.numSub}-k${PqIndex.numCodes}")(Array(fitRotation(s, d))).head)

  /** Per-subspace [[PqIndex.kmeans]] on the ROTATED sample, seeded
    * 142 + m. */
  def codebooks(s: SparkSession, d: String): PqIndex.Codebooks =
    bookCache.computeIfAbsent(cacheKey(s, d), key => PqIndex.loadOrFit(s, key,
      s"opq-books-m${PqIndex.numSub}-k${PqIndex.numCodes}-n${PqIndex.sampleRows}") {
      val r = rotation(s, d)
      val rotated = PqIndex.trainingSample(s, d).map(rotate(r, _))
      (0 until PqIndex.numSub).toArray.map { m =>
        PqIndex.kmeans(rotated.map(_.slice(m * PqIndex.subDim, (m + 1) * PqIndex.subDim)),
          PqIndex.numCodes, 142 + m)
      }
    })

  /** R·x on the driver. */
  def rotate(r: Rotation, x: Array[Double]): Array[Double] =
    r.map(row => row.zip(x).map { case (a, b) => a * b }.sum)

  /** Uncentered principal directions + greedy eigenvalue allocation.
    * Uncentered (second-moment, not covariance) matches [[PqIndex]]'s
    * non-centered quantization: the rotation must balance the energy
    * the codebooks actually see. */
  private def fitRotation(s: SparkSession, d: String): Rotation = {
    // Σ x·xᵀ over every row: each product of two floats is exact as a
    // double, is rounded once to a multiple of 2^-40 and summed as a
    // long (per partition) and a BigInt (across partitions), so the sum
    // is exact and its order — the table's split — cannot change it
    val fixed = Tables.embeddings(s, d).select("embedding").rdd.mapPartitions { rows =>
      val acc = new Array[Long](64 * 64)
      rows.foreach { r =>
        val x = r.getSeq[Float](0).map(_.toDouble).toArray
        require(x.length == 64, s"OPQ needs 64-dim embeddings, got ${x.length}")
        for (i <- 0 until 64; j <- i until 64)
          acc(i * 64 + j) = Math.addExact(acc(i * 64 + j), math.round(math.scalb(x(i) * x(j), 40)))
      }
      Iterator(acc.map(BigInt(_)))
    }.reduce((a, b) => a.zip(b).map { case (u, v) => u + v })
    val gram = breeze.linalg.DenseMatrix.tabulate(64, 64) { (i, j) =>
      math.scalb(fixed(math.min(i, j) * 64 + math.max(i, j)).toDouble, -40)
    }
    // G = V·diag(σ²)·Vᵀ: the left singular vectors of the symmetric G
    // are the right singular vectors of the embedding matrix
    val breeze.linalg.svd.SVD(v, energy, _) = breeze.linalg.svd(gram)
    // On a rank-deficient corpus some directions carry no energy; the
    // rotation would then drop vector components with no error. Fail
    // loudly instead (the advisor's round-15 note): a degenerate
    // embedding corpus is a data problem the caller must see, not a
    // quality cliff. The cut is RowMatrix.computeSVD's: σ ≤ 1e-9·σ₀.
    val sigma = energy.toArray.map(math.sqrt)
    require(sigma.forall(_ > 1e-9 * sigma(0)),
      s"OPQ rotation needs full rank 64; embeddings yielded " +
        s"${sigma.count(_ > 1e-9 * sigma(0))} singular vectors " +
        "(rank-deficient corpus — fix the embedding source)")
    // deal directions (energy desc) to the subspace with the smallest
    // running log-energy product that still has capacity
    val buckets = Array.fill(PqIndex.numSub)(List.empty[Int])
    val logProd = Array.fill(PqIndex.numSub)(0.0)
    energy.toArray.zipWithIndex.sortBy { case (e, i) => (-e, i) }.foreach {
      case (e, i) =>
        val b = (0 until PqIndex.numSub)
          .filter(buckets(_).size < PqIndex.subDim)
          .minBy(logProd)
        buckets(b) ::= i
        logProd(b) += math.log(math.max(e, 1e-12))
    }
    val rowsOut = Array.ofDim[Double](64, 64)
    var out = 0
    (0 until PqIndex.numSub).foreach { m =>
      buckets(m).sorted.foreach { dir =>
        var j = 0
        while (j < 64) { rowsOut(out)(j) = v(j, dir); j += 1 }
        out += 1
      }
    }
    rowsOut
  }
}
