package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

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
  * [[PqIndex]] codebooks: trained once per dataset version, persisted
  * to disk, never refit in a query path; the (mtime, size) key in the
  * file name invalidates them when the dataset is regenerated. The
  * spectral step runs driver-side on the 64×64 second-moment matrix
  * (computeSVD on a RowMatrix — the Gramian is one distributed pass,
  * the decomposition O(64³) driver math), which is exactly how a
  * 100 TB deployment fits OPQ: the Gramian aggregates to a constant-
  * size matrix regardless of corpus size, and KMeans refits on a
  * bounded sample. */
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

  private def artifactPath(s: SparkSession, key: (String, String),
      kind: String): String = {
    val root = s.conf.getOption("spark.graft.ivf.indexDir").getOrElse(
      new File(System.getProperty("java.io.tmpdir"), "graft-ivf-index").toString)
    val dirHash = Tables.digest(key._1)
    s"$root/$kind-m${PqIndex.numSub}-k${PqIndex.numCodes}" +
      s"-$dirHash-${key._2}.txt"
  }

  def rotation(s: SparkSession, d: String): Rotation =
    rotCache.computeIfAbsent(cacheKey(s, d), key => {
      val p = artifactPath(s, key, "opq-rot")
      loadMatrix(p, 64, 64).getOrElse {
        val r = fitRotation(s, d)
        saveMatrix(p, r)
        r
      }
    })

  def codebooks(s: SparkSession, d: String): PqIndex.Codebooks =
    bookCache.computeIfAbsent(cacheKey(s, d), key => {
      val p = artifactPath(s, key, "opq-books")
      PqIndex.load(p).getOrElse {
        val books = fitBooks(s, d, rotation(s, d))
        PqIndex.save(p, books)
        books
      }
    })

  /** The rotated vector as a Column: element i = Σ_j R(i)(j)·x(j) —
    * a transform over the broadcast 64×64 literal, computed only on
    * the rows a query actually codes (probed cells), never the whole
    * corpus. */
  def rotateCol(emb: Column, r: Rotation): Column =
    transform(typedLit(r.map(_.toSeq).toSeq), row =>
      aggregate(zip_with(row, emb, (ri, x) => ri * x.cast("double")),
        lit(0.0), (a, v) => a + v))

  /** Uncentered principal directions + greedy eigenvalue allocation.
    * Uncentered (second-moment, not covariance) matches [[PqIndex]]'s
    * non-centered quantization: the rotation must balance the energy
    * the codebooks actually see. */
  private def fitRotation(s: SparkSession, d: String): Rotation = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = Tables.embeddings(s, d).select("embedding").rdd
      .map(r => OldVectors.dense(r.getSeq[Float](0).map(_.toDouble).toArray))
    val svd = new RowMatrix(rows).computeSVD(64, computeU = false)
    // On a rank-deficient corpus Spark returns FEWER than 64 singular
    // vectors; the loop below would then leave trailing rows of the
    // rotation all-zero — silently non-orthonormal, and rotateCol
    // would drop vector components with no error. Fail loudly instead
    // (the advisor's round-15 note): a degenerate embedding corpus is
    // a data problem the caller must see, not a quality cliff.
    require(svd.s.size == 64 && svd.V.numCols == 64,
      s"OPQ rotation needs full rank 64; embeddings yielded ${svd.s.size} " +
        "singular vectors (rank-deficient corpus — fix the embedding source)")
    val v = svd.V // 64×64; column j = j-th right singular vector
    val energy = svd.s.toArray.map(x => x * x)
    // deal directions (energy desc) to the subspace with the smallest
    // running log-energy product that still has capacity
    val buckets = Array.fill(PqIndex.numSub)(List.empty[Int])
    val logProd = Array.fill(PqIndex.numSub)(0.0)
    energy.zipWithIndex.sortBy { case (e, i) => (-e, i) }.foreach {
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

  /** Per-subspace KMeans on the ROTATED subvectors — [[PqIndex.fit]]'s
    * discipline with the rotation applied in the feature pipeline. */
  private def fitBooks(s: SparkSession, d: String,
      r: Rotation): PqIndex.Codebooks = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val rot = Tables.embeddings(s, d)
      .select(rotateCol(col("embedding"), r).as("rot"))
    (0 until PqIndex.numSub).toArray.map { m =>
      val sub = rot.select(array_to_vector(
        slice(col("rot"), m * PqIndex.subDim + 1, PqIndex.subDim)).as("sub"))
      new KMeans()
        .setK(PqIndex.numCodes).setSeed(142 + m)
        .setFeaturesCol("sub").setPredictionCol("code")
        .fit(sub)
        .clusterCenters.map(_.toArray)
    }
  }

  // --- the rotation's text artifact, in PqIndex's atomic-rename
  // scheme (the codebooks use PqIndex's own format) ---

  private def saveMatrix(p: String, r: Rotation): Unit = {
    val sb = new StringBuilder
    sb.append(r.length).append(' ').append(r(0).length).append('\n')
    r.foreach(row => sb.append(row.mkString(" ")).append('\n'))
    PqIndex.atomicWrite(p, sb.toString)
  }

  private def loadMatrix(p: String, nr: Int, nc: Int): Option[Rotation] = {
    if (!new File(p).exists()) return None
    try {
      val lines = Files.readAllLines(Paths.get(p)).toArray(Array.empty[String])
      val Array(m, n) = lines(0).split(' ').map(_.toInt)
      require(m == nr && n == nc, s"opq rotation shape $m x $n")
      Some((1 to m).toArray.map { i =>
        val row = lines(i).split(' ').map(_.toDouble)
        require(row.length == nc, s"opq rotation arity ${row.length}")
        row
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
