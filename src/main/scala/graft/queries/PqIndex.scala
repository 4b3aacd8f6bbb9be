package graft.queries

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Product-quantization codebooks for the IVF-PQ ANN path (SURVEY.md
  * §2.13 similarity search; Jégou/Douze/Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — the index layout 100 TB
  * vector search actually deploys). The reference's EDA has no vector
  * index at all (its similarity work is pandas `corr`, notebook cells
  * 30-40); PQ is part of the training-data-pipeline surface the builder
  * prompt adds on top.
  *
  * Each 64-dim embedding splits into [[numSub]] = 8 contiguous 8-dim
  * subvectors; each subspace gets its own [[numCodes]] = 16 centroid
  * codebook ([[kmeans]] seeded 42 + m on the m-th slice of the
  * [[trainingSample]]). A vector's PQ code is then
  * 8 nibbles — 4 bytes instead of 256 bytes of floats, the 64×
  * compression that lets a 100 TB corpus's index live in cluster RAM.
  *
  * Codes here are NON-residual (FAISS `by_residual=false`): the code
  * quantizes the raw vector, not `x - cell_centroid`. The residual
  * variant buys a little precision but makes codes cell-dependent and
  * the ADC table nProbe× larger; non-residual codes are reusable by any
  * scan (IVF-probed or flat) and the exact re-rank stage recovers the
  * precision difference. Documented trade-off, not an omission.
  *
  * Like the IVF coarse quantizer ([[SimilarityQueries.buildIvfIndex]]),
  * codebooks are an INDEX artifact: trained once per dataset version,
  * persisted to disk, never refit in a query path. Build order on a
  * miss: in-memory cache → saved artifact → fit (then save). The
  * artifact key folds in the table's [[Tables.version]] so a
  * regenerated dataset invalidates stale codebooks.
  *
  * Every quantizer (IVF, PQ, OPQ) trains on the driver from one
  * bounded [[trainingSample]] with the one seeded [[kmeans]], so each
  * is a pure function of the table's rows — not of how its files are
  * split — and shares this object's artifact format ([[loadOrFit]]).
  */
object PqIndex {
  /** Subspace count (M). 64 dims / 8 = 8-dim subvectors. */
  val numSub = 8
  /** Dimensions per subspace. */
  val subDim = 8
  /** Codebook size per subspace (K). 16 → 4-bit codes. */
  val numCodes = 16
  /** Training rows per build: 256 points per centroid (FAISS's default
    * cap; Johnson, Douze, Jégou 2017) × 16 centroids. At most 4,096 × 64
    * doubles (2 MB) reach the driver at any data size. */
  val sampleRows = 256 * numCodes

  /** codebooks(m)(k) = the k-th centroid of subspace m (subDim doubles). */
  type Codebooks = Array[Array[Array[Double]]]

  private val cache = new ConcurrentHashMap[(String, String), Codebooks]()

  /** Test seam: forget fitted codebooks so the next build must go
    * through the disk artifact (or refit). */
  private[graft] def clearMemoryCache(): Unit = cache.clear()

  def codebooks(s: SparkSession, d: String): Codebooks =
    cache.computeIfAbsent((d, Tables.version(s, d, "embeddings")), key =>
      loadOrFit(s, key, s"pq-m$numSub-k$numCodes-n$sampleRows") {
        val sample = trainingSample(s, d)
        (0 until numSub).toArray.map(m => kmeans(
          sample.map(_.slice(m * subDim, (m + 1) * subDim)), numCodes, 42 + m))
      })

  /** The artifact of `kind` for `key` = (dir, data version) under
    * `spark.graft.ivf.indexDir` (default: `graft-ivf-index` under
    * java.io.tmpdir), loaded when present and well-formed, otherwise
    * fitted and saved. The dir enters the name as a sha-256 digest:
    * paths contain separators, and a hashCode collision would
    * cold-load ANOTHER dataset's centroids — worse than a refit. */
  private[queries] def loadOrFit(s: SparkSession, key: (String, String),
      kind: String)(fit: => Codebooks): Codebooks = {
    val root = s.conf.getOption("spark.graft.ivf.indexDir").getOrElse(
      new File(System.getProperty("java.io.tmpdir"), "graft-ivf-index").toString)
    val p = s"$root/$kind-${Tables.digest(key._1)}-${key._2}.txt"
    load(p).getOrElse {
      val books = fit
      save(p, books)
      books
    }
  }

  /** The embeddings ordered by (xxhash64(vec_id), vec_id), first
    * [[sampleRows]] of them, collected in that order: one Spark job, and
    * the same rows in the same order however the table is split. At
    * sf0.001–sf0.1 the sample is the whole table. */
  private[queries] def trainingSample(s: SparkSession, d: String): Array[Array[Double]] =
    Tables.embeddings(s, d)
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleRows)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Seeded greedy k-means++ initialisation, then Lloyd rounds until no
    * assignment changes (at most 20). Assignment is exact squared L2 with
    * a tie going to the lower index ([[codeCol]]'s rule), and an empty
    * cell keeps its centroid. Returns `k` centroids. */
  private[queries] def kmeans(points: Array[Array[Double]], k: Int,
      seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "kmeans needs at least one point")
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    def nearest(cents: Array[Array[Double]], p: Array[Double]): Int = {
      var best = 0
      var bestD = dist2(p, cents(0))
      var c = 1
      while (c < cents.length) {
        val d = dist2(p, cents(c))
        if (d < bestD) { best = c; bestD = d }
        c += 1
      }
      best
    }
    // greedy k-means++ (scikit-learn's default): each next centroid is
    // the best of 2 + ⌊ln k⌋ points drawn with probability proportional
    // to their squared distance to the nearest chosen one — the draw
    // that leaves the smallest total distance
    val rnd = new scala.util.Random(seed)
    val cents = new Array[Array[Double]](k)
    cents(0) = points(rnd.nextInt(points.length)).clone()
    var near = points.map(dist2(_, cents(0)))
    (1 until k).foreach { c =>
      val trials = (1 to 2 + math.log(k).toInt).map { _ =>
        var r = rnd.nextDouble() * near.sum
        var i = 0
        while (i < points.length - 1 && r >= near(i)) { r -= near(i); i += 1 }
        val cand = points(i)
        val after = Array.tabulate(points.length)(j => math.min(near(j), dist2(points(j), cand)))
        (after.sum, i, after)
      }
      val (_, best, after) = trials.minBy { case (total, i, _) => (total, i) }
      cents(c) = points(best).clone()
      near = after
    }
    val cell = Array.fill(points.length)(-1)
    var changed = true
    var round = 0
    while (changed && round < 20) {
      changed = false
      points.indices.foreach { j =>
        val c = nearest(cents, points(j))
        if (c != cell(j)) { cell(j) = c; changed = true }
      }
      if (changed) {
        // per-cell sums in point order, so the means are reproducible
        val sums = Array.ofDim[Double](k, points(0).length)
        val counts = new Array[Int](k)
        points.indices.foreach { j =>
          counts(cell(j)) += 1
          val (s, p) = (sums(cell(j)), points(j))
          p.indices.foreach(i => s(i) += p(i))
        }
        (0 until k).foreach(c => if (counts(c) > 0) cents(c) = sums(c).map(_ / counts(c)))
      }
      round += 1
    }
    cents
  }

  /** Text artifact: header `books dim`, then per book a count line
    * followed by that many space-joined centroid lines.
    * Double.toString round-trips exactly, so a cold load is
    * bit-identical to the fitted codebooks. Written to a temp file and
    * atomically renamed so a crashed save can't half-write (a corrupt
    * artifact is detected by the parser and refit). The IVF centroids
    * and the OPQ rotation are stored as one book each. */
  private def save(p: String, books: Codebooks): Unit = {
    val sb = new StringBuilder
    sb.append(books.length).append(' ').append(books(0)(0).length).append('\n')
    books.foreach { book =>
      sb.append(book.length).append('\n')
      book.foreach { c => sb.append(c.mkString(" ")).append('\n') }
    }
    val target = Paths.get(p)
    Files.createDirectories(target.getParent)
    val tmp = Paths.get(p + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def load(p: String): Option[Codebooks] = {
    if (!new File(p).exists()) return None
    try {
      val lines = Files.readAllLines(Paths.get(p)).toArray(Array.empty[String])
      val Array(m, dim) = lines(0).split(' ').map(_.toInt)
      var i = 1
      Some((0 until m).toArray.map { _ =>
        val k = lines(i).toInt
        i += 1
        (0 until k).toArray.map { _ =>
          val c = lines(i).split(' ').map(_.toDouble)
          i += 1
          require(c.length == dim, s"centroid arity ${c.length}, header says $dim")
          c
        }
      })
    } catch {
      // half-written / foreign artifact: refit rather than serve garbage
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** The PQ code of subspace `m` as a Column: argmin over the book's
    * centroids of squared L2 to the m-th subvector (first index wins
    * ties — deterministic). In production this column is computed once
    * at ingest and STORED; recomputing it inside a query lineage (as
    * the q_knn_ivf_pq demo does) stands in for an index-build write. */
  def codeCol(emb: Column, book: Array[Array[Double]], m: Int): Column = {
    val sub = slice(emb, m * subDim + 1, subDim)
    val cents = typedLit(book.map(_.toSeq).toSeq)
    val d2 = transform(cents, c =>
      aggregate(
        zip_with(sub, c, (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
        lit(0.0), (a, v) => a + v))
    (array_position(d2, array_min(d2)) - 1).cast("int")
  }
}
