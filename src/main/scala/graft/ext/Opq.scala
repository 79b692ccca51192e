package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OPQ-style rotation for product quantization (Ge et al., "Optimized
  * Product Quantization", CVPR 2013 — the parametric variant): rotate
  * vectors onto the principal directions of their second-moment
  * (Gram) matrix, allocate eigen-directions to the m subspaces so
  * each subspace carries a BALANCED share of the variance, then run
  * plain PQ in the rotated space. Real embedding dimensions are
  * correlated; flat PQ quantizes each raw subspace independently and
  * pays for every correlation twice, while the rotation (a)
  * decorrelates and (b) stops any one subspace from hoarding the
  * variance the codebook budget has to cover.
  *
  * Division of labor, all public machinery:
  *  - the corpus-proportional part is [[EmbeddingSearch.gramMatrix]]
  *    (exact dyadic-grid DECIMAL sums, gate q164) — ONE aggregation;
  *  - the eigen-solve is driver-side cyclic JACOBI on the d×d
  *    symmetric matrix — fixed sweep count, no tolerance test, a
  *    deterministic sign convention — bounded d² driver state (the
  *    BPE merge-table contract);
  *  - subspace allocation is the OPQ paper's greedy balance: sort
  *    eigenvalues descending, hand each eigen-direction to the
  *    subspace with the smallest current variance PRODUCT (log-sum)
  *    that still has room;
  *  - [[rotateExpr]] applies R per row — a pure projection (zero
  *    shuffle) feeding the unchanged [[VectorQuant]] train/encode/
  *    probe stack. Cosine is rotation-invariant in exact arithmetic,
  *    so ranking in the rotated space IS ranking in the original
  *    space up to float rounding.
  *
  * Exactness gate (q191, the q100/q104 degenerate discipline): with
  * R = I the rotation is an IEEE no-op (x·1.0 + Σ x_j·0.0 = x
  * exactly), so identity-rotation OPQ ≡ plain PQ ≡ brute force under
  * the degenerate codebook — the composition is gated bit-exact, and
  * the LEARNED rotation's value is pinned in OpqSpec: it cuts PQ
  * reconstruction MSE on a variance-imbalanced corpus.
  */
object Opq {

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix. Returns
    * (eigenvalues, eigenvectors) with eigenvectors[k] the ROW vector
    * for eigenvalues(k), ordered by eigenvalue DESCENDING; each
    * eigenvector's first largest-magnitude component is made
    * non-negative (deterministic sign). Fixed `sweeps` full cyclic
    * passes — no convergence tolerance (the cross-engine-determinism
    * rule: two runs disagreeing in an ulp must not diverge in
    * ROUNDS), and 12 sweeps is far past convergence for d ≤ 256.
    */
  def jacobiEigen(sym: Array[Array[Double]],
                  sweeps: Int = 12): (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    require(d >= 1 && sym.forall(_.length == d), "square matrix required")
    val a = Array.tabulate(d, d)((i, j) => sym(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to sweeps; p <- 0 until d - 1; q <- (p + 1) until d) {
      val apq = a(p)(q)
      if (apq != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        // theta == 0 (equal diagonal entries) is the 45-degree case:
        // its sign must read as +1, or t = 0 skips the rotation and
        // the off-diagonal entry never dies
        val t = (if (theta >= 0.0) 1.0 else -1.0) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
    }
    val pairs = (0 until d).map { k =>
      val vec = Array.tabulate(d)(i => v(i)(k))
      // sign convention: the largest-|component| entry is non-negative
      val m = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      (a(k)(k), if (vec(m) < 0.0) vec.map(-_) else vec)
    }.sortBy { case (ev, _) => -ev }
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** OPQ parametric allocation: deal eigen-directions (sorted by
    * eigenvalue descending) to the m subspaces greedily — each goes
    * to the subspace with the smallest current log-variance sum that
    * still has fewer than d/m directions. Returns the rotation R as
    * d row vectors: rows grouped subspace-major, so `slice(rotated,
    * s·dsub+1, dsub)` is exactly subspace s's balanced directions.
    */
  def balancedRotation(evals: Array[Double], evecs: Array[Array[Double]],
                       m: Int): Array[Array[Double]] = {
    val d = evals.length
    require(d % m == 0, s"dim $d not divisible by m $m")
    val dsub = d / m
    val buckets = Array.fill(m)(List.empty[Int])
    val logSum = Array.fill(m)(0.0)
    for (k <- 0 until d) {
      val open = (0 until m).filter(b => buckets(b).length < dsub)
      // smallest log-variance sum first; ties to the lowest bucket id
      val b = open.minBy(b => (logSum(b), b))
      buckets(b) = k :: buckets(b)
      // floor tiny/negative eigenvalues (numerical dust) for the
      // balance heuristic only — the rotation itself is exact rows
      logSum(b) += math.log(math.max(evals(k), 1e-12))
    }
    buckets.flatMap(_.reverse.map(evecs))
  }

  /** Learn the balanced rotation from the corpus: one exact
    * [[EmbeddingSearch.gramMatrix]] aggregation, a driver-side Jacobi
    * solve, the greedy allocation. `gridBits` is the Gram grid (its
    * [1,6] domain applies).
    */
  def rotationFromCorpus(df: DataFrame, vec: Column, dim: Int, m: Int,
                         gridBits: Int = 6): Array[Array[Double]] = {
    val g = EmbeddingSearch.gramMatrix(df, vec, gridBits)
      .select(col("i"), col("j"), col("sxx").cast("double"))
      .collect()
    val sym = Array.fill(dim, dim)(0.0)
    g.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val x = r.getDouble(2)
      sym(i)(j) = x; sym(j)(i) = x
    }
    val (evals, evecs) = jacobiEigen(sym)
    balancedRotation(evals, evecs, m)
  }

  /** The d×d identity — the degenerate rotation the q191 gate runs:
    * R = I makes [[rotateExpr]] an IEEE no-op (1.0·x + Σ 0.0·x_j = x
    * exactly for finite x), so the rotated pipeline must reproduce
    * the unrotated one bit for bit.
    */
  def identity(dim: Int): Array[Array[Double]] =
    Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)

  /** R·x per row as a pure projection: out[j] = Σ_i R[j][i]·x[i],
    * left-to-right fold in double, cast back to float. Zero shuffle;
    * d² multiplies per row (the [[VectorQuant.signProjectExpr]] cost
    * class). Feed the result to the unchanged PQ/RQ stack.
    */
  def rotateExpr(r: Array[Array[Double]], vec: Column): Column = {
    require(r.nonEmpty && r.forall(_.length == r.head.length),
      "rotation must be a non-empty rectangular matrix")
    val rows = typedLit(r.map(_.toSeq).toSeq)
    transform(sequence(lit(0), lit(r.length - 1)), j =>
      aggregate(
        zip_with(element_at(rows, j + 1), vec,
          (w, x) => w * x.cast("double")),
        lit(0.0), (acc, t) => acc + t).cast("float"))
  }
}
