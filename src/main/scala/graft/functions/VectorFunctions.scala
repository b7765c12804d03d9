package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>`/`array<double>` embedding
  * columns. The hot kernels (dot, cosine) are custom codegen Catalyst
  * expressions ([[graft.functions.expressions.DotProduct]] /
  * [[graft.functions.expressions.CosineSimilarity]]) — Spark's array
  * higher-order functions are CodegenFallback (interpreted), which is the
  * wrong tool on a 100 TB ANN scan. The rarely-hot pieces stay declarative.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ — fused codegen loop; null if either side is null. */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.dotProduct(a, b)

  /** Cosine similarity in [-1, 1]; 0 when either vector is all-zero —
    * single fused pass (dot + both norms in one loop).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.cosineSimilarity(a, b)

  /** Random-hyperplane signature for cosine LSH: `bits(v)[i] = sign(v·hᵢ)`
    * packed into a Long. Hyperplanes are generated driver-side from a fixed
    * seed and inlined as literals, so the projection is deterministic and
    * broadcast-free.
    */
  def hyperplaneSignature(v: Column, dim: Int, bits: Int, seed: Long = 42L): Column = {
    require(bits <= 63, "signature packs into a Long")
    val bitCols = hyperplanes(dim, bits, seed).zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(dot(v, planeCol) >= 0.0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bitCols.reduce(_.bitwiseOR(_))
  }

  /** The `bits` gaussian hyperplanes (`dim` doubles each) of `seed`: the
    * one source of the planes behind every signature and probe set.
    */
  private[graft] def hyperplanes(dim: Int, bits: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }
}
