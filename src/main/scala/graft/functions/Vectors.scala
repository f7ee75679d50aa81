package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over Array[Float] columns as pure Column
  * expressions (whole-stage codegen; no UDF serialization cost).
  *
  * All arithmetic is forced to double before accumulating so results
  * are engine-portable (float32 accumulation order would not be).
  */
object Vectors {

  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => ex}

  /** Native single-pass kernels (graft.expressions.*, codegen'd). */
  def dot(a: Column, b: Column): Column =
    toCol(graft.expressions.DotProduct(ex(a), ex(b)))

  def cosine(a: Column, b: Column): Column =
    toCol(graft.expressions.CosineSimilarity(ex(a), ex(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Σ(aᵢ-bᵢ)² in one fused codegen'd pass; float or double arrays on
    * either side — the kernel under every nearest-centroid assignment.
    */
  def sqDist(a: Column, b: Column): Column =
    toCol(graft.expressions.SquaredDistance(ex(a), ex(b)))

  /** Bounded-heap top-k aggregate (graft.expressions.TopKIds): ids of
    * the k largest `ord` values per group, partial-aggregated map-side.
    */
  def topKIds(ord: Column, id: Column, k: Int): Column =
    toCol(graft.expressions.TopKIds(ex(ord), ex(id), k).toAggregateExpression())

  /** Misra–Gries heavy-hitter candidate aggregate
    * (graft.expressions.MisraGries): ≤ k candidate terms guaranteed to
    * include every item with frequency > n/k, partial-aggregated
    * map-side (≤ k pairs per map task enter the shuffle).
    */
  def misraGries(term: Column, k: Int): Column =
    toCol(graft.expressions.MisraGries(ex(term), k).toAggregateExpression())

  // ---- int8 quantization (4× storage/bandwidth cut for 100 TB of
  // embeddings; cosine error stays small because it's scale-invariant
  // and only the per-element rounding survives) ----

  /** Per-vector symmetric scale: max|x| / 127. */
  def int8Scale(v: Column): Column =
    aggregate(asDouble(v), lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0

  /** Quantize to int8 (stored as array<tinyint> + the scale column).
    * Rounds by floor(x/scale + 0.5), which every engine computes alike
    * (`round` rounds half away from zero, so negative ties differ). */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(asDouble(v), x => floor(x / scale + 0.5).cast("byte"))

  /** Cosine directly on quantized vectors — scales cancel, so this is
    * the dot/norms of the int8 codes in double.
    */
  def cosineInt8(qa: Column, qb: Column): Column = {
    val ad = transform(qa, x => x.cast("double"))
    val bd = transform(qb, x => x.cast("double"))
    val dotC = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (a, x) => a + x)
    val na = sqrt(aggregate(ad, lit(0.0), (a, x) => a + x * x))
    val nb = sqrt(aggregate(bd, lit(0.0), (a, x) => a + x * x))
    dotC / (na * nb)
  }

  // Composable Column fallbacks (kept for engines/tests that want the
  // pure-functions formulation; math identical to the native kernels).
  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dotExpr(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def normExpr(a: Column): Column =
    sqrt(aggregate(asDouble(a), lit(0.0), (acc, x) => acc + x * x))

  def cosineExpr(a: Column, b: Column): Column = dotExpr(a, b) / (normExpr(a) * normExpr(b))

  /** Deterministic pseudo-random hyperplane weight for LSH: md5-derived
    * value in [-1, 1), a function of (plane, dim) only — reproducible
    * across engines and runs with no RNG.
    */
  def planeWeight(plane: Column, dim: Column): Column =
    (conv(substring(md5(concat(plane.cast("string"), lit("_"), dim.cast("string")).cast("binary")), 1, 4), 16, 10)
      .cast("double") - 32768.0) / 32768.0
}
