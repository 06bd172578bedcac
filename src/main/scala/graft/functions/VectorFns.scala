package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `array<float>` embedding columns, built from
  * Spark's higher-order functions (`zip_with`/`aggregate`/`transform`) so they
  * stay inside whole-stage codegen — no UDF deserialization in the hot path.
  *
  * Accumulation is element-order-deterministic (left fold over the array), and
  * every element is widened to double BEFORE multiplication so results are
  * reproducible and match a float64 oracle.
  */
object VectorFns {

  def dotCol(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  // ---- codegen'd fast path (graft.plans.DotProductF; register first) ----

  /** Requires VectorExpressions.register(spark) (or the GraftExtensions
    * session extension). Bit-identical to [[dotCol]], no per-row allocation. */
  def dotFastCol(a: Column, b: Column): Column = call_function("dot_f", a, b)

  def normFastCol(a: Column): Column = sqrt(call_function("dot_f", a, a))

  /** Deterministic hyperplane matrix: component (p, d) is SplitMix64(p·100003+d)
    * mapped to [-1, 1). Derived (not shipped) on every executor, but computed
    * ONCE per (nPlanes, dim) — not per row per element — and memoized; the
    * signature loop then reads a flat sign array.
    *
    * Planes are ±1 signs (Charikar sign-random-projection), each derived from
    * the low bit of the first byte of md5("p_d") — a derivation ANY engine
    * can reproduce (DuckDB: `('0x'||substr(md5(p||'_'||d),1,2))::INT & 1`),
    * which is what gives q28 a full driver-visible oracle. */
  def hyperplanePlanes(nPlanes: Int, dim: Int): Array[Array[Int]] =
    planeCache.computeIfAbsent((nPlanes, dim), { key: (Int, Int) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(key._1, key._2) { (p, d) =>
        md.reset()
        val h = md.digest(s"${p}_${d}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if ((h(0) & 1) == 1) 1 else -1
      }
    })

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Int]]]()

  /** Random-hyperplane LSH bucket id: `nPlanes` sign bits packed into an int.
    * The projection runs over 2²⁰-quantized components (`floor(x·2²⁰)` — float
    * scaling by a power of two then floor is exact in IEEE double on every
    * engine), so each dot is an exact integer sum: no float accumulation
    * order to match, bit-identical buckets everywhere. Bit-identical to
    * deriving each sign inline — asserted by DedupSimilaritySpec. */
  def hyperplaneSig(v: Seq[Float], nPlanes: Int): Int = {
    val planes = hyperplanePlanes(nPlanes, v.length)
    var sig = 0
    var p = 0
    while (p < nPlanes) {
      val plane = planes(p)
      var dot = 0L
      var d = 0
      while (d < plane.length) {
        dot += math.floor(v(d).toDouble * 1048576.0).toLong * plane(d)
        d += 1
      }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  def hyperplaneSigUdf(nPlanes: Int) = udf((v: Seq[Float]) => hyperplaneSig(v, nPlanes))

  /** Dense ±1 (Rademacher) random-projection coordinates — the Charikar
    * sign-hash construction with every entry nonzero, NOT Achlioptas's
    * sparse variant: the RAW integer dots behind [[hyperplaneSig]] —
    * proj(p) = Σ_d sign(p,d) · floor(v_d·2²⁰), same memoized md5-derived
    * plane matrix, exact integer sums (no float accumulation order — any
    * engine replays them). The JL dimensionality-reduction step: 64-dim
    * float → `nPlanes` integer coordinates; dense ±1 satisfies the JL lemma
    * with the same O(ε⁻²·log n) dimension bound. */
  def projectPlanes(v: Seq[Float], nPlanes: Int): Array[Long] = {
    val planes = hyperplanePlanes(nPlanes, v.length)
    val out = new Array[Long](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val plane = planes(p)
      var dot = 0L
      var d = 0
      while (d < plane.length) {
        dot += math.floor(v(d).toDouble * 1048576.0).toLong * plane(d)
        d += 1
      }
      out(p) = dot
      p += 1
    }
    out
  }

  def projectPlanesUdf(nPlanes: Int) = udf((v: Seq[Float]) => projectPlanes(v, nPlanes))
}
