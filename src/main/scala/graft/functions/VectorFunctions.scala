package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>`/`array<double>` columns using
  * Spark higher-order functions (`zip_with`/`aggregate`) — sequential,
  * deterministic summation, no UDF, no shuffle. The operators' hot paths use
  * the codegen'd kernels in [[NativeVectorExpressions]]; `cosine`, `vdot` and
  * `hyperplaneBits` here are the declarative references those kernels are
  * pinned bit-identical to (and q45's oracle-checked formulation).
  */
object VectorFunctions {

  /** Cast to double before any arithmetic so accumulation error and oracle
    * comparisons are well-defined. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  def vdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def vnorm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  /** Cosine similarity; null-safe on zero vectors (returns null, as DuckDB
    * list_cosine_similarity yields NaN/err — callers filter). */
  def cosine(a: Column, b: Column): Column = {
    val d = vdot(a, b); val na = vnorm(a); val nb = vnorm(b)
    when(na > 0 && nb > 0, d / (na * nb))
  }

  // --- Int8 quantization ----------------------------------------------------
  // At 100 TB an fp32 embedding column is often the single biggest column in
  // the lake; symmetric int8 quantization cuts it 4× (store
  // `int8Quantize(...).cast("array<tinyint>")`) and the quantized dot/cosine
  // runs on small exact integers — candidate generation reads a quarter of
  // the bytes and re-ranks the shortlist against the fp32 column.

  /** Per-vector symmetric quantization scale: max|x| / 127 (0 for the zero
    * vector — quantization maps it to all-zeros). */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / lit(127.0)

  /** Quantize to the int8 grid, kept as exact small integers in doubles.
    * `floor(x/s + 0.5)` rather than `round()` so ANY engine reproduces the
    * identical grid from plain IEEE ops (round() half-away/half-even rules
    * differ across engines; floor does not). Values land in [-127, 127] by
    * construction since |x| ≤ 127·s. */
  def int8Quantize(v: Column, scale: Column): Column =
    when(scale === 0, transform(v, _ => lit(0.0)))
      .otherwise(transform(v, x => floor(x / scale + lit(0.5))))

  /** Random-hyperplane (SimHash-for-vectors) LSH: `nBits` sign bits of dots
    * with seeded Gaussian hyperplanes, packed into a long. Deterministic:
    * hyperplanes come from a fixed-seed RNG at plan-build time and enter the
    * plan as literals (broadcast-free, executor-local).
    *
    * Scale path for ANN: bucket by bands of these bits, join within buckets —
    * turns the O(n²) all-pairs cosine into a shuffle on bucket keys.
    */
  def hyperplaneBits(v: Column, dim: Int, nBits: Int, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] =
      Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(vdot(v, planeLit) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Split an nBits hyperplane signature into `bands` band-bucket values for
    * banded LSH (any band match → candidate pair). */
  def bandBuckets(bits: Column, nBits: Int, bands: Int): Column = {
    val r = nBits / bands
    val mask = (1L << r) - 1
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), shiftright(bits, b * r).bitwiseAND(lit(mask)).as("bucket"))
    }: _*)
  }
}
