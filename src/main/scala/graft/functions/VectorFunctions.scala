package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Vector math over `array<float>` embedding columns, composed from Spark's
 * codegen'd higher-order functions (no UDFs). All arithmetic is promoted to
 * double before accumulating, and folds are sequential left-to-right — the
 * same order DuckDB's list_sum uses — so results are bit-reproducible
 * against the oracle.
 */
object VectorFunctions {

  /** Σ a_i·b_i in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ in double precision. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Sign bit pattern of `planes` pseudo-random hyperplane projections —
    * the bucket id for random-hyperplane LSH. Plane coefficients are a
    * deterministic hash of (plane, dim), so executors regenerate them
    * locally: nothing is broadcast, nothing is random at runtime. */
  def lshBucket(v: Column, planes: Int, seed: Int): Column = {
    val bits = (0 until planes).map { p =>
      // projection of v onto pseudo-random plane p; dimension indices come
      // from the vector's own size (a literal would null-pad other dims and
      // collapse every vector into one bucket)
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
          x.cast("double") *
            (pmod(hash(i * lit(2654435761L) + lit(p * 7919 + seed)), lit(2001)).cast("double")
              - lit(1000.0)) / lit(1000.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }
}
