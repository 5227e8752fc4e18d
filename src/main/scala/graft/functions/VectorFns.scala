package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over `array<float>` / `array<double>`.
  *
  * All math is done in DOUBLE, accumulated left-to-right in array
  * order, so the result is bit-deterministic and reproducible across
  * engines (the DuckDB oracle mirrors the same double-precision
  * formula).
  *
  * `dot`/`normSq` are native Catalyst expressions with `doGenCode`
  * (graft.expressions.VecDot / VecNormSq): a primitive-double loop
  * inside WholeStageCodegen. The builtin higher-order functions they
  * replace (`zip_with` + `aggregate`) are CodegenFallback — an
  * interpreted, boxing lambda per element — and were the hot-path
  * bottleneck of every brute-force scoring query. VectorFnsSpec keeps
  * the HOF formulation as the differential-testing twin (both must
  * agree bit-for-bit).
  * Capability mirror of the reference's dense similarity math
  * (reference: backend/app/core/vector_store.py:604 cosine sim,
  * backend/app/core/recommender.py:418 _cosine_similarity).
  */
object VectorFns {
  import org.apache.spark.sql.graftshim.ColumnShim
  import graft.expressions.{VecDot, VecNormSq}

  /** Element-wise product sum in double; deterministic order (native
    * codegen'd expression).
    */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(VecDot(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  def normSq(a: Column): Column =
    ColumnShim.column(VecNormSq(ColumnShim.expression(a)))

  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity in double precision. A zero-norm side yields
    * NULL (nullif guard): under ANSI mode (Spark 4 default) a raw
    * 0/0 division is a query-killing DIVIDE_BY_ZERO error, and under
    * non-ANSI it is a NaN that top-ranks in descending sorts — NULL
    * is droppable/filterable in both engines identically.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(l2Norm(a) * l2Norm(b), lit(0.0))

  /** Cosine from a fresh dot product and PRE-COMPUTED norms — use when
    * either side's norm can be materialized once (query vectors,
    * pairwise joins) instead of re-deriving it per comparison: cuts
    * the interpreted higher-order aggregate work from 3 folds to 1.
    * Zero-norm sides yield NULL (see `cosine`).
    */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / nullif(normA * normB, lit(0.0))

  /** Element-wise mean of grouped vectors, long-form helper: callers
    * posexplode to (id, pos, v) rows, groupBy(id, pos).avg, and
    * re-assemble if needed. Kept long-form on purpose: at 100 TB the
    * long layout aggregates map-side and never materialises wide
    * arrays in the shuffle.
    */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Deterministic blocking code from the sign pattern of the first
    * `bits` dims — cheap LSH-style bucketing for near-dup search.
    */
  def signCode(a: Column, bits: Int): Column = signCodeAt(a, 1, bits)

  /** Sign-pattern code over dims [start, start+bits) (1-based start).
    * Multiple disjoint slices act as independent SRP bands: unioning
    * their candidate pairs trades compute for recall (a near-dup pair
    * only needs to agree on ONE band's signs to be probed).
    */
  def signCodeAt(a: Column, start: Int, bits: Int): Column =
    aggregate(
      // exact bit weights via shiftleft — the previous
      // pow(2.0, i).cast(long) route went through a double and would
      // CAST_OVERFLOW under ANSI at bit 63 (the natural full-64-bit
      // SRP binding)
      zip_with(slice(a, start, bits), sequence(lit(0), lit(bits - 1)),
        (x, i) => when(x.cast("double") >= 0d,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc + x)
}
