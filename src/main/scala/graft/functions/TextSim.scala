package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders for text-similarity primitives: tokenization,
  * shingling, MinHash signatures, LSH banding, SimHash, and vector
  * cosine — all composed from codegen'd built-ins / higher-order
  * functions (no Scala UDFs in the hot path; SURVEY.md §4 item 2).
  *
  * Everything is deterministic; no RNG anywhere. Since r7 the
  * production paths (lshBandBucket, simhash64) use the spec-stated
  * Horner hashes (mod-2³¹-prime arithmetic, see SimHash64/TokenHash64)
  * so any engine can reproduce them from the constants alone. The HOF
  * reference twins (shinglesHof, jaccardHof) stay only as semantic
  * references for equivalence tests.
  */
object TextSim {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct n-token shingles joined with a space — native
    * single-pass Expression (see Shingles). */
  def shingles(toks: Column, n: Int): Column = Shingles.shingles(toks, n)

  /** HOF twin of [[shingles]], kept as the semantic reference for
    * equivalence tests: O(n²) per evaluation (per-index slice +
    * array_join) and subject to Catalyst expression duplication. */
  def shinglesHof(toks: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
        i => array_join(slice(toks, i, lit(n)), " ")))

  /** MinHash signature — delegates to the native single-pass
    * Expression (see MinHashSignature's scaladoc for why a HOF
    * formulation is a plan-shape hazard). */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    MinHashSignature.minhash_signature(shingleSet, k)

  /** LSH band bucket for one band index: spec-stated Horner fold of
    * the band's slice of the signature mod the MinHash prime (r7, was
    * xxhash64 — the fold keeps the bucket SQL-expressible, so the
    * DuckDB oracle reproduces the exact candidate set; a spurious
    * fold collision only ADDS a candidate, identically on both
    * engines, and the exact rescore decides membership). Used after
    * exploding the band index (see Dedup.dedupNear for why banding
    * must be explode-then-derive). */
  def lshBandBucket(signature: Column, bandIndex: Column, rowsPerBand: Int): Column = {
    val p = graft.functions.MinHashSignature.P
    aggregate(
      slice(signature, bandIndex * rowsPerBand + 1, lit(rowsPerBand)),
      lit(0L), (b, v) => (b * 131L + v % p) % p)
  }

  /** 64-bit SimHash over a token list (multiset-weighted, so token
    * permutations hash identically). Built with SQL lambdas because
    * the shift amount is the lambda variable. Disjoint bit values
    * make `+` an exact bitwise OR. Token hash = the spec-stated
    * double-Horner of SimHash64.tokenHash restated in builtins
    * (code points via ascii(substring), fold via aggregate) — both
    * twins and the DuckDB oracle agree from the constants alone. */
  def simhash64(toksCol: String): Column = {
    def horner(m: Long, p: Long) =
      s"""aggregate(
         |  transform(sequence(1, char_length(t)), i -> ascii(substring(t, i, 1))),
         |  cast(0 as bigint), (a, c) -> (a * $m + c) % $p)""".stripMargin
    val th =
      s"""case when char_length(t) = 0 then cast(0 as bigint)
         |else shiftleft(${horner(131L, 2147483647L)}, 31) | ${horner(137L, 2147483629L)}
         |end""".stripMargin
    expr(
      s"""aggregate(
         |  zip_with(
         |    transform(
         |      aggregate(
         |        transform($toksCol, t -> $th),
         |        cast(array_repeat(0, 64) as array<int>),
         |        (acc, h) -> zip_with(acc,
         |          transform(sequence(0, 63),
         |            i -> case when (shiftrightunsigned(h, i) & 1) = 1 then 1 else -1 end),
         |          (a, b) -> a + b)),
         |      c -> case when c > 0 then 1 else 0 end),
         |    sequence(0, 63),
         |    (bit, i) -> case when bit = 1 then shiftleft(cast(1 as bigint), i)
         |                else cast(0 as bigint) end),
         |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin)
  }

  /** Exact Jaccard similarity of two distinct-element arrays —
    * native fused pass (see JaccardCoeff). */
  def jaccard(a: Column, b: Column): Column = JaccardCoeff.jaccard_coeff(a, b)

  /** Built-in-composed twin of [[jaccard]], kept as the semantic
    * reference for equivalence tests. */
  def jaccardHof(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Dot product of two numeric arrays in double precision. The
    * per-element cast keeps float inputs bit-stable vs the DuckDB
    * oracle; sequential fold matches DuckDB's list_sum order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Random-hyperplane LSH bucket for a vector: `bits` sign bits from
    * deterministic pseudo-hyperplanes (hash-derived coefficients, no
    * RNG), packed into an int. `planeOffset` selects a disjoint plane
    * family, so `planeOffset = t * bits` yields T independent hash
    * tables for OR-amplified candidate generation. */
  /** Coefficients of pseudo-hyperplane `i` (spec-stated arithmetic:
    * ((i·1609587929392839161 + j·2654435761) mod 1000003)/1000003·2−1).
    * Shared by [[hyperplaneBucket]] and the multi-probe flip ordering,
    * which needs the raw per-plane dot, not just its sign. */
  def planeCoeffs(i: Int, dims: Int): Seq[Double] =
    (0 until dims).map { j =>
      val h = (i.toLong * 1609587929392839161L + j.toLong * 2654435761L) % 1000003L
      (math.abs(h).toDouble / 1000003.0) * 2.0 - 1.0
    }

  def hyperplaneBucket(vec: Column, bits: Int, dims: Int, planeOffset: Int = 0): Column =
    (0 until bits).map { i =>
      when(dot(vec, typedlit(planeCoeffs(planeOffset + i, dims))) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
}
