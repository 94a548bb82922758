package graft.llmops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Engine-portable deterministic hashing for the dedup/similarity ops.
  *
  * Spark's builtin `hash()`/`xxhash64` are not reproducible in ANSI SQL, so
  * they can't be oracle-checked. Instead we use a positional polynomial
  * hash over character codes with per-position multipliers that need no
  * recursion:
  *
  *   m(i) = (i*i*2654435761 + i*97) mod P        (P = 1e9+7, Knuth constant)
  *   g(s) = ( SUM_i ascii(s_i) * m(i) ) mod P
  *
  * Every term fits in int64 (ascii<=127, m<P=1e9+7, |s|<=~1e3), the SUM is
  * order-independent integer math, and the same formula is a one-liner in
  * DuckDB list comprehensions — so MinHash/SimHash built on it hash-match
  * the oracle exactly. All expressed through codegen-friendly higher-order
  * functions; no UDFs, fully distributed.
  */
object PortableHash {
  val P = 1000000007L

  /** Positional multiplier m(i) for a 1-based position column. Reduced
    * form ((i*i mod P)*K mod-chained): congruent to the naive
    * i*i*K + i*97 everywhere the naive form doesn't wrap Long
    * (i < ~58,900), and correct beyond it.
    */
  private def mult(i: Column): Column = {
    val il = i.cast(LongType)
    ((il * il % P) * lit(2654435761L) + il * lit(97L)) % P
  }

  /** g(s): portable char-level hash of a string column. NULL for the
    * empty string (mirrors `list_sum([]) % P` = NULL in the SQL oracle;
    * Spark's `sequence(1, 0)` would otherwise descend).
    */
  def charHash(s: Column): Column = {
    val chars = split(s, "")
    val terms = transform(sequence(lit(1), length(s)),
      i => ascii(element_at(chars, i)).cast(LongType) * mult(i))
    // fold with per-step mod: an unreduced Long sum wraps on very long
    // inputs while the SQL oracle's exact sum does not (same residue
    // either way when nothing wraps)
    when(length(s) === 0, lit(null).cast(LongType))
      .otherwise(aggregate(terms, lit(0L), (acc, x) => (acc + x) % P))
  }

  /** j-th MinHash permutation of a base hash g: ((2j+1)*g + 7919j) mod P. */
  def permute(g: Column, j: Column): Column = {
    val jl = j.cast(LongType)
    ((lit(2L) * jl + lit(1L)) * g + lit(7919L) * jl) % P
  }

  /** Scale factor for fixed-point vector math: 7 decimal digits covers
    * float32 precision for unit-scale embeddings.
    */
  val FixedScale = 1e7

  /** Quantize one vector component to a fixed-point long:
    * floor(v * 1e7). floor on a double is exact and tie-free, so both
    * engines produce the identical integer — unlike double→decimal casts,
    * which can round a near-tie digit differently (observed: 1-ulp
    * mismatches at DECIMAL(28,12)).
    */
  def fixedPoint(v: Column): Column =
    floor(v.cast(DoubleType) * lit(FixedScale)).cast(LongType)

  /** Deterministic dot product of two float arrays in fixed-point:
    * sum of floor(x*1e7)*floor(y*1e7), exact int64 (|term| <= 1e14, dims
    * <= ~1e4), divided back at the boundary. Bit-identical across engines;
    * quantization error vs the true cosine is ~1e-7 — negligible for
    * similarity semantics and documented as part of the operator contract.
    *
    * Implemented by the native codegen'd [[graft.functions.FixedDotSum]]
    * (the HOF form, graft.HofForms.exactDotHof in test scope, is
    * CodegenFallback — interpreted per-element lambdas made the dot
    * product the CPU bottleneck of the whole similarity family).
    */
  def exactDot(a: Column, b: Column): Column =
    (graft.functions.VectorDot.fixedDotSum(a, b)
      .cast(DoubleType) / lit(FixedScale * FixedScale))

  /** Fast double dot product — order-dependent, so NOT oracle-safe for
    * output values; used only to PREFILTER candidates (error vs the exact
    * dot is ~1e-15, harmless when the filter margin is generous). The
    * survivors get [[exactDot]] for final values/ordering. Native codegen
    * ([[graft.functions.DoubleDot]]); fold order matches the sequential
    * HOF aggregate.
    */
  def fastDot(a: Column, b: Column): Column =
    graft.functions.VectorDot.doubleDot(a, b)

  /** Safety margin for a [[fastDot]] prefilter guarding an [[exactDot]]
    * decision: the fixed-point quantization gap is bounded by ~2e-7 per
    * dimension (each floor() loses < 1e-7 per factor), so the margin
    * must SCALE WITH THE VECTOR WIDTH — a hardcoded 1e-3 is nearly
    * exhausted at 4096 dims. 3e-7/dim plus the 1e-3 floor keeps the
    * historical margin for narrow vectors and containment for wide ones.
    */
  def dotEps(vec: Column): Column =
    greatest(lit(1e-3), size(vec).cast(DoubleType) * lit(3e-7))

  /** Whitespace tokens of trimmed text (mirrors DuckDB
    * `string_split(trim(text), ' ')`).
    */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** Positional multiplier m(j) as a compile-time constant (j small). */
  def multConst(j: Int): Long =
    ((j.toLong * j * 2654435761L) + j * 97L) % P

  /** THE split/sampling hash: multiplicative mix of an integer key,
    * exact int64 (key reduced mod P first so the product cannot wrap).
    * Single source of truth — q65/q78 sampling draws, q48's split
    * buckets, and q49's selection order must all agree or a changed
    * constant would silently desynchronize the leakage audit from the
    * split rule it guards.
    */
  def mixHash(key: Column): Column =
    (key.cast(org.apache.spark.sql.types.LongType) % P) *
      lit(2654435761L) % P

  /** Per-mille draw in [0, 1000) from [[mixHash]] (q65/q78 bucket rule). */
  def splitDraw(key: Column): Column = mixHash(key) % 1000L

  /** Per-token portable hash array — each token hashed ONCE with the
    * native codegen'd CharPolyHash; empty tokens pin to 0 (both engines:
    * `coalesce(list_sum([]) % P, 0)`). Materialize this as a column
    * BEFORE span/bigram lambdas so the token pass runs once per row,
    * not once per span.
    */
  def tokenHashes(ws: Column): Column =
    transform(ws, w =>
      coalesce(graft.functions.CharPolyHash.charPolyHash(w), lit(0L)))

  /** Polynomial hash of the n-token span starting at 1-based index i of
    * a precomputed token-hash array: SUM_d ths[i+d]·m(d+1+off) mod P
    * with per-term reduction (every term ≤ P² < 2^63, the reduced sum
    * ≤ n·P). Identical arithmetic is a one-liner in the DuckDB oracle.
    * `off` selects an independent multiplier stream (see
    * [[spanHashesWide]]).
    */
  def spanHash(ths: Column, i: Column, n: Int, off: Int = 0): Column =
    (0 until n).map { d =>
      element_at(ths, i + lit(d)) * lit(multConst(d + 1 + off)) % P
    }.reduce(_ + _) % P

  /** All n-token span hashes of a token array (1 per start position);
    * empty for arrays shorter than n. Computed by the native codegen'd
    * [[graft.functions.SpanHashesMod]] — the HOF form
    * (graft.HofForms.spanHashesHof, the test-scope pin reference) is
    * CodegenFallback and its per-span interpreted lambdas dominated the
    * span family's runtime.
    */
  def spanHashes(ths: Column, n: Int): Column =
    graft.functions.SpanHashesWide.spanHashesMod(ths,
      typedLit((0 until n).map(d => multConst(d + 1))))

  /** DuckDB rendering of [[spanHash]] over list column `ths` and loop
    * variable `i` — identical per-term-reduced arithmetic.
    */
  def spanHashSql(ths: String, n: Int, off: Int = 0): String =
    (0 until n)
      .map(d => s"$ths[i+$d]*${multConst(d + 1 + off)} % $P")
      .mkString("(", " + ", s") % $P")

  /** WIDE (60-bit) span fingerprints for the span-DEDUP family
    * (q47/q48/q165), where a hash collision materializes as a reported
    * false duplicate — unlike the hashed-feature consumers (bigram LM
    * q76/q158, distinct-n q160, classifier buckets q168), where
    * collisions are ordinary hash bucketing. A single mod-P hash lives
    * in ~2^30 space, so a corpus of n spans yields ~n²/2^31 colliding
    * pairs — measured: 25k unique synthetic docs (2.8M spans) produced
    * ~14k false-dup docs in q165. Two INDEPENDENT multiplier streams
    * (offsets 0 and 32 — past the longest span, so the streams never
    * overlap) combine as s1·2^30 + s2 < P·2^30 + P < 2^61: collision
    * space ~2^60, expected false pairs n²/2^61 — none until ~10^9
    * spans, and still only ~500 in a 10^12-span (100 TB-class) corpus.
    * Exact int64 in both engines; [[spanHashWideSql]] replays it.
    */
  def spanHashesWide(ths: Column, n: Int): Column = {
    // multiplier table as one literal: stream A (offsets 1..n) then
    // stream B (offsets 33..n+32) — the native expression's contract
    val mults = typedLit(
      (0 until n).map(d => multConst(d + 1)) ++
        (0 until n).map(d => multConst(d + 1 + 32)))
    graft.functions.SpanHashesWide.spanHashesWide(ths, mults)
  }

  /** DuckDB rendering of one [[spanHashesWide]] fingerprint at loop
    * variable `i`.
    */
  def spanHashWideSql(ths: String, n: Int): String =
    s"(${spanHashSql(ths, n)}) * 1073741824 + (${spanHashSql(ths, n, 32)})"

  /** DuckDB rendering of [[charHash]] over string expression `c` — the
    * list-comprehension form q168/q172's oracles inline — 0-pinned for
    * the empty string (`coalesce(list_sum([]) % P, 0)`).
    */
  def charHashSql(c: String): String =
    s"coalesce(list_sum([(ascii($c[i])" +
      s" * (((i*i % $P)*2654435761 + i*97) % $P)) % $P" +
      s" for i in range(1, length($c)+1)]) % $P, 0)"

  /** DuckDB rendering of [[splitDraw]] over integer expression `e`. */
  def splitDrawSql(e: String): String =
    s"(($e) % $P) * 2654435761 % $P % 1000"

  /** Distinct 3-word shingles of a token array (needs >= 3 tokens). */
  def shingles3(ws: Column): Column =
    array_distinct(transform(sequence(lit(1), size(ws) - 2),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
        element_at(ws, i + 2))))
}
