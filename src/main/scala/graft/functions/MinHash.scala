package graft.functions

/** The ONE source of truth for the MinHash permutation family, shared by
  * the expression-based sketch (LlmOps.minhashOf), the typed Aggregator
  * (MinHashAggregator), the sketch aggregate (MinHashSketchAgg), and
  * every generated DuckDB oracle — so all four stay arithmetically
  * identical by construction.
  *
  * k = 16 permutations in 4 LSH bands of 4 rows: a 4-permutation demo width
  * (2×2 bands) has a ~0.71 Jaccard threshold but only 2-value band keys —
  * collision noise grows with corpus size. 4-value keys keep the same s-curve
  * midpoint ((1/4)^(1/4) ≈ 0.71) while making random band collisions
  * vanishingly rare at any scale; production systems use 64–128 perms, which
  * is this same machinery with a longer constant list.
  *
  * Every permutation is h_j(v) = (A(j)·v + B(j)) mod P with P = 2^31−1
  * and A(j) < 2^31, so A·v + B < 2^62 never overflows a 64-bit signed
  * integer in either engine. All multipliers are classic full-period LCG
  * constants from the public literature.
  */
object MinHash {
  val P: Long = 2147483647L

  val A: Array[Long] = Array(
    48271L, 69621L, 16807L, 40692L,
    65539L, 22695477L, 1103515245L, 134775813L,
    214013L, 16843009L, 69069L, 1664525L,
    1013904223L, 747796405L, 65537L, 2147483629L)

  val B: Array[Long] = Array(
    11L, 17L, 23L, 31L,
    43L, 59L, 71L, 89L,
    101L, 113L, 131L, 149L,
    167L, 181L, 197L, 211L)

  /** Number of permutations. */
  val K: Int = A.length
  /** LSH banding: Bands bands of R rows each (Bands · R == K). */
  val Bands: Int = 4
  val R: Int = 4

  require(A.length == B.length && Bands * R == K)

  /** Spark SQL expression for permutation j over column expression `v`. */
  def sparkExpr(j: Int, v: String = "v"): String = s"(${A(j)} * $v + ${B(j)}) % $P"
  /** The identical DuckDB expression (same operators, same semantics). */
  def duckExpr(j: Int, v: String = "v"): String = sparkExpr(j, v)
}
