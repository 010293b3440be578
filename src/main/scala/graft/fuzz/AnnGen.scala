package graft.fuzz

import scala.util.Random

/** ANN-family differential fuzzer (v6 — the vector analogue of
  * [[QueryGen]]). The relational fuzzer shares ONE SQL text between
  * engines; the vector family cannot: Spark's array HOFs (`transform`,
  * `aggregate`, `zip_with`, `slice(start,len)`) and DuckDB's
  * (`list_transform`, `list_sum`, 1-based `[a:b]` slicing) have
  * disjoint spellings. Each [[AnnCase]] therefore carries a
  * (sparkSql, duckSql) PAIR generated from the SAME random parameters
  * over a SELF-CONTAINED corpus: every vector coordinate is a
  * deterministic integer function of (row, coordinate, collapse class),
  * so both engines construct bit-identical data from their own
  * `range()` and every downstream comparison is exact integer
  * arithmetic in doubles (the repo's micro-bridge discipline).
  *
  * Parameters fuzzed per case: dim (1..16), corpus size, query count,
  * k, COLLAPSE class count (c distinct base patterns → many vectors
  * exactly equal → maximal exact-distance ties, stressing the
  * (dist ASC, id ASC) tie-break discipline), jitter amplitude
  * (including 0 = pure duplicates), and for the SQ8 shape a magnitude
  * multiplier sweeping 5 decades (stressing the non-negative-dividend
  * integer-rounding identities that make Spark `div` ≡ DuckDB `//`).
  *
  * Shapes:
  *  - ann_topk:   brute-force exact top-k per query, SQL windows on
  *                both engines;
  *  - ann_assign: nearest-centroid confusion matrix — Spark runs the
  *                FUSED [[graft.functions.ArgminL2Micro]] codegen
  *                expression (the production hot path), DuckDB the
  *                relational ROW_NUMBER argmin: a differential test of
  *                the custom expression itself, per random geometry;
  *  - ann_sq8:    the SQ8 quantization identities (scale, half-away
  *                rounding, reconstruction error) as whole-corpus
  *                checksum aggregates.
  */
object AnnGen {

  final case class AnnCase(name: String, sparkSql: String, duckSql: String)

  /** base(b, j): class-b pattern coordinate, |value| ≤ 20·mult.
    * Injective in b for b < 41 (37 is a unit mod 41), so collapse
    * classes are genuinely distinct patterns. */
  private def baseExpr(bCol: String, jCol: String, mult: Long): String =
    s"((($bCol * 37 + $jCol * 13) % 41 - 20) * $mult)"

  /** jitter(i, j) ∈ [-a, a], deterministic, 0 when a = 0. */
  private def jitterExpr(iCol: String, jCol: String, a: Int): String =
    if (a == 0) "0" else s"(($iCol * 31 + $jCol * 7) % ${2 * a + 1} - $a)"

  private def sparkCorpus(n: Int, dim: Int, c: Int, a: Int, mult: Long): String =
    s"""corpus AS (
       |  SELECT id AS vec_id,
       |    transform(sequence(0, ${dim - 1}), j -> cast(
       |      ${baseExpr(s"(id % $c)", "j", mult)} + ${jitterExpr("id", "j", a)} as double)) AS em
       |  FROM range($n))""".stripMargin

  private def duckCorpus(n: Int, dim: Int, c: Int, a: Int, mult: Long): String =
    s"""corpus AS (
       |  SELECT i AS vec_id,
       |    list_transform(range($dim), j -> CAST(
       |      ${baseExpr(s"(i % $c)", "j", mult)} + ${jitterExpr("i", "j", a)} AS DOUBLE)) AS em
       |  FROM range($n) t(i))""".stripMargin

  private def shapeTopk(r: Random): (String, String) = {
    val dim = 1 + r.nextInt(16)
    val c = 1 + r.nextInt(10)
    val n = 20 + r.nextInt(181)
    val nq = 1 + r.nextInt(5)
    val k = 1 + r.nextInt(10)
    val a = r.nextInt(10)
    val spark =
      s"""WITH ${sparkCorpus(n, dim, c, a, 1000L)},
         |q AS (SELECT vec_id AS qid, em FROM corpus WHERE vec_id < $nq),
         |d AS (
         |  SELECT q.qid, c.vec_id,
         |    aggregate(zip_with(q.em, c.em, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x) AS dist
         |  FROM corpus c CROSS JOIN q),
         |r AS (
         |  SELECT qid, vec_id, dist,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk
         |  FROM d)
         |SELECT qid, rnk, vec_id, dist FROM r WHERE rnk <= $k
         |ORDER BY qid ASC, rnk ASC""".stripMargin
    val duck =
      s"""WITH ${duckCorpus(n, dim, c, a, 1000L)},
         |q AS (SELECT vec_id AS qid, em FROM corpus WHERE vec_id < $nq),
         |d AS (
         |  SELECT q.qid, c.vec_id,
         |    list_sum(list_transform(range($dim), i ->
         |      (q.em[i+1] - c.em[i+1]) * (q.em[i+1] - c.em[i+1]))) AS dist
         |  FROM corpus c CROSS JOIN q),
         |r AS (
         |  SELECT qid, vec_id, dist,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk
         |  FROM d)
         |SELECT qid, rnk, vec_id, dist FROM r WHERE rnk <= $k
         |ORDER BY qid ASC, rnk ASC""".stripMargin
    (spark, duck)
  }

  private def shapeAssign(r: Random): (String, String) = {
    val dim = 1 + r.nextInt(16)
    val c = 2 + r.nextInt(9)
    val n = 20 + r.nextInt(181)
    val a = r.nextInt(10)
    // centroids = the c jitter-free base patterns; vectors of class b
    // sit within jitter of centroid b, and with a = 0 EXACTLY on it —
    // ties then resolve by the (dist, cand) order on both engines
    val spark =
      s"""WITH ${sparkCorpus(n, dim, c, a, 1000L)},
         |cent AS (
         |  SELECT id AS cid,
         |    transform(sequence(0, ${dim - 1}), j -> cast(${baseExpr("id", "j", 1000L)} as double)) AS cvec
         |  FROM range($c)),
         |carr AS (SELECT collect_list(struct(cast(cid as int) AS cand, cvec)) AS cands FROM cent),
         |asg AS (
         |  SELECT c.vec_id % $c AS truec,
         |    cast(argmin_l2_micro(c.em, (SELECT cands FROM carr)) as bigint) AS assigned
         |  FROM corpus c)
         |SELECT truec, assigned, COUNT(*) AS n
         |FROM asg GROUP BY 1, 2
         |ORDER BY truec ASC, assigned ASC""".stripMargin
    val duck =
      s"""WITH ${duckCorpus(n, dim, c, a, 1000L)},
         |cent AS (
         |  SELECT i AS cid,
         |    list_transform(range($dim), j -> CAST(${baseExpr("i", "j", 1000L)} AS DOUBLE)) AS cvec
         |  FROM range($c) t(i)),
         |ad AS (
         |  SELECT v.vec_id, c.cid,
         |    list_sum(list_transform(range($dim), i ->
         |      (v.em[i+1] - c.cvec[i+1]) * (v.em[i+1] - c.cvec[i+1]))) AS dist
         |  FROM corpus v CROSS JOIN cent c),
         |asg AS (
         |  SELECT vec_id, cid AS assigned,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
         |  FROM ad)
         |SELECT vec_id % $c AS truec, CAST(assigned AS BIGINT) AS assigned, COUNT(*) AS n
         |FROM asg WHERE rn = 1
         |GROUP BY 1, 2
         |ORDER BY truec ASC, assigned ASC""".stripMargin
    (spark, duck)
  }

  private def shapeSq8(r: Random): (String, String) = {
    val dim = 1 + r.nextInt(16)
    val c = 1 + r.nextInt(10)
    val n = 20 + r.nextInt(181)
    val a = r.nextInt(10)
    val mult = Seq(1L, 10L, 100L, 1000L, 10000L, 100000L)(r.nextInt(6))
    val spark =
      s"""WITH ${sparkCorpus(n, dim, c, a, mult)},
         |sc AS (
         |  SELECT vec_id, em,
         |    greatest(1L, (aggregate(em, 0L, (m, x) -> greatest(m, abs(cast(x as bigint)))) + 126) div 127) AS s
         |  FROM corpus),
         |qv AS (
         |  SELECT vec_id, em, s,
         |    transform(em, x -> CASE WHEN cast(x as bigint) >= 0
         |      THEN (2 * cast(x as bigint) + s) div (2 * s)
         |      ELSE -((-2 * cast(x as bigint) + s) div (2 * s)) END) AS qs
         |  FROM sc),
         |per AS (
         |  SELECT vec_id,
         |    aggregate(qs, 0L, (m, q) -> greatest(m, abs(q))) AS mx,
         |    aggregate(qs, 0L, (acc, q) -> acc + q) AS sq,
         |    aggregate(zip_with(qs, em, (q, x) -> abs(q * s - cast(x as bigint))), 0L, (acc, e) -> acc + e) AS serr
         |  FROM qv)
         |SELECT COUNT(*) AS n_vecs,
         |  CAST(MAX(mx) AS BIGINT) AS max_absq,
         |  CAST(SUM(sq) AS BIGINT) AS sum_q,
         |  CAST(SUM(serr) AS BIGINT) AS sum_abs_err
         |FROM per""".stripMargin
    val duck =
      s"""WITH ${duckCorpus(n, dim, c, a, mult)},
         |sc AS (
         |  SELECT vec_id, em,
         |    GREATEST(1, (list_max(list_transform(em, x -> ABS(CAST(x AS BIGINT)))) + 126) // 127) AS s
         |  FROM corpus),
         |qv AS (
         |  SELECT vec_id, em, s,
         |    list_transform(em, x -> CASE WHEN CAST(x AS BIGINT) >= 0
         |      THEN (2 * CAST(x AS BIGINT) + s) // (2 * s)
         |      ELSE -((-2 * CAST(x AS BIGINT) + s) // (2 * s)) END) AS qs
         |  FROM sc),
         |per AS (
         |  SELECT vec_id,
         |    list_max(list_transform(qs, q -> ABS(q))) AS mx,
         |    CAST(list_sum(qs) AS BIGINT) AS sq,
         |    CAST(list_sum(list_transform(range($dim), i ->
         |      ABS(qs[i+1] * s - CAST(em[i+1] AS BIGINT)))) AS BIGINT) AS serr
         |  FROM qv)
         |SELECT COUNT(*) AS n_vecs,
         |  CAST(MAX(mx) AS BIGINT) AS max_absq,
         |  CAST(SUM(sq) AS BIGINT) AS sum_q,
         |  CAST(SUM(serr) AS BIGINT) AS sum_abs_err
         |FROM per""".stripMargin
    (spark, duck)
  }

  /** v7 (round-8 continuation): RESIDUAL-ALGEBRA differential. Spark
    * runs the PRODUCTION decomposition — fused argmin_l2_micro cell
    * assignment, residual = em − cvec(cell), distances computed against
    * the RECONSTRUCTION cvec + residual — while DuckDB computes the
    * plain exact distance. All coordinates are integers in doubles, so
    * reconstruction is exact and the two top-k lists must agree
    * bit-for-bit per random (dim, cells, jitter, ties) draw: any drift
    * in the residual algebra (the q223–q227 machinery), the fused
    * argmin, or either engine's tie-break surfaces as a mismatch. */
  private def shapeResidual(r: Random): (String, String) = {
    val dim = 1 + r.nextInt(16)
    val c = 2 + r.nextInt(9)
    val n = 20 + r.nextInt(181)
    val nq = 1 + r.nextInt(5)
    val k = 1 + r.nextInt(10)
    val a = r.nextInt(10)
    val spark =
      s"""WITH ${sparkCorpus(n, dim, c, a, 1000L)},
         |cent AS (
         |  SELECT id AS cid,
         |    transform(sequence(0, ${dim - 1}), j -> cast(${baseExpr("id", "j", 1000L)} as double)) AS cvec
         |  FROM range($c)),
         |carr AS (SELECT collect_list(struct(cast(cid as int) AS cand, cvec)) AS cands FROM cent),
         |asg AS (
         |  SELECT v.vec_id, v.em,
         |    cast(argmin_l2_micro(v.em, (SELECT cands FROM carr)) as bigint) AS cell
         |  FROM corpus v),
         |res AS (
         |  SELECT a.vec_id, a.cell, c.cvec,
         |    zip_with(a.em, c.cvec, (x, y) -> x - y) AS resid
         |  FROM asg a JOIN cent c ON a.cell = c.cid),
         |q AS (SELECT vec_id AS qid, em FROM corpus WHERE vec_id < $nq),
         |d AS (
         |  SELECT q.qid, v.vec_id,
         |    aggregate(zip_with(q.em, zip_with(v.cvec, v.resid, (cw, rs) -> cw + rs),
         |      (x, y) -> (x - y) * (x - y)), 0D, (acc, z) -> acc + z) AS dist
         |  FROM res v CROSS JOIN q),
         |r AS (
         |  SELECT qid, vec_id, dist,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk
         |  FROM d)
         |SELECT qid, rnk, vec_id, dist FROM r WHERE rnk <= $k
         |ORDER BY qid ASC, rnk ASC""".stripMargin
    val duck =
      s"""WITH ${duckCorpus(n, dim, c, a, 1000L)},
         |q AS (SELECT vec_id AS qid, em FROM corpus WHERE vec_id < $nq),
         |d AS (
         |  SELECT q.qid, v.vec_id,
         |    list_sum(list_transform(range($dim), i ->
         |      (q.em[i+1] - v.em[i+1]) * (q.em[i+1] - v.em[i+1]))) AS dist
         |  FROM corpus v CROSS JOIN q),
         |r AS (
         |  SELECT qid, vec_id, dist,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk
         |  FROM d)
         |SELECT qid, rnk, vec_id, dist FROM r WHERE rnk <= $k
         |ORDER BY qid ASC, rnk ASC""".stripMargin
    (spark, duck)
  }

  /** v7: TWO-STAGE RERANK differential (the q225–q227 discipline). Both
    * engines run the same algorithm from one parameter draw: stage 1
    * ranks by the SQ8-compressed distance (exact query vs dequantized
    * corpus — the ADC regime) and keeps a shortlist of k2 ≥ k; stage 2
    * re-ranks the shortlist at full precision and emits top-k. Stresses
    * shortlist-boundary ties under collapse classes (a = 0 makes whole
    * classes equidistant at BOTH stages) and the quantized/exact rank
    * interleave — per random (dim, cells, jitter, k, k2, magnitude). */
  private def shapeRerank(r: Random): (String, String) = {
    val dim = 1 + r.nextInt(16)
    val c = 1 + r.nextInt(10)
    val n = 20 + r.nextInt(181)
    val nq = 1 + r.nextInt(5)
    val k = 1 + r.nextInt(8)
    val k2 = k + 1 + r.nextInt(10)
    val a = r.nextInt(10)
    val mult = Seq(1L, 100L, 10000L)(r.nextInt(3))
    val spark =
      s"""WITH ${sparkCorpus(n, dim, c, a, mult)},
         |dq AS (
         |  SELECT vec_id, em,
         |    transform(em, x -> cast((CASE WHEN cast(x as bigint) >= 0
         |      THEN (2 * cast(x as bigint) + s) div (2 * s)
         |      ELSE -((-2 * cast(x as bigint) + s) div (2 * s)) END) * s as double)) AS deq
         |  FROM (SELECT vec_id, em,
         |    greatest(1L, (aggregate(em, 0L, (m, x) -> greatest(m, abs(cast(x as bigint)))) + 126) div 127) AS s
         |    FROM corpus)),
         |q AS (SELECT vec_id AS qid, em FROM corpus WHERE vec_id < $nq),
         |s1 AS (
         |  SELECT q.qid, v.vec_id, v.em,
         |    aggregate(zip_with(q.em, v.deq, (x, y) -> (x - y) * (x - y)), 0D, (acc, z) -> acc + z) AS qdist
         |  FROM dq v CROSS JOIN q),
         |sl AS (
         |  SELECT qid, vec_id, em,
         |    row_number() OVER (PARTITION BY qid ORDER BY qdist ASC, vec_id ASC) AS r1
         |  FROM s1),
         |s2 AS (
         |  SELECT sl.qid, sl.vec_id,
         |    aggregate(zip_with(q.em, sl.em, (x, y) -> (x - y) * (x - y)), 0D, (acc, z) -> acc + z) AS dist
         |  FROM sl JOIN q ON sl.qid = q.qid
         |  WHERE sl.r1 <= $k2),
         |r AS (
         |  SELECT qid, vec_id, dist,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk
         |  FROM s2)
         |SELECT qid, rnk, vec_id, dist FROM r WHERE rnk <= $k
         |ORDER BY qid ASC, rnk ASC""".stripMargin
    val duck =
      s"""WITH ${duckCorpus(n, dim, c, a, mult)},
         |dq AS (
         |  SELECT vec_id, em,
         |    list_transform(em, x -> CAST((CASE WHEN CAST(x AS BIGINT) >= 0
         |      THEN (2 * CAST(x AS BIGINT) + s) // (2 * s)
         |      ELSE -((-2 * CAST(x AS BIGINT) + s) // (2 * s)) END) * s AS DOUBLE)) AS deq
         |  FROM (SELECT vec_id, em,
         |    GREATEST(1, (list_max(list_transform(em, x -> ABS(CAST(x AS BIGINT)))) + 126) // 127) AS s
         |    FROM corpus)),
         |q AS (SELECT vec_id AS qid, em FROM corpus WHERE vec_id < $nq),
         |s1 AS (
         |  SELECT q.qid, v.vec_id, v.em,
         |    list_sum(list_transform(range($dim), i ->
         |      (q.em[i+1] - v.deq[i+1]) * (q.em[i+1] - v.deq[i+1]))) AS qdist
         |  FROM dq v CROSS JOIN q),
         |sl AS (
         |  SELECT qid, vec_id, em,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qdist ASC, vec_id ASC) AS r1
         |  FROM s1),
         |s2 AS (
         |  SELECT sl.qid, sl.vec_id,
         |    list_sum(list_transform(range($dim), i ->
         |      (q.em[i+1] - sl.em[i+1]) * (q.em[i+1] - sl.em[i+1]))) AS dist
         |  FROM sl JOIN q ON sl.qid = q.qid
         |  WHERE sl.r1 <= $k2),
         |r AS (
         |  SELECT qid, vec_id, dist,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rnk
         |  FROM s2)
         |SELECT qid, rnk, vec_id, dist FROM r WHERE rnk <= $k
         |ORDER BY qid ASC, rnk ASC""".stripMargin
    (spark, duck)
  }

  /** v8 (round 9): DENSE-LUT ADC differential. Spark runs the round-9
    * production pair — `dense_lut_micro` scatters random sparse
    * (pos, d) partials into the m·256-slot dense array and
    * `pq_adc_micro` sums per-subspace slots per vector — while DuckDB
    * computes the same ADC distance RELATIONALLY (join codes to the
    * sparse partial table, BIGINT-sum). Codes stay in the generated
    * alphabet (every (j, code) the corpus emits exists in the partial
    * table; the out-of-alphabet → +∞ path is PqAdcMicroSpec's job), so
    * the two rankings must agree bit-for-bit per random (m, alphabet,
    * magnitudes incl. NEGATIVE partials, ties). */
  private def shapeLutAdc(r: Random): (String, String) = {
    val m = 1 + r.nextInt(4)
    val nc = 2 + r.nextInt(31)
    val n = 20 + r.nextInt(181)
    val k = 1 + r.nextInt(10)
    val a1 = 1 + r.nextInt(97)
    val a2 = 1 + r.nextInt(89)
    val md = 11 + r.nextInt(990)
    val mult = Seq(1L, 100L, 10000L)(r.nextInt(3))
    val ca = 1 + r.nextInt(53)
    val cb = 1 + r.nextInt(47)
    def dexpr(j: String, c: String): String =
      s"((($j) * $a1 + ($c) * $a2) % $md - ${md / 2}) * $mult"
    val spark =
      s"""WITH pr AS (
         |  SELECT cast(id div $nc as int) AS j, cast(id % $nc as int) AS code,
         |    cast(${dexpr(s"(id div $nc)", s"(id % $nc)")} as double) AS d
         |  FROM range(${m * nc})),
         |lut AS (
         |  SELECT dense_lut_micro(collect_list(struct(j * 256 + code, d)), ${m * 256}) AS lut
         |  FROM pr),
         |corpus AS (
         |  SELECT id AS vec_id,
         |    transform(sequence(0, ${m - 1}), j -> cast((id * $ca + j * $cb) % $nc as int)) AS codes
         |  FROM range($n)),
         |dd AS (SELECT c.vec_id, pq_adc_micro(c.codes, l.lut) AS dist
         |       FROM corpus c CROSS JOIN lut l),
         |r AS (SELECT vec_id, dist,
         |    row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS rnk FROM dd)
         |SELECT rnk, vec_id, dist FROM r WHERE rnk <= $k ORDER BY rnk""".stripMargin
    val duck =
      s"""WITH pr AS (
         |  SELECT CAST(i // $nc AS INT) AS j, CAST(i % $nc AS INT) AS code,
         |    CAST(${dexpr(s"(i // $nc)", s"(i % $nc)")} AS DOUBLE) AS d
         |  FROM range(${m * nc}) t(i)),
         |corpus AS (
         |  SELECT i AS vec_id,
         |    list_transform(range($m), j -> CAST((i * $ca + j * $cb) % $nc AS INT)) AS codes
         |  FROM range($n) t(i)),
         |ev AS (SELECT vec_id, j, codes[j+1] AS code FROM corpus, range($m) t(j)),
         |dd AS (SELECT e.vec_id, CAST(SUM(CAST(p.d AS BIGINT)) AS DOUBLE) AS dist
         |       FROM ev e JOIN pr p ON p.j = e.j AND p.code = e.code
         |       GROUP BY e.vec_id),
         |r AS (SELECT vec_id, dist,
         |    ROW_NUMBER() OVER (ORDER BY dist ASC, vec_id ASC) AS rnk FROM dd)
         |SELECT rnk, vec_id, dist FROM r WHERE rnk <= $k ORDER BY rnk""".stripMargin
    (spark, duck)
  }

  /** v8: COVARIANCE SUFFICIENT-STATISTICS differential. Spark runs the
    * fused `cov_outer_micro` typed aggregate (128-bit limb buffers,
    * upper triangle) and decodes hi·2⁶⁴ + unsigned(lo) per cell; DuckDB
    * sums the outer products in HUGEINT — an exact 128-bit reference
    * the engine provides natively. Magnitudes keep the exact-double
    * window (≤ ~2·10¹⁵ per cell) so the DOUBLE-cast outputs are
    * bit-equal; the limb-boundary crossings themselves are
    * CovOuterMicroSpec's BigInt job. */
  private def shapeCovOuter(r: Random): (String, String) = {
    val dim = 1 + r.nextInt(6)
    val n = 20 + r.nextInt(181)
    val a1 = 1 + r.nextInt(97)
    val a2 = 1 + r.nextInt(89)
    val md = 11 + r.nextInt(990)
    val mult = Seq(1L, 100L, 3000L)(r.nextInt(3))
    def vexpr(i: String, kk: String): String =
      s"((($i) * $a1 + ($kk) * $a2) % $md - ${md / 2}) * $mult"
    val two64 = "CAST('18446744073709551616' AS DECIMAL(38,0))"
    val spark =
      s"""WITH corpus AS (
         |  SELECT id AS vec_id,
         |    transform(sequence(0, ${dim - 1}), k -> cast(${vexpr("id", "k")} as bigint)) AS em
         |  FROM range($n)),
         |b AS (SELECT cov_outer_micro(em) AS b FROM corpus),
         |ij AS (SELECT cast(id div $dim as int) AS i, cast(id % $dim as int) AS j
         |       FROM range(${dim * dim})),
         |tri AS (
         |  SELECT ij.i, ij.j,
         |    cast(CAST(b.b[2 * (ij.i * 64 + ij.j)] AS DECIMAL(38,0)) * $two64 +
         |      (CASE WHEN b.b[2 * (ij.i * 64 + ij.j) + 1] >= 0
         |        THEN CAST(b.b[2 * (ij.i * 64 + ij.j) + 1] AS DECIMAL(38,0))
         |        ELSE CAST(b.b[2 * (ij.i * 64 + ij.j) + 1] AS DECIMAL(38,0)) + $two64 END)
         |      as double) AS sxy
         |  FROM b CROSS JOIN ij WHERE ij.j >= ij.i)
         |SELECT i, j, sxy FROM tri ORDER BY i, j""".stripMargin
    val duck =
      s"""WITH corpus AS (
         |  SELECT i AS vec_id,
         |    list_transform(range($dim), k -> CAST(${vexpr("i", "k")} AS BIGINT)) AS em
         |  FROM range($n) t(i)),
         |tri AS (
         |  SELECT CAST(t.i AS INT) AS i, CAST(u.j AS INT) AS j,
         |    CAST(SUM(CAST(em[t.i+1] AS HUGEINT) * em[u.j+1]) AS DOUBLE) AS sxy
         |  FROM corpus, range($dim) t(i), range($dim) u(j)
         |  WHERE u.j >= t.i GROUP BY t.i, u.j)
         |SELECT i, j, sxy FROM tri ORDER BY i, j""".stripMargin
    (spark, duck)
  }

  /** v8: FUSED SHIFT-ENCODE differential (the q223 residual corpus
    * scan's hot path). Spark runs `pq_encode_shift_micro(em, shift,
    * cbs)` — micro-domain subtract + per-subspace argmin in one
    * primitive pass — DuckDB the relational form: residual = em −
    * shift, then ROW_NUMBER argmin per (vector, subspace) with the
    * (dist ASC, code ASC) tie order. Collapse classes and zero jitter
    * force maximal exact ties per random (m, dsub, codebook). */
  private def shapeShiftEncode(r: Random): (String, String) = {
    val m = 1 + r.nextInt(2)
    val dsub = 1 + r.nextInt(4)
    val d = m * dsub
    val nc = 2 + r.nextInt(7)
    val n = 20 + r.nextInt(131)
    val c = 1 + r.nextInt(8)
    val a = r.nextInt(10)
    val s1 = 1 + r.nextInt(50)
    val w1 = 1 + r.nextInt(61)
    val w2 = 1 + r.nextInt(59)
    def vexpr(i: String, kk: String): String =
      s"${baseExpr(s"(($i) % $c)", kk, 1000L)} + ${jitterExpr(i, kk, a)}"
    def sexpr(kk: String): String = s"((($kk) * $s1) % 37 - 18) * 500"
    def cwexpr(j: String, code: String, t: String): String =
      s"((($j) * $w1 + ($code) * $w2 + ($t) * 13) % 41 - 20) * 900"
    val spark =
      s"""WITH corpus AS (
         |  SELECT id AS vec_id,
         |    transform(sequence(0, ${d - 1}), k -> cast(${vexpr("id", "k")} as double)) AS em
         |  FROM range($n)),
         |sh AS (SELECT transform(sequence(0, ${d - 1}), k -> cast(${sexpr("k")} as double)) AS shift),
         |cb AS (
         |  SELECT cast(id div $nc as int) AS j, cast(id % $nc as int) AS code,
         |    transform(sequence(0, ${dsub - 1}), t ->
         |      cast(${cwexpr(s"(id div $nc)", s"(id % $nc)", "t")} as double)) AS cw
         |  FROM range(${m * nc})),
         |cba AS (SELECT collect_list(struct(j, code, cw)) AS cbs FROM cb),
         |enc AS (
         |  SELECT c.vec_id, pq_encode_shift_micro(c.em, s.shift, (SELECT cbs FROM cba)).codes AS codes
         |  FROM corpus c CROSS JOIN sh s)
         |SELECT vec_id, cast(pos as int) AS j, code
         |FROM enc LATERAL VIEW posexplode(codes) x AS pos, code
         |ORDER BY vec_id, j""".stripMargin
    val duck =
      s"""WITH corpus AS (
         |  SELECT i AS vec_id,
         |    list_transform(range($d), k -> CAST(${vexpr("i", "k")} AS DOUBLE)) AS em
         |  FROM range($n) t(i)),
         |sh AS (SELECT list_transform(range($d), k -> CAST(${sexpr("k")} AS DOUBLE)) AS shift),
         |cb AS (
         |  SELECT CAST(i // $nc AS INT) AS j, CAST(i % $nc AS INT) AS code,
         |    list_transform(range($dsub), t ->
         |      CAST(${cwexpr(s"(i // $nc)", s"(i % $nc)", "t")} AS DOUBLE)) AS cw
         |  FROM range(${m * nc}) t(i)),
         |res AS (
         |  SELECT vec_id, list_transform(range($d), k -> em[k+1] - sh.shift[k+1]) AS rv
         |  FROM corpus, sh),
         |asg AS (
         |  SELECT vec_id, j, code,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, code ASC) AS rn
         |  FROM (
         |    SELECT r.vec_id, c.j, c.code,
         |      list_sum(list_transform(range($dsub), t ->
         |        (r.rv[c.j*$dsub+t+1] - c.cw[t+1]) * (r.rv[c.j*$dsub+t+1] - c.cw[t+1]))) AS dist
         |    FROM res r CROSS JOIN cb c) z)
         |SELECT vec_id, CAST(j AS INT) AS j, code FROM asg WHERE rn = 1
         |ORDER BY vec_id, j""".stripMargin
    (spark, duck)
  }

  /** v9: HOUSEHOLDER REFLECTOR differential (the q250/q251 alignment
    * pass's scalar arithmetic — sqrt-normalize, cancellation-free
    * w = u + sign(u_t)·e_t, reflect, re-round). Spark runs the exact
    * HOF-fold dialect [[graft.queries.VectorQuant]]'s householdStep
    * emits (aggregate(zip_with…)); DuckDB the list_sum(list_transform…)
    * mirror — the same dialect pair the graded chain relies on, here
    * stressed per random (dim, target axis, direction class, corpus).
    * Direction classes force every guard path: the ZERO direction
    * (ww = 0 → identity), a pure NEGATIVE axis direction (s0 = −1 and
    * u ∝ e_t — maximal cancellation risk the sign choice avoids), a
    * negative-heavy ramp, and a general mixed direction. */
  private def shapeHouseholder(r: Random): (String, String) = {
    val dim = 2 + r.nextInt(7)
    val t = r.nextInt(dim)
    val n = 20 + r.nextInt(131)
    val c = 1 + r.nextInt(8)
    val a = r.nextInt(10)
    val dv1 = 1 + r.nextInt(43)
    val dmd = 7 + r.nextInt(60)
    val vClass = r.nextInt(4)
    def vexpr(i: String, kk: String): String =
      s"${baseExpr(s"(($i) % $c)", kk, 1000L)} + ${jitterExpr(i, kk, a)}"
    def dirExpr(kk: String): String = vClass match {
      case 0 => "0"
      case 1 => s"(CASE WHEN ($kk) = $t THEN -700000 ELSE 0 END)"
      case 2 => s"-(((($kk) * $dv1 + 3) % $dmd) * 1000)"
      case _ => s"(((($kk) * $dv1) % $dmd - ${dmd / 2}) * 1000)"
    }
    val spark =
      s"""WITH corpus AS (
         |  SELECT id AS vec_id,
         |    transform(sequence(0, ${dim - 1}), k -> cast(${vexpr("id", "k")} as double)) AS em
         |  FROM range($n)),
         |dirv AS (SELECT transform(sequence(0, ${dim - 1}), k -> cast(${dirExpr("k")} as double)) AS va),
         |hn AS (SELECT va,
         |    sqrt(aggregate(zip_with(va, va, (x, y) -> x * y), 0D, (a, z) -> a + z)) AS nv
         |  FROM dirv),
         |hs AS (SELECT va, nv,
         |    CASE WHEN nv = 0D THEN cast(0 as double)
         |      ELSE CASE WHEN element_at(va, $t + 1) / nv >= 0D THEN 1.0D ELSE -1.0D END END AS s0
         |  FROM hn),
         |hw AS (SELECT nv, transform(sequence(0, ${dim - 1}), k ->
         |    CASE WHEN nv = 0D THEN cast(0 as double)
         |      ELSE element_at(va, k + 1) / nv + CASE WHEN k = $t THEN s0 ELSE cast(0 as double) END END) AS wa
         |  FROM hs),
         |hq AS (SELECT wa,
         |    aggregate(zip_with(wa, wa, (x, y) -> x * y), 0D, (a, z) -> a + z) AS ww
         |  FROM hw),
         |rot AS (SELECT vec_id, transform(sequence(0, ${dim - 1}), k ->
         |    cast(round(CASE WHEN ww = 0D THEN element_at(em, k + 1)
         |      ELSE element_at(em, k + 1) - (2 * dw / ww) * element_at(wa, k + 1) END, 0) as bigint)) AS em
         |  FROM (SELECT c.vec_id, c.em, h.wa, h.ww,
         |          aggregate(zip_with(c.em, h.wa, (x, y) -> x * y), 0D, (a, z) -> a + z) AS dw
         |        FROM corpus c CROSS JOIN hq h) z)
         |SELECT vec_id, cast(pos as int) AS k, v
         |FROM rot LATERAL VIEW posexplode(em) x AS pos, v
         |ORDER BY vec_id, k""".stripMargin
    val duck =
      s"""WITH corpus AS (
         |  SELECT i AS vec_id,
         |    list_transform(range($dim), k -> CAST(${vexpr("i", "k")} AS DOUBLE)) AS em
         |  FROM range($n) t(i)),
         |dirv AS (SELECT list_transform(range($dim), k -> CAST(${dirExpr("k")} AS DOUBLE)) AS va),
         |hn AS (SELECT va,
         |    sqrt(list_sum(list_transform(range($dim), k -> va[k+1] * va[k+1]))) AS nv
         |  FROM dirv),
         |hs AS (SELECT va, nv,
         |    CASE WHEN nv = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE CASE WHEN va[$t+1] / nv >= 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END END AS s0
         |  FROM hn),
         |hw AS (SELECT nv, list_transform(range($dim), k ->
         |    CASE WHEN nv = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE va[k+1] / nv + CASE WHEN k = $t THEN s0 ELSE CAST(0 AS DOUBLE) END END) AS wa
         |  FROM hs),
         |hq AS (SELECT wa,
         |    list_sum(list_transform(range($dim), k -> wa[k+1] * wa[k+1])) AS ww
         |  FROM hw),
         |rot AS (SELECT vec_id, list_transform(range($dim), k ->
         |    CAST(ROUND(CASE WHEN ww = 0 THEN em[k+1]
         |      ELSE em[k+1] - (2 * dw / ww) * wa[k+1] END, 0) AS BIGINT)) AS em
         |  FROM (SELECT c.vec_id, c.em, h.wa, h.ww,
         |          list_sum(list_transform(range($dim), k -> c.em[k+1] * h.wa[k+1])) AS dw
         |        FROM corpus c CROSS JOIN hq h) z)
         |SELECT vec_id, CAST(u.k AS INT) AS k, em[u.k+1] AS v
         |FROM rot, range($dim) u(k)
         |ORDER BY vec_id, k""".stripMargin
    (spark, duck)
  }

  private val shapes: Seq[(String, Random => (String, String))] = Seq(
    "anntopk" -> shapeTopk _,
    "annassign" -> shapeAssign _,
    "annsq8" -> shapeSq8 _)

  private val shapesV7: Seq[(String, Random => (String, String))] =
    shapes ++ Seq(
      "annresid" -> shapeResidual _,
      "annrerank" -> shapeRerank _)

  private val shapesV8: Seq[(String, Random => (String, String))] =
    shapesV7 ++ Seq(
      "annlut" -> shapeLutAdc _,
      "anncov" -> shapeCovOuter _,
      "annshift" -> shapeShiftEncode _)

  private val shapesV9: Seq[(String, Random => (String, String))] =
    shapesV8 :+ ("annhh" -> shapeHouseholder _)

  def nShapes: Int = shapesV9.size

  /** FROZEN v6 corpus — graded picks (q230–q232) index into this; the
    * same never-change-a-frozen-generator rule as QueryGen.casesVN
    * (CorpusPinSpec pins the md5). */
  def casesV6(seed: Long, n: Int): Seq[AnnCase] =
    (0 until n).map { i =>
      val (shapeName, gen) = shapes(i % shapes.size)
      val r = new Random(seed * 1000003L + i)
      val (spark, duck) = gen(r)
      AnnCase(f"az$i%03d_$shapeName", spark, duck)
    }

  /** FROZEN v7 corpus (round-8 continuation): the v6 shapes plus the
    * residual-algebra and two-stage-rerank differentials. New seed
    * stream (prefix b, multiplier 1000033) so v6 cases are untouched. */
  def casesV7(seed: Long, n: Int): Seq[AnnCase] =
    (0 until n).map { i =>
      val (shapeName, gen) = shapesV7(i % shapesV7.size)
      val r = new Random(seed * 1000033L + i)
      val (spark, duck) = gen(r)
      AnnCase(f"bz$i%03d_$shapeName", spark, duck)
    }

  /** FROZEN v8 corpus (round 9): the v7 shapes plus the dense-LUT ADC,
    * covariance sufficient-statistics, and fused shift-encode
    * differentials — the round-9 expressions each fuzzed against an
    * independent relational/HUGEINT reference. New seed stream
    * (prefix c, multiplier 1000151) so v6/v7 are untouched. */
  def casesV8(seed: Long, n: Int): Seq[AnnCase] =
    (0 until n).map { i =>
      val (shapeName, gen) = shapesV8(i % shapesV8.size)
      val r = new Random(seed * 1000151L + i)
      val (spark, duck) = gen(r)
      AnnCase(f"cz$i%03d_$shapeName", spark, duck)
    }

  /** FROZEN v9 corpus (round 10): the v8 shapes plus the Householder
    * reflector differential — the q250/q251 alignment arithmetic fuzzed
    * per random (dim, axis, direction class) incl. the identity and
    * sign guard paths. New seed stream (prefix d, multiplier 1000253)
    * so v6/v7/v8 are untouched. */
  def casesV9(seed: Long, n: Int): Seq[AnnCase] =
    (0 until n).map { i =>
      val (shapeName, gen) = shapesV9(i % shapesV9.size)
      val r = new Random(seed * 1000253L + i)
      val (spark, duck) = gen(r)
      AnnCase(f"dz$i%03d_$shapeName", spark, duck)
    }

  /** Current ANN grammar (campaign + AnnFuzzSpec default). */
  def cases(seed: Long, n: Int): Seq[AnnCase] = casesV9(seed, n)
}
