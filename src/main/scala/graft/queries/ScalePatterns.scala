package graft.queries

import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dsl._

/** Scale-pattern operators: the shapes that keep working when the data
  * grows 1000× — distributed exact ranking (no single-partition window),
  * incremental aggregation (partial-merge = recompute), salted skew
  * joins, Z-order clustering keys, rolling holistic aggregates, and one
  * full k-means (Lloyd) iteration.
  *
  * Each query is the oracle-checkable face of a reusable operator in
  * `graft.operators` / `graft.functions`.
  */
object ScalePatterns extends QueryModule {

  /** Rolling median over a per-user sliding frame — a HOLISTIC window
    * aggregate (not algebraic like sum), the shape used for robust
    * rolling baselines. Partitioned by user_id, so the window never
    * sees more than one user's slice; ROUND 6 absorbs the engines'
    * interpolation last-ulp noise. */
  val rollingMedian: Q = Q(
    """SELECT event_id, user_id,
      |  ROUND(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS med
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
    events(s, d)
      .select(col("event_id"), col("user_id"),
        round(expr("percentile(value, 0.5)").over(w), 6).as("med"))
      .orderBy("event_id")
  }

  /** Equi-depth decile statistics via DISTRIBUTED exact ranking
    * (operators.GlobalRank): range-exchange + per-partition offsets
    * instead of the single-task `row_number() OVER (ORDER BY …)` — the
    * exact-ranking shape that survives 100 TB. The (o_totalprice,
    * o_orderkey) sort key is total, so ranks are engine-identical. */
  val decileStats: Q = Q(
    s"""WITH r AS (SELECT o_totalprice,
       |    ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
       |    COUNT(*) OVER () AS n
       |  FROM orders)
       |SELECT CAST(FLOOR((rnk - 1) * 10 / n) AS INT) AS decile,
       |  COUNT(*) AS n_rows,
       |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       |  ${sqlDsum("o_totalprice")} AS total
       |FROM r GROUP BY decile ORDER BY decile""".stripMargin) { (s, d) =>
    val o = orders(s, d).select("o_totalprice", "o_orderkey")
    // the count pass inside GlobalRank already knows the total — reuse it
    // instead of a third full scan for the decile denominator
    val (ranked, n) = graft.operators.GlobalRank.withRowNumberAndTotal(
      o, Seq(col("o_totalprice"), col("o_orderkey")), "rnk", partitions = 32)
    ranked
      .groupBy(floor((col("rnk") - 1) * 10 / n).cast("int").as("decile"))
      .agg(count(lit(1)).as("n_rows"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"),
        dsum(col("o_totalprice")).as("total"))
      .orderBy("decile")
  }

  /** Incremental aggregation (materialized-view maintenance): a frozen
    * base aggregate plus a delta aggregate, merged by re-aggregating the
    * partials — count/decimal-sum are algebraic, so merge == recompute
    * bit-for-bit, which is exactly what the oracle checks (it recomputes
    * from scratch). At 100 TB this is the difference between touching
    * one day of data and touching all of it. */
  val incrementalAgg: Q = Q(
    s"""SELECT user_id, COUNT(*) AS n, ${sqlDsum("value")} AS total
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = events(s, d)
    val cut = lit("2024-01-15").cast("timestamp")
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id").agg(count(lit(1)).as("__n"),
        sum(col("value").cast("decimal(28,4)")).as("__s"))
    // NULL-ts rows must land in exactly ONE side or merge != recompute
    // (the oracle aggregates them; `< cut` and `>= cut` both reject
    // NULL). Convention: unknown-time rows belong to the frozen base.
    val base = partial(ev.filter(col("ts") < cut || col("ts").isNull))
    val delta = partial(ev.filter(col("ts") >= cut)) // the new arrivals
    base.unionAll(delta)
      .groupBy("user_id")
      .agg(sum("__n").as("n"), sum("__s").cast("double").as("total"))
      .orderBy("user_id")
  }

  /** Salted skew join (operators.SkewSalt.join): the fact side's hot
    * keys are spread over 16 salt replicas of the dim — output identical
    * to the plain equi-join, which is what the oracle runs. The join is
    * hinted shuffle-hash so the salt actually exercises the shuffle path
    * (broadcast would hide it at fixture scale). */
  val saltedJoin: Q = Q(
    s"""SELECT c_mktsegment, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val joined = graft.operators.SkewSalt.join(
      orders(s, d), customer(s, d).hint("shuffle_hash"),
      factKey = "o_custkey", dimKey = "c_custkey", salts = 16)
    joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")
  }

  /** One full Lloyd (k-means) iteration: nearest-centroid assignment
    * (the q99 shape — fused codegen l2_micro over a broadcast centroid
    * set) followed by the centroid UPDATE: per (assigned cluster, dim)
    * mean of the micro-scaled components. The update is one (cluster,
    * dim)-keyed aggregate — 64 rows per vector, k·64 output rows — the
    * canonical distributed k-means step. Micro-scaling keeps every
    * intermediate exact (integer sums), so the new centroids are
    * engine-identical. */
  val kmeansUpdate: Q = Q(
    """WITH ed AS (
      |  SELECT vec_id, label, i,
      |    CAST(ROUND(CAST(embedding[i+1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS e
      |  FROM embeddings, range(64) t(i)),
      |cent AS (
      |  SELECT label, list(c ORDER BY i) AS cvec FROM (
      |    SELECT label, i, CAST(SUM(e) AS DOUBLE) / COUNT(*) AS c
      |    FROM ed GROUP BY label, i)
      |  GROUP BY label),
      |asg AS (
      |  SELECT v.vec_id, c.label AS cand,
      |    list_sum(list_transform(range(64), i ->
      |      (ROUND(CAST(v.embedding[i+1] AS DOUBLE) * 1000000, 0) - c.cvec[i+1])
      |      * (ROUND(CAST(v.embedding[i+1] AS DOUBLE) * 1000000, 0) - c.cvec[i+1]))) AS dist
      |  FROM embeddings v CROSS JOIN cent c),
      |best AS (SELECT vec_id, cand FROM (
      |  SELECT vec_id, cand,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cand ASC) AS rn
      |  FROM asg) WHERE rn = 1)
      |SELECT b.cand AS cluster, ed.i AS dim,
      |  CAST(SUM(ed.e) AS DOUBLE) / COUNT(*) AS c
      |FROM best b JOIN ed ON b.vec_id = ed.vec_id
      |GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin) { (s, d) =>
    graft.functions.L2Micro.register(s)
    val ed = embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("i", "e")))
      .select(col("vec_id"), col("label"), col("i"),
        round(col("e").cast("double") * 1000000d, 0).cast("long").as("e"))
    val cent = ed.groupBy("label", "i")
      .agg((sum("e").cast("double") / count(lit(1))).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(i, c))), x -> x.c)").as("cvec"))
    val w = Window.partitionBy("vec_id").orderBy(asc("dist"), asc("cand"))
    val best = embeddings(s, d)
      .crossJoin(broadcast(cent.select(col("label").as("cand"), col("cvec"))))
      .select(col("vec_id"), col("cand"), expr("l2_micro(embedding, cvec)").as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "cand")
    best.join(ed, "vec_id")
      .groupBy(col("cand").as("cluster"), col("i").as("dim"))
      .agg((sum("e").cast("double") / count(lit(1))).as("c"))
      .orderBy("cluster", "dim")
  }

  /** Z-order clustering key (functions.ZOrder2, codegen'd Morton
    * interleave): the multi-dimensional data-layout key — write parquet
    * sorted by z and min/max stats prune on EITHER dimension. The query
    * emits the z-values themselves (bit-exact vs DuckDB's integer
    * formulation of the same interleave) plus the decoded dims as a
    * self-check. */
  val zorderKey: Q = Q(
    s"""SELECT o_orderkey, o_custkey, pb,
       |  ${graft.functions.ZOrder2.sqlInterleave("o_custkey", "pb")} AS z
       |FROM (SELECT o_orderkey, o_custkey,
       |        CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS pb
       |      FROM orders WHERE o_orderkey < 500)
       |ORDER BY z, o_orderkey""".stripMargin) { (s, d) =>
    graft.functions.ZOrder2.register(s)
    orders(s, d)
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") / 1000.0).cast("long").as("pb"))
      .withColumn("z", expr("zorder2(o_custkey, pb)"))
      .orderBy("z", "o_orderkey")
  }

  /** Approximate percentiles (KLL-class sketch) — the scale path for
    * quantiles when the exact distributed rank (q112) is overkill. The
    * sketch estimate itself is engine-specific, so the graded row emits
    * the EXACT quantiles (oracle-checkable vs DuckDB `quantile_cont`)
    * plus a `within_tol` boolean proving in-query that the sketch at
    * accuracy 10000 lands within 1% relative error of the exact value —
    * the oracle side asserts that claim as literal TRUE. Scalar columns
    * only (an array-typed output is unhashable for the driver's
    * pandas-based checker). */
  val approxPercentile: Q = Q(
    """SELECT l_returnflag,
      |  CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS p25,
      |  CAST(quantile_cont(l_extendedprice, 0.50) AS DOUBLE) AS p50,
      |  CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE) AS p75,
      |  TRUE AS within_tol
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    def relOk(approx: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      abs(approx - exact) <= lit(0.01) * abs(exact)
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_extendedprice"), lit(0.25)).cast("double").as("p25"),
        percentile(col("l_extendedprice"), lit(0.5)).cast("double").as("p50"),
        percentile(col("l_extendedprice"), lit(0.75)).cast("double").as("p75"),
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
          .as("aq"))
      .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"),
        (relOk(col("aq")(0), col("p25")) &&
          relOk(col("aq")(1), col("p50")) &&
          relOk(col("aq")(2), col("p75"))).as("within_tol"))
      .orderBy("l_returnflag")
  }

  /** Deterministic PRIORITY SAMPLING (Duffield–Lund–Thorup): each doc
    * gets priority w/u for weight w = n_chars and a reproducible uniform
    * u ∈ (0,1] derived from a multiplicative integer hash of its id; the
    * top-k by priority is a weighted-without-replacement sample whose
    * inclusion probabilities are ∝ weight, and from which subset sums
    * are unbiasedly estimable — THE fixed-size-sample primitive for
    * monitoring a 100 TB corpus. All randomness is hash-derived (no RNG
    * state), so the sample is a pure function of the data: re-runs,
    * retries and both engines agree bit-for-bit — the integer hash is
    * exact, and the two IEEE divisions are exactly rounded identically
    * in Spark and DuckDB. The id is reduced mod 2^31-1 BEFORE the
    * Knuth-multiplier step, so the product stays < 2^63 for any BIGINT
    * doc_id (an unreduced multiply wraps past doc_id ≈ 3.5e9 — negative
    * u in Spark, out-of-range error in the oracle). Scale shape: one
    * linear scan + global top-k (TakeOrderedAndProject — per-partition
    * heaps, no full sort). */
  val prioritySample: Q = Q(
    """SELECT doc_id, lang, n_chars,
      |  CAST(n_chars AS DOUBLE) /
      |    (CAST(((doc_id % 2147483647) * 2654435761) % 2147483647 + 1 AS DOUBLE)
      |      / 2147483648.0) AS priority
      |FROM documents
      |ORDER BY priority DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    val u = expr(
      "CAST(((doc_id % 2147483647L) * 2654435761L) % 2147483647L + 1 AS DOUBLE)") /
      lit(2147483648.0)
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (col("n_chars").cast("double") / u).as("priority"))
      .orderBy(desc("priority"), col("doc_id"))
      .limit(20)
  }

  /** Mergeable-sketch COUNT DISTINCT (DataSketches HLL): per-day user
    * sketches (`hll_sketch_agg`) unioned into the full-range estimate
    * (`hll_union_agg`) — the pattern that makes DISTINCT maintainable
    * incrementally at 100 TB. q113's partial-merge trick only works for
    * ALGEBRAIC aggregates; distinct counts are holistic, and the sketch
    * is the standard fix: store one small binary per (day, dimension),
    * merge any subset on demand, never rescan history. The estimate is
    * engine-specific, so the graded columns are the EXACT distinct count
    * and event total (oracle-checkable) plus a `within_tol` boolean
    * proving in-query that the merged-sketch estimate lands within 5%
    * (≈3σ at lgK=12) of the exact count — the oracle asserts literal
    * TRUE. ScalePatternsSpec additionally proves union-of-daily ≈
    * all-at-once. */
  val hllMerge: Q = Q(
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  COUNT(*) AS n_events,
      |  TRUE AS within_tol
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = events(s, d).select(
      date_trunc("day", col("ts")).cast("date").as("day"),
      col("user_id"), col("event_type"))
    val daily = ev.groupBy("day", "event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    val merged = daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
        sum("n_events").as("n_events"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")).cast("double") <=
          lit(0.05) * col("exact_users").cast("double")).as("within_tol"))
      .orderBy("event_type")
  }

  /** INT8 embedding quantization — the compression move a 100 TB
    * embedding store runs before anything else: per-vector symmetric
    * quantization (scale = max|x|/127, q_i = clamp(round(x_i/scale)))
    * shrinks the dominant column 4× (float32 → int8), which is 4× less
    * scan IO and shuffle for every ANN/dedup pass downstream, at a
    * reconstruction error PROVABLY ≤ scale/2 per component.
    *
    * Determinism discipline: round is spelled floor(x/scale + 0.5) —
    * floor is exact IEEE in both engines, while round() half-way
    * tie-breaking differs between Spark (HALF_UP) and DuckDB (half away
    * from zero) — and every graded column is INTEGER (the nano-scaled
    * scale, integer component sums) so there is no float formatting to
    * diverge. `err_ok` certifies the ≤ scale/2 reconstruction bound
    * in-query; the oracle recomputes the identical arithmetic from the
    * raw embeddings and asserts the bound as TRUE. */
  /** Per-DIMENSION embedding statistics — the fit step of feature
    * normalization (whitening / standardization) every embedding
    * pipeline runs before training or indexing: mean, std, min, max for
    * each of the 64 dimensions. One posexplode → one 64-key aggregate;
    * at 100 TB this is a single map-side-combining exchange of 64
    * partial-stat rows per task (the partial aggregate collapses each
    * partition to 64 rows before any shuffle), and the resulting
    * 64-row table is the broadcast-sized normalization parameter set
    * the transform step consumes. float→double widening is exact;
    * per-element terms are ROUND 9 then DECIMAL-summed (partition-order
    * independent), and the variance is assembled from those exact sums
    * in one identical expression shape on both engines. */
  val embedStats: Q = Q(
    """WITH e AS (SELECT unnest(range(64)) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |s AS (SELECT dim, COUNT(*) AS n,
      |    CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
      |    MIN(x) AS vmin, MAX(x) AS vmax
      |  FROM e GROUP BY dim)
      |SELECT dim, n, ROUND(sx / n, 6) AS mean,
      |  ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std,
      |  ROUND(vmin, 6) AS vmin, ROUND(vmax, 6) AS vmax
      |FROM s ORDER BY dim""".stripMargin) { (s, d) =>
    val e = embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim").cast("long").as("dim"), col("xf").cast("double").as("x"))
    e.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(round(col("x"), 9).cast("decimal(28,9)")).cast("double").as("sx"),
        sum(round(col("x") * col("x"), 9).cast("decimal(28,9)")).cast("double").as("sxx"),
        min(col("x")).as("vmin"), max(col("x")).as("vmax"))
      .select(col("dim"), col("n"), round(col("sx") / col("n"), 6).as("mean"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6)
          .as("std"),
        round(col("vmin"), 6).as("vmin"), round(col("vmax"), 6).as("vmax"))
      .orderBy("dim")
  }

  val int8Quantize: Q = {
    val sqlScale = "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127"
    Q(
      s"""WITH q AS (
         |  SELECT vec_id, embedding, $sqlScale AS scale,
         |    list_transform(embedding, x -> CAST(greatest(-127, least(127,
         |      floor(CAST(x AS DOUBLE) / ($sqlScale) + 0.5))) AS BIGINT)) AS qv
         |  FROM embeddings
         |  WHERE $sqlScale > 0)
         |SELECT vec_id,
         |  CAST(floor(scale * 1e9) AS BIGINT) AS scale_nano,
         |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
         |  CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS sum_abs_q,
         |  TRUE AS err_ok
         |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
      val scale = expr(
        "aggregate(embedding, cast(0.0 as double), (m, x) -> greatest(m, abs(cast(x as double)))) / 127")
      embeddings(s, d)
        .select(col("vec_id"), col("embedding"), scale.as("scale"))
        .filter(col("scale") > 0)
        .select(col("vec_id"), col("embedding"), col("scale"),
          expr("transform(embedding, x -> cast(greatest(-127L, least(127L, " +
            "floor(cast(x as double) / scale + 0.5d))) as bigint))").as("qv"))
        .select(col("vec_id"),
          floor(col("scale") * lit(1e9)).cast("long").as("scale_nano"),
          expr("aggregate(qv, 0L, (a, v) -> a + v)").as("sum_q"),
          expr("aggregate(qv, 0L, (a, v) -> a + abs(v))").as("sum_abs_q"),
          // reconstruction bound: |x - q*scale| <= scale/2 for every
          // component (+ a 1e-9 float-noise guard); clamping never
          // triggers for symmetric scale = max|x|/127, so the bound is
          // exact, not probabilistic
          expr("forall(zip_with(embedding, qv, (x, v) -> " +
            "abs(cast(x as double) - v * scale) <= scale / 2 + 1e-9), p -> p)").as("err_ok"))
        .orderBy("vec_id")
    }
  }

  /** Mergeable FREQUENT-ITEMS sketch top-k (DataSketches via Spark 4's
    * approx_top_k_accumulate/combine/estimate) — the heavy-hitters
    * companion to q126's HLL row: store one small sketch per (group),
    * union any subset on demand, read the top-k without rescanning
    * history. Here per-lang token sketches are COMBINED into the global
    * top-10, graded against the exact aggregate. maxItemsTracked=64
    * exceeds the fixture vocabulary (31), so the sketch is in exact
    * mode and `sketch_exact` (estimated count == exact count for every
    * top-10 token) is a PROVABLE certificate, not a tolerance bet; at
    * real scale (vocab ≫ slots) the sketch guarantees counts within
    * n/maxMapSize and every item above that error floor survives the
    * merge — the property that makes distributed heavy-hitters
    * maintainable incrementally. */
  val topkSketch: Q = Q(
    s"""SELECT tok, n, rn, TRUE AS sketch_exact FROM (
       |  SELECT tok, COUNT(*) AS n,
       |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
       |  GROUP BY tok)
       |WHERE rn <= 10 ORDER BY rn""".stripMargin) { (s, d) =>
    val tok = documents(s, d)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("tok"))
    val perLang = tok.groupBy("lang")
      .agg(expr("approx_top_k_accumulate(tok, 64)").as("sk"))
    val est = perLang
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk, 64), 64)").as("est"))
      .select(explode(col("est")).as("e"))
      .select(col("e.item").as("tok"), col("e.count").as("est_n"))
    val w = Window.orderBy(desc("n"), asc("tok")) // bounded: vocabulary rows
    tok.groupBy("tok").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .join(broadcast(est), Seq("tok"), "left")
      .select(col("tok"), col("n"), col("rn"),
        (col("est_n").isNotNull && col("est_n") === col("n")).as("sketch_exact"))
      .orderBy("rn")
  }

  /** MERGE INTO (upsert + delete) as a batch operator — the incremental
    * table-maintenance shape every 100 TB table needs: a CDC batch of
    * inserts/updates/deletes is applied to the base snapshot in ONE
    * full-outer join on the key, with MERGE semantics (matched+U →
    * update, matched+D → drop, unmatched+I/U → insert, unmatched+D →
    * no-op). The CDC batch is derived deterministically from orders so
    * both engines see the identical change set: keys %11==0 delete,
    * else %5==0 update (+100.00), else %7==0 insert; the base snapshot
    * excludes the %7 keys so inserts are genuinely new.
    *
    * Scale notes: the join shuffles both sides by the merge key — with
    * the base table bucketed/partitioned by that key (the q97 publish
    * shape) the base side needs NO shuffle, and a small CDC batch
    * broadcasts instead. Before the join, a real system first joins the
    * CDC batch's DISTINCT partition keys against the table layout to
    * rewrite only touched partitions (see q130's DPP pin for the
    * pruning machinery). */
  val mergeUpsert: Q = Q(
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0),
      |cdc AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 11 = 0 THEN 'D'
      |         WHEN o_orderkey % 5 = 0 THEN 'U' ELSE 'I' END AS op,
      |    CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 11 <> 0
      |         THEN o_totalprice + 100.0 ELSE o_totalprice END AS new_price
      |  FROM orders
      |  WHERE o_orderkey % 11 = 0 OR o_orderkey % 5 = 0 OR o_orderkey % 7 = 0)
      |SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
      |  CASE WHEN c.op IS NULL THEN b.o_totalprice ELSE c.new_price END AS o_totalprice,
      |  CASE WHEN c.op IS NULL THEN 'keep'
      |       WHEN b.o_orderkey IS NULL THEN 'insert' ELSE 'update' END AS src
      |FROM base b FULL OUTER JOIN cdc c ON b.o_orderkey = c.o_orderkey
      |WHERE c.op IS NULL OR c.op <> 'D'
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = orders(s, d)
    val base = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val cdc = o
      .filter(col("o_orderkey") % 11 === 0 || col("o_orderkey") % 5 === 0 ||
        col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, lit("D"))
          .when(col("o_orderkey") % 5 === 0, lit("U")).otherwise(lit("I")).as("op"),
        when(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 11 =!= 0,
          col("o_totalprice") + lit(100.0)).otherwise(col("o_totalprice")).as("o_totalprice"))
    graft.operators.MergeInto(base, cdc, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** BUCKETED co-located join — the zero-shuffle fact⋈fact shape. Both
    * sides are published ONCE as bucketed tables (8 buckets on the join
    * key, Murmur3 — `repartition(8, key)` first so every bucket is
    * exactly one file), then the join consumes the bucketing: NO
    * Exchange on either join input — the only exchange in the plan is
    * the tiny 5-key aggregate above the join (PlanSpec pins this). The
    * per-bucket sorts that remain are task-local over one bucket each
    * (Spark 3+ only trusts bucket-file sort order behind a legacy flag),
    * so nothing crosses the network for the join itself. This is THE
    * pattern for a 100 TB fact-to-fact join that runs repeatedly: pay
    * the layout shuffle once at publish time, then every subsequent
    * join of any two tables bucketed on the same key is partition-local
    * — on a 1000-executor cluster each task reads bucket i of both
    * sides and merges. Staging is guarded by catalog lookup
    * (session-aware, so Bench's warm-up stages and the timed run
    * measures the JOIN, not the publish). */
  val bucketedJoin: Q = Q(
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val sfTag = d.replaceAll("[^a-z0-9]", "_")
    val ot = s"graft_b_orders_$sfTag"
    val lt = s"graft_b_lineitem_$sfTag"
    if (!s.catalog.tableExists(ot)) {
      orders(s, d).select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", graft.Memo.stagingDir("scale", d, "b_orders")).saveAsTable(ot)
    }
    if (!s.catalog.tableExists(lt)) {
      lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", graft.Memo.stagingDir("scale", d, "b_lineitem")).saveAsTable(lt)
    }
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** BITMAP exact count-distinct — the mergeable-EXACT sketch for dense
    * id spaces, sitting between COUNT(DISTINCT) (exact, but shuffles
    * every id) and HLL (q126 — mergeable, but approximate): pack user
    * ids into 32-bit words of a bitmap (word key = id DIV 32, bit = id
    * MOD 32), bit_or-merge the words, popcount-sum at read time. bit_or
    * is associative-commutative, so partial aggregation happens map-side
    * and the exchange carries one word per (event_type, 32-id block) —
    * a ≥32× payload reduction vs shuffling raw ids, with ZERO
    * approximation. The words themselves are the incremental state: a
    * daily bitmap table bit_or-merged over any date range answers exact
    * distinct-users for that range without touching raw events (same
    * incremental shape as q113/q126). Oracle derives both outputs
    * INDEPENDENTLY (COUNT DISTINCT of ids / of blocks), so the bitmap
    * math is checked against plain distinct semantics, not re-run.
    * Shifts stay in 0..31 — DuckDB's checked BIGINT << errors at 63,
    * and a 32-wide word dodges sign-bit semantics entirely. */
  val bitmapDistinct: Q = Q(
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(DISTINCT user_id // 32) AS n_words
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    events(s, d)
      .groupBy(col("event_type"), expr("user_id DIV 32").as("wk"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))").as("word"))
      .groupBy("event_type")
      .agg(expr("CAST(SUM(bit_count(word)) AS BIGINT)").as("n_users"),
        count(lit(1)).as("n_words"))
      .orderBy("event_type")
  }

  /** TOKEN-BUDGET batch assignment — cut the corpus (in a fixed global
    * order) into contiguous batches of ~20k chars each: the exact job of
    * a training-data loader laying out epochs, and the canonical use of
    * a global running sum. The naive spelling is `SUM(w) OVER (ORDER BY
    * doc_id)` — a single-partition window, the scale cliff — so this is
    * the graded face of operators.PrefixSum: range-exchange once, sum
    * one Long per partition to the driver, stamp `offset + local running
    * sum` in parallel. EXCLUSIVE prefix semantics make `prefix DIV
    * budget` the batch a document STARTS in, so batch boundaries are
    * deterministic and every engine/partitioning agrees bit-for-bit
    * (all-integer arithmetic — no floats anywhere). */
  val tokenBatches: Q = Q(
    """WITH c AS (SELECT doc_id, n_chars,
      |    COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      |  FROM documents)
      |SELECT CAST(prefix // 20000 AS BIGINT) AS batch_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c GROUP BY batch_id ORDER BY batch_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d).select(col("doc_id"), col("n_chars"))
    val pref = graft.operators.PrefixSum.withPrefixSum(
      docs, Seq(col("doc_id")), "n_chars", "prefix", partitions = 32)
    pref.groupBy(expr("prefix DIV 20000").as("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_total"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("batch_id")
  }

  /** Per-source embedding centroids + the pairwise centroid-cosine
    * matrix — the corpus-composition diagnostic ("are two scrapes the
    * same distribution?") and the first step of semantic source
    * weighting. Two-level reduction: (source, dim) decimal-exact
    * component means — ONE exchange keyed on a 20×64 key space, map-
    * side combinable — then the pairwise matrix over the TINY centroid
    * relation (20 rows of 64 dims → 190 pairs), where dot/norm sums
    * again accumulate in DECIMAL so merge order cannot flip a bit.
    * At 100 TB only the first aggregate touches the data; the matrix
    * cost is sources², independent of corpus size. The join key for
    * pairing is the dim index, so the pair aggregate is another equi-
    * keyed exchange — never a cross join of embeddings. */
  val sourceCentroids: Q = Q(
    """WITH j AS (SELECT d.source, e.embedding
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |comp AS (SELECT source, t.i,
      |    CAST(embedding[t.i + 1] AS DOUBLE) AS v FROM j, range(64) t(i)),
      |cent AS (SELECT source, i,
      |    CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
      |  FROM comp GROUP BY source, i),
      |p AS (SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,30))) AS DOUBLE) AS dot,
      |    CAST(SUM(CAST(a.c * a.c AS DECIMAL(38,30))) AS DOUBLE) AS naa,
      |    CAST(SUM(CAST(b.c * b.c AS DECIMAL(38,30))) AS DOUBLE) AS nbb
      |  FROM cent a JOIN cent b ON a.i = b.i AND a.source < b.source
      |  GROUP BY src_a, src_b)
      |SELECT src_a, src_b,
      |  ROUND(dot / (sqrt(naa) * sqrt(nbb)), 6) AS cos
      |FROM p ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
    val j = documents(s, d).select(col("doc_id"), col("source"))
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
    val comp = j.select(col("source"), posexplode(col("embedding")).as(Seq("i", "vf")))
      .select(col("source"), col("i"), col("vf").cast("double").as("v"))
    val cent = comp.groupBy("source", "i")
      .agg((sum(col("v").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("c"))
    val a = cent.select(col("source").as("src_a"), col("i"), col("c").as("ca"))
    val b = cent.select(col("source").as("src_b"), col("i").as("ib"), col("c").as("cb"))
    a.join(b, col("i") === col("ib") && col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum((col("ca") * col("cb")).cast("decimal(38,30)")).cast("double").as("dot"),
        sum((col("ca") * col("ca")).cast("decimal(38,30)")).cast("double").as("naa"),
        sum((col("cb") * col("cb")).cast("decimal(38,30)")).cast("double").as("nbb"))
      .select(col("src_a"), col("src_b"),
        round(col("dot") / (sqrt(col("naa")) * sqrt(col("nbb"))), 6).as("cos"))
      .orderBy("src_a", "src_b")
  }

  /** Sliding-window COUNT DISTINCT (7-day active users per day) — the
    * aggregate neither engine's window functions support directly
    * (DISTINCT inside an OVER frame), and the one that breaks naive
    * scaling hardest: the textbook workaround re-joins the fact table
    * per window offset. The scale-safe shape is KEY FANOUT over the
    * pre-deduplicated (day, user) relation: dedup first (one exchange,
    * map-side combinable), then each (day, user) row contributes to at
    * most 7 target days — a bounded ×7 expansion of the SMALL distinct
    * relation, not of the raw events — and the final per-day distinct
    * count is one more keyed aggregate. Work is O(distinct·window/day),
    * independent of raw event volume, and every step is an equi-keyed
    * exchange. Day ids are whole-integer epoch-day arithmetic. */
  val slidingDistinct: Q = Q(
    """WITH du AS (SELECT DISTINCT
      |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day_id, user_id
      |  FROM events),
      |days AS (SELECT DISTINCT day_id FROM du),
      |x AS (SELECT du.user_id, du.day_id + t.i AS target
      |      FROM du, range(7) t(i))
      |SELECT x.target AS day_id, COUNT(DISTINCT x.user_id) AS n_active_7d
      |FROM x JOIN days dd ON x.target = dd.day_id
      |GROUP BY x.target ORDER BY day_id""".stripMargin) { (s, d) =>
    val du = events(s, d)
      .select(expr("unix_micros(ts) DIV 86400000000").as("day_id"), col("user_id"))
      .distinct()
    val days = du.select(col("day_id").as("present_day")).distinct()
    val x = du.select(col("user_id"),
      explode(sequence(col("day_id"), col("day_id") + 6)).as("target"))
    x.join(days, col("target") === col("present_day"), "left_semi")
      .groupBy(col("target").as("day_id"))
      .agg(countDistinct("user_id").as("n_active_7d"))
      .orderBy("day_id")
  }

  /** Deterministic NEGATIVE SAMPLING (recommendation/contrastive
    * training): for each anchor order, 5 hash-derived candidate parts
    * minus the parts actually purchased — the (user, item⁻) pairs a
    * ranking model trains on. The textbook trap is the anti-join against
    * the full user×item product; here candidates are GENERATED (pure
    * integer hash arithmetic on (order, slot) → a part key in range) so
    * the relation entering the anti-join is |anchors|×5, and the
    * anti-join runs on (order, part) — an equi-key exchange against the
    * order's OWN lineitems only. Hash-derived ⇒ the same negatives
    * regenerate on every run/engine (q81/q90's reproducibility
    * discipline); the part-key upper bound arrives as a 1-row
    * broadcast, never a collect. */
  val negativeSampling: Q = Q(
    """WITH mx AS (SELECT MAX(p_partkey) AS maxk FROM part),
      |cand AS (SELECT o.o_orderkey, t.i,
      |    1 + ((o.o_orderkey % 1000003) * 2654435761 + t.i * 40503) % mx.maxk AS neg_part
      |  FROM orders o CROSS JOIN mx, range(5) t(i)
      |  WHERE o.o_orderkey % 97 = 0)
      |SELECT c.o_orderkey, c.i AS slot, CAST(c.neg_part AS BIGINT) AS neg_part
      |FROM cand c
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = c.o_orderkey AND l.l_partkey = c.neg_part)
      |ORDER BY o_orderkey, slot""".stripMargin) { (s, d) =>
    val mx = part(s, d).agg(max("p_partkey").as("maxk"))
    val cand = orders(s, d).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), explode(sequence(lit(0L), lit(4L))).as("i"))
      .crossJoin(broadcast(mx))
      .select(col("o_orderkey"), col("i"),
        (lit(1) + ((col("o_orderkey") % 1000003) * 2654435761L
          + col("i") * 40503) % col("maxk")).as("neg_part"))
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
    cand.join(li,
        col("o_orderkey") === col("l_orderkey") && col("neg_part") === col("l_partkey"),
        "left_anti")
      .select(col("o_orderkey"), col("i").as("slot"), col("neg_part"))
      .orderBy("o_orderkey", "slot")
  }

  override def queries: Seq[(String, Q)] = Seq(
    "q111_rolling_median"    -> rollingMedian,
    "q112_decile_stats"      -> decileStats,
    "q113_incremental_agg"   -> incrementalAgg,
    "q114_salted_join"       -> saltedJoin,
    "q115_kmeans_update"     -> kmeansUpdate,
    "q116_approx_percentile" -> approxPercentile,
    "q117_zorder_key"        -> zorderKey,
    "q121_priority_sample"   -> prioritySample,
    "q126_hll_merge"         -> hllMerge,
    "q136_int8_quantize"     -> int8Quantize,
    "q138_merge_upsert"      -> mergeUpsert,
    "q143_topk_sketch"       -> topkSketch,
    "q146_bucketed_join"     -> bucketedJoin,
    "q149_bitmap_distinct"   -> bitmapDistinct,
    "q151_token_batches"     -> tokenBatches,
    "q159_embed_stats"       -> embedStats,
    "q165_source_centroids"  -> sourceCentroids,
    "q166_sliding_distinct"  -> slidingDistinct,
    "q179_negative_sampling" -> negativeSampling,
    "q180_covariance_matrix" -> covarianceMatrix
  )

  /** Embedding COVARIANCE matrix (the PCA/whitening prep): all 2080
    * upper-triangle (i ≤ j) cells of the 64×64 covariance from one
    * component explode + one equi-join on vec_id + one (i,j)-keyed
    * exact aggregate. The per-vector fanout is dims²/2 — a constant —
    * so the shuffle is corpus × 2080 rows of three small numbers, and
    * the result relation (2080 cells) is broadcast-sized no matter how
    * large the corpus: exactly the statistic you compute once before
    * projecting 100 TB of vectors. Micro-scaled integers make E[xy]
    * sums exact (products widened to DECIMAL(19,0), the q129/q172
    * discipline); the mean-product correction happens per CELL on the
    * tiny result. */
  val covarianceMatrix: Q = Q(
    """WITH c AS (SELECT vec_id, t.i,
      |    CAST(ROUND(CAST(embedding[t.i + 1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS x
      |  FROM embeddings, range(64) t(i)),
      |p AS (SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
      |    CAST(SUM(a.x) AS BIGINT) AS sa,
      |    CAST(SUM(b.x) AS BIGINT) AS sb,
      |    SUM(CAST(a.x AS DECIMAL(19,0)) * CAST(b.x AS DECIMAL(19,0))) AS sab
      |  FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY a.i, b.i)
      |SELECT i, j,
      |  ROUND((CAST(sab AS DOUBLE) / CAST(n AS DOUBLE)
      |    - (CAST(sa AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(sb AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000000000.0, 9) AS cov
      |FROM p ORDER BY i, j""".stripMargin) { (s, d) =>
    val c = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"),
        round(col("xf").cast("double") * 1000000d, 0).cast("long").as("x"))
    val a = c.select(col("vec_id"), col("i"), col("x").as("xa"))
    val b = c.select(col("vec_id").as("vb"), col("i").as("j"), col("x").as("xb"))
    val p = a.join(b, col("vec_id") === col("vb") && col("i") <= col("j"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum("xa").as("sa"), sum("xb").as("sb"),
        sum(col("xa").cast("decimal(19,0)") * col("xb").cast("decimal(19,0)")).as("sab"))
    val nD = col("n").cast("double")
    p.select(col("i"), col("j"),
        round((col("sab").cast("double") / nD
          - (col("sa").cast("double") / nD) * (col("sb").cast("double") / nD))
          / 1000000000000.0, 9).as("cov"))
      .orderBy("i", "j")
  }
}
