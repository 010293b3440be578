package graft.queries

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dsl._

/** LLM-training-data pipeline operators (SURVEY.md §2.9, L1–L10, plus
  * SimHash / lang-ID / quality / fingerprint extensions) over the
  * `documents` and `embeddings` fixtures.
  *
  * Scale design: every operator is shuffle-partitioned by a bounded key
  * (lang, LSH band, coarse label) — never an unpartitioned pairwise
  * product. Brute-force cosine (L4) is the one quadratic op and is bounded
  * by a broadcast query set; L5 is its partition-pruned scale path.
  */
object Llm extends QueryModule {

  /** Tokenized view: lower-cased whitespace words. */
  private def words: Column = split(lower(col("text")), " ")
  private val sqlWords = "string_split(lower(text), ' ')"

  /** Shared stopword list (q58 quality score, q120 cleaning pipeline) —
    * ONE definition interpolated into both engines' expressions so the
    * quality semantics cannot drift between queries. */
  private[queries] final val stopWords =
    Seq("the", "a", "of", "and", "to", "in", "is", "data", "row")
  private def sqlStopList: String =
    stopWords.map(w => s"'$w'").mkString("[", ",", "]")

  /** Held-out eval slice for decontamination (q93, q120): every 97th doc
    * (~1% — the realistic benchmark:corpus ratio). Declared at the TOP of
    * the object (and as a compile-time constant) because the SQL strings
    * below interpolate it during object init — a later plain `val` would
    * read as 0 here. */
  private final val evalMod = 97

  /** Decontamination CTEs shared by q93 and q120 — benchmark = the eval
    * slice's distinct 5-shingles, `bad` = training docs sharing any of
    * them. One definition, two oracles that cannot drift. */
  private def sqlDeconCtes: String =
    s"""ws AS (SELECT doc_id, $sqlWords AS w FROM documents
       |            WHERE text IS NOT NULL),
       |shd AS (SELECT doc_id, unnest(${sqlShingles(5)}) AS s
       |        FROM ws WHERE len(w) >= 5),
       |ev AS (SELECT DISTINCT s FROM shd WHERE doc_id % $evalMod = 0),
       |bad AS (SELECT DISTINCT doc_id FROM shd
       |        WHERE doc_id % $evalMod <> 0 AND s IN (SELECT s FROM ev))""".stripMargin

  /** Spark side of [[sqlDeconCtes]]: the contaminated doc_id set (to
    * anti-join away). Eval shingles and the returned id set are both
    * broadcast-sized by construction. */
  private def deconBadIds(docs: DataFrame): DataFrame = {
    val sh5 = graft.Tables.wide(docs.sparkSession, docs).filter(col("text").isNotNull)
      .select(col("doc_id"), words.as("wds"))
      .filter(size(col("wds")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(hashedShinglesOf(5, col("wds")))).as("s"))
    val ev = sh5.filter(col("doc_id") % evalMod === 0).select("s").distinct()
    sh5.filter(col("doc_id") % evalMod =!= 0)
      .join(broadcast(ev), "s")
      .select("doc_id").distinct()
  }

  /** Word k-shingles as a Column (1-based element_at; guarded upstream by
    * a size filter so sequence() never sees a negative range).
    *
    * PERF: pass a MATERIALIZED words-array column (`wc`), never the raw
    * `words` expression — a split() inlined into the lambda is re-evaluated
    * per element (O(words²) per document; measured 4× slowdown on the
    * shingle queries). */
  private def shinglesOf(k: Int, wc: Column): Column =
    transform(sequence(lit(1), size(wc) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(o => element_at(wc, i + o)): _*))

  /** Hashed k-shingles: xxhash64 of each k-word array slice, with no
    * shingle STRING ever materialized. Used where only per-shingle
    * counts/minima matter (Jaccard pair generation, MinHash) — counts
    * are invariant under the hashing (64-bit collisions ~1e-10 at
    * fixture cardinality, and the DuckDB oracle's string shingles turn
    * a collision into a loud hash-mismatch). */
  private def hashedShinglesOf(k: Int, wc: Column): Column =
    transform(sequence(lit(1), size(wc) - (k - 1)),
      // seed-chained element hashes, NOT xxhash64(slice(wc,i,k)): the
      // slice form allocates a fresh k-element array per shingle, and
      // the r13 optimization round measured that allocation at ~2× the
      // whole map side of the shingle pipeline (0.83→0.36 s for the
      // sf0.1 shingle+explode stage; guide §1.2 "per-task work").
      // Identical collision class (64-bit seed-chained string hashing
      // either way), and every graded output is invariant under the
      // per-shingle hash VALUE (counts, set-equality groups, min-over-
      // set signatures), so only the engine-internal key changes.
      // Callers guarantee size(wc) >= k, so element_at stays in-bounds
      // (sequence(1, n-k+1) would emit [1,0] on shorter arrays and
      // element_at(wc, 0) throws under ANSI — same guard the previous
      // form needed for an empty-sequence edge).
      i => xxhash64((0 until k).map(o => element_at(wc, i + o)): _*))
  private def shingles(k: Int): Column = shinglesOf(k, words)
  private def sqlShingles(k: Int): String = {
    val parts = (1 to k).map(o => s"w[i+$o]").mkString(" || ' ' || ")
    s"list_transform(range(len(w) - ${k - 1}), i -> $parts)"
  }

  // ------------------------------------------------------------------- L1

  /** L1: exact content dedup — survivor per sha256(text) is the smallest
    * doc_id (window, not dropDuplicates, so the pick is deterministic).
    * One shuffle by hash; at 100 TB the hash groupBy is the canonical
    * exact-dedup shape. */
  val dedupExact: Q = Q(
    """SELECT doc_id, content_hash FROM (
      |  SELECT doc_id, sha256(text) AS content_hash,
      |    ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "content_hash")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------- L2

  /** Document-frequency cap for L2 shingles: a shingle present in more
    * than this many same-lang documents is boilerplate, carries no
    * near-dup signal, and — critically — contributes O(df²) rows to the
    * pair join. Dropping df>cap shingles bounds any single join key's
    * fanout to cap² pair-rows, which is what makes the operator safe on
    * natural text at 100 TB (the classic skew bomb). Fixture max df is 25
    * at sf0.1, so fixture results are unchanged. */
  private val shingleDfCap = 100

  /** Jaccard candidate-pair CTEs shared by q47 (pairs), q78 (cluster
    * resolution) and q120 (cleaning pipeline); kept in one place so the
    * oracles can never drift. `src` is the relation the pairs are
    * computed over (`documents`, or a filtered CTE of it). */
  /** The intersection-counting prefix (postings → df cap → per-doc
    * counts → pair intersections) shared by the Jaccard CTEs below and
    * q158's containment query. */
  /** As [[sqlInterCtesFrom]] but over an arbitrary (doc_id, lang, w)
    * words-relation — lets the SAME intersection CTEs run at chunk
    * granularity (q208), where the "documents" are chunk windows with a
    * composite id. */
  private def sqlInterCtesFromWords(srcWords: String): String =
    s"""sh0 AS (
       |  SELECT DISTINCT doc_id, lang, s FROM (
       |    SELECT doc_id, lang, unnest(sq) AS s FROM (
       |      SELECT doc_id, lang, $sqlShingles3 AS sq
       |      FROM $srcWords
       |      WHERE len(w) >= 3))),
       |hot AS (SELECT lang, s FROM sh0 GROUP BY lang, s HAVING COUNT(*) > $shingleDfCap),
       |sh AS (SELECT * FROM sh0 WHERE NOT EXISTS (
       |  SELECT 1 FROM hot WHERE hot.lang = sh0.lang AND hot.s = sh0.s)),
       |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private def sqlInterCtesFrom(src: String): String =
    sqlInterCtesFromWords(s"(SELECT doc_id, lang, $sqlWords AS w FROM $src)")

  private def sqlPairCtesFromWords(srcWords: String, tau: String): String =
    s"""${sqlInterCtesFromWords(srcWords)},
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |    ROUND(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 6) AS jaccard
       |  FROM inter
       |  JOIN cnt ca ON doc_a = ca.doc_id
       |  JOIN cnt cb ON doc_b = cb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= $tau)""".stripMargin

  private def sqlPairCtesFrom(src: String): String =
    sqlPairCtesFromWords(s"(SELECT doc_id, lang, $sqlWords AS w FROM $src)", "0.03")

  private def sqlPairCtes: String = sqlPairCtesFrom("documents")

  /** The Jaccard pair pipeline (unordered), shared by q47 and q78.
    *
    * Shape: ONE shuffle groups postings by (lang, shingle); the df cap
    * then bounds every posting list to ≤ cap docs, which makes in-place
    * pair GENERATION (sorted list → (i,j) i<j pairs, ≤ cap²/2 each) safe
    * — no self-join of the shingle relation at all. Per-doc shingle
    * counts reuse the capped postings (explode-back), so Jaccard
    * denominators see exactly the capped feature set, same as the
    * oracle's NOT EXISTS formulation. */
  private[queries] def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsOf(documents(s, d))

  /** Pair intersections with both per-doc capped-shingle counts:
    * (doc_a, doc_b, i, ca, cb). The shared prefix of Jaccard (q47/q78/
    * q120) and containment (q158) — one posting-list shuffle, in-place
    * pair generation, never a self-join. */
  private def intersectionsOf(docs: DataFrame): DataFrame =
    intersectionsOfWords(docs.select(col("doc_id"), col("lang"), words.as("wds")))

  /** As [[intersectionsOf]] but over a pre-split (doc_id, lang, wds)
    * relation — the chunk-granularity entry point (q208). */
  private def intersectionsOfWords(rel: DataFrame): DataFrame = {
    // array_distinct already dedupes within a doc and docs are unique, so
    // (doc_id, s) is distinct by construction — no extra shuffle needed.
    // Shingles travel as xxhash64 of the word-array slice, not as the
    // ~25-byte shingle STRING: jaccard only consumes per-key COUNTS, so
    // hashing leaves every count invariant (64-bit collisions are ~1e-10
    // at fixture cardinality and would fail the oracle hash loudly), the
    // shuffle payload drops to 8 bytes/shingle, and no shingle string is
    // ever materialized. The DuckDB oracle keeps literal string shingles
    // — matching output is exactly the collision-freeness check.
    // CPU fan-out before the shingle explode (Tables.wide scaladoc): the
    // split+hash+explode below is the pipeline's dominant map cost and
    // would otherwise run inside the single-split fixture scan stage
    val sh0 = graft.Tables.wide(rel.sparkSession, rel)
      .filter(size(col("wds")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(hashedShinglesOf(3, col("wds")))).as("s"))
    // postings per (lang, shingle); sorted for deterministic a<b pairs.
    // The df cap is applied BEFORE any posting list materializes: df
    // rides a window count over the one (lang, s) exchange (WindowExec
    // buffers per-key groups in a spillable row array — a hot shingle
    // costs disk, never heap), and only the ≤cap survivors reach
    // collect_list, so every aggregation buffer is bounded by cap.
    // Collecting first and filtering after held each hot shingle's FULL
    // posting list in the aggregation hash map — measured OOM at the
    // ×1000 chunk decade (50M overlapping chunks), and the same hazard
    // exists for any 100 TB doc corpus where a boilerplate shingle
    // spans millions of docs. The window's hash partitioning is
    // preserved into the groupBy (no second exchange).
    val capped = sh0
      .withColumn("df", count(lit(1)).over(Window.partitionBy("lang", "s")))
      .filter(col("df") <= shingleDfCap)
      .groupBy("lang", "s")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    val cnt = capped.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = capped
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS doc_a, y AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(cnt.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("i"),
        col("ca.c").as("ca"), col("cb.c").as("cb"))
  }

  private def jaccardPairsOf(docs: DataFrame): DataFrame =
    jaccardPairsOfWords(docs.select(col("doc_id"), col("lang"), words.as("wds")), 0.03)

  private def jaccardPairsOfWords(rel: DataFrame, tau: Double): DataFrame = {
    val jac = col("i").cast("double") / (col("ca") + col("cb") - col("i"))
    intersectionsOfWords(rel)
      .filter(jac >= tau)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
  }

  /** L2: exact near-duplicate detection — pairwise Jaccard over distinct
    * word 3-shingles, restricted to same-lang pairs (the pair space is
    * partitioned by lang; never an unbounded cross product). The shingle
    * equi-join produces only pairs that share ≥1 shingle — sparse — and
    * ubiquitous shingles are dropped first (df cap, broadcast anti-join:
    * the hot set is small by construction, so the cap costs one map-side
    * pass, not a shuffle of the shingle relation). */
  val nearDupJaccard: Q = Q(
    s"""WITH $sqlPairCtes
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    jaccardPairs(s, d).orderBy("doc_a", "doc_b")
  }
  private def sqlShingles3 = sqlShingles(3)

  /** CONTAINMENT near-dup — the asymmetric companion to q47's Jaccard:
    * C(A,B) = |S(A)∩S(B)| / min(|S(A)|, |S(B)|), i.e. the larger of the
    * two DIRECTED containments. Jaccard misses subset duplication (a
    * short doc quoted whole inside a long one scores i/(ca+cb−i) ≈
    * small even though one side is fully contained); containment is the
    * screen that catches it, which is why dedup stacks run both.
    * Identical scale shape to q47 — the SAME intersection prefix (one
    * posting-list shuffle, df-capped in-place pair generation), only
    * the final scalar differs. Threshold 0.5: at least half of the
    * smaller doc's shingle set re-occurs in the other doc. */
  val containmentDup: Q = Q(
    s"""WITH ${sqlInterCtesFrom("documents")}
       |SELECT doc_a, doc_b, CAST(ca.c AS BIGINT) AS ca, CAST(cb.c AS BIGINT) AS cb,
       |  CAST(i AS BIGINT) AS i,
       |  ROUND(CAST(i AS DOUBLE) / LEAST(ca.c, cb.c), 6) AS containment
       |FROM inter
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(i AS DOUBLE) / LEAST(ca.c, cb.c) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val cont = col("i").cast("double") / least(col("ca"), col("cb"))
    intersectionsOf(documents(s, d))
      .filter(cont >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("ca"), col("cb"), col("i"),
        round(cont, 6).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** End-to-end near-dup dedup as a single graded operation: candidate
    * pairs → clusters ([[graft.operators.ConnectedComponents]]) → the
    * CLEANED CORPUS via [[graft.operators.Dedup.keepSurvivors]] (one
    * survivor per cluster = min doc_id; unpaired documents pass
    * through). This is what a training-data pipeline actually consumes
    * — q47/q78 grade the intermediate steps, this row grades the
    * composition. Oracle: anti-join documents against the recursive-CTE
    * non-survivors over the same pairs. */
  val dedupCorpus: Q = Q(
    s"""WITH RECURSIVE $sqlPairCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
       |losers AS (
       |  SELECT id FROM reach GROUP BY id HAVING id <> MIN(label))
       |SELECT d.doc_id, d.lang FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = d.doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    graft.operators.Dedup.keepSurvivors(
        documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", jaccardPairs(s, d), "doc_a", "doc_b")
      .orderBy("doc_id")
  }

  /** The END-TO-END training-data cleaning pipeline as ONE graded
    * operation — the composition a corpus curator actually ships:
    *
    *   1. hold out the eval slice (doc_id % 97 = 0);
    *   2. quality filter: length window + stopword-ratio floor (q58's
    *      signals applied as predicates);
    *   3. decontaminate: drop docs sharing any 5-shingle with the eval
    *      slice (q93's broadcast-join shape);
    *   4. near-dup dedup the SURVIVING subset: Jaccard pairs → connected
    *      components → one survivor per cluster (q47/q78/q88's shape,
    *      run on the filtered relation — dedup after filtering, so
    *      cluster survivors are chosen among docs that passed).
    *
    * Scale shape is inherited piecewise: eval shingles and contaminated
    * ids broadcast (corpus shingles never shuffle for decon), quality
    * predicates fold into the scan, and the pair pipeline runs on the
    * reduced relation — each stage only shrinks the data the next stage
    * shuffles. */
  val cleanPipeline: Q = Q(
    s"""WITH RECURSIVE $sqlDeconCtes,
       |kept AS (
       |  SELECT * FROM documents
       |  WHERE doc_id % $evalMod <> 0
       |    AND n_chars BETWEEN 100 AND 500
       |    AND CAST(len(list_filter(string_split(lower(text), ' '),
       |          t -> list_contains($sqlStopList, t))) AS DOUBLE)
       |        / len(string_split(lower(text), ' ')) >= 0.05
       |    AND doc_id NOT IN (SELECT doc_id FROM bad)),
       |${sqlPairCtesFrom("kept")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
       |losers AS (
       |  SELECT id FROM reach GROUP BY id HAVING id <> MIN(label))
       |SELECT k.doc_id, k.lang, k.n_chars FROM kept k
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = k.doc_id)
       |ORDER BY k.doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
    // materialize the filtered relation ONCE: `kept` feeds BOTH the pair
    // pipeline and the survivor anti-join, and exchange reuse does not
    // bridge those branch shapes — without the checkpoint the whole
    // quality+decontamination subtree (two split() passes per row plus
    // the 5-shingle broadcast join) runs once per consumer
    val kept = docs
      .filter(col("doc_id") % evalMod =!= 0)
      .filter(col("n_chars").between(100, 500))
      .filter(size(filter(words, t => t.isInCollection(stopWords))).cast("double")
        / size(words) >= 0.05)
      .join(broadcast(deconBadIds(docs)), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    graft.operators.Dedup.keepSurvivors(
        kept.select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", jaccardPairsOf(kept), "doc_a", "doc_b")
      .orderBy("doc_id")
  }

  /** Dedup group resolution — the q47 candidate pairs resolved to
    * duplicate CLUSTERS by distributed connected components
    * (randomized-order edge contraction, see
    * [[graft.operators.ConnectedComponents]]); the survivor of each
    * cluster is its minimum doc_id. Oracle: DuckDB recursive CTE
    * computing min reachable id over the same pairs. */
  val dedupGroups: Q = Q(
    s"""WITH RECURSIVE $sqlPairCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
       |SELECT id AS doc_id, MIN(label) AS cluster_id,
       |  (id = MIN(label)) AS survivor
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.operators.ConnectedComponents(jaccardPairs(s, d), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("survivor"))
      .orderBy("doc_id")
  }

  /** QUALITY-AWARE survivor selection — q78 picks each cluster's minimum
    * doc_id, which is arbitrary; a curator keeps the BEST member. Here
    * "best" = longest document (max n_chars, the practical proxy when a
    * near-dup cluster mixes a full document with its truncations),
    * tiebreak min doc_id for determinism. Same cluster machinery as
    * q78 ([[graft.operators.ConnectedComponents]]); the selection is one
    * window per cluster — partitioned by cluster label, so the frame is
    * bounded by cluster size (small by dedup's nature), never a global
    * sort. At 100 TB: clusters ride one exchange keyed on label; the
    * quality attribute joins on doc_id BEFORE the window so the per-
    * cluster frame carries only (id, n_chars). */
  val qualitySurvivor: Q = Q(
    s"""WITH RECURSIVE $sqlPairCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
       |cl AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
       |j AS (SELECT cl.cluster_id, cl.id, d.n_chars
       |      FROM cl JOIN documents d ON cl.id = d.doc_id),
       |r AS (SELECT cluster_id, id, n_chars,
       |        ROW_NUMBER() OVER (PARTITION BY cluster_id
       |          ORDER BY n_chars DESC, id ASC) AS rn,
       |        COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
       |      FROM j)
       |SELECT cluster_id, id AS kept_doc, n_docs, n_chars AS kept_chars
       |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
    val cl = graft.operators.ConnectedComponents(jaccardPairs(s, d), "doc_a", "doc_b")
      .select(col("id"), col("label").as("cluster_id"))
    val j = cl.join(documents(s, d).select(col("doc_id"), col("n_chars")),
      col("id") === col("doc_id"))
    val w = Window.partitionBy("cluster_id")
    j.select(col("cluster_id"), col("id"), col("n_chars"),
        row_number().over(w.orderBy(desc("n_chars"), asc("id"))).as("rn"),
        count(lit(1)).over(w).as("n_docs"))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("id").as("kept_doc"),
        col("n_docs"), col("n_chars").as("kept_chars"))
      .orderBy("cluster_id")
  }

  // ------------------------------------------------------------------- L3

  /** L3 candidate generation: MinHash LSH near-dup candidate pairs —
    * 16 hash slots banded 4×4; a pair is a candidate iff all 4 minhashes
    * of some band agree. Linear in corpus size (explode by band, groupBy
    * band signature), the scalable form of L2. Exposed for q48's
    * recall gate and the LlmSpec composition tests. */
  private[queries] def minHashCandidates(s: SparkSession, d: String): DataFrame = {
    val nHashes = 16
    val bands = 4
    val rows = nHashes / bands
    // hash each shingle ONCE — directly off the word-array slice, no
    // shingle string ever built — then derive the k slots by affine
    // mixing (universal-hashing family), k× cheaper than k string hashes
    val sh = documents(s, d)
      .select(col("doc_id"), words.as("wds"))
      .filter(size(col("wds")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(hashedShinglesOf(3, col("wds")))).as("h"))
    // ANSI mode forbids wrapping multiplication, so mix in a range that
    // cannot overflow: 31-bit hash × 24-bit odd multiplier + offset < 2^62
    val hm = col("h").bitwiseAND(0x7FFFFFFFL)
    val mix = (0 until nHashes).map { j =>
      val a = 16777619L * (2L * j + 1) // odd, < 2^30
      val b = 1000003L * (j + 1)
      min(hm * a + b).as(s"h$j")
    }
    val sigs = sh.groupBy("doc_id").agg(mix.head, mix.tail: _*)
    // band signature = the rows-per-band minhashes of that band
    val banded = sigs.select(col("doc_id"),
      explode(array((0 until bands).map(bi =>
        struct(lit(bi).as("band"),
          concat_ws("_", (0 until rows).map(r => col(s"h${bi * rows + r}")): _*).as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val l = banded.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
    val r = banded.select(col("doc_id").as("doc_b"), col("band").as("band_b"), col("sig").as("sig_b"))
    l.join(r, col("band") === col("band_b") && col("sig") === col("sig_b")
        && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** L3 graded row: the MinHash-LSH RECALL GATE. The candidate set
    * itself is hash-engine-specific (xxhash64), so the oracle-checkable
    * face is the property the operator PROVABLY delivers: every pair of
    * documents with IDENTICAL 3-shingle sets has identical minhash
    * signatures (each slot is a min over the same set), hence every
    * band agrees, hence the pair is a candidate — recall 1 at ANY
    * corpus size, no probability involved. The query emits the exact
    * identical-set pair count (oracle-checkable: DuckDB groups docs by
    * their sorted distinct string-shingle list — set equality is the
    * same relation under either representation) and `recall_ok`,
    * computed in-query against the candidate set; the oracle asserts
    * literal TRUE.
    *
    * Deliberately NOT gated on a J ≥ 0.8 class: per-pair miss
    * probability at J = 0.8 with 4×4 banding is (1−0.8⁴)⁴ ≈ 12%, so
    * any such "gate" is a coin flip that simply hadn't landed tails at
    * small scale yet (at sf0.1, 79 strong pairs → ~10 expected misses
    * — observed, which is why this gate is the provable one; LlmSpec
    * still MEASURES the probabilistic recall and logs it). */
  val minHashLsh: Q = Q(
    s"""WITH ws AS (SELECT doc_id, $sqlWords AS w FROM documents),
       |sets AS (SELECT doc_id, list_sort(list_distinct(${sqlShingles(3)})) AS sig
       |         FROM ws WHERE len(w) >= 3),
       |g AS (SELECT sig, COUNT(*) AS n FROM sets GROUP BY sig)
       |SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT) AS n_identical_pairs,
       |  TRUE AS recall_ok
       |FROM g WHERE n >= 2""".stripMargin) { (s, d) =>
    val cand = minHashCandidates(s, d).withColumn("hit", lit(1))
    // identical-set pairs, generated in place per signature group (the
    // same bounded-bucket shape as the band join — never a self-join)
    val sets = documents(s, d)
      .select(col("doc_id"), words.as("wds"))
      .filter(size(col("wds")) >= 3)
      .select(col("doc_id"),
        sort_array(array_distinct(hashedShinglesOf(3, col("wds")))).as("sig"))
    val ident = sets.groupBy("sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), " +
          "y -> struct(x AS doc_a, y AS doc_b))))")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    ident.join(cand, Seq("doc_a", "doc_b"), "left_outer")
      .agg(count(lit(1)).as("n_identical_pairs"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("n_identical_pairs"),
        (col("n_hit") === col("n_identical_pairs")).as("recall_ok"))
  }

  /** SimHash 64-bit signatures of the en subset, shared by q49 (the
    * signature dump) and q92 (the Hamming-banded pair search).
    *
    * 64 vote accumulators as aggregate COLUMNS over the word-hash rows —
    * not a posexplode into 64 rows per word, which pushes a 64× row
    * blowup through the partial aggregate for the same arithmetic. The
    * shuffled data is identical (one 64-sum row per doc); the map side
    * just skips materializing the per-bit rows. Values are unchanged:
    * vote = ±1 per (word, bit), signature bit = sign of the vote sum. */
  private def simHashSignatures(s: SparkSession, d: String): DataFrame =
    simHashSignaturesOf(documents(s, d))

  /** Signature arithmetic on an explicit (doc_id, text, lang) relation —
    * factored out (r14) so LlmSpec can pin GOLDEN signature values on a
    * fixed token list: q49 is the one declared query with no DuckDB
    * oracle (its values are xxhash64-engine-specific by design), so an
    * expression rewrite here would otherwise be checked only by an
    * unchanged row count. */
  private[queries] def simHashSignaturesOf(docs: DataFrame): DataFrame = {
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b"))
    docs
      .filter(col("lang") === "en")
      .select(col("doc_id"), explode(array_distinct(words)).as("wrd"))
      .select(col("doc_id"), xxhash64(col("wrd")).as("h"))
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b =>
          when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash signatures: per-word hash bits vote ±1 per position;
    * signature bit = sign of the vote sum. Deterministic but
    * hash-engine-specific → no oracle. */
  val simHash: Q = Q.noOracle { (s, d) =>
    simHashSignatures(s, d).orderBy("doc_id")
  }

  /** SimHash banded pairs — all pairs within Hamming distance 3 of a
    * signature relation, found by 4×16-bit banding. The pigeonhole
    * argument makes banding EXACT (when uncapped): a pair differing in
    * ≤3 of 64 bits must agree exactly on ≥1 of the 4 16-bit bands, so
    * candidate generation is an EQUI-join on (band, band_key) — linear
    * banding (4 rows/doc), bucketed pair space (never corpus²), then the
    * cheap exact Hamming check. This is the published simhash dedup
    * shape (Manku et al.'s web-dedup scheme).
    *
    * `bucketCap`: optional df-cap (the q47 move) on the (band, bkey)
    * posting lists. A band key shared by more than `cap` docs is
    * boilerplate-signature mass contributing O(df²) pair rows; dropping
    * those buckets bounds any single key's fanout to cap²/2 at the
    * price of exactness — a capped bucket's pairs can still be found
    * via their OTHER ≤3 agreeing bands unless every agreeing band is
    * over-cap. Uncapped (None) keeps the pigeonhole recall-1 guarantee;
    * LlmSpec asserts the fixture pair set is unchanged under a
    * realistic cap. */
  private[queries] def simHashBandedPairs(
      sigs: DataFrame, bucketCap: Option[Int] = None): DataFrame = {
    // bucketed posting lists, NOT a self-join: a self-join would run the
    // signature aggregation once per side (exchange reuse does not
    // bridge the alias boundary here — measured 2×); grouping each
    // (band, key) bucket and generating i<j pairs in place costs ONE
    // signature pass + one shuffle. Bucket population is bounded by the
    // 4×65536 key space; at 100 TB `bucketCap` bounds the worst key.
    val buckets = sigs
      .select(col("doc_id"), col("simhash"),
        explode(expr("transform(sequence(0, 3), b -> " +
          "struct(b AS band, shiftright(simhash, b * 16) & 65535 AS bkey))")).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bkey").as("bkey"),
        col("doc_id"), col("simhash"))
      .groupBy("band", "bkey")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val capped = bucketCap.fold(buckets)(c => buckets.filter(size(col("ds")) <= c))
    capped
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), " +
          "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, " +
          "x.simhash ^ y.simhash AS hx))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        expr("bit_count(p.hx)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct() // a close pair can agree on several bands
  }

  /** q92 graded row: the SimHash banding EXACTNESS certificate. Pair
    * rows themselves are hash-engine-specific (DuckDB has no xxhash64),
    * so the oracle-checkable face is the property that makes the
    * operator trustworthy: the banded equi-join finds EXACTLY the
    * Hamming≤3 pairs. The query computes the pair set both ways —
    * banded (the scale path) and brute force over the broadcast
    * signature relation (the CERTIFICATE path) — and emits the exact
    * en-doc count (oracle-checkable) plus `banding_exact`. Banded ⊆
    * brute holds by construction (the Hamming predicate is re-checked
    * after banding), so set equality reduces to count equality. The
    * oracle asserts literal TRUE; LlmSpec asserts full set equality
    * element-wise.
    *
    * Scale note: the brute branch is O(n²) comparisons over broadcast
    * 16-byte signature rows — validation-scale machinery (broadcastable
    * to ~10^7 docs), deliberately NOT a 100 TB path, and it does not
    * need to be: the pigeonhole argument proves banding exact for EVERY
    * corpus, so production consumers run [[simHashBandedPairs]] alone
    * and this certificate runs once on a sample — exactly what the
    * graded row does at fixture scale. */
  val simHashPairs: Q = Q(
    """SELECT COUNT(*) AS n_docs, TRUE AS banding_exact
      |FROM documents WHERE lang = 'en' AND text IS NOT NULL""".stripMargin) { (s, d) =>
    // signatures feed three consumers (banded, brute, count) — compute once
    val sigs = simHashSignatures(s, d).localCheckpoint()
    val banded = simHashBandedPairs(sigs)
    val l = sigs.select(col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val r = sigs.select(col("doc_id").as("doc_b"), col("simhash").as("hb"))
    val brute = l.join(broadcast(r), col("doc_a") < col("doc_b"))
      .filter(expr("bit_count(ha ^ hb)") <= 3)
    sigs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(banded.agg(count(lit(1)).as("nb")))
      .crossJoin(brute.agg(count(lit(1)).as("nf")))
      .select(col("n_docs"), (col("nb") === col("nf")).as("banding_exact"))
  }

  // ------------------------------------------------------------- L4 / L5

  /** Portable composite cosine (zip_with + aggregate) — kept as the
    * reference formulation; the hot path uses the fused codegen
    * expression graft.functions.CosineSimilarity, which is bit-identical
    * (same left-to-right double accumulation). */
  def dotCosComposite(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")), lit(0.0), (acc, x) => acc + x))
    dot / (na * nb)
  }
  private def dotCos(s: SparkSession): Column = {
    graft.functions.CosineSimilarity.register(s)
    expr("cosine_sim(qe, ee)")
  }
  private[queries] def sqlCosOf(l: String, r: String): String =
    s"""list_sum(list_transform(range(64), i -> CAST($l.embedding[i+1] AS DOUBLE) * CAST($r.embedding[i+1] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(range(64), i -> CAST($l.embedding[i+1] AS DOUBLE) * CAST($l.embedding[i+1] AS DOUBLE))))
       |  * sqrt(list_sum(list_transform(range(64), i -> CAST($r.embedding[i+1] AS DOUBLE) * CAST($r.embedding[i+1] AS DOUBLE)))))""".stripMargin.replace("\n", "")
  private val sqlCos = sqlCosOf("q", "e")

  /** Embedding-cosine near-duplicate pairs — the vector-space sibling of
    * L2: all same-label pairs with cosine ≥ τ. The label (IVF cell
    * analogue) bounds the pair space exactly like the lang/shingle key
    * bounds L2's: per-cell all-pairs, never corpus². τ = 0.35 is
    * calibrated to the fixture geometry (random unit-ish vectors top out
    * at ~0.47; a production near-dup τ on real embeddings is ~0.9) —
    * the operator shape is identical. Bit-parity of the cosine across
    * engines comes from the same float→double left-to-right sum both
    * sides (see CosineSimilaritySpec).
    *
    * ONE pair builder shared by q80 (pairs) and q110 (similarity-graph
    * degrees): the AnalyticsSpec handshake invariant (Σ degree =
    * 2·|pairs|) holds by construction because there is a single
    * definition of the edge set. */
  private[queries] def embeddingPairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val a = embeddings(s, d)
      .select(col("vec_id").as("vec_a"), col("embedding").as("qe"), col("label"))
    val b = embeddings(s, d)
      .select(col("vec_id").as("vec_b"), col("embedding").as("ee"), col("label").as("label_b"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), expr("cosine_sim(qe, ee)").as("cos_raw"))
      .filter(col("cos_raw") >= 0.35)
  }

  /** The matching oracle-side pair CTE body (FROM+WHERE of the edge set). */
  private[queries] def sqlEmbeddingPairsFromWhere: String =
    s"""FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${sqlCosOf("a", "b")} >= 0.35""".stripMargin

  val embeddingNearDup: Q = Q(
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ROUND(${sqlCosOf("a", "b")}, 6) AS cos
       |$sqlEmbeddingPairsFromWhere
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    embeddingPairs(s, d)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 6).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** L4: brute-force cosine top-k — the exact baseline. The query set is
    * bounded (10 vectors) and broadcast; corpus side streams, so the cost
    * is linear in corpus size × |queries|. */
  val cosineTopK: Q = Q(
    s"""SELECT * FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    ROUND($sqlCos, 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $sqlCos DESC, e.vec_id ASC) AS rn
       |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10)
       |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    val q = embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val e = embeddings(s, d).select(col("vec_id").as("neighbor_id"), col("embedding").as("ee"))
    val cosc = dotCos(s)
    val w = Window.partitionBy("query_id").orderBy(desc("cos_raw"), asc("neighbor_id"))
    e.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosc.as("cos_raw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cos"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** L5: partition-pruned ANN stand-in — restrict candidates to the
    * query's coarse `label` partition (IVF cell analogue): the probe set
    * shrinks ~10×; at scale the label is the partition key so only
    * matching partitions are read. */
  val cosineTopKPartitioned: Q = Q(
    s"""SELECT * FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    ROUND($sqlCos, 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $sqlCos DESC, e.vec_id ASC) AS rn
       |  FROM embeddings q JOIN embeddings e
       |    ON e.label = q.label AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10)
       |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    val q = embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("label").as("ql"))
    val e = embeddings(s, d).select(col("vec_id").as("neighbor_id"), col("embedding").as("ee"), col("label"))
    val cosc = dotCos(s)
    val w = Window.partitionBy("query_id").orderBy(desc("cos_raw"), asc("neighbor_id"))
    e.join(broadcast(q), col("label") === col("ql") && col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosc.as("cos_raw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cos"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Sign-LSH machinery for [[lshAnn]]: 4 random hyperplanes with
    * deterministic Rademacher (±1) components — r(b,i) = −1 iff
    * ((i+3)·(7b+5)) mod 11 < 5, a fixed pattern both engines compute with
    * integer arithmetic (multipliers 5,12,19,26 are distinct and coprime
    * with 11, so the four sign patterns are decorrelated and ~balanced).
    * A vector's bucket is the 4-bit sign signature of its four hyperplane
    * dot products; the dot product is the same left-to-right float→double
    * fold as the cosine queries, so the signs are bit-identical across
    * engines. */
  private def lshDot(embCol: String, b: Int): Column = expr(
    s"aggregate(sequence(0, 63), cast(0.0 as double), (acc, i) -> acc + " +
      s"cast(element_at($embCol, i+1) as double) * " +
      s"if(((i+3)*${7 * b + 5}) % 11 < 5, cast(-1.0 as double), cast(1.0 as double)))")
  private[queries] def lshBucket(embCol: String): Column =
    (0 until 4).map(b => when(lshDot(embCol, b) >= 0, lit(1 << b)).otherwise(lit(0)))
      .reduce(_ + _)
  private def sqlLshDot(b: Int): String =
    s"list_sum(list_transform(range(64), i -> CAST(embedding[i+1] AS DOUBLE) * " +
      s"(CASE WHEN ((i+3)*${7 * b + 5}) % 11 < 5 THEN -1.0 ELSE 1.0 END)))"
  private val sqlLshBucket: String =
    (0 until 4).map(b => s"(CASE WHEN ${sqlLshDot(b)} >= 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")

  /** LSH-bucketed ANN — the hash-based scale path next to L5's IVF cell
    * pruning: bucket every vector by its 4-bit hyperplane sign signature
    * (one linear pass), then run exact cosine top-k only within the
    * query's bucket. The candidate set per query is corpus/2^bits in
    * expectation regardless of any label structure — this is what prunes
    * when no coarse-quantization key exists. At scale: more bits shrink
    * buckets geometrically, recall comes back via multi-probe (flip one
    * bit) or signature OR-banding, and the bucket id doubles as the
    * partition key so a probe touches one partition. Exactly
    * oracle-checkable because the hyperplanes are deterministic (no RNG;
    * see [[lshDot]]). */
  val lshAnn: Q = Q(
    s"""WITH sig AS (
       |  SELECT vec_id, embedding, $sqlLshBucket AS bucket FROM embeddings)
       |SELECT * FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    q.bucket AS bucket, ROUND(${sqlCosOf("q", "e")}, 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCosOf("q", "e")} DESC, e.vec_id ASC) AS rn
       |  FROM sig q JOIN sig e
       |    ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10)
       |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    graft.functions.CosineSimilarity.register(s)
    val sig = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), lshBucket("embedding").as("bucket"))
    val q = sig.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("bucket").as("qb"))
    val e = sig.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ee"), col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_raw"), asc("neighbor_id"))
    e.join(broadcast(q), col("bucket") === col("qb") && col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qb").as("bucket"),
        expr("cosine_sim(qe, ee)").as("cos_raw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("bucket"),
        round(col("cos_raw"), 6).as("cos"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** MULTI-PROBE LSH ANN — the recall knob [[lshAnn]]'s scaladoc
    * promises: each query probes its own 4-bit bucket AND the four
    * buckets at Hamming distance 1 (flip each hyperplane sign once).
    * A near neighbor that landed just across one hyperplane — the
    * dominant miss mode of sign-LSH — is recovered without growing the
    * index or rehashing anything; the candidate set grows from 1/16 to
    * 5/16 of the corpus in expectation, still a 3.2× prune. Shape: the
    * query side EXPLODES to 5 probe rows (broadcast — queries are the
    * small side by construction), the corpus side stays one row per
    * vector and equi-joins on the probed bucket; a neighbor matches at
    * most one probe (it has one bucket), so no dedup step is needed.
    * Exactly oracle-checkable like q95 (deterministic hyperplanes,
    * integer bucket arithmetic). */
  val multiProbeAnn: Q = Q(
    s"""WITH sig AS (
       |  SELECT vec_id, embedding, $sqlLshBucket AS bucket FROM embeddings)
       |SELECT * FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    ROUND(${sqlCosOf("q", "e")}, 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCosOf("q", "e")} DESC, e.vec_id ASC) AS rn
       |  FROM sig q JOIN sig e
       |    ON (e.bucket = q.bucket OR e.bucket = xor(q.bucket, 1)
       |        OR e.bucket = xor(q.bucket, 2) OR e.bucket = xor(q.bucket, 4)
       |        OR e.bucket = xor(q.bucket, 8))
       |      AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10)
       |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    graft.functions.CosineSimilarity.register(s)
    val sig = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), lshBucket("embedding").as("bucket"))
    val probes = sig.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("bucket"),
        explode(array((lit(0) +: (0 until 4).map(b => lit(1 << b))): _*)).as("flip"))
      .select(col("query_id"), col("qe"),
        col("bucket").bitwiseXOR(col("flip")).as("pb"))
    val e = sig.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ee"), col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_raw"), asc("neighbor_id"))
    e.join(broadcast(probes), col("bucket") === col("pb") && col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("cosine_sim(qe, ee)").as("cos_raw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"), col("rn"))
      .orderBy("query_id", "rn")
  }

  // ------------------------------------------------------------- L6 / L7

  /** L6: token frequencies — top-10 tokens per lang (count desc, token
    * asc). Explode → two-level aggregate, map-side combined. */
  val tokenFreq: Q = Q(
    s"""SELECT * FROM (
       |  SELECT lang, tok, n,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rn
       |  FROM (SELECT lang, tok, COUNT(*) AS n FROM (
       |          SELECT lang, unnest($sqlWords) AS tok FROM documents)
       |        GROUP BY lang, tok))
       |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("lang").orderBy(desc("n"), asc("tok"))
    documents(s, d)
      .select(col("lang"), explode(words).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .orderBy("lang", "rn")
  }

  /** L7: TF-IDF — idf from the full corpus, tf per document, top-3 terms
    * for a bounded doc range. ln() last-ulp noise absorbed by ROUND 6. */
  val tfIdf: Q = Q(
    s"""WITH tok AS (SELECT doc_id, unnest($sqlWords) AS tok FROM documents),
       |n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
       |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE doc_id < 100 GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT tf.doc_id, tf.tok,
       |    ROUND(tf.tf * ln(CAST(n_docs.n AS DOUBLE) / df.df), 6) AS tfidf,
       |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf * ln(CAST(n_docs.n AS DOUBLE) / df.df) DESC, tf.tok ASC) AS rn
       |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n_docs)
       |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
    // one explode + one (doc,tok) aggregate; every downstream branch
    // derives from it, so ReuseExchange runs the heavy shuffle once
    val tokCounts = documents(s, d).select(col("doc_id"), explode(words).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // every doc has ≥1 token, so N is just the row count of documents —
    // no second pass over the exploded tokens
    val nDocs = documents(s, d).agg(count(lit(1)).as("n"))
    val df = tokCounts.groupBy("tok").agg(count(lit(1)).as("df"))
    val tf = tokCounts.filter(col("doc_id") < 100)
    val tfidf = col("tf") * log(col("n").cast("double") / col("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf_raw"), asc("tok"))
    tf.join(broadcast(df), "tok").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"), tfidf.as("tfidf_raw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), round(col("tfidf_raw"), 6).as("tfidf"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  // ------------------------------------------------------------------- L8

  /** L8: word-bigram frequencies per lang, top-5. */
  val ngramFreq: Q = Q(
    s"""SELECT * FROM (
       |  SELECT lang, bg, n,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bg ASC) AS rn
       |  FROM (SELECT lang, bg, COUNT(*) AS n FROM (
       |          SELECT lang, unnest(${sqlShingles(2)}) AS bg
       |          FROM (SELECT lang, $sqlWords AS w FROM documents)
       |          WHERE len(w) >= 2)
       |        GROUP BY lang, bg))
       |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("lang").orderBy(desc("n"), asc("bg"))
    documents(s, d)
      .select(col("lang"), words.as("wds"))
      .filter(size(col("wds")) >= 2)
      .select(col("lang"), explode(shinglesOf(2, col("wds"))).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("lang", "rn")
  }

  // ------------------------------------------------------------- L9 / L10

  /** L9: multimodal join — text metadata beside its embedding vector. */
  val multimodalJoin: Q = Q(
    """SELECT doc_id, lang, n_chars,
      |  len(embedding) AS dim,
      |  ROUND(sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("embedding")).as("dim"),
        round(sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)), 6).as("l2"))
      .orderBy("doc_id")
  }

  /** L10: per-lang length profile over 100-char buckets. */
  val lengthProfile: Q = Q(
    s"""SELECT lang, CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
       |  COUNT(*) AS n, ${sqlDavg("n_chars")} AS avg_chars
       |FROM documents GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin) { (s, d) =>
    documents(s, d)
      .groupBy(col("lang"), floor(col("n_chars") / 100).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), davg(col("n_chars")).as("avg_chars"))
      .orderBy("lang", "bucket")
  }

  // ------------------------------------------------- extensions (graded)

  /** Language-ID by vocabulary overlap: per-lang top-50 token profiles are
    * learned from the corpus itself, each doc votes by overlap count
    * (ties → lexicographic lang). Fully relational and oracle-checkable —
    * an n-gram-profile classifier in pure SQL shape. */
  val langId: Q = Q(
    s"""WITH tok AS (SELECT doc_id, lang, unnest($sqlWords) AS tok FROM documents),
       |profile AS (
       |  SELECT * FROM (
       |    SELECT lang AS plang, tok, COUNT(*) AS n,
       |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tok ASC) AS rn
       |    FROM tok GROUP BY lang, tok) WHERE rn <= 50),
       |scores AS (
       |  SELECT t.doc_id, p.plang, COUNT(*) AS score
       |  FROM (SELECT DISTINCT doc_id, tok FROM tok) t
       |  JOIN profile p ON t.tok = p.tok
       |  GROUP BY 1, 2)
       |SELECT doc_id, pred_lang, score, lang AS actual_lang,
       |  (pred_lang = lang) AS hit
       |FROM (
       |  SELECT doc_id, plang AS pred_lang, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
       |  FROM scores) s
       |JOIN documents USING (doc_id)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    // The two branches deliberately do NOT share a (doc, lang, tok)
    // aggregate: sharing one means shuffling every distinct (doc, tok)
    // pair — the only large exchange in the query. Split, neither side
    // shuffles tokens at doc granularity: the profile's (lang, tok)
    // groupBy collapses map-side to the small distinct-token set, and
    // the scoring branch dedups tokens LOCALLY (array_distinct before
    // the explode), joins the broadcast profile map-side, and shuffles
    // only (doc_id, plang) rows — langs × docs after partial agg. The
    // cost is tokenizing each document twice (once per branch) — pure
    // map-side CPU, traded against shuffling ~0.7× the token volume
    // through disk + network, which is the part that does not scale.
    val toks = documents(s, d).select(col("doc_id"), col("lang"), words.as("wds"))
    val wp = Window.partitionBy("lang").orderBy(desc("n"), asc("tok"))
    val profile = toks.select(col("lang"), explode(col("wds")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 50)
      .select(col("lang").as("plang"), col("tok"))
    val scores = toks.select(col("doc_id"), explode(array_distinct(col("wds"))).as("tok"))
      .join(broadcast(profile), "tok")
      .groupBy("doc_id", "plang").agg(count(lit(1)).as("score"))
    val wd = Window.partitionBy("doc_id").orderBy(desc("score"), asc("plang"))
    scores.withColumn("rn", row_number().over(wd)).filter(col("rn") === 1)
      .join(documents(s, d).select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("plang").as("pred_lang"), col("score"),
        col("lang").as("actual_lang"), (col("plang") === col("lang")).as("hit"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length/stopword/char-class heuristics per document —
    * the classic pre-training filter features, all codegen'd built-ins. */
  val qualityScore: Q = Q(
    s"""SELECT doc_id,
       |  len(string_split(lower(text), ' ')) AS n_words,
       |  ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |        / len(string_split(lower(text), ' ')), 6) AS avg_word_len,
       |  ROUND(CAST(len(list_filter(string_split(lower(text), ' '),
       |        t -> list_contains($sqlStopList, t))) AS DOUBLE)
       |        / len(string_split(lower(text), ' ')), 6) AS stopword_ratio,
       |  (n_chars >= 100 AND n_chars <= 500) AS length_ok
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d).select(col("doc_id"),
        size(words).as("n_words"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") / size(words), 6)
          .as("avg_word_len"),
        round(size(filter(words, t => t.isInCollection(stopWords))).cast("double") / size(words), 6)
          .as("stopword_ratio"),
        (col("n_chars") >= 100 && col("n_chars") <= 500).as("length_ok"))
      .orderBy("doc_id")
  }

  /** Token counting (whitespace + regex-ish word chars) — the cheap
    * pre-tokenizer budget estimate. */
  val tokenCount: Q = Q(
    s"""SELECT lang,
       |  CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_words,
       |  CAST(SUM(length(regexp_replace(text, '[^a-z]', '', 'g'))) AS BIGINT) AS total_alpha_chars,
       |  CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS approx_bpe_tokens
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    documents(s, d)
      .groupBy("lang")
      .agg(sum(size(words)).as("total_words"),
        sum(length(regexp_replace(col("text"), "[^a-z]", ""))).as("total_alpha_chars"),
        sum(ceil(length(col("text")) / 4.0).cast("long")).as("approx_bpe_tokens"))
      .orderBy("lang")
  }

  /** Document fingerprinting: position-weighted polynomial over word
    * features, fully arithmetic (no engine hash) so it oracle-matches —
    * a rolling-hash analogue with exact BIGINT math. */
  val fingerprint: Q = Q(
    s"""SELECT doc_id,
       |  CAST(list_sum(list_transform(range(len(w)),
       |    i -> (i + 1) * (ord(w[i+1]) * 31 + length(w[i+1])))) % 1000000007 AS BIGINT) AS fp
       |FROM (SELECT doc_id, $sqlWords AS w FROM documents)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .select(col("doc_id"), words.as("wds"))
      .select(col("doc_id"),
        (aggregate(
          transform(sequence(lit(1), size(col("wds"))),
            i => i.cast("long") * (ascii(element_at(col("wds"), i)).cast("long") * 31L
              + length(element_at(col("wds"), i)).cast("long"))),
          lit(0L), (acc, x) => acc + x) % 1000000007L).as("fp"))
      .orderBy("doc_id")
  }

  /** Multimodal binary-column plumbing: opaque bytes + typed metadata
    * (decode itself is stubbed in graft.llm.Multimodal — no media libs in
    * this container; here the bytes round-trip through the engine). */
  val binaryMeta: Q = Q(
    """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  ord(text) AS first_byte, lang
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .select(col("doc_id"), octet_length(col("text").cast("binary")).as("n_bytes"),
        ascii(col("text")).as("first_byte"), col("lang"))
      .orderBy("doc_id")
  }

  /** Multimodal feature-extraction pipeline — image rows decode REAL
    * PNG payloads via graft.llm.Multimodal.ImageDecoder (javax.imageio),
    * audio rows decode REAL WAV payloads via Multimodal.AudioDecoder
    * (javax.sound.sampled), video rows take the documented stub path.
    * The graded face: media_id and modality are pure functions of doc_id
    * (oracle-checkable), `payload_bytes` re-derives each non-image
    * payload's byte count independently — audio from the WAV arithmetic
    * 44 + 2·(256 + doc_id % 64) (the oracle proving the engine really
    * carried that many bytes through decode), video from the raw text;
    * NULL for images whose PNG encoder output length is engine-internal.
    * `feat_ok` certifies in-query that every image AND audio feature is
    * a VALID normalized histogram (sums to 1 — only true if actual
    * pixels/samples were decoded; the stub's byte-fold features don't
    * normalize) and every stub feature has the contract width. The
    * oracle asserts feat_ok as literal TRUE. MultimodalSpec pins the
    * pixel- and sample-level values; q188 grades the audio-specific
    * fields. */
  val mediaFeatures: Q = Q(
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |  CASE WHEN doc_id % 3 = 0 THEN NULL
      |       WHEN doc_id % 3 = 1 THEN 44 + 2 * (256 + doc_id % 64)
      |       ELSE octet_length(CAST(text AS BLOB)) END AS payload_bytes,
      |  TRUE AS feat_ok
      |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
    graft.llm.Multimodal.extractFeatures(graft.llm.Multimodal.mediaFromDocuments(s, d))
      .toDF()
      .select(col("media_id"), col("modality"),
        when(col("modality") =!= "image", col("n_bytes")).as("payload_bytes"),
        when(col("modality").isin("image", "audio"),
          abs(aggregate(col("feature"), lit(0.0d), (a, x) => a + x.cast("double")) - 1.0d)
            <= lit(1e-4))
          .otherwise(size(col("feature")) === graft.llm.Multimodal.StubDecoder.FeatureDim)
          .as("feat_ok"))
      .orderBy("media_id")
  }

  /** REAL audio decode, graded: every audio row's WAV payload through
    * graft.llm.Multimodal.AudioDecoder (javax.sound.sampled, JDK-only)
    * with the decoded facts checked against arithmetic the oracle
    * derives from doc_id alone — n_bytes (44-byte RIFF header + 2 bytes
    * per PCM frame), sample_rate (the generator's 16 kHz), n_samples
    * (256 + doc_id % 64) and the integer duration_ms — so a stubbed or
    * short-circuited decode CANNOT match. `audio_ok` adds the
    * sample-level certificate: mono, normalized amplitude histogram
    * (sums to 1 ⇔ real samples were binned), nonzero RMS in (0,1), and
    * a nonzero sample-value checksum. Scale shape: pure partition-local
    * map (mapPartitions decode), no shuffle until the output sort —
    * the same decode kernel shape as a 100 TB media ingest. */
  val audioFeatures: Q = Q(
    """SELECT doc_id AS media_id,
      |  CAST(44 + 2 * (256 + doc_id % 64) AS BIGINT) AS n_bytes,
      |  CAST(16000 AS BIGINT) AS sample_rate,
      |  CAST(256 + doc_id % 64 AS BIGINT) AS n_samples,
      |  CAST((256 + doc_id % 64) * 1000 // 16000 AS BIGINT) AS duration_ms,
      |  TRUE AS audio_ok
      |FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id""".stripMargin) { (s, d) =>
    graft.llm.Multimodal.describeAudio(
        graft.llm.Multimodal.mediaFromDocuments(s, d).filter(_.modality == "audio"))
      .toDF()
      .select(col("media_id"),
        col("n_bytes").cast("long").as("n_bytes"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples"), col("duration_ms"),
        (col("channels") === 1 &&
          abs(aggregate(col("feature"), lit(0.0d), (a, x) => a + x.cast("double")) - 1.0d)
            <= lit(1e-4) &&
          col("rms_milli").between(1, 999) && col("checksum") =!= 0).as("audio_ok"))
      .orderBy("media_id")
  }

  /** Deterministic train/test split — a training-data pipeline staple:
    * assignment must be a pure function of a stable id (never rand()), so
    * re-runs, backfills and incremental loads land every document in the
    * same split. md5 is bit-identical everywhere (incl. DuckDB), so the
    * oracle checks the actual assignment, not just the proportions.
    * Prefix < 'd0' ⇒ train: 208/256 = 81.25% expected. */
  val hashSplit: Q = Q(
    """SELECT lang,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'd0'
      |       THEN 'train' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM documents
      |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) { (s, d) =>
    documents(s, d)
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < "d0",
          "train").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
      .orderBy("lang", "split")
  }

  /** Token-budget sequence packing — greedy chunking of a corpus into
    * fixed token budgets (training-batch assembly): chunk_id = exclusive
    * running token total DIV budget, per lang in doc_id order. One window
    * + one aggregate, both partitioned by lang: at 100 TB the running sum
    * is per-lang sequential by necessity (packing is order-defined), but
    * langs proceed in parallel and nothing leaves the executors. */
  val packChunks: Q = Q(
    s"""WITH toks AS (
       |  SELECT doc_id, lang, len($sqlWords) AS n_tokens FROM documents),
       |packed AS (
       |  SELECT lang, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS chunk_id
       |  FROM toks)
       |SELECT lang, CAST(chunk_id AS BIGINT) AS chunk_id, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
       |FROM packed GROUP BY 1, 2 ORDER BY lang, chunk_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .select(col("doc_id"), col("lang"), size(words).cast("long").as("n_tokens"))
      .withColumn("chunk_id",
        expr("coalesce(sum(n_tokens) over (partition by lang order by doc_id " +
          "rows between unbounded preceding and 1 preceding), 0) DIV 4096"))
      .groupBy("lang", "chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("chunk_tokens"))
      .orderBy("lang", "chunk_id")
  }

  /** Sliding-window DOCUMENT CHUNKING with overlap — the segmentation
    * move of embedding/RAG/long-context prep: each document splits into
    * windows of C=40 words at stride S=30 (10-word overlap so no
    * boundary context is lost), and every chunk carries its provenance
    * (doc_id, chunk_id, bounds). Pure per-row arithmetic — explode by a
    * computed chunk count, slice the materialized word array — so the
    * operator is embarrassingly parallel with NO shuffle before the
    * output sort; at 100 TB chunking is a map stage that fuses into
    * whatever consumes it. Chunk starts are i·S for i ∈
    * [0, floor((len−1)/S)]: the tail chunk may be shorter than C, and a
    * doc shorter than C yields exactly one chunk. Fully deterministic →
    * exact oracle (DuckDB mirrors with range + list slicing). */
  val chunkDocs: Q = {
    val C = 40
    val S = 30
    Q(
      s"""WITH ws AS (SELECT doc_id, $sqlWords AS w FROM documents
         |           WHERE text IS NOT NULL),
         |ch AS (
         |  SELECT doc_id, len(w) AS n_words, unnest(range(((len(w) - 1) // $S) + 1)) AS chunk_id, w
         |  FROM ws WHERE len(w) >= 1)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(least($C, n_words - chunk_id * $S) AS BIGINT) AS chunk_words,
         |  w[chunk_id * $S + 1] AS first_tok,
         |  w[least(chunk_id * $S + $C, n_words)] AS last_tok
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), words.as("w"))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), size(col("w")).as("n_words"), col("w"),
          explode(expr(s"sequence(0L, cast((size(w) - 1) div $S as long))")).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          least(lit(C), col("n_words") - col("chunk_id") * S).cast("long").as("chunk_words"),
          expr(s"element_at(w, cast(chunk_id * $S + 1 as int))").as("first_tok"),
          expr(s"element_at(w, cast(least(chunk_id * $S + $C, n_words) as int))").as("last_tok"))
        .orderBy("doc_id", "chunk_id")
    }
  }

  /** CHUNK-LEVEL DEDUP over q137's sliding windows — the RAG-prep move
    * AFTER chunking: identical chunk texts across the corpus collapse
    * to one stored/embedded copy (survivor = smallest (doc_id,
    * chunk_id) per chunk hash), and each document reports how much of
    * it survives. Scale shape: one explode (doc → chunks), md5 of the
    * chunk text as an 8+8-byte shuffle key, survivor election as a
    * window partitioned BY HASH (bounded by duplicate-group size —
    * never a corpus-wide partition), then a per-doc aggregate. At
    * 100 TB this is exactly the chunk-store dedup before embedding:
    * hash-partitioned, no pairwise anything. Same C/S as q137 so the
    * two rows describe the same chunk universe. */
  val chunkDedup: Q = {
    val C = 40
    val S = 30
    Q(
      s"""WITH ws AS (SELECT doc_id, $sqlWords AS w FROM documents
         |           WHERE text IS NOT NULL),
         |ch AS (
         |  SELECT doc_id, unnest(range(((len(w) - 1) // $S) + 1)) AS chunk_id, w
         |  FROM ws WHERE len(w) >= 1),
         |hs AS (
         |  SELECT doc_id, chunk_id,
         |    md5(array_to_string(w[chunk_id * $S + 1 : least(chunk_id * $S + $C, len(w))], ' ')) AS h
         |  FROM ch),
         |rk AS (
         |  SELECT doc_id, h,
         |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
         |  FROM hs)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), words.as("w"))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), col("w"),
          explode(expr(s"sequence(0L, cast((size(w) - 1) div $S as long))")).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          md5(expr(s"concat_ws(' ', slice(w, cast(chunk_id * $S + 1 as int), $C))")).as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("h").orderBy("doc_id", "chunk_id")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("doc_id")
    }
  }

  /** CHUNK-LEVEL NEAR-DUP — the companion q205 (exact chunk dedup)
    * cannot be: a one-word edit defeats byte-identity, so RAG-prep
    * stacks also run near-dup AT CHUNK GRANULARITY. This is q47's exact
    * machinery — word 3-shingles, df-capped posting lists, in-array
    * i<j pair generation, one 8-byte-hash shuffle — applied to q205's
    * chunk windows (C=40 words, stride S=30): each chunk becomes a
    * "document" with composite id doc_id·10⁶ + chunk_id (chunk counts
    * are ≤ len/S, far below 10⁶; ids stay well inside BIGINT at any
    * plausible corpus). Pairs at Jaccard ≥ 0.5 — high enough that the
    * C−S = 10-word overlap of ADJACENT same-doc chunks (~0.12) never
    * fires; exact duplicates surface at 1.0.
    * Scale shape: inherits q47's measured profile (the ×1000 decade's
    * exponent ≈ 1.0 family) with ~len/S× more rows but S× smaller
    * shingle sets per row — same posting-list bound, no new shuffle
    * kind. */
  val chunkNearDup: Q = {
    val C = 40
    val S = 30
    val tau = "0.5"
    val chunkWordsSql =
      s"""(SELECT doc_id * 1000000 + chunk_id AS doc_id, lang,
         |        w[chunk_id * $S + 1 : least(chunk_id * $S + $C, len(w))] AS w
         |       FROM (SELECT doc_id, lang, unnest(range(((len(w) - 1) // $S) + 1)) AS chunk_id, w
         |             FROM ws WHERE len(w) >= 1))""".stripMargin
    Q(
      s"""WITH ws AS (SELECT doc_id, lang, $sqlWords AS w FROM documents
         |            WHERE text IS NOT NULL),
         |${sqlPairCtesFromWords(chunkWordsSql, tau)}
         |SELECT CAST(doc_a // 1000000 AS BIGINT) AS a_doc, CAST(doc_a % 1000000 AS BIGINT) AS a_chunk,
         |  CAST(doc_b // 1000000 AS BIGINT) AS b_doc, CAST(doc_b % 1000000 AS BIGINT) AS b_chunk, jaccard
         |FROM pairs ORDER BY a_doc, a_chunk, b_doc, b_chunk""".stripMargin) { (s, d) =>
      val ch = documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), words.as("w"))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), col("lang"), col("w"),
          explode(expr(s"sequence(0L, cast((size(w) - 1) div $S as long))")).as("chunk_id"))
        .select((col("doc_id") * 1000000L + col("chunk_id")).as("doc_id"), col("lang"),
          expr(s"slice(w, cast(chunk_id * $S + 1 as int), $C)").as("wds"))
      jaccardPairsOfWords(ch, tau.toDouble)
        .selectExpr("cast(doc_a div 1000000 as bigint) as a_doc",
          "cast(doc_a % 1000000 as bigint) as a_chunk",
          "cast(doc_b div 1000000 as bigint) as b_doc",
          "cast(doc_b % 1000000 as bigint) as b_chunk", "jaccard")
        .orderBy("a_doc", "a_chunk", "b_doc", "b_chunk")
    }
  }

  /** REPEATED-PASSAGE MINING — substring-level duplication signal, the
    * step between document-level dedup (L1) and near-dup (L2): find
    * 13-word spans that occur in ≥2 DISTINCT documents (boilerplate,
    * licence headers, templated passages — the spans substring-dedup
    * tools mask before training).
    *
    * Scale shape (the q47 discipline, implemented not just promised):
    * the span STRING never ships — pass 1 aggregates on the 8-byte
    * xxhash64 of each 13-word slice ([[hashedShinglesOf]]): (hash, doc)
    * partial-aggregate → per-hash (distinct docs, occurrences), i.e. no
    * countDistinct Expand doubling the exploded rows and a shuffle
    * payload of 8 bytes instead of ~90. The top-50 cut uses
    * TakeOrderedAndProject (per-partition heaps) to find the 50th
    * entry's (n_docs, n_occ) and keeps every hash at-or-above it — ties
    * at the boundary INCLUDED, so the later span-string tie-break stays
    * exact. Pass 2 re-scans documents and joins the ≤50+ties candidate
    * hashes (broadcast) against a positional re-explode; the span text
    * is materialized AFTER that filter, only for winners. 64-bit
    * collisions would make two different spans share counts; at ~1e-10
    * per pair the oracle's string-keyed aggregate turns any collision
    * into a loud hash-mismatch (same argument as q47). */
  val dupSpans: Q = Q(
    s"""WITH ws AS (SELECT doc_id, $sqlWords AS w FROM documents
       |            WHERE text IS NOT NULL),
       |sp AS (SELECT doc_id, unnest(${sqlShingles(13)}) AS span
       |       FROM ws WHERE len(w) >= 13)
       |SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
       |FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY n_docs DESC, n_occ DESC, span LIMIT 50""".stripMargin) { (s, d) =>
    val docs = graft.Tables.wide(s, documents(s, d)).filter(col("text").isNotNull)
      .select(col("doc_id"), words.as("wds"))
      .filter(size(col("wds")) >= 13)
    // pass 1: counts keyed by span hash (8-byte shuffle, no strings)
    val perDoc = docs
      .select(col("doc_id"), explode(hashedShinglesOf(13, col("wds"))).as("h"))
      .groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
    val stats = perDoc.groupBy("h")
      .agg(count(lit(1)).as("n_docs"), sum("c").as("n_occ"))
      .filter(col("n_docs") >= 2)
    // 50th-strongest (n_docs, n_occ) via per-partition heaps; keep every
    // hash at-or-above it so boundary ties survive to the string sort
    val th = stats.orderBy(desc("n_docs"), desc("n_occ")).limit(50)
      .agg(min(struct(col("n_docs"), col("n_occ"))).as("t"))
    val cand = stats.crossJoin(broadcast(th))
      .filter(col("n_docs") > col("t.n_docs") ||
        (col("n_docs") === col("t.n_docs") && col("n_occ") >= col("t.n_occ")))
      .select("h", "n_docs", "n_occ")
    // pass 2: recover the winning span strings only (string built AFTER
    // the broadcast candidate filter)
    docs.select(col("wds"), posexplode(hashedShinglesOf(13, col("wds"))).as(Seq("pos", "h")))
      .join(broadcast(cand), "h")
      .select(concat_ws(" ", slice(col("wds"), col("pos") + 1, lit(13))).as("span"),
        col("n_docs"), col("n_occ"))
      .distinct()
      .orderBy(desc("n_docs"), desc("n_occ"), asc("span"))
      .limit(50)
  }

  /** DATA-MIXTURE ALLOCATION — the proportional-budget step of corpus
    * assembly: split a fixed budget (N=1000 docs) across languages
    * proportional to corpus share with largest-remainder (Hamilton)
    * apportionment — floor the exact quotas in INTEGER arithmetic
    * ((N·cnt) div total, no float ratios to diverge), then hand the
    * leftover seats to the largest remainders. The result is the unique
    * allocation with Σ=N and base ≤ alloc ≤ base+1 (quota property).
    * Each language then contributes EXACTLY its allocation,
    * deterministically (md5-ranked pick, the q90 WindowGroupLimit
    * shape), so reruns and incremental rebuilds reproduce the identical
    * mixture. All apportionment state is one row per language —
    * broadcast-sized by construction; the single-partition windows run
    * over #languages rows, never data. */
  val mixtureAlloc: Q = Q(
    """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      |t AS (SELECT SUM(cnt) AS tot, SUM(cnt) // 2 AS budget FROM c),
      |b AS (SELECT lang, budget, (budget * cnt) // tot AS base,
      |        budget * cnt - ((budget * cnt) // tot) * tot AS rem
      |      FROM c CROSS JOIN t),
      |l AS (SELECT MAX(budget) - SUM(base) AS leftover FROM b),
      |a AS (SELECT lang, base + CASE WHEN ROW_NUMBER()
      |          OVER (ORDER BY rem DESC, lang) <= leftover
      |        THEN 1 ELSE 0 END AS alloc
      |      FROM b CROSS JOIN l),
      |ranked AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents)
      |SELECT r.lang, CAST(MAX(a.alloc) AS BIGINT) AS alloc, COUNT(*) AS n_kept,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM ranked r JOIN a USING (lang) WHERE r.rk <= a.alloc
      |GROUP BY r.lang ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
    // budget = half the corpus: corpus-relative so the allocation is
    // feasible (alloc ≤ cnt) at every scale factor
    val tot = counts.agg(sum("cnt").as("tot"), expr("sum(cnt) div 2").as("budget"))
    val b = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("budget"),
        expr("(budget * cnt) div tot").as("base"),
        expr("budget * cnt - ((budget * cnt) div tot) * tot").as("rem"))
    val leftover = b.agg((max("budget") - sum("base")).as("leftover"))
    val wRem = Window.orderBy(desc("rem"), asc("lang")) // #languages rows
    val alloc = b.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(wRem))
      .select(col("lang"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
    val wPick = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(wPick))
      .join(broadcast(alloc), "lang")
      .filter(col("rk") <= col("alloc"))
      .groupBy("lang")
      .agg(max("alloc").as("alloc"), count(lit(1)).as("n_kept"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  /** TEMPERATURE-REWEIGHTED MIXTURE (T = 0.5) — the standard multilingual
    * rebalancing move (sample languages ∝ p^α, α = 1/2): small languages
    * are boosted, the head language capped, without hand-tuned rates.
    * Normalization cancels in the apportionment, so the weight is simply
    * √cnt — and SQRT is IEEE-754 correctly rounded in BOTH engines
    * (unlike POW), so `floor(√cnt · 10⁶)` is a bit-identical integer
    * weight everywhere; from there the allocation is q142's
    * largest-remainder (Hamilton) apportionment in pure integer
    * arithmetic: base = (budget·w) div Σw, leftovers to the largest
    * remainders (rem DESC, lang tie-break). Output includes the
    * per-language effective epoch count alloc/cnt — the oversampling
    * diagnostic that tells you a low-resource language would repeat
    * >x times in training. All state is one row per language
    * (broadcast-sized); windows run over #languages rows, never data. */
  val temperatureMix: Q = Q(
    """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      |w AS (SELECT lang, cnt,
      |        CAST(FLOOR(SQRT(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS wi
      |      FROM c),
      |t AS (SELECT SUM(wi) AS sw, SUM(cnt) // 2 AS budget FROM w),
      |b AS (SELECT lang, cnt, wi, budget,
      |        (budget * wi) // sw AS base,
      |        budget * wi - ((budget * wi) // sw) * sw AS rem
      |      FROM w CROSS JOIN t),
      |l AS (SELECT MAX(budget) - SUM(base) AS leftover FROM b),
      |a AS (SELECT lang, cnt, base + CASE WHEN ROW_NUMBER()
      |          OVER (ORDER BY rem DESC, lang) <= leftover
      |        THEN 1 ELSE 0 END AS alloc
      |      FROM b CROSS JOIN l)
      |SELECT lang, cnt, CAST(alloc AS BIGINT) AS alloc,
      |  ROUND(CAST(alloc AS DOUBLE) / cnt, 6) AS epochs
      |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
    val w = documents(s, d).groupBy("lang").agg(count(lit(1)).as("cnt"))
      .select(col("lang"), col("cnt"),
        floor(sqrt(col("cnt").cast("double")) * 1000000).cast("long").as("wi"))
    val t = w.agg(sum("wi").as("sw"), expr("sum(cnt) div 2").as("budget"))
    val b = w.crossJoin(broadcast(t))
      .select(col("lang"), col("cnt"), col("budget"),
        expr("(budget * wi) div sw").as("base"),
        expr("budget * wi - ((budget * wi) div sw) * sw").as("rem"))
    val leftover = b.agg((max("budget") - sum("base")).as("leftover"))
    val wRem = Window.orderBy(desc("rem"), asc("lang")) // #languages rows
    b.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(wRem))
      .select(col("lang"), col("cnt"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
      .select(col("lang"), col("cnt"), col("alloc"),
        round(col("alloc").cast("double") / col("cnt"), 6).as("epochs"))
      .orderBy("lang")
  }

  /** INCREMENTAL-INGEST dedup — the arrival-time form of dedup: a new
    * batch (md5-split ≥ 'd0', ~19% of the corpus) is deduplicated BOTH
    * against the already-ingested index (distinct fingerprints of the
    * other 81%) and within itself (first-doc_id survivor per
    * fingerprint). The dedup key is sha256 of the canonical 8-word
    * prefix (q60's fingerprint family) — the re-post screen that
    * catches articles re-syndicated with edited tails, which exact
    * whole-text hashing misses (this fixture has zero whole-text dups
    * but 23 prefix-dup groups, 8 of them crossing the split). Every
    * new doc is classified dup_of_index / dup_in_batch / new — the
    * decision an ingest pipeline makes per arriving file without
    * rescanning history. Scale shape: the index side is a hash-keyed
    * DISTINCT you'd publish once as a bucketed table (q146's layout)
    * so the per-batch join shuffles ONLY the new batch; within-batch
    * survivorship is one window over the batch's own hash partition
    * (batch-sized, not corpus-sized). Graded as per-(lang, status)
    * counts + exact id sums, so the oracle pins WHICH docs landed in
    * each class. */
  val incrementalDedup: Q = Q(
    """WITH h AS (SELECT doc_id, lang,
      |    sha256(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS ch,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'd0' AS in_index
      |  FROM documents WHERE text IS NOT NULL),
      |idx AS (SELECT DISTINCT ch FROM h WHERE in_index),
      |b AS (SELECT doc_id, lang, ch,
      |    MIN(doc_id) OVER (PARTITION BY ch) AS min_id
      |  FROM h WHERE NOT in_index),
      |cls AS (SELECT b.doc_id, b.lang,
      |    CASE WHEN EXISTS (SELECT 1 FROM idx WHERE idx.ch = b.ch)
      |           THEN 'dup_of_index'
      |         WHEN b.doc_id > b.min_id THEN 'dup_in_batch'
      |         ELSE 'new' END AS status
      |  FROM b)
      |SELECT lang, status, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM cls GROUP BY 1, 2 ORDER BY lang, status""".stripMargin) { (s, d) =>
    val h = documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        sha2(concat_ws(" ", slice(words, 1, 8)), 256).as("ch"),
        (substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < "d0")
          .as("in_index"))
    val idx = h.filter(col("in_index")).select("ch").distinct()
      .withColumn("hit", lit(1))
    val batch = h.filter(!col("in_index"))
      .withColumn("min_id", min("doc_id").over(Window.partitionBy("ch")))
    batch.join(idx, Seq("ch"), "left")
      .select(col("lang"), col("doc_id"),
        when(col("hit") === 1, "dup_of_index")
          .when(col("doc_id") > col("min_id"), "dup_in_batch")
          .otherwise("new").as("status"))
      .groupBy("lang", "status")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
      .orderBy("lang", "status")
  }

  /** Stratified DOWNSAMPLING by per-stratum rate — the rebalancing move
    * of corpus assembly (cap the over-represented language): keep a
    * deterministic md5-slice of each language's hash space, rate chosen
    * per lang (en cut to 4/16, zh kept whole, the rest 8/16). A pure
    * filter — no shuffle, no rand(): a document's keep/drop decision is
    * a function of its id alone, so re-runs, backfills and incremental
    * loads all agree. The aggregate exists to grade the exact surviving
    * id set (id_sum pins WHICH docs survived, not just how many). */
  val stratifiedSample: Q = Q(
    """SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
      |  CASE lang WHEN 'en' THEN '4' WHEN 'zh' THEN 'g' ELSE '8' END
      |GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
    documents(s, d)
      .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) <
        when(col("lang") === "en", "4").when(col("lang") === "zh", "g").otherwise("8"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  /** Exact-k-per-stratum deterministic sample — "k docs per language,
    * stable across runs": rank by md5(id) within each language, keep
    * rank ≤ k. One hash-partitioned window (partial TopK per partition
    * at scale — rank+filter plans as a WindowGroupLimit pushdown in
    * Spark 4, so executors never sort whole strata), order uniform in
    * the hash so the sample is unbiased, deterministic so incremental
    * reruns agree. */
  val sampleExactK: Q = Q(
    """WITH ranked AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, lang, rk FROM ranked WHERE rk <= 10
      |ORDER BY lang, rk""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("lang"), row_number().over(w).as("rk"))
      .filter(col("rk") <= 10)
      .orderBy("lang", "rk")
  }

  /** Repetition / boilerplate filter (Gopher-style corpus cleaning, the
    * family next to q58's length/stopword quality score): per-doc
    * type-token ratio, top-word fraction, and top-bigram fraction, plus
    * the resulting keep/drop flag. Thresholds sit at the fixture's ~p10
    * tails so the flag actually fires.
    *
    * Scale shape: ZERO shuffles — every metric folds over the doc's own
    * words array inside codegen (array_sort + one linear run-length
    * pass gives the max term frequency; no (doc, word) relation is ever
    * built, unlike the oracle's formulation). Per-doc cost is
    * O(words · log words); the scan is the whole job. */
  val repetitionFilter: Q = Q(
    s"""WITH t AS (SELECT doc_id, lang, $sqlWords AS w FROM documents
       |           WHERE text IS NOT NULL),
       |wc AS (SELECT doc_id, s, COUNT(*) AS c
       |       FROM (SELECT doc_id, unnest(w) AS s FROM t) GROUP BY 1, 2),
       |wm AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd, MAX(c) AS topw FROM wc GROUP BY 1),
       |bgc AS (SELECT doc_id, s, COUNT(*) AS c
       |        FROM (SELECT doc_id, unnest(${sqlShingles(2)}) AS s FROM t) GROUP BY 1, 2),
       |bm AS (SELECT doc_id, SUM(c) AS nb, MAX(c) AS topb FROM bgc GROUP BY 1)
       |SELECT t.doc_id, t.lang, CAST(wm.n AS BIGINT) AS n_words,
       |  ROUND(wm.nd * 1.0 / wm.n, 6) AS ttr,
       |  ROUND(wm.topw * 1.0 / wm.n, 6) AS top_word_frac,
       |  ROUND(COALESCE(bm.topb, 0) * 1.0 / GREATEST(COALESCE(bm.nb, 0), 1), 6)
       |    AS top_bigram_frac,
       |  (ROUND(wm.nd * 1.0 / wm.n, 6) < 0.32
       |   OR ROUND(wm.topw * 1.0 / wm.n, 6) > 0.14) AS repetitive
       |FROM t JOIN wm USING (doc_id) LEFT JOIN bm USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // max run length in the sorted array = the top term's frequency,
    // computed in ONE linear codegen'd fold (prev, current run, best)
    def maxRun(c: String) =
      s"""aggregate(array_sort($c),
         |  struct(cast(null as string) as prev, 0 as run, 0 as best),
         |  (a, x) -> struct(x as prev,
         |    if(a.prev <=> x, a.run + 1, 1) as run,
         |    greatest(a.best, if(a.prev <=> x, a.run + 1, 1)) as best),
         |  a -> a.best)""".stripMargin
    documents(s, d)
      // NULL text: the oracle's unnest-based formulation drops such docs
      // (unnest(NULL) is empty); filter explicitly so both sides agree
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), words.as("wds"))
      .withColumn("bg", when(size(col("wds")) >= 2, shinglesOf(2, col("wds")))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), col("lang"),
        size(col("wds")).cast("long").as("n_words"),
        round(size(array_distinct(col("wds"))).cast("double") / size(col("wds")), 6).as("ttr"),
        round(expr(maxRun("wds")).cast("double") / size(col("wds")), 6).as("top_word_frac"),
        round(expr(maxRun("bg")).cast("double") / greatest(size(col("bg")), lit(1)), 6)
          .as("top_bigram_frac"))
      .withColumn("repetitive", col("ttr") < 0.32 || col("top_word_frac") > 0.14)
      .orderBy("doc_id")
  }

  // ------------------------------------------- decontamination / PII

  /** Decontamination: drop every training doc that shares ANY word
    * 5-shingle with the held-out benchmark slice — the standard
    * "n-gram overlap with eval" filter run before LLM training.
    *
    * Scale shape: the benchmark side is tiny by construction (benchmarks
    * are thousands of docs, the corpus is billions), so its distinct
    * shingle set BROADCASTS; the corpus side is one linear scan joined
    * map-side against that set (no shuffle of corpus shingles), and the
    * contaminated-id set — bounded by the corpus hit rate — broadcasts
    * back into an anti-join against the full table. Shingles travel as
    * xxhash64 of the 5-word slice (8 bytes, no string materialization);
    * the string-shingled oracle doubles as the collision check. Docs
    * with NULL text or <5 words produce no shingles and survive — same
    * on both sides. */
  val decontaminate: Q = Q(
    s"""WITH $sqlDeconCtes
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id % $evalMod <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM bad)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .filter(col("doc_id") % evalMod =!= 0)
      .join(broadcast(deconBadIds(documents(s, d))), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** BLOOM-FILTER decontamination — the shape q93 grows into at 100 TB.
    * q93 broadcasts the EXACT eval-shingle set: right while the eval
    * suite is small, but the exact set scales with the benchmark corpus
    * (a large suite is GBs of 8-byte hashes, re-broadcast to every
    * executor). The industrial fix is Spark's own runtime-filter
    * primitive: fold the eval shingles into a FIXED-SIZE bloom sketch
    * (here 800k bits ≈ 100 KB regardless of suite size, built by the
    * same `BloomFilterAggregate` the optimizer injects for join
    * pruning, exposed via [[graft.functions.BloomBridge]]), ship it as
    * a scalar subquery, and probe with `might_contain`. No false
    * NEGATIVES by construction — a contaminated doc can never slip
    * through, which is the direction that matters (over-removal is
    * safe, under-removal poisons the eval) — while false positives
    * over-flag a bounded fraction. The graded row certifies exactly
    * that contract in-query: the exact candidate/contaminated counts
    * (oracle-checkable via the shared q93 CTEs), `no_false_negatives`,
    * and a 5%-of-candidates FP bound, both asserted TRUE by the
    * oracle. */
  val bloomDecon: Q = Q(
    s"""WITH $sqlDeconCtes
       |SELECT
       |  (SELECT COUNT(DISTINCT doc_id) FROM shd WHERE doc_id % $evalMod <> 0) AS n_candidates,
       |  (SELECT COUNT(*) FROM bad) AS exact_bad,
       |  TRUE AS no_false_negatives,
       |  TRUE AS fp_bounded""".stripMargin) { (s, d) =>
    graft.functions.BloomBridge.register(s)
    documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), words.as("wds"))
      .filter(size(col("wds")) >= 5)
      .select(col("doc_id"), explode(array_distinct(hashedShinglesOf(5, col("wds")))).as("s"))
      .createOrReplaceTempView("graft_shd_q133")
    val out = s.sql(
      s"""WITH ev AS (SELECT DISTINCT s FROM graft_shd_q133 WHERE doc_id % $evalMod = 0),
         |bloom AS (SELECT graft_bloom_agg(s, CAST(100000 AS BIGINT), CAST(800000 AS BIGINT)) AS bf FROM ev),
         |cand AS (SELECT doc_id, s FROM graft_shd_q133 WHERE doc_id % $evalMod <> 0),
         |flagged AS (SELECT DISTINCT doc_id FROM cand
         |            WHERE graft_might_contain((SELECT bf FROM bloom), s)),
         |exact_bad AS (SELECT DISTINCT c.doc_id FROM cand c JOIN ev ON c.s = ev.s)
         |SELECT
         |  (SELECT COUNT(DISTINCT doc_id) FROM cand) AS n_candidates,
         |  (SELECT COUNT(*) FROM exact_bad) AS exact_bad,
         |  (SELECT COUNT(*) FROM exact_bad e
         |     WHERE e.doc_id NOT IN (SELECT doc_id FROM flagged)) = 0 AS no_false_negatives,
         |  (SELECT COUNT(*) FROM flagged) - (SELECT COUNT(*) FROM exact_bad)
         |     <= CAST(ceil(0.05 * (SELECT COUNT(DISTINCT doc_id) FROM cand)) AS BIGINT) AS fp_bounded
         |""".stripMargin)
    // spark.sql analyzes eagerly, so the returned frame keeps its plan;
    // dropping the temp view here leaves no session-state residue (the
    // same hygiene GraftConf.scoped enforces for confs)
    s.catalog.dropTempView("graft_shd_q133")
    out
  }

  /** Java-regex ∩ RE2 patterns (see [[piiRedact]]): character classes and
    * bounded repetition only — no backrefs, no lookaround. */
  private[graft] val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val phoneRe = """\d{3}-555-\d{4}"""
  private[graft] val ipRe = """\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"""

  /** Redaction chain shared by [[piiRedact]] and its spec. Email first:
    * its match can span characters the later patterns would otherwise
    * bite into. Idempotent — no placeholder re-matches any pattern. */
  private[graft] def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>"),
      ipRe, "<IP>")

  /** PII scrubbing: redact emails, NANP-style phone numbers and IPv4
    * addresses to typed placeholders, with per-kind match counts. The
    * fixture text is synthetic word salad, so deterministic PII derived
    * from doc_id is appended first — the oracle then verifies the
    * REDACTED output byte-for-byte (via md5), i.e. the regexes really
    * matched and really replaced on both engines.
    *
    * Regex dialect: patterns restricted to the syntax Java regex and
    * RE2 (DuckDB) interpret identically — character classes, bounded
    * repetition; no backrefs or lookaround. DuckDB's regexp_replace
    * needs the 'g' flag to match Spark's replace-all. Scale shape: pure
    * per-row map, zero shuffles except the output sort. */
  val piiRedact: Q = Q(
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@mail.example.com or call '
       |      || CAST((doc_id % 900) + 100 AS VARCHAR) || '-555-'
       |      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
       |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
       |      || '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR) AS t
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$phoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$ipRe')) AS BIGINT) AS n_ips,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g'),
       |    '$ipRe', '<IP>', 'g')) AS red_md5
       |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call "),
        ((col("doc_id") % 900) + 100).cast("string"), lit("-555-"),
        lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 3) % 256).cast("string")).as("t"))
    aug.select(col("doc_id"),
        regexp_count(col("t"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_count(col("t"), lit(ipRe)).cast("long").as("n_ips"),
        md5(redactPii(col("t"))).as("red_md5"))
      .orderBy("doc_id")
  }

  /** Nearest-centroid assignment — the clustering step of semantic data
    * curation (one k-means iteration with the coarse `label` partitions
    * as seed clusters): compute each label's centroid, assign every
    * vector to its nearest centroid by L2, and emit the label × assigned
    * confusion counts.
    *
    * Cross-engine exactness: embedding components are scaled to integer
    * micro-units first — `round(float·1e6)` is EXACT (a float32 mantissa
    * × 1e6 fits a double with no rounding, and no float32 can sit on a
    * .5 boundary of that product since 2·10⁶ has non-dyadic factors), so
    * centroid sums are integer math with no float accumulation-order
    * dependence, and the remaining double ops (num/n, the 64-term
    * distance fold) are the same left-to-right IEEE sequence on both
    * engines. Scale shape: centroids are k×64 — broadcast; assignment is
    * one linear scan folding k distances per row inside codegen; the
    * only shuffles are the centroid aggregate and the final confusion
    * groupBy. */
  /** The nearest-centroid ASSIGNMENT relation (vec_id → winning
    * centroid), shared by q99 (confusion counts) and q168 (cluster
    * labeling) — one definition, so both queries agree on every
    * assignment by construction. */
  /** Shared oracle CTE prefix: per-label mean centroids in micro units
    * (ed → cent), reused by the exact (q99/q168) and IVF (q201/q202)
    * assignment families. */
  private[queries] val sqlCentCtes =
    """ed AS (
      |  SELECT vec_id, label, i,
      |    CAST(ROUND(CAST(embedding[i+1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS e
      |  FROM embeddings, range(64) t(i)),
      |cent AS (
      |  SELECT label, list(c ORDER BY i) AS cvec FROM (
      |    SELECT label, i, CAST(SUM(e) AS DOUBLE) / COUNT(*) AS c
      |    FROM ed GROUP BY label, i)
      |  GROUP BY label)""".stripMargin

  private[queries] val sqlAssignCtes =
    sqlCentCtes + """,
      |asg AS (
      |  SELECT v.vec_id, v.label AS true_label, c.label AS cand,
      |    list_sum(list_transform(range(64), i ->
      |      (ROUND(CAST(v.embedding[i+1] AS DOUBLE) * 1000000, 0) - c.cvec[i+1])
      |      * (ROUND(CAST(v.embedding[i+1] AS DOUBLE) * 1000000, 0) - c.cvec[i+1]))) AS dist
      |  FROM embeddings v CROSS JOIN cent c),
      |best AS (
      |  SELECT vec_id, true_label, cand, dist,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cand ASC) AS rn
      |  FROM asg)""".stripMargin

  /** Spark face of [[sqlCentCtes]]: (label, cvec: array<double>) — the
    * per-label mean centroid in micro units. Memoized pinned (≤ label-
    * cardinality rows): a dozen graded rows across the assignment and
    * quantization families each re-ran the n×64-row centroid aggregate;
    * the relation is a pure deterministic function of the fixture, so
    * the first caller pays the scan once per application (BoundedMemo). */
  private[queries] def centroidsDf(s: SparkSession, d: String): DataFrame =
    BoundedMemo(s, s"cent|$d") {
      val ed = embeddings(s, d)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("i", "e")))
        .select(col("label"), col("i"),
          round(col("e").cast("double") * 1000000d, 0).cast("long").as("e"))
      ed.groupBy("label", "i")
        .agg((sum("e").cast("double") / count(lit(1))).as("c"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), x -> x.c)").as("cvec"))
        .localCheckpoint()
    }

  /** `cent` (label, cvec) as one query constant for the fused argmins:
    * an uncorrelated scalar subquery over its array<struct<cand, cvec>>
    * collect_list, run once per query and decoded once per task. */
  private[queries] def candidateConstant(cent: DataFrame): Column =
    cent.agg(collect_list(struct(col("label").cast("int").as("cand"), col("cvec")))).scalar()

  /** Spark face of [[sqlAssignCtes]]: (vec_id, true_label, assigned). */
  private[queries] def centroidAssignments(s: SparkSession, d: String): DataFrame = {
    val cent = centroidsDf(s, d)
    // Fused argmin -- NOT a per-candidate row fan-out. Three shapes were
    // measured at the x1000 self-bench (2M vectors x 10k learned
    // centroids) before landing here:
    //  1. crossJoin + row_number window partitioned by vec_id: shuffles
    //     all n*k = 2e10 candidate rows through one exchange -- filled
    //     the disk with spill and FAILED;
    //  2. crossJoin + hash-aggregated argmin (min over a decimal
    //     (dist, cand) order-embedding): correct and stable (partial agg
    //     collapses candidates map-side, only n rows shuffle), but still
    //     materializes n*k rows through the whole-stage pipeline --
    //     per-row machinery dominates the 64 multiply-adds inside
    //     (q99 714 s at x1000);
    //  3. this: ALL centroids are one query constant (a scalar
    //     subquery over the array<struct<cand,cvec>> collect_list),
    //     decoded once per task, and graft.functions.ArgminL2Micro runs
    //     the k*d loop inside ONE codegen expression per vector -- n rows
    //     total, embedding micros pre-rounded once, per-candidate early
    //     exit against the best-so-far.
    // Tie order (dist, then cand) is explicit in the expression, so the
    // collect_list's nondeterministic order is irrelevant; arithmetic is
    // element-for-element identical to l2_micro (ArgminL2MicroSpec pins
    // parity against the fan-out shape), keeping the selected candidate
    // bit-parity with the oracle's ORDER BY dist, cand rn=1.
    graft.functions.ArgminL2Micro.register(s)
    // assigned IS NULL only on degenerate inputs (zero centroids, or a
    // NULL embedding — out of contract for the fixture tables). Guard
    // them UPSTREAM — a NULL-embedding filter pushed to the scan and a
    // size(<the same constant>) > 0 filter on the stream side — so the
    // empty-centroid case matches the oracle's zero rows without a
    // post-argmin IS NOT NULL filter: predicate pushdown would clone the
    // argmin into the Filter node and run the whole k·d loop TWICE per
    // row (measured 2× on the ×1000 self-bench across the family).
    val cands = candidateConstant(cent)
    embeddings(s, d)
      .filter(col("embedding").isNotNull && size(cands) > 0)
      .select(col("vec_id"), col("label").as("true_label"),
        call_function("argmin_l2_micro", col("embedding"), cands).as("assigned"))
  }

  val centroidAssign: Q = Q(
    s"""WITH $sqlAssignCtes
       |SELECT true_label AS label, cand AS assigned, COUNT(*) AS n
       |FROM best WHERE rn = 1
       |GROUP BY true_label, cand ORDER BY label, assigned""".stripMargin) { (s, d) =>
    centroidAssignments(s, d)
      .groupBy(col("true_label").as("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "assigned")
  }

  /** CLUSTER LABELING: the top-3 most frequent tokens of the documents
    * assigned to each centroid cluster — how a curator reads a clustering
    * ("what IS cluster 7?"). Composition row: q99's assignment relation
    * joined to the token stream, then a per-cluster frequency top-k.
    * Scale shape: assignments are (id → small int) — the join to tokens
    * is an equi-join on doc id riding the token explode's natural key;
    * per-(cluster, token) counts are map-side combinable; the top-k is a
    * WindowGroupLimit over k=10 clusters. Tie-break (count DESC, token
    * ASC) makes the pick total-ordered. */
  val clusterTerms: Q = Q(
    s"""WITH $sqlAssignCtes,
       |tok AS (SELECT doc_id, unnest($sqlWords) AS tok FROM documents),
       |jt AS (SELECT b.cand AS cluster, t.tok
       |       FROM tok t JOIN best b ON t.doc_id = b.vec_id AND b.rn = 1),
       |cnt AS (SELECT cluster, tok, COUNT(*) AS c FROM jt GROUP BY cluster, tok),
       |r AS (SELECT cluster, tok, c,
       |        ROW_NUMBER() OVER (PARTITION BY cluster
       |          ORDER BY c DESC, tok ASC) AS rn
       |      FROM cnt)
       |SELECT cluster, tok AS term, CAST(c AS BIGINT) AS cnt, rn
       |FROM r WHERE rn <= 3 ORDER BY cluster, rn""".stripMargin) { (s, d) =>
    val asg = centroidAssignments(s, d)
      .select(col("vec_id"), col("assigned").as("cluster"))
    val tok = documents(s, d).select(col("doc_id"), explode(words).as("tok"))
    val w = Window.partitionBy("cluster").orderBy(desc("c"), asc("tok"))
    tok.join(asg, tok("doc_id") === asg("vec_id"))
      .groupBy("cluster", "tok").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("cluster"), col("tok").as("term"), col("c").as("cnt"), col("rn"))
      .orderBy("cluster", "rn")
  }

  /** Oracle CTE tail for the IVF-pruned assignment (appends to
    * [[sqlCentCtes]] or [[sqlAssignCtes]]): a deterministic coarse
    * quantizer — rank centroids by label and take every
    * ceil(sqrt(k))-th — then (1) each centroid joins its nearest coarse
    * cell, (2) each vector probes its TWO nearest coarse cells
    * (multi-probe, rnv <= 2), (3) the final argmin runs over the probed
    * cells' members only. Every argmin tie-breaks (dist ASC, label
    * ASC), mirroring the fused expressions. */
  private val sqlIvfCoarseDefault =
    """ck AS (SELECT COUNT(*) AS k FROM cent),
      |cr AS (SELECT label, cvec, ROW_NUMBER() OVER (ORDER BY label) AS rnr FROM cent),
      |coarse AS (
      |  SELECT label AS clabel, cvec AS cwec FROM cr, ck
      |  WHERE (rnr - 1) % CAST(CEIL(SQRT(k)) AS BIGINT) = 0)""".stripMargin

  /** Probe-stage CTEs shared by the rank-picked (q201/q202) and
    * k-means-trained (q206/q207) coarse quantizers — expects a `coarse`
    * CTE (clabel, cwec) upstream. */
  private val sqlIvfProbeTail =
    """cellasg AS (
      |  SELECT label, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist ASC, clabel ASC) AS rnc
      |  FROM (
      |    SELECT c.label, o.clabel,
      |      list_sum(list_transform(range(64), i ->
      |        (c.cvec[i+1] - o.cwec[i+1]) * (c.cvec[i+1] - o.cwec[i+1]))) AS dist
      |    FROM cent c CROSS JOIN coarse o) tc),
      |cellof AS (SELECT label, clabel AS cell FROM cellasg WHERE rnc = 1),
      |vcell AS (
      |  SELECT vec_id, true_label, clabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, clabel ASC) AS rnv
      |  FROM (
      |    SELECT v.vec_id, v.label AS true_label, o.clabel,
      |      list_sum(list_transform(range(64), i ->
      |        (ROUND(CAST(v.embedding[i+1] AS DOUBLE) * 1000000, 0) - o.cwec[i+1])
      |        * (ROUND(CAST(v.embedding[i+1] AS DOUBLE) * 1000000, 0) - o.cwec[i+1]))) AS dist
      |    FROM embeddings v CROSS JOIN coarse o) tv),
      |ivfasg AS (
      |  SELECT vec_id, true_label, cand, dist,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cand ASC) AS rni
      |  FROM (
      |    SELECT w.vec_id, w.true_label, c.label AS cand,
      |      list_sum(list_transform(range(64), i ->
      |        (ROUND(CAST(e.embedding[i+1] AS DOUBLE) * 1000000, 0) - c.cvec[i+1])
      |        * (ROUND(CAST(e.embedding[i+1] AS DOUBLE) * 1000000, 0) - c.cvec[i+1]))) AS dist
      |    FROM (SELECT * FROM vcell WHERE rnv <= 2) w
      |    JOIN embeddings e ON e.vec_id = w.vec_id
      |    JOIN cellof m ON m.cell = w.clabel
      |    JOIN cent c ON c.label = m.label) ti)""".stripMargin

  private val sqlIvfTail = sqlIvfCoarseDefault + ",\n" + sqlIvfProbeTail

  /** K-MEANS-TRAINED coarse quantizer CTEs (q206/q207): quantize the
    * centroids to integer micros (qc — every subsequent training sum
    * and squared distance is then integer-valued in double, hence EXACT
    * and summation-order-independent on both engines), seed c =
    * ceil(k/ceil(√k)) centers by HASH rank (md5 order — immune to the
    * label-stride aliasing that blinds the rank-based pick on replica
    * fixtures), then three unrolled Lloyd iterations: assign each
    * centroid to its nearest seed ((dist, sid) ties), re-center each
    * cell on the micro-rounded member mean. Rounding uses the explicit
    * floor(x+0.5)/ceil(x-0.5) form because means CAN land on exact .5
    * (SUM/COUNT rationals) where engine ROUND conventions might differ.
    * Ends in a `coarse` CTE with the probe tail's (clabel, cwec) shape. */
  private val sqlKmeansCoarse: String = {
    def lloydIterSql(n: Int): String =
      s"""a$n AS (
         |  SELECT sid, qvec,
         |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist ASC, sid ASC) AS rn
         |  FROM (
         |    SELECT q.label, s.sid, q.qvec,
         |      list_sum(list_transform(range(64), i ->
         |        (q.qvec[i+1] - s.svec[i+1]) * (q.qvec[i+1] - s.svec[i+1]))) AS dist
         |    FROM qc q CROSS JOIN s${n - 1} s) t$n),
         |s$n AS (
         |  SELECT sid, list(m ORDER BY i) AS svec FROM (
         |    SELECT a.sid, t.i,
         |      CAST(CASE WHEN SUM(a.qvec[t.i+1]) / COUNT(*) >= 0
         |        THEN FLOOR(SUM(a.qvec[t.i+1]) / COUNT(*) + 0.5)
         |        ELSE CEIL(SUM(a.qvec[t.i+1]) / COUNT(*) - 0.5) END AS DOUBLE) AS m
         |    FROM (SELECT sid, qvec FROM a$n WHERE rn = 1) a, range(64) t(i)
         |    GROUP BY a.sid, t.i) g$n
         |  GROUP BY sid)""".stripMargin
    """qc AS (
      |  SELECT label, list_transform(cvec, x ->
      |    CAST(CASE WHEN x >= 0 THEN FLOOR(x + 0.5) ELSE CEIL(x - 0.5) END AS DOUBLE) + 0) AS qvec
      |  FROM cent),
      |ck AS (SELECT COUNT(*) AS k FROM qc),
      |sr AS (SELECT label, qvec,
      |  ROW_NUMBER() OVER (ORDER BY md5(CAST(label AS VARCHAR)), label) AS rnr FROM qc),
      |sd AS (SELECT MIN(label) AS sid, qvec AS svec FROM qc GROUP BY qvec),
      |nd AS (SELECT COUNT(*) AS nd FROM sd),
      |s0 AS (
      |  SELECT sid, svec FROM sd, nd, ck WHERE nd * 4 <= k * 3
      |  UNION ALL
      |  SELECT label AS sid, qvec AS svec FROM sr, ck, nd
      |  WHERE (rnr - 1) % CAST(CEIL(SQRT(k)) AS BIGINT) = 0 AND nd * 4 > k * 3),""".stripMargin + "\n" +
      lloydIterSql(1) + ",\n" + lloydIterSql(2) + ",\n" + lloydIterSql(3) + ",\n" +
      "coarse AS (SELECT sid AS clabel, svec AS cwec FROM s3)"
  }

  /** IVF-PRUNED nearest-centroid assignment (vec_id, true_label,
    * assigned) — the documented "next rung" above the brute-force
    * argmin (BASELINE.md ×1000 addendum). The brute scan folds all k
    * candidates per vector (n·k·d); here a vector ranks ~√k coarse
    * cells (two fused passes) and then argmins over the members of its
    * TWO nearest cells (~2k/√k candidates) — ~4√k·d per vector, a
    * ~k/(4√k) ≈ 25× work cut at k=10k. Everything stays deterministic
    * (rank-based coarse pick, (dist, label) ties), so unlike classic
    * IVF this variant is fully oracle-checkable; its approximation
    * ERROR is itself measured by q202 against the exact assignment.
    * Scale shape: coarse pick + cell membership are k-row relations
    * (query constants); the per-vector path is TWO fused expressions
    * (top-2 coarse scan + union-member argmin) and one broadcast
    * semi-join on cell id — n rows, no shuffle beyond the final
    * consumer aggregate.
    * Measured ×1000 (2M×10k, BASELINE.md operating curve): default
    * 23.3 s vs brute 140.5 s (6×); perfect-recall setting 61.2 s
    * (2.3× with bit-exact parity to the brute assignment). */
  private def ivfAssignments(s: SparkSession, d: String): DataFrame = {
    val cent = centroidsDf(s, d)
    // coarse pick memo-shared by q201/q202 (r14, the same fuse as the
    // ivfadc family): a ≤k-row deterministic function of (fixture,
    // step); the key is the EFFECTIVE step the pick uses, so spellings
    // of one setting (" 10 " and "10"; unset and "abc") share an entry
    val step = ivfStep(s)
    val stepKey = step.fold("sqrtk")(_.toString)
    val coarse = BoundedMemo(s, s"coarserank|$d|$stepKey")(
      defaultCoarseDf(cent, step).localCheckpoint())
    ivfProbe(s, d, cent, coarse, s"rank|$d|$stepKey")
  }

  /** The `spark.graft.ivf.step` density knob as the coarse pick applies
    * it: a positive integer, else None (every ceil(√k)-th centroid). */
  private def ivfStep(s: SparkSession): Option[Long] =
    s.conf.getOption("spark.graft.ivf.step")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ >= 1)

  /** The rank-based default coarse pick (clabel, cwec) used by q201/
    * q202/q209 — every ceil(√k)-th centroid by label rank, or every
    * `step`-th ([[ivfStep]]). */
  private def defaultCoarseDf(cent: DataFrame, step: Option[Long]): DataFrame = {
    val centK = cent.agg(count(lit(1)).as("k"))
    // single-partition window over k centroid rows — bounded by k, the
    // same relation the exact path broadcasts whole
    val ranked = cent
      .withColumn("rnr", row_number().over(Window.orderBy(col("label"))))
      .crossJoin(broadcast(centK))
    // Coarse pick density is the IVF operating knob (FAISS's nlist):
    // default every-ceil(√k)-th centroid (the graded/oracle setting);
    // `spark.graft.ivf.step` overrides it (conf-scoped per query by the
    // harness). A data-independent coarse pick is geometry-blind — on
    // the ×1000 fixture's 1000 mutually-decorrelated replica clusters,
    // √k=100 cells → 12.5% recall (q202 catches exactly this); stepping
    // to the cluster granularity (step=10 → one coarse per replica)
    // restores it. The certificate is the gate that tells an operator
    // when to densify — and the k-means-trained quantizer (q206) is the
    // variant that needs no such hand-tuning.
    val every: Column = step.map(lit(_).cast("long"))
      .getOrElse(ceil(sqrt(col("k"))).cast("long"))
    ranked
      .filter((col("rnr") - 1) % every === 0)
      .select(col("label").cast("int").as("clabel"), col("cvec").as("cwec"))
  }

  /** K-MEANS-TRAINED coarse centers (clabel, cwec) — Spark face of
    * [[sqlKmeansCoarse]]. The rank-based pick is data-independent and
    * therefore geometry-blind (12.5% recall on the ×1000 decorrelated
    * fixture, certified by q202); this trains the same number of coarse
    * centers (c = ceil(k/ceil(√k))) with three deterministic Lloyd
    * iterations over the CENTROIDS (k rows — all training happens on a
    * k-row relation, never on the n-row vector table):
    *  - quantize centroids to integer micros, so every training sum and
    *    squared distance is integer-valued in double → EXACT, with no
    *    summation-order dependence on either engine;
    *  - seed by md5-hash rank, immune to the label-stride aliasing that
    *    traps any fixed-stride pick on replicated fixtures;
    *  - each iteration: nearest-seed assignment ((dist, sid) ties) and
    *    micro-rounded member-mean re-centering (explicit ±0.5 floor/ceil
    *    rounding — means CAN land on exact .5 where ROUND conventions
    *    could diverge).
    * Scale shape: every stage is k- or c-row bounded (the assignment
    * fan-out is k×c ≈ k^1.5 rows, 1M at the ×1000 fixture's k=10k);
    * iteration count is FIXED (3), so the oracle unrolls it as CTEs and
    * the whole quantizer stays a graded row. */
  private def trainedCoarseDf(s: SparkSession, cent: DataFrame): DataFrame = {
    val microRound: Column => Column = v =>
      when(v >= 0, floor(v + 0.5d)).otherwise(ceil(v - 0.5d)).cast("double")
    // `+ 0` normalizes IEEE −0.0 (CEIL of (−0.5, 0)) to +0.0 so the
    // GROUP BY qvec below cannot split a direction on signed zero —
    // engines may normalize grouping keys differently
    val qc = cent.select(col("label"),
      expr("transform(cvec, x -> cast(case when x >= 0D then floor(x + 0.5D) " +
        "else ceil(x - 0.5D) end as double) + 0)").as("qvec"))
    val k = qc.agg(count(lit(1)).as("k"))
    // DUPLICATE-COLLAPSE-AWARE seed count (the round-7 lesson from the
    // ×1000 certificate): when distinct centroid VECTORS collapse far
    // below k (replica corpora — the ×1000 fixture has 10k labels on
    // 640 distinct directions), NO √k-cell quantizer can separate the
    // directions: each cell must mix ~(nd/√k) near-orthogonal
    // directions, coarse margins shrink with the mix, and a 2-cell
    // probe covers a sliver (measured: 0.125 rank / 0.176 trained at
    // ×1000). The data gives the fix away: seed ONE center per DISTINCT
    // quantized vector (deterministic: MIN label per vector) whenever
    // nd ≤ 0.75·k — cells then align with directions exactly (each
    // direction's duplicates share its own cell; Lloyd is a fixed
    // point), and the probe prunes k→~nd·d + members instead of
    // degrading recall. Non-collapsed corpora (nd ≈ k, every graded
    // fixture) keep the md5-rank √k pick. Both branches are in the
    // plan; a 1-row broadcast flag selects one — no driver-side
    // branching, so the oracle mirrors it with a gated UNION ALL.
    val sd = qc.groupBy(col("qvec"))
      .agg(min(col("label")).as("sid"))
      .select(col("sid"), col("qvec").as("svec"))
    val flag = sd.agg(count(lit(1)).as("nd")).crossJoin(broadcast(k))
      .select((col("nd") * 4 <= col("k") * 3).as("collapsed"))
    // single-partition window over k rows — bounded, as in the rank pick
    val rankSeeds = qc
      .withColumn("rnr", row_number().over(
        Window.orderBy(md5(col("label").cast("string")), col("label"))))
      .crossJoin(broadcast(k))
      .filter((col("rnr") - 1) % ceil(sqrt(col("k"))).cast("long") === 0)
      .select(col("label").as("sid"), col("qvec").as("svec"))
    val seeds0 = sd.crossJoin(broadcast(flag)).filter(col("collapsed"))
      .select(col("sid"), col("svec"))
      .unionAll(rankSeeds.crossJoin(broadcast(flag)).filter(!col("collapsed"))
        .select(col("sid"), col("svec")))
    def lloydIter(seeds: DataFrame): DataFrame = {
      val asg = qc.crossJoin(broadcast(seeds))
        .withColumn("dist", expr(
          "aggregate(zip_with(qvec, svec, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
        // (dist, sid) is unique per label group (sid distinct), so the
        // trailing qvec never participates in the min order — it just
        // rides along to avoid a re-join
        .groupBy(col("label"))
        .agg(min(struct(col("dist"), col("sid"), col("qvec"))).as("m"))
        .select(col("m.sid").as("sid"), col("m.qvec").as("qvec"))
      asg.select(col("sid"), posexplode(col("qvec")).as(Seq("i", "q")))
        .groupBy("sid", "i")
        .agg(microRound(sum("q") / count(lit(1))).as("m"))
        .groupBy("sid")
        .agg(expr("transform(array_sort(collect_list(struct(i, m))), x -> x.m)").as("svec"))
    }
    val s3 = lloydIter(lloydIter(lloydIter(seeds0)))
    s3.select(col("sid").cast("int").as("clabel"), col("svec").as("cwec"))
  }

  private def trainedIvfAssignments(s: SparkSession, d: String): DataFrame = {
    val cent = centroidsDf(s, d)
    // the trained coarse book is a deterministic ~√k-row function of the
    // fixture — memoized pinned like every other trained book (q206 and
    // q207 each re-ran the full Lloyd chain per round-8 bench run)
    val coarse = BoundedMemo(s, s"coarsekm|$d")(
      trainedCoarseDf(s, cent).localCheckpoint())
    ivfProbe(s, d, cent, coarse, s"km|$d")
  }

  /** centroid → its coarse cell: k×√k fan-out (bounded), double
    * arithmetic mirrored by the oracle's list_sum/list_transform;
    * struct-min = (dist ASC, clabel ASC) argmin. Shared by the inline
    * probe and the persisted index (q209). */
  private def cellOfDf(cent: DataFrame, coarse: DataFrame): DataFrame =
    cent.crossJoin(broadcast(coarse))
      .withColumn("dist", expr(
        "aggregate(zip_with(cvec, cwec, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .groupBy(col("label"))
      .agg(min(struct(col("dist"), col("clabel"))).as("m"))
      .select(col("label"), col("m.clabel").as("cell"))

  /** Probe stage shared by the rank-picked (q201/q202) and trained
    * (q206/q207) quantizers: assign each centroid to its nearest coarse
    * cell, then each vector probes its nprobe nearest coarse cells and
    * argmins over their members — Spark face of [[sqlIvfProbeTail]].
    * `spark.graft.ivf.nprobe` (default 2, the graded/oracle setting)
    * widens or narrows the probe; non-default values take the general
    * explode-and-reduce shape (see [[probeCells]]) and are spec-gated
    * (IvfSpec), not oracle-gated — Verify clears every `spark.graft.*`
    * conf before it grades. */
  private def ivfProbe(s: SparkSession, d: String, cent: DataFrame, coarse: DataFrame,
      memoKey: String): DataFrame = {
    // cell membership and the packed coarse array are ≤k-row
    // deterministic functions of (cent, coarse) — memo-shared by both
    // consumers of each coarse variant (q201/q202; q206/q207), r14.
    // nprobe only shapes the probe BELOW these relations, so it stays
    // out of the key.
    val cellMembers = BoundedMemo(s, s"ivfcells|$memoKey") {
      val cellOf = cellOfDf(cent, coarse)
      cent.join(cellOf, "label")
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("label").cast("int").as("cand"), col("cvec"))).as("cands"))
        .localCheckpoint()
    }
    val coarseArr = BoundedMemo(s, s"ivfcoarsearr|$memoKey")(
      coarse.agg(
        collect_list(struct(col("clabel").as("cand"), col("cwec").as("cvec"))).as("coarse_cands"))
        .localCheckpoint())
    val nprobe: Int = s.conf.getOption("spark.graft.ivf.nprobe")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ >= 1)
      .getOrElse(2)
    probeCells(s, embeddings(s, d), coarseArr, cellMembers, nprobe)
  }

  /** (vec_id, true_label, assigned) for `emb` (vec_id, label, embedding)
    * probing its `nprobe` nearest coarse cells. `coarseArr` is the 1-row
    * coarse candidate array (`coarse_cands`), `cellMembers` the (cell,
    * cands) member lists. Both enter the fused argmins as query
    * constants — the coarse array as is, the members as ONE table
    * `array<struct<cell, cands>>` that the argmins index by cell id — so
    * no per-row join carries candidate arrays. A vector whose nearest
    * cell has no members drops out (a semi-join on the cell ids), as in
    * the oracle's inner join; a memberless or absent second cell adds
    * nothing. */
  private[graft] def probeCells(s: SparkSession, emb: DataFrame, coarseArr: DataFrame,
      cellMembers: DataFrame, nprobe: Int): DataFrame = {
    graft.functions.ArgminTop2L2Micro.register(s)
    graft.functions.ArgminPairL2Micro.register(s)
    graft.functions.ArgminTopNL2Micro.register(s)
    graft.functions.ArgminStructL2Micro.register(s)
    val coarseCands = coarseArr.select(col("coarse_cands")).scalar()
    val members = cellMembers
      .agg(collect_list(struct(col("cell").cast("int").as("cell"), col("cands")))).scalar()
    val memberCells = broadcast(cellMembers.select(col("cell").cast("int").as("cell")))
    if (nprobe != 2) {
      // GENERAL nprobe shape: one fused top-N coarse scan → explode the
      // ≤nprobe probed cells → keep the cells that have members → one
      // fused per-(vector, cell) argmin WITH distance → reduce across
      // cells with min(struct(dist, cand)). Costs one n·nprobe-row
      // aggregate the nprobe=2 pair shape avoids — the knob path trades
      // that shuffle for probe width.
      return emb
        .select(col("vec_id"), col("label").as("true_label"), col("embedding"),
          explode(call_function("argmin_topn_l2_micro", col("embedding"), coarseCands,
            lit(nprobe))).as("cell"))
        .join(memberCells, Seq("cell"), "left_semi")
        .select(col("vec_id"), col("true_label"),
          call_function("argmin_struct_l2_micro", col("embedding"), members, col("cell")).as("bs"))
        // no IS NOT NULL post-filter (pushdown would clone the fused
        // argmin into the Filter — 2× the k·d loop): bs is non-null by
        // construction here — a NULL embedding yields a null probe
        // array whose explode emits no row, and the semi-join keeps
        // only cells with members
        .groupBy(col("vec_id"), col("true_label"))
        .agg(min(struct(col("bs.dist"), col("bs.cand"))).as("m"))
        .select(col("vec_id"), col("true_label"), col("m.cand").as("assigned"))
    }
    // MULTI-PROBE (nprobe=2): cell1/cell2 = best and second-best coarse
    // cell from ONE fused top-2 scan over the coarse constant
    // (ArgminTop2L2Micro — no per-row `filter(coarse_cands, ...)` HOF,
    // which materialized a fresh √k-struct copy per probe row, and no
    // second coarse pass). One probe alone leaves boundary vectors in
    // the wrong cell (~0.6 recall on the fixture); the second probe is
    // the standard IVF recovery and the oracle mirrors it with
    // rnv <= 2. The final argmin scans the UNION of both cells' members
    // in one expression (ArgminPairL2Micro) — no per-row concat, no
    // per-row member arrays. First measured shape (HOF filter + concat):
    // 42.2 s at ×1000 — allocation-bound, not compute-bound.
    emb
      .select(col("vec_id"), col("label").as("true_label"), col("embedding"),
        call_function("argmin_top2_l2_micro", col("embedding"), coarseCands).as("t2"))
      .select(col("vec_id"), col("true_label"), col("embedding"),
        col("t2.c1").as("cell1"), col("t2.c2").as("cell2"))
      // null-safe key: an equi-join on cell1 makes the optimizer infer
      // isnotnull(cell1), which pushdown rewrites into a SECOND top-2
      // scan per row; a null cell1 still matches no member cell
      .join(memberCells, col("cell1") <=> col("cell"), "left_semi")
      .select(col("vec_id"), col("true_label"),
        call_function("argmin_pair_l2_micro", col("embedding"), members,
          col("cell1"), col("cell2")).as("assigned"))
    // no post-argmin IS NOT NULL filter: pushdown clones the argmin
    // into the Filter (2× the k·d loop per row). assigned is non-null
    // by construction here — a NULL embedding (or empty coarse set)
    // nulls t2 and the row drops at the cell1 semi-join, which keeps
    // only cells with non-empty member lists.
  }

  val ivfAssign: Q = Q(
    s"""WITH $sqlCentCtes,
       |$sqlIvfTail
       |SELECT true_label AS label, cand AS assigned, COUNT(*) AS n
       |FROM ivfasg WHERE rni = 1
       |GROUP BY true_label, cand ORDER BY label, assigned""".stripMargin) { (s, d) =>
    ivfAssignments(s, d)
      .groupBy(col("true_label").as("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "assigned")
  }

  /** RECALL CERTIFICATE for q201 — the numbers a curator reads before
    * trusting the pruned index at scale. TWO agreement metrics, because
    * they diverge in exactly the situation that matters:
    *  - `recall` — label agreement with the exact argmin. Degenerates
    *    when distinct labels share identical centroid vectors (the
    *    ×1000 fixture has 10k labels but only 640 distinct centroids —
    *    10 base labels × 64 cyclic shifts), where the exact argmin
    *    resolves the tie GLOBALLY (smallest label anywhere) and no
    *    pruned search can match it by construction.
    *  - `geo_recall` — DISTANCE agreement (the IVF pick is exactly as
    *    close as the exact pick): tie-robust, the true geometric error
    *    rate of the quantizer.
    * Both assignments are deterministic, so the certificate itself is a
    * full oracle row. */
  /** The certificate's oracle SELECT (shared by q202 and q207). */
  private val sqlRecallSelect =
    """SELECT COUNT(*) AS n_vecs,
      |  CAST(SUM(CASE WHEN b.cand = i.cand THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
      |  CAST(SUM(CASE WHEN b.cand = i.cand THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall,
      |  CAST(SUM(CASE WHEN b.dist = i.dist THEN 1 ELSE 0 END) AS BIGINT) AS n_geo_agree,
      |  CAST(SUM(CASE WHEN b.dist = i.dist THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS geo_recall
      |FROM (SELECT vec_id, cand, dist FROM best WHERE rn = 1) b
      |JOIN (SELECT vec_id, cand, dist FROM ivfasg WHERE rni = 1) i ON b.vec_id = i.vec_id""".stripMargin

  /** Spark side of the certificate: agreement of `ivf` (vec_id,
    * assigned) with the exact assignment, by label and by distance. */
  private[queries] def recallCertificate(s: SparkSession, d: String, ivfDf: DataFrame): DataFrame = {
    graft.functions.L2Micro.register(s)
    val cent = centroidsDf(s, d)
    val exact = centroidAssignments(s, d).select(col("vec_id"), col("assigned").as("e_cand"))
    val ivf = ivfDf.select(col("vec_id"), col("assigned").as("i_cand"))
    // distances recomputed through the SAME fused arithmetic the oracle
    // uses (L2Micro ≡ the CTEs' list_sum formulation, parity pinned) —
    // two broadcast joins against the k-row centroid relation
    exact.join(ivf, "vec_id")
      .join(embeddings(s, d).select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(cent.select(col("label").cast("int").as("e_cand"),
        col("cvec").as("e_cvec"))), Seq("e_cand"))
      .join(broadcast(cent.select(col("label").cast("int").as("i_cand"),
        col("cvec").as("i_cvec"))), Seq("i_cand"))
      .select(col("e_cand"), col("i_cand"),
        expr("l2_micro(embedding, e_cvec)").as("d_e"),
        expr("l2_micro(embedding, i_cvec)").as("d_i"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("e_cand") === col("i_cand"), 1L).otherwise(0L)).as("n_agree"),
        (sum(when(col("e_cand") === col("i_cand"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("recall"),
        sum(when(col("d_e") === col("d_i"), 1L).otherwise(0L)).as("n_geo_agree"),
        (sum(when(col("d_e") === col("d_i"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("geo_recall"))
  }

  val ivfRecall: Q = Q(
    s"""WITH $sqlAssignCtes,
       |$sqlIvfTail
       |$sqlRecallSelect""".stripMargin) { (s, d) =>
    recallCertificate(s, d, ivfAssignments(s, d))
  }

  /** TRAINED-QUANTIZER IVF assignment — q201 with the k-means coarse
    * pick of [[trainedCoarseDf]] instead of the geometry-blind rank
    * stride. Same probe stage, same determinism, same oracle shape;
    * the training cost is three k×c-row bounded stages amortized over
    * the n-row assignment scan. The point (round-6 verdict #1): default
    * recall that survives decorrelated corpora WITHOUT hand-tuning
    * `spark.graft.ivf.step` — certified by q207. */
  val ivfKmeansAssign: Q = Q(
    s"""WITH $sqlCentCtes,
       |$sqlKmeansCoarse,
       |$sqlIvfProbeTail
       |SELECT true_label AS label, cand AS assigned, COUNT(*) AS n
       |FROM ivfasg WHERE rni = 1
       |GROUP BY true_label, cand ORDER BY label, assigned""".stripMargin) { (s, d) =>
    trainedIvfAssignments(s, d)
      .groupBy(col("true_label").as("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "assigned")
  }

  /** Recall certificate for the trained quantizer (q206), mirroring
    * q202 — label recall AND tie-robust distance recall vs the exact
    * assignment, itself a full oracle row. */
  val ivfKmeansRecall: Q = Q(
    s"""WITH $sqlAssignCtes,
       |$sqlKmeansCoarse,
       |$sqlIvfProbeTail
       |$sqlRecallSelect""".stripMargin) { (s, d) =>
    recallCertificate(s, d, trainedIvfAssignments(s, d))
  }

  /** PERSISTED IVF index — the publish-once form of q201 (the S12/q131
    * pattern applied to the IVF cell assignment): centroids are written
    * ONCE partitioned by their coarse CELL (hive layout, sorted by label
    * within), and a probe batch reads back only the cell directories it
    * probes. Because `cell` is the PARTITION column and the probe side
    * arrives through a broadcast join, Spark injects dynamic partition
    * pruning into the index scan (PlanSpec pins the
    * `dynamicpruningexpression` on `cell`) — at 100 TB a probe touches
    * ~2/√k of the index directories, never the rest, and the index
    * amortizes across probe batches instead of being recomputed per
    * query. The probe itself: one fused top-2 coarse scan per vector
    * (same as q201), explode to ≤2 probed cells, join the pruned index,
    * per-row `l2_micro` distance, then a (dist, cand)-struct min — the
    * same arithmetic and tie order as q201's fused path, so the oracle
    * is q201's own CTEs restricted to the probe batch: the persisted
    * path must serve byte-identical assignments. */
  val ivfIndex: Q = Q(
    s"""WITH $sqlCentCtes,
       |$sqlIvfTail
       |SELECT vec_id, true_label, cand AS assigned
       |FROM ivfasg WHERE rni = 1 AND vec_id < 200
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    persistedIvfIndexQuery(s, d, "ivf_index", (s, cent) => defaultCoarseDf(cent, ivfStep(s)))
  }

  /** Shared build-once-probe-pruned body of q209 (rank coarse) and q213
    * (trained coarse) — ONE definition of publish layout and probe
    * arithmetic, so the two graded rows differ only in the quantizer. */
  private def persistedIvfIndexQuery(s: SparkSession, d: String, sub: String,
      coarseOf: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    graft.functions.L2Micro.register(s)
    graft.functions.ArgminTop2L2Micro.register(s)
    // once-per-JVM staging, same discipline as Sources: Bench's warm-up
    // builds stage the export so timed runs measure the probe; a fresh JVM
    // re-publishes with mode("overwrite"), so a /tmp index left by an
    // earlier process is never served stale
    val dir = graft.Memo.stagingDir("llm", d, sub)
    graft.Memo.stageOnce(dir) {
      // publish BOTH halves of the index: the cell-partitioned centroid
      // members AND the coarse centers. The probe below reads both from
      // disk — recomputing the coarse pick per probe batch would drag
      // the whole corpus-sized centroid aggregation into every probe
      // (measured: 39 s at ×1000 vs 1.6 s at ×100, exponent 1.4, all of
      // it centroid recompute), which is exactly what an index exists
      // to amortize away.
      val cent = centroidsDf(s, d)
      val coarse = coarseOf(s, cent)
      cent.join(cellOfDf(cent, coarse), "label")
        .select(col("label").cast("int").as("label"), col("cvec"), col("cell"))
        .repartition(col("cell")).sortWithinPartitions("label")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/members")
      coarse.coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
    }
    val idx = s.read.parquet(s"$dir/members")
    val coarseCands = s.read.parquet(s"$dir/coarse").agg(
      collect_list(struct(col("clabel").as("cand"), col("cwec").as("cvec")))).scalar()
    val probes = embeddings(s, d).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("label").as("true_label"), col("embedding"),
        call_function("argmin_top2_l2_micro", col("embedding"), coarseCands).as("t2"))
      // c2 is null when only one coarse cell exists; a memberless probed
      // cell simply contributes no index rows — both match the oracle's
      // union-of-members semantics
      .select(col("vec_id"), col("true_label"), col("embedding"),
        explode(array_distinct(expr("filter(array(t2.c1, t2.c2), x -> x IS NOT NULL)"))).as("pcell"))
    idx.join(broadcast(probes), col("cell") === col("pcell"))
      .select(col("vec_id"), col("true_label"),
        struct(expr("l2_micro(embedding, cvec)").as("dist"),
          col("label").as("cand")).as("dc"))
      .groupBy("vec_id", "true_label")
      .agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("true_label"), col("m.cand").as("assigned"))
      .orderBy("vec_id")
  }

  /** PERSISTED TRAINED-QUANTIZER IVF INDEX — the composition a
    * production vector store actually deploys: train the collapse-aware
    * k-means coarse quantizer ONCE (q206's machinery), publish the
    * cell-partitioned members + coarse centers, and serve every probe
    * batch off the pruned index (q209's DPP shape — the scan touches
    * only the ≤2 probed cell directories). Oracle: q206's own training
    * and probe CTEs restricted to the probe batch, so the graded
    * contract is byte-identical assignments between the persisted path
    * and the inline trained path. */
  val ivfIndexTrained: Q = Q(
    s"""WITH $sqlCentCtes,
       |$sqlKmeansCoarse,
       |$sqlIvfProbeTail
       |SELECT vec_id, true_label, cand AS assigned
       |FROM ivfasg WHERE rni = 1 AND vec_id < 200
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    persistedIvfIndexQuery(s, d, "ivf_index_km", trainedCoarseDf)
  }

  /** Text normalization — the cleaning pass upstream of every dedup /
    * quality operator: case-fold, strip zero-width characters, collapse
    * whitespace runs (space/tab/CR/LF) to single spaces, trim. The
    * fixture text is already clean, so a deterministic messy wrapper
    * (leading spaces, tabs, CRLF, mixed case, a U+200B zero-width space)
    * is added first; the oracle verifies the NORMALIZED output
    * byte-for-byte via md5, i.e. the normalization really ran the same
    * way on both engines.
    *
    * Dialect notes: the zero-width space enters as a Scala literal on
    * the Spark side but `chr(8203)` in DuckDB (Spark's `chr` is
    * ASCII-mod-256, not a codepoint constructor); patterns use
    * `\\x{200B}` — the one Unicode-escape spelling Java regex and RE2
    * share. Scale shape: pure per-row map, zero shuffles except the
    * output sort. */
  /** Normalization chain shared by [[normalizeText]] and its spec:
    * case-fold → strip U+200B → collapse whitespace runs → trim.
    * Idempotent: the output contains only single spaces and no
    * zero-width characters. */
  private[graft] def normalizeCol(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c),
      "\\x{200B}", ""), "[ \\t\\r\\n]+", " "))

  val normalizeText: Q = Q(
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    concat('  ', text, chr(9), 'MiXeD  CaSe', chr(13), chr(10),
       |           ' trailing ', chr(8203), 'end  ') AS t
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '[ \\t\\r\\n]{2,}')) AS BIGINT) AS n_ws_runs,
       |  CAST(len(t) AS INT) AS n_chars_raw,
       |  CAST(len(trim(regexp_replace(regexp_replace(lower(t),
       |    '\\x{200B}', '', 'g'), '[ \\t\\r\\n]+', ' ', 'g'))) AS INT) AS n_chars_norm,
       |  md5(trim(regexp_replace(regexp_replace(lower(t),
       |    '\\x{200B}', '', 'g'), '[ \\t\\r\\n]+', ' ', 'g'))) AS norm_md5
       |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        concat(lit("  "), col("text"),
          lit("\tMiXeD  CaSe\r\n trailing \u200Bend  ")).as("t"))
    val norm = normalizeCol(col("t"))
    aug.select(col("doc_id"),
        regexp_count(col("t"), lit("[ \\t\\r\\n]{2,}")).cast("long").as("n_ws_runs"),
        length(col("t")).as("n_chars_raw"),
        length(norm).as("n_chars_norm"),
        md5(norm).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix — WHERE near-duplicates come from:
    * the q47 pair set joined back to each side's `source` and rolled up
    * per (unordered) source pair. A crawl pipeline reads this before
    * dropping a source: high off-diagonal mass means two feeds mirror
    * each other (keep one); high diagonal mass means a feed re-publishes
    * itself. Reuses the SHARED pair builder (same CTEs as q47/q78/q120,
    * so the oracle can't drift). Scale shape: the doc→source map joins
    * the pair set on doc_id — two equi exchanges over the (bounded,
    * df-capped) pair relation, never over the corpus; the matrix itself
    * is |sources|² at most. LEAST/GREATEST canonicalizes the pair so
    * (a,b) and (b,a) land in one cell. */
  val sourceOverlap: Q = Q(
    s"""WITH $sqlPairCtes
       |SELECT LEAST(da.source, db.source) AS source_a,
       |  GREATEST(da.source, db.source) AS source_b,
       |  COUNT(*) AS n_pairs,
       |  ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS avg_jaccard
       |FROM pairs JOIN documents da ON pairs.doc_a = da.doc_id
       |           JOIN documents db ON pairs.doc_b = db.doc_id
       |GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
    val pairs = jaccardPairs(s, d)
    val src = documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("jaccard").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("avg_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Per-document n-gram NOVELTY — the inverse of contamination: the
    * fraction of a document's distinct 3-grams that appear in NO other
    * document. Low novelty = assembled from corpus boilerplate (template
    * pages, quote farms); a curation pipeline uses it as a keep-score
    * next to q58 quality and q91 repetition (which only see WITHIN-doc
    * structure — novelty is the cross-doc complement). Scale shape: one
    * (doc, gram) exchange; the gram df aggregate groups on the SAME key,
    * and the df join back is co-keyed on it (co-partitioned, no extra
    * exchange of the postings) — grams travel as xxhash64 (q47's 8-byte
    * discipline; counts are hash-invariant). No pair generation at all,
    * so no df cap is needed. */
  val noveltyScore: Q = Q(
    s"""WITH sh AS (SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(sq) AS s FROM (
       |      SELECT doc_id, $sqlShingles3 AS sq
       |      FROM (SELECT doc_id, $sqlWords AS w FROM documents)
       |      WHERE len(w) >= 3))),
       |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
       |per AS (SELECT sh.doc_id, COUNT(*) AS n_grams,
       |    COUNT(*) FILTER (WHERE df.df >= 2) AS n_shared
       |  FROM sh JOIN df ON sh.s = df.s GROUP BY sh.doc_id)
       |SELECT doc_id, n_grams, n_shared,
       |  ROUND(1.0 - CAST(n_shared AS DOUBLE) / n_grams, 6) AS novelty
       |FROM per ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sh = graft.Tables.wide(s, documents(s, d))
      .select(col("doc_id"), words.as("wds"))
      .filter(size(col("wds")) >= 3)
      .select(col("doc_id"), explode(array_distinct(hashedShinglesOf(3, col("wds")))).as("s"))
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(df, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(when(col("df") >= 2, 1)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        round(lit(1.0) - col("n_shared").cast("double") / col("n_grams"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-3 most-similar vectors with a DIFFERENT label —
    * near the anchor in embedding space but semantically wrong, exactly
    * the negatives that make a retrieval/embedding model learn fastest
    * (random negatives are too easy; same-label neighbors are q51's
    * positives).
    *
    * Scale shape: the probe set is bounded (10 anchors) and broadcast;
    * the corpus side STREAMS through one codegen cosine per (anchor,
    * candidate) — a linear scan, no shuffle of the corpus, no self-join.
    * The label≠ predicate rides the broadcast join condition so wrong-
    * label filtering happens before the window; top-3 per anchor is a
    * WindowGroupLimit over the 10-key window. At 100 TB the anchor batch
    * grows, not the shape: partition the corpus once, broadcast anchors
    * per batch. */
  val hardNegatives: Q = Q(
    s"""SELECT * FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    e.label AS neg_label, ROUND($sqlCos, 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY $sqlCos DESC, e.vec_id ASC) AS rn
       |  FROM embeddings q JOIN embeddings e ON e.label <> q.label
       |  WHERE q.vec_id < 10)
       |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin) { (s, d) =>
    val q = embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("ql"))
    val e = embeddings(s, d).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ee"), col("label"))
    val cosc = dotCos(s)
    val w = Window.partitionBy("query_id").orderBy(desc("cos_raw"), asc("neighbor_id"))
    e.join(broadcast(q), col("label") =!= col("ql"))
      .select(col("query_id"), col("neighbor_id"), col("label").as("neg_label"),
        cosc.as("cos_raw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        round(col("cos_raw"), 6).as("cos"), col("rn"))
      .orderBy("query_id", "rn")
  }

  override def queries: Seq[(String, Q)] = Seq(
    "q46_dedup_exact"     -> dedupExact,
    "q47_near_dup_jaccard"-> nearDupJaccard,
    "q48_minhash_lsh"     -> minHashLsh,
    "q49_simhash"         -> simHash,
    "q50_cosine_topk"     -> cosineTopK,
    "q51_cosine_topk_ivf" -> cosineTopKPartitioned,
    "q52_token_freq"      -> tokenFreq,
    "q53_tfidf"           -> tfIdf,
    "q54_ngram_freq"      -> ngramFreq,
    "q55_multimodal_join" -> multimodalJoin,
    "q56_length_profile"  -> lengthProfile,
    "q57_lang_id"         -> langId,
    "q58_quality_score"   -> qualityScore,
    "q59_token_count"     -> tokenCount,
    "q60_fingerprint"     -> fingerprint,
    "q61_binary_meta"     -> binaryMeta,
    "q62_media_features"  -> mediaFeatures,
    "q188_audio_features" -> audioFeatures,
    "q78_dedup_groups"    -> dedupGroups,
    "q80_embedding_near_dup" -> embeddingNearDup,
    "q81_hash_split"      -> hashSplit,
    "q82_pack_chunks"     -> packChunks,
    "q88_dedup_corpus"    -> dedupCorpus,
    "q89_stratified_sample" -> stratifiedSample,
    "q90_sample_exact_k"  -> sampleExactK,
    "q91_repetition_filter" -> repetitionFilter,
    "q92_simhash_pairs"   -> simHashPairs,
    "q93_decontaminate"   -> decontaminate,
    "q94_pii_redact"      -> piiRedact,
    "q120_clean_pipeline" -> cleanPipeline,
    "q95_lsh_ann"         -> lshAnn,
    "q96_normalize_text"  -> normalizeText,
    "q99_centroid_assign" -> centroidAssign,
    "q132_multiprobe_ann" -> multiProbeAnn,
    "q133_bloom_decon"    -> bloomDecon,
    "q137_chunk_docs"     -> chunkDocs,
    "q139_dup_spans"      -> dupSpans,
    "q142_mixture_alloc"  -> mixtureAlloc,
    "q147_hard_negatives" -> hardNegatives,
    "q152_source_overlap" -> sourceOverlap,
    "q153_novelty_score"  -> noveltyScore,
    "q157_temperature_mix"-> temperatureMix,
    "q158_containment_dup"-> containmentDup,
    "q162_quality_survivor" -> qualitySurvivor,
    "q168_cluster_terms"  -> clusterTerms,
    "q160_incremental_dedup" -> incrementalDedup,
    "q170_data_card"      -> dataCard,
    "q171_feature_hashing"-> featureHashing,
    "q177_semantic_dedup" -> semanticDedup,
    "q178_span_corruption"-> spanCorruption,
    "q181_kcore"          -> kCore,
    "q182_threshold_bands"-> thresholdBands,
    "q183_link_prediction"-> linkPrediction,
    "q201_ivf_assign"     -> ivfAssign,
    "q202_ivf_recall"     -> ivfRecall,
    "q206_ivf_kmeans_assign" -> ivfKmeansAssign,
    "q207_ivf_kmeans_recall" -> ivfKmeansRecall,
    "q205_chunk_dedup"    -> chunkDedup,
    "q208_chunk_near_dup" -> chunkNearDup,
    "q209_ivf_index"      -> ivfIndex,
    "q213_ivf_index_trained" -> ivfIndexTrained
  )

  /** Link prediction by COMMON NEIGHBORS over the q80 similarity graph:
    * non-adjacent pairs sharing ≥ 2 neighbors — "these two documents
    * are probably near-dups the threshold missed", the graph-completion
    * screen a dedup pipeline runs after clustering. The wedge join is
    * the q155 triangle shape (pairs of edges meeting at a node, in-array
    * generation per neighborhood); candidate pairs then anti-join the
    * edge set itself. Neighborhood fanout is deg²/2 per node — the
    * celebrity-node hazard — so neighborhoods above a cap would be
    * dropped at true scale exactly like q47's df cap (the fixture's max
    * degree is far below it; cap documented rather than engaged).
    * Everything is equi-keyed: one exchange to build neighborhoods, one
    * (pair)-keyed count, one anti-join on the pair key. */
  val linkPrediction: Q = Q(
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  $sqlEmbeddingPairsFromWhere),
       |e AS (SELECT va AS src, vb AS dst FROM pairs
       |  UNION ALL SELECT vb, va FROM pairs),
       |wedge AS (
       |  SELECT e1.dst AS a, e2.dst AS b
       |  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst),
       |cand AS (SELECT a, b, COUNT(*) AS common FROM wedge
       |  GROUP BY a, b HAVING COUNT(*) >= 2)
       |SELECT a AS vec_a, b AS vec_b, CAST(common AS BIGINT) AS common
       |FROM cand c
       |WHERE NOT EXISTS (SELECT 1 FROM pairs p
       |  WHERE p.va = c.a AND p.vb = c.b)
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    val pairs = embeddingPairs(s, d)
      .select(col("vec_a").as("va"), col("vec_b").as("vb"))
      .localCheckpoint() // feeds edges, wedges AND the final anti-join
    val e = pairs.select(col("va").as("src"), col("vb").as("dst"))
      .unionAll(pairs.select(col("vb").as("src"), col("va").as("dst")))
    val nb = e.groupBy("src").agg(sort_array(collect_list(col("dst"))).as("ns"))
      .filter(size(col("ns")) >= 2)
    val wedges = nb.select(explode(expr(
        "flatten(transform(ns, (x, i) -> " +
          "transform(slice(ns, i + 2, size(ns)), y -> struct(x AS a, y AS b))))"))
        .as("w"))
      .select(col("w.a").as("a"), col("w.b").as("b"))
    val cand = wedges.groupBy("a", "b").agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    cand.join(pairs, col("a") === col("va") && col("b") === col("vb"), "left_anti")
      .select(col("a").as("vec_a"), col("b").as("vec_b"), col("common"))
      .orderBy("vec_a", "vec_b")
  }

  /** k-CORE decomposition (k=2, three unrolled peels) over the q80
    * embedding-similarity graph — the graph-density screen that
    * separates clustered near-dup mass from incidental pairs (degree
    * alone, q110, can't see it: a degree-2 node whose neighbors vanish
    * in peel 1 is not in the 2-core). Same unrolled-iteration pattern
    * as q119's PageRank: each peel is one degree aggregate + two
    * semi-joins against the shrinking alive set, and the edge relation
    * is materialized ONCE (the pagerank/CC checkpoint discipline) so
    * peels reread the materialization, not the cosine pair pipeline.
    * At 100 TB each peel shuffles only the surviving edge list —
    * geometrically shrinking for the same reason CC's contraction is.
    * The fixture graph reaches its 2-core fixed point within 3 peels
    * (spec-checked); unbounded convergence would loop until an empty
    * delta, exactly like CC's rounds. */
  val kCore: Q = {
    def sqlPeel(r: Int): String =
      s"""deg$r AS (SELECT src, COUNT(*) AS d FROM e$r GROUP BY src),
         |alive$r AS (SELECT src FROM deg$r WHERE d >= 2),
         |e${r + 1} AS (SELECT e.src, e.dst FROM e$r e
         |  WHERE EXISTS (SELECT 1 FROM alive$r a WHERE a.src = e.src)
         |    AND EXISTS (SELECT 1 FROM alive$r a WHERE a.src = e.dst))""".stripMargin
    Q(
      s"""WITH pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  $sqlEmbeddingPairsFromWhere),
         |e0 AS (SELECT va AS src, vb AS dst FROM pairs
         |  UNION ALL SELECT vb, va FROM pairs),
         |${sqlPeel(0)},
         |${sqlPeel(1)},
         |${sqlPeel(2)}
         |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM e3 GROUP BY src ORDER BY vec_id""".stripMargin) { (s, d) =>
      val pairs = embeddingPairs(s, d)
        .select(col("vec_a").as("va"), col("vec_b").as("vb"))
      var e = pairs.select(col("va").as("src"), col("vb").as("dst"))
        .unionAll(pairs.select(col("vb").as("src"), col("va").as("dst")))
        .localCheckpoint() // pay the cosine pair pipeline exactly once
      for (_ <- 0 until 3) {
        val alive = e.groupBy("src").agg(count(lit(1)).as("d"))
          .filter(col("d") >= 2).select(col("src").as("a"))
        // checkpoint per peel (CC's round discipline): the next peel's
        // degree aggregate reads this peel's survivors, not a growing
        // chain of semi-joins re-evaluated from the base relation.
        // No broadcast hint on the alive set: early peels keep most
        // nodes alive (alive ≈ V, far beyond broadcast size at scale) —
        // AQE broadcasts it when it actually shrinks
        e = e.join(alive, col("src") === col("a"), "left_semi")
          .join(alive, col("dst") === col("a"), "left_semi")
          .localCheckpoint()
      }
      e.groupBy(col("src").as("vec_id")).agg(count(lit(1)).as("core_deg"))
        .orderBy("vec_id")
    }
  }

  /** Jaccard THRESHOLD SENSITIVITY — pair counts per 0.1-wide similarity
    * band over the shared intersection prefix: the tuning curve a dedup
    * operator reads before choosing τ ("how many pairs does lowering τ
    * by 0.1 add?"). One extra 10-row aggregate on the relation q47/q158
    * already compute — the banding is a pure projection (identical
    * IEEE division then floor in both engines), so the whole curve
    * costs one pass. */
  val thresholdBands: Q = Q(
    s"""WITH ${sqlInterCtesFrom("documents")}
       |SELECT CAST(LEAST(FLOOR((CAST(i AS DOUBLE) / (ca.c + cb.c - i)) * 10), 9) AS BIGINT)
       |    AS band,
       |  COUNT(*) AS n_pairs
       |FROM inter
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    val jac = col("i").cast("double") / (col("ca") + col("cb") - col("i"))
    intersectionsOf(documents(s, d))
      .groupBy(least(floor(jac * 10), lit(9)).cast("long").as("band"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("band")
  }

  /** SEMANTIC dedup (SemDeDup-shaped): near-dup pairs WITHIN LEARNED
    * clusters — q80 buckets pairs by the given label; here the bucket is
    * the nearest-centroid ASSIGNMENT (q99's shared relation), i.e. the
    * cluster structure discovered from the data itself, which is how
    * semantic dedup actually runs (cluster once with k-means, compare
    * only within cells). Pair space is bounded per assigned cell —
    * corpus² never materializes — and the cosine is the fused codegen
    * expression. The clustered relation is checkpointed ONCE and
    * self-joined (both pair sides read the same materialization; the
    * assignment subtree — a k-way broadcast distance fan-out plus a
    * window — would otherwise run twice). */
  val semanticDedup: Q = Q(
    s"""WITH $sqlAssignCtes,
       |ce AS (SELECT b.cand AS cluster, e.vec_id, e.embedding
       |       FROM best b JOIN embeddings e ON b.vec_id = e.vec_id
       |       WHERE b.rn = 1)
       |SELECT x.cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
       |  ROUND(${sqlCosOf("x", "y")}, 6) AS cos
       |FROM ce x JOIN ce y
       |  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |WHERE ${sqlCosOf("x", "y")} >= 0.35
       |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    graft.functions.CosineSimilarity.register(s)
    val ce = centroidAssignments(s, d)
      .select(col("vec_id").as("aid"), col("assigned").as("cluster"))
      .join(embeddings(s, d), col("aid") === col("vec_id"))
      .select(col("cluster"), col("vec_id"), col("embedding"))
      .localCheckpoint()
    val a = ce.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("qe"))
    val b = ce.select(col("cluster").as("cb"), col("vec_id").as("vec_b"),
      col("embedding").as("ee"))
    a.join(b, col("cluster") === col("cb") && col("vec_a") < col("vec_b"))
      .select(col("cluster"), col("vec_a"), col("vec_b"),
        expr("cosine_sim(qe, ee)").as("cos_raw"))
      .filter(col("cos_raw") >= 0.35)
      .select(col("cluster"), col("vec_a"), col("vec_b"),
        round(col("cos_raw"), 6).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Span-corruption example generation (the T5/UL2 denoising objective's
    * data op): one deterministic masked span per document — position and
    * length derive from pure integer hash arithmetic on doc_id, so the
    * SAME examples regenerate on every run/engine/partitioning (training
    *-data reproducibility, the property that matters when a 100 TB
    * corpus is re-materialized). Pure per-row map: no shuffle at all
    * until the output sort; bounds guarantee the span fits (start ≤
    * n−10, len ≤ 9). Emits the corrupted input (sentinel in place of
    * the span) and the target span — the actual training pair. */
  val spanCorruption: Q = Q(
    s"""WITH ws AS (SELECT doc_id, $sqlWords AS w FROM documents),
       |t AS (SELECT doc_id, len(w) AS n, w,
       |    CAST(1 + (doc_id * 40503) % (len(w) - 10) AS BIGINT) AS st,
       |    CAST(5 + doc_id % 5 AS BIGINT) AS ln
       |  FROM ws WHERE len(w) >= 20)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       |  st AS span_start, ln AS span_len,
       |  array_to_string(list_concat(list_concat(
       |    w[1:st-1], ['<extra_id_0>']), w[st+ln:n]), ' ') AS corrupted,
       |  array_to_string(w[st:st+ln-1], ' ') AS target
       |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    val ws = documents(s, d).select(col("doc_id"), words.as("w"))
      .filter(size(col("w")) >= 20)
    val t = ws.select(col("doc_id"), size(col("w")).as("n"), col("w"),
      (lit(1) + (col("doc_id") * 40503) % (size(col("w")) - 10)).cast("int").as("st"),
      (lit(5) + col("doc_id") % 5).cast("int").as("ln"))
    t.select(col("doc_id"), col("n").cast("long").as("n_words"),
        col("st").cast("long").as("span_start"),
        col("ln").cast("long").as("span_len"),
        array_join(concat(
          slice(col("w"), lit(1), col("st") - 1),
          array(lit("<extra_id_0>")),
          slice(col("w"), col("st") + col("ln"),
            col("n") - col("st") - col("ln") + 1)), " ").as("corrupted"),
        array_join(slice(col("w"), col("st"), col("ln")), " ").as("target"))
      .orderBy("doc_id")
  }

  /** FEATURE HASHING (the hashing trick): project the unbounded token
    * vocabulary into a fixed 16-dim signed count vector per document —
    * the memoryless featurizer for linear models at corpus scale, where
    * a learned vocabulary cannot be built or broadcast. No dictionary,
    * no second pass: dim = h(token) mod 16, sign = ±1 from the next
    * hash bit (the signed variant that makes collisions cancel in
    * expectation rather than bias upward).
    *
    * The token hash is the repo's ORACLE-PORTABLE polynomial (q60's
    * discipline at char level): exact BIGINT arithmetic identical in
    * both engines — engine hash builtins (xxhash64 / DuckDB hash) never
    * match across engines, so hash-dependent OUTPUT must come from
    * arithmetic the oracle can replicate. Collisions are not a defect
    * here; they are the method. The per-character iteration is only
    * portable for ASCII (Spark's split("") walks UTF-16 units, DuckDB's
    * tok[i] walks code points — surrogate pairs diverge), so BOTH sides
    * hash only ASCII tokens, enforced by the exact chars=bytes
    * predicate length(tok) = octet_length/strlen(tok); non-ASCII
    * tokens are excluded from the projection rather than silently
    * hashed differently per engine.
    *
    * Scale: one explode → one (doc, dim) grouped aggregate, map-side
    * combinable, bounded fanout (≤16 dims/doc survive). Long form
    * (doc, dim, w) keeps the schema fixed regardless of dim count. */
  val featureHashing: Q = Q(
    s"""WITH tok AS (SELECT doc_id, unnest($sqlWords) AS tok FROM documents),
       |h AS (SELECT doc_id,
       |    CAST(COALESCE(list_sum(list_transform(range(length(tok)),
       |      i -> (i + 1) * ord(tok[i+1]))), 0) + 7919 * length(tok) AS BIGINT) AS hv
       |  FROM tok WHERE length(tok) = strlen(tok) AND length(tok) > 0)
       |SELECT doc_id, CAST(hv % 16 AS BIGINT) AS dim,
       |  CAST(SUM(CASE WHEN hv % 32 >= 16 THEN -1 ELSE 1 END) AS BIGINT) AS w
       |FROM h GROUP BY doc_id, dim
       |ORDER BY doc_id, dim""".stripMargin) { (s, d) =>
    // same rewrite as q233's dsirTok: no split()-in-lambda (re-evaluated
    // per character), no intermediate transformed array — identical
    // integer results, ~half the per-token expression work
    val hv = (aggregate(
      sequence(lit(1), length(col("tok"))),
      lit(0L),
      (acc, i) => acc + i.cast("long") *
        ascii(col("tok").substr(i, lit(1))).cast("long")) +
      lit(7919L) * length(col("tok"))).as("hv")
    graft.Tables.wide(s, documents(s, d))
      .select(col("doc_id"), explode(words).as("tok"))
      // length > 0: empty tokens (consecutive spaces) pass the ASCII
      // gate but crash Spark's positional hash (element_at(ch, 0) via
      // sequence(1,0)) while DuckDB hashes them to 0 — see q233
      .filter(length(col("tok")) === octet_length(col("tok")) && length(col("tok")) > 0)
      .select(col("doc_id"), hv)
      .groupBy(col("doc_id"), (col("hv") % 16).as("dim"))
      .agg(sum(when(col("hv") % 32 >= 16, -1L).otherwise(1L)).as("w"))
      .orderBy("doc_id", "dim")
  }

  /** The per-language DATA CARD — the one-page corpus summary a dataset
    * release ships: volume (docs, chars, words), exact-duplicate rate,
    * and the q120 quality-gate pass rate, per language. Every metric
    * folds into ONE grouped aggregate over ONE scan: per-row predicates
    * (quality gate, word count) are codegen'd projections, the dup rate
    * is n_docs − COUNT(DISTINCT sha256(text)) riding the same exchange
    * (Spark plans distinct-aggregate via expand on the lang key), and
    * lang has 5 values so the final relation is tiny. The cheapest
    * possible shape at any scale: one pass, one exchange, no joins. */
  val dataCard: Q = Q(
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_words,
       |  COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_exact_dups,
       |  ROUND(CAST(COUNT(*) FILTER (WHERE n_chars BETWEEN 100 AND 500
       |      AND CAST(len(list_filter(string_split(lower(text), ' '),
       |            t -> list_contains($sqlStopList, t))) AS DOUBLE)
       |          / len(string_split(lower(text), ' ')) >= 0.05) AS DOUBLE)
       |    / COUNT(*), 6) AS quality_pass_rate
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val pass = col("n_chars").between(100, 500) &&
      (size(filter(words, t => t.isInCollection(stopWords))).cast("double") /
        size(words)) >= 0.05
    documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum(size(words)).as("total_words"),
        (count(lit(1)) - countDistinct(sha2(col("text"), 256))).as("n_exact_dups"),
        round(count(when(pass, 1)).cast("double") / count(lit(1)), 6)
          .as("quality_pass_rate"))
      .orderBy("lang")
  }
}
