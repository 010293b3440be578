package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Application-scoped memo for BOUNDED (broadcast-sized) relations that
  * several graded queries rebuild identically — trained codebooks, the
  * md5-ranked training sample, the 10-row ADC query set, the exact
  * top-10 arm every certificate compares against.
  *
  * Round-8's bench doubling traced in large part to re-TRAINING the
  * same deterministic books inline in every certificate row (q223/q224/
  * q227 each re-ran coarse + residual Lloyd; q216–q221 each re-ran the
  * PQ book) — the round-9 flattening ask. Every relation cached here is
  * a pure deterministic function of its key (scale-factor dir + explicit
  * parameters; training is md5-rank seeded, ties broken structurally),
  * so the first caller materializes it once per application and every
  * later query reads the identical pinned rows — the same pay-once
  * discipline as the persisted q222/q228 indexes, held in memory instead
  * of /tmp because everything here is ≤~2048 rows.
  *
  * Rules of use (the repo's memory-shape rule 3):
  *  - BOUNDED relations only — the value must be broadcast-sized
  *    (≤ a few thousand rows) regardless of corpus scale; O(n)
  *    relations keep their per-query recompute;
  *  - the build must already end in `localCheckpoint()` (or be handed
  *    one by the caller) so the cached plan is a pinned RDD scan, not a
  *    live subtree that re-executes per consumer;
  *  - keys embed every parameter the relation depends on (sf dir, m,
  *    nCodes, variant) — a live `spark.graft.*` knob must land in the
  *    key or stay out of the cached build entirely.
  *
  * Keyed by applicationId so a restarted SparkContext (whose
  * localCheckpointed RDDs died with it) never serves stale handles.
  */
object BoundedMemo {
  private val memo = new graft.Memo[String, DataFrame]
  @volatile private var currentApp: String = ""

  /** Get-or-build through [[graft.Memo]]: a concurrent caller of the same
    * key waits for the one build, and a build may memo-read another key
    * (a codebook build memo-reads the ranked sample). */
  def apply(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val app = s.sparkContext.applicationId
    // first access under a NEW application evicts the previous app's
    // entries: their plans reference the dead context's checkpointed
    // RDDs and would otherwise strand object graphs for the life of the
    // JVM (the warm-sbt-shell workflow restarts SparkContexts freely)
    if (currentApp != app) synchronized {
      if (currentApp != app) {
        val prefix = app + "|"
        memo.removeIf(k => !k.startsWith(prefix))
        currentApp = app
      }
    }
    memo(app + "|" + key)(build)
  }

  /** Entries held, for specs. */
  private[queries] def size: Int = memo.size

  /** CORPUS-PIN variant: the same registry and app-eviction, explicitly
    * EXEMPT from the ≤2048-row rule — for n-row localCheckpoint pins a
    * pipeline must create anyway (the q250/q251 aligned corpus: each
    * pass pin is released when the next materializes, but the FINAL
    * pin backs the returned plan and cannot be) and would otherwise
    * LEAK one pinned corpus copy per re-build (bench iterations, specs,
    * Verify all rebuild). Memoizing bounds live pins to one per key per
    * application and pays the build once. Use sparingly: the key must
    * identify the corpus and every transform parameter, and the value
    * should be the pipeline's unavoidable final pin — never a cache
    * bolted on for speed alone. */
  def corpusPin(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    apply(s, s"corpuspin|$key")(build)
}
