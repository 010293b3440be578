package graft

/** Single source of truth for the SURVEY.md §2 row → query-key mapping.
  *
  * SURVEY §8's coverage claims are generated FROM this object (see
  * [[Coverage.render]] and CoverageSpec): the spec regenerates
  * `COVERAGE.md` and fails on any drift, and every key referenced here is
  * validated against [[QueryRegistry]] — so a renamed/removed query, or a
  * row silently losing its evidence, breaks the build instead of leaving
  * a stale document. Keys NOT mapped to a §2 row are listed automatically
  * in the artifact's extension section; nothing in the registry can be
  * omitted from the document.
  */
object Coverage {

  /** One §2 row: id, short title, query keys proving it (empty for
    * rows that are legitimately test-only, with the note saying why). */
  final case class Row(id: String, title: String, keys: Seq[String], note: String = "")

  val rows: Seq[Row] = Seq(
    Row("S1", "xlsx DSv2 scan (ZIP + byte-level tokenizer, vectorized + streaming)", Seq("q68_xlsx_region", "q69_xlsx_nation")),
    Row("S2", "multi-sheet / multi-file xlsx + sheet selection", Seq("q135_xlsx_multifile")),
    Row("S3", "type inference / sanitization (1904+Lotus, numFmt, inlineStr)", Seq(),
      "test-only by design: property/roundtrip/corner-case suites (XlsxPropertySpec, XlsxCornerCaseSpec)"),
    Row("S4", "parquet scan", Seq("q01_pricing_summary")),
    Row("S5", "CSV scan", Seq("q70_csv_roundtrip")),
    Row("S6", "JDBC sink (xlsx→DuckDB ETL, upsert, continuous)", Seq("q72_jdbc_etl")),
    Row("S7", "parquet sink (partitioned publish, compaction, schema evolution)",
      Seq("q97_publish_corpus", "q127_compacted_read", "q150_schema_evolution")),
    Row("S7b", "distributed xlsx sink (two-phase commit)", Seq("q87_xlsx_sink")),
    Row("S8", "JSON-lines source/sink", Seq("q71_json_roundtrip")),

    Row("P1", "projection / rename / compute", Seq("q02_project_compute")),
    Row("P2-P3", "filters, IN/BETWEEN/LIKE/RLIKE", Seq("q03_filter_predicates")),
    Row("P4-P5", "null predicates, CASE family", Seq("q04_conditional")),

    Row("J1", "broadcast hash join", Seq("q05_join_broadcast")),
    Row("J2", "sort-merge join", Seq("q06_join_sortmerge")),
    Row("J3", "shuffled hash join", Seq("q07_join_shuffle_hash")),
    Row("J4", "left/right/full outer join",
      Seq("q08_join_left_outer", "q73_join_full_outer", "q74_join_right_outer")),
    Row("J5", "left semi join", Seq("q09_join_semi")),
    Row("J6", "left anti join", Seq("q10_join_anti")),
    Row("J7", "cross join (bounded)", Seq("q11_join_cross")),
    Row("J8", "theta / range join (banded + auto-banded rule)",
      Seq("q36_range_join", "q125_range_join_auto")),
    Row("J9", "as-of join", Seq("q37_asof_join", "q79_asof_generic")),
    Row("J10", "interval overlap join", Seq("q38_interval_overlap")),
    Row("J11", "multi-way star join", Seq("q39_star_join", "q01_pricing_summary")),

    Row("A1-A2", "hash aggregate, partial+final", Seq("q01_pricing_summary", "q12_agg_global")),
    Row("A3", "exact count distinct", Seq("q13_count_distinct")),
    Row("A4", "approx_count_distinct (tolerance-gated)", Seq("q16_approx_distinct")),
    Row("A5", "rollup / cube / grouping sets", Seq("q14_rollup", "q15_cube", "q77_grouping_sets")),
    Row("A6", "pivot", Seq("q30_pivot")),
    Row("A7", "collect_list/set (sorted)", Seq("q31_collect")),
    Row("A8", "exact percentile", Seq("q32_percentile")),
    Row("A9", "stddev/var/corr", Seq("q33_stats")),
    Row("A10", "min_by/max_by", Seq("q34_minmax_by")),
    Row("A11", "custom UDAF (typed Aggregator; salted variant)",
      Seq("q35_weighted_avg", "q83_salted_agg")),

    Row("W1", "ranking family", Seq("q24_rank_window")),
    Row("W2", "lag/lead/first/last/nth", Seq("q25_lag_lead", "q75_first_last_window")),
    Row("W3", "running aggregate", Seq("q26_running_sum")),
    Row("W4", "sliding range frame", Seq("q27_range_frame")),
    Row("W5", "top-k per group (+LATERAL decorrelated)",
      Seq("q28_topk_per_group", "q123_lateral_topk")),
    Row("W6", "cume_dist / percent_rank", Seq("q29_cume_dist")),

    Row("O1-O2", "multi-key sort, global top-k", Seq("q17_topk")),
    Row("O3", "union all/distinct", Seq("q18_union_all", "q19_union_distinct")),
    Row("O4", "intersect/except (+ALL)",
      Seq("q20_intersect", "q21_except", "q22_except_all", "q23_intersect_all")),

    Row("F-string", "composite string functions", Seq("q40_string_funcs")),
    Row("F-date", "composite date/time functions", Seq("q41_date_funcs")),
    Row("F-math", "composite math functions", Seq("q42_math_funcs")),
    Row("F-cond", "conditional family", Seq("q04_conditional")),
    Row("F-array", "array / higher-order functions", Seq("q43_array_funcs")),
    Row("F-map", "map functions (from_json→map)", Seq("q45_json_struct")),
    Row("F-json", "json functions (+VARIANT)",
      Seq("q44_json_agg", "q45_json_struct", "q124_variant_extract")),

    Row("U1", "scalar UDF surface", Seq(),
      "test-only by design: graded queries are deliberately UDF-free (codegen); sanitizer UDF covered by ScalarEdgeSpec/TypeInference"),
    Row("U2", "typed UDAF", Seq("q35_weighted_avg")),
    Row("U3", "generator/UDTF surface (explode; typed flatMap/mapPartitions)",
      Seq("q52_token_freq", "q62_media_features")),
    Row("U4", "custom Catalyst expressions + optimizer rule (codegen)",
      Seq("q50_cosine_topk", "q51_cosine_topk_ivf", "q115_kmeans_update",
        "q117_zorder_key", "q125_range_join_auto", "q133_bloom_decon")),

    Row("ST1", "tumbling window", Seq("q63_tumbling_window")),
    Row("ST2", "sliding window", Seq("q64_sliding_window")),
    Row("ST3", "session window", Seq("q65_session_window")),
    Row("ST4", "watermark + late data", Seq(),
      "test-only by design: watermark semantics have no batch oracle (StreamingSpec proves drop/keep)"),
    Row("ST5", "stateful dedup", Seq("q66_dedup_stream")),
    Row("ST6", "stream-static join", Seq("q67_stream_static_join")),

    Row("L1", "exact dedup + incremental-ingest ledger",
      Seq("q46_dedup_exact", "q160_incremental_dedup")),
    Row("L2", "Jaccard / containment near-dup pairs",
      Seq("q47_near_dup_jaccard", "q158_containment_dup", "q182_threshold_bands")),
    Row("L3", "MinHash LSH / SimHash banding",
      Seq("q48_minhash_lsh", "q49_simhash", "q92_simhash_pairs")),
    Row("L4", "brute-force cosine top-k", Seq("q50_cosine_topk")),
    Row("L5", "ANN: IVF / LSH / persisted index + multi-probe",
      Seq("q51_cosine_topk_ivf", "q95_lsh_ann", "q131_ann_index", "q132_multiprobe_ann")),
    Row("L6", "tokenize / stopwords / token counting",
      Seq("q52_token_freq", "q59_token_count")),
    Row("L7", "TF-IDF", Seq("q53_tfidf")),
    Row("L8", "n-gram generation", Seq("q54_ngram_freq", "q134_regex_tokens")),
    Row("L9", "multimodal join", Seq("q55_multimodal_join")),
    Row("L10", "length/lang profiling", Seq("q56_length_profile")),
    Row("L11", "multimodal decode: image (real PNG/JPEG), audio (real WAV), video (stub)",
      Seq("q61_binary_meta", "q62_media_features", "q188_audio_features")),
    Row("L12", "embedding compression: SQ8 scalar + PQ8x8 product quantization, recall-certified; PQ-ADC top-k search; IVFADC cell-pruned search",
      Seq("q214_sq8_assign", "q215_sq8_recall", "q216_pq_assign", "q217_pq_recall",
        "q218_adc_topk", "q219_adc_recall", "q220_ivfadc_topk", "q221_ivfadc_recall",
        "q222_ivfadc_index", "q229_pq16_recall")),
    Row("L13", "residual IVFADC encoding + two-stage exact re-rank (production serving stack: recall recovered to the pruning ceiling at unchanged scan fraction; shortlist depth α is a measured knob with pinned monotonicity)",
      Seq("q223_ivfadc_residual_topk", "q224_ivfadc_residual_recall",
        "q225_adc_rerank_topk", "q226_adc_rerank_recall", "q227_ivfadc_rerank_recall",
        "q241_pq16_rerank_recall")),
    Row("L14", "incremental index maintenance: frozen-book daily batch ingest into the published IVFADC index (two-phase crash-safe cell append) + partition-preserving compaction of the accumulated batches (rankings byte-identical, one file per cell)",
      Seq("q228_ivfadc_ingest", "q240_ivfadc_compacted")),
    Row("L15", "data selection + compressed-domain dedup + spectral diagnostics: DSIR importance resampling (hashed-ngram target/raw log-ratio scoring); SemDeDup over the SQ8 store with an in-band precision/recall agreement certificate; top-PC eigenvalue/explained-share via integer-domain power iteration (the whiten-before-quantize check)",
      Seq("q233_dsir_select", "q234_semdedup_sq8", "q235_semdedup_sq8_agreement",
        "q238_embedding_pca", "q239_embedding_abtt")),
    Row("L16", "anisotropic demonstration corpus (deterministic low-rank generated data): residual encoding and whiten-then-quantize (ABTT→PQ) measured STRICTLY above their raw floors — the positive case the near-isotropic fixture hides, completing the diagnose→decide→transform→requantize loop",
      Seq("q242_aniso_pca", "q243_aniso_residual_lift",
        "q244_aniso_pq_raw_recall", "q245_aniso_pq_abtt_recall")),
    Row("L17", "manifest TABLE FORMAT — atomic visibility with optimistic concurrency, an incremental transaction log, time travel, column-keyed zone maps, manifest-held schema, merge-on-read deletes, and a checksummed versioned format: every commit is one atomically-published log record (a generation-number CAS — racing appends retry by union, racing compactions/replaces/deletes redo their work, neither loses rows), and since round 12 commits are O(delta) records (adds/removes/dv-adds/one watermark) with full-snapshot CHECKPOINT SIDECARS bounding every reader's replay tail at 8 records — commit bytes measured INDEPENDENT of table size (997 B delta vs 8.4 MB full rewrite at 100k files, ManifestPlanBench); probes plan from the manifest, never directory listing — a crash at ANY instant leaves readers on the old complete generation; file entries carry zone maps for EVERY declared stat column (TableSpec, persisted in the manifest) so a range probe skips non-overlapping files at planning time (q255 grades the pruned vec_id probe with skipped>0 enforced structurally; q260 grades a SECOND table — the documents corpus, partitioned by lang with doc_id+n_chars stats — through the same machinery); readAt() serves any retained generation byte-identically (q256, AFTER two later commits and a compaction); the table schema lives in the manifest — appends validate column types loudly and evolve the schema in the same commit, readers plan with the generation's schema so pre-evolution files surface NULL without any mergeSchema footer sweep (q261); copy-on-write RANGE REPLACE (q258) is zone-map-surgical DML (only overlapping files rewrite, entry-identical carry-forward enforced structurally) while DELETION VECTORS (q259) are its merge-on-read complement — an arbitrary-predicate delete writes O(deleted rows) of (file,row_index) sidecar pairs through the same CAS, reads apply them as an anti-join on _metadata, compaction materializes them away; the batch ledger is per-writer watermarks (O(writers), the streaming-transaction contract, below-watermark no-ops logged loudly); vacuum honors keepGens retention + an in-flight grace window and keeps or checkpoints every retained generation's resolution closure — a generation either resolves completely or is gone completely, and a too-late readAt names the recorded retention policy (ManifestSpec drives every failpoint, all writer races incl. delete-vs-append, checksum/version/legacy parsing, surgical replace, DV crash/race/materialization, schema evolution, and the retention ladder; ManifestFuzzSpec drives 220 seeded random schedules through the incremental log); the log also serves a row-level CHANGE DATA FEED (q262): changes(from,to) emits each commit's inserted/deleted rows tagged (_change_type, _commit_gen) in O(changed files + deleted rows) — delta records name their own actions, compactions carry rewrite:true and emit nothing (the dataChange=false discipline), a replayed feed reconstructs the final state exactly (also pinned as the fuzz's closing invariant over all 220 schedules); changesSince(lastGen) gives consumers the poll/high-water-mark contract for exactly-once downstream consumption, and history() serves the DESCRIBE-HISTORY catalog from the log's metadata alone; scripts/manifest_interop.py + ManifestInteropSpec prove the log is ENGINE-AGNOSTIC — an independent Python+DuckDB reader resolves the same checkpoint+delta chain, prunes by zone maps, applies deletion vectors via file_row_number, reads evolved schemas via union_by_name, and serves byte-identical rows incl. pinned pre-delete generations; round 13 completes the WRITE side: MERGE INTO through the manifest (q263) — the upsert verb as ONE atomic delta commit (matched old versions DV-deleted + updates/inserts appended; race matrix vs append/delete/compaction spec-pinned, a merge op added to the fuzz schedules, the feed sees delete+insert at one generation), deletion vectors COMPRESSED to delta-varint position lists (~1 B/row before page compression, measured 100k deleted rows in tens of KB vs the row-per-position format's MBs, legacy sidecars still read, the Python reader decodes the same codec), the published corpus (q97/q130) served THROUGH the manifest (readPartitions plans a per-language read by entry-prefix arithmetic — no directory listing — and DPP still injects its runtime partition filter into the manifest-planned scan, PlanSpec-pinned), and the change feed bootstraps from zero (changesSince(0) emits generation 1 as inserts); schema evolution gains TYPE WIDENING (q264): int→long / float→double on append is a metadata commit — readers plan all files with the wide type and the narrow pre-widening files upcast inside the vectorized scan (generation-pinned reads keep their own narrow schema; narrower late batches upcast the same way; anything outside the lattice stays a loud conflict); and an exactly-once STREAMING CDC CONSUMER (streaming.ChangeFeedConsumer) mirrors manifest→manifest with the destination WATERMARK LEDGER as the transactional offset — data and offset are one merge commit, both crash seams + the foreachBatch epoch-replay restart proven in ChangeFeedConsumerSpec (the consume-direction twin of StreamingSpec's ingest proof); and TableSpec gains a CLUSTERED (bucketed) layout (q265): every commit hash-buckets its files on the declared bucket columns with Spark's own bucket function and the bucket-id name suffix, readBucketed serves the table as a bucketed relation (one construction-only seam into the private[sql] HadoopFsRelation+BucketSpec constructors, isolated in org.apache.spark.sql.graftshim), and a join of two same-bucketed manifest tables runs with ZERO join-side shuffle exchange — ManifestPlanSpec pins the exchange-free SortMergeJoin with broadcast disabled, ManifestSpec pins the layout surviving every DML verb + compaction with plain and bucketed reads agreeing; and Z-ORDER multi-dimensional clustering (q266): a maintenance rewrite by the Morton key of ALL declared stat columns (pure bitwise Column arithmetic, codegen, no UDF) makes EVERY dimension's zone maps skippable — readRangeOn serves a secondary-column band with planning-time file pruning, pre/post skip counts enforced structurally, the rewrite is protocol-wise a compaction (feed-silent rewrite:true, DVs materialized, ledger carried, CAS-loss redo), z-keys are RANGE-NORMALIZED per dimension off the manifest's own zone maps (naive interleaving puts every split on the widest column — measured and fixed), and bucketed tables refuse loudly (their hash IS the layout); compaction itself is now genuinely O(partition) per commit: compactPartitions rewrites only the named partitions' files as a rewrite-silent O(delta) record (the dataChange=false twin for deltas), every other partition entry-identical — fuzzed alongside the full flavor; the round-13 second wave makes the feed a FIRST-CLASS STREAMING SOURCE and columns FIRST-CLASS IDENTITIES: `spark.readStream.format(\"graft-cdc\")` (q268) serves the change feed with generation numbers as offsets — getOffset is one metadata read, each micro-batch is one changes() window (O(changed rows), plan-flat in window length), bootstrap serves generation 1 as inserts, the engine WAL + an epoch-keyed merge sink give end-to-end exactly-once through restarts (CdcSourceSpec), and mid-stream widening or rename fails the query loudly (the restart contract); BLOOM-FILTER POINT LOOKUPS (q267): TableSpec declares bloom columns, every commit writes parquet footer blooms (adaptively sized) through one shared staged-write path, and readPoints() prunes candidate files at PLANNING time with a cached may-contain test — the equality pruning zone maps cannot give on a column the layout scatters (mod-split batches, files sorted by another column), bloomSkipped>0 enforced structurally, no false negatives by construction; COLUMN RENAME BY FIELD ID (q269): publishBase stamps stable parquet field ids on every column, so renameColumn is ONE metadata record — zero data rewritten (entry-identical file list enforced), pre-rename files resolve by id inside the vectorized scan, pinned generations keep their own names, stat/bucket/bloom bindings follow in the same commit, a late batch on the old name becomes a brand-new column, the double-schema-evolution append race restages instead of binding one id to two columns, and legacy trees refuse until upgradeFieldIds' single rewrite; and TIMESTAMP AS OF (q270): generationAsOf/readAsOf resolve an instant to the newest commit at or before it from the records' publish mtimes (history() now carries per-commit timestamps), strictly refusing instants vacuumed past retention; undeclared-column renames commit as O(delta) records (only a stat/bucket/bloom-binding rename pays the full-record publish, ManifestSpec pins both kinds); and CHECK CONSTRAINTS (q271): the manifest holds a named constraint set (declared in TableSpec or ALTERed via addCheck/dropCheck — add validates the EXISTING table first), every data-landing verb (publish, append, replace, merge) enforces it in ONE O(batch) combined pass with SQL NULL semantics before anything writes, a violating batch lands NOTHING (batch-atomicity graded end to end), and renameColumn refuses to orphan a constraint that references the old name; and METADATA-ONLY AGGREGATION (q272): countRows answers COUNT(*) from the log alone (entry row counts minus DV deleted counts — zero I/O) and partitionCounts serves per-partition counts with the DV sidecars as the ONLY read (both-URI-form matching per the q262 lesson), graded against the honest full-scan oracle with the total structurally pinned to countRows — both counters semi-join DV pairs against LIVE files, because a partial rewrite (partition-scoped/small-file compaction, z-order) leaves stale pairs whose rows the new entries already exclude (found designing the small-file compactor, spec-pinned); and SMALL-FILE (bin-pack) COMPACTION: compactSmall folds ONLY sub-threshold files per partition into one O(delta) rewrite-silent commit — healthy files carry forward entry-identical, the rolling OPTIMIZE loop a streaming ingest needs (contrast full compact's O(table) every run), fuzzed as a third compaction flavor; and DROP COLUMN completes the DDL verb set (add-on-append, widen, rename, drop): one O(delta) record removes the column from the schema and TOMBSTONES its field id — no data touched, pinned generations keep serving it, and a REBORN name gets a FRESH id so the old files' orphaned values can never resurrect into the new column (the id-reuse hazard, spec-pinned); refuses the partition column, declared layout bindings, check-referenced columns, and id-less legacy trees",
      Seq("q249_ivfadc_manifest", "q255_manifest_zonemap", "q256_manifest_timetravel", "q258_manifest_replace",
        "q259_manifest_delete", "q260_manifest_corpus", "q261_manifest_schema", "q262_manifest_changes",
        "q263_manifest_merge", "q264_manifest_widen", "q265_manifest_bucketed",
        "q266_manifest_zorder", "q267_manifest_bloom", "q268_manifest_cdc_stream",
        "q269_manifest_rename", "q270_manifest_asof", "q271_manifest_checks",
        "q272_manifest_count", "q273_manifest_drop")),
    Row("L18", "OPQ-style learned rotation (ABTT + masked-fit Householder eigen-alignment): the residual class subspace rotated into ONE PQ subspace and requantized — recall STRICTLY above the q245 ABTT floor on the aniso corpus (0.83→0.86), with the honest no-lift twin on the near-isotropic fixture, the projection-vs-rotation negative (iterated deflation, 0.82 < 0.83: removing the direction loses what reflecting it gains), and the FULL OPQ ALTERNATION graded as a measured negative (q257: one codebook-aware rotation update — book, quantization error, masked fit, reflection, retrain — drops recall to 0.81 < 0.86 and deeper alternation bounces inside the drop, so the one-shot spectral alignment IS the rotation optimum on this corpus; AnisoSpec pins it strictly)",
      Seq("q250_aniso_align_recall", "q251_fixture_align_recall", "q252_aniso_topr_recall", "q257_aniso_opq_recall"))
  )

  /** Keys in the registry not claimed by any §2 row — the beyond-survey
    * extension surface, derived automatically so it can't go stale. */
  def extensionKeys: Seq[String] = {
    val mapped = rows.flatMap(_.keys).toSet
    QueryRegistry.all.map(_._1).filterNot(mapped)
  }

  private def oracleMark(key: String): String =
    QueryRegistry.all.find(_._1 == key) match {
      case Some((_, q)) if q.oracle.isDefined => key
      case Some(_) => s"$key (rows-only)"
      case None => s"$key (MISSING)"
    }

  /** The generated artifact (COVERAGE.md). Deterministic: pure function
    * of this object and the registry. */
  def render: String = {
    val sb = new StringBuilder
    sb ++= "# COVERAGE — generated; do not edit\n\n"
    sb ++= "Generated by `graft.Coverage.render` (regenerate via CoverageSpec or\n"
    sb ++= "`sbt \"runMain graft.CoverageMain\"`). CoverageSpec FAILS if this file\n"
    sb ++= "does not match the code, so these claims cannot drift from the registry.\n"
    sb ++= "A key without a suffix has a full DuckDB oracle row; `(rows-only)` means\n"
    sb ++= "the query is declared without an oracle (engine-specific output).\n\n"
    sb ++= "## SURVEY §2 rows\n\n| Row | Operator | Queries |\n|---|---|---|\n"
    rows.foreach { r =>
      val ev = if (r.keys.nonEmpty) r.keys.map(oracleMark).mkString(", ") else s"_${r.note}_"
      sb ++= s"| ${r.id} | ${r.title} | $ev |\n"
    }
    sb ++= s"\n## Extension queries beyond §2 (${extensionKeys.size})\n\n"
    sb ++= extensionKeys.map(oracleMark).map("- " + _).mkString("", "\n", "\n")
    sb.toString
  }
}

/** Writes COVERAGE.md (same content CoverageSpec asserts). */
object CoverageMain {
  def main(args: Array[String]): Unit = {
    val target = if (args.nonEmpty) args(0) else "COVERAGE.md"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(target), Coverage.render)
    println(s"wrote $target")
  }
}
