package graft

import java.nio.file.{Files, Paths}

/** Dumps the executed (post-AQE) physical plans of the headline
  * queries to PLANS.md — the "explain and iterate" evidence trail:
  * pushdown, pruning, broadcast choices and exchange placement are
  * reviewable without re-running anything.
  *
  * Usage: sbt "runMain graft.Plans [sfDir] [outFile]"
  */
object Plans {
  private val headline = Seq(
    "q1_agg" -> "two-phase HashAggregate; scan reads only the 4 needed columns",
    "q2_join_agg" -> "fact-fact shuffle join after map-side projection",
    "q3_broadcast_join" -> "nation/region broadcast — customer side never shuffles",
    "q6_hour_bucket_join" -> "computed-key equi-join; tiny hourly side broadcast",
    "q7_sort_limit" -> "TakeOrderedAndProject — per-partition top-k, no total sort",
    "q22_shipping_priority" -> "3-way join; segment filter pushed to the customer scan",
    "x6_sim_topk" -> "single map pass + TakeOrdered(k); no shuffle of vectors",
    "x8_minhash_pairs" -> "sketch projection between exchanges; banded shuffle self-join",
    "x14_asof_join" -> "one shuffle by key, window carry-forward, no range explosion",
    "x18_dedup_keep_first" -> "min-id partial aggregate + semi-join; no single-partition window sort",
    "x22_embedding_near_dup" -> "banded signature shuffle self-join; bare id pairs through the distinct; r21: the vector rejoin broadcasts when the size gate proves the (id, vec) side small, shuffle-hash otherwise",
    "x23_batch_topk" -> "bounded query side broadcast; corpus scored map-side, per-query window top-k",
    "x25_vocab_topk" -> "explode → two-phase hash aggregate → TakeOrdered; Zipf skew neutralized by partial agg",
    "x27_sessions" -> "native session_window: one shuffle keyed (user, merged-window), map-side partial merge",
    "x31_bigram_logprob" -> "index-explode gram build materialized at an exchange; checkpointed table feeds model + scoring",
    "x32_tfidf_terms" -> "one tokenization pass; df joins shuffled (corpus-sized); WindowGroupLimit bounds the rank shuffle",
    "x34_semantic_dedup_lsh" -> "x22's banded LSH pairs feed CC label propagation (checkpoint-truncated rounds); survivors = one anti-join",
    "x35_containment_exact" -> "bounded-by-contract exact twin of x21: broadcast nested-loop over the bounded slice, streamed side re-spread",
    "x40_sequence_packing" -> "two-phase distributed prefix sum: range exchange + pinned layout + map-only offsets; no one-task window",
    "x42_text_dedup_fuzzy" -> "x8's banded minhash candidates -> Jaccard verify on candidates only -> CC rounds -> one anti-join",
    "x47_decontaminate_bloom" -> "train side is ONE map stage: might_contain folds over the in-row fingerprint array — no explode, no join, no exchange on the big side",
    "x125_paragraph_dedup" -> "map-only paragraph split; doc-frequency is a two-phase count-distinct keyed by the paragraph md5 (16 bytes shuffled, boilerplate only aggregates); survivors semi-join on the same key (exchange reuse); one doc-id shuffle rebuilds",
    "x126_intra_doc_dedup" -> "ENTIRELY in-row: split, first-occurrence filter and re-join are one codegen'd HOF projection — zero shuffle, zero state, rides the scan",
    "x128_knn_label_transfer" -> "seed set broadcast; corpus scored map-side; both rank<=k stages plan as WindowGroupLimit (map-side pre-prune) so the shuffle carries n*k slim rows, never n*|seeds|",
    "x129_perplexity_buckets" -> "x31's LM plan for scoring; tercile boundaries are one per-group percentile aggregate (|groups|*2 scalars broadcast back) — the corpus never reshuffles for the labeling",
    "x131_tokenizer_fertility" -> "group-level word counts (two-phase agg) shuffle-hash-join the model's bounded segmented vocab on the word key; the corpus token stream never re-folds",
    "x135_cdc_chunking" -> "native rolling-hash boundary expression materialized at an id exchange BEFORE the posexplode (Generate re-evaluation measured 46.5 s without it); the doc-count aggregate and the join probe both read that exchange (ReusedExchange on the bounds side — only the cheap md5 chunk expansion re-executes per consumer)",
    "x48_zorder" -> "Morton key is a single codegen'd projection over the scan; the layout op adds one rangepartitioning exchange",
    "x49_dedup_incremental" -> "store side banded map-only from persisted signatures (no text re-shingle); bucket joins shuffle-hash on (band,bucket)",
    "x50_pack_chunks" -> "slim prefix-sum frame + one shuffle join by id + one zero-skew aggregate by chunk; in-chunk order from per-group struct sort, never a global sort",
    "x60_source_overlap" -> "distinct (group, token) materialized once for three consumers; tokens travel as xxhash64 LONGS from the explode on (r20 opt — 8 bytes/token through the distinct and both self-join sides); shuffle-hash self-join on token (vocab never broadcast); |groups|-row totals broadcast back",
    "x61_winsorized_stats" -> "per-group quantile aggregate broadcast back onto the scan; clamp is map-only — the corpus side never shuffles",
    "x62_mixture_sample" -> "membership is a map-only integer filter over the scan; stratum counts + global min ride in via broadcast joins only",
    "x64_ivfpq_topk" -> "bounded query batch carries its per-query m*k ADC lookup table into the broadcast probe join; candidate scoring is a map-only zip_with fold; two windows bound refine and top-k",
    "x65_semdedup_clusters" -> "map-only Lloyd assignment (centroid literals ride the plan); within-cluster pairs via ONE shuffle-hash self-join on the cluster key; CC + anti-join tail shared with x34",
    "x66_interval_join" -> "session intervals explode into covered time bins; shuffle-hash equi-join on the bin, exact overlap + max-start-bin filter — no BroadcastNestedLoop, no distinct",
    "x67_image_near_dup" -> "pixel decode + dHash consumed map-only (16 bytes/row after), one reused exchange feeds both sides of the banded shuffle-hash bucket join, exact Hamming verifies",
    "x68_heavy_hitters" -> "typed Misra-Gries Aggregator reduces map-side (partial_misragries before the exchange): the SinglePartition shuffle carries one <=capacity-entry map per partition, never the token stream",
    "x74_weighted_sample" -> "A-ES priorities are a map-only projection over the scan; the weighted top-k plans as TakeOrderedAndProject — per-partition heads, never a global sort",
    "x75_mixture_schedule" -> "one window shuffle keyed by source (rank within source), counts broadcast back; the interleave key is computed map-side — the global order never materializes",
    "x76_bm25_topk" -> "tf/dl reduced map-side; score join shuffle-hash on id over ONLY docs holding a query term; |Q|-row df + single-row corpus stats broadcast; top-k plans as TakeOrdered (x78's per-round plan is checkpoint-truncated by design — see Graph.pageRank scaladoc)",
    "x77_token_budget" -> "one window shuffle on the group key carrying only the narrow (id, priority, tokens) columns; the budget cut is a map-side filter after the running sum",
    "x80_char_entropy" -> "entropy computed INSIDE the row by the native char_entropy expression (r20 opt: one O(chars) codegen'd pass replaced the interpreted per-distinct-char HOF fold — ~20x CPU, CharEntropySpec pins bit-equality); no exchange; the carrier re-spreads an under-split scan first or the whole pass lands on one task",
    "x82_collocations" -> "ONE tokenize/explode scan -> (token, successor-or-NULL) pair counts checkpointed; unigram counts are its w1-marginal, bigram counts its non-NULL slice, totals re-aggregate from the count tables; vocab joins shuffle-hash on the word key (never broadcast); only the two single-row totals broadcast; top-k is TakeOrdered",
    "x84_distinctive_terms" -> "one tokenize/explode pass; term totals, group totals and |V| re-aggregate from the (group,term) counts table — the corpus is never re-scanned; WindowGroupLimit bounds the per-group rank",
    "x85_cohort_retention" -> "activity reduced to distinct (user, week) in one exchange; cohort table rejoins shuffle-hash on the user key; |cohorts|-row sizes broadcast back",
    "x93_source_cap" -> "one hash shuffle on the group key; rank<=k plans as WindowGroupLimit — each map task pre-prunes to its local top-k before the exchange",
    "x94_dsir_weights" -> "bigramLogprob's shape: one index-explode gram pass at an exchange; <=B-row bucket models broadcast; scoring join + per-doc sorted fold — corpus text never shuffles",
    "x95_contamination_verify" -> "bounded eval side broadcast; Levenshtein projection evaluated only AFTER the shared-trigram filter (O(len^2) per pair, never all-pairs)",
    "x96_segment_dedup" -> "segment winners via map-side-combinable min(struct) agg whose min row IS the kept row — no join back (r10: the former join re-exchanged both sides on three keys); rebuild is one shuffle on doc id — two shuffles total",
    "x97_quality_classifier" -> "one feature-build pass at an exchange; each GD round = broadcast(<=B-row w) join + per-doc fold + per-bucket fold; corpus text never shuffles, model state is kilobytes",
    "x98_cluster_split" -> "CC labels join the corpus (left, build side = |clustered docs| only); split hash is a map-only projection",
    "x100_curation_capped" -> "four audited stage shapes chained: keep-first semi-join, segment winner agg + rebuild, WindowGroupLimit cap, per-group budget window — no stage widens another's shuffle",
    "x101_key_skew" -> "two-phase count agg on the diagnosed key (hot keys collapse map-side) + single-row reduce over the |keys| table",
    "x102_column_profile" -> "one pruned single-column agg per profiled column, unioned — never a wide multi-distinct Expand",
    "x107_label_propagation" -> "Pregel shape: edges exchange once; each round re-shuffles only the (node,label) table through TWO map-side-combinable aggs (vote count then struct-max) — no collect_list, hub-safe; rounds checkpoint-truncated (flat per-round plan by design)",
    "x108_random_projection" -> "map-only: the whole JL projection is one codegen'd transform/aggregate projection over the scan — zero exchanges (0.0 MB shuffle measured)",
    "x110_pca_power_iteration" -> "matrix-free C·w: component explode materialized once (localCheckpoint) feeds mean + 2x(y,z) rounds; <=64-row weight frames broadcast-join; the d-scalar normalize is driver-side — no d×d covariance anywhere",
    "x113_hard_negatives_lsh" -> "banded signature shuffle self-join with the cross-label filter BEFORE the rank; bare id pairs through the distinct; r21 size-gated vector rejoin (broadcast when provably small, shuffle-hash at scale)",
    "x114_canonical_selection" -> "cluster labels left-join on the id; keep-best rank<=1 plans as WindowGroupLimit on the cluster-label shuffle — map tasks pre-prune to their local best",
    "x116_upsample_mixture" -> "pure map + bounded explode: per-stratum (base, threshold) literals ride the plan; membership is an integer compare on the Knuth id-hash — no shuffle, no RNG state",
    "x117_epoch_shuffle" -> "two-phase global rank: bucket counts collected once (<=parts rows), offsets broadcast-join, per-bucket dense rank windows on the bucket shuffle — no global sort, no single-partition window",
    "x119_padding_stats" -> "one map pass + one map-side-combinable agg on <=maxSeqLen/bucketSize bucket keys — profiling cost independent of corpus size",
    "x147_entity_resolution" -> "token-blocked equi-join (shuffle-partitioned by token, no cross join); per-side token-df window reuses the blocking exchange; one levenshtein per DISTINCT pair; per-probe best plans as WindowGroupLimit",
    "x148_bloom_join" -> "might_contain probe sits ON the lineitem scan (upstream of the join exchange) — only Bloom survivors shuffle; the filter build is one distributed aggregate over the small side",
    "x149_scd2_history" -> "ONE exchange on the entity key; the lag filter, version row_number and valid_to lead are consecutive Window nodes over the same sort — no second shuffle",
    "x150_rollup_report" -> "grouping sets = one Expand over one scan feeding one two-phase aggregate — not three unioned queries",
    "x154_bucketed_batches" -> "one exchange on the length bucket; the (bucket, batch) aggregate is partial-aggregated on the window's own partitioning",
    "x155_touch_attribution" -> "all four ignore-nulls carries + the conversion filter ride ONE user-keyed window sort; no join back to the touch stream",
    "x161_prefix_filter_join" -> "EXACT similarity self-join, no sketch: identical gram sets collapse to one representative first (checkpointed groups; exact copies free), the checkpointed rep shingle table feeds df-count and sorted collect; prefix explode joins shuffle-hash on the shingle; bare id pairs through the distinct; one checkpointed-array rejoin verifies; member expansion rebuilds doc pairs — no nested loop anywhere",
    "x162_burstiness" -> "one exchange on the user key; the gap lag window and the per-user aggregate share its sort/partitioning",
    "x164_dimension_stats" -> "one posexplode + one dim-keyed two-phase aggregate; |dims| rows out regardless of corpus size",
    "x165_session_paths" -> "lag flag + running session-id share one user exchange; the per-session collect groups on (user, sid) — a superset of that partitioning, no second shuffle; top-k is TakeOrdered",
    "x166_classifier_auc" -> "one map-side-combinable (group, score) count; rank window over DISTINCT scores only; per-group reduce — the corpus never sorts",
    "x167_hits" -> "Pregel shape (the x78 exchange pattern doubled): edges persisted once per join side; each half-round re-shuffles only the (node, score) table; the L1 normalizer is a single-row broadcast; rounds checkpoint-truncated",
    "x168_kfold_assign" -> "two-phase stratified rank: (stratum, bucket) counts collected once (bounded), offsets broadcast-join, per-(stratum,bucket) rank windows on that shuffle — no stratum ever sorts on one task",
    "x169_kneser_ney" -> "ONE tokenize/explode scan into ONE map-side-combinable (w1,w2) count, checkpointed; all three marginals re-aggregate from it (vocab²-bounded); marginal joins shuffle-hash on the word key; only the single-row total broadcasts; top-k is TakeOrdered",
    "x170_volume_trend" -> "one map-side-combinable (type, day) count, then a |types|-row exact-integer moment aggregate; the min-day single row broadcasts — no windows, no sorts",
    "x171_retrieval_eval" -> "x23's broadcast-query scoring; self-exclusion re-rank as WindowGroupLimit-bounded per-query windows; the metric pass is ONE bounded aggregate with literal discount weights riding the plan",
    "x172_triangle_stats" -> "degree-ordered orientation (hubs orient inward — wedge cost bounded); wedge and closing-edge joins shuffle-hash on apex/(x,y); per-node explode ships 3 rows per triangle; integer-only until the final division",
    "x173_branching_entropy" -> "rides x169's checkpointed wordBigramCounts pass; one w1-keyed aggregate over the vocab²-bounded type table; top-k is TakeOrdered",
    "x174_chi_square" -> "ONE (a,b) count is the only corpus-sized stage; marginals re-aggregate from the cell table and broadcast back onto it with null-safe keys",
    "x175_audience_overlap" -> "one distinct (type,user) exchange feeds both sides (checkpointed); shuffle-hash self-join on the user key; |types|-row totals broadcast back",
    "x176_audience_overlap_hll" -> "ONE aggregation pass to kilobyte HLL sketches; the pair matrix is a broadcast |types|² cross with hll_union inclusion–exclusion — the corpus is scanned once and never joined",
    "x177_markov_attribution" -> "per-user journey window (one user-key exchange, narrow columns) + |states|²-bounded transition count are the only corpus stages; all (1+|channels|)×iters absorption rounds run on the tiny checkpointed matrix with auto-broadcast joins",
    "x178_isotonic_calibration" -> "ONE corpus-sized bucket count; the whole minimax PAV build (segments, per-anchor min, max) runs on the ≤bins-row checkpointed table",
    "x179_bootstrap_ci" -> "reps-way map-only explode (the multiplier is arithmetic — no shuffle to draw it); ONE map-side-combinable (group, rep) aggregate carrying two BIGINT partial sums; quantile cut on the |groups|-row fold",
    "x180_golden_record" -> "one group-key shuffle for the core aggregate; each modal column a two-phase count (hot values collapse map-side) + a max-count filter join — no windows, no collects",
    "x181_episode_support" -> "one user-key window exchange builds sessions; the pair join is shuffle-hash on (user, session) with per-session work capped at maxEvents²; the per-session DISTINCT collapses votes before the |types|²-bounded count",
    "x182_corpus_datasheet" -> "the whole datasheet is ONE grouped aggregate over ONE scan (count, sums, exact distinct, interpolated median) — no joins anywhere",
    "x183_psi_drift" -> "one bounded quantile collect on the reference; each slice is a map-only boundary compare + combinable bin count; bins-row frames broadcast",
    "x184_covariance_matrix" -> "one in-row upper-triangle pair explode into one combinable (i,j) aggregate; per-dim moments ride a posexplode; the d-row diag rejoins broadcast — the corpus shuffles moment partials, never vectors",
    "x185_kn_logprob" -> "model marginals re-aggregate from the checkpointed train-pass count; scoring is one tokenize/explode + three LEFT shuffle-hash joins against the vocab²-bounded model (never broadcast); one doc-keyed fold ends it",
    "x186_source_concentration" -> "one map-side-combinable (group, source) count; the HHI/Gini fold runs on ≤|sources| values per group — |groups| rows out",
    "x187_association_rules" -> "x175's distinct + shuffle-hash user self-join; both rule orientations come from the one |types|²-bounded pair count; totals broadcast",
    "x188_robust_trend" -> "one combinable (type, day) count; the pair join and both median collects are days²-bounded per type behind the loud maxDays guard",
    "x189_mutual_information" -> "the chi-square shape: ONE (a,b) cell count, marginals re-aggregate from it, keyed sorted folds reduce to a single row",
    "x190_temporal_folds" -> "one single-row min/max broadcast + a map-only integer fold projection; the k-row cumulative window is bounded by construction",
    "x191_evasion_audit" -> "one map pass computing both fingerprints per row; one combinable grouped aggregate with two two-phase exact distincts",
    "x192_curation_v2" -> "four audited stages chained: skeleton-fingerprint keep-first (r21: winner-id semi-join, ONE fingerprint pass), KN scoring joins (vocab²-bounded model, one single-row cross), threshold filter, two-phase kfold rank + final combinable aggregate — no stage widens another's shuffle",
    "x193_stickiness" -> "one checkpointed distinct (day,user) feeds the daily count AND the x90 window expansion; the bounded day list broadcasts into the range join",
    "x194_char_window_dedup" -> "x96's shape at char granularity: window winners via map-side-combinable min(struct(id, idx, seg)) agg keyed by md5(window) — the min row IS the kept row, no join back (r10); rebuild is one shuffle on doc id — two shuffles total",
    "x195_keyword_screen_auto" -> "the Aho–Corasick probe is ONE codegen'd projection riding the scan (automaton literal in the plan); the per-source flag/total rollup is one two-phase aggregate — no joins, no explode",
    "x196_phrase_screen" -> "four phrase automata in one projection over the scan; per-source aggregate FIRST, category melt on the |sources|-row result (the Generate never re-evaluates the automata)",
    "x197_anchor_window_dedup" -> "anchor scan (native rolling-hash expression) materialized at an id exchange BEFORE the Generate; winner agg and attribution join move only (id, pos, md5) rows on the uniform 128-bit key — window text never shuffles; the per-row winner verdict is a projection, so Catalyst has no filter to fold into the join keys",
    "x198_anchor_window_removal" -> "shared localCheckpointed (id, pos, md5) anchor stream; BOTH joins shuffle-hash with the deduplicated side (winners / dup-doc spans) as build; span merge is ONE groupBy(id) codegen'd sorted fold — the gaps-and-islands Window lives only in the oracle (PlanSpec-pinned: no Window node, BuildRight on both joins)",
    "x199_anchor_doc_dedup" -> "x197's profile plan head; the doc drop is one LEFT ANTI shuffle-hash join whose build side is the flagged-id list only — survivors stream through untouched with all columns",
    "x200_anchor_curation" -> "cleaned frame localCheckpointed ONCE for its two consumers (repetition gate + packing — the PERF.md re-execution rule); each stage keeps its audited shape: x198's fold-merge joins, x38's two-phase token aggregates, x40's two-phase distributed prefix sum",
    "x208_persisted_store_roundtrip" -> "store round-trip/append/compaction sections, each provably READING its reloaded parquet (PlanSpec pins >= 7 graft_stores FileScans); every probe join is broadcast/shuffle-hash on ids — the stores themselves are KB-scale artifacts",
    "x209_incremental_intake" -> "day-2 admission: batch digests checkpointed once feed the UNHINTED ledger join (AQE broadcasts the tiny batch side; the ledger streams) + min-id keeper agg; flagged checkpoint-materialized for its two consumers; survivors scored through ONE broadcast join of the <=64-row loaded weight table — corpus text is never rescanned",
    "x210_incremental_intake_day3" -> "3-day ledger lifecycle: day-2 flag/admit + appendToDigestStore (anti-joined batch-sized append, localCheckpointed before the write so the ledger read settles first), then day-3 flags through the RELOADED appended ledger — both flag stages are the x209 shape (tiny checkpointed batch broadcast, ledger streams), corpus text scanned only at day-0 save",
    "x211_streaming_admission" -> "the carrier plan itself is just the settled parquet read + sort: all admission work ran inside foreachBatch (per micro-batch: checkpointed batch digests, UNHINTED ledger probe join — AQE broadcasts the batch, the ledger streams — output write THEN idempotent append; per-batch checkpoints released deterministically)",
    "x212_embedding_append_probe" -> "day-3 probe THROUGH the appended signature store: store-side banding is a map-only FileScan of the appended parquet (PlanSpec pins the x212_embsig scan); candidate join shuffle-hash on (band,chunk); bare id pairs through the distinct, vectors rejoin once per survivor",
    "x213_minhash_append_probe" -> "x212's shape for the text member, with EXACT verification: appended store banding is a map-only FileScan (PlanSpec pins the x213_minhash scan); bucket-coincident candidates checkpointed once for the corpus leftsemi + both verify branches; distinct-gram arrays build once per candidate DOC (leftsemi), never per pair side",
    "x214_compacted_ledger_probe" -> "x210's 3-day lifecycle with the monthly maintenance pass inserted: the append-fragmented ledger tree is rewritten blue/green (one round-robin exchange of 32-byte digest rows) and day 3 probes through the COMPACTED root (PlanSpec pins the x214_digests_compact scan + row-identity vs the fragmented tree)",
    "x215_streaming_neardup_admission" -> "x211's shape for the SKETCH member — the carrier plan is the settled parquet read + sort; per micro-batch inside foreachBatch: batch shingle+sign pass, map-only store-banding scan, exact gram-set verification on candidates only, batch-internal pairs REORIENTED to the min keeper, then output commit -> text append -> anti-joined signature append (replay-idempotent; admitted docs join BOTH stores before the next batch probes)",
    "x216_streaming_embedding_admission" -> "the trio's EMBEDDING member, same settled-read carrier plan; per micro-batch: batch hyperplane signing, map-only store-banding scan, exact cosine verification on candidates only, min-keeper reorientation + self-row filter, output commit -> vector append -> anti-joined signature append — admitted vectors join both stores before the next batch probes",
    "x217_store_erasure" -> "store-aware right-to-erasure lifecycle: every store rewrite is blue/green (corpus anti-join with the broadcast subject list riding the scan; ledger keeper re-election = one corpus md5 scan joined to the affected-hash slice; signature anti-join + verbatim meta); the audit is one counting scan per rewritten root, zero-filled by left join; re-intake probes the x209 shape through the rewritten ledger",
    "x218_streaming_neardup_midthreshold" -> "x215's settled-read carrier plan at threshold 0.7: identical per-micro-batch shape (batch shingle+sign, map-only store banding, exact verification on candidates only, reorientation + self-row filter, output-first commits) — only the greedy admitted SET differs, which is why it is rows-only")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` at `$sfDir` (post-AQE final plans).\n")
    headline.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // settle AQE with a driver-safe action on THIS QueryExecution:
      // toRdd executes the same AdaptiveSparkPlanExec whose final
      // plan we dump (foreachPartition/collect-free — a collect()
      // would pull whole query outputs driver-side at large scale
      // factors, and Dataset actions wrap a fresh QueryExecution
      // whose AQE settling wouldn't reach this one)
      df.queryExecution.toRdd.foreach(_ => ())
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
      // collapse huge binary literals (Bloom/CMS sketch bytes riding
      // the plan) so one constant can't eat the whole 6000-char budget
      val planTxt = df.queryExecution.executedPlan.toString
        .replaceAll("0x[0-9A-F]{48,}", "0x<sketch-bytes elided>")
      sb.append(planTxt.take(6000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote ${headline.size} plans to $out")
    spark.stop()
  }
}
