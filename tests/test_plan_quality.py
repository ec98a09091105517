"""Physical-plan regression tests: the scale contract, enforced.

Correctness tests prove a query returns the right rows at sf0.001; these
prove it would still be the right PLAN at 100 TB — filters reach the
parquet scan, dimensions broadcast instead of shuffling the fact, scans
read only the columns the query needs, and no query silently grows a
sort-merge join or an extra exchange. Bounds are pinned from the measured
plans (see git history); loosening one is a deliberate scale decision, not
a side effect.
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest
from conftest import job_ids_started

from amazon_climate_data_etl_spark.plans import inspect as I

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py"),
)
entry_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(entry_mod)

QUERIES = entry_mod.queries()


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    """Plan assertions must see each query's standalone plan: a shingle
    frame persisted by an earlier query would otherwise be substituted
    (CacheManager) into any later plan sharing the subtree, shifting the
    textual shuffle/scan counts these tests pin (semantics-preserving, but
    order-dependent)."""
    spark.catalog.clearCache()
    yield

# name -> (max shuffles, min broadcast joins)
_PLAN_BOUNDS = {
    # bucketed scans feed the SMJ with NO join exchange (the certified
    # property, see test_bucketed_join_no_join_exchange); the 2 are the
    # distinct-agg hash exchange + the output range sort
    "bucketed_join_revenue": (2, 0),
    # broadcast era dim into the partitioned fact; agg + output sort
    "dpp_pruned_join": (2, 1),
    # part + supplier-chain broadcasts into the fact; (part,supp) agg,
    # per-part min re-agg + partkey join-back (persisted frame reprints),
    # supplier re-attach broadcast + TakeOrdered
    "q2_min_cost_supplier": (7, 4),
    # supplier⋈nation broadcast (argmax-nation scalar inside), partkey
    # agg, scalar total broadcast back, sort
    "q11_important_stock": (8, 3),
    # HDR histogram (r7): map-side-combined bucket agg + flag-keyed
    # window (cum/total share one exchange) + final agg reuses it + sort
    "approx_quantiles_sketch": (3, 0),
    # one 5-moment agg per type + map-only slope arithmetic + sort
    "event_value_trend": (2, 0),
    # map + explode fan-out only; the 1 is the output sort
    "doc_chunk_plan": (1, 0),
    # one corpus pass into the directed-pair agg; everything after is
    # vocab²-bounded (persisted edge frame reprinted per consumer inflates
    # the TEXTUAL count: 3 sweeps × (outw join + inflow agg) + deg/top-k)
    "textrank_keywords": (48, 0),
    # degree-ordered orientation (r7): persisted edge AND oriented frames
    # reprint their pipelines per consumer in the textual plan (3 roles ×
    # (edge build + degree agg + 2 annotation joins)); real exchanges:
    # edge build + degree agg + 2 annotation joins + wedge join + closure
    # semi-join + node-count agg + scalar total + top-k sort
    "token_triangle_census": (110, 0),
    # persisted pair frame + vocab-bounded margin re-aggs broadcast back
    # + scalar total + TakeOrdered (textual reprints included)
    "pmi_collocations": (11, 2),
    # one user-keyed lead() window + pair agg + tiny margin broadcast + sort
    "event_transition_matrix": (6, 1),
    # broadcast-dim daily join + (mun,year,month) agg; mun×12 climatology
    # re-agg broadcast back; map-only z/flag + sort
    "climate_precip_anomaly": (6, 2),
    # daily-peak agg + one mun-keyed islands window + run agg + sort
    "climate_heatwave_runs": (4, 1),
    # one (user,type)-keyed lag window + per-type agg + sort
    "event_interarrival_stats": (3, 0),
    # per-source max agg broadcast back + one output agg + sort
    "quality_weighted_sample": (3, 1),
    # per-source mass agg + two dim-sized rank windows + 1-row reduction
    "source_concentration_gini": (2, 0),
    # term-count agg + vocab-bounded rank window + 1-row moment reduction
    "zipf_law_fit": (3, 0),
    # keep_corpus's label join + component-size agg + size histogram agg
    # + scalar total broadcast + sort
    "dedup_cluster_size_histogram": (9, 0),
    # audio-pruned map-only Arrow pass; AQE reshuffle + output sort
    "audio_energy_segments": (2, 0),
    # video-pruned map-only Arrow pass; AQE reshuffle + output sort
    "video_scene_changes": (2, 0),
    # spine: scan -> filter -> rebalance (under-split scan fan-out; no-op
    # at 100 TB) -> 2-phase agg -> sort
    "q1_pricing_summary": (3, 0),
    # 3 dims joined without shuffling lineitem on a key; +1 round-robin
    # rebalance of the under-split probe scan (no-op at 100 TB)
    "join_enrich_revenue": (3, 3),
    # filtered dim broadcast; fact stream joins without a key exchange
    # (+1 probe rebalance, no-op at 100 TB)
    "q3_shipping_priority": (2, 2),
    # cell agg (1) + sort (1); probe join broadcast
    "grid_snap_join": (2, 1),
    # municipality dim broadcast into the daily fact; +1 exchange from the
    # grid-scan rebalance (synthetic_grid_daily; no-op at 100 TB)
    "climate_annual": (3, 1),
    "climate_monthly": (3, 1),
    "climate_rollup": (3, 1),
    # cross product aggregated map-side, never sorted; +1 exchange from the
    # probe-side rebalance (catalog.rebalance_for_compute)
    "nn_join_general": (3, 1),
    "semi_join_customers": (1, 1),
    "anti_join_customers": (1, 1),
    # band signatures shuffle on (band, sig), docs never pair across the
    # wire. r9: the persisted signature frame (collapse→shingle→sig runs
    # once, not per self-join side) prints its subtree per side in the
    # static plan — 2 × (collapse hash agg + rebalance + sig agg) — plus
    # the distinct agg and the final sort; the exact-collapse semi join
    # broadcasts the representative-id set at fixture scale (a doc_id
    # shuffle semi-join at 100 TB). r10: +2 for the LSH_BUCKET_CAP
    # window count on (band, sig), reprinted per self-join side
    "minhash_lsh_pairs": (10, 2),
    "exact_dedup": (2, 0),
    # 6-table chain: 3 dims broadcast; orderkey join + agg + sort bound the
    # exchanges (at dim scale the orderkey join broadcasts too)
    "q5_supplier_volume": (3, 3),
    # expand fans out map-side BEFORE the single agg shuffle; + final sort
    "cube_status_priority": (2, 0),
    # salt shuffle (key,salt) + final shuffle (key) + sort — and never more
    "salted_group_agg": (3, 0),
    # one window shuffle on o_custkey + final sort; no self-join
    "window_range_30d": (2, 0),
    # band dim broadcast (BNLJ, map over the rebalanced fact) + band agg
    # + sort
    "range_band_join": (3, 1),
    # user-keyed conditional-min agg + single-row global agg; no joins
    "user_funnel_conversion": (2, 0),
    # map-only array expressions after the scan rebalance; + output sort
    "doc_repetition_scores": (2, 0),
    # term agg w/ count-distinct (2-phase) + scalar N broadcast + top-k
    "tfidf_top_terms": (3, 1),
    # shingle rebalance + train-distinct agg + eval join on the shingle key
    # + doc agg + sort; train side broadcasts at dim scale
    "contamination_overlap": (5, 1),
    # source-partitioned window + seq agg; no global sort shuffle beyond it
    "pack_sequences": (2, 0),
    # lang-count agg broadcast back onto the scan + final lang agg + sort
    "stratified_sample_stats": (3, 1),
    # per-source agg (reused for the scalar total) + scalar broadcast + sort
    "source_mixture_plan": (4, 1),
    # one explode→(source,term) agg over the corpus, persisted; term/source/
    # corpus totals re-aggregate the cached frame (textual count reprints
    # the cached subtree's exchange once per consumer, cf. ngram_jaccard)
    "source_domain_divergence": (9, 3),
    # bucket equi-join candidates + two doc-keyed token joins + sort
    "semantic_lexical_neardup": (3, 3),
    # one explode→(doc,term) agg persisted; term totals + scalar broadcast
    # re-aggregate the cached frame (textual reprint per consumer)
    # same shape one order up: (doc,w1,w2) agg persisted; C(w1,w2)/C(w1)
    # re-aggregate the cached frame and join back broadcast-side
    # ONE persisted (doc,term) agg; vocab top-k + membership join both
    # re-derive from the cache (textual reprint per consumer) + doc agg
    "vocab_coverage": (5, 1),
    # returned plan is the final assignment (map over broadcast centroid
    # literals) + cluster agg + sort; iteration jobs run eagerly inside
    "kmeans_cluster_profile": (2, 0),
    # user-week distinct + first-week agg (broadcast back) + matrix agg +
    # cohort-size join + sort; textual count reprints the uw subtree
    "user_retention_cohorts": (6, 2),
    # ONE persisted (doc,term) agg; dl/tf/df/stats re-derive from the
    # cache (textual reprint per consumer); top-k is TakeOrdered
    "bm25_search": (9, 3),
    # one source-keyed window rank + per-source agg + sort
    "source_quota_cap": (2, 0),
    # one fingerprint-window shuffle + single-row conditional agg + stack
    "corpus_filter_funnel": (2, 0),
    # all predicates at the scan; single-row partial→final agg
    "q6_forecast_revenue": (1, 0),
    # ONE scan: multi-count-distinct Expand agg (2-phase) + map-only stack
    "table_quality_audit": (2, 0),
    # part dim broadcast; one global agg
    "q14_promo_revenue": (1, 1),
    # disjunctive predicate: per-side implications pushed to both scans
    # (asserted in test_q19_disjunction_pushdown); broadcast join + one agg
    "q19_disjunctive_revenue": (1, 1),
    # scalar-avg broadcast cross join + broadcast anti-join + group + sort
    "q22_lapsed_balances": (3, 2),
    # nation (and at fixture scale customer/orders) broadcast; custkey agg
    # + TakeOrdered top-20
    "q10_returned_items": (2, 1),
    # one orderkey lineitem agg; the selective big-order set broadcasts
    # into orders, customer joins broadcast-side; TakeOrdered top-10
    "q18_large_volume_customers": (2, 2),
    # --- full-coverage bounds (measured on the sf0.001 fixture; a higher
    # count appearing means the query silently grew an exchange) ---
    "ann_bruteforce_topk": (2, 1),
    # five ANN searches composed over one persisted encoder stream (their
    # window exchanges reprinted per branch, presentation sorts skipped);
    # the persisted truth set broadcasts into the tagged union
    "ann_recall_eval": (17, 9),
    # kernel rebalance + top-k window + final sort; the driver-built
    # probe relation broadcasts into the cell-assigned corpus
    "ann_ivf_topk": (3, 1),
    # PQ (r8): rebalance + slim shortlist window + rerank window + final
    # sort; the ≤Q·S shortlist (with query vecs) broadcasts back into the
    # corpus scan and the query set broadcasts onto the shortlist
    "ann_pq_topk": (4, 2),
    # IVF-PQ compose (r8): same rebalance + slim shortlist window +
    # rerank window + sort shape as PQ — cell pruning happens inside the
    # kernel against driver-held probes, adding no exchange
    "ann_ivfpq_topk": (4, 2),
    # bucket equi-join + (query,cand) pair dedup + per-query rank + sort
    "ann_lsh_topk": (3, 1),
    "approx_distinct_users": (3, 0),
    # merged bidirectional as-of (r9): the two union branches print the
    # shared user_id window exchange each + final sort; at runtime
    # ReuseExchange dedupes the window shuffle
    "asof_join_events": (3, 0),
    # bucketed time-range join (r9): (user, bucket)-keyed join + per-error
    # agg + final sort; the matched-agg side broadcasts back onto the
    # error stream at fixture scale (error-cardinality at any scale once
    # filtered, but left as a stats-driven decision)
    "range_join_events": (3, 1),
    # merged token budgeting (r7): rebalance + lang agg + sort
    "lang_token_profile": (3, 0),
    # merged CCNet ladder (r7): uni(7) + bi(7) chains share the final
    # sort; doc-keyed left join folds into the uni agg exchange
    "ngram_logprob_quality": (13, 2),
    "case_bucket_map": (1, 0),
    "climate_spot_check": (2, 1),  # +grid-scan rebalance
    "climate_state_metrics": (5, 1),  # +grid-scan rebalance
    # returned frame is sink-scan → count-distinct agg → sort; the enrich/
    # rollup/write stages ran eagerly inside the call (their own plan is the
    # climate_rollup one, bounded above)
    "climate_e2e": (3, 0),
    # cell agg + polygon-keyed agg + sort; bbox filter phase is a broadcast
    # NL join (pure map over the cell stream)
    "zonal_stats_polygons": (3, 1),
    # final labels are checkpointed, so the returned plan is scan+sort
    "dedup_components": (1, 0),
    # checkpointed labels ⋈ corpus ids (shuffle join, see _SMJ_EXEMPT) + sort
    "neardup_keep_corpus": (3, 0),
    # keep_corpus's label join + ONE component-keyed argmax window + sort
    "neardup_keep_best_quality": (4, 0),
    # persisted (source, shingle) frame: distinct + shingle-keyed self-join
    # + pair agg + 2 tiny total broadcasts + sort (textual reprints incl.)
    "source_overlap_matrix": (12, 2),
    # r13 merge (embedding_covariance + embedding_top_component): ONE
    # gram-kernel pass (persisted partials, the subtree reprinted per
    # consumer) feeding the covariance join (2 tiny coordinate
    # broadcasts) AND the smax-broadcast + single-task power kernel; the
    # textual count is the sum of the predecessors' bounds (4,2)+(5,1)
    # because the shared persisted subtree prints in both branches
    "embedding_spectrum_profile": (9, 3),
    # corpus ⋈ Lloyd assignment on vec_id (shuffle join, see _SMJ_EXEMPT)
    # + cluster-keyed pair join + dup_of agg + keep left-join + sort;
    # r9 adds the exact-embedding collapse (one persisted groupBy; its
    # subtree prints per consumer), the broadcast cluster-size join for
    # the SEM_CLUSTER_CAP sub-cell split, and the Arrow pair kernel
    # (one applyInPandas exchange on (cluster, sub-cell) replaces the
    # former two-sided cell self-join)
    "semantic_dedup_keep": (8, 2),
    # delta probes corpus fp + (band,sig) indexes, Jaccard verify over the
    # persisted shingle frame, per-delta best window, verdict assembly;
    # r9 adds the corpus-side exact-collapse agg + semi join (the
    # |delta|·|copies| template-bucket guard, bit-identical output);
    # r10 re-keys it byte-exact and moves it BEFORE shingling (+1: the
    # collapse agg now sits inside the persisted shingle subtree)
    "incremental_dedup": (11, 4),
    "distinct_counts": (3, 0),
    # merged fingerprint family (r7): 2 rebalances + simhash doc agg
    # + sort; the doc-keyed join broadcasts at fixture scale only
    "doc_fingerprint_profile": (4, 0),
    "doc_length_histogram": (2, 0),
    "doc_quality_scores": (1, 0),
    "doc_rolling_fingerprints": (2, 0),  # +Python-worker fan-out rebalance
    "embedding_cosine_neardup": (3, 1),
    "embedding_label_stats": (2, 0),
    "event_dedup_first": (2, 0),
    "filter_in_list": (1, 0),
    "filter_range_box": (1, 0),
    # the one sanctioned SortMergeJoin (see _SMJ_EXEMPT)
    "full_outer_order_profile": (3, 0),
    "gap_fill_daily_revenue": (4, 2),
    # merged set-op family (r7): two semi/anti branches + sort
    "setop_custkeys": (3, 1),
    "json_props_stats": (2, 0),
    "lang_id_confusion": (2, 0),
    "left_join_order_gaps": (2, 1),
    # merged multimodal chain (r12: media_feature_summary +
    # media_frame_pipeline under one rows-only registration). Media
    # synthesizes one split per core (the decode stages are compute-bound
    # Python); the persisted media subtree reprints textually per consumer
    # (features / frames / resize), and every exchange sits DOWNSTREAM of
    # the Python kernels carrying only per-item feature rows / short
    # per-stage aggregates, never the binary payloads
    "media_pipeline_profile": (10, 0),
    "minmax_range": (1, 0),
    "monthly_agg": (2, 0),
    "multikey_sort": (1, 0),
    # textual count includes the cached shingle AND signature subtrees
    # reprinted per consumer (see test_ngram_jaccard_single_corpus_pass);
    # r9 adds the exact-collapse hash agg + semi join inside the shingle
    # subtree (broadcast at fixture scale, doc_id shuffle at 100 TB);
    # r10 adds the LSH_BUCKET_CAP window count, reprinted per pair-join
    # side
    "ngram_jaccard_pairs": (14, 6),
    "nn_join_sorted_1d": (1, 0),
    "pivot_daily_activity": (3, 0),
    "quantiles": (1, 0),
    "rollup_year_month": (2, 0),
    # build side broadcasts at fixture scale; (3, 0) allows the salted
    # shuffle join this operator exists to demonstrate at skew scale
    "salted_skew_join": (3, 0),
    "session_windows": (2, 0),
    # rebalance + vote aggregate + widen, printed once per join side; at
    # runtime the second side reads the first's widen through
    # ReusedExchange (see test_simhash_tokenizes_documents_once)
    "simhash_near_pairs": (6, 1),
    "sliding_windows": (2, 0),
    # 3 measure branches each print the shared rebalanced-scan exchange +
    # their agg exchange textually (6); at runtime ReuseExchange dedupes
    # the scan shuffle, so the executed plan pays 4
    "summary_stats": (6, 0),
    "top_terms": (2, 0),
    # TakeOrderedAndProject: per-partition top-k, no sort shuffle
    "topk_orders": (0, 0),
    "tumbling_hourly": (2, 0),
    "union_all_parts": (2, 0),
    "unpivot_lineitem_measures": (3, 0),  # +pre-Expand rebalance
    "split_assignment": (1, 0),
    # merged frame-spec pair (r7): ONE window exchange + sort
    "window_frame_profile": (2, 0),
    "window_top1_per_group": (2, 0),
    # map-only regex detect/redact on the scan + tiny segment agg + sort
    "pii_redaction_stats": (2, 0),
    # one source-keyed window (rank + per-source count) + bucket agg + sort
    "ccnet_quality_buckets": (3, 0),
    # merged span family (r12: duplicate_span_stats + duplicate_spans_exact
    # under one doc-grain oracle). ONE persisted tokenize pass feeds both
    # halves + the spine; the textual count includes that cached subtree
    # reprinted per consumer. Shingle half: (doc,shingle) agg + shingle-DF
    # re-agg + shingle-keyed join-back + doc agg; extent half: (doc,pos,
    # hash) occurrence agg + hash-keyed join-back + doc-keyed island/extent
    # windows (one exchange, reused); assembly: two doc_id left joins +
    # sort. AQE broadcasts the freq sides at fixture scale only — min
    # stays 0, shingle/window universes grow with the corpus.
    "duplicate_span_profile": (12, 0),
    # two map-side-counted scans unioned + tiny slice agg + sort
    "tokenizer_fertility": (2, 0),
    # date-filtered orders broadcast into the semi-join + priority agg
    # + sort (at scale the semi-join shuffles on orderkey; bound holds)
    "q4_priority_late_ship": (3, 1),
    # custkey left-join + per-customer agg + distribution agg + sort
    "q13_order_count_distribution": (4, 1),
    # suppkey agg (+its 1-row max reprint) + scalar broadcast + dim join
    "q15_top_supplier": (6, 2),
    # brand dim broadcast into the fact; per-part agg broadcast back;
    # single-row global agg
    "q17_small_quantity_revenue": (5, 3),
    # orderkey agg joined back to the fact + (order,supp) distinct +
    # supplier agg + dim broadcast + TakeOrdered
    "q21_blocking_supplier": (6, 2),
    # (type, day) count agg; per-type moments re-agg broadcast back;
    # map-only z/flag + sort
    "daily_volume_anomalies": (5, 1),
    # one map-side-combined max_by agg + output sort; no window over the log
    "latest_event_per_user": (2, 0),
    # one segment-keyed window pass (pr/cd/ntile/decile share the sort) + sort
    "window_rank_profile": (2, 0),
    # banded dHash candidates: band equi-join (broadcasts at fixture
    # scale; min stays 0 — the band universe grows with the corpus) +
    # pair distinct + sort; hashes persisted so decode runs once
    "image_phash_neardup": (4, 0),
    # orderkey + custkey fact exchanges + agg + sort (customer/orders
    # broadcast at fixture scale only); nation roles + supplier hinted
    "q7_volume_shipping": (4, 3),
    # same fact spine as q7 plus part/region/nation dims; year agg + sort
    "q8_market_share": (4, 4),
    # part+supplier+nation broadcast into the fact, orderkey exchange,
    # (nation, year) agg + sort
    "q9_product_profit": (4, 3),
    # persisted (part,supp) qty agg reprinted per consumer (textual),
    # per-part re-agg + partkey join-back + distinct + semi-join + sort
    "q20_dominant_suppliers": (9, 1),
    # orderkey equi-join with the non-equi lateness filter + 2-group agg
    "q12_priority_by_linestatus": (3, 0),
    # pair distinct + class count-distinct agg + sort; complaint anti-join
    # and part dim broadcast
    "q16_supplier_part_counts": (4, 2),
    # symmetric-delete variant equi-join (broadcast at fixture scale) +
    # pair distinct + final sort — never a cartesian/BNLJ (asserted in
    # test_fuzzy_join_candidates_equi_only). The +1 over the r10 landing
    # bound is the keyed pre-explode fan-out (one exchange per self-join
    # side at fixture scale, absent at 100 TB where the scan is
    # well-split and rebalance_for_compute no-ops): the interpreted
    # variant lambda otherwise runs single-task (3.4 s of 4.6 s wall)
    "fuzzy_join_names": (3, 1),
    # markup synthesis + extraction are one map-only codegen stage; the 2
    # are the heavy-regex scan rebalance (no-op at 100 TB) + output sort
    "html_boilerplate_extract": (2, 0),
    # the READ plan: binaryFile → one task per .warc.gz segment → map-only
    # decode/extract/scrub (persisted branch point); the 2 are the
    # fingerprint group agg + join-back (AQE broadcasts the group table
    # at fixture scale; at crawl scale it's a skew-splittable shuffle
    # join — a WINDOW over the fingerprint would trap a mega-dup group
    # in one partition) + output sort. The WRITE is a separate job
    # (file_seq shuffle into executor-side file writes) that runs before
    # this plan exists.
    "crawl_e2e": (2, 0),
    # the WAT sibling: binaryFile → one task per segment → map-only
    # metadata decode + from_json (the persisted branch point); the 2 are
    # the (source, lang) aggregate + output sort. The WRITE is a separate
    # pre-plan job, exactly as crawl_e2e
    "wat_metadata_profile": (2, 0),
    # the WET sibling: binaryFile → one task per segment → map-only
    # conversion decode + stats (the persisted frame); the 1 is the
    # output sort. Extraction happens at WRITE time inside the pre-plan
    # segment-write job, so the read plan is the leanest of the trio
    "wet_text_e2e": (1, 0),
    # the 40-replace merge chain is one map-only codegen stage; same
    # rebalance + sort pair as html_boilerplate_extract
    "bpe_tokenize_profile": (2, 0),
    # plant + detect + redact are one map-only codegen stage; same
    # rebalance + sort pair
    "pii_scrub_docs": (2, 0),
    # r14 merge of corpus_merge_upsert + corpus_snapshot_diff: ONE
    # persisted fingerprint pass (scan + 3 md5s, no exchange) feeds both
    # full-outer doc_id joins (2 exchanges each — the lakehouse-MERGE
    # shuffle floor, unchanged from the predecessors) + the union's
    # output sort; the wide text column never rides an exchange
    "corpus_cdc_profile": (5, 0),
    # runtime bloom-filter certificate: shuffle equi-join (2) + brand agg
    # + output sort + the bloom subquery's own partial/final exchange;
    # the bloom injection itself is pinned in test_bloom_filter_pruning
    "bloom_pruned_join": (5, 0),
    # two version-pinned snapshot scans → (version, source)-grain aggs
    # (1 exchange each) + the union's output sort; the snapshot WRITES
    # happen before this plan (write_snapshot jobs, not exchanges here)
    "corpus_read_asof": (3, 0),
    # map-only regex canonicalization on the scan + domain-keyed agg +
    # the share windows over the DOMAIN-GRAIN frame (single-partition by
    # design — the domain universe is PSL-bounded, never corpus-sized) +
    # sort
    "url_domain_profile": (6, 0),
}

# every registered query must carry a plan bound (coverage is asserted so a
# new query cannot land without one)
_UNBOUNDED = set(QUERIES) - set(_PLAN_BOUNDS)


def test_plan_bounds_cover_all_queries():
    assert not _UNBOUNDED, f"queries missing plan bounds: {sorted(_UNBOUNDED)}"


@pytest.mark.parametrize("name", sorted(_PLAN_BOUNDS))
def test_shuffle_and_broadcast_bounds(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    plan = I.plan_string(df, "simple")
    max_shuffles, min_bcast = _PLAN_BOUNDS[name]
    assert I.shuffle_count(plan) <= max_shuffles, plan
    assert I.broadcast_join_count(plan) >= min_bcast, plan


# Full outer equi-joins cannot broadcast in Spark (both sides must be
# preserved, BroadcastHashJoin supports only one); the shuffle join is the
# correct plan at every scale, and both inputs are post-aggregation frames
# already hash-partitioned on the join key, so the join adds no exchange.
_SMJ_EXEMPT = {
    # errors ⋈ clicks on (user_id, time-bucket): both sides grow with the
    # event log (neither is a dim at scale), so the keyed shuffle join is
    # the correct 100 TB plan — same contract as the dedup label joins
    "range_join_events",
    # the SMJ is the point: both sides are bucketed on the join key so the
    # merge join runs exchange-free — a broadcast would hide exactly the
    # write-once co-location this query certifies
    "bucketed_join_revenue",
    "full_outer_order_profile",
    # corpus ⋈ component-labels on doc_id: neither side is a dim at scale
    # (labels grow with the corpus), so the doc_id-keyed shuffle join is
    # the correct 100 TB plan; the label side is checkpointed (no stats),
    # which also blocks the fixture-scale broadcast.
    "neardup_keep_corpus",
    # same corpus ⋈ component-labels join as neardup_keep_corpus
    "neardup_keep_best_quality",
    "dedup_cluster_size_histogram",
    # corpus ⋈ Lloyd-assignment on vec_id, then the within-cluster pair
    # self-join: neither side is dim-sized at scale (the assignment grows
    # with the corpus; the kernel output carries no stats), so the keyed
    # shuffle joins are the correct 100 TB plan — the same contract as
    # neardup_keep_corpus's label join.
    "semantic_dedup_keep",
    # (source, shingle) self-join on the shingle key: both sides are the
    # same persisted corpus-scale frame (no stats, and at scale neither
    # side is dim-sized) — the shingle-keyed shuffle join is the plan
    "source_overlap_matrix",
    # delta ⋈ corpus on fp / shingle-set joins on doc ids: both sides grow
    # with the data (the corpus index is never dim-sized), so the keyed
    # shuffle joins are the correct plan; the persisted shingle frame
    # carries no stats, which also blocks fixture-scale broadcasts.
    "incremental_dedup",
    # per-(part, supplier) pairs ⋈ per-part totals on partkey: both sides
    # re-aggregate the same persisted fact-derived frame (no stats, and
    # at scale the totals side is part-cardinality, not dim-sized), so
    # the partkey-keyed shuffle join is the correct plan.
    "q20_dominant_suppliers",
    # same min-per-part join-back shape as q20 (both sides part-cardinality)
    "q2_min_cost_supplier",
    # MERGE/diff full-outer joins on doc_id: full outers cannot broadcast
    # (both sides preserved), and both sides are corpus-scale by
    # construction — the keyed shuffle join is the correct plan
    "corpus_cdc_profile",
    # the bloom certificate MODELS the can't-broadcast case (a selective
    # dim too large to broadcast): broadcast is disabled on its cloned
    # session because a fixture-scale broadcast would erase exactly the
    # shuffle the runtime bloom filter exists to prune
    "bloom_pruned_join",
}


@pytest.mark.parametrize("name", sorted(set(QUERIES) - _SMJ_EXEMPT))
def test_no_sort_merge_join_at_dim_scale(spark, sf_dir, name):
    """Every join in the suite has a broadcastable side at test scale; a
    SortMergeJoin appearing means a broadcast hint was lost and the fact
    table would shuffle on the join key at 100 TB."""
    df = QUERIES[name](spark, sf_dir)
    assert I.sort_merge_join_count(df) == 0


def test_full_outer_join_reuses_agg_partitioning(spark, sf_dir):
    """The full-outer join's two exchanges belong to the aggregations; the
    join itself must piggyback on that partitioning (3 total incl. the
    final sort, never 4+)."""
    df = QUERIES["full_outer_order_profile"](spark, sf_dir)
    plan = I.plan_string(df, "simple")
    assert I.shuffle_count(plan) <= 3, plan


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = I.plan_string(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert any("l_shipdate" in p for p in I.pushed_filters(plan)), plan


def test_q1_column_pruning(spark, sf_dir):
    """Q1 touches 7 of lineitem's 16 columns; the scan must not read more
    (the reference gets this via file-per-variable layout, SURVEY.md §4)."""
    plan = I.plan_string(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert I.scanned_columns(plan) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }


def test_point_lookup_pushdown(spark, sf_dir):
    """The climate spot check (notebook cell 2 pattern) must push both
    equality predicates into the scan — at scale this is the difference
    between reading one row group and the whole table."""
    plan = I.plan_string(QUERIES["climate_spot_check"](spark, sf_dir))
    assert len(I.pushed_filters(plan)) >= 2, plan


def test_grid_snap_scan_pruned(spark, sf_dir):
    plan = I.plan_string(QUERIES["grid_snap_join"](spark, sf_dir))
    assert I.scanned_columns(plan) == {"value", "c_acctbal", "c_custkey"}


def test_filter_in_list_pushed(spark, sf_dir):
    plan = I.plan_string(QUERIES["filter_in_list"](spark, sf_dir))
    assert any("c_mktsegment" in p for p in I.pushed_filters(plan)), plan


def test_q12_q20_date_filters_pushed(spark, sf_dir):
    """The round-6 TPC-H additions with scan-level date predicates must
    push them to the lineitem parquet scan (q12's ship-year window; q20's
    1997 range), not evaluate them post-join."""
    plan = I.plan_string(QUERIES["q12_priority_by_linestatus"](spark, sf_dir))
    assert any("l_shipdate" in p for p in I.pushed_filters(plan)), plan
    plan = I.plan_string(QUERIES["q20_dominant_suppliers"](spark, sf_dir))
    assert any("l_shipdate" in p for p in I.pushed_filters(plan)), plan


def test_q8_dim_filters_pushed(spark, sf_dir):
    """q8's part-type and region predicates are dim-side and must reach
    their own scans (pruning the broadcast payload before it ships)."""
    plan = I.plan_string(QUERIES["q8_market_share"](spark, sf_dir))
    pushed = " ".join(I.pushed_filters(plan))
    assert "p_type" in pushed and "r_name" in pushed, plan


def test_bucketed_join_no_join_exchange(spark, sf_dir):
    """The bucketed-join query's contract: both scans consume the on-disk
    bucket distribution (Bucketed: true, all buckets selected) and the
    sort-merge join itself adds NO exchange — the only shuffles in the
    plan are the final aggregation + output sort, so at 100 TB the join
    cost is the merge, never a re-shuffle of either table."""
    plan = I.plan_string(QUERIES["bucketed_join_revenue"](spark, sf_dir), "simple")
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    # split at the join: no Exchange may appear below it
    below = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below, below


def _keyed_exchange_inputs(plan: str) -> list[str]:
    """The ``Input [...]`` schema line of every hash/range-partitioned
    Exchange in a formatted plan (RoundRobin rebalances excluded — they
    pre-date the kernel and legitimately carry vectors)."""
    import re

    blocks = re.split(r"\n\((\d+)\) ", plan)
    inputs = []
    for i in range(1, len(blocks) - 1, 2):
        body = blocks[i + 1]
        if not body.startswith("Exchange"):
            continue
        if "RoundRobinPartitioning" in body:
            continue
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", body)
        if m:
            inputs.append(m.group(1))
    return inputs


@pytest.mark.parametrize(
    "name", ["ann_pq_topk", "ann_ivfpq_topk", "ann_bruteforce_topk"]
)
def test_ann_topk_exchanges_carry_no_vectors(spark, sf_dir, name):
    """The round-7 review's PQ finding, pinned as a contract: after the
    scoring kernel, NO raw vector (array column) may cross a keyed
    exchange — the shortlist/top-k windows must receive only slim
    (query_id, cand_id, score) rows, with the exact-rerank vectors
    re-fetched map-side via broadcast. A violation means the N·Q
    candidate stream is carrying ~KB rows into per-query reducers again."""
    df = QUERIES[name](spark, sf_dir)
    plan = I.plan_string(df, "formatted")
    keyed = _keyed_exchange_inputs(plan)
    assert keyed, plan  # the windows/sort must exist
    for schema in keyed:
        assert "array<" not in schema, (schema, plan)


def test_dpp_partition_filter(spark, sf_dir):
    """dpp_pruned_join's contract: the year-partitioned fact scan carries a
    runtime ``dynamicpruningexpression`` PartitionFilter fed by the
    broadcast era dim — the scan reads only matching year directories, not
    the whole table (the TPC-DS date-dim pattern at 100 TB)."""
    plan = I.plan_string(QUERIES["dpp_pruned_join"](spark, sf_dir), "simple")
    assert "dynamicpruningexpression" in plan, plan


def test_bloom_filter_pruning(spark, sf_dir):
    """bloom_pruned_join's contract: InjectRuntimeFilter builds a bloom
    filter from the filtered part dim (``bloom_filter_agg`` subquery) and
    applies ``might_contain(xxhash64(l_partkey))`` on the FACT side below
    the join — row-level runtime pruning for the selective dim→fact join
    DPP can't prune (l_partkey is not a partition key). Non-matching fact
    rows drop before the join shuffle."""
    df = QUERIES["bloom_pruned_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan, plan
    # applied on the FACT side's join key (not the dim's)
    assert "might_contain" in plan, plan
    probe = plan[plan.index("might_contain"):][:250]
    assert "l_partkey" in probe, probe


def test_q19_disjunction_pushdown(spark, sf_dir):
    """The OR-of-ANDs predicate mixes columns from both join sides; each
    side's implied disjunction must still reach ITS parquet scan (the
    l_quantity band union on lineitem, the brand/size/type union on part)
    — at 100 TB the difference between scanning three narrow slices and
    post-filtering the whole join."""
    plan = I.plan_string(QUERIES["q19_disjunctive_revenue"](spark, sf_dir))
    pushed = " ".join(I.pushed_filters(plan))
    assert "l_quantity" in pushed, plan
    assert "p_brand" in pushed or "p_size" in pushed, plan


def test_ngram_jaccard_single_corpus_pass(spark, sf_dir):
    """ngram_jaccard_pairs must read the corpus through the shared persisted
    shingle frame: every consumer (the persisted-signature candidate side,
    both Jaccard-verify sides) reads InMemoryTableScan, and every corpus
    FileScan lives INSIDE the cached shingle subtree — one
    collapse→tokenize→shingle pass over the corpus, not three (Catalyst
    does not CSE across join branches)."""
    plan = I.plan_string(QUERIES["ngram_jaccard_pairs"](spark, sf_dir), "simple")
    cached_reads = plan.count("InMemoryTableScan")
    assert cached_reads >= 3, plan
    # explain prints each cached consumer's InMemoryRelation subtree; the
    # shingle relation's subtree contains exactly the exact-collapse pre-
    # pass's TWO corpus scans (fingerprint-agg branch + semi-join probe),
    # and no other relation scans parquet at all. A FileScan count above
    # 2-per-shingle-print means a branch bypassed the cache and re-scans
    # the corpus.
    # the relation print carries the consumer's aliases (sh / sh_a / sh_b)
    sh_prints = len(re.findall(r"InMemoryRelation \[[^\]]*\bsh(?:_[ab])?#", plan))
    assert sh_prints >= 1, plan
    assert plan.count("FileScan") == 2 * sh_prints, plan


def test_domain_divergence_single_corpus_pass(spark, sf_dir):
    """source_domain_divergence must derive term totals, per-source totals,
    and the corpus total from the persisted (source, term) frame — one
    explode pass over the corpus, not four. Every consumer reads
    InMemoryTableScan; a FileScan count above the InMemoryRelation count
    means a branch bypassed the cache and re-explodes the corpus."""
    plan = I.plan_string(QUERIES["source_domain_divergence"](spark, sf_dir), "simple")
    assert plan.count("InMemoryTableScan") >= 4, plan
    assert plan.count("FileScan") == plan.count("InMemoryRelation"), plan


def test_simhash_tokenizes_documents_once(spark, sf_dir):
    """Both sides of simhash_near_pairs' pair join read the same widened
    doc→print frame: in the final adaptive plan the corpus is scanned
    once, and the other join side reads that frame's exchange through
    ReusedExchange instead of tokenizing every document again. The
    session's shuffle partitions are its core count, as in every session:
    the widen must still spread pair production, whose stage is the
    query's last, over every core."""
    sc = spark.sparkContext
    width = sc.defaultParallelism
    df = QUERIES["simhash_near_pairs"](spark, sf_dir)
    last_job = max(job_ids_started(spark, df.collect))
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("documents.parquet") == 1, final
    assert "ReusedExchange" in final, final
    tracker = sc.statusTracker()
    last_stage = max(tracker.getJobInfo(last_job).stageIds)
    assert tracker.getStageInfo(last_stage).numTasks == width, final


def test_skew_salt_spreads_hot_keys(spark, sf_dir):
    """The skew salt must NOT be a function of any single low-cardinality
    column: a hot join key has to reach all N_SALT reducers. l_linenumber
    has only 7 distinct values, so a salt derived from it alone would cap
    every hot key's spread at ≤7 — here we assert each linenumber class
    fans out to the full salt range, i.e. the salt really mixes the
    row-local triple."""
    from pyspark.sql import functions as F

    from amazon_climate_data_etl_spark.catalog import load_table
    from amazon_climate_data_etl_spark.operators.joins import N_SALT, skew_salt_col

    li = load_table(spark, sf_dir, "lineitem")
    per_linenumber = (
        li.select("l_linenumber", skew_salt_col().alias("salt"))
        .groupBy("l_linenumber")
        .agg(F.countDistinct("salt").alias("n_salts"))
        .collect()
    )
    assert per_linenumber, "no lineitem rows"
    for row in per_linenumber:
        assert row["n_salts"] == N_SALT, (
            f"l_linenumber={row['l_linenumber']} reaches only "
            f"{row['n_salts']}/{N_SALT} salt buckets"
        )


def test_nn_join_sorted_1d_dim_cap(spark, sf_dir, monkeypatch):
    """The sorted-1D NN path collects the candidate dim driver-side; the
    cap must fail loudly when the dim exceeds it."""
    from amazon_climate_data_etl_spark.operators import joins

    monkeypatch.setattr(joins, "SORTED_1D_DIM_CAP", 3)
    with pytest.raises(ValueError, match="candidate dim"):
        joins.nn_join_sorted_1d(spark, sf_dir)


def test_salted_join_structural_contract_under_adversarial_skew(spark):
    """The salting rewrite's STRUCTURAL contract on a genuinely hot key
    (90% of fact rows share ONE join key), with AQE's automatic skew
    handling disabled so the manual technique itself is measured: the
    salted plan must (a) return identical results and (b) spread the hot
    key across reducers where the naive exchange piles it onto one.

    The wall-clock race (salted beats naive) is deliberately NOT asserted
    here (round 7, VERDICT r6 item 2): it is a timing measurement, and a
    timing measurement is only attributable to the plans on a quiesced
    machine — under suite-ambient or co-tenant load it flipped
    repeatedly, including below every loadavg threshold tried. It now
    lives in bench.py's isolated harness (the ``salted_race`` payload
    field), where quiescing is the harness's whole job; the structural
    spread asserted below is WHY the salted plan wins there."""
    from pyspark.sql import functions as F

    from amazon_climate_data_etl_spark.operators.joins import (
        N_SALT,
        adversarial_skew_frames,
        salted_equi_join,
    )

    fact, build = adversarial_skew_frames(spark)

    # (b) reducer spread: partition the fact by the naive key vs the
    # salted key pair and compare the largest reducer's share
    def max_share(df, *cols):
        sizes = (
            df.repartition(32, *cols)
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        total = sum(r["count"] for r in sizes)
        return max(r["count"] for r in sizes) / total

    salted = fact.withColumn(
        "salt", F.pmod(F.xxhash64("v"), F.lit(N_SALT)).cast("int")
    )
    assert max_share(fact, "k") > 0.85          # naive: one reducer drowns
    # salted: spread flat(ish) — per salt bucket 90%/N_SALT ≈ 5.6%, and a
    # 32-partition hash can co-locate a few buckets, so < 0.3 (vs 0.9+)
    assert max_share(salted, "k", "salt") < 0.3

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        # force a real shuffle join: broadcasting the build side would
        # sidestep the skew entirely (and is the right plan when it fits —
        # this test is about the case where it does not)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        naive = fact.join(build, fact["k"] == build["bk"]).groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("w").alias("s")
        )
        fast = salted_equi_join(fact, build, "k", "bk", ("v",)).groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("w").alias("s")
        )

        # (a) identical results — the wall-clock half of the old test
        # lives in bench.py's quiesced harness now (see docstring)
        assert naive.collect() == fast.collect()
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_fuzzy_join_candidates_equi_only(spark, sf_dir):
    """The bounded edit-distance join's candidates must come from the
    symmetric-delete variant EQUI-join — never a cartesian product or
    broadcast nested loop (the naive theta form is the oracle's job).
    Checked on the executed plan so an AQE re-plan can't hide one."""
    df = QUERIES["fuzzy_join_names"](spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
