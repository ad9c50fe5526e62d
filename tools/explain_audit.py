"""Physical-plan audit: assert the plans we WANT, not just plans that
pass. Writes PLANS.md with the verdict per query.

Checks per query (where applicable):
- filter pushdown reached the parquet scan (PushedFilters non-empty)
- column pruning (ReadSchema is a strict subset of the table schema)
- broadcast joins where a dim is joined to a fact
- whole-stage codegen covers the aggregation pipeline
- partial (map-side) aggregation before the shuffle
- exchange count (shuffle budget)

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

CHECKS = {
    "quality_classifier": {
        # the (feature, weight) model joins as a BROADCAST — the
        # operator's core scale claim (model never reshuffles corpus)
        "broadcast_model": r"BroadcastHashJoin",
        "partial_agg": r"partial_",
        "no_cartesian": "!CartesianProduct",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 3,
    },
    "quantize_embeddings": {
        # pass 1 is the ONLY shuffle (per-dim stats); pass 2 is a
        # broadcast of D rows + per-row array transform
        "partial_agg": r"partial_(min|max)",
        "no_cartesian": "!CartesianProduct",
        "max_exchanges": 1,
    },
    "semantic_dedup": {
        # within-cluster equi-join only — an all-pairs compare would
        # surface as CartesianProduct
        "no_cartesian": "!CartesianProduct",
        "partial_agg": r"partial_",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 5,
    },
    "lsh_eval": {
        "no_cartesian": "!CartesianProduct",
        "partial_agg": r"partial_",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 3,
    },
    "lpa_communities": {
        # per-iteration vote agg is map-side combinable; the argmax
        # is max_by, never a window sort
        "partial_agg": r"partial_",
        "no_cartesian": "!CartesianProduct",
        "no_window_sort": "!WindowExec",
    },
    "inverted_index": {
        # posting cap compiles to a per-token group limit (heap),
        # not a full sort of each term's postings
        "group_limit": r"WindowGroupLimit",
        "partial_agg": r"partial_count",
        "max_exchanges": 2,
    },
    "refinedweb_funnel": {
        # every per-row rule (5 Gopher metrics + C4 line transform)
        # in ONE projection; dedup stages see survivors only
        "no_cartesian": "!CartesianProduct",
        "partial_agg": r"partial_",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 9,
    },
    "span_stats": {
        # per-row aggregation over the span array: the parse UDF is
        # the only non-codegen stage, nothing shuffles
        "no_shuffle": "!Exchange hashpartitioning",
        "arrow_udf": r"ArrowEvalPython|BatchEvalPython",
        "max_exchanges": 0,
    },
    "c4_line_filter": {
        # per-row higher-order array exprs: fuses into the scan
        "no_shuffle": "!Exchange",
        "pruned_schema": ("ReadSchema", lambda s: "lang" not in s
                          and "source" not in s),
        "max_exchanges": 0,
    },
    "gopher_gate": {
        "no_shuffle": "!Exchange",
        "pruned_schema": ("ReadSchema", lambda s: "lang" not in s),
        "max_exchanges": 0,
    },
    "temperature_mix": {
        # ONE corpus shuffle (groupBy source); totals are 1-row
        # broadcasts (SinglePartition exchanges don't count)
        "partial_agg": r"partial_",
        "no_cartesian": "!CartesianProduct",
        "max_exchanges": 1,
    },
    "cdx_index": {
        # SURT/digest are projections; the only exchange is the
        # per-host shard window
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 1,
    },
    "corpus_drift": {
        # two term counts + one term-key join; totals broadcast
        "partial_agg": r"partial_count",
        "no_cartesian": "!CartesianProduct",
        "max_exchanges": 4,
    },
    "dsir_select": {
        # dim-row distribution tables must BROADCAST onto the
        # doc-feature counts — the corpus never shuffles for the model
        "broadcast_model": r"BroadcastHashJoin",
        "partial_agg": r"partial_",
        "no_cartesian": "!CartesianProduct",
        "max_exchanges": 5,
    },
    "pricing_summary": {
        "pushed_filter": r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate",
        "pruned_schema": ("ReadSchema", lambda s: "l_orderkey" not in s),
        "partial_agg": r"partial_(sum|count|avg)",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 1,
    },
    "segment_revenue": {
        "broadcast": r"BroadcastHashJoin",
        "partial_agg": r"partial_",
        "max_exchanges": 2,  # broadcast + final agg shuffle
    },
    "region_supplier_volume": {
        "broadcast": r"BroadcastHashJoin",
        "pruned_schema": ("ReadSchema", lambda s: "l_comment" not in s
                          and "l_returnflag" not in s),
        "max_exchanges": 2,
    },
    "dedup_exact": {
        "partial_agg": r"partial_",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 1,
    },
    "events_sessionize": {
        # lag window and groupBy share the user_id partitioning: ONE
        # shuffle total
        "max_exchanges": 1,
    },
    "events_json_rollup": {
        # get_json_object fuses into the scan projection; ONE
        # combinable groupBy
        "partial_agg": r"partial_",
        "max_exchanges": 1,
        "codegen": r"\*\(\d+\)",
    },
    "events_burst": {
        # groupBy(event_type, bucket) then window on event_type: the
        # keys differ, so two exchanges — but the window runs over
        # bucket-granularity rows, not the raw log
        "partial_agg": r"partial_",
        "max_exchanges": 2,
    },
    "source_dup_factor": {
        # two-level combinable agg: (source, fp) then source; the
        # fingerprint join is a projection-side compute, and the
        # second groupBy reuses the first's hash partitioning on the
        # source prefix only when keys align — budget 3 covers the
        # doc_id join + both rollups
        "partial_agg": r"partial_",
        "max_exchanges": 3,
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
    },
    "length_histogram": {
        # bucket is a pure projection; ONE combinable groupBy
        "partial_agg": r"partial_",
        "max_exchanges": 1,
        "codegen": r"\*\(\d+\)",
    },
    "embedding_norms": {
        # JVM-side array fold (no explode, no Python), ONE groupBy
        "partial_agg": r"partial_",
        "max_exchanges": 1,
        "no_python": r"!BatchEvalPython|ArrowEvalPython",
    },
    "streaming_admission": {
        # the audited plan is the post-stream rollup: parquet scan of
        # the admitted table + ONE combinable groupBy (the streaming
        # admission itself ran per-micro-batch, plan-shaped like the
        # engine's generation anti-join)
        "partial_agg": r"partial_",
        "max_exchanges": 1,
    },
    "streaming_window_counts": {
        # the audited plan is the memory-sink scan + projection; the
        # streaming agg itself ran incrementally in the state store
        "max_exchanges": 0,
    },
    "tokenizer_fertility": {
        # per-doc counts are pure projections; ONE groupBy after the
        # doc_id join (broadcast/shuffle per AQE)
        "partial_agg": r"partial_",
        "no_python": r"!BatchEvalPython|ArrowEvalPython",
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
    },
    "dup_cluster_sizes": {
        # two combinable groupBys over the component labels; candidate
        # pairing stays banded (no all-pairs)
        "partial_agg": r"partial_",
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
    },
    "host_counts": {
        "partial_agg": r"partial_count",
        "max_exchanges": 1,
    },
    "token_counts": {
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 0,  # pure projection
    },
    "tfidf_terms": {
        # idf (vocabulary-sized) joins back broadcast, never shuffling
        # the tf side for it; tf/df aggs are map-side combinable
        "broadcast": r"BroadcastHashJoin",
        "partial_agg": r"partial_count",
        # tf agg (AQE-reused by the df branch) + df agg + per-doc
        # window + a ONE-ROW SinglePartition exchange for the corpus
        # count — 3 data shuffles
        "max_exchanges": 4,
    },
    "source_mix": {
        # one-row corpus total joined back broadcast; per-source agg
        # is map-side combinable
        "broadcast": r"BroadcastNestedLoopJoin|BroadcastHashJoin",
        "partial_agg": r"partial_",
    },
    "token_budget_sample": {
        # per-source running totals must NOT use a per-source window
        # (one task per source = skew death); the two-phase plan
        # cumsums over the checkpoint-pinned range layout in an Arrow
        # pass (the rangepartitioning itself runs in the pinning job,
        # upstream of this plan's ExistingRDD scan)
        "pinned_layout": r"Scan ExistingRDD",
        "no_per_source_window": r"!Window \[",
        "arrow_cumsum": r"MapInPandas",
        "max_exchanges": 0,  # the final pass reuses the pinned layout
    },
    "decontaminate": {
        # the benchmark n-gram set must broadcast: the corpus-side
        # gram explode never shuffles raw grams for the overlap join
        "broadcast": r"BroadcastHashJoin",
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
        "partial_agg": r"partial_",
    },
    "top_bigrams": {
        # global top-k must be per-partition heaps + driver merge,
        # never a full sort shuffle
        "topk_no_global_sort": r"TakeOrderedAndProject",
        "partial_agg": r"partial_count",
        "max_exchanges": 1,  # the single gram-count groupBy
    },
    "ann_cosine_topk": {
        "topk_no_global_sort": r"TakeOrderedAndProject",
    },
    # candidate generation must stay bucketed/banded — a cartesian or
    # nested-loop join anywhere is the O(n^2) plan that dies at scale
    "lsh_near_dup": {
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
        # candidate-pair dedup is a DISTINCT: two-phase HashAggregate
        # (map-side combine) around the shuffle — functions=[] so the
        # "partial_" marker never appears, assert the sandwich instead
        "two_phase_distinct":
            r"(?s)HashAggregate\(keys=\[doc_a.*Exchange hashpartitioning\(doc_a.*HashAggregate\(keys=\[doc_a",
    },
    "ngram_jaccard": {
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
        "partial_agg": r"partial_",
    },
    "simhash_near_dup": {
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
    },
    "embedding_near_dup": {
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
    },
    "minhash_signatures": {
        # per-row array_min/transform form: the signature is a pure
        # projection over the scan — no explode, no groupBy, and
        # therefore NO exchange at all
        "max_exchanges": 0,
    },
    "text_quality": {
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 0,  # pure projection
    },
    "lang_id": {
        "max_exchanges": 0,
    },
    "fingerprint": {
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 0,
    },
    "media_dedup": {
        "partial_agg": r"partial_",
        "max_exchanges": 1,
    },
    "brand_part_stats": {
        "broadcast": r"BroadcastHashJoin",
        "partial_agg": r"partial_",
    },
    "ivf_ann_topk": {
        # centroids broadcast; assignment argmax partially aggregated;
        # final top-k never materializes a global sort
        "broadcast": r"BroadcastHashJoin|BroadcastNestedLoopJoin",
        "partial_agg": r"partial_",
        "topk_no_global_sort": r"TakeOrderedAndProject",
    },
    "repetition_scores": {
        "max_exchanges": 0,
    },
    "dedup_clusters": {
        # connected components: every round is window-min + union on
        # node-hash partitions — a cartesian anywhere means the star
        # operations degenerated
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
        "partial_agg": r"partial_",
    },
    "corpus_curate": {
        # candidate generation stays banded; quality gate is a scan
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
        "partial_agg": r"partial_",
    },
    "cookie_match": {
        # RFC 6265 matching is pure expression work: whole-stage
        # codegen, zero shuffles, zero Python
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 0,
    },
    "script_extract": {
        # the script runs once per Arrow batch (vectorized), and a
        # per-page map needs no shuffle at all
        "arrow_vectorized": r"ArrowEvalPython",
        "max_exchanges": 0,
    },
    "pii_scrub": {
        # scrub is a pure codegen projection: zero shuffles, zero
        # Python, pruned to (doc_id, text)
        "codegen": r"\*\(\d+\)",
        "pruned_schema": ("ReadSchema", lambda s: "lang" not in s),
        "max_exchanges": 0,
    },
    "host_budget": {
        # the budget rank-limit must push down MAP-SIDE (partial
        # WindowGroupLimit before the exchange), so each host ships
        # at most budget rows per input partition into the shuffle
        "partial_group_limit": r"(?s)WindowGroupLimit.*Exchange",
        "max_exchanges": 1,
    },
    "link_degrees": {
        "partial_agg": r"partial_count",
        "no_cartesian": r"!CartesianProduct",
    },
    "pagerank": {
        # every iteration: edges ⋈ ranks then partial-combined
        # contribution sum — equi-joins and map-side combine only
        "partial_agg": r"partial_sum",
        "no_cartesian": r"!CartesianProduct",
    },
    "frontier_prioritize": {
        # rank-limit pushdown truncates map partitions to the budget
        # BEFORE the depth shuffle (depth cardinality is tiny)
        "partial_group_limit": r"(?s)WindowGroupLimit.*Exchange",
        "no_cartesian": r"!CartesianProduct",
    },
    "anchor_texts": {
        # bounded-buffer shape: counts + distinct-then-count +
        # rank-limited anchor window, never an unbounded collect_set
        "partial_agg": r"partial_count",
        "partial_group_limit": r"(?s)WindowGroupLimit.*Exchange",
        "no_cartesian": r"!CartesianProduct",
    },
    "media_resize": {
        # decode/resize plumbing: Arrow-batched stage, partition-local
        "arrow_stage": r"MapInPandas",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,  # the media dedup's distinct only
    },
    "media_frames": {
        # per-media frame fan-out: multi-yield mapInPandas, no shuffle
        # beyond the media dedup's distinct
        "arrow_stage": r"MapInPandas",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,
    },
    "warc_ingest": {
        # archive round trip: ONE exchange (the per-shard group for
        # blob build), record parsing is mapInPandas over blob rows —
        # no further shuffle, no cartesian
        "blob_build": r"FlatMapGroupsInPandas",
        "record_parse": r"MapInPandas",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,
    },
    "crawl_schedule": {
        # per-host budget: rank<=k compiles to WindowGroupLimit so the
        # reduce task keeps a k-heap per host, never a full host sort
        "group_limit": r"WindowGroupLimit",
        "no_cartesian": r"!CartesianProduct",
    },
    "substring_dedup": {
        # overlapping-window suffix dedup: ONE combinable count on the
        # 8-byte window hash, flag join without cartesian, doc_id
        # rollup + gaps-and-islands window sharing the doc_id shuffle
        "partial_agg": r"partial_count",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 8,
    },
    "segment_dedup": {
        # two-level distinct-doc count + reassembly, all map-side
        # combined; boilerplate side joined without a cartesian
        "partial_agg": r"partial_count",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 4,
    },
    "recrawl_delta": {
        # one full-outer equi-join: a shuffle per snapshot side
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,
    },
    "source_length_stats": {
        # exact percentile still combines map-side (partial_percentile
        # buffers) — one shuffle carrying per-source digests, not rows
        "partial_agg": r"partial_percentile",
        "max_exchanges": 1,
    },
    "redirect_resolve": {
        # pointer doubling: every round is an equi-join on the current
        # target — never a cartesian, never a per-hop loop shape
        "no_cartesian": r"!CartesianProduct",
        # over-cap/loop detection is the anti-join against redirect
        # sources, not a row-at-a-time walk
        "anti_join_termination": r"LeftAnti",
    },
    "hits_scores": {
        # same loop shape as pagerank: equi-joins + map-side-combined
        # sums; the only nested-loop is the 1-row normalizer broadcast
        "partial_agg": r"partial_sum",
        "no_cartesian": r"!CartesianProduct",
    },
    "trap_detect": {
        # ONE groupBy(host) computing both distincts via expand —
        # linear shuffles on host, no joins at all
        "partial_agg": r"partial_count",
        "no_join": r"!Join",
        "max_exchanges": 2,  # expand-based multi-distinct: two phases
    },
    "lm_perplexity": {
        # model joins are equi-joins on the bigram/history key; the
        # only nested-loop is the 1-row vocab-size broadcast
        "partial_agg": r"partial_count",
        "no_cartesian": r"!CartesianProduct",
    },
    "lm_scores_pretrained": {
        # scoring joins BROADCAST the reference-slice model; the only
        # gram-key exchanges left are the model ESTIMATION aggs over
        # the 10% reference slice (corpus-size-independent at scale)
        "broadcast": r"BroadcastHashJoin",
        "partial_agg": r"partial_count",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 5,
    },
    "lm_scores_broadcast_model": {
        # the production shape: pretrained model supplied -> ZERO
        # gram-key shuffles anywhere in the plan (round-2 item 8 gate)
        "no_gram_shuffle": r"!Exchange hashpartitioning\(w1",
        "broadcast": r"BroadcastHashJoin",
        "partial_agg": r"partial_count",
    },
    "browser_render": {
        # politeness schedule (host fanout stats + host-shard
        # repartition) is the only shuffle work; fetch is Arrow-batched
        "arrow_fetch": r"MapInPandas|PythonMapInArrow",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 3,
    },
    "containment_dup": {
        # candidate generation stays on the shingle inverted index —
        # a cartesian anywhere is the O(n^2) plan that dies at scale
        "no_cartesian": r"!CartesianProduct|BroadcastNestedLoopJoin",
        "partial_agg": r"partial_",
    },
    "stratified_sample": {
        # stratum gates broadcast back; the data side never shuffles —
        # the only exchanges carry stratum-cardinality rows (the count
        # agg, instantiated twice: once for gates, once for the min
        # target)
        "broadcast": r"BroadcastHashJoin",
        "partial_agg": r"partial_count",
        "max_exchanges": 2,
    },
    "registrable_domains": {
        # eTLD+1 is pure codegen'd expression work; the rollup is one
        # map-side-combined agg (expand for the host distinct)
        "codegen": r"\*\(\d+\)",
        "partial_agg": r"partial_count",
        "no_join": r"!Join",
        "max_exchanges": 2,
    },
    "sitemap_extract": {
        # from_xml + posexplode must stay JVM-side: no Python eval
        # anywhere; the one exchange builds the per-host fixture XML
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "generate_explode": r"Generate posexplode",
        "max_exchanges": 1,
    },
    "robots_sitemaps": {
        # Sitemap: lines are context-free -> pure JVM regexp + explode
        # (unlike the grouped rule parser): no Python, no shuffles
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "generate_explode": r"Generate posexplode",
        "max_exchanges": 0,
    },
    "sitemap_seeds": {
        # from_xml parse + canonicalize are pure JVM; shuffles: the
        # synthetic fixture's per-host XML build, the per-(host,loc)
        # dedup agg (map-side combinable max), and the per-host rank
        # window — the window partitions by host, never globally
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_max",
        "no_cartesian": r"!CartesianProduct",
        "per_host_window": r"Window.*partitionBy|Window \[.*host",
        "max_exchanges": 3,
    },
    "frontier_take": {
        # the priority dequeue MUST be per-partition heaps + driver
        # merge: TakeOrderedAndProject present, NO Sort node, NO
        # exchange of any kind — dequeuing n of 10^10 pending URLs
        # never shuffles the backlog
        "take_ordered": r"TakeOrderedAndProject",
        "no_sort": r"!Sort \[",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "max_exchanges": 0,
    },
    "effective_delay": {
        # both inputs are O(hosts) rollups; one full-outer host
        # equi-join (full-outer cannot broadcast a side) + the two
        # fixture distincts; never cartesian, no Python
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 4,
    },
    "byte_packed_shards": {
        # two-phase prefix sums: the returned plan is range-
        # repartition (pinned by localCheckpoint, outside the
        # hash-exchange count) + ONE Arrow cumsum pass — no hash
        # shuffle, no single-partition window, no row-at-a-time UDF
        "no_python_rowwise": r"!ArrowEvalPython|BatchEvalPython",
        "arrow_pass": r"MapInPandas",
        "no_global_window": r"!Exchange SinglePartition",
        "max_exchanges": 0,
    },
    "dup_canonical_pick": {
        # component labels from the large-star/small-star rounds;
        # the election itself is ONE combinable min-struct groupBy
        # (partial_min); quality joined broadcast
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_min",
        "broadcast": r"BroadcastHashJoin",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 5,
    },
    "interleave_pack": {
        # one combinable per-doc span rollup (partial_sum), then the
        # two-phase prefix-sum pack; costs joined back broadcast
        "no_python_rowwise": r"!ArrowEvalPython|BatchEvalPython",
        "arrow_pass": r"MapInPandas",
        "partial_agg": r"partial_sum",
        "no_global_window": r"!Exchange SinglePartition",
        "max_exchanges": 1,
    },
    "boilerplate_strip": {
        # template table built by two combinable groupBys, joined
        # back broadcast (it's O(hosts x template-lines) small), one
        # combinable per-doc regroup — three exchanges total
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_(count|collect_list)",
        "broadcast": r"BroadcastHashJoin",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 3,
    },
    "lang_declared_audit": {
        # attribute regexp + marker counts fuse into the scan; ONE
        # combinable host rollup is the only shuffle
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_(count|sum)",
        "no_join": r"!Join",
        "max_exchanges": 1,
    },
    "cycle_plan": {
        # demand agg over the big frontier is combinable; the tiny
        # delay table broadcast-joins; the waterfill pivot ran as
        # side jobs so the returned plan has no global sort
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_count",
        "broadcast": r"BroadcastHashJoin",
        "no_global_window": r"!Exchange SinglePartition",
        "max_exchanges": 2,
    },
    "shard_assignment": {
        # shard rollup is one combinable groupBy; the single-
        # partition exchange is the scalar total over the O(n_shards)
        # result (bounded by construction), joined back as a
        # broadcast scalar — never a row-level cartesian
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_(count|sum)",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 4,
    },
    "discovery_mix": {
        # two combinable groupBys (url min-struct, then host) — no
        # windows, no joins, no Python
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_min",
        "no_join": r"!Join",
        "max_exchanges": 2,
    },
    "sitemap_index_extract": {
        # index parse is the same JVM from_xml + explode shape as
        # sitemap_extract; the one exchange builds the fixture XML
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "generate_explode": r"Generate explode",
        "max_exchanges": 1,
    },
    "crawl_diff": {
        # full-outer url join (both snapshots shuffle on the key —
        # bucket both by url at 10^10 and these vanish) + ONE
        # combinable host rollup; never cartesian
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_(count|sum)",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 3,
    },
    "charset_audit": {
        # three JVM regexes fuse into the page scan; one combinable
        # host rollup is the only shuffle
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_(count|sum)",
        "no_join": r"!Join",
        "max_exchanges": 1,
    },
    "etag_stability": {
        # two combinable groupBys (url, then host) + the extra
        # exchange count_distinct's three-stage agg inserts — all
        # map-side partial, no windows, no Python
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_(count|sum)",
        "no_join": r"!Join",
        "max_exchanges": 3,
    },
    "robots_churn": {
        # rule extraction fuses into each snapshot's scan (multiline
        # regexp + array ops, no Python); exchanges: fixture distinct
        # + the host equi-join's two sides + reuse — never cartesian
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 4,
    },
    "budget_waterfill": {
        # the RETURNED plan is scan + projection against the
        # broadcast water level (one fixture-distinct exchange); the
        # pivot search ran as two-phase prefix-sum side jobs — no
        # global sort window, no single-partition exchange here
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_global_window": r"!Exchange SinglePartition",
        "max_exchanges": 1,
    },
    "rss_extract": {
        # from_xml + posexplode + RFC-822 regexp rewrites are pure
        # JVM; the one exchange builds the per-host fixture XML
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "generate_explode": r"Generate posexplode",
        "max_exchanges": 1,
    },
    "atom_extract": {
        # attribute-based <link> selection is array filter/get inside
        # codegen — no Python, fixture exchange only
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "generate_explode": r"Generate posexplode",
        "max_exchanges": 1,
    },
    "feed_discovery": {
        # autodiscovery tags are context-free: two JVM regexes, the
        # (feed_url, type) dedup is array_distinct BEFORE the explode
        # -> the whole operator fuses into the page scan, no shuffle
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "generate_explode": r"Generate explode",
        "max_exchanges": 0,
    },
    "feed_seeds": {
        # two fixture XML builds + the per-(host,link) dedup agg
        # (map-side combinable max) + the per-host rank window —
        # partitions by host, never globally
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_max",
        "no_cartesian": r"!CartesianProduct",
        "per_host_window": r"Window.*partitionBy|Window \[.*host",
        "max_exchanges": 4,
    },
    "feed_cadence": {
        # one fixture exchange + ONE corpus shuffle: the per-feed lag
        # window and the groupBy share the feed_url hash partitioning
        # (partial_percentile proves the agg still map-side-combines)
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_percentile",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,
    },
    "bpe_pairs": {
        # the corpus is touched ONCE by the combinable word count;
        # the char fan-out + pair agg run over the bounded vocabulary;
        # the rank window is global but over <= |charset|^2 rows
        # (Exchange SinglePartition, outside the hash-shuffle budget)
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "partial_agg": r"partial_(count|sum)",
        "no_cartesian": r"!CartesianProduct",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 2,
    },
    "soft_404": {
        # error-template table is tiny (O(hosts)) -> must BROADCAST
        # against the 200-side scan; the only shuffle is the
        # template distinct; phrase regex is pure codegen
        "broadcast_templates": r"BroadcastHashJoin",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 1,
    },
    "broken_links": {
        # links aggregate BEFORE the status join (one row per distinct
        # target crosses the wire, map-side combined); the join is
        # AQE-broadcast at audit SF, sort-merge at scale (+1 budget)
        "partial_agg": r"partial_(count|min)",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,
    },
    "hreflang_clusters": {
        # tag extraction + positional zip are pure codegen; ONE
        # shuffle (the cluster rollup), no joins anywhere
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_join": r"!Join",
        "partial_agg": r"partial_(collect_list|count)",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 1,
    },
    "revalidate_plan": {
        # pure per-row projection: fuses into the scan — zero
        # shuffles, zero joins, zero Python
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_join": r"!Join",
        "no_exchange": r"!Exchange",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 0,
    },
    "reciprocal_links": {
        # distinct pair agg (combinable), reversed-pair self-join on
        # the same composite key (broadcast at audit SF, symmetric
        # hash at scale: +1 budget), one combinable host rollup
        "partial_agg": r"partial_count",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 4,
    },
    "host_templates": {
        # line explode is codegen'd; two-level agg = two exchanges,
        # BOTH behind map-side partial combines (the first carries one
        # row per (host,line,doc) per task — deliberately NOT a single
        # repartition("host","line"), which would ship every raw line
        # occurrence uncombined)
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_join": r"!Join",
        "partial_agg": r"partial_count",
        "codegen": r"\*\(\d+\)",
        "max_exchanges": 2,
    },
    "warc_revisit": {
        # first-capture = one combinable min-struct agg per digest;
        # the back-join hits the same digest partitioning (broadcast
        # at audit SF, symmetric hash at scale: +1 budget)
        "partial_agg": r"partial_min",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,
    },
    "adaptive_delay": {
        # ONE combinable aggregate per host (count + exact percentile
        # digest merged map-side); no joins anywhere
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_join": r"!Join",
        "partial_agg": r"partial_(count|percentile)",
        "max_exchanges": 1,
    },
    "title_dedup": {
        # two-level distinct-host rollup, both combinable; the inner
        # (title_key, host) exchange is the only wide edge
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_join": r"!Join",
        "partial_agg": r"partial_(count|min|sum)",
        "max_exchanges": 2,
    },
    "frontier_backlog": {
        # big-side frontier count combines map-side; the rate table
        # is O(hosts) and must BROADCAST
        "broadcast_rates": r"BroadcastHashJoin",
        "partial_agg": r"partial_count",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,
    },
    "hostgraph_export": {
        # two-level combinable rollup ((pair, src_page) then pair):
        # hot pairs ship one row per distinct source page per task
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_join": r"!Join",
        "partial_agg": r"partial_(count|sum)",
        "max_exchanges": 2,
    },
    "host_triangles": {
        # wedge + closure are hash EQUI-joins on edge keys (no cross
        # product); canonical a<b<c ordering bounds hub fan-out; the
        # per-node rollups are combinable
        # 7 = edge distinct (combines multiplicity map-side BEFORE
        # any join) + re-keys for the wedge (on a) and closure (on
        # b,c) joins + the two per-node rollups; the deg⋈tri join
        # reuses the rollups' host partitioning
        "partial_agg": r"partial_count",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 7,
    },
    "fetch_gini": {
        # the per-host count combines map-side and reduces the input
        # to O(hosts); the rank window + final agg run over that tiny
        # table (single ordered pass by design, documented)
        "partial_agg": r"partial_count",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_join": r"!Join",
        "max_exchanges": 1,
    },
    "lang_mix": {
        # ONE corpus shuffle (the per-lang token sum after the doc_id
        # join); the share/normalizer windows run over the tiny
        # already-aggregated lang frame (temperature_mix contract)
        "partial_agg": r"partial_sum",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 3,
    },
    "lang_quality_gate": {
        # gate metrics + lang pred are per-row exprs sharing one scan
        # path; the doc_id join feeds ONE combinable lang rollup
        "partial_agg": r"partial_(count|sum)",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 3,
    },
    "change_rate": {
        # the lag window and the per-url aggregate share ONE shuffle
        # on url (the events_sessionize pattern)
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 1,
    },
    "kmeans_clusters": {
        # centroids broadcast each round; assignment argmin is a
        # partial-agg-combined min-over-struct (shuffle carries N
        # rows, never N×k); the only nested-loop is that broadcast
        "broadcast": r"BroadcastNestedLoopJoin|BroadcastHashJoin",
        "partial_agg": r"partial_min",
        "no_cartesian": r"!CartesianProduct",
    },
    "strip_tracking": {
        # pure codegen'd per-row expression: zero shuffles, no Python
        "codegen": r"\*\(\d+\)",
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "max_exchanges": 0,
    },
    "domain_reputation": {
        # quality features + eTLD+1 are per-row expressions fused into
        # the scan side; ONE map-side-combined agg on the domain key
        "partial_agg": r"partial_",
        "no_cartesian": r"!CartesianProduct",
        "max_exchanges": 2,  # doc_id equi-join + domain agg
    },
    "host_health": {
        # one map-side-combined groupBy(host); no joins at all
        "partial_agg": r"partial_",
        "no_join": r"!Join",
        "max_exchanges": 1,
    },
    "chunk_documents": {
        # pure per-row explode: codegen'd, no Python, zero shuffles
        "no_python": r"!ArrowEvalPython|BatchEvalPython",
        "generate_explode": r"Generate posexplode",
        "max_exchanges": 0,
    },
    "crawl_merge": {
        # union -> ONE map-side-combined min-over-struct groupBy on
        # url; never a window, never a join
        "partial_agg": r"partial_min",
        "no_join": r"!Join",
        "no_window": r"!Window \[",
        "max_exchanges": 1,
    },
    "pack_sequences": {
        # global prefix sums over the pinned range layout in an Arrow
        # pass — same shape contract as token_budget_sample: no
        # global-orderBy window, no shuffle in the final pass
        "pinned_layout": r"Scan ExistingRDD",
        "no_global_window": r"!Window \[",
        "arrow_cumsum": r"MapInPandas",
        "max_exchanges": 0,
    },
    "domain_blocklist": {
        # suffix chain is a bounded per-row explode; the list side is
        # BROADCAST (sized), so the URL side never shuffles for the
        # match — the only exchange is the most-specific groupBy
        "broadcast_list": r"BroadcastHashJoin",
        "partial_agg": r"partial_min_by",
        "no_cartesian": "!CartesianProduct",
        "max_exchanges": 2,
    },
    "ccnet_buckets": {
        # exact-tercile path: the ntile window partitions by lang
        # (documented skew-bound; thresholds-broadcast is the 100 TB
        # path, audited via the lm broadcast-model spec)
        "no_cartesian_grams": "!CartesianProduct",
        "partial_agg": r"partial_",
    },
    "url_templates": {
        # distinct on near-unique (host, template, url) then a
        # combinable count+min — no windows, no self-joins
        "partial_agg": r"partial_",
        "no_window": r"!Window \[",
        "no_join": r"!Join",
        "max_exchanges": 2,
    },
    "domain_cap": {
        # rank<=k compiles to a per-key k-row heap on BOTH sides of
        # the single domain-key exchange
        "group_limit": r"WindowGroupLimit",
        "max_exchanges": 2,
    },
    "rel_canonical": {
        # extraction is JVM regex fused into the scan; ONE groupBy
        "no_python": "!EvalPython",
        "codegen": r"\*\(\d+\)",
        "partial_agg": r"partial_",
        "max_exchanges": 1,
    },
    "mirror_hosts": {
        # within-hash-bucket pairing only; boilerplate cap upstream.
        # budget 7: the round-3 advice fix computes per-host sizes
        # from the CAPPED postings (numerator and denominator see the
        # same universe), which adds one combinable groupBy(host)
        "no_cartesian": "!CartesianProduct",
        "partial_agg": r"partial_",
        "max_exchanges": 7,
    },
    "meta_robots": {
        # pure JVM regex + array ops: fuses into the page projection
        "no_python": "!EvalPython",
        "no_shuffle": "!Exchange hashpartitioning",
        "codegen": r"\*\(\d+\)",
    },
    "recrawl_priority": {
        # composition: pagerank iterations + rate windows + ONE
        # equi-join on the url key; no cartesian anywhere
        "no_cartesian": "!CartesianProduct",
        "partial_agg": r"partial_",
    },
    "media_frontier": {
        # explode -> ONE combinable groupBy on the ref key; fetched
        # side anti-joins on the same key
        "partial_agg": r"partial_",
        "no_cartesian": "!CartesianProduct",
        "arrow_udf": r"ArrowEvalPython|BatchEvalPython",
        "max_exchanges": 3,
    },
    "interleave_render": {
        # pure higher-order array exprs after the parse UDF: zero
        # shuffles, fuses into the page scan
        "no_shuffle": "!Exchange hashpartitioning",
        "arrow_udf": r"ArrowEvalPython|BatchEvalPython",
        "max_exchanges": 0,
    },
    "server_politeness": {
        # ONE combinable groupBy on the ip key
        "partial_agg": r"partial_",
        "no_join": r"!Join",
        "no_window": r"!Window \[",
        "max_exchanges": 2,
    },
    # frontier_growth intentionally unaudited here: it re-runs the
    # flagship engine (crawl_bfs, already audited) and then windows
    # over <= depth+1 aggregate rows.
}


def _lazy_pagerank(spark, sf_dir):
    # pagerank()/hits() eagerly materialize by default so the driver
    # sweep doesn't leak edge caches; the audit wants the ITERATION
    # plan, so rebuild with materialize=False (caller-owned cache).
    from pyspark.sql import functions as F

    from flyscrape_spark import queries as Q
    from flyscrape_spark.operators.graph import pagerank

    docs, edges = Q._graph_edges(spark, sf_dir)
    ranks = pagerank(docs.select(F.col("doc_id").alias("node")), edges,
                     iterations=Q.PAGERANK_ITERS, damping=Q.PAGERANK_DAMPING,
                     materialize=False)
    return ranks.select("node", F.round("pr", 8).alias("pr"))


def _lazy_hits(spark, sf_dir):
    from pyspark.sql import functions as F

    from flyscrape_spark import queries as Q
    from flyscrape_spark.operators.graph import hits

    docs, edges = Q._graph_edges(spark, sf_dir)
    scores = hits(docs.select(F.col("doc_id").alias("node")), edges,
                  iterations=Q.HITS_ITERS, materialize=False)
    return scores.select(
        "node", F.round("authority", 8).alias("authority"),
        F.round("hub", 8).alias("hub"))


def _lm_broadcast_model(spark, sf_dir):
    """Pure scoring path with a pre-materialized (pretrained) model:
    the plan must carry ZERO gram-key exchanges — both model joins
    broadcast, the only shuffle is the per-doc partial agg."""
    from flyscrape_spark.operators.lm import lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    uni = spark.createDataFrame([("the", 10), ("a", 5)], "w1 string, c_unigram long")
    bi = spark.createDataFrame([("the", "cat", 3)],
                               "w1 string, w2 string, c_bigram long")
    vocab = spark.createDataFrame([(100,)], "vocab_size long")
    return lm_scores(docs, model=(uni, bi, vocab))


PLAN_BUILDERS = {"pagerank": _lazy_pagerank, "hits_scores": _lazy_hits,
                 "lm_scores_broadcast_model": _lm_broadcast_model}


def audit(sf_dir: str, only: set[str] | None = None) -> list[tuple[str, str, bool, str]]:
    import __spark_entry__ as entrymod
    from flyscrape_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    queries = entrymod.queries()
    results = []
    for name, checks in CHECKS.items():
        if only and name not in only:
            continue
        # NOT .get(name, queries[name]): the default arg evaluates
        # eagerly and synthetic audit names aren't in queries()
        builder = PLAN_BUILDERS[name] if name in PLAN_BUILDERS else queries[name]
        df = builder(spark, sf_dir)
        # collect() (not count()) finalizes THIS df's AdaptiveSparkPlan
        # in place, so the string shows codegen stages; count() would
        # execute a different (wrapped) query
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the finalized AQE string appends "== Initial Plan ==" —
        # don't double-count its exchanges
        plan = plan.split("== Initial Plan ==")[0]
        for check, spec in checks.items():
            if check == "max_exchanges":
                n = len(re.findall(r"Exchange hashpartitioning|Exchange rangepartitioning", plan))
                ok = n <= spec
                detail = f"{n} shuffle exchange(s), budget {spec}"
            elif isinstance(spec, tuple):
                key, pred = spec
                lines = [l for l in plan.splitlines() if key in l]
                ok = bool(lines) and all(pred(l) for l in lines)
                detail = key + (" pruned" if ok else f" NOT pruned: {lines[:1]}")
            elif isinstance(spec, str) and spec.startswith("!"):
                ok = re.search(spec[1:], plan) is None
                detail = f"absent: {spec[1:]}"
            else:
                ok = re.search(spec, plan) is not None
                detail = spec
            results.append((name, check, ok, detail))
    spark.stop()
    return results


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    results = audit(sf_dir, only)
    if only:
        # targeted spot run: print, don't clobber the full PLANS.md
        failed = 0
        for name, check, ok, detail in results:
            failed += 0 if ok else 1
            print(f"{'OK  ' if ok else 'FAIL'} {name}.{check}: {detail}")
        print(f"\n{len(results) - failed}/{len(results)} pass (targeted; PLANS.md untouched)")
        sys.exit(1 if failed else 0)
    lines = [
        "# PLANS — physical-plan audit",
        "",
        f"`python tools/explain_audit.py {sf_dir}` — asserts the plan",
        "properties the 100 TB design depends on (pushdown, pruning,",
        "broadcast, map-side partial aggregation, codegen, shuffle",
        "budget). Regenerate after any operator change.",
        "",
        "| query | check | ok | detail |",
        "|---|---|---|---|",
    ]
    failed = 0
    for name, check, ok, detail in results:
        mark = "✅" if ok else "❌"
        failed += 0 if ok else 1
        lines.append(f"| {name} | {check} | {mark} | `{detail}` |")
        print(f"{'OK  ' if ok else 'FAIL'} {name}.{check}: {detail}")
    lines.append("")
    lines.append(f"{len(results) - failed}/{len(results)} checks pass.")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"\n{len(results) - failed}/{len(results)} pass -> PLANS.md")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
