"""Physical-plan audit: assert the scale-critical plan properties.

For every batch registry query and every CUSTOM_CHECKS subtree (plans
the registry hides behind a checkpoint, built by the same engine
functions the queries call), render the formatted physical plan and
check the properties that decide 100 TB behavior — filters reaching
the scan, small sides broadcast, per-group top-k limited before
exchange, global top-k as TakeOrderedAndProject, partial aggregation
present, no cartesian products.  Prints one row per property plus one
fingerprint row per plan, exits non-zero if any required property is
missing, and with --write stores the rows in PLANS.md.  Given plan
names, prints those formatted plans instead of auditing.

Usage: python tools/plan_audit.py [--sf DIR] [--write]
       python tools/plan_audit.py [--sf DIR] NAME [NAME ...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, REPO)

# A node line of a formatted plan's tree: indentation made of spaces
# and ':' rails, an optional '+- ' / ':- ' branch marker, an optional
# '* ' codegen marker, the node, its operator id.
_TREE_LINE = re.compile(
    r"^(?P<lead>[ :]*)(?P<branch>[+:]- )?(?:\* )?(?P<name>[A-Za-z].*?) \((?P<id>\d+)\)$"
)
_DETAIL_HEAD = re.compile(r"^\((?P<id>\d+)\) ")


def plan_nodes(plan: str) -> dict[int, dict]:
    """The operators of a formatted plan by operator id: ``name`` (the
    node class), ``parent`` (the consuming node's id, from the tree's
    indentation; None at a root) and ``details`` (the lines of the
    node's ``(n) Name`` section, such as ``Arguments: ...``).  Reads
    the main tree and every subquery tree."""
    nodes: dict[int, dict] = {}
    for para in re.split(r"\n\s*\n", plan):
        lines = para.strip("\n").splitlines()
        if not lines:
            continue
        head = _DETAIL_HEAD.match(lines[0])
        if head:
            node = nodes.setdefault(int(head.group("id")), {"parent": None})
            node["details"] = lines[1:]
            continue
        # a tree, possibly under one header line ("== Physical Plan ==",
        # "Subquery:1 Hosting operator id = ...")
        matches = [_TREE_LINE.match(ln) for ln in lines]
        if matches[0] is None:
            matches = matches[1:]
        if not matches or None in matches:
            continue
        stack: list[tuple[int, int]] = []  # (depth, id) of open ancestors
        for m in matches:
            depth = len(m.group("lead")) + (3 if m.group("branch") else 0)
            while stack and stack[-1][0] >= depth:
                stack.pop()
            nid = int(m.group("id"))
            node = nodes.setdefault(nid, {"details": []})
            node["name"] = m.group("name").split()[0]
            node["parent"] = stack[-1][1] if stack else None
            stack.append((depth, nid))
    return nodes


def single_partition_exchanges(plan: str) -> list[str]:
    """The Exchange nodes that move all rows into one partition
    (``Arguments: SinglePartition, ...``), as ``Exchange (n) -> Parent
    (m)``, except those feeding a keyless aggregate (``Keys: []``): a
    global aggregate's final merge of one partial buffer per input
    partition is the bounded form of a global reduction, not a
    collapsed stage."""
    nodes = plan_nodes(plan)
    out = []
    for nid, node in sorted(nodes.items()):
        args = next((d for d in node["details"] if d.startswith("Arguments: ")), "")
        if node.get("name") != "Exchange" or not args.startswith("Arguments: SinglePartition"):
            continue
        parent = nodes.get(node["parent"], {})
        parent_name = parent.get("name", "-")
        if parent_name.endswith("Aggregate") and "Keys: []" in parent.get("details", []):
            continue
        out.append(f"Exchange ({nid}) -> {parent_name} ({node['parent']})")
    return out


def no_single_partition(plan: str) -> bool:
    """Property predicate: no stage collapses to one partition
    (single_partition_exchanges is empty)."""
    return not single_partition_exchanges(plan)


def _call_args(text: str, start: int) -> str:
    """The argument text of the call whose '(' is at ``text[start]``."""
    depth = 0
    for i in range(start, len(text)):
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        if depth == 0:
            return text[start + 1 : i]
    return text[start + 1 :]


def array_fns_above_generate(plan: str) -> list[str]:
    """Function calls over a generator's source array in the Project
    directly above its ``Generate``, as ``Project (m): fn(...)``.

    A Generate keeps its child's columns on every row it emits, so an
    array function evaluated in the Project above it (``size``,
    ``array_distinct``, ...) runs once per generated element over the
    whole array — quadratic in the array length — where projecting it
    below the Generate runs it once per input row."""
    nodes = plan_nodes(plan)
    out = []
    for _, node in sorted(nodes.items()):
        args = next((d for d in node["details"] if d.startswith("Arguments: ")), "")
        call = re.match(r"Arguments: \w+\(", args)
        parent = nodes.get(node["parent"], {})
        if node.get("name") != "Generate" or not call or parent.get("name") != "Project":
            continue
        sources = set(re.findall(r"\w+#\d+", _call_args(args, call.end() - 1)))
        output = next((d for d in parent["details"] if d.startswith("Output ")), "")
        for m in re.finditer(r"(\w+)\(", output):
            if sources & set(re.findall(r"\w+#\d+", _call_args(output, m.end() - 1))):
                out.append(f"Project ({node['parent']}): {m.group(1)}(...)")
    return out


def set_size_below_generate(plan: str) -> bool:
    """Property predicate: no Project above a Generate re-evaluates an
    array function over the generator's source array
    (array_fns_above_generate is empty)."""
    return not array_fns_above_generate(plan)


# The plan shape of every connected-components query
# (operators/graph.py connected_components_star): shuffled-hash since
# the session prefers SHJ when its size guard holds (session.py); the
# audited property is that the final vertex ⋈ roots labeling join is a
# hash/merge EQUI join, never a cartesian, over the checkpointed star
# edge set.
_STAR_LABELING_ROWS = [
    ("final labeling join is an equi join", "ShuffledHashJoin"),
    ("star rounds feed from checkpoints", "Scan ExistingRDD"),
]

# The plan shape of the exact Jaccard join (operators/dedup.py
# ngram_jaccard_pairs_prefix, PPJoin internals): every exchange/sort
# keys on the 8-byte shingle hash, never the shingle string; candidates
# stay an equi-join; tier-1 verification intersects long arrays.
_JACCARD_PREFIX_ROWS = [
    ("shuffles key on 64-bit shingle hash", "xxhash64"),
    ("no cartesian", "!CartesianProduct"),
    ("hashed tier-1 verify (long-array intersect)", "array_intersect"),
]

# (query, [(property, needle), ...]): a needle is a substring that must
# appear, '!' + a substring that must not, or a predicate over the plan.
CHECKS: dict[str, list[tuple[str, object]]] = {
    "tpch_scan_filter_project": [
        ("filter pushed to scan", "GreaterThanOrEqual(l_shipdate"),
        ("column-pruned scan", "ReadSchema: struct<l_orderkey"),
    ],
    "tpch_revenue_by_nation": [
        ("dims broadcast", "BroadcastHashJoin"),
        ("partial agg", "partial_sum"),
    ],
    "dblp_q1_top_authors_per_venue": [
        ("per-group top-k limited pre-exchange", "WindowGroupLimit"),
        ("partial agg", "partial_count"),
    ],
    "dblp_q5_top_coauthor_volume": [
        ("global top-k as heap", "TakeOrderedAndProject"),
    ],
    "tpch_top3_orders_per_cust": [
        ("per-group top-k limited pre-exchange", "WindowGroupLimit"),
    ],
    "tpch_asof_latest_order": [
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_dedup_minhash_lsh": [
        # the signature/banding subtree is audited pre-checkpoint via
        # the lsh_sized_buckets custom entry below (the candidate
        # pipeline's lazy localCheckpoint hides it as Scan ExistingRDD)
        ("no cartesian (incl. hot-bucket self-join)", "!CartesianProduct"),
    ],
    "llm_ann_brute_topk": [
        ("query side broadcast", "BroadcastNestedLoopJoin"),
    ],
    "dblp_pagerank": [
        # fixed-iteration Pregel shape: each superstep = one
        # src-keyed join + one partial-agg'd dst groupBy; the
        # loop-invariant (edge x degree) table is pinned once
        ("rank mass partial-aggregated", "partial_sum"),
        ("edge/degree table pinned across supersteps", "InMemoryTableScan"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_multimodal_features": [
        ("Arrow-batched binary stage", "MapInPandas"),
        ("no join anywhere", "!Join"),
    ],
    "llm_multimodal_frames": [
        ("Arrow-batched binary stage", "MapInPandas"),
        ("no join anywhere", "!Join"),
    ],
    "tpch_window_lag_gap": [
        # lag/gap over per-customer partitions, never one partition
        ("no single-partition window", no_single_partition),
        ("no join anywhere", "!Join"),
    ],
    "tpch_window_range_frame": [
        ("no single-partition window", no_single_partition),
        ("no join anywhere", "!Join"),
    ],
    "tpch_events_tumbling": [
        # native tumbling windows: partial-agg'd, event-time filter
        # pushed to the scan
        ("partial agg per window", "partial_sum"),
        ("filters pushed to scan", "PushedFilters"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_events_sliding": [
        # sliding windows compile to ONE scan + Expand (an event
        # replicated per overlapping window), not per-offset scans
        ("sliding windows via Expand", "Expand"),
        ("partial agg per window", "partial_count"),
        ("filters pushed to scan", "PushedFilters"),
    ],
    "tpch_subquery_correlated": [
        # correlated scalar subquery decorrelates to a broadcast
        # aggregate join, never a per-row re-execution
        ("decorrelated to a join", "BroadcastHashJoin"),
        ("no cartesian", "!CartesianProduct"),
        ("filters pushed to scan", "PushedFilters"),
    ],
    "tpch_subquery_in": [
        ("IN-subquery as semi join", "LeftSemi"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_unpivot_melt": [
        # unpivot compiles to Expand over one scan
        ("unpivot via Expand", "Expand"),
        ("partial agg after melt", "partial_sum"),
    ],
    "tpch_variant_json": [
        ("VARIANT access stays JVM-side", "variant_get"),
        ("no python UDF in the hot path", "!BatchEvalPython"),
    ],
    "tpch_hash_sample": [
        # deterministic hash sample: the predicate prunes BEFORE any
        # aggregation; tallies partial-agg'd
        ("sample tallies partial-aggregated", "partial_count"),
        ("filters pushed to scan", "PushedFilters"),
    ],
    "tpch_rollup_orders": [
        ("rollup as single-scan Expand", "Expand"),
        ("partial agg over levels", "partial_sum"),
    ],
    "tpch_stats_agg": [
        # variance/corr etc: all mergeable partial aggregates
        ("moment statistics partial-aggregated", "partial_sum"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "dblp_q2_consecutive_years": [
        # longest-run: per-(author,) window over years, filter pushed
        # to the publications scan
        ("year filter pushed to scan", "PushedFilters"),
        ("no single-partition window", no_single_partition),
        ("run-length counts partial-aggregated", "partial_count"),
    ],
    "dblp_q3_solo_titles_per_venue": [
        ("filters pushed to scan", "PushedFilters"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "dblp_q4_max_authors_per_venue": [
        # per-venue argmax keeps ALL ties: rank window keyed by venue
        ("filters pushed to scan", "PushedFilters"),
        ("no single-partition window", no_single_partition),
    ],
    "dblp_q6_solo_only_authors": [
        # conditional sum + veto: one explode, one partial-agg'd sum
        ("solo/veto tallies partial-aggregated", "partial_sum"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "dblp_coauthor_pairs": [
        ("pair counts partial-aggregated", "partial_count"),
        ("no cartesian (pair explode, not self-join)", "!CartesianProduct"),
    ],
    "tpch_cube_lineitem": [
        # CUBE compiles to ONE scan + Expand, not 2^k scans
        ("cube as single-scan Expand", "Expand"),
        ("partial agg over grouping sets", "partial_sum"),
    ],
    "tpch_grouping_sets": [
        ("grouping sets as single-scan Expand", "Expand"),
        ("partial agg", "partial_count"),
    ],
    "tpch_distinct_agg": [
        # multi-distinct compiles to the Expand-based rewrite, never
        # per-distinct subplans
        ("multi-distinct via Expand rewrite", "Expand"),
        ("partial agg", "partial_count"),
    ],
    "tpch_hll_incremental": [
        # mergeable-sketch story: hll_sketch_agg partials merge; the
        # exact twin rides the two-phase distinct
        ("HLL sketch aggregate in plan", "hll_sketch_agg"),
        ("exact twin two-phase distinct", "partial_count(distinct"),
    ],
    "tpch_events_rollup_hierarchy": [
        ("rollup levels partial-aggregated", "partial_sum"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "src_python_datasource_pruned": [
        # the whole point of the pruned variant: the custom Python
        # datasource receives the pushed filters
        ("filter pushed into the Python datasource", "PushedFilters"),
    ],
    "tpch_json_extract": [
        ("json extraction stays JVM-side", "get_json_object"),
        ("no python UDF in the hot path", "!BatchEvalPython"),
    ],
    "tpch_events_session": [
        # native session windows: session_window expr + partial agg,
        # event-time filter pushed to the scan
        ("native session_window operator", "session_window"),
        ("filters pushed to scan", "PushedFilters"),
        ("partial agg", "partial_sum"),
    ],
    "llm_decontaminate": [
        # benchmark shingles hit the training side as a SEMI join
        # (containment, no row duplication); shingle counts collapse
        # map-side
        ("benchmark containment as semi join", "LeftSemi"),
        ("shingle counts partial-aggregated", "partial_count"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_dedup_embedding": [
        # hyperplane-bucketed candidate join — equi on bucket ids,
        # never an all-pairs scan; pair fan-out spread past AQE
        # coalescing by spread_for_pair_join (operators/pairs.py)
        ("bucketed candidate join (not cartesian)", "!CartesianProduct"),
        ("no nested-loop join", "!BroadcastNestedLoopJoin"),
        ("AQE-exempt pair spread (keyed repartition)", "REPARTITION_BY_NUM"),
    ],
    "llm_domain_mixture": [
        ("per-source tallies partial-aggregated", "partial_count"),
        ("no join anywhere", "!Join"),
    ],
    "llm_repetition": [
        # intra-doc repetition: pure narrow expression map
        ("no join anywhere", "!Join"),
        ("no window", "!Window"),
    ],
    "llm_token_count": [
        ("no join anywhere", "!Join"),
        ("no window", "!Window"),
    ],
    "llm_token_count_arrow": [
        # Arrow twin of llm_token_count: same narrow shape
        ("no join anywhere", "!Join"),
        ("no window", "!Window"),
    ],
    "llm_trimmed_mean_grouped_agg": [
        ("group tallies partial-aggregated", "partial_count"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_zscore_grouped_map": [
        # grouped-map pandas surface: one FlatMapGroupsInPandas
        ("grouped-map Arrow stage", "FlatMapGroupsInPandas"),
        ("no join anywhere", "!Join"),
    ],
    "llm_quality_pandas_udf": [
        # scalar pandas UDF rides the scan as ArrowEvalPython
        ("Arrow-batched scalar UDF stage", "ArrowEvalPython"),
        ("no join anywhere", "!Join"),
    ],
    "llm_ann_lsh_topk": [
        # single-probe LSH: bucket equi-join + per-query top-k
        ("bucket equi-join (not cartesian)", "!CartesianProduct"),
        ("per-query top-k limited pre-exchange", "WindowGroupLimit"),
    ],
    "tpch_approx_distinct": [
        # HLL vs exact twin: both partial-agg'd (the exact side via
        # the two-phase distinct count)
        ("exact side two-phase distinct", "partial_count(distinct"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_asof_cogroup": [
        # cogrouped-pandas as-of join: one FlatMapCoGroupsInPandas,
        # both sides co-shuffled on the group key
        ("cogrouped Arrow stage", "FlatMapCoGroupsInPandas"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_percentiles": [
        ("percentile state partial-aggregated", "partial_"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_dedup_simhash": [
        # 32 conditional sums collapse map-side; candidate pairs come
        # from a chunk-key equi-join, never an all-pairs scan
        ("signature bits partial-aggregated", "partial_sum"),
        ("chunk-key equi-join (not cartesian)", "!CartesianProduct"),
    ],
    "llm_dedup_exact": [
        # fingerprint canonicalization is a per-fp window — keyed by
        # the fingerprint, never a global sort; no join anywhere
        ("no single-partition window", no_single_partition),
        ("no join anywhere", "!Join"),
    ],
    "llm_dedup_incremental": [
        # incoming batch checks the snapshot via a broadcast join;
        # first-in-batch is a per-fp window
        ("snapshot lookup broadcast", "BroadcastHashJoin"),
        ("no single-partition window", no_single_partition),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_events_funnel": [
        # three CASCADED conditional-min aggs — each step collapses
        # map-side; deliberately NO per-user window (a hot user's
        # history never buffers in one task)
        ("step minima partial-aggregated", "partial_min"),
        ("no per-user window buffering", "!Window"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_events_retention": [
        # per-(cohort, week) distinct users via the two-phase
        # partial-agg'd distinct count, never a collect_set
        ("per-cell users two-phase distinct", "partial_count(distinct"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_market_share": [
        # TPC-H Q8 shape: the region restriction is a SEMI probe (no
        # row duplication), dims broadcast, revenue partial-agg'd
        ("region filter as semi probe", "LeftSemi"),
        ("dims broadcast", "BroadcastHashJoin"),
        ("partial agg", "partial_sum"),
    ],
    "llm_fingerprint_rolling": [
        # per-doc rolling hash: window keyed by doc, no join
        ("no single-partition window", no_single_partition),
        ("no join anywhere", "!Join"),
    ],
    "llm_langid": [
        ("marker counts partial-aggregated", "partial_count"),
        ("no join anywhere", "!Join"),
    ],
    "llm_text_stats": [
        # pure narrow map over (doc_id, text): no join, no window
        ("no join anywhere", "!Join"),
        ("no window", "!Window"),
    ],
    "llm_pii_scrub": [
        ("no join anywhere", "!Join"),
        ("no window", "!Window"),
    ],
    "llm_multimodal_resize": [
        # Arrow-batched binary transform: one MapInPandas, no join
        ("Arrow-batched binary stage", "MapInPandas"),
        ("no join anywhere", "!Join"),
    ],
    "llm_tfidf_top_terms": [
        ("term/df counts partial-aggregated", "partial_count"),
        ("df join broadcast", "BroadcastHashJoin"),
        ("per-doc top-k limited pre-exchange", "WindowGroupLimit"),
    ],
    "llm_hard_negatives": [
        # label-constrained nearest neighbors: anchors broadcast with
        # labels (non-equi condition -> nested loop over the K-row
        # broadcast, corpus never shuffles), per-anchor top-k limited
        # before the exchange
        ("anchor side broadcast", "BroadcastNestedLoopJoin"),
        ("per-anchor top-k limited pre-exchange", "WindowGroupLimit"),
    ],
    "tpch_bucketed_join": [
        ("bucketed scans (no join-side shuffle)", "SelectedBucketsCount: 8 out of 8"),
        ("sort-merge join over buckets", "SortMergeJoin"),
    ],
    "tpch_salted_agg": [
        ("partial agg in both phases", "partial_sum"),
    ],
    # round-9: per-query needles for the last 7 batch queries that had
    # only the global sweep (the iterative families' per-round shapes
    # are separately pinned by the *[pre-checkpoint] CUSTOM_CHECKS
    # builders; these pin their FINAL-assembly plans).
    "dblp_q5_literal_all": [
        ("map-side combine", "partial_"),
        # the reference's dead-code Q5 limit never fires
        # (Homework2.scala:412-431): this variant must EMIT ALL rows,
        # so a top-k operator appearing is a semantics regression
        ("literal emit-all: no top-k limit", "!TakeOrderedAndProject"),
    ],
    "dblp_q2_literal_dupreset": [
        ("map-side combine", "partial_"),
    ],
    "llm_bpe_segment": [
        ("apply is a narrow map off the checkpointed vocab apply", "Scan ExistingRDD"),
        # merge rules ride a broadcast variable inside the expression:
        # a join appearing means the corpus started shuffling to encode
        ("no join in the segment apply", "!Join"),
    ],
    "llm_bpe_train": [
        ("rules assembled from the checkpointed merge rounds", "Union"),
        ("no corpus re-scan in the final assembly", "!Scan parquet"),
    ],
    "llm_dedup_clusters": [
        ("fixpoint result pinned (checkpointed labels)", "Scan ExistingRDD"),
        *_STAR_LABELING_ROWS,
    ],
    "dblp_coauthor_components": [
        ("fixpoint result pinned (checkpointed labels)", "Scan ExistingRDD"),
        *_STAR_LABELING_ROWS,
    ],
    "dblp_coauthor_components_star": _STAR_LABELING_ROWS,
    "llm_ann_ivf": [
        ("centroid assignment broadcast", "BroadcastHashJoin"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_kmeans": [
        # keyless K-row x corpus join: broadcast nested-loop is the
        # intended plan (no shuffle of the corpus side)
        ("K-row centroid table broadcast", "BroadcastNestedLoopJoin"),
        ("partial agg in centroid update", "partial_sum"),
    ],
    "llm_ann_pq": [
        # ADC: the codebook and LUT sides broadcast; the corpus/code
        # stream must never be the build side of anything
        ("codebook/LUT broadcast", "BroadcastHashJoin"),
        ("no cartesian", "!CartesianProduct"),
        ("encode argmin is partial-aggregated", "partial_min"),
    ],
    "llm_dedup_levenshtein": [
        ("prefix-block equi-join (not cartesian)", "!CartesianProduct"),
    ],
    "tpch_histogram": [
        ("partial agg", "partial_count"),
    ],
    "tpch_window_ntile": [
        # two-pass global rank: the window is keyed by the range
        # partition id — a bare Window.orderBy would show a
        # SinglePartition Exchange feeding WindowExec
        ("no single-partition window", no_single_partition),
        ("per-partition offsets broadcast", "BroadcastHashJoin"),
    ],
    "llm_sequence_pack": [
        ("window keyed by (lang, shard), not lang alone", "shard"),
        ("no single-partition window", no_single_partition),
    ],
    "tpch_merge_upsert": [
        ("merge is a single full-outer join", "FullOuter"),
    ],
    "llm_boilerplate_lines": [
        # line-df computed by two-phase distinct count on the 60-bit
        # line key; the df join must be a key equi-join, not cartesian
        ("two-phase distinct count on line key", "partial_count(distinct"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_winnow_pairs": [
        # fingerprint derivation + df-cap window sit behind the
        # round-6 lineage cuts — audited pre-checkpoint by
        # winnow_fps[pre-checkpoint]; here the pair join must stay an
        # fp equi-join feeding a partial-agg'd pair count, spread
        # past AQE coalescing by spread_for_pair_join
        ("no cartesian", "!CartesianProduct"),
        ("pair counts partial-aggregated", "partial_count"),
        ("AQE-exempt pair spread (keyed repartition)", "REPARTITION_BY_NUM"),
    ],
    "tpch_weighted_sample": [
        # the distributed reservoir: global k-largest-keys must plan
        # as per-task heaps, not a global sort
        ("global top-k as heap", "TakeOrderedAndProject"),
    ],
    "tpch_interval_join": [
        # the entire point: containment compiles to an equi-join on
        # bin id, not a nested-loop/cartesian scan
        ("no nested-loop join", "!BroadcastNestedLoopJoin"),
        ("no cartesian", "!CartesianProduct"),
        ("partial agg on month rollup", "partial_count"),
    ],
    "tpch_cms_heavy_hitters": [
        # the sketch must collapse map-side: partial agg on (d,bucket)
        # bounds per-task state at depth*width regardless of input
        ("sketch built with map-side combine", "partial_count"),
        ("sketch broadcast to probes", "BroadcastHashJoin"),
    ],
    "tpch_zorder_range_scan": [
        # both range predicates must reach the clustered scan — the
        # whole point of the Morton layout is that BOTH can skip
        ("custkey range pushed to scan", "GreaterThanOrEqual(o_custkey"),
        ("totalprice range pushed to scan", "GreaterThanOrEqual(o_totalprice"),
    ],
    "dblp_coauthor_triangles": [
        # degree-oriented enumeration is equi-joins end to end; a
        # cartesian here would mean the wedge/closer join degenerated
        ("no cartesian", "!CartesianProduct"),
        ("partial agg on per-author counts", "partial_count"),
    ],
    "tpch_bloom_filter_join": [
        # runtime row-level pruning: the fact side must carry the
        # bloom probe, built by a (partial-)aggregated subquery over
        # the filtered dim — the shuffle-join analog of DPP
        ("bloom probe on fact side", "might_contain"),
        ("bloom built as aggregate subquery", "bloom_filter_agg"),
    ],
    "tpch_dynamic_partition_pruning": [
        # join-driven pruning: the fact scan's PartitionFilters must
        # carry the runtime subquery, and no static equivalent of the
        # dim predicate may leak in (that would prune without DPP)
        ("dynamic pruning subquery on fact scan", "dynamicpruningexpression"),
    ],
    "tpch_salted_join": [
        # the whole point: a SHUFFLED join on (key, salt) — a broadcast
        # here would mean the skew demo demonstrates nothing
        ("shuffled (key, salt) join", "ShuffledHashJoin"),
        ("no broadcast of the replicated side", "!BroadcastHashJoin"),
    ],
    "llm_quality_select": [
        # threshold table (one row per source) broadcast back — the
        # whole point of the no-per-source-sort formulation
        ("threshold broadcast join", "BroadcastHashJoin"),
        ("no single-partition window", no_single_partition),
    ],
    "llm_semdedup": [
        # assignment broadcast now sits behind the lineage cut —
        # audited by semdedup_assign[pre-checkpoint]; the near-dup
        # pair join must stay an equi-join (on cluster + salt)
        ("no cartesian", "!CartesianProduct"),
        ("salted pair enumeration (xxhash salt keys)", "xxhash64"),
    ],
    "llm_chunk_overlap": [
        # narrow map stage: the scan reads exactly (doc_id, text) and
        # nothing shuffles before the presentation sort
        ("column-pruned scan", "ReadSchema: struct<doc_id:bigint,text:string>"),
        ("no join anywhere", "!Join"),
    ],
    "llm_mixture_sample": [
        # the K-row apportionment table returns via broadcast; source
        # counts collapse map-side before the tiny window stage
        ("target table broadcast", "BroadcastHashJoin"),
        ("source counts partial-aggregated", "partial_count"),
    ],
    "llm_substring_spans": [
        # shingle-position join must stay an equi-join on the 60-bit
        # key; the df-cap boilerplate guard sits behind the lineage
        # cuts (Scan ExistingRDD here) and is asserted pre-cut by
        # substring_spans[pre-checkpoint] below
        ("no cartesian", "!CartesianProduct"),
        ("AQE-exempt pair spread (keyed repartition)", "REPARTITION_BY_NUM"),
        ("span merge via (pair, diagonal) window", "Window"),
    ],
    "llm_token_rarity": [
        # vocabulary ranking goes through the two-pass global rank —
        # never a single-partition window over the vocab
        ("no single-partition window", no_single_partition),
        ("vocab counts partial-aggregated", "partial_count"),
    ],
    "llm_corpus_shuffle": [
        # per-shard ordering only: the window is keyed by shard id
        ("no single-partition window", no_single_partition),
    ],
    "llm_ngram_jaccard_prefix": _JACCARD_PREFIX_ROWS,
    "llm_quality_select_approx": [
        # sketch-threshold stratified selection: bounded-state
        # mergeable percentile sketch, thresholds broadcast back
        ("sketch threshold partial-aggregated", "partial_approx_percentile"),
        ("thresholds broadcast back (no corpus re-shuffle)", "BroadcastHashJoin"),
    ],
    "llm_bigram_lm_score": [
        # corpus counts / prefix masses / scoring all derive from the
        # checkpointed per-doc bigram table (pre-checkpoint subtree
        # audited by bigram_db[pre-checkpoint] below); post-
        # checkpoint everything is partial-agg'd sums over 8-byte
        # keys — the raw bigram string must never key an exchange
        ("count/mass aggregation partial-aggregated", "partial_sum"),
        ("no cartesian", "!CartesianProduct"),
        ("no string-keyed exchange on bg", "!hashpartitioning(bg#"),
        ("no string-keyed exchange on w1", "!hashpartitioning(w1#"),
    ],
    "llm_decontaminate_semantic": [
        # eval side broadcast; the train corpus never shuffles; per-
        # eval nearest-1 limited before any exchange
        ("eval set broadcast (train corpus never shuffles)", "BroadcastNestedLoopJoin"),
        ("nearest-1 limited pre-exchange", "WindowGroupLimit"),
    ],
    "llm_semdedup_trained": [
        # training + assignment broadcasts sit behind checkpoints —
        # audited by kmeans_iteration/semdedup_assign[pre-checkpoint]
        ("no cartesian", "!CartesianProduct"),
        ("salted pair enumeration (xxhash salt keys)", "xxhash64"),
    ],
    "llm_semdedup_trained_k32": [
        # the corpus-scaled K variant timed at the scale point; same
        # shape plus the salted pair enumeration; the pair join must
        # SHUFFLE on (cluster, salt) — a broadcast would collapse the
        # quadratic fan-out onto the probe side's input partitions
        ("no cartesian", "!CartesianProduct"),
        ("salted pair enumeration (xxhash salt keys)", "xxhash64"),
        ("pair join shuffles on (cluster, salt)", "ShuffledHashJoin"),
    ],
    "llm_semdedup_scaled": [
        # computed-K + sampled-training variant: same pair-stage
        # contract as the k32 slot
        ("no cartesian", "!CartesianProduct"),
        ("salted pair enumeration (xxhash salt keys)", "xxhash64"),
        ("pair join shuffles on (cluster, salt)", "ShuffledHashJoin"),
    ],
    "llm_ann_ivf_trained": [
        # trained coarse quantizer, same IVF plan shape as the seeded
        # variant: codebook broadcasts, candidate join stays equi
        # (training itself sits behind the per-iteration checkpoint —
        # audited by kmeans_iteration[pre-checkpoint])
        ("codebook broadcast (corpus never shuffles to assign)", "BroadcastExchange"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_ann_pq_trained": [
        # per-subspace PQ codebook trained in one Lloyd pass keyed on
        # the subspace (behind its per-iteration checkpoint), seeded
        # variant's plan shape: codebook/LUT broadcast, encode argmin
        # (k-means' keyed _assign) partial-agg
        ("codebook/LUT broadcast", "BroadcastExchange"),
        ("no cartesian", "!CartesianProduct"),
        ("encode argmin partial-aggregated", "partial_min"),
    ],
    "tpch_market_share": [
        # the widest classic star: dimension paths must collapse
        # before the fact stream (broadcast probes + a semi join for
        # the region filter), and the per-year ratio aggregates
        # partial map-side
        ("dims broadcast", "BroadcastHashJoin"),
        ("region filter as semi join", "LeftSemi"),
        ("partial agg", "partial_sum"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_embed_classifier": [
        # prototype scorer: the K-class model broadcasts (corpus never
        # shuffles to score), class sums partial-aggregate, the argmin
        # is the partial-aggregable min(struct) — no window
        ("model broadcast to the corpus", "BroadcastNestedLoopJoin"),
        ("class sums partial-aggregated", "partial_sum"),
        ("argmin partial-aggregated (no window sort)", "partial_min"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_events_retention": [
        # distinct users per cell via the two-phase expand, cohort
        # minima partial-aggregated; no per-user window
        ("per-cell distinct is two-phase", "partial_count(distinct"),
        ("cohort minima partial-aggregated", "partial_min"),
        ("no per-user window", "!Window"),
    ],
    "tpch_events_funnel": [
        # cascaded conditional-min aggs, each collapsed map-side; a
        # whole-user-partition window here would buffer hot users
        ("step minima partial-aggregated", "partial_min"),
        ("no per-user window", "!Window"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_leakage_free_split": [
        # split assignment is a narrow hash expression on the
        # component label — nothing beyond the components fixpoint
        # may shuffle or cartesian
        ("no cartesian", "!CartesianProduct"),
        *_STAR_LABELING_ROWS,
    ],
    "llm_bpe_encode": [
        # tokenizer apply: the trained vocab's segmentations come back
        # as ONE broadcast hash join (the Zipf-head fast path); the R
        # rules for the OOV fallback are one-row broadcasts; the
        # corpus never shuffles to encode and per-doc stats collapse
        # map-side
        ("vocab segmentations broadcast-hash-joined", "BroadcastHashJoin"),
        ("OOV rules broadcast to the corpus", "BroadcastNestedLoopJoin"),
        ("per-doc stats partial-aggregated", "partial_count"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "llm_inverted_index": [
        # chunked postings build: range-chunk key means no window over
        # a hot term; one groupBy with partial (object-hash) combine
        # of the postings lists; nothing joins
        ("no window over hot terms", "!Window"),
        ("no join anywhere", "!Join"),
        ("postings partially collected map-side", "partial_collect_list"),
        ("column-pruned scan", "ReadSchema: struct<doc_id:bigint,text:string>"),
    ],
    "llm_cluster_top_terms": [
        # c-TF-IDF labeling: codebook broadcast for assignment,
        # term counts partial-aggregated, per-cluster top-k limited
        # before the exchange
        ("codebook broadcast (corpus never shuffles to assign)", "BroadcastExchange"),
        ("term counts partial-aggregated", "partial_count"),
        ("per-cluster top-k limited pre-exchange", "WindowGroupLimit"),
        ("no cartesian", "!CartesianProduct"),
    ],
    # ---- round-8 coverage extension: the previously-unaudited batch
    # families (join forms, scan pushdown, lateral/UDTF/python-source
    # surfaces, the exact-twin jaccard).  Streaming and sink-roundtrip
    # queries stay out of this harness by design: calling them
    # executes a streaming job / filesystem write, and the DataFrame
    # they return is a scan of the already-materialized result — its
    # plan says nothing about the execution that matters there (the
    # streaming parity + sink roundtrip tests cover those surfaces).
    "tpch_pricing_summary": [
        # TPC-H Q1, the canonical scan->filter->agg: the date filter
        # must reach the parquet scan and the 8 aggregates must
        # collapse map-side — at 100 TB this is the difference between
        # reading a column slice and reading the table
        ("shipdate filter pushed to the parquet scan", "LessThanOrEqual(l_shipdate"),
        ("aggregates partial-aggregated before the one exchange", "partial_sum"),
        ("no join", "!Join"),
    ],
    "tpch_join_left_order_counts": [
        # Q13 shape: the left join must stay a hash/merge equi-join
        # and both count passes collapse map-side
        ("per-customer counts partial-aggregated", "partial_count"),
        ("no nested-loop join", "!BroadcastNestedLoopJoin"),
    ],
    "tpch_join_semi": [
        # the build side dedups INSIDE the semi join (no distinct
        # subtree), and the status filter reaches the orders scan
        ("planned as a semi join (build side dedups in-join)", "LeftSemi"),
        ("open-order filter pushed to the orders scan", "EqualTo(o_orderstatus,O)"),
    ],
    "tpch_join_anti": [
        ("planned as an anti join (no pre-join distinct)", "LeftAnti"),
        ("no nested-loop join", "!BroadcastNestedLoopJoin"),
    ],
    "tpch_join_full_outer": [
        # both sides collapse to per-nation counts BEFORE the full
        # outer join — the join moves 25-row sides, not raw tables
        ("both sides pre-aggregated before the join", "partial_count"),
        ("full-outer join type preserved", "FullOuter"),
    ],
    "tpch_join_nonequi": [
        # equi key + range residual: the orderkey equality must keep
        # this a hash join with the date range as a post-join filter
        ("equi key keeps a hash join (range as residual)", "!BroadcastNestedLoopJoin"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_join_range_bands": [
        # true non-equi band join: the 3-row band table broadcasts
        # and the fact side never shuffles — BNLJ over 3 rows is the
        # RIGHT plan here, the inverse of every !BNLJ check above
        ("3-row band table broadcast (fact side never shuffles)", "BroadcastNestedLoopJoin"),
        ("band tallies partial-aggregated", "partial_sum"),
    ],
    "tpch_window_running_total": [
        # running total per customer: the window must key on custkey,
        # never collapse to one partition
        ("no single-partition window", no_single_partition),
        ("no join", "!Join"),
    ],
    "tpch_subquery_not_exists": [
        ("NOT EXISTS planned as an anti join", "LeftAnti"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_sql_api_top_spenders": [
        # spark.sql() surface: totals collapse map-side, per-segment
        # rank limited before its exchange
        ("spend totals partial-aggregated", "partial_sum"),
        ("rank limited pre-exchange", "WindowGroupLimit"),
    ],
    "tpch_lateral_posexplode": [
        # lateral unnest compiles to Generate — never a join against
        # the exploded array
        ("lateral unnest as Generate", "Generate"),
        ("no cartesian", "!CartesianProduct"),
    ],
    "tpch_udtf_series": [
        # the Python UDTF runs as a batched Python stage; its output
        # aggregates collapse map-side
        # no aggregation here — the lateral itself must not introduce
        # a join or shuffle (UDTFs run row-partition-wise)
        ("UDTF as a batched Python stage", "PythonUDTF"),
        ("lateral introduces no join", "!Join"),
    ],
    "tpch_set_ops_nations": [
        # INTERSECT/EXCEPT compile to semi/anti joins, not
        # distinct-union scans
        ("INTERSECT as a semi join", "LeftSemi"),
        ("EXCEPT as an anti join", "LeftAnti"),
    ],
    "tpch_case_tiers": [
        ("tier tallies partial-aggregated", "partial_sum"),
        ("no join", "!Join"),
    ],
    "tpch_pivot_status": [
        # pivot collapses map-side (partial pivotfirst), one exchange
        ("pivot partial-aggregated map-side", "partial_pivotfirst"),
        ("no join", "!Join"),
    ],
    "tpch_union_by_name": [
        ("one union feeding a partial-agg'd pass", "Union"),
        ("tallies partial-aggregated", "partial_count"),
    ],
    "tpch_map_ops": [
        ("histogram tallies partial-aggregated", "partial_count"),
        ("no join", "!Join"),
    ],
    "tpch_array_ops": [
        # collect_set collapses map-side (object-hash partial agg) —
        # the per-user set never rides the shuffle as raw rows
        ("per-user event sets collapse map-side", "partial_collect_set"),
        ("no join", "!Join"),
    ],
    "tpch_null_semantics": [
        # null-safe equality (<=>) is still hash-joinable
        ("null-safe equality stays a hash join", "!BroadcastNestedLoopJoin"),
        ("tallies partial-aggregated", "partial_count"),
    ],
    # the same query as llm_ngram_jaccard_prefix under its older name
    "llm_ngram_jaccard": _JACCARD_PREFIX_ROWS,
    "src_python_datasource": [
        # the Python DataSource V2 surface: reads arrive via BatchScan
        # (the pruned variant's pushdown is audited separately)
        ("Python data source reads via DSv2 BatchScan", "BatchScan synthetic_docs"),
    ],
    "dblp_xml_ingest": [
        # distributed XML: line-splittable text scan + JVM from_xml
        # parse — a narrow pipeline with no Python row loop and no
        # exchange anywhere (reference parity: dblpXMLparser.scala's
        # DOM walk, re-expressed as a streaming-splittable scan)
        ("JVM from_xml parse (no Python row loop)", "from_xml"),
        ("narrow parse pipeline (no exchange)", "!Exchange"),
    ],
    # the scalar-expression trio: the property that matters at scale
    # is column pruning — the scan must read exactly the referenced
    # columns, and nothing may join or shuffle beyond the
    # presentation sort
    "tpch_scalar_string": [
        ("scan pruned to the 4 referenced part columns",
         "ReadSchema: struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string>"),
        ("no join", "!Join"),
    ],
    "tpch_scalar_math": [
        ("scan pruned to the 7 referenced lineitem columns",
         "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_linenumber:int,"
         "l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double>"),
        ("no join", "!Join"),
    ],
    "tpch_scalar_date": [
        ("scan pruned to (o_orderkey, o_orderdate)",
         "ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp_ntz>"),
        ("no join", "!Join"),
    ],
}

def _lsh_sized_buckets_plan(spark, sf_dir):
    """Pre-checkpoint LSH bucket table: the subtree hidden behind
    lsh_candidate_pairs' lazy localCheckpoint in the registry query."""
    from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
        lsh_sized_buckets,
        minhash_signatures,
    )
    from map_reduce_for_dbpl_dataset_spark.queries.llm import _docs_shingled

    sigs = minhash_signatures(_docs_shingled(spark, sf_dir), "doc_id", "shingles")
    return lsh_sized_buckets(sigs, "doc_id")


def _kmeans_iteration_plan(spark, sf_dir):
    """Pre-checkpoint Lloyd iteration (assignment + centroid update)
    from llm_kmeans' seeds: the subtree hidden behind kmeans_train's
    per-iteration eager checkpoint."""
    from map_reduce_for_dbpl_dataset_spark.operators.kmeans import (
        _assign,
        _quantized,
        _seed_centroids,
        _update_centroids,
    )
    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import KMEANS_INIT_IDS
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    q = _quantized(load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return _update_centroids(_assign(q, _seed_centroids(q, KMEANS_INIT_IDS)))


def _bigram_db_plan(spark, sf_dir):
    """Pre-checkpoint per-doc bigram multiplicity table
    (queries/pipeline.py q_bigram_lm_score): the single
    tokenize+explode+shuffle pass all three consumers derive from."""
    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import _bigram_db
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    return _bigram_db(load_table(spark, sf_dir, "documents"))


def _winnow_fps_plan(spark, sf_dir):
    """Pre-checkpoint winnowing fingerprint stream (queries/llm.py
    q_winnow_pairs): shingle-hash + sliding-min + df-cap window, the
    subtree the registry query pins behind its lineage cuts."""
    from map_reduce_for_dbpl_dataset_spark.queries.llm import (
        _winnow_df_capped,
        _winnow_fps,
    )
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _winnow_df_capped(_winnow_fps(d))


def _cc_star_round_plan(spark, sf_dir):
    """One large-star + small-star round of the alternating-star
    connected-components fixpoint (operators/graph.py) over the real
    coauthor edges — the per-round subtree the registry query hides
    behind its localCheckpoints."""
    from map_reduce_for_dbpl_dataset_spark.operators.graph import (
        _large_star,
        _small_star,
    )
    from map_reduce_for_dbpl_dataset_spark.queries.dblp import _coauthor_graph

    edges, _ = _coauthor_graph(spark)
    e = edges.selectExpr("src as u", "dst as v")
    return _small_star(_large_star(e))


def _semdedup_assign_plan(spark, sf_dir):
    """Pre-checkpoint SemDeDup cell assignment: the subtree hidden
    behind semdedup's lazy lineage cut."""
    from map_reduce_for_dbpl_dataset_spark.operators.kmeans import kmeans_train
    from map_reduce_for_dbpl_dataset_spark.operators.similarity import (
        _semdedup_assigned,
        _semdedup_corpus,
    )
    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        SEMDEDUP_CENTROID_IDS,
    )
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    seeds = kmeans_train(e, "vec_id", "embedding", SEMDEDUP_CENTROID_IDS, iters=0)
    return _semdedup_assigned(_semdedup_corpus(e, "vec_id", "embedding"), seeds)


def _bpe_merge_round_plan(spark, sf_dir):
    """Pre-checkpoint BPE merge round (queries/bpe.py): the ONE
    corpus-scale stage (word-type counts + top-K cap) feeding a full
    pair-count/top-1/rewrite round — the subtree the registry query
    hides behind its per-round lazy localCheckpoints."""
    from map_reduce_for_dbpl_dataset_spark.queries.bpe import (
        _apply_merge,
        _best_pair,
        _word_seqs,
    )

    w = _word_seqs(spark, sf_dir)
    return _apply_merge(w, _best_pair(w))


def _span_positions_plan(spark, sf_dir):
    """Pre-checkpoint substring-span position table
    (queries/pipeline.py steps 1-2): positional K-shingling plus the
    SPAN_DF_CAP boilerplate guard — the subtree the registry query
    hides behind its lazy localCheckpoints (Scan ExistingRDD), where
    the two-phase distinct-count df cap must be visible."""
    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        _span_positions,
        _span_shingled,
    )
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _span_positions(_span_shingled(d))


def _jaccard_prefix_plan(spark, sf_dir):
    """Pre-checkpoint PPJoin prefix table (operators/dedup.py
    _prefix_table): the explode + df/rank windows that
    llm_ngram_jaccard_prefix hides behind spread_for_pair_join's
    checkpoint."""
    from map_reduce_for_dbpl_dataset_spark.operators.dedup import _prefix_table
    from map_reduce_for_dbpl_dataset_spark.queries.llm import _docs_shingled

    return _prefix_table(_docs_shingled(spark, sf_dir), "doc_id", "shingles", 0.8)


# custom entries: (plan builder, checks) — for plans not reachable as a
# whole registry query (e.g. subtrees behind a checkpoint boundary)
CUSTOM_CHECKS: dict = {
    "substring_spans[pre-checkpoint]": (
        _span_positions_plan,
        [
            # the boilerplate guard: shingle document-frequency capped
            # via a two-phase distinct count (partial map-side), and
            # the keep-join stays an equi-join on the 8-byte key
            ("df cap via two-phase distinct count", "partial_count(distinct"),
            ("no cartesian", "!CartesianProduct"),
            ("no nested-loop join", "!BroadcastNestedLoopJoin"),
        ],
    ),
    "jaccard_prefix[pre-checkpoint]": (
        _jaccard_prefix_plan,
        [
            # one distinct set and one size per document, projected
            # below the explode — never re-derived per exploded row
            ("set size evaluated below the Generate", set_size_below_generate),
        ],
    ),
    "lsh_sized_buckets[pre-checkpoint]": (
        _lsh_sized_buckets_plan,
        [
            ("single agg pass for signatures", "partial_min"),
            ("bucket-size window rides the bucketing shuffle", "Window"),
        ],
    ),
    "kmeans_iteration[pre-checkpoint]": (
        _kmeans_iteration_plan,
        [
            ("K-row centroid table broadcast", "BroadcastNestedLoopJoin"),
            ("argmin partial-aggregated (min-struct, no window sort)", "partial_min"),
            ("centroid update partial-aggregated", "partial_sum"),
        ],
    ),
    "bpe_merge_round[pre-checkpoint]": (
        _bpe_merge_round_plan,
        [
            ("word-type counts partial-aggregated", "partial_count"),
            ("vocab cap as global top-K heap", "TakeOrderedAndProject"),
            ("pair counts partial-aggregated", "partial_sum"),
            ("one-row merge rule broadcast", "BroadcastNestedLoopJoin"),
        ],
    ),
    "winnow_fps[pre-checkpoint]": (
        _winnow_fps_plan,
        [
            # the df cap rides the fp shuffle as a window (no second
            # aggregate subtree), keyed by fp — never one partition
            ("df cap via window, not a second agg subtree", "Window"),
            ("no single-partition window", no_single_partition),
            ("no join in the derivation", "!Join"),
        ],
    ),
    "cc_star_round[pre-checkpoint]": (
        _cc_star_round_plan,
        [
            # one alternating-star round: min-neighbor labels collapse
            # map-side; every join is a node-key equi-join
            ("min-neighbor labels partial-aggregated", "partial_min"),
            ("no cartesian", "!CartesianProduct"),
            ("no nested-loop join", "!BroadcastNestedLoopJoin"),
        ],
    ),
    "bigram_db[pre-checkpoint]": (
        _bigram_db_plan,
        [
            # the ONE corpus-scale pass: tokenize+explode feeding a
            # partial-agg'd groupBy keyed on xxhash64 longs
            ("bigram multiplicities partial-aggregated", "partial_count"),
            ("8-byte hashed keys", "xxhash64"),
            ("no string-keyed exchange on bg", "!hashpartitioning(bg#"),
        ],
    ),
    "semdedup_assign[pre-checkpoint]": (
        _semdedup_assign_plan,
        [
            # round-6: assignment is an Arrow-batched numpy matmul
            # (codebook in the task closure) — one MapInPandas over
            # the corpus, no N*K row explosion, no exchange at all
            ("vectorized Arrow matmul assignment", "MapInPandas"),
            ("corpus never shuffles to assign", "!Exchange"),
            ("no cartesian", "!CartesianProduct"),
            # round-22: pair-stage vectors ship as array<int> (the
            # salted join replicates them PAIR_SALT+1x; the narrow +
            # its n2 guard live in _narrow_q32 with the exactness
            # bound documented there).  The needle is the guarded
            # CASE's array<int> tail bound to _q — sibling salt casts
            # also render "as int)", so a bare cast would not do.
            ("pair vectors narrowed to int32", "as array<int>) END AS _q#"),
        ],
    ),
}


# --- streaming pre-start plans (round-9) -------------------------------------
# The stream_* registry entries are sweep-excluded because the driver-
# facing callables RUN the stream to completion and return the final
# table (a plain in-memory batch frame — auditing that plan would
# prove nothing).  The unstarted streaming DataFrames, though, expose
# the plans that decide 100 TB/day behavior: an EventTimeWatermark
# node is the state-eviction contract (without it, window/join state
# grows without bound), StateStoreSave/partial_ prove the stateful agg
# still map-side combines, and the stream-stream join must be the
# symmetric hash form, never a cartesian.  stream_dedup is audited for
# its operator only: carrying exact ids unwatermarked is that query's
# documented at-least-once demo semantics (streaming/windows.py), with
# dropDuplicatesWithinWatermark named there as the bounded-state path.


def _stream_tumbling_plan(spark, sf_dir):
    from map_reduce_for_dbpl_dataset_spark.streaming.windows import (
        stream_events,
        stream_tumbling_counts,
    )

    return stream_tumbling_counts(stream_events(spark, sf_dir))


def _stream_sliding_plan(spark, sf_dir):
    from map_reduce_for_dbpl_dataset_spark.streaming.windows import (
        stream_events,
        stream_sliding_counts,
    )

    return stream_sliding_counts(stream_events(spark, sf_dir))


def _stream_session_plan(spark, sf_dir):
    from map_reduce_for_dbpl_dataset_spark.streaming.windows import (
        stream_events,
        stream_session_stats,
    )

    return stream_session_stats(stream_events(spark, sf_dir))


def _stream_dedup_plan(spark, sf_dir):
    from map_reduce_for_dbpl_dataset_spark.streaming.windows import (
        stream_dedup,
        stream_events_duplicated,
    )

    return stream_dedup(stream_events_duplicated(spark, sf_dir))


def _stream_join_plan(spark, sf_dir):
    from map_reduce_for_dbpl_dataset_spark.streaming.windows import (
        stream_click_purchase_join,
        stream_events,
    )

    return stream_click_purchase_join(
        stream_events(spark, sf_dir), stream_events(spark, sf_dir)
    )


def _stream_stateful_plan(spark, sf_dir):
    from map_reduce_for_dbpl_dataset_spark.streaming.stateful import (
        stateful_user_stats,
    )
    from map_reduce_for_dbpl_dataset_spark.streaming.windows import stream_events

    return stateful_user_stats(stream_events(spark, sf_dir))


STREAM_CHECKS: dict = {
    "stream_tumbling[pre-start]": (
        _stream_tumbling_plan,
        [
            ("event-time watermark bounds window state", "EventTimeWatermark"),
            ("stateful windowed agg", "StateStoreSave"),
            ("map-side combine before the state store", "partial_"),
        ],
    ),
    "stream_sliding[pre-start]": (
        _stream_sliding_plan,
        [
            ("event-time watermark bounds window state", "EventTimeWatermark"),
            ("stateful windowed agg", "StateStoreSave"),
            ("map-side combine before the state store", "partial_"),
        ],
    ),
    "stream_session[pre-start]": (
        _stream_session_plan,
        [
            ("event-time watermark bounds session state", "EventTimeWatermark"),
            ("session-window state store", "SessionWindowStateStore"),
            ("adjacent sessions merged in-state", "MergingSessions"),
        ],
    ),
    "stream_dedup[pre-start]": (
        _stream_dedup_plan,
        [
            ("cross-batch streaming dedup operator", "StreamingDeduplicate"),
        ],
    ),
    "stream_join[pre-start]": (
        _stream_join_plan,
        [
            ("both sides watermarked", "EventTimeWatermark"),
            ("symmetric hash stream-stream join", "StreamingSymmetricHashJoin"),
            ("no cartesian", "!CartesianProduct"),
        ],
    ),
    "stream_stateful[pre-start]": (
        _stream_stateful_plan,
        [
            ("Arrow-batched custom state operator", "FlatMapGroupsInPandasWithState"),
        ],
    ),
}
CUSTOM_CHECKS.update(STREAM_CHECKS)



# Global scale-killer sweep: three universal rules applied to EVERY
# batch registry query, audited-or-not — a per-query needle list can
# miss a regression in a query nobody wrote an entry for.  Excluded
# families (documented, not loopholes): stream_* and tpch_sink_*
# queries EXECUTE a streaming job / filesystem write when called and
# return a scan of the materialized result, so their explained plan
# says nothing about the execution that matters (parity + roundtrip
# tests own those surfaces).
SWEEP_EXCLUDED_PREFIXES = ("stream_", "tpch_sink_")


# Batch queries whose single-partition exchange is by design, with the
# reason PLANS.md prints.  An entry whose plan no longer has such an
# exchange fails the audit, so the list cannot go stale.
SINGLE_PARTITION_EXEMPT = {
    "tpch_sql_api_top_spenders": (
        "global top-N window: a partial WindowGroupLimit below the "
        "exchange sends at most N rows per input partition"
    ),
    "llm_mixture_sample": "sum(fw) over () runs on one row per source",
}


def _sweep_violations(plan: str) -> list[str]:
    """Universal 100-TB rules for a batch plan:
    - no CartesianProduct, anywhere, ever;
    - no single-partition exchange (a global sort for presentation
      uses rangepartitioning; TakeOrderedAndProject needs no
      exchange — SinglePartition means some stage collapsed), except
      the final merge of a keyless aggregate (single_partition_exchanges);
    - no row-at-a-time Python (every BatchEvalPython node must be the
      UDTF form; scalar/map Python goes through Arrow)."""
    out = []
    if "CartesianProduct" in plan:
        out.append("CartesianProduct")
    if single_partition_exchanges(plan):
        out.append("single-partition exchange")
    if plan.count("BatchEvalPython") != plan.count("BatchEvalPythonUDTF"):
        out.append("row-at-a-time Python UDF")
    return out


def explain(df) -> str:
    """The formatted physical plan of ``df``, as ``df.explain("formatted")``
    prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def fingerprint(plan: str) -> str:
    """First 12 hex digits of the sha256 of a formatted plan's node
    tree: the lines after ``== Physical Plan ==`` up to the first blank
    line.  The tree holds node names, codegen markers and operator
    numbers only; expression ids, paths, run UUIDs and partition counts
    live in the per-node details below it, so the fingerprint is the
    same on every host and run, while any change to the tree (a node
    added, removed, renamed or moved) changes it."""
    lines = plan.split("\n")
    start = lines.index("== Physical Plan ==") + 1
    end = next((i for i in range(start, len(lines)) if not lines[i].strip()), len(lines))
    return hashlib.sha256("\n".join(lines[start:end]).encode()).hexdigest()[:12]


def _plan_makers(qs: dict) -> dict:
    """Every plan the audit renders, by name: the batch registry
    queries (the sweep's scope) and the CUSTOM_CHECKS subtrees."""
    out = {
        name: fn
        for name, fn in qs.items()
        if not name.startswith(SWEEP_EXCLUDED_PREFIXES)
    }
    out.update({name: make for name, (make, _) in CUSTOM_CHECKS.items()})
    return out


def audit(sf_dir: str, write: bool) -> int:
    import __spark_entry__ as entrymod
    from map_reduce_for_dbpl_dataset_spark.session import get_spark

    spark = get_spark("plan-audit")
    plans = {
        name: explain(build(spark, sf_dir))
        for name, build in _plan_makers(entrymod.queries()).items()
    }
    spark.stop()
    batch = [name for name in plans if name not in CUSTOM_CHECKS]
    # Every CHECKS key must correspond to a planned query: a key that is
    # sweep-excluded or misspelled would otherwise be silently dropped
    # and its audit skipped with no failure.
    orphans = set(CHECKS) - set(batch)
    if orphans:
        raise SystemExit(
            f"plan_audit: CHECKS entries with no planned query: {sorted(orphans)} "
            "(sweep-excluded prefix or typo — fix or remove the entry)"
        )
    failures: list[str] = []
    rows: list[str] = []
    all_checks = dict(CHECKS)
    all_checks.update({name: checks for name, (_, checks) in CUSTOM_CHECKS.items()})
    for name, checks in all_checks.items():
        plan = plans[name]
        for prop, needle in checks:
            if callable(needle):
                ok = needle(plan)
            elif needle.startswith("!"):
                ok = needle[1:] not in plan
            else:
                ok = needle in plan
            rows.append(f"| `{name}` | {prop} | {'✅' if ok else '❌'} |")
            if not ok:
                expected = getattr(needle, "__name__", repr(needle))
                failures.append(f"{name}: {prop} (expected {expected})")
    sweep_clean = 0
    for name in sorted(batch):
        bad = _sweep_violations(plans[name])
        if name in SINGLE_PARTITION_EXEMPT:
            live = "single-partition exchange" in bad
            bad = [b for b in bad if b != "single-partition exchange"]
            rows.append(
                f"| `{name}` | single-partition exchange exempt: "
                f"{SINGLE_PARTITION_EXEMPT[name]} | {'✅' if live else '❌'} |"
            )
            if not live:
                failures.append(f"{name}: exempt, but has no single-partition exchange")
        if bad:
            rows.append(f"| `{name}` | global scale-killer sweep | ❌ |")
            failures.append(f"{name}: global sweep ({', '.join(bad)})")
        else:
            sweep_clean += 1
    rows.append(
        f"| _global sweep_ | no cartesian / single-partition exchange / "
        f"row-Python in any of {len(batch)} batch queries "
        f"({sweep_clean} clean) | {'✅' if sweep_clean == len(batch) else '❌'} |"
    )
    rows += [
        f"| `{name}` | plan fingerprint | `{fingerprint(plans[name])}` |"
        for name in sorted(plans)
    ]

    if write:
        with open(os.path.join(REPO, "PLANS.md"), "w") as f:
            f.write(
                "# PLANS — physical-plan audit\n\n"
                "Generated by `python tools/plan_audit.py --write` at sf dir "
                f"`{sf_dir}`.\nEach property is one that decides behavior at "
                "100 TB; the audit fails CI-style if a property regresses.\n\n"
                "| query | property | ok |\n|---|---|---|\n"
                + "\n".join(rows)
                + "\n\nA plan fingerprint is the first 12 hex digits of the "
                "sha256 of the plan's node tree\n(`tools/plan_audit.py:fingerprint`). "
                "Print a plan with `python tools/plan_audit.py NAME...`.\n"
            )
    print("\n".join(rows))
    if failures:
        print("\nFAILURES:")
        for f_ in failures:
            print(" -", f_)
        return 1
    print("\nall plan properties hold")
    return 0


def show(sf_dir: str, names: list[str]) -> int:
    """Print the formatted plan of each named audited plan."""
    import __spark_entry__ as entrymod
    from map_reduce_for_dbpl_dataset_spark.session import get_spark

    makers = _plan_makers(entrymod.queries())
    unknown = [name for name in names if name not in makers]
    if unknown:
        print(
            f"plan_audit: unknown plan name(s) {unknown}; valid names:\n  "
            + "\n  ".join(sorted(makers)),
            file=sys.stderr,
        )
        return 2
    spark = get_spark("plan-audit")
    for name in names:
        print(f"## {name}\n\n{explain(makers[name](spark, sf_dir)).strip()}\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--write", action="store_true")
    ap.add_argument("names", nargs="*", help="print these plans instead of auditing")
    args = ap.parse_args()
    sys.exit(show(args.sf, args.names) if args.names else audit(args.sf, args.write))
