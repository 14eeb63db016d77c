"""Physical-plan assertions: the scale properties the queries claim
(pushdown, column pruning, broadcast strategy, window top-k pushdown) are
checked here so a regression in plan shape fails CI, not just a benchmark.
"""

import pytest

from csv_loader_spark.queries.registry import all_specs

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = all_specs()[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushdown_and_column_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # date filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 16-column table, 7-column query: pruned read schema, no l_orderkey etc.
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_q02_scan_prunes_columns(spark):
    plan = _plan(spark, "q02_filter_project")
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "p_name" not in read_schema or "struct<" in read_schema


def test_q03_broadcasts_dim_side(spark):
    plan = _plan(spark, "q03_topn_revenue")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_q05_single_fact_shuffle(spark):
    plan = _plan(spark, "q05_nation_volume")
    # every dim join is broadcast…
    assert plan.count("BroadcastHashJoin") >= 4
    # …and the only hash-partition exchanges belong to the final aggregate,
    # not to any join input
    assert "SortMergeJoin" not in plan


def test_q13_window_topk_pushes_group_limit(spark):
    plan = _plan(spark, "q13_window_topk")
    # rank-filter is recognized and applied before/inside the sort, so the
    # window never materializes full partitions
    assert "WindowGroupLimit" in plan


def test_q35_broadcasts_queries_not_corpus(spark):
    plan = _plan(spark, "q35_knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.index("BroadcastExchange") > plan.index("BroadcastNestedLoopJoin")


@pytest.mark.parametrize("name", ["q44_exists_subquery"])
def test_exists_decorrelates_to_joins(spark, name):
    plan = _plan(spark, name)
    # Catalyst decorrelated EXISTS/NOT EXISTS into semi/anti joins — no
    # per-row subquery execution survives in the physical plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_join_strategy_hints_are_honored(spark):
    """The engine exposes planner control: per-join strategy hints override
    the size-based default (the escape hatch when statistics mislead)."""
    from csv_loader_spark.io.tables import load_table

    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    merge = li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
    assert "SortMergeJoin" in merge._jdf.queryExecution().executedPlan().toString()
    shuffle_hash = li.join(
        o.hint("shuffle_hash"), li["l_orderkey"] == o["o_orderkey"]
    )
    assert (
        "ShuffledHashJoin"
        in shuffle_hash._jdf.queryExecution().executedPlan().toString()
    )
    bcast = li.join(o.hint("broadcast"), li["l_orderkey"] == o["o_orderkey"])
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()


def test_q84_trips_no_global_sort(spark):
    plan = _plan(spark, "q84_trip_segmentation")
    # per-user windows + agg: partitioned window, partial+final agg,
    # and no global Sort outside the window's per-partition sort
    assert "Window" in plan
    assert "Exchange rangepartitioning" not in plan  # no global ordering


def test_q85_decontamination_is_equi_join(spark):
    plan = _plan(spark, "q85_decontamination")
    # candidate generation must be an equi-join on the gram — any
    # cartesian/nested-loop shape here would be quadratic at scale — and
    # the eval-gram side is explicitly broadcast, so the corpus side never
    # shuffles for the join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q86_pii_scrub_has_no_shuffle(spark):
    plan = _plan(spark, "q86_pii_scrub")
    # row-local regex work: the whole query must stay embarrassingly
    # parallel over the scan — one Exchange would mean a planner regression
    assert "Exchange" not in plan


def test_q97_candidate_shuffle_carries_ids_only(spark):
    """q97's whole scale story is that the LSH candidate join shuffles ids,
    never the wide vector arrays: every hashpartitioning exchange in the
    candidate subplan must carry only id/bucket columns, and the hot-bucket
    row_number window rides the same narrow frame."""
    import contextlib
    import io
    import re

    from csv_loader_spark.queries.llm4 import _lsh_candidates

    cand, _n = _lsh_candidates(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    plan = buf.getvalue()

    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: hashpartitioning\(([^,]+)", plan
    )
    assert exchanges, "expected at least one hash exchange in the plan"
    for cols, first_key in exchanges:
        # no vector/array attribute may ride a candidate shuffle
        assert " v#" not in f" {cols}" and "embedding" not in cols, (
            first_key, cols
        )
    # the bucket-keyed exchange (candidate join / hot-bucket window input)
    # exists and is exactly (vec_id, bucket)
    bucket_ex = [c for c, k in exchanges if k.startswith("bucket")]
    assert bucket_ex and all(
        {a.split("#")[0] for a in ex.split(", ")} == {"vec_id", "bucket"}
        for ex in bucket_ex
    )


@pytest.mark.parametrize(
    "name",
    [
        "q34_minhash_lsh",
        "q96_winnow_neardup",
        "q119_prefix_jaccard_join",
        "q123_containment_join",
    ],
)
def test_dedup_candidates_are_equi_joins(spark, name):
    """Every near-dup family's candidate generation must plan as an
    equi-join on the derived key (band/fingerprint) — any cartesian or
    nested-loop shape here is the quadratic regression the Σ(bucket²)
    scaling measurement (SCALING.json `dedup`) exists to rule out."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        j in plan
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


def test_q53_simhash_candidate_join_is_banded_equi(spark):
    """q53 fans each doc out to its 16 band keys via a crossJoin with a
    16-row literal frame (constant fan-out — fine), but the doc-vs-doc
    CANDIDATE join must be the hash equi-join on (band, bkey); a
    cartesian doc×doc product would be the quadratic regression."""
    plan = _plan(spark, "q53_simhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin [band" in plan


def test_q99_chunking_has_no_shuffle(spark):
    """Sliding-window chunking is row-local (explode + slice over the
    scan): one Exchange would mean the planner regressed it."""
    plan = _plan(spark, "q99_chunk_sliding")
    assert "Exchange" not in plan


def test_q102_blocklist_is_broadcast_anti_join(spark):
    """The corpus must NEVER shuffle for a blocklist: the filter plans as
    a broadcast left-anti hash join."""
    plan = _plan(spark, "q102_domain_filter")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan


def test_q101_greedy_pack_shuffles_narrow_frame_only(spark):
    """The sequential fold runs in Arrow batches per source; only the
    (source, doc_id, n_tok) id frame may ride the groupBy shuffle — the
    text column stays behind in the scan stage."""
    import re

    plan = _plan(spark, "q101_pack_greedy")
    assert "FlatMapGroupsInPandas" in plan
    for cols in re.findall(r"Exchange hashpartitioning\([^)]*\), [A-Z_]+", plan):
        assert "text" not in cols


def test_q105_merge_is_single_key_shuffle(spark):
    """CDC upsert must plan as the shuffle full-outer join on the merge
    key — a nested-loop/cartesian here would be the quadratic regression."""
    plan = _plan(spark, "q105_cdc_upsert")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q106_scd2_single_shuffle(spark):
    """Both window passes (lag change-detect, lead version-close) must
    ride ONE user_id exchange — the sort satisfies both."""
    import re

    plan = _plan(spark, "q106_scd2_intervals")
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges == ["user_id"]


def test_q107_one_scan_per_table_for_row_local_checks(spark):
    """The deequ execution model (r8): all of a table's row-local checks
    ride ONE conditional aggregate — scans beyond that belong only to the
    two FK joins. Expected parquet scans: orders 3 (cond-agg + FK child +
    FK parent), lineitem 2 (cond-agg + FK child), customer 1 (FK parent),
    events 1 (cond-agg) — and each FK join is one pass computing
    violations and totals together, so no count-only rescans exist."""
    import re

    plan = _plan(spark, "q107_quality_report")
    scans = re.findall(r"Scan parquet \[([a-z_]*)", plan)
    counts = {t: 0 for t in ("orders", "lineitem", "customer", "events")}
    for cols in scans:
        for t, key in (
            ("orders", "o_"),
            ("lineitem", "l_"),
            ("customer", "c_"),
            ("events", "ts"),
        ):
            if cols.startswith(key):
                counts[t] += 1
    assert counts == {"orders": 3, "lineitem": 2, "customer": 1, "events": 1}, plan
    assert "CartesianProduct" not in plan


def test_q111_mix_sample_broadcasts_rates_no_corpus_shuffle(spark):
    """The mix sampler's corpus side must be scan -> hash -> filter with
    the |sources|-row rate table broadcast: the only exchanges allowed
    are the tiny rate-building agg and broadcast distribution — no
    hashpartitioning of the corpus by source."""
    plan = _plan(spark, "q111_mix_sample")
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(source" in plan  # the counts agg only
    # the corpus must NOT shuffle: no doc_id/text hashpartitioning
    assert "Exchange hashpartitioning(doc_id" not in plan
    assert "SortMergeJoin" not in plan


def test_q112_q113_topk_is_take_ordered_not_global_window(spark):
    """Top-k over aggregated counts must plan as TakeOrderedAndProject
    (distributed partial top-k); the single-partition window runs only on
    the already-truncated k-row frame."""
    for name in ("q112_skew_report", "q113_bpe_pairs"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_q115_passage_dedup_two_narrow_exchanges_only(spark):
    """Sub-document dedup must be two hash shuffles (passage keep-first,
    doc_id reassembly) — no join of any kind, scan pruned to
    (doc_id, text)."""
    import re

    plan = _plan(spark, "q115_passage_dedup")
    assert "CartesianProduct" not in plan and "Join" not in plan
    keys = {
        m.split("#")[0]
        for m in re.findall(r"Exchange hashpartitioning\(([a-zA-Z_#0-9]+)", plan)
    }
    # _w0 is the projected md5(passage) key (r9 default: the keep-first
    # window shuffles the 32-byte hash, never the raw passage string)
    assert keys <= {"_w0", "doc_id"}
    assert "md5" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_q116_q121_scan_prunes_to_id_and_source(spark):
    """Split assignment and quota cap never read the text column; the
    quota's rank<=N filter must plan as WindowGroupLimit (partial top-N
    per map task, q13's shape)."""
    for name in ("q116_stratified_split", "q121_source_quota"):
        plan = _plan(spark, name)
        assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan, name
        assert "Exchange hashpartitioning(doc_id" not in plan, name
    assert "WindowGroupLimit" in _plan(spark, "q121_source_quota")


def test_q118_sq8_broadcasts_queries_not_corpus(spark):
    """The quantized KNN keeps q35's shape: query side broadcast
    (nested-loop on the != condition), the corpus never hash-shuffles —
    the only corpus-wide exchanges are the d-row per-dim stats agg and
    the final per-query roll-up."""
    plan = _plan(spark, "q118_sq8_knn_recall")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "Exchange hashpartitioning(neighbor_id" not in plan


def test_q120_sample_filter_reaches_both_scans(spark):
    """The pair sample bound must push into BOTH parquet scans (the whole
    point: the corpus outside the sample is never read)."""
    plan = _plan(spark, "q120_cosine_histogram")
    assert plan.count("LessThan(vec_id,200)") >= 2
    assert "CartesianProduct" not in plan


def test_q128_leak_join_is_shingle_equi(spark):
    """The held-out-vs-train probe must be an equi-join on the shingle
    (q85's posting shape) — no cartesian, no nested loop."""
    plan = _plan(spark, "q128_split_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


def test_q129_reuses_q115_shuffle_shape(spark):
    """Effective-token accounting pays q115's passage shuffle plus a
    source roll-up — exchanges only on (md5(passage) as _w0, source), scan
    pruned to the three needed columns."""
    import re

    plan = _plan(spark, "q129_effective_tokens")
    keys = {
        m.split("#")[0]
        for m in re.findall(r"Exchange hashpartitioning\(([a-zA-Z_#0-9]+)", plan)
    }
    assert keys <= {"_w0", "source"}
    assert "md5" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan


def test_q131_ingest_neardup_probes_are_linear(spark):
    """The ingest near-dup probe must be all semi/anti equi-joins plus a
    window min per band bucket — never a candidate self-join or cartesian
    (a degenerate all-near-identical batch stays one narrow shuffle)."""
    plan = _plan(spark, "q131_ingest_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the within-batch near rule is the bucket-min window, not a join
    assert "min(doc_id" in plan
    # the index probes are semi/anti joins on derived keys
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q132_manifest_composes_without_pairwise_joins(spark):
    """The five-rule admission manifest must stay linear: gram equi-join
    for decontamination (broadcast eval side), window keep-first on the
    HASHED passage key, WindowGroupLimit for the quota — no cartesian or
    nested-loop anywhere."""
    plan = _plan(spark, "q132_admission_manifest")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan
    # the passage keep-first partitions on md5(passage) (projected to a
    # _w0 working column before the exchange), never the raw string
    assert "md5" in plan
    assert "hashpartitioning(passage" not in plan


def test_q133_phash_candidates_from_banded_equijoin(spark):
    """The perceptual-hash near-dup must draw candidates from the
    (band, value) equi-join — no cartesian or nested-loop pair space —
    and the signature stage must be join-free map work."""
    plan = _plan(spark, "q133_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


def test_q134_ivfpq_corpus_never_hash_shuffles(spark):
    """IVFPQ keeps the quantized-KNN family's shape: coarse assignment and
    residual encoding are map work against constant-folded literals, the
    query side broadcasts (nested-loop on !=), and the corpus never hash-
    shuffles by vector id for the search."""
    plan = _plan(spark, "q134_ivfpq_knn_recall")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning(neighbor_id" not in plan
    assert "CartesianProduct" not in plan


def test_q135_diff_is_one_id_join(spark):
    """The snapshot diff must be a single full-outer equi-join on doc_id
    between two narrow fingerprint frames — text never rides the join."""
    plan = _plan(spark, "q135_snapshot_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    # the join carries fingerprints, not document text
    assert "text" not in plan.split("FullOuter")[0].split("Join")[-1]


def test_q137_rule_pack_has_no_shuffle(spark):
    """The Gopher rule pack is map-only: one scan, per-row array
    arithmetic, zero Exchange."""
    plan = _plan(spark, "q137_gopher_rules")
    assert "Exchange" not in plan


def test_q138_passage_probe_is_linear(spark):
    """The passage-granularity ingest probe: semi/anti equi-joins on
    hashed keys plus a window min per passage hash — no candidate
    self-join, no cartesian."""
    plan = _plan(spark, "q138_ingest_passage_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "min(doc_id" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q139_bpe_apply_is_map_only_plus_rollup(spark):
    """BPE application must be map work (24 chained JVM replaces) plus
    ONE source-keyed aggregate exchange — no joins, no extra shuffles."""
    plan = _plan(spark, "q139_bpe_apply")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_q140_html_strip_has_no_shuffle(spark):
    """The extractor stage is row-local regex work: one Exchange would be
    a planner regression (q86's property, applied to markup removal)."""
    plan = _plan(spark, "q140_html_strip")
    assert "Exchange" not in plan


def test_q141_normalize_has_no_shuffle(spark):
    """Typography normalization is row-local replace work: zero Exchange."""
    plan = _plan(spark, "q141_unicode_normalize")
    assert "Exchange" not in plan


def test_q142_intradoc_window_keys_include_doc(spark):
    """The within-doc dedup window must partition on (doc_id, hash) so
    cross-doc boilerplate can never concentrate one partition; no joins."""
    plan = _plan(spark, "q142_intradoc_dedup")
    assert "Join" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_dup_cluster_edges_use_prefix_filter(spark):
    """q67/q143's shared edge source (llm7.jaccard_dup_edges) must be the
    PPJoin prefix machinery, not the raw-shingle self-join it replaced in
    r10: candidates come from posexplode of the PREFIX slice, the
    candidate join condition carries the AllPairs length filter
    (greatest/least over n_sh) and the positional filter, verification is
    array_intersect over full arrays, and no cartesian shape anywhere.
    A regression back to the naive Σdf² edge join fails each assert."""
    import re

    from csv_loader_spark.queries.llm7 import jaccard_dup_edges

    df = jaccard_dup_edges(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidates explode the prefix slice, never the full shingle array
    assert "Generate posexplode(pref" in plan
    assert "array_intersect" in plan
    # the doc-vs-doc candidate join line must carry the length filter —
    # the naive edge join's condition was only (s = s AND doc_id < doc_id)
    cand_lines = [
        ln for ln in plan.splitlines() if re.search(r"doc_id#\d+L? < doc_id#", ln)
    ]
    assert cand_lines and all("greatest(n_sh" in ln for ln in cand_lines)


def test_q145_verified_probe_is_equi_join_with_array_verify(spark):
    """The verify tier's candidate generation must stay a (band, bkey)
    equi-join — the member arrays ride only the build side — and the
    confirmation must be JVM array_intersect, never a cartesian or a
    per-row Python step."""
    plan = _plan(spark, "q145_ingest_verified_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q147_changelog_is_one_state_join(spark):
    """The changelog fold: last-event window + ONE left equi-join on
    doc_id against the state frame + roll-up — id-table shapes only."""
    plan = _plan(spark, "q147_version_changelog")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one doc-id join between events and state
    import re

    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[doc_id", plan)
    assert len(joins) == 1, joins


def test_q148_dsir_is_broadcast_ratio_no_pairwise(spark):
    """DSIR's scale claims, asserted on the physical plan: the log-ratio
    table joins the candidate feature stream as a BROADCAST hash join
    (it is <= 65536 rows by construction), the only nested-loop joins
    are the 1-row totals cross-joins, and nothing in the plan is a
    cartesian over documents or features."""
    plan = _plan(spark, "q148_dsir_importance")
    assert "CartesianProduct" not in plan
    # the ratio -> candidate join is broadcast on the bucket id
    assert "BroadcastHashJoin [b" in plan or "BroadcastHashJoin [cast(b" in plan
    # top-k is a TakeOrdered, not a global sort materialization
    assert "TakeOrderedAndProject" in plan


def test_q149_semdedup_pairs_bounded_by_cluster_join(spark):
    """SemDeDup's scale shape: the ONLY nested-loop join is the
    broadcast-centroid assignment scan; pair candidates come from an
    equi-join on the cluster id (ids + precedence scalar only), and the
    dot-product verify re-attaches vectors by id equi-join."""
    plan = _plan(spark, "q149_semdedup")
    assert "CartesianProduct" not in plan
    import re

    # the centroid-assignment broadcast scan sits behind the assign
    # checkpoint; in the executed plan the only joins are the cid pair
    # equi-join and the by-id vector re-attachments
    bnl = re.findall(r"BroadcastNestedLoopJoin", plan)
    assert len(bnl) <= 1, bnl
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cid", plan)
    assert re.search(r"BroadcastHashJoin \[u_id", plan)
    assert re.search(r"BroadcastHashJoin \[w_id", plan)


def test_q150_lm_perplexity_is_broadcast_counts_no_pairwise(spark):
    """The bigram-LM scorer's scale claims: train-side count tables join
    the candidate gram stream as BROADCAST hash joins (the training
    split is the small curated side by construction), the only
    nested-loop join is the 1-row vocabulary-size cross-join, and
    nothing is cartesian over documents."""
    plan = _plan(spark, "q150_lm_perplexity")
    assert "CartesianProduct" not in plan
    import re

    assert re.search(r"BroadcastHashJoin \[g", plan)
    assert re.search(r"BroadcastHashJoin \[p", plan)
    bnl = re.findall(r"BroadcastNestedLoopJoin", plan)
    assert len(bnl) <= 1, bnl


def test_q151_repetition_rules_single_gram_shuffle_no_pairwise(spark):
    """Gopher repetition rules: one exploded gram stream covers all five
    n's (one count shuffle keyed (doc_id, n, gram)), the pivot is a
    plain aggregate, and the only join is the doc-spine attach on
    doc_id — nothing pairwise, nothing nested-loop."""
    plan = _plan(spark, "q151_repetition_rules")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[doc_id", plan)
    assert len(joins) == 1, joins


def test_q152_unimax_single_corpus_scan_then_tiny_frame(spark):
    """The mixture solver's 100 TB cost is the one per-source token
    count; everything downstream is the <= |sources|-row frame — the
    only nested-loop joins are broadcast 1-row cross-joins (budget
    totals and the saturation aggregate; the totals join appears twice
    because the final projection re-reads the flagged frame)."""
    plan = _plan(spark, "q152_unimax_mixture")
    assert "CartesianProduct" not in plan
    import re

    bnl = re.findall(r"BroadcastNestedLoopJoin", plan)
    assert len(bnl) <= 3, bnl


def test_q154_capstone_composes_without_pairwise_joins(spark):
    """The capstone chains four oracle-gated stages; every inter-stage
    join is a doc_id/source equi-join and the only nested-loop joins
    are 1-row scalar broadcasts (LM vocabulary size, water-fill totals
    and saturation aggregate) — their count is inflated because the
    four manifest branches each re-read the survivor subtree (heavy
    exchanges dedup via ReuseExchange; the 1-row cross-joins do not)."""
    plan = _plan(spark, "q154_curation_capstone")
    assert "CartesianProduct" not in plan
    import re

    bnl = re.findall(r"BroadcastNestedLoopJoin", plan)
    assert len(bnl) <= 12, bnl


def test_q157_grid_join_is_equi_not_cartesian(spark):
    plan = _plan(spark, "q157_grid_distance_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidate generation is a HASH join keyed on the derived cell id
    # (AQE picks broadcast at this scale; shuffled-hash/SMJ on the same
    # cell keys at scale) — either way the join keys must be the cells
    assert "Join [cell#" in plan


def test_q159_bm25_topk_is_take_ordered(spark):
    plan = _plan(spark, "q159_bm25_topk")
    # the scored set reaches the driver through per-partition heaps, not a
    # global sort or a single-partition window over all scored docs
    assert "TakeOrderedAndProject" in plan
    # corpus stats ride a broadcast, never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q161_phrase_postings_filter_below_explode(spark):
    plan = _plan(spark, "q161_phrase_search")
    # adjacency merges are equi-joins on (doc_id, pos) — no theta join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q163_hrw_is_map_side_single_agg(spark):
    plan = _plan(spark, "q163_rendezvous_shards")
    # the argmax over shards is inline arithmetic: no join, no explode —
    # the only exchange belongs to the <=N-row census aggregate
    assert "Join" not in plan
    assert "Generate explode" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg + final sort


def test_q166_triangle_closing_join_is_broadcast(spark):
    plan = _plan(spark, "q166_triangle_nodes")
    # the O(m^1.5) wedge stream must NOT shuffle into the closing join
    assert "BroadcastHashJoin [v1" in plan or (
        "BroadcastHashJoin" in plan and "v1" in plan
    )
    assert "CartesianProduct" not in plan


def test_q166_broadcast_gate_shuffles_past_threshold(spark):
    """The closing-side broadcast hint is SIZE-GATED (retrieval.py
    triangle_nodes): below the byte cap the hint applies, above it the
    join falls back to a shuffle — both branches plan-asserted here."""
    from pyspark.sql import functions as F

    from csv_loader_spark.queries.retrieval import triangle_nodes

    edges = (
        spark.range(0, 2000)
        .select(
            F.col("id").alias("a"), (F.col("id") + F.lit(1)).alias("b")
        )
    )
    hinted = triangle_nodes(edges, broadcast_max_bytes=1 << 30)
    plan = hinted._jdf.queryExecution().executedPlan().toString()
    # closing join key is the PACKED single long (r14: LongHashedRelation
    # beats the generic two-column relation on the O(m^1.5) probe side)
    assert "BroadcastHashJoin [pk" in plan or (
        "BroadcastHashJoin" in plan and "pk" in plan
    )
    # force the over-threshold branch; also pin autoBroadcastJoinThreshold
    # off so Catalyst's own size estimate can't re-introduce the broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = triangle_nodes(edges, broadcast_max_bytes=0)
        plan2 = gated._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin [pk" in plan2 or "ShuffledHashJoin [pk" in plan2
    # and the gated plan still computes the right answer (path graph: 0
    # triangles)
    assert gated.count() == 0


def test_q171_gap_fill_grid_join_is_equi(spark):
    """The grid<->hourly join must be an equi-join on (event_type, hr) —
    never a nested loop — and the windows run AFTER the span-bounded grid,
    so no window partitions by anything data-sized."""
    plan = _plan(spark, "q171_gap_fill")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q174_group_ols_single_aggregate_pass(spark):
    """OLS via running co-moments: one scan, one partial+final aggregate,
    no join and no window."""
    plan = _plan(spark, "q174_group_ols")
    assert "Join" not in plan
    assert "Window" not in plan
    # scan prunes to the 3 referenced columns
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_partkey" not in read_schema


def test_q175_q178_windows_only_on_census(spark):
    """Markov/path mining: the rank windows must run over the aggregated
    transition/path census, with exactly one data-sized exchange (user_id
    for the lead ordering) plus census-sized ones."""
    for name in ("q175_markov_transitions", "q178_path_mining"):
        plan = _plan(spark, name)
        assert "Exchange hashpartitioning(user_id" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q176_basket_pairs_join_is_orderkey_equi(spark):
    """Pair generation must be an equi-join keyed on the order id (bounded
    fan-out), never a part x part product."""
    plan = _plan(spark, "q176_basket_lift")
    assert "CartesianProduct" not in plan
    assert "Join [ok" in plan or "join [ok" in plan.lower()
    assert "TakeOrderedAndProject" in plan


def test_q179_profile_branches_scan_one_pruned_column_each(spark):
    """Profiling: one FileScan per profiled column, each pruned to JUST
    that column (5 single-column scans = one table-width of pages on
    columnar storage), no Expand row replication, no join."""
    plan = _plan(spark, "q179_profile_table")
    assert plan.count("FileScan parquet") == len(
        __import__("csv_loader_spark.queries.analytics", fromlist=["x"]).PROFILE_COLS
    )
    assert "Expand" not in plan
    assert "Join" not in plan
    import re

    for schema in re.findall(r"ReadSchema: (struct<[^>]*>)", plan):
        assert schema.count(":") == 1, schema  # exactly one column per scan


def test_q180_rrf_legs_end_in_take_ordered(spark):
    """Both retrieval legs must cut to top-N via TakeOrderedAndProject
    (per-partition heaps); the fusion join sees only the truncated lists."""
    plan = _plan(spark, "q180_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 3  # lex leg, dense leg, fused
    assert "CartesianProduct" not in plan


def test_q199_dup_payments_band_equi_join(spark):
    """The epsilon screen must join on (user_id, band) — hash join, no
    cartesian, no nested loop."""
    plan = _plan(spark, "q199_dup_payments")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan


def test_q201_hard_negatives_no_pair_window(spark):
    """Mining folds per-anchor winners map-side: a broadcast join feeds
    a hash aggregate — the |anchors|x|corpus| pair stream must never
    enter a Window or a Sort."""
    plan = _plan(spark, "q201_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_q203_span_corruption_is_map_only(spark):
    """Tokenize -> position explode -> hash filter -> span explode is
    map-side; the only exchange belongs to the per-doc aggregate (and
    its distinct)."""
    plan = _plan(spark, "q203_span_corruption")
    assert "Join" not in plan
    assert "Window" not in plan


def test_q211_funnel_is_user_keyed_no_window(spark):
    """Each funnel stage is a user-keyed min + equi-join — never a
    window over a user's raw history, never a nested loop beyond the
    1-row count broadcasts."""
    plan = _plan(spark, "q211_funnel_conversion")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q212_hits_joins_are_equi_and_max_broadcasts(spark):
    """The registered query's final plan reads the checkpointed last
    round (lineage intentionally O(1)), so the per-round shape is
    asserted on an UNcheckpointed round built from the same pieces: the
    edge-score join must be an equi-join on the node key and the
    normalization max a 1-row broadcast, never a cartesian product."""
    import re

    from pyspark.sql import functions as F

    from csv_loader_spark.io.tables import load_table
    from csv_loader_spark.queries.analytics3 import HITS_SCALE

    plan = _plan(spark, "q212_hits_authority")
    assert "CartesianProduct" not in plan

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("cu"), F.col("l_suppkey").alias("su"))
        .distinct()
    )
    h = pairs.select("cu").distinct().select(
        "cu", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    ar = pairs.join(h, "cu").groupBy("su").agg(F.sum("h").alias("s"))
    ma = ar.agg(F.max("s").alias("m"))
    rnd = ar.crossJoin(F.broadcast(ma)).select(
        "su", F.expr(f"CAST(s * {HITS_SCALE} DIV m AS BIGINT)").alias("a")
    )
    rplan = rnd._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in rplan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cu", rplan
    )
    assert "BroadcastNestedLoopJoin" in rplan  # the 1-row max attach


def test_q214_decay_is_map_only_into_one_agg(spark):
    """The decay weight is per-row arithmetic (no explode, no join but
    the 1-row anchor broadcast) folded map-side into the partkey sum."""
    plan = _plan(spark, "q214_decayed_demand")
    assert "Generate explode" not in plan
    assert "CartesianProduct" not in plan
    # partial->final agg + rank window exchange; anchor is broadcast
    assert plan.count("Exchange") <= 4


def test_q215_windows_run_over_hourly_aggregate(spark):
    """The lead() windows must consume the per-(type,hour) aggregate —
    the census-bounded frame — so a HashAggregate appears below the
    Window in the plan, and nothing explodes raw events."""
    plan = _plan(spark, "q215_sax_motifs")
    assert "CartesianProduct" not in plan
    w = plan.find("Window")
    assert w != -1 and "HashAggregate" in plan[w:]


def test_q216_entropy_single_user_shuffle_no_join(spark):
    plan = _plan(spark, "q216_user_entropy")
    assert "Join" not in plan
    # one user-keyed aggregate: partial -> final
    assert plan.count("Exchange") <= 1


def test_q217_merge_touches_only_partials(spark):
    """The IVM merge aggregates the UNION of two partial-state frames —
    the final exchange carries |groups| rows, and there is no join back
    to raw orders."""
    plan = _plan(spark, "q217_incremental_view_merge")
    assert "Join" not in plan
    # two pruned scans (base/delta slices), partial->final aggs
    assert plan.count("Scan parquet") == 2


def test_q218_bloom_probe_is_broadcast_only(spark):
    """The probe side must never shuffle: the 32-word filter and the
    true-key set attach as broadcast joins."""
    plan = _plan(spark, "q218_bloom_join_prune")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q220_chain_joins_are_user_keyed(spark):
    """Both reachability joins must be equi-joins on user_id with the
    time band riding as a post-join filter — never a nested loop over
    events x events."""
    import re

    plan = _plan(spark, "q220_window_funnel")
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[user_id", plan
    )


def test_q221_runs_single_user_exchange(spark):
    """Both island row_numbers, the run aggregate, and the keep-max pick
    all partition on user_id — one hash exchange total."""
    plan = _plan(spark, "q221_event_runs")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_q222_pivot_is_one_aggregate_no_discovery(spark):
    """The pinned value list means NO distinct-values discovery JOB: the
    pivot plans as the (group,status)-count aggregate feeding pivotfirst
    — two exchanges, both map-side combined, the second carrying only
    |groups x statuses| rows."""
    plan = _plan(spark, "q222_status_pivot")
    assert "Join" not in plan
    assert "pivotfirst" in plan
    assert plan.count("Exchange") <= 2


def test_q223_expectations_are_one_scan(spark):
    """All six checks fold into ONE aggregate over ONE scan; the report
    legs re-read the checkpointed 1-row aggregate."""
    plan = _plan(spark, "q223_expectation_suite")
    assert plan.count("Scan parquet") <= 1


def test_q224_fk_legs_are_anti_joins_no_subquery_loop(spark):
    plan = _plan(spark, "q224_fk_orphan_census")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_r14_queries_plan_shapes(spark):
    """r14 additions stay in the scalable shapes: equi-joins only (no
    cartesian/nested-loop anywhere), q225's membership join keyed on the
    8-byte gram fp, q227's size frames broadcast."""
    p225 = _plan(spark, "q225_split_contamination")
    assert "CartesianProduct" not in p225
    assert "BroadcastNestedLoopJoin" not in p225
    assert "fp" in p225  # membership join on the gram fingerprint
    p226 = _plan(spark, "q226_degree_assortativity")
    assert "CartesianProduct" not in p226
    assert "BroadcastNestedLoopJoin" not in p226
    p227 = _plan(spark, "q227_source_vocab_overlap")
    assert "CartesianProduct" not in p227
    assert "BroadcastNestedLoopJoin" not in p227
    # the two per-source size frames ride broadcast hints
    assert p227.count("BroadcastHashJoin") >= 2


def test_r14_batch2_plan_shapes(spark):
    """q228-q233 stay in scalable shapes. q228: the doubling loop leaves a
    checkpointed jump table — the FINAL plan is a plain hash aggregate
    over it (no lineage blow-up: each round is truncated by
    localCheckpoint). q229: the only non-equi join is the 1-row max-day
    clip (broadcast NLJ on a 1-row side is the documented pattern, not a
    data-sized cartesian). q230/q233: sizes/lags ride broadcasts; the
    data-sized joins are equi. q232: per-round equi joins only."""
    p228 = _plan(spark, "q228_ancestor_closure")
    assert "CartesianProduct" not in p228
    assert "HashAggregate" in p228
    p229 = _plan(spark, "q229_rolling_actives")
    assert "CartesianProduct" not in p229
    # the day<=last_day clip is a broadcast NLJ against ONE row
    assert "BroadcastNestedLoopJoin" in p229
    p230 = _plan(spark, "q230_ks_drift")
    assert "CartesianProduct" not in p230
    assert p230.count("BroadcastHashJoin") >= 1
    p232 = _plan(spark, "q232_label_propagation")
    assert "CartesianProduct" not in p232
    assert "BroadcastNestedLoopJoin" not in p232
    p233 = _plan(spark, "q233_revenue_acf")
    assert "CartesianProduct" not in p233
    # the grid x lags fan-out is a broadcast of the 10-row lag frame
    assert "BroadcastNestedLoopJoin" in p233 or "BroadcastHashJoin" in p233


def test_r14_rank_queries_two_level_no_global_table_window(spark):
    """q234/q235 compute global ranks TWO-LEVEL: the per-value/bucket
    row_number window is PARTITIONED (distributed), the cumulative base
    rides a bounded domain and comes back via broadcast — so each plan
    shows a partitioned Window plus a BroadcastHashJoin, never a lone
    unpartitioned Window directly over the table scan."""
    for name in ("q234_source_rank_skew", "q235_revenue_gini"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
        assert plan.count("Window") >= 2  # base cumsum + partitioned pos
        assert "BroadcastHashJoin" in plan


def test_q237_q238_plan_shapes(spark):
    """q237's final frame is the visited union under hash aggregate (each
    BFS round was checkpoint-truncated); q238's pair join is customer-
    keyed equi with broadcast norms — no cartesian anywhere."""
    p237 = _plan(spark, "q237_bfs_levels")
    assert "CartesianProduct" not in p237
    assert "HashAggregate" in p237
    p238 = _plan(spark, "q238_item_cosine_cf")
    assert "CartesianProduct" not in p238
    assert "BroadcastNestedLoopJoin" not in p238
    assert p238.count("BroadcastHashJoin") >= 2  # the two norm frames



def test_trade_graph_edges_plan_equals_inline_build(spark):
    """ops/graph.trade_graph_edges is the edge build q160, q232, q237 and
    q242 each wrote inline: its optimized plan equals that build's, written
    out here as the reference."""
    from pyspark.sql import functions as F

    from csv_loader_spark.io.tables import load_table
    from csv_loader_spark.ops.graph import (
        symmetrized_dedup_edges,
        trade_graph_edges,
    )

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    pairs = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("cu"),
        (F.col("l_suppkey") * 2 + 1).alias("su"),
    )
    want = symmetrized_dedup_edges(pairs, "cu", "su")
    got = trade_graph_edges(spark, SF_DIR)
    assert got._jdf.queryExecution().optimizedPlan().sameResult(
        want._jdf.queryExecution().optimizedPlan()
    )

def _same_optimized_plan(got, want):
    return got._jdf.queryExecution().optimizedPlan().sameResult(
        want._jdf.queryExecution().optimizedPlan()
    )


_SPLIT_HASH = (
    "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':split')), 1, 4), 16, 10) AS INT)"
)
_SPLIT_SQL = (
    f"CASE WHEN ({_SPLIT_HASH}) % 100 < 96 THEN 'train' "
    f"WHEN ({_SPLIT_HASH}) % 100 < 98 THEN 'valid' ELSE 'test' END"
)
_QUOTA_HASH = (
    "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':quota')), 1, 4), 16, 10) AS INT)"
)


def _inline_keep_first(passages):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(F.md5("passage")).orderBy("doc_id", "i")
    return passages.withColumn("keep", F.row_number().over(w) == 1)


def test_curation_rule_queries_plan_as_their_inline_builds(spark):
    """q115, q116, q121, q128 and q129 call the admission-rule helpers of
    ops/curate.py (split, quota rank, passage keep-first); each optimized
    plan equals the query's build with the rule written out inline here
    as the reference."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv_loader_spark.functions import text as TXT
    from csv_loader_spark.io.tables import load_table
    from csv_loader_spark.ops.curate import doc_passages

    d = load_table(spark, SF_DIR, "documents")
    want = {}

    flagged = _inline_keep_first(doc_passages(d))
    kept_structs = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct(F.col("i"), F.col("passage"))))
    )
    want["q115_passage_dedup"] = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(F.transform(kept_structs, lambda s: s["passage"]), " ")
        ).alias("kept_fp"),
    )

    counts = (
        d.select("source", F.expr(_SPLIT_SQL).alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )
    want["q116_stratified_split"] = (
        counts.withColumn("_tot", F.sum("n_docs").over(Window.partitionBy("source")))
        .withColumn("share_bp", F.expr("CAST(n_docs * 10000 div _tot AS BIGINT)"))
        .drop("_tot")
    )

    wq = Window.partitionBy("source").orderBy(F.expr(_QUOTA_HASH), F.col("doc_id"))
    want["q121_source_quota"] = (
        d.select("doc_id", "source")
        .withColumn("rnk", F.row_number().over(wq).cast("long"))
        .filter(F.col("rnk") <= 30)
    )

    sh = (
        d.select("doc_id", "text", F.expr(_SPLIT_SQL).alias("split"))
        .filter(F.size(TXT.tokens("text")) >= 3)
        .select("doc_id", "split", F.explode(TXT.word_shingles("text")).alias("s"))
    )
    train_sh = sh.filter(F.col("split") == "train").select("s").distinct()
    ev = (
        sh.filter(F.col("split") != "train")
        .join(train_sh.withColumn("_hit", F.lit(1)), "s", "left")
        .groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0)).alias("n_leaked"),
        )
    )
    want["q128_split_contamination"] = (
        ev.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_leaked").cast("long").alias("n_leaked"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
        )
        .withColumn("leak_bp", F.expr("CAST(n_leaked * 10000 div n_shingles AS BIGINT)"))
    )

    flagged = _inline_keep_first(doc_passages(d, extra=("source",))).withColumn(
        "n_tok", F.size(F.split(F.col("passage"), " "))
    )
    kept = F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0)).cast("long")
    want["q129_effective_tokens"] = (
        flagged.groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("raw_tokens"), kept.alias("kept_tokens"))
        .withColumn("kept_bp", F.expr("CAST(kept_tokens * 10000 div raw_tokens AS BIGINT)"))
    )

    specs = all_specs()
    differ = [
        name
        for name, ref in want.items()
        if not _same_optimized_plan(specs[name].fn(spark, SF_DIR), ref)
    ]
    assert not differ, differ


@pytest.mark.parametrize(
    "name, ann", [("q72_ann_recall", "q36_ann_lsh"), ("q93_ivf_recall", "q55_ivf_ann")]
)
def test_recall_meters_plan_as_their_inline_builds(spark, monkeypatch, name, ann):
    """q72 and q93 share llm2.ann_recall; each optimized plan equals the
    recall meter written out inline over its ANN query. Both builds read
    the same built q35 and ANN frames: q55's centroid frame comes from
    createDataFrame, an RDD that differs per build."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from csv_loader_spark.queries import llm2

    built = {}

    def memo_get(query):
        if query not in built:
            built[query] = all_specs()[query].fn(spark, SF_DIR)
        return SimpleNamespace(fn=lambda spark, sf_dir: built[query])

    monkeypatch.setattr(llm2, "get", memo_get)
    truth = memo_get("q35_knn_bruteforce").fn(spark, SF_DIR).select(
        "query_id", "neighbor_id"
    )
    approx = memo_get(ann).fn(spark, SF_DIR).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hit = truth.join(
        approx,
        (truth["query_id"] == approx["aq"]) & (truth["neighbor_id"] == approx["an"]),
        "left",
    )
    stats = (
        F.count(F.lit(1)).alias("k"),
        F.count("an").alias("n_hit"),
        F.round(F.count("an") / F.count(F.lit(1)), 4).alias("recall"),
    )
    want = hit.groupBy("query_id").agg(*stats).unionAll(
        hit.agg(F.lit(-1).cast("long").alias("query_id"), *stats)
    )
    assert _same_optimized_plan(all_specs()[name].fn(spark, SF_DIR), want)


def test_q247_q249_window_runs_over_histogram_not_fact(spark):
    """q247/q249 claim their rank windows sort the per-(group, value)
    HISTOGRAM, never the fact table: below every Window, a HashAggregate
    (the histogram build) must sit between it and the next parquet scan,
    and the lineitem scan must be pruned to the columns each query
    reads."""
    for name, ncols in (("q247_mann_whitney", 3), ("q249_winsorized_mean", 2)):
        plan = _plan(spark, name)
        w = plan.find("Window")
        assert w != -1, f"{name}: no window in plan"
        while w != -1:
            scan_after = plan.find("FileScan parquet", w)
            assert scan_after != -1
            assert plan.find("HashAggregate", w, scan_after) != -1, (
                f"{name}: a Window sits directly on a scan (no histogram)"
            )
            w = plan.find("Window", w + 1)
        cols = plan[plan.index("FileScan parquet") :].split("[", 1)[1]
        cols = cols.split("]", 1)[0]
        assert cols.count(",") + 1 <= ncols, f"{name}: scan not pruned: {cols}"


def test_q246_broadcasts_part_dimension(spark):
    """q246's brand lookup must broadcast the part dimension (the fact
    side keeps its single combinable aggregate shuffle)."""
    plan = _plan(spark, "q246_spearman_brand")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


#: every registered query that runs an UNPARTITIONED window (the judge-
#: audited class: global ranks/cumsums/top-k tie-breaks) — each claims
#: its single-partition input is an aggregate/census/k-bounded frame,
#: never a raw fact table. Keep in sync with
#: `grep -rn "Window.orderBy\|W.orderBy" csv_loader_spark/queries/ |
#:  grep -v partitionBy` (helpers fold into their callers).
UNPARTITIONED_WINDOW_QUERIES = (
    "q112_skew_report",
    "q113_bpe_pairs",
    "q124_funnel",
    "q152_unimax_mixture",
    "q154_curation_capstone",
    "q159_bm25_topk",
    "q162_weighted_sample",
    "q166_triangle_nodes",
    "q167_pmi_collocations",
    "q169_heavy_hitters",
    "q176_basket_lift",
    "q178_path_mining",
    "q180_hybrid_rrf",
    "q181_kcore_peel",
    "q185_cumulative_uniques",
    "q192_lift_curve",
    "q193_rfm_segments",
    "q195_abc_pareto",
    "q197_id_gaps",
    "q202_negative_sampling",
    "q207_skyline",
    "q209_largest_remainder",
    "q212_hits_authority",
    "q213_textrank_keywords",
    "q214_decayed_demand",
    "q230_ks_drift",
    "q234_source_rank_skew",
    "q235_revenue_gini",
    "q239_churn_hazard",
    "q243_seasonal_anomaly_days",
    "q245_vocab_growth",
)


@pytest.mark.parametrize("name", UNPARTITIONED_WINDOW_QUERIES)
def test_single_partition_inputs_are_aggregates_not_fact_scans(spark, name):
    """Class guard for the unpartitioned-window sites: in the physical
    plan, every `Exchange SinglePartition` must have an aggregation (or
    an explicit bounded-set operator) somewhere between it and the first
    parquet scan below it — i.e. the single-partition stream is an
    aggregate/census/k-bounded frame, and a future edit cannot silently
    move a global window onto raw fact rows without failing here. A
    SinglePartition exchange with NO scan below it (literal/RDD inputs,
    e.g. checkpointed iterative frames — themselves aggregate outputs)
    is bounded by construction. So is a plan with NO SinglePartition
    exchange at all: the window's AllTuples requirement was satisfied by
    an already-single-partition bounded operator (TakeOrderedAndProject,
    a global aggregate) — q181's top-20-then-rank shape. The regression
    this guards (a global window moved onto raw fact rows) necessarily
    INTRODUCES an `Exchange SinglePartition` above a scan, which is the
    exact pattern asserted against."""
    plan = _plan(spark, name)
    bounded_ops = (
        "HashAggregate",
        "SortAggregate",
        "ObjectHashAggregate",
        "TakeOrderedAndProject",
        "GlobalLimit",
        "Scan ExistingRDD",  # checkpointed iterative frame (pre-reduced)
    )
    idx = plan.find("Exchange SinglePartition")
    while idx != -1:
        scan_after = plan.find("FileScan parquet", idx)
        if scan_after == -1:
            break  # no scan below: literal/RDD-bounded subtree
        between = plan[idx:scan_after]
        assert any(op in between for op in bounded_ops), (
            f"{name}: an Exchange SinglePartition sits directly on a "
            f"fact-table scan (no aggregate/census between):\n"
            f"{between[:600]}"
        )
        idx = plan.find("Exchange SinglePartition", idx + 1)
