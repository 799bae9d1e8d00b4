"""Physical-plan shape assertions backing SCALING.md's claims.

Each test checks the property that makes an operator survive a 100-1000x
scale-up — pushdown reached the scan, the dimension side broadcast, top-k
compiled to TakeOrderedAndProject, map-only ops stayed shuffle-free — not
just that the query returns rows. `.explain("formatted")` is the witness.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from cdc_dedupe_spark.queries import REGISTRY


def plan_of(spark, sf_dir: str, name: str, mode: str = "formatted") -> str:
    df = REGISTRY[name].spark(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="session")
def batch_plans(spark, sf_dir) -> dict[str, str]:
    """name -> formatted plan of every batch query, built and explained
    once for the registry-wide sweeps. Streaming queries execute on build
    and are plan-checked by their own tests."""
    return {
        name: plan_of(spark, sf_dir, name)
        for name, q in REGISTRY.items()
        if q.group != "streaming" and name != "cdc_dedupe_stream"
    }


def n_exchanges(plan: str) -> int:
    """Count Exchange nodes in a formatted plan (detail section lines)."""
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))


def test_scan_pushdown_and_pruning(spark, sf_dir):
    """Predicate + projection must reach the parquet scan (SCALING.md:
    'no query reads a column it does not output or filter on')."""
    plan = plan_of(spark, sf_dir, "scan_project_filter")
    assert "PushedFilters:" in plan
    # the quantity/discount predicates are pushed, not just IsNotNull
    assert re.search(r"PushedFilters:.*LessThan\(l_quantity", plan)
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_discount", plan)
    # ReadSchema pruned to the 4 referenced columns (16 in the table)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == [
        "l_discount",
        "l_extendedprice",
        "l_linenumber",
        "l_orderkey",
        "l_quantity",
    ]


def test_groupby_partial_aggregation(spark, sf_dir):
    """Q1-style agg must be two-phase (map-side partial) so bytes shuffled
    = |groups|, not |rows| — and stay inside whole-stage codegen."""
    plan = plan_of(spark, sf_dir, "agg_groupby")
    assert "partial_sum" in plan and "partial_count" in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.MULTILINE)) >= 2
    # codegen subtrees are only visible pre-execution with AQE off; the
    # registry re-tunes AQE on at call time, so toggle AFTER plan build
    # (explain prepares the physical plan lazily, reading conf then)
    df = REGISTRY["agg_groupby"].spark(spark, sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("codegen")
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", buf.getvalue())
        assert m and int(m.group(1)) >= 2, buf.getvalue()[:300]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_broadcast_hint_pins_strategy(spark, sf_dir):
    """Explicit broadcast(part): the 100 TB fact side must never shuffle
    for a dimension join."""
    plan = plan_of(spark, sf_dir, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    # no shuffle of the fact side for the join itself: the only exchanges
    # allowed are the broadcast one and the final agg shuffle
    assert "Exchange hashpartitioning(l_partkey" not in plan


def test_multiway_dims_broadcast(spark, sf_dir):
    """region->nation->customer chain: both dim joins broadcast."""
    plan = plan_of(spark, sf_dir, "join_multiway")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2


def test_fanout_routing_broadcasts(spark, sf_dir):
    """CDC fan-out (S6): the O(10)-row routing table broadcasts; the event
    stream never shuffles for routing (SCALING.md CDC family)."""
    plan = plan_of(spark, sf_dir, "cdc_fanout_route")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    """orderBy().limit(k) must compile to TakeOrderedAndProject —
    per-partition top-k + k-row driver merge, no global sort."""
    plan = plan_of(spark, sf_dir, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan
    # no full Sort node materializes outside the top-k operator
    assert not re.search(r"\bSort \[", plan.split("TakeOrderedAndProject")[0])


def test_cosine_topk_broadcasts_probe(spark, sf_dir):
    """ANN brute-force baseline: probe vector broadcasts (map-side dot
    product), result via TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "sim_cosine_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


@pytest.mark.parametrize("name", ["text_quality", "text_token_count", "text_langid", "pipeline_quality_gate"])
def test_map_only_ops_have_no_shuffle(spark, sf_dir, name):
    """Per-document scoring ops are pure map-side HOFs — zero Exchange
    nodes, linear scaling with input splits (SCALING.md LLM family)."""
    plan = plan_of(spark, sf_dir, name)
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("name", ["dedup_simhash", "text_repetition"])
def test_heavy_map_ops_spread_narrow_scans_only(spark, sf_dir, name):
    """Heavy per-doc kernels use spread_scan: on the one-file local corpus
    that is EXACTLY ONE hash exchange on doc_id directly over the scan
    (the serial-kernel fix, SCALING.md r13); on an already-wide scan
    spread_scan is a no-op and the plan would carry zero exchanges."""
    plan = plan_of(spark, sf_dir, name)
    assert n_exchanges(plan) <= 1, plan
    if n_exchanges(plan) == 1:
        # formatted mode puts the partitioning in the detail section
        assert re.search(r"hashpartitioning\(doc_id", plan), plan


def test_exact_dedupe_single_shuffle(spark, sf_dir):
    """Exact dedupe: map-side hashing then ONE shuffle on the digest."""
    plan = plan_of(spark, sf_dir, "dedup_exact_hash")
    assert n_exchanges(plan) == 1


def test_window_dedupe_single_shuffle(spark, sf_dir):
    """First-wins dedupe (S9): exactly one hash-partition exchange on the
    dedupe key feeds the codegen'd window."""
    plan = plan_of(spark, sf_dir, "cdc_dedupe_first")
    assert n_exchanges(plan) == 1
    # rank-limit pushdown: top-1-per-key pre-filtered on the map side too
    assert "WindowGroupLimit" in plan


def test_no_cartesian_products_anywhere(batch_plans):
    """Global sweep: no declared batch query may compile to a
    CartesianProduct — every cross join in the registry is a deliberate
    broadcast of an O(1)-row side (probe vectors, centroids), which plans
    as BroadcastNestedLoopJoin instead. A true cartesian at 100 TB is a
    non-starter."""
    for name, p in batch_plans.items():
        assert "CartesianProduct" not in p, name


@pytest.mark.parametrize(
    "name",
    ["dedup_embed_cosine", "dedup_ngram_jaccard", "dedup_embed_lsh", "dedup_minhash_exact"],
)
def test_banded_self_joins_use_equi_hash_join(spark, sf_dir, name):
    """The banded near-dup self-joins must join on the derived id-bucket
    equi key — a hash/sort-merge join with the range predicate as a
    post-filter. A range-only condition compiles to
    BroadcastNestedLoopJoin (all-pairs + full-table broadcast), which is
    exactly the 100x-scale killer VERDICT r1 flagged. Since round 9 the
    LSH queries also carry ONE deliberate unconditioned Cross BNLJ: the
    one-row broadcast corpus count that sizes the plane shift (the same
    scalar-broadcast shape as kmeans' centroid row) — allowed only when
    the BNLJ line is a bare Cross (no join condition = no range
    predicate smuggled in) and the bucket equi join is still present."""
    plan = plan_of(spark, sf_dir, name)
    for line in plan.splitlines():
        stripped = line.strip()
        if "BroadcastNestedLoopJoin" in stripped and not stripped.startswith("("):
            # tree node line (details-section headers start with "(N)")
            assert "Cross BuildRight" in stripped, plan
    # and no BNLJ carries a join condition (a conditioned BNLJ = the
    # range-only all-pairs shape this test exists to forbid)
    details = re.split(r"\n(?=\(\d+\) )", plan)
    for block in details:
        if block.startswith("(") and "BroadcastNestedLoopJoin" in block.splitlines()[0]:
            assert "Join condition: None" in block, block
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan), plan


def test_ivf_assignment_is_map_side(spark, sf_dir):
    """IVF centroid assignment must be a per-row HOF argmin over a
    broadcast centroid array — NO Exchange (and no Window) between the
    embeddings scan and the assignment. The r2 shape (crossJoin ×K +
    Window.partitionBy(vec_id) row_number) shuffled K·n rows to compute an
    argmin that is computable map-side; at 100 TB that shuffle is the whole
    job. The only allowed exchanges are broadcasts (centroid row, probe
    row) and the final top-k merge."""
    plan = plan_of(spark, sf_dir, "ann_ivf_topk")
    assert "Window" not in plan, plan
    # every Exchange must be a broadcast (or the single-partition top-k);
    # no hashpartitioning of the embedding table anywhere
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir):
    """join_asof compiles to tagged-union + window — ONE user_id exchange
    and no join operator at all (a range join here would explode to
    candidate pairs)."""
    plan = plan_of(spark, sf_dir, "join_asof")
    assert "Join" not in plan, plan
    assert n_exchanges(plan) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_bm25_never_hash_shuffles_documents(spark, sf_dir):
    """text_bm25_topk: corpus stats collapse to one broadcast row and
    scoring is per-row, so the documents table reaches the top-k without
    any hash-partition exchange (only the single-partition stats agg and
    the broadcast)."""
    plan = plan_of(spark, sf_dir, "text_bm25_topk")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_pretrain_pipeline_single_shuffle(spark, sf_dir):
    """pipeline_pretrain_docs: quality filter and sample are map-side;
    the only exchange is the dedupe-keeper hash partition on md5(text)."""
    plan = plan_of(spark, sf_dir, "pipeline_pretrain_docs")
    assert n_exchanges(plan) == 1, plan


def test_kmeans_assignments_are_map_side(spark, sf_dir):
    """ml_kmeans_train: both Lloyd assignment steps are HOF argmins over
    one broadcast centroid row, and the centroid update is a partial
    aggregate — the embedding table must never be hash-exchanged on
    vec_id (only the K-group agg keys shuffle) and no Window may appear."""
    plan = plan_of(spark, sf_dir, "ml_kmeans_train")
    assert "Window" not in plan, plan
    assert "hashpartitioning(vec_id" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize("name", ["sample_stratified"])
def test_pipeline_text_ops_are_map_only(spark, sf_dir, name):
    """Deterministic stratified sampling is pure per-row work: the plan
    must contain no Exchange of any kind. (text_repetition moved to the
    heavy-map spread_scan contract above in r13.)"""
    plan = plan_of(spark, sf_dir, name)
    assert n_exchanges(plan) == 0, plan


def test_lsh_topk_never_shuffles_embeddings(spark, sf_dir):
    """ann_lsh_topk: bucketing is map-side HOF work and the probe row
    broadcasts, so the embedding table must reach TakeOrderedAndProject
    without a single hash-partition exchange."""
    plan = plan_of(spark, sf_dir, "ann_lsh_topk")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_full_outer_co_shuffles_both_sides(spark, sf_dir):
    """Full outer is the one join shape that can never broadcast: both
    sides must co-shuffle on the key (SortMergeJoin FullOuter), regardless
    of size — pin that so nobody "optimizes" it into a wrong plan."""
    plan = plan_of(spark, sf_dir, "join_full_outer")
    assert "SortMergeJoin FullOuter" in plan or re.search(r"Join type: FullOuter", plan)
    assert "BroadcastHashJoin" not in plan
    assert n_exchanges(plan) >= 2  # one per side


def test_batch_pack_scalable_has_no_global_sort(spark, sf_dir):
    """cdc_batch_pack's reference-parity plan needs one SinglePartition
    exchange (global row_number); the declared scalable variant must not —
    every shuffle hash-partitions on a key (user_id, __pk, bucket), so the
    pack parallelizes with the key-group count at any scale."""
    legacy = plan_of(spark, sf_dir, "cdc_batch_pack")
    assert "SinglePartition" in legacy  # the documented non-scalable shape
    scalable = plan_of(spark, sf_dir, "cdc_batch_pack_scalable")
    assert "SinglePartition" not in scalable
    assert "hashpartitioning" in scalable


def test_sessionize_single_shuffle(spark, sf_dir):
    """Sessionization: the lag/cumsum windows and the per-session rollup
    must all reuse ONE user_id hash partitioning — a second exchange
    between windowing and aggregation would double-shuffle the whole
    event stream at scale."""
    plan = plan_of(spark, sf_dir, "sessionize_events")
    assert n_exchanges(plan) == 1


def test_pack_sequences_prefix_sum_is_two_phase(spark, sf_dir):
    """doc_pack_sequences' global token cumsum must be the two-phase scan:
    the full-corpus window is PARTITIONED by bucket (parallel), the only
    SinglePartition exchange feeds the window over the tiny bucket-sum
    table, and the bucket offsets come back via broadcast — never a
    single-partition window over the documents themselves."""
    plan = plan_of(spark, sf_dir, "doc_pack_sequences")
    assert "BroadcastHashJoin" in plan
    # exactly one SinglePartition exchange (bucket-sum table only)
    assert plan.count("SinglePartition") == 1, plan
    # the docs-side window is partitioned by bkt: its spec lists a
    # partition expression, windowspecdefinition(bkt..., doc_id ASC ...)
    assert re.search(r"windowspecdefinition\(bkt#\d+L, doc_id#\d+L ASC", plan), plan


def test_contamination_join_is_hash_on_hashed_shingles(spark, sf_dir):
    """contamination_ngram's membership probe joins on (lang, 61-bit
    shingle hash) — an equi hash join over 8-byte keys, never a nested
    loop or a join on raw shingle strings."""
    plan = plan_of(spark, sf_dir, "contamination_ngram")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"hashpartitioning\(lang#\d+, hs#\d+L", plan), plan


def test_ohlc_single_exchange(spark, sf_dir):
    """ts_downsample_ohlc: both row_number windows AND the final groupBy
    share the one (event_type, bucket_us) hash partitioning — exactly
    one Exchange, so the candle rollup costs a single shuffle at any
    scale."""
    plan = plan_of(spark, sf_dir, "ts_downsample_ohlc")
    assert n_exchanges(plan) == 1, plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.MULTILINE)) == 2


def test_mix_temperature_broadcast_rates(spark, sf_dir):
    """mix_sources_temperature: the rate table joins back via broadcast
    (the 100 TB fact side never shuffles for it); the normalizing max is
    a window over the tiny per-source stats table, not a second pass
    over documents — so exactly two parquet scans and no nested-loop
    join anywhere."""
    plan = plan_of(spark, sf_dir, "mix_sources_temperature")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)) == 2, plan


def test_span_ngram_no_joins(spark, sf_dir):
    """dedup_span_ngram: corpus span frequency comes from a window over
    the hash key — no join, no pair expansion; the three exchanges are
    (doc_id,h) partial-agg, h window, doc_id final agg."""
    plan = plan_of(spark, sf_dir, "dedup_span_ngram")
    assert "Join" not in plan, plan
    assert n_exchanges(plan) == 3, plan


def test_subquery_correlated_reuses_exchange(spark, sf_dir):
    """subquery_correlated: Catalyst's unnesting duplicates the CTE per
    scalar subquery; the duplicates must collapse via ReusedExchange so
    the per-customer aggregate is computed once — and decorrelation must
    yield hash joins, never a per-row nested loop."""
    df = REGISTRY["subquery_correlated"].spark(spark, sf_dir)
    df.collect()  # AQE final plan carries the reuse markers
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_upsert_latest_single_exchange(spark, sf_dir):
    """cdc_upsert_latest: the materialization is ONE partial-aggregated
    shuffle on the entity key — no window over version history, no join."""
    plan = plan_of(spark, sf_dir, "cdc_upsert_latest")
    assert n_exchanges(plan) == 1, plan
    assert "partial_max_by" in plan or "partial_count" in plan
    assert "Window" not in plan and "Join" not in plan


def test_gap_fill_grid_is_hash_join(spark, sf_dir):
    """events_gap_fill: the densified grid joins back to the rollup via
    an equi hash join on (type, bucket) — never a nested loop — and the
    raw events shuffle exactly once (the rollup partial agg; every other
    exchange moves bucket-table-sized data)."""
    plan = plan_of(spark, sf_dir, "events_gap_fill")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)) == 2, plan


def test_pq_encode_shuffles_codebook_not_vectors(spark, sf_dir):
    """vec_pq_encode: the trained codebook's Lloyd update may shuffle —
    but ONLY on the (si, cid) codebook coordinates (<= 8 x 16 groups after
    map-side partial agg, the agg_cms_heavy_hitters discipline). The
    embedding table itself must never be hash-shuffled on vec_id or
    windowed: assignment and the final encode are HOF argmins against one
    broadcast codebook row."""
    plan = plan_of(spark, sf_dir, "vec_pq_encode")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "vec_id" not in keys, plan
        assert "si" in keys and "cid" in keys, plan


def test_ivfpq_shuffles_codebook_not_vectors(spark, sf_dir):
    """ann_ivfpq_topk (round 10): coarse assign, LUT build and ADC scoring
    are all map-side against one-row broadcasts; the only permitted hash
    exchanges are the codebook training's (si, cid) partial agg, and the
    top-k must compile to TakeOrderedAndProject — never a global sort or
    a vec_id shuffle of the embedding table."""
    plan = plan_of(spark, sf_dir, "ann_ivfpq_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan and "CartesianProduct" not in plan, plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "vec_id" not in keys, plan
        assert "si" in keys and "cid" in keys, plan


def test_minhash_incremental_shuffles_hashes_not_documents(spark, sf_dir):
    """dedup_minhash_incremental (round 10): every hash exchange must key
    on band/signature/label/id columns — document text never shuffles
    (the dedup_minhash_exact discipline carried through the incremental
    assignment), and there is no cartesian product."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_incremental")
    assert "CartesianProduct" not in plan, plan
    assert "text#" not in "".join(
        re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
    ), plan


def test_cms_sketch_shuffles_sketch_not_tokens(spark, sf_dir):
    """agg_cms_heavy_hitters: every hash-partition exchange must key on
    sketch coordinates (j, bucket) or the token AGGREGATE — at 100 TB the
    shuffled data is sketch-sized / vocab-sized, never the raw exploded
    token stream (which would appear as an exchange with no preceding
    partial HashAggregate)."""
    plan = plan_of(spark, sf_dir, "agg_cms_heavy_hitters")
    # every hashpartitioning exchange keys on the sketch/(token) agg keys
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert ("j#" in keys and "bucket#" in keys) or "token#" in keys, keys
    assert "CartesianProduct" not in plan, plan


def test_anomaly_mad_single_raw_shuffle(spark, sf_dir):
    """events_anomaly_mad: the raw events shuffle exactly once (the
    (type, hour) rollup); the per-type median/MAD tables join back as
    broadcasts — no second full-data exchange, no window over raw rows."""
    plan = plan_of(spark, sf_dir, "events_anomaly_mad")
    assert "Window" not in plan, plan
    # hash exchanges: the rollup's (event_type, bucket_us) partial agg and
    # the O(types x buckets) median aggs — all keyed on event_type[, bucket]
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "event_type#" in m.group(1), m.group(1)
    assert plan.count("BroadcastExchange") >= 2, plan


def test_no_global_sorts_or_stray_python_udfs_anywhere(batch_plans):
    """Registry-wide scale-smell sweep (the round-9 plan audit, made
    permanent): no batch query may compile to a global range-partitioned
    sort (top-k must be TakeOrderedAndProject; windows partition on a
    key), and row-at-a-time Python evaluation may appear ONLY in the two
    queries that deliberately declare the Python row surface: the row UDF
    and the table-function UDTF (whose BatchEvalPythonUDTF node carries
    the same prefix). The Arrow-batched rungs (udf_pandas_vectorized,
    udaf_pandas) plan ArrowEvalPython / FlatMapGroupsInPandas and stay
    outside this ban by design."""
    allowed_python = {"udf_python", "udtf_python"}
    for name, p in batch_plans.items():
        assert "Exchange rangepartitioning" not in p, name
        if name not in allowed_python:
            assert "BatchEvalPython" not in p, name


def test_lm_bigram_model_broadcasts(spark, sf_dir):
    """text_lm_bigram: both LM tables (bigram and left-unigram counts)
    must broadcast onto the instance stream — the corpus-sized side never
    shuffles for the scoring join."""
    plan = plan_of(spark, sf_dir, "text_lm_bigram")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_priority_sample_two_phase_windows(spark, sf_dir):
    """sample_priority_weighted: the per-source rank must be preceded by a
    salted local rank (two Window nodes) so no source ever sorts in a
    single reducer, and the tau table joins as a broadcast."""
    plan = plan_of(spark, sf_dir, "sample_priority_weighted")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.MULTILINE)) >= 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_hll_intersect_shuffles_registers_not_events(spark, sf_dir):
    """agg_hll_intersect: the sketch path aggregates partially map-side —
    after the (grp, reg) aggregate every later join input is a one-row
    aggregate or broadcast; no SortMergeJoin anywhere (the only equi-join
    is the exact-truth semi-join, small enough to broadcast here and
    explicitly NOT part of the sketch contract)."""
    plan = plan_of(spark, sf_dir, "agg_hll_intersect")
    assert re.search(r"partial_merge|HashAggregate", plan), plan
    assert "CartesianProduct" not in plan


def test_market_basket_topk_and_broadcasts(spark, sf_dir):
    """market_basket_pairs: the pair top-k must compile to
    TakeOrderedAndProject (never a global sort) and the support joins
    must broadcast the 20-row winners side — the parts dimension at
    100 TB is not broadcastable, the winners always are."""
    plan = plan_of(spark, sf_dir, "market_basket_pairs")
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2, plan


def test_triangle_joins_are_equi_hash(spark, sf_dir):
    """graph_triangle_count: wedge build and closure check must both be
    equi joins (hash or sort-merge) — a nested-loop or cartesian plan
    here is the O(n²) shape the canonical orientation exists to avoid.
    The only BroadcastNestedLoopJoin allowed is the one-row corpus-count
    scalar inside the shared LSH projection."""
    plan = plan_of(spark, sf_dir, "graph_triangle_count")
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan), plan
    assert len(re.findall(r"BroadcastNestedLoopJoin", plan)) <= 1, plan


# --- round 11: pipeline_ops plan shapes -------------------------------------


def test_pmi_scoring_joins_broadcast_topk_is_heap(spark, sf_dir):
    """text_pmi_bigrams: the two unigram scoring joins and the totals row
    must broadcast (vocab is Heaps-bounded), and the top-50 must compile
    to TakeOrderedAndProject — never a global sort of all bigrams."""
    plan = plan_of(spark, sf_dir, "text_pmi_bigrams")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2, plan


def test_interval_overlap_is_equi_join_not_theta(spark, sf_dir):
    """join_interval_overlap: the bin trick must make the overlap join a
    hash equi-join on (user_id, bin) — a BroadcastNestedLoopJoin (what
    Spark plans for a raw inequality join) or a cartesian product in the
    plan means the binning regressed to all-pairs."""
    plan = plan_of(spark, sf_dir, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


@pytest.mark.parametrize(
    ("name", "max_single"),
    [("doc_global_shuffle_shard", 1), ("events_rfm_segments", 0)],
)
def test_prefix_sum_single_partition_only_on_bucket_tables(
    spark, sf_dir, name, max_single
):
    """The two-phase prefix-sum queries may move data to a single
    partition ONLY for the tiny bucket-table cumsum (1 for the shard
    planner's 256-row hash-bucket table; 0 for RFM, whose bucket cumsum
    partitions by metric); the corpus-sized windows must stay
    partitioned by bucket."""
    plan = plan_of(spark, sf_dir, name)
    assert plan.count("SinglePartition") <= max_single, plan
    assert re.search(r"hashpartitioning\([^)]*_?bkt", plan), plan


# ---------------------------------------------------------------------------
# round 11: stats/ML sufficient-statistics family


def test_linreg_moments_single_shuffle(spark, sf_dir):
    """OLS by normal equations must cost exactly the one partial-agg
    shuffle of |groups| x 6 scalars — no join, no sort, no second scan."""
    plan = plan_of(spark, sf_dir, "ml_linreg_normal")
    assert n_exchanges(plan) == 1
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)) == 1


def test_corr_matrix_one_pass(spark, sf_dir):
    """The full pairwise-correlation matrix comes from ONE corpus scan
    and ONE one-row exchange; the 6 pair rows melt out map-side
    (Generate above the final aggregate)."""
    plan = plan_of(spark, sf_dir, "stats_corr_matrix")
    assert n_exchanges(plan) == 1
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)) == 1
    assert re.search(r"^\(\d+\) Generate", plan, re.MULTILINE)


def test_reservoir_is_take_ordered_zero_shuffle(spark, sf_dir):
    """Hash-permutation reservoir sampling = per-partition top-k +
    driver k-merge: TakeOrderedAndProject, zero Exchanges."""
    plan = plan_of(spark, sf_dir, "sample_reservoir_topk")
    assert "TakeOrderedAndProject" in plan
    assert n_exchanges(plan) == 0


def test_bpe_pairs_explode_vocab_not_corpus(spark, sf_dir):
    """BPE pair mining must explode character pairs over the AGGREGATED
    vocab, never the raw corpus: the pair Generate sits strictly above
    the word-count aggregate in the plan, and the whole query is two
    rollup shuffles + a top-k."""
    plan = plan_of(spark, sf_dir, "text_bpe_merge_pairs")
    assert n_exchanges(plan) == 2
    assert "TakeOrderedAndProject" in plan
    gens = [m.start() for m in re.finditer(r"^\(\d+\) Generate", plan, re.MULTILINE)]
    first_agg = re.search(r"^\(\d+\) HashAggregate", plan, re.MULTILINE).start()
    assert len(gens) == 2 and gens[1] > first_agg


def test_holt_fold_runs_over_rollup(spark, sf_dir):
    """Holt smoothing: the sequential fold must consume the O(buckets)
    rollup — exactly the (type, hour) rollup exchange plus the per-type
    collect exchange, no sort/join anywhere."""
    plan = plan_of(spark, sf_dir, "ts_holt_linear")
    assert n_exchanges(plan) == 2
    assert "Join" not in plan


def test_nb_model_broadcasts_never_smj(spark, sf_dir):
    """Naive Bayes scoring: the |langs| x |vocab| model and the class
    table must BROADCAST to the doc-token side — a SortMergeJoin against
    the corpus-sized rollup would be the 100 TB bottleneck."""
    plan = plan_of(spark, sf_dir, "ml_nb_classify")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zipf_rank_compiles_to_top_k(spark, sf_dir):
    """Zipf ranking: Catalyst pushes the `row_number <= 1000` filter
    into a TakeOrderedAndProject over the vocab rollup — the whole fit
    costs ONE exchange (the word-count shuffle); the 1000-row window
    and the moment aggregate run on its single-partition output with no
    further exchange. Raw tokens are never globally sorted."""
    plan = plan_of(spark, sf_dir, "text_zipf_slope")
    assert "TakeOrderedAndProject" in plan
    assert n_exchanges(plan) == 1
    assert "Join" not in plan


def test_cusum_fold_runs_over_rollup(spark, sf_dir):
    """CUSUM scan: identical shape to the Holt fold — the (type, hour)
    rollup exchange plus the per-type collect exchange, nothing else."""
    plan = plan_of(spark, sf_dir, "events_cusum_changepoint")
    assert n_exchanges(plan) == 2
    assert "Join" not in plan


def test_quantile_2pass_never_sorts_globally(spark, sf_dir):
    """Exact selection must not pay a global Sort of the fact table:
    the only full-width ordering is the per-quantile window over the
    ~3 matched buckets; the histogram and rank tables broadcast."""
    plan = plan_of(spark, sf_dir, "agg_quantile_2pass")
    assert "TakeOrderedAndProject" not in plan  # and no top-k disguise
    assert "BroadcastExchange" in plan
    # no SortMergeJoin: every join side is tiny and broadcasts
    assert "SortMergeJoin" not in plan


def test_chi2_contingency_single_corpus_pass(spark, sf_dir):
    """Chi-square: the corpus is scanned once for the contingency cells;
    marginals/total are rollups of the tiny cell table and broadcast
    back — no SortMergeJoin, no second fact scan."""
    plan = plan_of(spark, sf_dir, "stats_chi2_independence")
    # the checkpointed contingency rollup replaces every parquet branch:
    # all four consumers read the SAME materialized cell table
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)) == 0
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_ks_cumulative_runs_over_value_domain(spark, sf_dir):
    """KS: raw events collapse to per-distinct-value counts before the
    ECDF window — the single-partition window consumes the checkpointed
    value-domain rollup, never raw rows, and the whole statistic costs
    one corpus scan."""
    plan = plan_of(spark, sf_dir, "stats_ks_two_sample")
    assert "Window" in plan
    # both the ECDF window and the totals row read the checkpointed
    # value-domain rollup — the raw corpus is scanned once, inside it
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)) == 0
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_cell_stats_never_shuffles_embeddings(spark, sf_dir):
    """The IVF audit reuses the broadcast-argmin assignment: embeddings
    are scanned, never hash-shuffled — the only exchanges carry the
    8-cell rollup and the one-row total."""
    plan = plan_of(spark, sf_dir, "vec_ivf_cell_stats")
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "Exchange hashpartitioning(embedding" not in plan
    assert "SortMergeJoin" not in plan


def test_asof_nearest_single_shuffle_no_join(spark, sf_dir):
    """Bidirectional as-of: still ONE user_id exchange and zero join
    operators — the nearest pick must not regress to a range join."""
    plan = plan_of(spark, sf_dir, "join_asof_nearest")
    assert n_exchanges(plan) == 1
    assert "Join" not in plan


def test_kcenter_rounds_broadcast_centers(spark, sf_dir):
    """Greedy k-center: every chosen-center set rides as a one-row
    broadcast; the embedding table is never hash-shuffled and no
    SortMergeJoin exists — k corpus passes, zero pair expansion."""
    plan = plan_of(spark, sf_dir, "sample_kcenter_diverse")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_pca_power_never_shuffles_embeddings(spark, sf_dir):
    """Matrix-free power iteration: the direction rides as a one-row
    broadcast; embeddings are scanned per iteration, never
    hash-shuffled, and no dim^2 row expansion (Generate) exists."""
    plan = plan_of(spark, sf_dir, "ml_pca_power")
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "SortMergeJoin" not in plan


def test_link_predict_wedge_join_is_equi_topk(spark, sf_dir):
    """Link prediction: the wedge self-join must be an equi hash join on
    the shared-middle key (never nested-loop over all pairs), the
    non-edge filter a hash anti join, and the top-20 a
    TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "graph_link_predict")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_bootstrap_replicas_partial_aggregate(spark, sf_dir):
    """Poisson bootstrap: the xB explode is map-side and the replica
    sums partial-aggregate before the shuffle — the exchange carries
    O(B x parts) rows, and the corpus is scanned for replicas once."""
    plan = plan_of(spark, sf_dir, "stats_bootstrap_ci")
    assert "partial_sum" in plan
    assert re.search(r"^\(\d+\) Generate", plan, re.MULTILINE)  # the xB explode
    assert "SortMergeJoin" not in plan


def test_running_distinct_single_exchange(spark, sf_dir):
    """The first-occurrence rewrite: both windows co-partition on
    user_id, so running COUNT(DISTINCT) costs exactly ONE exchange."""
    plan = plan_of(spark, sf_dir, "window_running_distinct")
    assert n_exchanges(plan) == 1
    assert "Join" not in plan


def test_containment_blocks_on_rare_spans(spark, sf_dir):
    """Containment: the pair join must be an equi hash join on the
    16-byte span hash (never all-pairs), top-50 a
    TakeOrderedAndProject, and the shared span projection a
    checkpointed ExistingRDD read."""
    plan = plan_of(spark, sf_dir, "dedup_span_containment")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)) == 0


def test_funnel_windowed_single_event_exchange(spark, sf_dir):
    """The three chained conditional-min windows AND the per-user rollup
    must all reuse ONE user_id hash partitioning (SCALING.md round 12:
    'window depth is funnel length, not exchanges'). The ONLY other
    exchange is the final single-row rollup, which moves per-user
    partial-agg rows (O(users) scalars), never events — pinned by its
    SinglePartition arrangement sitting above a partial HashAggregate."""
    plan = plan_of(spark, sf_dir, "events_funnel_windowed")
    assert n_exchanges(plan) == 2
    assert "SinglePartition" in plan
    assert re.search(r"partial_(count|sum)", plan), plan


def test_scd2_single_exchange(spark, sf_dir):
    """SCD-2: row_number + lead share the (user_id | ts, event_id)
    partitioning — the history build is one shuffle, never a changelog
    self-join."""
    plan = plan_of(spark, sf_dir, "cdc_scd2_history")
    assert n_exchanges(plan) == 1
    assert "Join" not in plan


def test_tombstone_lifecycle_single_exchange(spark, sf_dir):
    """Lag window + reverse row_number + groupBy stack on one user_id
    exchange."""
    plan = plan_of(spark, sf_dir, "cdc_tombstone_lifecycle")
    assert n_exchanges(plan) == 1


def test_snapshot_asof_pushes_time_predicate(spark, sf_dir):
    """The as-of T predicate must reach the parquet scan (partition
    pruning at scale) and the snapshot is one partial-agg exchange."""
    plan = plan_of(spark, sf_dir, "cdc_snapshot_asof")
    assert "PushedFilters:" in plan
    assert n_exchanges(plan) == 1
    assert re.search(r"partial_(max|count)", plan), plan


def test_q3_pushdown_broadcast_topk(spark, sf_dir):
    """TPC-H Q3 shape: date predicates pushed to both fact scans, the
    filtered customer side broadcast, top-10 as TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "sort_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert re.search(r"PushedFilters:.*GreaterThan\(l_shipdate", plan)
    assert re.search(r"PushedFilters:.*LessThan\(o_orderdate", plan)


def test_rake_windows_reuse_preexplode_spread(spark, sf_dir):
    """RAKE: the pre-explode doc_id repartition must be the ONLY doc-side
    exchange (both windows reuse it); total exchanges = spread + word
    rollup (+ the top-k is TakeOrderedAndProject, not a sort)."""
    plan = plan_of(spark, sf_dir, "text_keyword_rake")
    assert "TakeOrderedAndProject" in plan
    assert n_exchanges(plan) == 2


def test_sequence_match_single_exchange(spark, sf_dir):
    """Three lead() columns + the per-user rollup on one exchange — the
    fixed-lookahead CEP claim."""
    plan = plan_of(spark, sf_dir, "events_sequence_match")
    assert n_exchanges(plan) == 1


def test_approx_sketch_audits_join_only_aggregates(spark, sf_dir):
    """The r13 audit-column sketch queries must never shuffle raw rows to
    JOIN: every join side is an aggregate-sized table (per-group sketch /
    register / count rows), so all joins broadcast — no SortMergeJoin at
    any scale. The probe pass in agg_approx_percentile in particular must
    broadcast the O(groups) sketch values onto lineitem, not co-shuffle
    lineitem against them."""
    for name in ("agg_approx_distinct", "agg_approx_percentile"):
        plan = plan_of(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "BroadcastHashJoin" in plan, (name, plan)


def test_irls_fit_is_aggregate_only(spark, sf_dir):
    """ml_logreg_irls (r15): the whole 3-iteration Newton fit must plan
    with ZERO Exchange nodes — every pass is a map-side-combined global
    aggregate and the coefficient frames are lineage-truncated 1-row
    broadcasts, so nothing ever hash-partitions. (The textbook claim
    'Newton-on-sufficient-stats is shuffle-free', pinned.)"""
    plan = plan_of(spark, sf_dir, "ml_logreg_irls")
    assert n_exchanges(plan) == 0, plan


def test_zorder_layout_single_rollup_shuffle(spark, sf_dir):
    """pipeline_zorder_layout (r15): Morton interleave is map-side
    arithmetic; the ONLY exchange is the (layout, bin) zone-map rollup
    (one hash exchange; AQE may plan it per union branch = at most 2),
    and no sort of the corpus appears anywhere."""
    plan = plan_of(spark, sf_dir, "pipeline_zorder_layout")
    assert 1 <= n_exchanges(plan) <= 2, plan
    assert not re.search(r"^\(\d+\) Sort", plan, re.MULTILINE), plan


def test_perplexity_buckets_never_sorts_documents(spark, sf_dir):
    """text_perplexity_buckets (r15): the CCNet tercile split must come
    from the bounded (lang, score) histogram — a per-language RANKING of
    documents (ntile/row_number over the doc stream) would totally order
    the majority language at web scale. The plan may window over the
    HISTOGRAM (grouped rows), so the pin is: no Window node consumes
    rows that still carry doc_id."""
    plan = plan_of(spark, sf_dir, "text_perplexity_buckets")
    for m in re.finditer(r"^\(\d+\) Window\b.*$", plan, re.MULTILINE):
        # formatted plans list each node's Input schema in the details
        # section; find this node's detail block and check it
        node_id = re.match(r"^\((\d+)\)", m.group(0)).group(1)
        detail = re.search(
            rf"^\({node_id}\) Window\b(.*?)(?=^\(\d+\)|\Z)",
            plan,
            re.MULTILINE | re.DOTALL,
        )
        assert detail and "doc_id" not in detail.group(1), m.group(0)
