"""Physical-plan quality gates (the 100 TB design contract).

Correctness tests prove the ANSWER is right; these prove the PLAN is
the one you'd want on a 1000-executor cluster: filters reach the
parquet scan, scans read only referenced columns, partitioned layouts
prune directories, bounded dims broadcast, and the hot path stays
inside whole-stage codegen.  A regression here is invisible at sf0.01
wall-clock but fatal at scale — so it's asserted, not eyeballed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from powertrainstreaming_spark.plans.registry import all_defs
from powertrainstreaming_spark.sources.loaders import load

SF = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted", *, final: bool = False) -> str:
    """Explain string; ``final=True`` executes first so AQE's runtime
    re-planning (broadcast promotion, coalesced shuffle reads, codegen
    stage assembly) is visible — asserting the pre-execution plan would
    miss exactly the decisions AQE makes at scale."""
    if final:
        df.collect()
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_q1_pushes_filter_and_prunes_columns(spark):
    """The shipdate predicate must reach the parquet reader, and the
    scan schema must exclude unreferenced columns (16-col table, 7
    referenced)."""
    plan = _plan(all_defs()["agg_groupby_multi"].fn(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema
    assert "l_returnflag" in read_schema


def test_q1_aggregate_is_whole_stage_codegen(spark):
    """Scan → partial agg → final agg must run inside generated code —
    no interpreted row-at-a-time evaluation in the hot path."""
    plan = _plan(all_defs()["agg_groupby_multi"].fn(spark, SF), "simple", final=True)
    assert "isFinalPlan=true" in plan
    # `*(n)` is the WholeStageCodegen stage marker in the final plan.
    assert "*(" in plan
    assert "HashAggregate" in plan


def test_q3_broadcasts_filtered_dim_and_sorts_last(spark):
    """q3's plan shape: the filtered customer side broadcasts (no
    shuffle of the fact table against it) and the global top-k is a
    TakeOrderedAndProject, never a full sort."""
    plan = _plan(all_defs()["join_shuffle_equi"].fn(spark, SF), "simple", final=True)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A filter on the partition column of a partitionBy layout must
    become a PartitionFilter (directory pruning — the scan never opens
    non-matching files), NOT a data filter evaluated per row."""
    out = str(tmp_path / "orders_by_status")
    load(spark, SF, "orders").write.partitionBy("o_orderstatus").parquet(out)
    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    plan = _plan(df)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "o_orderstatus" in pf_line
    n_all = spark.read.parquet(out).count()
    n_f = df.count()
    assert 0 < n_f < n_all


def test_knn_probe_plan_is_map_only(spark):
    """Brute-force kNN = broadcast 1-row probe + scan + global top-k:
    no hash-partition shuffle of the embeddings table may appear."""
    plan = _plan(all_defs()["sim_knn_bruteforce"].fn(spark, SF), "simple", final=True)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "TakeOrderedAndProject" in plan


def _assert_no_unbounded_product(plan: str, ctx: str = "") -> None:
    """No CartesianProduct ever; BroadcastNestedLoopJoin only for the
    in-plan scalar attach (build side = keys=[] global aggregate → one
    row, cost-identical to a broadcast variable).  A BNLJ between two
    data-scaled inputs is the #1 scale-killer for pair operators.

    Checked STRUCTURALLY, per build side, not by plan-wide substring
    presence (which the scalar attach would always satisfy, making the
    assertion vacuous): a BNLJ build side is always a
    ``BroadcastExchange IdentityBroadcastMode``, and the immediate
    child of every such exchange must be the keys=[] global aggregate
    — a data-by-data BNLJ regression would put a Project/Scan there
    and fail here even with a scalar attach elsewhere in the plan.
    ``ReusedExchange`` nodes carry no subtree; they reference an
    exchange that is itself checked where it is materialized."""
    assert "CartesianProduct" not in plan, ctx
    lines = plan.splitlines()
    structural = ("QueryStage", "InputAdapter", "WholeStageCodegen", "== ")
    for i, line in enumerate(lines):
        if "BroadcastExchange IdentityBroadcastMode" not in line:
            continue
        if "ReusedExchange" in line:
            continue
        child = next(
            (
                nxt
                for nxt in lines[i + 1 : i + 5]
                if nxt.strip() and not any(s in nxt for s in structural)
            ),
            "",
        )
        assert "HashAggregate(keys=[]" in child, (
            ctx,
            "identity-broadcast build side is not the one-row scalar aggregate:",
            line[:200],
            child[:200],
        )


def test_pair_join_is_blocked_never_cartesian(spark):
    """All-pairs similarity MUST block on a key ((label, cell) here):
    the plan may never contain an unconditional cross product over the
    corpus — the #1 scale-killer for pair operators at 100 TB.  (The
    single allowed BNLJ is the adaptive-cell corpus-count scalar.)"""
    plan = _plan(all_defs()["sim_pair_join_threshold"].fn(spark, SF), "simple", final=True)
    _assert_no_unbounded_product(plan)


def test_near_dedup_join_is_blocked_never_cartesian(spark):
    """The PPJoin prefix-filtered Jaccard join must be an equi-join on
    the (rare-token) block key, not any flavor of cross product."""
    plan = _plan(all_defs()["dedup_near_exact"].fn(spark, SF), "simple", final=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontam_join_is_inverted_index_never_cartesian(spark):
    """Decontamination must hit the eval set through an equi-join on
    the shingle string (inverted index), never a doc x doc product."""
    plan = _plan(
        all_defs()["corpus_decontam_ngram"].fn(spark, SF), "simple", final=True
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_split_audit_scans_corpus_once_map_only(spark):
    """The split assignment is a row-local expression: exactly one
    parquet scan of documents, and the only wide exchange is the
    bounded (lang, split) aggregation."""
    plan = _plan(all_defs()["split_train_holdout"].fn(spark, SF), "simple", final=True)
    # AQE's explain repeats the plan (Final + Initial sections); count
    # scans within the executed Final Plan only.
    final_section = plan.split("== Initial Plan ==")[0]
    assert final_section.count("Scan parquet") == 1
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read_schema  # assignment never reads the payload


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """Under the scoped runtime-filter confs, Catalyst must build a
    bloom filter from the selective part side and inject might_contain
    into the lineitem side BEFORE the shuffle — the 100 TB pattern that
    spares the fact shuffle from rows that cannot join."""
    from powertrainstreaming_spark.operators.joins import (
        _BLOOM_CONFS,
        _bloom_join_df,
    )
    from powertrainstreaming_spark.session import scoped_confs

    with scoped_confs(spark, _BLOOM_CONFS):
        plan = _plan(_bloom_join_df(spark, SF), "simple")
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # Outside the scope nothing leaks: same plan, no runtime filter.
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_scan_partition_pruned_uses_partition_filter(spark):
    """scan_partition_pruned's lang predicate must prune directories
    (PartitionFilters), not filter rows after reading them."""
    from powertrainstreaming_spark.operators.maintenance import pruned_docs_scan

    plan = _plan(pruned_docs_scan(spark, SF))
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "lang" in pf_line


def test_compaction_shrinks_file_count_without_shuffle(spark, tmp_path):
    """Compaction must (a) reduce the file count to the byte-target,
    (b) preserve rows exactly, and (c) plan as coalesce — no Exchange:
    a maintenance job that shuffles the whole table is wrong at scale."""
    from powertrainstreaming_spark.operators.maintenance import (
        _parquet_files,
        compact_dir,
    )

    frag = str(tmp_path / "frag")
    ev = load(spark, SF, "events").select("event_id", "user_id", "value")
    ev.repartition(24).write.parquet(frag)
    assert len(_parquet_files(frag)) == 24

    out = compact_dir(spark, frag, target_bytes=1024 * 1024)
    assert len(_parquet_files(out)) < 24
    assert spark.read.parquet(out).count() == ev.count()

    n = max(1, sum(__import__("os").path.getsize(p) for p in _parquet_files(frag)) // (1024 * 1024))
    plan = _plan(spark.read.parquet(frag).coalesce(int(n)))
    assert "Coalesce" in plan
    assert "Exchange" not in plan


def test_dpp_join_prunes_fact_partitions_dynamically(spark):
    """join_dpp_partitioned's fact scan must carry a dynamicpruning
    subquery in its PartitionFilters: the pruned set comes from the
    filtered dim side at runtime, not from a literal in the query."""
    from powertrainstreaming_spark.operators.maintenance import dpp_join_df

    plan = dpp_join_df(spark, SF)._jdf.queryExecution().executedPlan().toString()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("dynamicpruning" in l for l in pf_lines), pf_lines


def test_no_registered_query_emits_complex_output_columns(spark):
    """The cross-engine compare harness canonicalizes rows with pandas,
    which cannot sort/hash ARRAY/MAP/STRUCT cells (observed breaking
    agg_collect_sorted in the round-2 driver run) — so every registered
    query's OUTPUT schema must be scalar-only; render lists as canonical
    strings instead.  Streaming queries are excluded here (building
    them executes the stream); their outputs are covered by the same
    rule via the golden snapshots."""
    import pyspark.sql.types as T

    def complex_cols(df):
        return [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]

    offenders = {}
    for name, qdef in all_defs().items():
        if name.startswith(("stream_", "source_", "sink_")):
            continue
        cols = complex_cols(qdef.fn(spark, SF))
        if cols:
            offenders[name] = cols
    assert offenders == {}, offenders


def test_sliding_distinct_is_explode_never_range_join(spark):
    """The sliding-window distinct must be the bounded x4 explode +
    one agg — never a range join of events against a window table
    (a BroadcastNestedLoop over every (event, window) pair at scale)."""
    plan = _plan(all_defs()["ts_sliding_distinct"].fn(spark, SF), "simple", final=True)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_importance_sample_is_map_only_scan(spark):
    """The weighted-sampling accept test is a codegen filter on the
    scan: no shuffle, no join, no Python worker may appear."""
    plan = _plan(
        all_defs()["sample_importance_weighted"].fn(spark, SF), "simple", final=True
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_zorder_interleave_stays_in_codegen_single_shuffle(spark):
    """The Morton interleave is unrolled integer arithmetic inside
    whole-stage codegen; the only exchange is the final aggregate's."""
    plan = _plan(
        all_defs()["layout_zorder_cluster"].fn(spark, SF), "simple", final=True
    )
    final_plan = plan.split("== Initial Plan ==")[0]
    assert "Python" not in final_plan
    assert final_plan.count("Exchange hashpartitioning") == 1
    assert "*(" in final_plan


def test_bitmap_distinct_never_expands_raw_ids(spark):
    """The bitmap path must not fall back to count-distinct's Expand
    over raw ids: distinctness is absorbed by the per-bucket bitmaps,
    and the rollup re-aggregates bitmap bytes only."""
    plan = _plan(all_defs()["agg_bitmap_distinct"].fn(spark, SF), "simple", final=True)
    assert "Expand" not in plan


def test_scalar_subqueries_are_decorrelated(spark):
    """Catalyst must lower the correlated per-customer average to an
    aggregate + join on the correlation key: the physical plan carries
    exactly ONE subquery (the uncorrelated global average, a one-row
    broadcast) and a hash/sort-merge join on o_custkey — never a
    nested-loop shape re-evaluating per outer row."""
    plan = _plan(
        all_defs()["filter_scalar_subquery"].fn(spark, SF), "simple", final=True
    )
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("+- Subquery subquery") == 1, final_plan
    assert any(
        j in final_plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert "BroadcastNestedLoopJoin" not in final_plan
    assert "CartesianProduct" not in final_plan


def test_range_binned_join_is_equi_never_nested_loop(spark):
    """join_range_binned exists precisely to avoid the nested-loop a
    raw range condition forces: the plan must contain a hash/SMJ
    equi-join on (user_id, bucket) and no cross-product flavor."""
    plan = _plan(all_defs()["join_range_binned"].fn(spark, SF), "simple", final=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_and_keep_longest_dedup_never_cartesian(spark):
    """The asymmetric (new x ref) band join and the keep-longest pair
    join both inherit the banded/prefix blocking — no cross products."""
    for name in ("dedup_incremental_minhash", "dedup_keep_longest"):
        plan = _plan(all_defs()[name].fn(spark, SF), "simple", final=True)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bm25_filters_tokens_before_any_shuffle(spark):
    """BM25's scale contract: the exploded token stream is semi-joined
    to the broadcast query vocabulary BEFORE the (doc, token)
    aggregate, so the first shuffle carries query-term hits only.  The
    final plan must show >=3 broadcast joins (query vocab filter,
    query expansion, df side, corpus stats) and no cross-product
    flavor beyond the one-row stats broadcast."""
    plan = _plan(all_defs()["text_bm25_topk"].fn(spark, SF), "simple", final=True)
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("BroadcastHashJoin") >= 3, final_plan
    assert "CartesianProduct" not in final_plan
    assert "SortMergeJoin" not in final_plan, (
        "every BM25 join side is bounded (query vocab / df / stats); "
        "a sort-merge join means something vocabulary-sized stopped "
        "broadcasting"
    )


def test_countmin_sketch_is_broadcast_and_bounded(spark):
    """The CMS probe join must broadcast the sketch (<= d*w = 2048
    rows by construction) — if the sketch side ever shuffles, the
    fixed-size-summary contract is broken.  Cell cardinality is also
    asserted at the source."""
    from powertrainstreaming_spark.operators.aggregates import _CMS_D, _CMS_W

    df = all_defs()["agg_countmin_heavy"].fn(spark, SF)
    plan = _plan(df, "simple", final=True)
    final_plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final_plan
    cells = (
        load(spark, SF, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .count()
    )
    assert cells >= 0  # corpus non-empty sanity for the bound below
    streamed = all_defs()["stream_countmin_cells"].fn(spark, SF)
    assert streamed.count() <= _CMS_D * _CMS_W


def test_fuzzy_decontam_never_cartesian_and_checkpoints_collapse(spark):
    """The fuzzy decontamination pipeline inherits the banded blocking
    discipline: candidate generation is a (band, sig) equi-join, so no
    cross-product operator may appear anywhere in the final plan."""
    plan = _plan(
        all_defs()["corpus_decontam_minhash"].fn(spark, SF), "simple", final=True
    )
    final_plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final_plan
    assert "BroadcastNestedLoopJoin" not in final_plan


def test_quantile_twins_never_window_sort_doc_rows(spark):
    """The scale contract of the threshold/cuts twins (round-9 task #1):
    every Window in the plan must sort the per-(lang, value) HISTOGRAM
    — i.e. sit directly above the value-histogram HashAggregate — never
    the corpus-sized doc rows, and doc rows must reach the result only
    through a BroadcastHashJoin against the |langs|-row threshold/cut
    table followed by a map-side filter/CASE.  percent_rank/ntile (the
    per-lang full-sort forms) must not appear anywhere."""
    for name, value_col in (
        ("corpus_quality_gate_threshold", "score"),
        ("corpus_perplexity_bucket_cuts", "ce"),
    ):
        plan = _plan(all_defs()[name].fn(spark, SF), "simple", final=True)
        final_plan = plan.split("== Initial Plan ==")[0]
        assert "percent_rank" not in final_plan, name
        assert "ntile" not in final_plan, name
        assert "BroadcastHashJoin" in final_plan, name
        lines = final_plan.splitlines()
        win_idx = [i for i, l in enumerate(lines) if "Window [" in l]
        assert win_idx, f"{name}: threshold discovery window missing"
        for i in win_idx:
            # Walk down the Window's input chain: a histogram aggregate
            # keyed on (lang, <value>) must appear before any file scan.
            subtree = "\n".join(lines[i : i + 12])
            agg = subtree.find(f"HashAggregate(keys=[lang")
            scan = subtree.find("FileScan")
            assert agg != -1, f"{name}: Window not above a histogram\n{subtree}"
            assert scan == -1 or agg < scan, f"{name}: Window sorts scan rows"


def test_shingle_census_shuffles_key_on_fingerprint_not_string(spark):
    """Round-10 scale contract for the repeated-span family: every
    shuffle in text_repeated_ngrams / text_ngram_novelty must
    hash-partition on the 128-bit (h1, h2) xxhash64 fingerprint and/or
    doc_id — never the raw shingle string (the round-9 1000× probe bent
    exactly because ~2.7 B shingle strings spilled through the census
    shuffles).  The string may ride ONE aggregate as a min() payload
    (the census's emit-row recovery); it must never be a partitioning
    key."""
    import re

    for name in ("text_repeated_ngrams", "text_ngram_novelty"):
        plan = _plan(all_defs()[name].fn(spark, SF), "simple", final=True)
        final_plan = plan.split("== Initial Plan ==")[0]
        exchanges = [
            l
            for l in final_plan.splitlines()
            if "Exchange hashpartitioning" in l
        ]
        assert exchanges, f"{name}: expected hash exchanges in plan"
        for line in exchanges:
            keys = line.split("hashpartitioning(", 1)[1]
            names = set(re.findall(r"(\w+)#\d+", keys))
            assert names <= {"h1", "h2", "doc_id"}, (name, line)


@pytest.mark.parametrize(
    "name", ["dedup_embedding_cluster", "dedup_embedding_cluster_mp"]
)
def test_semantic_cluster_dedup_cell_blocked_never_cartesian(spark, name):
    """The semantic-dedup ops' pair work must be confined to k-means
    cells (the mp variant: probe cells): no CartesianProduct, and the
    only nested-loop build sides are the model-sized codebook (a
    driver-built LocalTableScan of _KM_K rows) — never a corpus-scaled
    input.  The pair join itself must carry the (probe) cell as an
    equi-key."""
    import re

    plan = _plan(
        all_defs()[name].fn(spark, SF),
        "simple",
        final=True,
    )
    final_plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final_plan
    lines = final_plan.splitlines()
    structural = ("QueryStage", "InputAdapter", "WholeStageCodegen", "== ")
    for i, line in enumerate(lines):
        if "BroadcastExchange IdentityBroadcastMode" not in line:
            continue
        child = next(
            (
                l
                for l in lines[i + 1 :]
                if l.strip() and not any(s in l for s in structural)
            ),
            "",
        )
        # The codebook reaches the BNLJ as a LocalTableScan / ExistingRDD
        # scan, or as a ReusedExchange referencing it (ReusedExchange
        # carries no subtree — the referenced exchange is checked where
        # it is materialized, same convention as
        # _assert_no_unbounded_product).
        assert "cent_id" in child and (
            "LocalTableScan" in child
            or "Scan ExistingRDD" in child
            or "ReusedExchange" in child
        ), f"corpus-sized BNLJ build:\n{child}"
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[[^\]]*cell",
        final_plan,
    ), "pair join lost its cell equi-key"
    if name.endswith("_mp"):
        # the probe-cell equi-join is the one that must survive
        assert re.search(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) "
            r"\[[^\]]*pcell",
            final_plan,
        ), "mp pair join lost its probe-cell equi-key"
