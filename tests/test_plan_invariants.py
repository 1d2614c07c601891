"""Physical-plan regression guards: PLANS.md's key invariants as asserts.

A bad refactor can double a shuffle or widen a scan without failing any
correctness test and without an obvious bench delta at sf0.001 — these
string checks on the formatted physical plan catch it immediately.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import FIXDIR, SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes by header line, e.g. '(4) Sort' — avoids
    matching substrings like SortMergeJoin or SortAggregate."""
    return len(re.findall(rf"\(\d+\)\s+{name}(\s|\[|$)", plan, re.MULTILINE))


def test_asof_one_exchange_one_sort(spark):
    """asof = union + running window: exactly ONE hash Exchange and ONE
    Sort — the theoretical minimum for a sort-merge as-of join — with the
    event_type filters pushed into both parquet scans."""
    from ifeatureomega_cli_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    plan = _plan(asof_join(clicks, purchases, on="user_id", ts="ts",
                           value_cols=["value"]))
    assert _nodes(plan, "Exchange") == 1, plan
    assert _nodes(plan, "Sort") == 1, plan
    assert plan.count("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]") == 1, plan
    assert plan.count("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]") == 1, plan


def test_extract_one_arrow_pass_pruned_scan(spark):
    """Descriptor extraction = ONE ArrowEvalPython node, scan pruned to
    (doc_id, tokens), zero shuffles."""
    from ifeatureomega_cli_spark.functions.extract import extract

    df = spark.read.parquet(f"{FIXDIR}/peptide_tokens.parquet")
    plan = _plan(extract(df, "protein:AAC").select("doc_id", "features"))
    assert _nodes(plan, "ArrowEvalPython") == 1, plan
    assert _nodes(plan, "Exchange") == 0, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if ":" in c}
    assert cols == {"doc_id", "tokens"}, cols


def test_pstnp_transform_no_shuffle(spark):
    """PSTNP transform (model already fit as a tiny broadcastable dict) is
    a pure map: ONE ArrowEvalPython, zero Exchange."""
    from ifeatureomega_cli_spark.operators.crosssample import (
        fit_pstnp, pstnp_transform)

    df = spark.read.parquet(f"{FIXDIR}/dna_tokens.parquet")
    model = fit_pstnp(df)
    plan = _plan(pstnp_transform(df, model).select("doc_id", "features"))
    assert _nodes(plan, "ArrowEvalPython") == 1, plan
    assert _nodes(plan, "Exchange") == 0, plan


def test_pstnp_fit_no_wide_shuffle(spark):
    """The fit's partial-counts stage must stay map-side (no Exchange before
    the mapInPandas partials; the reduce is a driver-side sum of one small
    row per partition)."""
    import ifeatureomega_cli_spark.operators.crosssample as cs
    from tests.conftest import concrete_dataframe_cls

    CDF = concrete_dataframe_cls()
    df = spark.read.parquet(f"{FIXDIR}/dna_tokens.parquet")
    captured = []
    orig = CDF.collect

    def spy(self, *a, **k):
        captured.append(_plan(self))
        return orig(self, *a, **k)

    CDF.collect = spy
    try:
        cs.fit_pstnp(df)
    finally:
        CDF.collect = orig
    assert captured, "fit never collected partials"
    fit_plan = captured[0]
    assert _nodes(fit_plan, "Exchange") == 0, fit_plan
    assert _nodes(fit_plan, "MapInPandas") == 1, fit_plan


def test_topk_single_hash_exchange_no_global_sort(spark):
    """top_k_per_group: ONE hash Exchange on the group key, a PARTIAL
    WindowGroupLimit BEFORE the shuffle (map-side top-k — only ≤k rows per
    group per mapper cross the wire) plus the final one after, and no
    rangepartitioning global sort."""
    from ifeatureomega_cli_spark.operators.topk import top_k_per_group

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value")
    plan = _plan(top_k_per_group(ev, ["event_type"], "value", 3,
                                 descending=True, tie_breakers=["event_id"]))
    assert _nodes(plan, "Exchange") == 1, plan
    assert _nodes(plan, "WindowGroupLimit") == 2, plan  # Partial + Final
    assert "Partial" in plan, plan
    assert _nodes(plan, "Sort") <= 2, plan
    assert "hashpartitioning(event_type" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_brute_force_topk_scan_pruned(spark):
    """Embedding scoring scan reads only (vec_id, embedding)."""
    from ifeatureomega_cli_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(brute_force_topk(emb, queries, k=5))
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    for schema in m:
        cols = {c.split(":")[0] for c in schema.split(",") if ":" in c}
        assert cols <= {"vec_id", "embedding"}, cols


def test_scd2_enrich_is_keyed_join_not_cartesian(spark):
    """The SCD2 range join must compile to an equi-join on the entity key
    (hash or sort-merge, broadcastable) with the interval bounds as
    residual conditions — a regression to BroadcastNestedLoop/Cartesian
    would be O(rows × versions) at scale."""
    from ifeatureomega_cli_spark.streaming.enrich import (
        streaming_asof_enrich, to_scd2)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "value")
             .dropDuplicates(["user_id", "ts"]))
    plan = _plan(streaming_asof_enrich(
        clicks, to_scd2(purch, on="user_id", ts="ts"),
        on="user_id", ts="ts"))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan), plan


def test_structure_descriptor_single_group_exchange(spark):
    """Structure shell composition: one Exchange keyed on pdb_id feeding
    FlatMapGroupsInPandas — no second shuffle, no collect."""
    from ifeatureomega_cli_spark.operators.structure import (
        residue_shell_composition)
    from ifeatureomega_cli_spark.sources.pdb import read_pdb, residue_table

    res = residue_table(read_pdb(
        spark, "/root/reference/data_examples/1iir.pdb"))
    plan = _plan(residue_shell_composition(res, "AAC"))
    assert _nodes(plan, "FlatMapGroupsInPandas") == 1, plan
    assert plan.count("hashpartitioning(pdb_id") >= 1, plan


def test_pipeline_clean_gate_fused_dedup_is_the_wide_stage(spark):
    """Composed cleaning pipeline (round-4 driver query): the quality gate
    must stay whole-stage-codegen JVM expressions fused with the scan (no
    Python eval node, no extra pass), and the only WIDE work is the dedup
    digest groupBy plus the keeper/stats equi-joins — no cartesian, no
    rangepartitioning, no Python boundary anywhere."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["pipeline_clean"](spark, SF_DIR))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    # the dedup digest groupBy: partial_min/partial_count BEFORE its
    # exchange (map-side combine), final after
    assert "partial_min" in plan and "partial_count" in plan, plan
    assert _nodes(plan, "HashAggregate") >= 2, plan
    # wide stages are bounded: digest agg + two equi-joins — anything
    # beyond 6 Exchanges means a refactor doubled a shuffle
    assert _nodes(plan, "Exchange") <= 6, plan


def _assert_grouped_bucket_pass(plan: str, n_python: int) -> None:
    """The LSH dedup operators' shared shape: one bucket-keyed grouped
    pass emits and scores the in-bucket pairs, with no join and no
    broadcast (the oversized-bucket cap is a windowed row count), and each
    Python UDF is evaluated exactly once (a threshold filter pushed below
    the dedupe would re-evaluate the score UDF).  The cap is a windowed
    row count filtered before the collect_list aggregate, so an oversized
    bucket's rows are dropped before they could be built into one array."""
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan
    assert _nodes(plan, "BroadcastExchange") == 0, plan
    assert _nodes(plan, "ArrowEvalPython") == n_python, plan
    nodes = [(int(m[1]), m[2], m[3]) for m in re.finditer(
        r"^\((\d+)\) (\w+)(.*?)(?=\n\n|\Z)", plan, re.MULTILINE | re.DOTALL)]
    window = [i for i, name, _ in nodes if name == "Window"]
    cap = [i for i, name, body in nodes if name == "Filter" and "_n#" in body]
    collect = [i for i, _, body in nodes if "collect_list" in body]
    assert len(window) == 1 and len(cap) == 1 and collect, plan
    assert window[0] < cap[0] < min(collect), plan


def test_embedding_dup_pairs_bucket_keyed_no_cartesian(spark):
    """Embedding LSH near-dup: candidates come from one grouped pass keyed
    on (table, bucket) — never a nested-loop/cartesian or any join — and
    the two UDFs (_buckets, _pair_cos) run once each."""
    from ifeatureomega_cli_spark.operators.dedup import embedding_dup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(embedding_dup_pairs(emb, threshold=0.95, n_planes=8))
    # candidate generation keyed on the bucket tuple
    assert re.search(r"hashpartitioning\((table|bucket)", plan), plan
    _assert_grouped_bucket_pass(plan, n_python=2)


def test_bucketed_join_no_exchange(spark, tmp_path):
    """write_bucketed + bucketed_join: a join on the bucket key reads each
    bucket as a partition and plans ZERO Exchange on either side — the
    ingest-time shuffle amortization that makes repeated 100 TB joins on a
    stable key affordable."""
    from pyspark.sql import functions as F

    from ifeatureomega_cli_spark.plans.bucketing import (
        bucketed_join, write_bucketed)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    left = ev.select("event_id", "user_id", "value").coalesce(1)
    right = (ev.groupBy("user_id").agg(F.avg("value").alias("avg_value"))
             .coalesce(1))
    write_bucketed(left, "t_bucket_left", "user_id", 8,
                   path=str(tmp_path / "bl"), sort_by=["user_id"])
    write_bucketed(right, "t_bucket_right", "user_id", 8,
                   path=str(tmp_path / "br"), sort_by=["user_id"])
    # small test tables would broadcast (also Exchange-free, but that
    # proves nothing about bucketing); force the sort-merge path the
    # bucket spec is FOR
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_bucket_left", "t_bucket_right",
                               "user_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert _nodes(plan, "Exchange") == 0, plan
        # Spark still plans LOCAL per-bucket Sorts (it only trusts sortBy
        # metadata behind a legacy flag); those are in-memory per-partition
        # — the eliminated Exchange is the network cost that matters
        assert _nodes(plan, "Sort") <= 2, plan
        # correctness: same rows as the plain (shuffling) join
        expect = left.join(right, "user_id").count()
        assert joined.count() == expect
        # the unbucketed twin DOES shuffle — proves the zero came from the
        # bucket spec, not from tiny-input adaptive tricks
        plain = _plan(left.join(right, "user_id"))
        assert _nodes(plain, "Exchange") >= 1, plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucket_left")
        spark.sql("DROP TABLE IF EXISTS t_bucket_right")


def test_simhash_bucket_pass_no_join(spark):
    """Batch simhash mirrors minhash/embedding: one (band, key)-keyed
    grouped pass drops oversized buckets before collecting and emits the
    pairs — no join, no broadcast, the signature UDF evaluated once."""
    from ifeatureomega_cli_spark.operators.dedup import simhash_dup_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(simhash_dup_pairs(docs, max_hamming=8))
    assert re.search(r"hashpartitioning\((band|key)", plan), plan
    _assert_grouped_bucket_pass(plan, n_python=1)


def test_component_round_plan_join_only(spark):
    """dedup_components' loop body (round-6 VERDICT #6): equi-joins and
    hash aggregates ONLY — no cartesian/nested-loop node may ever appear
    (the label and edge sides both grow with the corpus; the only
    driver-visible data is the 1-row fixpoint aggregate OUTSIDE the
    round body)."""
    from ifeatureomega_cli_spark.operators.dedup import _component_round

    edges = spark.range(1000).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 1000).alias("dst"))
    labels = spark.range(1000).select(
        F.col("id"), F.col("id").alias("component"))
    plan = _plan(_component_round(edges, labels))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_dedup_plan_verify_stays_jvm(spark):
    """minhash_dedup's est-Jaccard verify DELIBERATELY stays the
    JVM-side zip_with expression (round-6 A/B: 1.7× faster than an Arrow
    pandas UDF at 1M pairs — see BENCH/BASELINE.md §verify-ab); the only
    Python node in the plan is the signature UDF.  Candidate generation
    is one (band, bucket)-keyed grouped pass whose oversized-bucket cap is
    a windowed row count: no join, no broadcast, no cartesian."""
    from ifeatureomega_cli_spark.operators.dedup import minhash_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_dedup(docs, threshold=0.8, bands=8))
    assert "zip_with" in plan, plan
    assert re.search(r"hashpartitioning\((band|bucket)", plan), plan
    _assert_grouped_bucket_pass(plan, n_python=1)
