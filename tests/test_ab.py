"""tools/ab.py: its command-line parser (no Spark needed) and its samples.

``tools/ab.py`` replaces the per-conf A/B scripts. These commands re-run
their query lists, with ``SPARK_GRAFT_SF_DIR=$SF01`` set and ``$SF01`` /
``$SF001`` naming the sf0.1 and sf0.01 fixture directories:

    # bench_bcast_ab.py -> BENCH_bcast.json
    python tools/ab.py --conf spark.graft.graph.broadcastIterate=true,false \\
        part_copurchase_pagerank_staged purchase_hits_staged \\
        copurchase_pivot_betweenness@$SF001 copurchase_spectral_bipartition@$SF001

    # bench_cachepart_ab.py -> BENCH_cachepart.json
    python tools/ab.py \\
        --conf spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true,false \\
        part_copurchase_hops copurchase_weighted_distances \\
        part_copurchase_triangles copurchase_components_staged \\
        copurchase_coreness copurchase_communities_lpa \\
        part_copurchase_pagerank_staged purchase_hits_staged \\
        semantic_dedup_corpus part_pair_affinity doc_lang_id

    # bench_servestage_ab.py -> BENCH_servestage.json
    python tools/ab.py --conf spark.graft.vectors.ckptServeLuts=true,false \\
        ivf_pq_residual_serve_fresh_topk ivf_pq_trained_rerank_topk \\
        ivf_pq_serve_filtered_topk ivf_pq_serve_fresh_topk \\
        ivf_pq_serve_rerank_topk ivf_pq_serve_topk

The dials of bench_narrow_ab.py, bench_keyed_ab.py,
bench_ckptindex_ab.py and bench_explode_ab.py are gone (their default
layouts are the only path). Their query lists, to time against another
conf KEY:

    # bench_narrow_ab.py -> BENCH_narrow.json
    python tools/ab.py --conf KEY=A,B \\
        part_copurchase_hops part_copurchase_hops_staged \\
        copurchase_weighted_distances copurchase_communities_lpa \\
        copurchase_coreness copurchase_deterministic_walks \\
        purchase_hits purchase_hits_staged copurchase_components_staged

    # bench_keyed_ab.py -> BENCH_keyed.json
    python tools/ab.py --conf KEY=A,B \\
        part_copurchase_pagerank_staged weighted_copurchase_pagerank_staged \\
        part_copurchase_pagerank copurchase_communities_lpa \\
        copurchase_coreness part_copurchase_hops part_copurchase_hops_staged \\
        purchase_hits_staged copurchase_components_staged \\
        copurchase_spectral_bipartition@$SF001 \\
        copurchase_spectral_profile@$SF001 copurchase_spectral_quadrants@$SF001

    # bench_explode_ab.py -> BENCH_explode.json
    python tools/ab.py --conf KEY=A,B \\
        part_copurchase_triangles part_copurchase_triangles_staged \\
        copurchase_clustering_coefficient copurchase_truss copurchase_coreness

    # bench_ckptindex_ab.py -> BENCH_ckptindex.json
    python tools/ab.py --conf KEY=A,B \\
        near_dup_jaccard near_dup_jaccard_prefix dup_span_trim_docs \\
        dup_span_trim_docs_hashed dedup_survivor_stats exact_dedup_docs

A query inside a perfbench workload (``near_dup_jaccard`` is in
``curation``) is better A/B'd across two checkouts with
``perfbench/spread.py --root ../parent --root .``, which also reads its
per-layer counters.
"""

from __future__ import annotations

import itertools
import os
import re
import shlex
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from ab import parse_args, sample, summary  # noqa: E402

NAMES = {"q1", "q2"}


@pytest.mark.parametrize(
    "argv",
    [
        ["--conf", "spark.graft.x", "q1"],  # no '='
        ["--conf", "=true,false", "q1"],  # no key
        ["--conf", "spark.graft.x=true", "q1"],  # one value
        ["--conf", "spark.graft.x=true,", "q1"],  # empty value
        ["--conf", "spark.graft.x=true,false", "nope"],  # unregistered
        ["--conf", "spark.graft.x=true,false", "q1", "nope@/sf"],
        ["--conf", "spark.graft.x=true,false"],  # no query
    ],
)
def test_malformed_input_is_a_usage_error(argv, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/sf")
    with pytest.raises(SystemExit) as exc:
        parse_args(argv, NAMES)
    assert exc.value.code == 2
    assert "usage:" in capsys.readouterr().err


def test_parses_conf_values_and_sf_dirs(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    with pytest.raises(SystemExit):  # no @sf_dir and no default
        parse_args(["--conf", "k=a,b", "q1"], NAMES)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/sf")
    a = parse_args(["--conf", "k=a,b,c", "--samples", "5", "q1", "q2@/other"], NAMES)
    assert (a.key, a.values, a.samples) == ("k", ["a", "b", "c"], 5)
    assert a.cases == [("q1", "/sf"), ("q2", "/other")]


def test_retired_script_commands_parse(monkeypatch):
    # the commands in this module's docstring name registered queries
    from dataengineerchallenge_spark.registry import queries

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/sf01")
    names = set(queries())
    text = __doc__.replace("\\\n", " ")
    cmds = re.findall(r"^\s*python tools/ab\.py (.*)$", text, re.M)
    assert len(cmds) == 7
    for cmd in cmds:
        argv = shlex.split(cmd.replace("$SF001", "/sf001"))
        assert parse_args(argv, names).cases


def test_samples_record_janino_compiles(spark):
    key = "spark.graft.test.abCompiles"
    fresh = itertools.count(1000)

    def stable(spark, _sf):
        return spark.range(10).selectExpr("id * 3 AS x")

    def new_code(spark, _sf):  # a new literal is new generated source
        return spark.range(10).selectExpr(f"id * {next(fresh)} AS x")

    rec = sample(spark, stable, "/sf", key, ["a", "b"], 2)
    assert rec["compiles"] == {"a": [0, 0], "b": [0, 0]}
    assert spark.conf.get(key, None) is None
    line = summary("q1", rec)
    assert line.startswith("q1 a=") and line.endswith("s/0 compiles")

    rec = sample(spark, new_code, "/sf", key, ["a", "b"], 2)
    assert all(c >= 1 for cs in rec["compiles"].values() for c in cs)
