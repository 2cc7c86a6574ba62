"""BloomIndex: the persisted membership sketch must (a) OR-merge
across release partitions into EXACTLY the bloom a from-scratch
rebuild over the union produces, (b) feed a probe that equals qa23's
inline gate bit-for-bit when the releases partition the same
benchmark split, and (c) retire a release by partition drop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_sql_datawarehouse_project_spark.catalog import load_table
from python_sql_datawarehouse_project_spark.operators.approx import (
    bloom_words,
    qa23_bloom_decontam,
)
from python_sql_datawarehouse_project_spark.operators.text import (
    BENCH_MOD,
    _doc_grams,
)
from python_sql_datawarehouse_project_spark.plans.bloom_index import BloomIndex
from python_sql_datawarehouse_project_spark.plans.warehouse import Warehouse


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def grams(spark, sf_dir):
    g = _doc_grams(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=True
    )
    bench = g.where(F.col("doc_id") % BENCH_MOD == 0)
    corp = g.where(F.col("doc_id") % BENCH_MOD != 0)
    return bench, corp


@pytest.fixture()
def idx(spark, tmp_path):
    return BloomIndex(Warehouse(spark, str(tmp_path / "bloom_index")))


def test_appended_releases_merge_to_rebuild(spark, grams, idx):
    bench, _ = grams
    # two "releases" split the benchmark arbitrarily (and overlap on
    # the boundary doc so the OR sees shared bits, the harder case)
    r1 = bench.where(F.col("doc_id") <= 200)
    r2 = bench.where(F.col("doc_id") >= 200)
    assert idx.build(spark, r1.select("h").distinct(), "b0") > 0
    idx.append_batch(spark, r2.select("h").distinct(), "b1")
    merged = _rows(idx.merged(spark))
    rebuilt = _rows(bloom_words(bench.select("h").distinct()))
    assert merged == rebuilt


def test_probe_equals_inline_gate(spark, sf_dir, grams, idx):
    bench, corp = grams
    idx.build(spark, bench.select("h").distinct())
    got = {
        r.doc_id: (r.n_grams, r.n_bloom_hits)
        for r in idx.probe(spark, corp).collect()
    }
    want = {
        r.doc_id: (r.n_grams, r.n_bloom_hits)
        for r in qa23_bloom_decontam(spark, sf_dir).collect()
    }
    # the gate filters to contaminated docs; the index probe reports
    # every doc — restricted to the gate's support they must agree
    assert want  # non-vacuous at this SF
    for doc_id, counts in want.items():
        assert got[doc_id] == counts
    clean = {d for d, (_, nb) in got.items() if nb == 0}
    assert clean == set(got) - set(want)


def test_drop_release_restores_prior_membership(spark, grams, idx):
    bench, _ = grams
    r1 = bench.where(F.col("doc_id") <= 200).select("h").distinct()
    r2 = bench.where(F.col("doc_id") > 200).select("h").distinct()
    idx.build(spark, r1, "b0")
    idx.append_batch(spark, r2, "b1")
    idx.drop_release("b1")
    assert _rows(idx.merged(spark)) == _rows(bloom_words(r1))
