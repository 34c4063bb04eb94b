"""Tests of the benchmark's own code.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import datagen, sparql_ops  # noqa: E402
from perfbench.spans import Span, self_times  # noqa: E402
from perfbench.stats import (  # noqa: E402
    beta_cdf,
    percentile,
    tail_percentile,
)

N_CUSTOMERS = 15_000


def test_datagen_same_seed_same_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write(str(a), 7, 0.001)
    datagen.write(str(b), 7, 0.001)
    datagen.write(str(c), 8, 0.001)
    for t in datagen.TABLES:
        name = f"{t}.parquet"
        assert (a / name).read_bytes() == (b / name).read_bytes(), t
    assert (a / "documents.parquet").read_bytes() \
        != (c / "documents.parquet").read_bytes()


def test_datagen_plants_near_and_exact_duplicates():
    docs = datagen.generate(3, 0.1)["documents"].to_pydict()
    texts = set(docs["text"])
    near = [t for t in docs["text"] if t.endswith(" dup")]
    assert len(near) == int(len(docs["text"]) * datagen.NEAR_DUP_SHARE)
    assert all(t[:-4] in texts for t in near)
    assert len(texts) < len(docs["text"])  # exact copies exist
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_op_sequence_is_a_function_of_the_seed():
    a = sparql_ops.op_sequence(5, 60, N_CUSTOMERS)
    b = sparql_ops.op_sequence(5, 60, N_CUSTOMERS)
    c = sparql_ops.op_sequence(6, 60, N_CUSTOMERS)
    assert [op.texts() for op in a] == [op.texts() for op in b]
    assert [op.args for op in a] != [op.args for op in c]
    # the mix does not depend on the seed
    assert [(op.template, op.repeat) for op in a] \
        == [(op.template, op.repeat) for op in c]
    assert sparql_ops.warm_ops(5, N_CUSTOMERS) \
        == sparql_ops.warm_ops(5, N_CUSTOMERS)


def test_op_sequence_repeats_a_third_and_new_texts_are_new():
    warm = sparql_ops.warm_ops(9, N_CUSTOMERS)
    seq = sparql_ops.op_sequence(9, 36, N_CUSTOMERS)
    seen = {op.label() for op in warm}
    for op in seq:
        assert (op.label() in seen) == op.repeat, op
        seen.add(op.label())
    n = len(sparql_ops.TEMPLATES)
    for k in range(0, 36, n):
        assert sum(op.repeat for op in seq[k:k + n]) == 2
    assert [op.template for op in seq[:n]] == list(sparql_ops.TEMPLATES)


def test_beta_cdf_matches_closed_forms():
    for x in (0.0, 0.1, 0.5, 0.93, 1.0):
        assert beta_cdf(1.0, 1.0, x) == pytest.approx(x, abs=1e-12)
        assert beta_cdf(2.5, 1.0, x) == pytest.approx(x ** 2.5, abs=1e-12)
        assert beta_cdf(1.0, 3.0, x) == pytest.approx(1 - (1 - x) ** 3,
                                                      abs=1e-12)
    assert beta_cdf(6.5, 6.5, 0.5) == pytest.approx(0.5, abs=1e-12)


def test_harrell_davis_percentile():
    # symmetric samples: the median estimate is the centre
    assert percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == pytest.approx(3.0)
    assert percentile([1.0, 2.0], 50) == pytest.approx(1.5)
    assert percentile([7.0], 90) == pytest.approx(7.0)
    xs = [0.3, 0.34, 0.41, 0.66, 0.73, 0.74, 0.81, 0.86, 0.98, 1.35, 1.54]
    p50, p75 = percentile(xs, 50), percentile(xs, 75)
    assert min(xs) < p50 < p75 < max(xs)
    # every sample moves it: raising the largest raises the median a bit
    assert p50 < percentile(xs[:-1] + [3.0], 50) < p50 + 0.05


@pytest.mark.parametrize("n, pct", [
    (1, 50.0), (19, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct > 50.0:
        assert round(n * (100 - pct) / 100, 6) >= 10


def test_self_time_subtracts_merged_child_intervals():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 2.0, 5.0, 0, 0),     # overlaps a: [1, 5] covered once
        Span("c", 8.0, 12.0, 0, 0),    # clipped to the parent: [8, 10]
        Span("d", 1.5, 2.5, 1, 0),     # grandchild: only a loses it
        Span("other", 20.0, 21.0, None, 1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0, 1.0])


@pytest.fixture(scope="module")
def spark_and_data(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["SPARK_GRAFT_SCRATCH_ROOT"] = str(
        tmp_path_factory.mktemp("scratch"))
    from remove_na_lgbtiq_queer_knowledge_graph_spark.session import get_spark

    d = str(tmp_path_factory.mktemp("sf0.001"))
    datagen.write(d, 11, 0.001)
    return get_spark("perfbench-tests"), d


def test_sparql_twins_match_at_sf0001(spark_and_data):
    import duckdb

    from perfbench.workloads import check_all
    from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.sparql import (
        compile_sparql,
    )
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_sparql import (
        factgrid_kg,
    )

    spark, d = spark_and_data
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    kg = factgrid_kg(spark, d)
    n_customers = datagen.rows("customer", 0.001)
    ops = (sparql_ops.warm_ops(11, n_customers)
           + sparql_ops.op_sequence(11, 24, n_customers))
    items = {op.label(): ((lambda rq=op.texts()[0]: compile_sparql(rq, kg)),
                          op.texts()[1]) for op in ops}
    result = check_all(con, items)
    assert {op.template for op in ops} == set(sparql_ops.TEMPLATES)
    assert result and all(result.values()), result
