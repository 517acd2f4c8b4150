"""Tests of the benchmark's own parts: generators, event-log parser and
output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import checks  # noqa: E402
import gen_docs  # noqa: E402
import spans  # noqa: E402

TINY_LOG = os.path.join(HERE, "data", "tiny_eventlog")


@pytest.fixture(scope="module")
def spark():
    from temporai_mivdp_spark.session import get_session

    s = get_session(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4,
                    extra_conf={"spark.ui.enabled": "false",
                                "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _mimic_hashes(spark, seed: int, partitions: int) -> dict[str, str]:
    import gen_mimic

    frames = gen_mimic.tables(spark, seed, n_subjects=40, visits=(1, 3),
                              events_per_stay=10, partitions=partitions)
    return {name: checks.table_hash(df.toPandas()) for name, df in frames.items()}


def test_mimic_same_seed_same_hashes_any_partitioning(spark):
    a = _mimic_hashes(spark, seed=3, partitions=1)
    assert a == _mimic_hashes(spark, seed=3, partitions=5)
    b = _mimic_hashes(spark, seed=4, partitions=1)
    assert all(a[t] != b[t] for t in a)


def test_mimic_csv_drop_holds_the_lake_rows(spark, tmp_path):
    import gen_mimic

    from temporai_mivdp_spark.mivdp.io import MIMIC_TABLES, load_mimic_table

    inp = gen_mimic.generate(spark, str(tmp_path / "in"), seed=5, n_subjects=20,
                             events_per_stay=10)
    gen_mimic.write_csv_drop(spark, inp)
    assert inp.csv_bytes > 0
    for name in MIMIC_TABLES:
        lake = spark.read.parquet(os.path.join(inp.lake, name + ".parquet")).toPandas()
        csv = load_mimic_table(spark, inp.mimic_root, inp.version, name).toPandas()
        assert checks.table_hash(csv) == checks.table_hash(lake), name
        assert len(lake) == inp.rows[name]


def test_recorded_hashes_hold_for_the_run_sizes():
    import run

    for workload in run.WORKLOADS:
        assert run.recorded_hashes(workload, 0), workload
        assert run.recorded_hashes(workload, -1) is None


def test_docs_same_seed_same_table_other_seed_differs():
    a, b, c = (gen_docs.documents(s, 300) for s in (7, 7, 8))
    assert a.equals(b)
    assert not a.equals(c)
    ids = a.column("doc_id").to_pylist()
    assert max(ids) < gen_docs.MAX_DOC_ID and len(set(ids)) == len(ids)
    texts = a.column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) > 0


def test_event_log_parser_on_recorded_log():
    events = spans.read_event_log(TINY_LOG)
    by_group = spans.task_metrics_by_group(events)
    # the recorded app ran one job in group "a" (4 tasks), one job in
    # group "b" with a pandas UDF (2 + 2 tasks over two stages)
    assert by_group["a"]["jobs"] == 1 and by_group["a"]["tasks"] == 4
    assert by_group["b"]["jobs"] >= 1 and by_group["b"]["tasks"] >= 2
    assert by_group["b"]["python_s"] > 0 and by_group["a"]["python_s"] == 0
    assert by_group["b"]["shuffle_write_mb"] > 0
    assert by_group["a"]["task_failures"] == 0
    assert by_group["a"]["exec_run_s"] > 0

    recorded = [spans.Span("a", None, 0.0, 2.0, 0.5), spans.Span("b", "a", 0.5, 1.5, 0.1)]
    per = spans.span_metrics(recorded, by_group, cores=2)
    assert per["a"]["tasks"] == by_group["a"]["tasks"] + by_group["b"]["tasks"]
    assert per["b"]["tasks"] == by_group["b"]["tasks"]
    assert per["a"]["idle_core_s"] == pytest.approx(2.0 * 2 - per["a"]["exec_run_s"])


def test_checker_rejects_perturbed_output(tmp_path):
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, -0.0], "s": ["x", None, "z"]})
    path = tmp_path / "artifact"
    path.mkdir()
    for i in range(3):  # one file per row, as a Spark write would split it
        pdf.iloc[[2 - i]].to_parquet(path / f"part-{i}.parquet", index=False)
    assert checks.artifact_hash(str(path)) == checks.table_hash(pdf)
    assert checks.table_hash(pdf.iloc[::-1]) == checks.table_hash(pdf)
    assert checks.same_rows(pdf, pdf.iloc[::-1])
    # float noise below the rounding does not count
    assert checks.table_hash(pdf.assign(v=pdf["v"] + 1e-12)) == checks.table_hash(pdf)

    bad = pdf.copy()
    bad.loc[1, "v"] = 1.2501
    dropped = pdf.iloc[:2]
    swapped = pdf.assign(s=["x", "z", None])
    for perturbed in (bad, dropped, swapped):
        assert checks.table_hash(perturbed) != checks.table_hash(pdf)
        assert not checks.same_rows(pdf, perturbed)
