"""tools/measure.py's inflation: the invariant every committed scale cell
rests on. Copy k of a table must be the base table moved to its own key
range, so row counts and per-copy outputs grow exactly with the factor."""

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from measure import SHIFT, SHIFTED, inflate  # noqa: E402

from temporai_mivdp_spark.queries import QUERIES  # noqa: E402
import temporai_mivdp_spark.queries_llm  # noqa: E402,F401
from tests.conftest import SF_SMOKE as SF  # noqa: E402


def test_inflate_two_copies_on_disjoint_key_ranges(spark, tmp_path):
    tables = [*SHIFTED, "documents"]
    inflate(spark, 2, tables, SF, str(tmp_path))
    for name in tables:
        n = spark.read.parquet(f"{SF}/{name}.parquet").count()
        big = spark.read.parquet(f"{tmp_path}/{name}.parquet")
        assert big.count() == 2 * n, name
        # every copy sits whole in its own SHIFT-wide range of each key
        for key in SHIFTED.get(name, ["doc_id"]):
            per_copy = big.groupBy(F.floor(F.col(key) / SHIFT).alias("k")).count()
            assert sorted(tuple(r) for r in per_copy.collect()) == [(0, n), (1, n)], (
                name, key)
    pairs = QUERIES["dedup_ngram_jaccard"]
    assert pairs(spark, str(tmp_path)).count() == 2 * pairs(spark, SF).count()
