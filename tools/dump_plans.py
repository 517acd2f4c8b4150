"""Dump `.explain("formatted")` for named catalog queries to
OUT_DIR/<name>_<suffix>.txt — the before/after plan evidence of an
optimization round (plans/r12, plans/r13).

Usage: python tools/dump_plans.py OUT_DIR SUFFIX NAME [NAME...]
       python tools/dump_plans.py plans/r14 after text_langid text_quality

Planning only (no job execution) at $SPARK_GRAFT_SF_DIR (default: the
bench scale factor sf0.1) on local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from temporai_mivdp_spark.queries import QUERIES  # noqa: E402
import temporai_mivdp_spark.queries_llm  # noqa: E402,F401
from temporai_mivdp_spark.session import get_session  # noqa: E402


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(
        app_name="dump-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
