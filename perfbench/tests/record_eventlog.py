"""Re-record ``data/tiny_eventlog``, the Spark event log the parser test
reads: job group "a" runs one 4-task job, group "b" a pandas UDF behind a
shuffle.

    python3 perfbench/tests/record_eventlog.py
"""

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {"SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerTaskEnd"}
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))


def main() -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from temporai_mivdp_spark.session import get_session

    tmp = tempfile.mkdtemp()
    spark = get_session(app_name="tiny", master="local[2]", shuffle_partitions=2, extra_conf={
        "spark.ui.enabled": "false", "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + tmp, "spark.eventLog.compress": "false"})
    sc = spark.sparkContext
    sc.setJobGroup("a", "a")
    spark.range(0, 1000, numPartitions=4).write.format("noop").mode("overwrite").save()
    sc.setJobGroup("b", "b")

    @F.pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    (spark.range(0, 1000, numPartitions=2).repartition(2, "id")
     .select(plus_one("id")).write.format("noop").mode("overwrite").save())
    spark.stop()
    # keep the rolling layout (eventlog_v2_<app>/events_<n>_<app>) and
    # only the events the parser reads
    (log,) = glob.glob(os.path.join(tmp, "eventlog_v2_*"))
    out = os.path.join(HERE, "data", "tiny_eventlog")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, os.path.basename(log)))
    for part in glob.glob(os.path.join(log, "events_*")):
        with open(part) as src, open(os.path.join(out, os.path.basename(log),
                                                  os.path.basename(part)), "w") as dst:
            dst.writelines(line for line in src if json.loads(line)["Event"] in KEEP)
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
