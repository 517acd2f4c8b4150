"""The benchmark jobs, each from its first public call to its last
artifact written.

Every stage writes its artifacts as soon as it has built them, so the
write is what forces the stage's frames. ``icu_mortality`` hands stages
over through those Parquet artifacts (the reference pipeline's file
boundaries between EP-1, EP-2 and EP-3). With tracing on, each stage runs
inside a span named after the module it calls; ``sources.scan`` is the one
span that adds work: it scans the raw inputs to a noop sink, so the scan
cost is measured apart from the stages that fuse it.

A job returns ``{artifact name: parquet path}``; ``icu_mortality`` adds,
under ``"__bucketed_chart"`` and ``"__n_buckets"``, the bucketed chart
frame the dense chart grid was built from and its bucket count (the input
of the pandas differential check).

``icu_mortality`` writes the summaries and vocabularies of the two
valued modalities (med, chart) only: every artifact costs the job a few
driver round-trips, and the run has to fit the benchmark's time budget.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from temporai_mivdp_spark import queries_llm
from temporai_mivdp_spark.mivdp import cohort as coh
from temporai_mivdp_spark.mivdp import datagen as dg
from temporai_mivdp_spark.mivdp import features as feat
from temporai_mivdp_spark.mivdp import icd
from temporai_mivdp_spark.mivdp.io import MIMIC_TABLES
from temporai_mivdp_spark.sources import load_table, write_parquet

from spans import Tracer

#: EP-3 window: 24 h in 1 h buckets after a 6 h prediction gap
MORTALITY_WINDOW = {"include_time": 24, "bucket": 1, "pred_window": 6}


def _noop_scan(frames: dict[str, DataFrame]) -> None:
    for df in frames.values():
        df.write.format("noop").mode("overwrite").save()


def _write_all(frames: dict[str, DataFrame], out_dir: str, prefix: str,
               artifacts: dict[str, str]) -> dict[str, DataFrame]:
    """Write each frame to ``<out_dir>/<prefix>/<name>``; returns the
    written artifacts read back."""
    spark = next(iter(frames.values())).sparkSession
    back = {}
    for name, df in frames.items():
        path = os.path.join(out_dir, prefix, name)
        write_parquet(df, path)
        artifacts[f"{prefix}/{name}"] = path
        back[name] = spark.read.parquet(path)
    return back


def icu_mortality(spark: SparkSession, inp, out_dir: str, tr: Tracer) -> dict:
    """EP-1 -> EP-2 -> EP-3 on the Parquet lake, mortality label."""
    art: dict = {}
    raw = {name: tr.call(load_table, spark, inp.lake, name) for name in MIMIC_TABLES}
    if tr.enabled:
        with tr.span("sources.scan"):
            _noop_scan(raw)

    with tr.span("mivdp.cohort"):
        cohort = tr.call(coh.extract_cohort_icu, raw["icustays"], raw["patients"],
                         raw["admissions"], label="mortality")
        cohort = _write_all({"cohort": cohort}, out_dir, "cohort", art)["cohort"]

    with tr.span("mivdp.features"):
        mapping = tr.call(icd.read_icd_mapping, spark, inp.icd_map)
        diag = tr.call(feat.extract_diag, raw["diagnoses_icd"], cohort, mapping)
        diag = tr.call(feat.group_diag, diag, "convert_group")
        ev = {
            "diag": diag,
            "out": tr.call(feat.extract_out, raw["outputevents"], cohort),
            "proc": tr.call(feat.extract_proc, raw["procedureevents"], cohort),
            "med": tr.call(feat.extract_med, raw["inputevents"], cohort),
        }
        ev = _write_all(ev, out_dir, "features", art)
        chart = tr.call(feat.extract_chart, raw["chartevents"], cohort)
        with tr.span("mivdp.features.clean_chart"):
            chart = tr.call(feat.clean_chart, chart, thresh=98, left_thresh=2, impute=True)
            chart = _write_all({"chart": chart}, out_dir, "features", art)["chart"]
        summaries = {
            "med": tr.call(feat.summary_events, ev["med"], missing_col="amount"),
            "chart": tr.call(feat.summary_events, chart, missing_col="valuenum"),
        }
        _write_all(summaries, out_dir, "summary", art)

    with tr.span("mivdp.datagen"):
        w = MORTALITY_WINDOW
        include, bucket = w["include_time"], w["bucket"]
        n_buckets = include // bucket
        data = tr.call(dg.trim_anchored_start, tr.call(dg.cohort_hours, cohort),
                       include, w["pred_window"])
        meds = tr.call(dg.trim_events_start, tr.call(dg.prepare_meds, ev["med"], data),
                       data, include, clamp_stop=True)
        bucketed = {"med": tr.call(dg.bucket_meds, meds, include, bucket)}
        for name, value_col, events in [("chart", "valuenum", chart), ("out", None, ev["out"]),
                                        ("proc", None, ev["proc"])]:
            p = tr.call(dg.trim_events_start, tr.call(dg.prepare_point_events, events, data),
                        data, include)
            bucketed[name] = tr.call(dg.bucket_point_events, p, include, bucket,
                                     value_col=value_col)
        dense = {
            "med": tr.call(dg.densify_meds, bucketed["med"], n_buckets),
            "chart": tr.call(dg.densify_chart, bucketed["chart"], n_buckets),
            "out": tr.call(dg.densify_indicator, bucketed["out"], n_buckets),
            "proc": tr.call(dg.densify_indicator, bucketed["proc"], n_buckets),
        }
        _write_all(dense, out_dir, "dense", art)
        vocab = {name: tr.call(dg.vocabulary, bucketed[name], "itemid") for name in ("med", "chart")}
        _write_all(vocab, out_dir, "vocab", art)
    art["__bucketed_chart"] = bucketed["chart"]
    art["__n_buckets"] = n_buckets
    return art


def llm_guard_curation(spark: SparkSession, sf_dir: str, out_dir: str, tr: Tracer) -> dict:
    """The catalog's guard-corpus and curation pipelines, written to Parquet."""
    art: dict = {}
    with tr.span("llmdata.guard_corpus"):
        guard = tr.call(queries_llm.pipeline_guard_corpus, spark, sf_dir)
        _write_all({"pipeline_guard_corpus": guard}, out_dir, "llm", art)
    with tr.span("llmdata.curation"):
        cur = tr.call(queries_llm.pipeline_docs_curation, spark, sf_dir)
        _write_all({"pipeline_docs_curation": cur}, out_dir, "llm", art)
    return art
