"""Seeded MIMIC-shaped input generator, written in Spark.

Every column is a pure function of ``(seed, salt, row key)`` through
``xxhash64``, and every table is an ``explode`` over ``spark.range``, so
the generated rows are identical whatever the partition count; only the
file layout changes with it.

``generate(spark, out_dir, seed, n_subjects, ...)`` writes

* ``lake/<table>.parquet/``                 Parquet lake, one dir per table
* ``icd9_to_10.tsv``                          ICD-9 -> ICD-10 map

and returns an ``Inputs`` record with the row and byte counts;
``write_csv_drop(spark, inputs)`` adds

* ``mimic/<version>/{core,hosp,icu}/*.csv.gz``  the reference's gzip-CSV drop
  (one single-part gzip file per table, as MIMIC-IV ships it).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from temporai_mivdp_spark.mivdp import schemas
from temporai_mivdp_spark.mivdp.io import MIMIC_TABLES

VERSION = "2.2"
#: files per lake table (rows do not depend on it)
PARTITIONS = 4
_BASE_EPOCH_S = int(dt.datetime(2150, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_HOUR = 3600

#: chart items: itemid -> (centre, spread, dominant unit, minority unit)
CHART_ITEMS = {
    220045: (85.0, 25.0, "bpm", "BPM"),
    220210: (18.0, 6.0, "insp/min", "breaths/min"),
    220277: (96.0, 3.0, "%", "percent"),
    223761: (98.6, 1.5, "°F", "F"),
    220179: (120.0, 20.0, "mmHg", "mm Hg"),
    220180: (70.0, 12.0, "mmHg", "mm Hg"),
    220615: (1.0, 0.4, "mg/dL", "mg/dl"),
    225664: (130.0, 40.0, "mg/dL", "mg/dl"),
}
OUTPUT_ITEMS = [226559, 226560, 226561, 226584, 227488]
PROC_ITEMS = [225441, 225442, 225792, 225794, 224275, 224277]
MED_ITEMS = [221906, 225943, 222168, 221749, 225158, 220949]
#: (icd_code, icd_version); the ICD-9 roots map through the TSV below
DIAG_CODES = [
    ("4280", 9), ("42822", 9), ("41401", 9), ("49121", 9), ("5859", 9),
    ("25000", 9), ("4019", 9), ("2724", 9), ("I509", 10), ("I2510", 10),
    ("J449", 10), ("N186", 10), ("E119", 10), ("I10", 10), ("E785", 10),
]
INSURANCE = ["Medicare", "Medicaid", "Private", "Other"]
ETHNICITY = ["WHITE", "BLACK", "ASIAN", "HISPANIC", "OTHER"]
#: ICD-9 3-char roots with a real ICD-10 root; the other roots map to a
#: filler ICD-10 root derived from the number
_ICD_KNOWN = {"428": "I50", "414": "I25", "491": "J44", "585": "N18",
              "250": "E11", "401": "I10", "272": "E78"}


@dataclass
class Inputs:
    """Where the generated inputs live and how big they are."""

    lake: str
    mimic_root: str
    version: str
    icd_map: str
    rows: dict[str, int] = field(default_factory=dict)
    lake_bytes: int = 0
    csv_bytes: int = 0


def u(seed: int, salt: str, *keys: Column) -> Column:
    """Uniform double in [0, 1) from the seed, a salt and the row keys."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *keys)
    return F.pmod(h, F.lit(1 << 30)).cast("double") / float(1 << 30)


def _pick(values: list, r: Column) -> Column:
    """``values[floor(r * len)]`` as a literal array lookup."""
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (F.floor(r * len(values)) + 1).cast("int"))


def _ts(seconds: Column) -> Column:
    return F.timestamp_seconds(F.lit(_BASE_EPOCH_S) + seconds.cast("long"))


def _explode_n(df: DataFrame, n: Column, name: str) -> DataFrame:
    """One row per index ``0 .. n-1`` (none when ``n == 0``)."""
    seq = F.when(n > 0, F.sequence(F.lit(0), n.cast("int") - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(name, F.explode(seq))


def tables(spark: SparkSession, seed: int, n_subjects: int, visits: tuple[int, int],
           events_per_stay: int, partitions: int) -> dict[str, DataFrame]:
    """The eight raw tables as lazy frames (schemas from ``mivdp.schemas``)."""
    lo, hi = visits
    subj = spark.range(1, n_subjects + 1, numPartitions=partitions).select(
        F.col("id").alias("subject_id")
    )
    s = F.col("subject_id")
    subj = subj.withColumn("t0", F.floor(u(seed, "t0", s) * 300).cast("long") * 24 * _HOUR)

    vis = _explode_n(subj, F.floor(u(seed, "nv", s) * (hi - lo + 1)) + lo, "v")
    v = F.col("v")
    vis = (
        vis.withColumn("hadm_id", s * 10 + v)
        .withColumn("stay_id", F.lit(30_000_000) + s * 10 + v)
        .withColumn("in_s", F.col("t0") + v * (30 * 24 * _HOUR)
                    + F.floor(u(seed, "gap", s, v) * 20 * 24 * _HOUR).cast("long"))
        .withColumn("los_h", (F.floor(u(seed, "los", s, v) * 110) + 10).cast("long"))
        .withColumn("out_s", F.col("in_s") + F.col("los_h") * _HOUR
                    + F.floor(u(seed, "lm", s, v) * _HOUR).cast("long"))
    )

    # dod: ~8% of subjects die inside their first stay
    first_in = F.col("t0") + F.floor(u(seed, "gap", s, F.lit(0)) * 20 * 24 * _HOUR).cast("long")
    first_los = (F.floor(u(seed, "los", s, F.lit(0)) * 110) + 10).cast("long")
    patients = subj.select(
        s,
        _pick(["M", "F"], u(seed, "sex", s)).alias("gender"),
        F.when(u(seed, "dies", s) < 0.08,
               _ts(first_in + F.floor(u(seed, "dod", s) * first_los * _HOUR))).alias("dod"),
        (F.floor(u(seed, "age", s) * 76) + 15).cast("int").alias("anchor_age"),
        F.lit(2150).alias("anchor_year"),
        _pick(["2008 - 2010", "2011 - 2013", "2014 - 2016", "2017 - 2019"],
              u(seed, "ayg", s)).alias("anchor_year_group"),
    )
    admissions = vis.select(
        s, "hadm_id",
        _ts(F.col("in_s") - 2 * _HOUR).alias("admittime"),
        _ts(F.col("out_s") + 4 * _HOUR).alias("dischtime"),
        F.lit(None).cast("timestamp").alias("deathtime"),
        F.lit(0).alias("hospital_expire_flag"),
        _pick(INSURANCE, u(seed, "ins", s, F.col("v"))).alias("insurance"),
        _pick(ETHNICITY, u(seed, "eth", s)).alias("ethnicity"),
    )
    icustays = vis.select(
        s, "hadm_id", "stay_id",
        _ts(F.col("in_s")).alias("intime"), _ts(F.col("out_s")).alias("outtime"),
        ((F.col("out_s") - F.col("in_s")) / (24.0 * _HOUR)).alias("los"),
    )

    st = F.col("stay_id")
    dg = _explode_n(vis, F.floor(u(seed, "nd", st) * 4) + 1, "e")
    codes = [c for c, _ in DIAG_CODES]
    dg = dg.withColumn("__code", F.floor(u(seed, "dx", st, F.col("e")) * len(codes)).cast("int"))
    diagnoses = dg.select(
        s, "hadm_id", (F.col("e") + 1).cast("int").alias("seq_num"),
        F.element_at(F.array(*[F.lit(c) for c in codes]), F.col("__code") + 1).alias("icd_code"),
        F.element_at(F.array(*[F.lit(ver) for _, ver in DIAG_CODES]),
                     F.col("__code") + 1).alias("icd_version"),
    )

    def events(salt: str, mean: int) -> DataFrame:
        """Per-stay event rows with a uniform count in ``0 .. 2*mean`` and a
        uniform offset inside the stay."""
        ev = _explode_n(vis, F.floor(u(seed, salt + "n", st) * (2 * mean + 1)), "e")
        e = F.col("e")
        return ev.withColumn(
            "t_s", F.col("in_s") + F.floor(u(seed, salt + "t", st, e)
                                           * (F.col("out_s") - F.col("in_s"))).cast("long"))

    # chart dominates: ~70% of event rows
    n_chart = max(1, int(events_per_stay * 0.7))
    n_small = max(1, int(events_per_stay * 0.1))
    ch = events("ch", n_chart)
    e = F.col("e")
    items = list(CHART_ITEMS)
    ch = ch.withColumn("__i", F.floor(u(seed, "chi", st, e) * len(items)).cast("int") + 1)

    def item_attr(k: int) -> Column:
        return F.element_at(F.array(*[F.lit(CHART_ITEMS[i][k]) for i in items]), F.col("__i"))

    r = u(seed, "chv", st, e)
    value = item_attr(0) + item_attr(1) * (r * 2 - 1)
    value = F.when(u(seed, "cho", st, e) < 0.01, value * 8).otherwise(value)
    chartevents = ch.select(
        "stay_id", _ts(F.col("t_s")).alias("charttime"),
        F.element_at(F.array(*[F.lit(i) for i in items]), F.col("__i")).cast("long").alias("itemid"),
        F.when(u(seed, "chn", st, e) < 0.01, F.lit(None).cast("double"))
        .otherwise(F.round(value, 2)).alias("valuenum"),
        F.when(u(seed, "chu", st, e) < 0.02, item_attr(3)).otherwise(item_attr(2)).alias("valueuom"),
    )
    oe = events("oe", n_small)
    outputevents = oe.select(
        s, "hadm_id", "stay_id", _ts(F.col("t_s")).alias("charttime"),
        _pick(OUTPUT_ITEMS, u(seed, "oei", st, e)).cast("long").alias("itemid"),
    )
    pe = events("pe", n_small)
    procedureevents = pe.select(
        "stay_id", _ts(F.col("t_s")).alias("starttime"),
        _pick(PROC_ITEMS, u(seed, "pei", st, e)).cast("long").alias("itemid"),
    )
    me = events("me", n_small)
    inputevents = me.select(
        s, "stay_id",
        _pick(MED_ITEMS, u(seed, "mei", st, e)).cast("long").alias("itemid"),
        _ts(F.col("t_s")).alias("starttime"),
        _ts(F.col("t_s") + (F.floor(u(seed, "med", st, e) * 24) + 1).cast("long") * _HOUR)
        .alias("endtime"),
        F.round(u(seed, "mer", st, e) * 10 + 0.5, 2).alias("rate"),
        F.round(u(seed, "mea", st, e) * 100 + 1, 2).alias("amount"),
        (F.col("stay_id") * 100 + e).alias("orderid"),
    )
    out = {
        "patients": patients, "admissions": admissions, "icustays": icustays,
        "diagnoses_icd": diagnoses, "chartevents": chartevents,
        "outputevents": outputevents, "procedureevents": procedureevents,
        "inputevents": inputevents,
    }
    # cast to the package's declared schemas (names, order and types)
    return {name: df.select(*[F.col(f.name).cast(f.dataType) for f in MIMIC_TABLES[name][1]])
            for name, df in out.items()}


def icd_map_lines() -> list[str]:
    """ICD-9 3-char root -> ICD-10 root TSV, ``schemas.ICD_MAPPING`` columns."""
    lines = ["\t".join(f.name for f in schemas.ICD_MAPPING)]
    for n in range(1, 1000):
        code = f"{n:03d}"
        icd10 = _ICD_KNOWN.get(code, f"Z{n % 100:02d}")
        lines.append(f"ICD9\t{code}\tDIAGNOSIS {code}\t{code}\t{icd10}\t10000")
    return lines


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's ``_SUCCESS`` and
    ``.crc`` side files excluded)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


def _parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _write_single_gz(df: DataFrame, dest: str, tmp: str) -> None:
    """Write ``df`` as ONE gzip CSV file at ``dest`` (MIMIC's layout)."""
    (df.coalesce(1).write.mode("overwrite").option("header", "true")
     .option("compression", "gzip").option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
     .csv(tmp))
    part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(tmp, part), dest)
    shutil.rmtree(tmp)


def generate(spark: SparkSession, out_dir: str, seed: int, n_subjects: int,
             visits: tuple[int, int] = (1, 3), events_per_stay: int = 35) -> Inputs:
    """Write the Parquet lake and the ICD map under ``out_dir``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    inp = Inputs(lake=os.path.join(out_dir, "lake"),
                 mimic_root=os.path.join(out_dir, "mimic"), version=VERSION,
                 icd_map=os.path.join(out_dir, "icd9_to_10.tsv"))
    with open(inp.icd_map, "w") as f:
        f.write("\n".join(icd_map_lines()) + "\n")
    frames = tables(spark, seed, n_subjects, visits, events_per_stay, PARTITIONS)
    for name, df in frames.items():
        path = os.path.join(inp.lake, name + ".parquet")
        df.write.mode("overwrite").parquet(path)
        inp.rows[name] = _parquet_rows(path)
    inp.rows["icd_map"] = len(icd_map_lines()) - 1
    inp.lake_bytes = dir_bytes(inp.lake)
    return inp


def write_csv_drop(spark: SparkSession, inp: Inputs) -> None:
    """Write the lake's rows as the gzip-CSV drop under ``inp.mimic_root``
    (not needed by ``icu_mortality``, which reads the lake)."""
    for name, (rel, _) in MIMIC_TABLES.items():
        _write_single_gz(spark.read.parquet(os.path.join(inp.lake, name + ".parquet")),
                         os.path.join(inp.mimic_root, VERSION, rel),
                         os.path.join(os.path.dirname(inp.lake), "_tmp_" + name))
    inp.csv_bytes = dir_bytes(inp.mimic_root)
