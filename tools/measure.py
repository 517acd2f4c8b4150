"""Inflate the base tables, time catalog entries at both scales, and hash
every result: the repo's one scale and A/B measurement tool.

Usage (the base tables come from $SPARK_GRAFT_SF_DIR, as in bench.py,
which must be set):

    SPARK_GRAFT_SF_DIR=<base sf dir> python tools/measure.py \\
        [--factor 10] [--only KEY,KEY] [--cores 4,8] [--repeats 3] \\
        [--variant KEY=module:callable ...]

* ``--factor F`` writes F copies of every table the selected entries
  scan (the ``inputFiles()`` of each frame built at base scale) and times
  each entry at base and at F×. ``--factor 1`` times the base only.
* ``--only`` picks catalog keys (default: ``bench.HEADLINE``).
* ``--cores`` runs the whole measurement once per core count, each in a
  fresh ``local[N]`` JVM (default: ``$SPARK_GRAFT_CPUS``, else all cores).
* ``--repeats R`` keeps the minimum of R interleaved rounds, after one
  untimed warm-up round (bench methodology: frames built once, noop sink).
* ``--variant KEY=module:callable`` times another builder of KEY with
  the catalog signature ``(spark, sf_dir) -> DataFrame``, interleaved
  with KEY itself. Repeatable.

Inflation keeps per-key semantics, so a ratio measures plan scaling and
not data-shape drift. Copy k shifts the key columns of the fact tables by
``k·SHIFT``: group counts grow F×, per-group cardinality and intra-copy
join fan-outs stay as they were. Documents get the fenced word salt
``$1q{k}z``: token and shingle counts per copy are unchanged, and no two
copies share a shingle. A bare-digit salt would collide once k reaches
two digits (copy 1 of "foo1" and copy 11 of "foo" both give "foo11").
Dimension tables are copied unchanged.

Every cell's output is hashed outside the timer, order-insensitively
(doubles rounded to 6 decimals). The exit status is 1 when a variant's
hash differs from its key's, when a core count changes a hash, or when
an entry's rows do not grow exactly F× (``CHECK_EXEMPT`` aside).
"""

from __future__ import annotations

import argparse
import functools
import importlib
import multiprocessing
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from bench import HEADLINE  # noqa: E402

SHIFT = 10_000_000

#: key columns that copy k shifts by k·SHIFT; every other table an entry
#: reads, apart from documents, is a dimension and copied unchanged
SHIFTED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}

#: outputs whose row count does not track the data: 25 nations, 5 top-k
#: probes, and LSH candidates (measured 623 -> 1,242 rows at 2x sf0.001)
CHECK_EXEMPT = {"flagship_revenue_by_nation", "sim_topk_bruteforce",
                "dedup_minhash_lsh"}

#: the media fixtures synthesize payloads from doc_id and route
#: doc_id >= 9e6 to the hostile lattice, so these entries take a doc-id
#: shift derived from the factor (see media_doc_shift); they cannot share
#: a run with text entries, whose builders offset doc ids themselves
MEDIA_ENTRIES = {
    "multimodal_metadata", "multimodal_frame_sampling",
    "multimodal_image_roundtrip", "multimodal_audio_roundtrip",
    "multimodal_video_roundtrip", "dedup_image_phash",
}


def media_doc_shift(factor: int) -> int:
    """Largest multiple of 50,000 that keeps all ``factor`` copies below
    doc_id 6e6, well clear of the 9e6 hostile floor: 600,000 at 10×,
    50,000 at 100×. Multiples of 50,000 keep doc_id mod 2, 4, 5 and 10,
    the fixtures' payload-class selectors, so each copy has the base's
    class mix."""
    shift = 6_000_000 // factor // 50_000 * 50_000
    if shift == 0:
        raise SystemExit(f"media entries support at most 120 copies, got {factor}")
    return shift


def inflate(spark, factor: int, tables, src: str, dst: str,
            doc_shift: int = SHIFT) -> None:
    """Write ``factor`` key-shifted copies of each table in ``tables``
    from ``src`` to ``dst`` (documents word-salted, dimensions as-is)."""
    for name in tables:
        base = spark.read.parquet(f"{src}/{name}.parquet")
        if name == "documents":
            copies = [base.withColumns({
                "doc_id": F.col("doc_id") + k * doc_shift,
                "text": F.regexp_replace("text", r"(\S+)", f"$1q{k}z"),
            }) for k in range(factor)]
        elif name in SHIFTED:
            copies = [base.withColumns(
                {c: F.col(c) + F.lit(k * SHIFT) for c in SHIFTED[name]}
            ) for k in range(factor)]
        else:
            copies = [base]
        out = functools.reduce(DataFrame.unionByName, copies)
        if factor > 10:
            # a realistic multi-file layout instead of one fat task per
            # base file
            out = out.repartition(max(8, factor // 4))
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")


def digest(df: DataFrame) -> tuple[int, int]:
    """(rows, wrapping sum of 64-bit row hashes): equal multisets of rows
    give equal digests whatever the partitioning or row order."""
    cols = [
        F.round(c, 6) + F.lit(0.0) if t in ("double", "float") else F.col(c)
        for c, t in sorted(df.dtypes)
    ]
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h")
    ).first()
    return row.n, row.h or 0


def _session(cores: int):
    from temporai_mivdp_spark.session import get_session

    spark = get_session(
        app_name="mivdp-measure",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _builder(spec: str):
    """A catalog key, or ``KEY=module:callable`` for a variant of it."""
    if "=" not in spec:
        from temporai_mivdp_spark.queries import QUERIES
        import temporai_mivdp_spark.queries_llm  # noqa: F401  (registers)

        return QUERIES[spec]
    module, attr = spec.split("=", 1)[1].split(":")
    return getattr(importlib.import_module(module), attr)


def _key(spec: str) -> str:
    return spec.split("=", 1)[0]


def _inflate_for(cores: int, factor: int, specs: list[str], src: str,
                 dst: str, doc_shift: int) -> None:
    """Inflate exactly the base tables the entries scan."""
    spark = _session(cores)
    files = {Path(f.removeprefix("file:")) for spec in specs
             for f in _builder(spec)(spark, src).inputFiles()}
    tables = sorted(p.stem for p in files if p.parent == Path(src))
    t0 = time.perf_counter()
    inflate(spark, factor, tables, src, dst, doc_shift)
    print(f"inflated {','.join(tables)} {factor}x in "
          f"{time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)
    spark.stop()


def _measure(cores: int, repeats: int, specs: list[str],
             scales: dict[str, str]) -> dict:
    """{(spec, scale): (best seconds, rows, hash)} from one local[cores] JVM."""
    spark = _session(cores)
    dfs = {(s, lbl): _builder(s)(spark, sf) for s in specs
           for lbl, sf in scales.items()}
    best = {cell: float("inf") for cell in dfs}
    for r in range(repeats + 1):  # round 0 warms up
        for cell, df in dfs.items():
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if r:
                best[cell] = min(best[cell], time.perf_counter() - t0)
    out = {cell: (best[cell], *digest(df)) for cell, df in dfs.items()}
    spark.stop()
    return out


def _fresh_jvm(fn, *args):
    """Run ``fn`` in a new interpreter, so its Spark session gets its own
    JVM (a stopped session cannot be restarted with other cores)."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(1, mp_context=ctx) as pool:
        return pool.submit(fn, *args).result()


def check(results: dict, factor: int) -> list[str]:
    """The failed hash and row-growth checks, one line each."""
    fails = []
    first = results[next(iter(results))]
    big = f"{factor}x"
    for cores, cells in results.items():
        for (spec, lbl), (_, rows, h) in cells.items():
            if first[(spec, lbl)][1:] != (rows, h):
                fails.append(f"{spec} @{lbl}: local[{cores}] changes the hash")
            if cells[(_key(spec), lbl)][1:] != (rows, h):
                fails.append(f"{spec} @{lbl}: hash differs from {_key(spec)}")
            if (lbl == big and _key(spec) not in CHECK_EXEMPT
                    and rows != factor * cells[(spec, "base")][1]):
                fails.append(f"{spec}: rows {cells[(spec, 'base')][1]} -> "
                             f"{rows}, not exactly {factor}x")
    return fails


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--only", default=",".join(HEADLINE))
    ap.add_argument("--cores", default=os.environ.get(
        "SPARK_GRAFT_CPUS", str(os.cpu_count())))
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--variant", action="append", default=[])
    args = ap.parse_args()
    if args.factor < 1:
        ap.error("--factor must be at least 1")
    if not os.environ.get("SPARK_GRAFT_SF_DIR"):
        ap.error("set SPARK_GRAFT_SF_DIR to the directory of the base tables")
    src = str(Path(os.environ["SPARK_GRAFT_SF_DIR"]).resolve())
    keys = [k for k in args.only.split(",") if k]
    specs = keys + [k for k in dict.fromkeys(map(_key, args.variant))
                    if k not in keys] + args.variant
    for spec in specs:  # fail on an unknown key or variant before any JVM starts
        _builder(spec)
    media = {_key(s) for s in specs} & MEDIA_ENTRIES
    if media and media != {_key(s) for s in specs}:
        raise SystemExit("media entries must be measured on their own: "
                         + ",".join(sorted(media)))
    cores = [int(c) for c in args.cores.split(",")]
    dst = tempfile.mkdtemp(prefix=f"mivdp_measure_{args.factor}x_")
    scales = {"base": src}
    try:
        if args.factor > 1:
            doc_shift = media_doc_shift(args.factor) if media else SHIFT
            _fresh_jvm(_inflate_for, max(cores), args.factor, specs, src,
                       dst, doc_shift)
            scales[f"{args.factor}x"] = dst
        results = {c: _fresh_jvm(_measure, c, args.repeats, specs, scales)
                   for c in cores}
    finally:
        shutil.rmtree(dst, ignore_errors=True)

    big = list(scales)[-1]
    print(f"| entry | cores | base s | {big} s | ratio | rows | hash |")
    print("|---|---|---|---|---|---|---|")
    for c, cells in results.items():
        for spec in specs:
            (a, ra, _), (b, rb, h) = cells[(spec, "base")], cells[(spec, big)]
            print(f"| {spec} | {c} | {a:.3f} | {b:.3f} | {b / a:.1f}× "
                  f"| {ra}→{rb} | {h & 0xFFFFFFFF:08x} |")
    fails = check(results, args.factor)
    for line in fails:
        print("FAIL " + line, file=sys.stderr)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
