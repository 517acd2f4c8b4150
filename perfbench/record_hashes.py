"""Record the artifact hashes that benchmark runs are checked against.

    python3 perfbench/record_hashes.py --workload icu_mortality --seeds 0-63

Run it from the root of a checkout, as ``run.py``. For each seed it
generates the workload's inputs, runs the job once, cross-checks the
artifacts against the independent implementation and stores their
order-insensitive hashes in ``expected/<workload>.json``, under the input
sizes they hold for. A seed whose cross-check fails is not recorded, and
the script exits with code 1. Re-record after a change that is meant to
change a job's outputs or the input sizes.
"""

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from spans import Tracer  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _save(path: str, rec: dict) -> None:
    """Write the file after every seed, seeds in numeric order."""
    rec["seeds"] = dict(sorted(rec["seeds"].items(), key=lambda kv: int(kv[0])))
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=run.WORKLOADS, required=True)
    ap.add_argument("--seeds", required=True, help="one seed or a range, e.g. 0-63")
    args = ap.parse_args(argv)

    path = os.path.join(run.EXPECTED_DIR, args.workload + ".json")
    sizes = json.loads(json.dumps(run.SIZES[args.workload]))
    rec = {}
    if os.path.exists(path):
        with open(path) as f:
            rec = json.load(f)
    if rec.get("sizes") != sizes:  # hashes of other sizes do not hold
        rec = {"sizes": sizes, "seeds": {}}

    work = os.path.join(os.getcwd(), ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    spark = None
    bad = []
    try:
        run._prepare_env(work)
        spark = run._session(work, trace=False)
        for seed in _seeds(args.seeds):
            runner = run.Runner(spark, args.workload, seed, work)
            runner.generate()
            art = runner.run_job(Tracer())
            if runner.cross_check(art):
                rec["seeds"][str(seed)] = runner.artifact_hashes(art)
                _save(path, rec)
                print(f"seed {seed}: recorded", file=sys.stderr)
            else:
                bad.append(seed)
                print(f"seed {seed}: cross-check failed, not recorded", file=sys.stderr)
    finally:
        if spark is not None:
            run._stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
