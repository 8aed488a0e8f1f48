"""The benchmark's own tests: its output checks pass on the default seed,
on two fresh seeds, and at 1 core and all cores; and they fail on a
corrupted output (one row dropped, one label flipped, one wrong `kept`).

    python3 perfbench/test_checks.py [workload ...]

Each passing case is one benchmark run with a single job (a few minutes
in all). Exits non-zero on the first failing case.
"""
import copy
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import run  # noqa: E402

FRESH_SEEDS = (1009, 2718)


def bench(workload, seed, cores):
    rc = run.main(["--workload", workload, "--seed", str(seed), "--seconds", "0",
                   "--min-jvms", "1", "--cores", str(cores)])
    report = json.loads((run.WORK / "runs" / f"{workload}-{seed}-t0" / "report.json").read_text())
    assert rc == 0 and report["correct"] and report["failed"] == 0, \
        f"{workload} seed {seed} cores {cores}: {report}"
    return run.WORK / "runs" / f"{workload}-{seed}-t0" / "jvm0"


def corruptions(workload, rows):
    """(name, corrupted copy) for each corruption the check must catch."""
    out = [("one row dropped", rows[1:])]
    if workload == "neardup":
        bad = copy.deepcopy(rows)
        grouped = next(r for r in bad if r["group_id"] != r["doc_id"])
        grouped["kept"] = not grouped["kept"]
        out.append(("one wrong kept", bad))
        bad = copy.deepcopy(rows)
        bad[0]["group_id"] = -1
        out.append(("one wrong group", bad))
    else:
        key = "institution" if workload == "ai_update" else "labels"
        bad = copy.deepcopy(rows)
        r = next(r for r in bad if r[key])
        r[key] = r[key][1:]
        out.append(("one label dropped", bad))
        bad = copy.deepcopy(rows)
        r = next(r for r in bad if r[key] is not None)
        r[key] = r[key] + ["DE-Flipped"]
        out.append(("one label added", bad))
    return out


def test_workload(workload):
    nproc = os.cpu_count()
    run_dir = bench(workload, 1, nproc)
    data = next((run.WORK / "data").glob(f"{workload}-1-*"))
    rows = check.read_ndjson(run_dir / "out")
    as_of = json.loads((data / "meta.json").read_text())["as_of"]
    for name, bad in corruptions(workload, rows):
        if workload == "neardup":
            problems = check.check_neardup(data, run_dir, groups=bad)
        else:
            want = {"ai_update": check.expected_ai_update,
                    "license_tag": check.expected_license_tag}[workload](data, as_of)
            problems = check.compare(bad, want, workload)
        assert problems, f"{workload}: check passed a corrupted output ({name})"
        print(f"ok  {workload}: check rejects {name}")
    print(f"ok  {workload}: seed 1 passes at {nproc} cores")
    bench(workload, 1, 1)
    print(f"ok  {workload}: seed 1 passes at 1 core")
    for seed in FRESH_SEEDS:
        bench(workload, seed, nproc)
        print(f"ok  {workload}: seed {seed} passes at {nproc} cores")


if __name__ == "__main__":
    for w in sys.argv[1:] or run.WORKLOADS:
        test_workload(w)
    print("all checks ok")
