"""Siskin-spine benchmark: one command that builds the engine, generates a
workload's inputs from a seed, runs the batch job in fresh JVMs, checks
the output against an independent reference and prints every metric.

    python3 perfbench/run.py --workload ai_update --seed 1 --seconds 30 --trace 0

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See README.md for the workloads and the metric list.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
MIN_JVMS = 3  # fresh JVMs per run at least, each one set-up and one job
DEADLINE_S = 160  # a JVM still running this long after the first launch is killed
HEAP = "1g"  # fixed; with spark.memory.fraction=0.1 about 72 MiB of execution memory
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
WORKLOADS = ("ai_update", "license_tag", "neardup")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def inputs(workload, seed):
    """Generate (once per seed and generator version) the workload inputs."""
    stamp = build.digest([HERE / "gen.py"])
    d = WORK / "data" / f"{workload}-{seed}-{stamp}"
    if not (d / "meta.json").exists():
        for old in (WORK / "data").glob(f"{workload}-*"):
            shutil.rmtree(old, ignore_errors=True)
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        t = time.time()
        gen.generate(workload, seed, tmp)
        tmp.rename(d)
        log(f"generated {workload} seed {seed} in {time.time() - t:.1f} s")
    return d, json.loads((d / "meta.json").read_text())


def java(classes, cores, args, run_dir, timeout):
    cp = f"{classes}:{build.spark_jars() / '*'}"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={run_dir / 'local'}",
            "-Dspark.memory.fraction=0.1"] + opens +
           ["-cp", cp, "perfbench.Main", "--cores", str(cores)] +
           [x for k, v in args.items() for x in (f"--{k}", str(v))] +
           ["--t0-ms", str(int(time.time() * 1000))])
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    with open(run_dir / "jvm.log", "ab") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    return rc


def output_bytes(path):
    return sum(f.stat().st_size for f in Path(path).glob("part-*"))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10,
                    help=f"seconds of fresh JVMs to run (at least {MIN_JVMS} of them)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--min-jvms", type=int, default=MIN_JVMS, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    classes = build.build()
    data, meta = inputs(a.workload, a.seed)
    run_dir = WORK / "runs" / f"{a.workload}-{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    # A closed loop of one client: fresh JVMs one after another, each
    # running the batch job once; a traced run alternates traced and
    # untraced JVMs. Every JVM's output is checked.
    jobs, setups, problems, failed = [], [], [], 0
    start = time.time()
    k = 0
    while k < a.min_jvms or time.time() - start < a.seconds:
        left = DEADLINE_S - (time.time() - start)
        jvm_dir = run_dir / f"jvm{k}"
        res = jvm_dir / "result.json"
        traced = a.trace == 1 and k % 2 == 0
        rc = java(classes, a.cores, {
            "workload": a.workload, "data": data, "asof": meta["as_of"],
            "work": jvm_dir / "work", "out": jvm_dir / "out", "result": res,
            "trace": int(traced)}, jvm_dir, max(1.0, left))
        r = json.loads(res.read_text()) if res.exists() else {}
        k += 1
        failed += (rc != 0) + int(r.get("failed_jobs", 0)) + int(r.get("retried_tasks", 0))
        if rc != 0:
            log(f"benchmark JVM exited with {rc}; see {jvm_dir / 'jvm.log'}")
        if "setup_s" in r:
            setups.append(r["setup_s"])
        job = r.get("job")
        if job is None or job["error"]:
            log(f"job error: {job['error'] if job else 'no job result'}")
            failed += 1
        if job is None or job["error"] or rc != 0:
            break
        found = check.check(a.workload, data, jvm_dir)
        for p in found:
            log(f"check failed in {jvm_dir.name}: {p}")
        problems += found
        job.update(peak_rss_mb=r["peak_rss_mb"], output_bytes=output_bytes(jvm_dir / "out"))
        jobs.append(job)
        if found:
            break
    if a.trace:
        spans = [s for f in sorted(run_dir.glob("jvm*/spans.json"))
                 for s in json.loads(f.read_text())]
        (run_dir / "spans.json").write_text(json.dumps(spans, indent=0))

    attempted = 2 * k  # each JVM's set-up and its job with the output check
    failed += len(problems) > 0
    plain = [j for j in jobs if not j["traced"]]
    if not plain or len(jobs) < k:
        report = {"correct": False, "attempted": attempted, "failed": max(failed, 1),
                  "metrics": {}}
        (run_dir / "report.json").write_text(json.dumps(report))
        print(json.dumps(report))
        return 1

    def med(key, js=plain):
        return statistics.median(j[key] for j in js)

    job_s = med("job_s")
    out_bytes = jobs[-1]["output_bytes"]
    if a.trace == 0:
        metrics = {
            "job_s": (job_s, "s"),
            "records_per_s": (meta["input_records"] / job_s, "1/s"),
            "setup_s": (statistics.median(setups), "s"),
            "cpu_s": (med("cpu_s"), "s"),
            "peak_rss_mb": (med("peak_rss_mb"), "MB"),
            "output_bytes": (med("output_bytes"), "bytes"),
        }
        log(f"medians of {len(plain)} fresh JVMs; job_s samples "
            f"{[round(j['job_s'], 3) for j in plain]}, setup_s samples "
            f"{[round(x, 3) for x in setups]}")
    else:
        metrics = layers.per_layer(jobs, job_s, out_bytes, meta, run_dir, log)
    for name, (v, unit) in metrics.items():
        print(f"{name:45s} {v:14.6g} {unit}")
    report = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    (run_dir / "report.json").write_text(json.dumps(report, indent=1))
    print(json.dumps(report))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
