"""Per-layer metrics of a traced run, and the where-the-seconds-went report.

Every span `<layer>.<stage>` reports the base metrics below (a span the
workload does not exercise reports 0); some spans add a ratio, printed
with its base. `trace.overhead_s` is traced `job_s` minus untraced
`job_s` of the same run.
"""
import statistics
from collections import defaultdict

SPANS = ["sources.read", "normalize.crossref", "operators.snapshot", "operators.groupcover",
         "license.config", "license.tag", "llm.minhash", "llm.lsh_verify", "llm.groups",
         "llm.rewrite", "export.solr", "export.write"]
BASE = [("wall_s", "s"), ("self_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
        ("rows_out", "count")]
RATIOS = [("operators.snapshot.keep_ratio", "ratio"),
          ("license.tag.probe_hit_ratio", "ratio"),
          ("license.tag.labeled_ratio", "ratio"),
          ("operators.groupcover.shrunk_ratio", "ratio"),
          ("llm.lsh_verify.precision", "ratio"),
          ("llm.lsh_verify.max_bucket", "count"),
          ("llm.groups.rounds", "count"),
          ("export.solr.bytes_per_record", "B/record")]
TRACE = [("trace.job_s", "s"), ("trace.untraced_job_s", "s"), ("trace.overhead_s", "s")]


def names():
    """Every per-layer metric name with its unit, as BENCHMARK.json lists them."""
    return [(f"{s}.{m}", u) for s in SPANS for m, u in BASE] + RATIOS + TRACE


def ratios(layers, meta, out_bytes):
    """(value, numerator, base) of each ratio a traced job measured."""
    c = layers.get("counts", {})

    def rows(span):
        return layers.get(span, {}).get("rows_out", 0)

    def r(num, base):
        return (num / base if base else 0.0, num, base)

    out = {}
    if "operators.snapshot" in layers:
        out["operators.snapshot.keep_ratio"] = r(rows("operators.snapshot"), meta["crossref_lines"])
    if "license.tag.probes" in c:
        out["license.tag.probe_hit_ratio"] = r(c["license.tag.matched"], c["license.tag.probes"])
    if "license.tag.records" in c:
        out["license.tag.labeled_ratio"] = r(c["license.tag.labeled"], c["license.tag.records"])
    if "operators.groupcover.shrunk" in c:
        out["operators.groupcover.shrunk_ratio"] = r(c["operators.groupcover.shrunk"],
                                                     rows("operators.groupcover"))
    if "llm.minhash" in layers:
        out["llm.lsh_verify.precision"] = r(rows("llm.lsh_verify"), rows("llm.minhash"))
        out["llm.lsh_verify.max_bucket"] = (c["llm.lsh_verify.max_bucket"], None, None)
    if "llm.groups" in layers:
        # duplicateGroups truncates lineage twice before its loop (edges,
        # initial labels), then once per label-propagation round
        out["llm.groups.rounds"] = (layers["llm.groups"]["checkpoint_jobs"] - 2, None, None)
    if "export.solr" in layers:
        out["export.solr.bytes_per_record"] = r(out_bytes, rows("export.write"))
    return out


def per_layer(results, untraced_job_s, out_bytes, meta, run_dir, log):
    traced = [r for r in results if r["traced"] and not r["error"]]
    samples = defaultdict(list)
    shown = {}
    for r in traced:
        layers = r["layers"]
        for s in SPANS:
            for m, _ in BASE:
                samples[f"{s}.{m}"].append(layers.get(s, {}).get(m, 0.0))
        for k, v in ratios(layers, meta, out_bytes).items():
            samples[k].append(v[0])
            shown[k] = v
    traced_s = statistics.median(r["job_s"] for r in traced)
    samples["trace.job_s"] = [traced_s]
    samples["trace.untraced_job_s"] = [untraced_job_s]
    samples["trace.overhead_s"] = [traced_s - untraced_job_s]
    metrics = {n: (statistics.median(samples[n]) if samples.get(n) else 0.0, u)
               for n, u in names()}

    by_layer = defaultdict(float)
    for s in SPANS:
        by_layer[s.split(".")[0]] += metrics[f"{s}.self_s"][0]
    log(f"where the seconds went ({len(traced)} traced jobs, medians): traced job_s "
        f"{traced_s:.3f}, untraced {untraced_job_s:.3f}, overhead {traced_s - untraced_job_s:+.3f}")
    for layer, v in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        if v:
            log(f"  {layer:10s} self {v:8.3f} s")
    for k, (v, num, base) in sorted(shown.items()):
        log(f"  {k} = {v:.4g}" + (f" ({num:g} / {base:g})" if base else ""))
    return metrics
