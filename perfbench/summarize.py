#!/usr/bin/env python3
"""Layer table of traced benchmark runs.

    python3 perfbench/summarize.py [out_dir]

Reads the run records the benchmark leaves in perfbench/.work/out (or
`out_dir`): for each workload, the traced run `<workload>-s<seed>-t1.json`
with its span tree `...-t1.trace.json`, and the untraced run of the same
seed when there is one. Prints, per workload, where the query wall went,
layer by layer, the self time of each span kind, and the tracing overhead
on `pass_s`. Untraced runs of every seed are pooled for the latency
percentiles (p90 needs at least 100 pooled samples). When the full-mix
survey of a workload is there (`<workload>-survey.json`, from
`run.py --survey`), it also compares the layer shares of the whole mix
with those of the sample, so a sample that stops standing for its mix
shows.
"""
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import SAMPLE, TooFewSamples, percentile, warm_pass_s  # noqa: E402


def union(intervals):
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Σ self time per span kind: a span minus the time its children (and,
    for the frame/action/check phases, the Spark jobs inside them) cover."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["kind"] == "job":
            continue
        lo, hi = s["start_ms"], s["start_ms"] + s["dur_ms"]
        kids = [c for c in by_parent.get(s["id"], []) if c["kind"] != "job"]
        if s["kind"] in ("frame", "action", "check"):
            kids = [j for j in by_parent.get(s["parent"], []) if j["kind"] == "job"]
        covered = union(clip([(c["start_ms"], c["start_ms"] + c["dur_ms"]) for c in kids], lo, hi))
        out[s["kind"]] = out.get(s["kind"], 0.0) + (s["dur_ms"] - covered) / 1e3
    return out


def warm_shares(spans, keep=lambda name: True):
    """Layer shares of the warm-pass query runs (pass 1 on) whose query
    name `keep` accepts: times as shares of their Σ wall, work per run."""
    by_id = {s["id"]: s for s in spans if s["kind"] != "job"}
    queries = [s for s in spans if s["kind"] == "query" and keep(s["name"])
               and by_id[s["parent"]]["name"] != "pass-0"]
    ids = {q["id"] for q in queries}
    jobs = [j for j in spans if j["kind"] == "job" and j["parent"] in ids]
    n = len(queries)
    wall = sum(q["dur_ms"] for q in queries)

    def share(ms):
        return f"{ms / wall:6.1%}"

    def per_run(x, unit):
        return f"{x / n:6.2f} {unit}"
    return n, [
        ("query runs", f"{n:6d}"),
        ("mean query wall", per_run(wall / 1e3, "s")),
        ("frame (construction)", share(sum(s["dur_ms"] for s in spans
                                           if s["kind"] == "frame" and s["parent"] in ids))),
        ("Tables jobs", share(sum(j["dur_ms"] for j in jobs if j["site"] == "tables"))),
        ("ops/ jobs", share(sum(j["dur_ms"] for j in jobs if j["site"] == "ops"))),
        ("job union", share(sum(q["job_union_ms"] for q in queries))),
        ("driver gap", share(sum(q["driver_gap_ms"] for q in queries))),
        ("task CPU ÷ wall", share(sum(j["task_cpu_ms"] for j in jobs))),
        ("jobs per run", per_run(len(jobs), "")),
        ("shuffle write per run", per_run(sum(j["shuffle_write_b"] for j in jobs) / 1048576, "MB")),
        ("output per run", per_run(sum(j["output_b"] for j in jobs) / 1048576, "MB")),
    ]


def read_sample(path=SAMPLE):
    out = {}
    with open(path) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                cols = line.rstrip("\n").split("\t")
                out.setdefault(cols[0], set()).add(cols[4])
    return out


def mix_vs_sample(out_dir, workload, traced_spans):
    """Layer shares of the full mix against those of the sample, over the
    warm passes of the survey, and of the benchmark's traced run."""
    survey = os.path.join(out_dir, f"{workload}-survey.trace.json")
    if not os.path.exists(survey):
        return "no full-mix survey"
    spans = json.load(open(survey))
    sample = read_sample().get(workload, set())
    cols = [warm_shares(spans), warm_shares(spans, lambda n: n in sample),
            warm_shares(traced_spans)]
    head = ("", "full mix", "sample", "traced run")
    rows = [head] + [(name,) + tuple(c[1][i][1] for c in cols)
                     for i, (name, _) in enumerate(cols[0][1])]
    w = max(len(r[0]) for r in rows)
    return "\n".join(f"  {r[0]:<{w}}" + "".join(f"{x:>14}" for x in r[1:]) for r in rows)


def table(rows):
    w = max(len(r[0]) for r in rows)
    return "\n".join(f"  {name:<{w}}  {val}" for name, val in rows)


def summarize(out_dir, workload, traced_path):
    rec = json.load(open(traced_path))
    spans = json.load(open(traced_path[:-5] + ".trace.json"))
    L = rec["layers"]
    queries = [s for s in spans if s["kind"] == "query"]
    wall = sum(s["dur_ms"] for s in queries) / 1e3
    st = self_times(spans)
    seed = rec["context"]["seed"]
    pass_t = warm_pass_s(rec)
    untraced = {p: json.load(open(p))
                for p in sorted(glob.glob(os.path.join(out_dir, f"{workload}-s*-t0.json")))}

    def vs(pass_u, what):
        return f"{pass_t - pass_u:+.2f} s ({(pass_t - pass_u) / pass_u:+.1%}) vs {what} {pass_u:.2f} s"
    overhead = []
    plain = traced_path.replace("-t1.json", "-t0.json")
    if plain in untraced:
        overhead.append(vs(warm_pass_s(untraced[plain]), "the untraced run of this seed"))
    if untraced:
        overhead.append(vs(statistics.median(warm_pass_s(r) for r in untraced.values()),
                           f"the median of {len(untraced)} untraced runs"))
    overhead = "; ".join(overhead) or "no untraced run"

    def s(x):
        return f"{x:8.2f} s  {x / wall:6.1%}" if wall else f"{x:8.2f} s"
    rows = [
        ("Σ query wall, all passes", s(wall)),
        ("frame (construction)", s(L["queries.frame_s"])),
        ("  Tables jobs", s(L["tables.job_s"])),
        ("  construction-time jobs", f"{L['queries.construct_jobs']:8d}"),
        ("action (materialize + digest)", s(L["queries.action_s"])),
        ("Catalyst, timed action", s((L["catalyst.analysis_ms"] + L["catalyst.optimization_ms"]
                                      + L["catalyst.planning_ms"]) / 1e3)),
        ("  analysis / optimization / planning ms",
         f"{L['catalyst.analysis_ms']:.0f} / {L['catalyst.optimization_ms']:.0f} / {L['catalyst.planning_ms']:.0f}"),
        ("Σ job wall", s(L["spark.job_wall_s"])),
        ("  ops/ jobs", s(L["ops.job_s"])),
        ("task run / task CPU", f"{L['spark.task_run_s']:8.2f} s / {L['spark.task_cpu_s']:.2f} s"),
        ("driver gap (wall − job union)", s(L["spark.driver_gap_s"])),
        ("streaming addBatch / walCommit / planning / latestOffset ms",
         f"{L['streaming.add_batch_ms']:.0f} / {L['streaming.wal_commit_ms']:.0f} / "
         f"{L['streaming.query_planning_ms']:.0f} / {L['streaming.latest_offset_ms']:.0f}"
         f"  ({L['streaming.batches']} batches, trigger p50 {L['streaming.trigger_ms_p50']:.0f} ms)"),
        ("jobs / stages / tasks", f"{L['spark.jobs']} / {L['spark.stages']} / {L['spark.tasks']}"),
        ("shuffle read / write / spill / output MB",
         f"{L['spark.shuffle_read_mb']:.2f} / {L['spark.shuffle_write_mb']:.2f} / "
         f"{L['spark.spill_mb']:.2f} / {L['spark.output_mb']:.2f}"),
        ("Tables.load direct call, median", f"{statistics.median(rec['tables_load_ms']):8.1f} ms"),
        ("storage held after run", f"{rec['storage']['held_mb']:8.2f} MB "
                                   f"(max {rec['storage']['blocks_after_query_max']} blocks after a query)"),
        ("JVM GC / JIT", f"{rec['jvm']['gc_s']:8.2f} s / {rec['jvm']['jit_s']:.2f} s"),
        ("frame+action vs query span, max gap", f"{L['trace.reconcile_max']:8.1%}"),
    ]
    self_rows = [(f"self {k}", f"{v:8.2f} s") for k, v in sorted(st.items())]
    pooled = [x["wall_s"] for r in untraced.values() for x in r["samples"]
              if x["outcome"] == "ok" and x["pass"] > 0]
    pct = []
    for q in (0.5, 0.9):
        try:
            pct.append(f"p{round(q * 100)} {percentile(pooled, q):.3f} s")
        except TooFewSamples as e:
            pct.append(f"p{round(q * 100)} refused ({e})")
    return "\n".join([
        f"== {workload} (seed {seed}, traced: {len(queries)} query runs over "
        f"{len(rec['passes'])} passes; warm pass {pass_t:.2f} s) ==",
        f"tracing overhead on pass_s: {overhead}",
        table(rows),
        "span self time (span minus the time its children cover):",
        table(self_rows),
        f"untraced warm query wall, pooled over {len(pooled)} samples of every seed: "
        + ", ".join(pct),
        "layer shares of the warm passes: full mix (survey) vs its sample (survey) "
        "vs the traced benchmark run:",
        mix_vs_sample(out_dir, workload, spans),
    ])


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, ".work", "out")
    traced = {}
    for p in sorted(glob.glob(os.path.join(out_dir, "*-t1.json"))):
        m = re.match(r"(\w+)-s(\d+)-t1\.json$", os.path.basename(p))
        if m and os.path.exists(p[:-5] + ".trace.json"):
            traced.setdefault(m.group(1), p)
    if not traced:
        sys.exit(f"no traced runs in {out_dir}")
    print("\n\n".join(summarize(out_dir, w, p) for w, p in sorted(traced.items())))


if __name__ == "__main__":
    main()
