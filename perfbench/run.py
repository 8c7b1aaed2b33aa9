#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

Run one workload from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a traced run. See perfbench/README.md.

Record the reference digests (every query, three runs) with:

    python3 perfbench/run.py --record-digests

Choose each workload's sample again (a traced run of the full mix) with:

    python3 perfbench/run.py --survey
"""
import argparse
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
DIGESTS = os.path.join(HERE, "digests.tsv")
SAMPLE = os.path.join(HERE, "sample.tsv")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("interactive", "heavy")
HEAP = "4g"
# a query the watchdog times out is left out of the later passes, so a
# hang costs one timeout and the run still ends within RUN_LIMIT_S
QUERY_TIMEOUT_S = 30
RUN_LIMIT_S = 170
SURVEY_LIMIT_S = 1800
# a traced run is correct only if every query's frame and action spans
# cover its wall within this share
RECONCILE_LIMIT = 0.10

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class TooFewSamples(ValueError):
    pass


def percentile(values, q):
    """q-quantile, linear between the two nearest ranks (the median of an
    even count is the mean of the middle two). A tail percentile (q > 0.5)
    needs at least 10 samples beyond it, so p90 refuses fewer than 100."""
    n = len(values)
    if n == 0:
        raise TooFewSamples("no samples")
    if q > 0.5 and n * (1 - q) < 10 - 1e-9:
        raise TooFewSamples(f"p{round(q * 100)} needs {round(10 / (1 - q))} samples, got {n}")
    xs = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(cp, args, main="perfbench.Runner"):
    work = os.path.join(WORK, "jvm")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:CICompilerCount=2",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             f"-Dderby.system.home={work}",
             "-Djdk.reflect.useDirectMethodHandle=false",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in JVM_OPENS]
            + ["-cp", cp, main] + args), work


def run_jvm(cp, args, log_path, limit_s):
    """Runs the benchmark JVM; returns True on exit code 0. The process
    group is killed and awaited if it outlives `limit_s`."""
    cmd, cwd = jvm_command(cp, args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_GRAFT_QUERY_TIMEOUT_SEC=str(QUERY_TIMEOUT_S))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.stderr.write(f"perfbench: run exceeded {limit_s:.0f}s, killed\n")
            return False
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
    return p.returncode == 0


def metric(value, unit):
    return {"value": value, "unit": unit}


def warm_pass_s(rec):
    return statistics.median(p["wall_s"] for p in rec["passes"] if p["index"] > 0)


def query_walls(rec):
    """Each successful query's median wall over the warm passes, by name."""
    walls = {}
    for s in rec["samples"]:
        if s["outcome"] == "ok" and s["pass"] > 0:
            walls.setdefault(s["name"], []).append(s["wall_s"])
    return {n: statistics.median(v) for n, v in walls.items()}


def setup_s(rec):
    """The cold session start and warm-up, plus the first pass."""
    return rec["setup_s"] + rec["passes"][0]["wall_s"]


def end_to_end(rec):
    return {
        "query_gmean_s": metric(statistics.geometric_mean(query_walls(rec).values()), "s"),
        "pass_s": metric(warm_pass_s(rec), "s"),
        "setup_s": metric(setup_s(rec), "s"),
    }


LAYER_UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB"}
# layer times that one workload never exercises (no stream runs in `heavy`,
# no ops/ round in `interactive`): they would read exactly 0 on every run
# of it, so they stay in the span tree and the summarizer table only
TRACE_ONLY = {"ops.job_s", "streaming.trigger_ms_p50", "streaming.add_batch_ms",
              "streaming.wal_commit_ms", "streaming.query_planning_ms",
              "streaming.latest_offset_ms"}


def per_layer(rec):
    m = {}
    for name, value in rec["layers"].items():
        if name in TRACE_ONLY:
            continue
        unit = next((u for suf, u in LAYER_UNITS.items() if name.endswith(suf)),
                    "ratio" if name == "trace.reconcile_max" else "count")
        m[name] = metric(value, unit)
    m["tables.load_ms"] = metric(statistics.median(rec["tables_load_ms"]), "ms")
    m["storage.blocks_after_query_max"] = metric(rec["storage"]["blocks_after_query_max"], "count")
    m["storage.growth_mb"] = metric(rec["storage"]["growth_mb"], "MB")
    m["storage.held_mb"] = metric(rec["storage"]["held_mb"], "MB")
    m["jvm.gc_s"] = metric(rec["jvm"]["gc_s"], "s")
    m["jvm.jit_s"] = metric(rec["jvm"]["jit_s"], "s")
    m["trace.pass_s"] = metric(warm_pass_s(rec), "s")
    m["trace.first_pass_s"] = metric(rec["passes"][0]["wall_s"], "s")
    return m


def result(rec, traced):
    attempted = len(rec["samples"])
    failed = sum(1 for s in rec["samples"] if s["outcome"] != "ok")
    correct = attempted > 0 and failed == 0
    if traced:
        correct = correct and rec["layers"]["trace.reconcile_max"] < RECONCILE_LIMIT
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": per_layer(rec) if traced else end_to_end(rec)}


def family(query):
    """Name family: the leading letters (`tj1_asof_join` → `tj`)."""
    return re.match(r"[A-Za-z]*", query).group(0)


def choose_sample(workload, rec):
    """One representative per family of a full-mix run: the query whose
    median warm wall is closest to the family's mean (ties by name), so the
    sample's pass stands for the mix's time per query of every family.
    Returns sample.tsv rows."""
    walls = query_walls(rec)
    by_family = {}
    for name in sorted(walls):
        by_family.setdefault(family(name), []).append(name)
    rows = []
    for fam, names in sorted(by_family.items()):
        mean = statistics.mean(walls[n] for n in names)
        pick = min(names, key=lambda n: (abs(walls[n] - mean), n))
        rows.append((workload, fam, len(names), mean, pick, walls[pick]))
    return rows


def survey(cp, out_dir, workloads):
    """Traced run of each workload's full mix (a first pass and two warm
    passes); rewrites SAMPLE from it."""
    rows = []
    for w in workloads:
        stem = os.path.join(out_dir, f"{w}-survey")
        args = ["run", w, "1", "0", "1", FIXTURES, DIGESTS, "full", stem + ".json"]
        if not run_jvm(cp, args, stem + ".log", SURVEY_LIMIT_S):
            return 1
        with open(stem + ".json") as f:
            rec = json.load(f)
        failures = [s for s in rec["samples"] if s["outcome"] != "ok"]
        if failures:
            sys.stderr.write(f"perfbench: {w} survey failed: {json.dumps(failures)[:2000]}\n")
            return 1
        rows += choose_sample(w, rec)
    with open(SAMPLE, "w") as f:
        f.write("# workload\tfamily\tqueries\tfamily_mean_warm_s\tquery\tquery_warm_s\n")
        for w, fam, n, mean, pick, wall in rows:
            f.write(f"{w}\t{fam}\t{n}\t{mean:.3f}\t{pick}\t{wall:.3f}\n")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="run every query three times and rewrite digests.tsv")
    ap.add_argument("--survey", action="store_true",
                    help="trace the full mix of each workload and rewrite sample.tsv")
    a = ap.parse_args()
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        cp = build.build()
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 1
    t_built = time.monotonic()
    if a.record_digests:
        ok = run_jvm(cp, ["record", FIXTURES, "3", DIGESTS],
                     os.path.join(out_dir, "record.log"), 3600)
        return 0 if ok else 1
    if not os.path.exists(DIGESTS):
        sys.stderr.write("perfbench: reference digests missing\n")
        return 1
    if a.survey:
        return survey(cp, out_dir, [a.workload] if a.workload else WORKLOADS)
    if not a.workload:
        ap.error("--workload is required")
    if not os.path.exists(SAMPLE):
        sys.stderr.write("perfbench: sample file missing\n")
        return 1
    stem = os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}")
    # a build, when there is one, is outside the per-run limit
    limit = RUN_LIMIT_S - (time.monotonic() - t_built)
    if a.seconds > 0.5 * limit:
        sys.stderr.write("perfbench: --seconds too long for the run limit\n")
        return 1
    args = ["run", a.workload, str(a.seed), repr(float(a.seconds)), str(a.trace),
            FIXTURES, DIGESTS, SAMPLE, stem + ".json"]
    if not run_jvm(cp, args, stem + ".log", limit):
        return 1
    with open(stem + ".json") as f:
        rec = json.load(f)
    if not query_walls(rec):
        sys.stderr.write("perfbench: no query succeeded in a warm pass\n")
        return 1
    res = result(rec, a.trace == 1)
    print(json.dumps({"workload": a.workload, "context": rec["context"],
                      "failures": [s for s in rec["samples"] if s["outcome"] != "ok"]}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
