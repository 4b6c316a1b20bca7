"""The graft benchmark: one command that builds graft, generates a seeded
input, runs one workload, checks every output and prints the metrics.

  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The lines before it report every metric by name and
unit, ``fail_frac``, the sample counts and the environment.  See
graftbench/README.md for the workloads and the metric definitions.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import build
import checks
import gen

ROOT = build.ROOT
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
HEAP = "3g"

# End-to-end metrics, measured with tracing off: name -> unit.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "cached_peak_mb": "MB",
}

# Per-layer metrics of the traced run: span -> suffixes.  A span is the
# benchmark's own wrapper around one call into a graft layer.
SPAN_SUFFIXES = {
    # daily_snapshot
    "daily": ("wall_s", "self_s", "task_s", "idle_core_s", "cached_mb"),
    "Pipeline.build": ("wall_s", "jobs"),
    "Cleaning.cleanEvents": ("wall_s", "task_s", "shuffle_mb", "gc_s", "rows_dropped"),
    "Bars.daily": ("wall_s", "task_s", "shuffle_mb"),
    "Indicators.enrichAll": ("wall_s", "task_s", "gc_s", "skew", "shuffle_mb"),
    "Breadth.breadthDaily": ("wall_s", "task_s", "jobs"),
    "Breadth.marketHealth": ("wall_s", "jobs"),
    "Breadth.topMovers": ("wall_s", "task_s", "jobs"),
    "Screener.signalScore": ("wall_s", "task_s", "jobs"),
    "Screener.breakouts": ("wall_s", "task_s", "jobs"),
    "Export.parquet": ("wall_s", "task_s", "output_mb", "files", "jobs"),
    "Report.dailyMarkdown": ("wall_s", "jobs", "idle_core_s", "plan_ms"),
    # corpus_curate
    "curate": ("wall_s", "self_s", "task_s", "idle_core_s", "cached_mb"),
    "TextAnalysis.withQuality": ("wall_s", "task_s"),
    "curate.exactDedup": ("wall_s", "task_s", "shuffle_mb"),
    "Dedup.pairs": ("wall_s", "task_s", "shuffle_mb", "gc_s", "skew", "count"),
    "Components.dedupClusters": ("wall_s", "task_s", "jobs", "idle_core_s", "plan_ms"),
    "TextAnalysis.splitByHash": ("wall_s", "task_s"),
    "Shard.shardPack": ("wall_s", "task_s", "jobs"),
    "Export.jsonlShards": ("wall_s", "task_s", "output_mb", "files", "jobs"),
    # catalogue rows of either workload: medians over the traced executions
    "query": ("wall_s", "plan_ms", "jobs", "task_s", "idle_core_s", "cached_mb"),
    # every workload
    "sources": ("input_mb", "read_mb", "read_amp"),
}
SUFFIX_UNITS = {
    "wall_s": "s", "self_s": "s", "task_s": "s", "idle_core_s": "s", "gc_s": "s",
    "plan_ms": "ms", "shuffle_mb": "MB", "output_mb": "MB",
    "cached_mb": "MB", "input_mb": "MB", "read_mb": "MB", "skew": "ratio",
    "read_amp": "ratio", "jobs": "count", "files": "count", "count": "count",
    "rows_dropped": "count",
}
HIGHER_IS_BETTER = {"Dedup.pairs.count", "Cleaning.cleanEvents.rows_dropped"}


def per_layer_names():
    names = ["%s.%s" % (span, sfx) for span, sfxs in SPAN_SUFFIXES.items() for sfx in sfxs]
    return names + ["trace_overhead_s"]


def unit_of(name):
    return "s" if name == "trace_overhead_s" else SUFFIX_UNITS[name.rsplit(".", 1)[1]]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------ running

def inputs_for(workload, seed):
    """Generated inputs, cached per (workload, seed, generator source)."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(build.BUILD, "inputs", "%s-%d-%s" % (workload, seed, key))
    if not os.path.exists(os.path.join(path, "truth.json")):
        tmp = path + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(os.path.join(path, "truth.json")) as f:
        return path, json.load(f)


def jvm_command(classpath, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    work = args[2]
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return cmd + ["-cp", classpath, "graftbench.Harness"] + args


def run_jvm(cmd, log_path, n_cores):
    """Run the harness in its own process group; on a timeout or when this
    process is terminated, kill the group and wait for it to end."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n_cores))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log, env=env,
                                start_new_session=True)
        signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("harness exceeded %d s" % JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("harness failed (exit %d)" % code)


# ------------------------------------------------------------ metrics

def end_to_end(result, truth):
    measured = [c for c in result["calls"] if c["kind"] == "measure"]
    walls = [c["wall_s"] for c in measured]
    wall = statistics.median(walls)
    m = {
        "setup_s": statistics.median(result["setup_s"]),
        "wall_s": wall,
        "rows_per_s": sum(t["rows"] for t in truth["input"].values()) / wall,
        "cached_peak_mb": statistics.median(c["cached_mb"] for c in measured),
    }
    # Share of the cores' time the tasks of a warm call kept busy.
    busy = statistics.median(c["task_s"] / (c["wall_s"] * result["env"]["cpus"]) for c in measured)
    samples = {"walls": [round(w, 3) for w in walls],
               "setups": [round(w, 3) for w in result["setup_s"]],
               "busy_share": round(busy, 3)}
    return m, samples


def per_layer(workload, result, spans, truth):
    """Per-layer metrics from the traced calls' spans; a layer the
    workload does not run reads 0."""
    groups = {}
    for s in spans:
        if s["name"].startswith("query:"):
            groups.setdefault("query", []).append(s)
        else:
            groups.setdefault(s["name"], []).append(s)
    out = {}
    for span, sfxs in SPAN_SUFFIXES.items():
        recs = groups.get(span, [])
        for sfx in sfxs:
            out["%s.%s" % (span, sfx)] = 0.0
        if not recs:
            continue
        if span == "query":  # medians over row executions
            for sfx in sfxs:
                out["%s.%s" % (span, sfx)] = statistics.median(r[sfx] for r in recs)
            continue
        runs = {}  # a span entered several times in one call sums, skew takes the max
        for r in recs:
            acc = runs.setdefault(r["run"], {})
            for sfx in sfxs:
                if sfx == "skew":
                    acc[sfx] = max(acc.get(sfx, 0.0), r["skew"])
                elif sfx == "rows_dropped":  # input rows less the rows kept
                    acc[sfx] = truth["input"]["events"]["rows"] - r["rows_out"]
                elif sfx != "files":
                    acc[sfx] = acc.get(sfx, 0.0) + r.get(sfx, 0.0)
        for sfx in sfxs:
            if sfx != "files":
                out["%s.%s" % (span, sfx)] = statistics.median(a[sfx] for a in runs.values())
    calls = result["calls"]
    traced = [c for c in calls if c["kind"] == "traced"]
    untraced = [c for c in calls if c["kind"] == "measure"]
    name, pattern = {"daily_snapshot": ("Export.parquet.files", "*.parquet"),
                     "corpus_curate": ("Export.jsonlShards.files", "*.json")}[workload]
    out[name] = statistics.median(
        len(glob.glob(os.path.join(c["out"], "**", pattern), recursive=True)) for c in traced)
    out["trace_overhead_s"] = (statistics.median(c["wall_s"] for c in traced)
                               - statistics.median(c["wall_s"] for c in untraced))
    out["sources.input_mb"] = sum(t["bytes"] for t in truth["input"].values()) / 1e6
    out["sources.read_mb"] = statistics.median(c["read_mb"] for c in untraced)
    out["sources.read_amp"] = out["sources.read_mb"] / out["sources.input_mb"]
    return out


def tally(result, oracle_failures):
    """(attempted, errors): every timed call and every verified catalogue
    row is one attempt; a call that threw or whose output failed its
    check, and a row that failed its oracle, is one error."""
    attempted = len(result["calls"]) + len(result.get("oracle_sql", {}))
    errors = [c["error"] for c in result["calls"] if c.get("error")] + list(oracle_failures)
    return attempted, errors


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath = build.build()
    in_dir, truth = inputs_for(a.workload, a.seed)
    work = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        n = cores()
        args = [a.workload, in_dir, work, str(a.seconds), str(a.trace), str(n)]
        run_jvm(jvm_command(classpath, args), os.path.join(work, "harness.log"), n)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        oracle_failures = checks.check_calls(a.workload, in_dir, work, truth,
                                             result["calls"], result.get("oracle_sql", {}))
        attempted, errors = tally(result, oracle_failures)
        failed = len(errors)
        if a.trace:
            with open(os.path.join(work, "spans.jsonl")) as f:
                spans = [json.loads(l) for l in f if l.strip()]
            values = per_layer(a.workload, result, spans, truth)
            units = {k: unit_of(k) for k in values}
            samples = {"spans": len(spans)}
        else:
            values, samples = end_to_end(result, truth)
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = dict(result["env"], seed=a.seed, workload=a.workload,
               input={k: v for k, v in truth["input"].items()})
    print("# env " + json.dumps(env, sort_keys=True))
    for k in sorted(values):
        print("# %-40s %14.6g %s" % (k, values[k], units[k]))
    print("# %-40s %14.6g %s" % ("fail_frac", failed / attempted, "ratio"))
    print("# samples " + json.dumps(samples, sort_keys=True))
    for e in errors[:10]:
        print("# failure: " + str(e)[:300])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in sorted(values)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
