#!/usr/bin/env python3
"""graft benchmark: build the engine from source, run one workload, print metrics.

    python3 perfbench/run.py --workload filter_batch --seed 1 --seconds 20 --trace 0

Builds `src/main/scala` plus the benchmark's own Scala sources with the Scala
compiler shipped in `$SPARK_HOME/jars` (cached under `.bench_build/`), runs
`graftbench.Main` in one JVM on `local[<cores>]`, and reduces its raw
measurements into the metrics `BENCHMARK.json` names. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

`--trace 0` reports the end-to-end metrics; `--trace 1` reports the per-layer
metrics and writes every span to `.bench_build/perfbench/traces/`.
`--self-test` builds and runs the Scala unit tests instead.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = ("filter_batch", "validation_loop", "dedup_suite")

# Layer calls the benchmark makes, as <layer>.<call>; each gets every stat.
CALLS = (
    "models.fit",
    "discovery.dup_ids", "discovery.threshold", "discovery.phash_pairs", "discovery.clusters",
    "detect.validate",
    "loop.run", "loop.resume",
    "explain.som", "explain.rules",
    "ops.minhash", "ops.ngram", "ops.simhash", "ops.cosine",
)
STATS = (
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("exec_cpu_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("codegen_s", "s"),
)
# Calls that produce output: rows_out is the pairs, ids or rows they return,
# or else the rows their jobs wrote.
ROWS_OUT = tuple(c for c in CALLS if c not in ("models.fit", "discovery.threshold"))
# Per-pass figures of the traced passes as a whole.
RUN_LEVEL = (
    ("run.codegen_compiles", "count", "lower"),
    ("run.peak_task_mem_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def per_layer_defs():
    """(name, unit, better) of every per-layer metric, in report order."""
    defs = []
    for call in CALLS:
        for stat, unit in STATS:
            defs.append((f"{call}.{stat}", unit, "lower"))
        if call in ROWS_OUT:
            defs.append((f"{call}.rows_out", "rows", "higher"))
    defs.append(("ops.ngram.truncated", "count", "lower"))
    return defs + list(RUN_LEVEL)


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


# ---------------------------------------------------------------- spans

def covered_ms(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`, which may
    nest or overlap each other and reach outside the window."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's self time: its duration minus the part its children cover."""
    return (span["end_ms"] - span["start_ms"]) - covered_ms(
        span["start_ms"], span["end_ms"], [(c["start_ms"], c["end_ms"]) for c in children])


def attribute_jobs(jobs, spans, slack_ms=1.0):
    """Map job id -> span id. A job belongs to the span that was open when it
    started; job times are whole milliseconds, so at a boundary between two
    spans the earlier one keeps the jobs that also ended inside it."""
    owner = {}
    for job in jobs:
        start = job["start_ms"]
        end = job["end_ms"] if job["end_ms"] >= 0 else start
        around = [s for s in spans
                  if s["start_ms"] - slack_ms <= start <= s["end_ms"] + slack_ms]
        inside = [s for s in around if end <= s["end_ms"] + slack_ms]
        if inside:
            owner[job["id"]] = min(inside, key=lambda s: s["start_ms"])["id"]
        elif around:
            owner[job["id"]] = max(around, key=lambda s: s["start_ms"])["id"]
    return owner


def job_interval(job):
    end = job["end_ms"] if job["end_ms"] >= 0 else job["start_ms"]
    return job["start_ms"], end


def layer_stats(raw):
    """Per-call stats of every traced timed pass, the job-span tree, and the
    per-layer self times. Returns (per_pass, job_spans)."""
    spans = raw["spans"]
    leaves = [s for s in spans if s["kind"] in ("call", "setup")]
    owner = attribute_jobs(raw["jobs"], leaves)
    jobs_of = {}
    for job in raw["jobs"]:
        if job["id"] in owner:
            jobs_of.setdefault(owner[job["id"]], []).append(job)
    per_pass = {}
    for s in spans:
        if s["kind"] != "call" or not s["trace"].startswith("pass"):
            continue
        jobs = jobs_of.get(s["id"], [])
        intervals = [job_interval(j) for j in jobs]
        wall_ms = s["end_ms"] - s["start_ms"]
        stats = {
            "wall_s": wall_ms / 1e3,
            "driver_s": (wall_ms - covered_ms(s["start_ms"], s["end_ms"], intervals)) / 1e3,
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "exec_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "codegen_s": s["attrs"].get("codegen_ns", 0) / 1e9,
            "codegen_compiles": s["attrs"].get("codegen_compiles", 0),
        }
        stats["rows_out"] = s["attrs"].get("rows_out", sum(j["rows_written"] for j in jobs))
        if "truncated" in s["attrs"]:
            stats["truncated"] = s["attrs"]["truncated"]
        per_pass.setdefault(s["trace"], {})[s["name"]] = stats
    job_spans = [{"id": f"job{j['id']}", "parent": owner.get(j["id"]), "name": "spark.job",
                  "kind": "job", "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                  "attrs": {k: j[k] for k in ("tasks", "cpu_ns", "shuffle_write_bytes",
                                             "spill_bytes", "peak_task_mem", "rows_written")}}
                 for j in raw["jobs"] if j["id"] in owner]
    return per_pass, job_spans


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


def timed_passes(raw, traced):
    return [p for p in raw["passes"] if not p["warmup"] and p["traced"] == traced]


def jobs_in(raw, p):
    """Jobs started while pass `p` ran (job times are whole milliseconds)."""
    return [j for j in raw["jobs"] if p["start_ms"] - 1.0 <= j["start_ms"] <= p["end_ms"] + 1.0]


def per_layer_metrics(raw):
    per_pass, _ = layer_stats(raw)
    traced = timed_passes(raw, True)
    plain = timed_passes(raw, False)
    pass_spans = {s["trace"]: s for s in raw["spans"] if s["kind"] == "pass"}
    metrics = {}
    for name, unit, _ in per_layer_defs():
        if name == "trace.overhead_s":
            value = (median_or_zero([p["wall_s"] for p in traced]) -
                     median_or_zero([p["wall_s"] for p in plain])) if traced and plain else 0.0
        elif name == "run.codegen_compiles":
            value = median_or_zero([s["attrs"]["codegen_compiles"] for t, s in pass_spans.items()
                                    if t.startswith("pass")])
        elif name == "run.peak_task_mem_mb":
            value = median_or_zero([max([j["peak_task_mem"] for j in jobs_in(raw, p)], default=0)
                                    for p in traced]) / 1e6
        else:
            call, stat = name.rsplit(".", 1)
            value = median_or_zero([calls[call][stat] for calls in per_pass.values()
                                    if call in calls and stat in calls[call]])
        metrics[name] = {"value": value, "unit": unit}
    return metrics


def layer_self_times(raw):
    """Median per-pass self time of each layer (sum of its calls' driver_s),
    and of the benchmark's own glue between calls inside a pass."""
    per_pass, _ = layer_stats(raw)
    by_layer = {}
    for calls in per_pass.values():
        sums = {}
        for call, st in calls.items():
            layer = call.split(".", 1)[0]
            sums[layer] = sums.get(layer, 0.0) + st["driver_s"]
        for layer, v in sums.items():
            by_layer.setdefault(layer, []).append(v)
    out = {layer: statistics.median(v) for layer, v in sorted(by_layer.items())}
    glue = []
    for s in raw["spans"]:
        if s["kind"] == "pass" and s["trace"].startswith("pass"):
            kids = [c for c in raw["spans"] if c["parent"] == s["id"]]
            glue.append(self_ms(s, kids) / 1e3)
    if glue:
        out["bench"] = statistics.median(glue)
    return out


END_TO_END = (
    ("rows_per_s", "rows/s", "higher"),
    ("setup_s", "s", "lower"),
)


def end_to_end_metrics(raw):
    """Input rows per second of pass wall, the median over the timed
    passes; and the run's set-up time."""
    rates = [raw["rows"] / p["wall_s"] for p in timed_passes(raw, False)]
    return {
        "rows_per_s": {"value": median_or_zero(rates), "unit": "rows/s"},
        "setup_s": {"value": raw["setup_s"], "unit": "s"},
    }


def result(raw, trace):
    metrics = per_layer_metrics(raw) if trace else end_to_end_metrics(raw)
    bad = [n for n, m in metrics.items() if not (valid_name(n) and valid_unit(m["unit"]))]
    if bad:
        raise ValueError(f"invalid metric names or units: {bad}")
    failed = int(raw["failed"])
    return {
        "correct": failed == 0 and bool(raw["passes"]),
        "attempted": max(1, int(raw["attempted"])),
        "failed": failed,
        "metrics": metrics,
    }


def check_declared(metrics, trace):
    """The metric set must be exactly the one BENCHMARK.json declares."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        declared = json.load(f)
    want = {m["name"]: m["unit"] for m in declared["per_layer" if trace else "end_to_end"]}
    got = {n: m["unit"] for n, m in metrics.items()}
    if want != got:
        raise ValueError(f"metrics differ from BENCHMARK.json: "
                         f"missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}")


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark 4 distribution "
                         "(its jars/ holds the Scala compiler used for the build)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    own = os.path.join(HERE, "scala")
    files = []
    for base in (engine, own):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(jars):
    """Compile engine + benchmark once per source tree; returns the classes
    dir and whether this call compiled it."""
    files = sources()
    digest = hashlib.sha256()
    for path in files:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    digest.update(" ".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(BUILD, "classes-" + digest.hexdigest()[:20])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, False
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    t = time.time()
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {proc.returncode})")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    print(f"perfbench: compiled in {time.time() - t:.1f}s", file=sys.stderr, flush=True)
    return classes, True


def java_cmd(jars, classes, work, main, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    return (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m"] + opens +
            [f"-Djava.io.tmpdir={work}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)


def run_jvm(cmd, timeout_s):
    # Spark would prefer an inherited SPARK_LOCAL_DIRS over the run's own
    # scratch dir inside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT, env=env)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: benchmark JVM exceeded {timeout_s:.0f}s and was killed")
    except BaseException:
        proc.kill()
        proc.wait()
        raise


# ---------------------------------------------------------------- main

def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args(argv)
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    started = time.time()
    jars = spark_jars()
    classes, built = build(jars)
    # a run gets 175 s, not counting a build it had to make first
    budget = 175.0 - (0.0 if built else time.time() - started)
    work = os.path.join(BUILD, "work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        if a.self_test:
            return run_jvm(java_cmd(jars, classes, work, "graftbench.SelfTest", []), 120)
        out = os.path.join(work, "raw.json")
        cores = len(os.sched_getaffinity(0))
        code = run_jvm(java_cmd(jars, classes, work, "graftbench.Main",
                                [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                 str(cores), work, out]), budget)
        if code != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {code})")
        with open(out) as f:
            raw = json.load(f)
        res = result(raw, bool(a.trace))
        check_declared(res["metrics"], bool(a.trace))
        for line in raw["failures"]:
            print(f"perfbench: FAILED {line}", file=sys.stderr)
        info = ", ".join(f"{k}={v:g}" for k, v in raw["info"].items())
        print(f"perfbench: {a.workload} seed={a.seed} cores={cores} rows={raw['rows']} "
              f"timed passes={len([p for p in raw['passes'] if not p['warmup']])} {info}",
              file=sys.stderr)
        print("perfbench: pass walls (s): " + " ".join(
            f"{p['wall_s']:.2f}{'w' if p['warmup'] else ''}" for p in raw["passes"]),
            file=sys.stderr)
        if a.trace:
            write_trace(raw, a)
        print(json.dumps(res))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def write_trace(raw, a):
    _, job_spans = layer_stats(raw)
    selfs = layer_self_times(raw)
    traced = [p["wall_s"] for p in timed_passes(raw, True)]
    plain = [p["wall_s"] for p in timed_passes(raw, False)]
    summary = {
        "workload": a.workload, "seed": a.seed,
        "traced_pass_s": traced, "untraced_pass_s": plain,
        "self_s_by_layer": selfs,
    }
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    path = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"summary": summary, "spans": raw["spans"] + job_spans,
                   "failures": raw["failures"], "info": raw["info"]}, f)
    print("perfbench: self time by layer (s): " +
          ", ".join(f"{k}={v:.3f}" for k, v in selfs.items()), file=sys.stderr)
    print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
