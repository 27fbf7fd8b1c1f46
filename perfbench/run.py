"""Benchmark entry point.

    python3 perfbench/run.py --workload {corpus-build,registry-heavy}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Inputs are generated
from the seed (cached under `.perfbench_work/` at the root); the program
sees only the generated files. Every session runs in a fresh worker
process (perfbench/worker.py) on `local[nproc]` with `get_spark()`'s
defaults, one closed-loop client.

--trace 0  one worker measures a cold iteration and a fixed number of
           warm iterations, about --seconds of them; two more fresh
           processes only set up, so `setup_s` is the median of three.
           Prints the end-to-end metrics: `setup_s` and the CPU seconds
           of the whole session, set-up and iterations together.
--trace 1  one untraced worker and one worker with the Spark event log
           on (passed from outside the program through
           PYSPARK_SUBMIT_ARGS). Prints the per-layer metrics, attributed
           to the benchmark's spans from the event log, and the tracing
           overhead: traced minus untraced median warm wall.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402

# input size per workload: base documents (corpus-build) or the multiple
# of sf0.001 rows (registry-heavy)
SIZES = {"corpus-build": 250, "registry-heavy": 1}
with open(os.path.join(HERE, "queries.json")) as f:
    QUERIES = json.load(f)["queries"]
# calls into program layers that get their own span in traced runs
TRACED_CALLS = (
    "pipeline.curate_warc_corpus",
    "operators.dedup.minhash_lsh_candidates",
    "operators.clustering.connected_components",
)
# warm iterations per 10 s of --seconds: a fixed count, the same on every
# host, so every run measures the same work. registry-heavy gets one more
# than corpus-build: its CPU moves most with the JIT compiler and with the
# host's speed, and a longer measured session averages more of that out.
WARM_PER_10S = {"corpus-build": 2, "registry-heavy": 3}
SETUP_PROBES = 2  # extra set-up-only processes per timed run
WORKER_TIMEOUT_S = 150


def _env(trace_dir: str | None) -> dict:
    cores = str(os.cpu_count() or 1)
    if hasattr(os, "sched_getaffinity"):
        cores = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace_dir:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{trace_dir}",
        ]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return env


def _wait_group(pgid: int, timeout: float) -> None:
    """Wait until every process of the session `pgid` has exited; kill
    what is left after `timeout`."""
    end = time.time() + timeout
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.time() > end:
            os.killpg(pgid, signal.SIGKILL)
            end = time.time() + 5
        time.sleep(0.1)


def worker(args, inp: str, name: str, setup_only: bool = False,
           trace_dir: str | None = None) -> dict:
    """Run one worker process to completion; return its result."""
    result = os.path.join(WORK, f"{name}.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--root", ROOT, "--workload", args.workload, "--input", inp,
        "--result", result,
        "--warm", str(max(1, math.ceil(
            args.seconds * WARM_PER_10S[args.workload] / 10))),
        "--seed", str(args.seed),
    ]
    if setup_only:
        cmd.append("--setup-only")
    if trace_dir:
        cmd.append("--spans")
    with open(os.path.join(WORK, f"{name}.log"), "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)], cwd=WORK, env=_env(trace_dir),
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        finally:
            _wait_group(proc.pid, 30)
    if proc.returncode != 0 or not os.path.exists(result):
        raise RuntimeError(
            f"worker {name} exited with {proc.returncode}; see "
            f"{os.path.relpath(log.name, ROOT)}"
        )
    with open(result) as f:
        return json.load(f)


def warm(res: dict) -> list[dict]:
    return res["iterations"][1:]


def end_to_end(res: dict, setups: list[float]) -> dict:
    """The bounded metrics. `session_cpu_s` is the CPU of the whole
    session from process start to the end of its last iteration, output
    checks left out: set-up, the cold iteration and every warm one. It
    spreads less from run to run than any part of it, because the JIT
    compiler and the garbage collector shift CPU time from one part of
    the session to the next, not out of it. Wall figures are reported,
    not bounded (README)."""
    return {
        "setup_s": (statistics.median(setups), "s"),
        "session_cpu_s": (res["setup_cpu_s"] + res["passes_cpu_s"], "s"),
    }


def session_view(res: dict) -> dict:
    """A worker's wall figures and per-iteration figures, reported but not
    bounded: each spreads more from run to run than `session_cpu_s`."""
    iters = warm(res)
    wall = statistics.median(it["wall"] for it in iters)
    return {
        "iter.total_s": sum(it["wall"] for it in res["iterations"]),
        "iter.wall_s": wall,
        "iter.cpu_s": statistics.median(it["cpu"] for it in iters),
        "iter.cold_s": res["iterations"][0]["wall"],
        "iter.cold_cpu_s": res["iterations"][0]["cpu"],
        "iter.call_p50_s": statistics.median(
            w for it in iters for w in it["walls"].values()
        ),
        "iter.items_per_s": res["items"] / wall,
        "host.steal_ratio": statistics.median(it["steal"] for it in iters),
    }


def _descendants(spans: list[dict]) -> dict[str, list[str]]:
    """span id -> ids of the span and every span below it."""
    children: dict[str | None, list[str]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out: dict[str, list[str]] = {}

    def walk(sid: str) -> list[str]:
        if sid not in out:
            ids = [sid]
            for c in children.get(sid, ()):
                ids += walk(c)
            out[sid] = ids
        return out[sid]

    for s in spans:
        walk(s["id"])
    return out


def per_layer(untraced: dict, traced: dict, groups: dict, cores: int) -> dict:
    """The per-layer metrics of a traced run, per warm iteration (medians
    over the warm iterations; counters from the event log)."""
    spans = traced["spans"]
    below = _descendants(spans)
    by_id = {s["id"]: s for s in spans}
    iters = warm(traced)

    def counters(sid: str) -> dict:
        return eventlog.total(groups, below[sid])

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    def named_under(it: dict, name: str) -> list[dict]:
        return [by_id[i] for i in below[it["span"]] if by_id[i]["name"] == name]

    def span_s(it: dict, name: str) -> float:
        return sum(s["end"] - s["start"] for s in named_under(it, name))

    def span_jobs(it: dict, name: str) -> float:
        return sum(counters(s["id"])["jobs"] for s in named_under(it, name))

    engine = [counters(it["span"]) for it in iters]
    m = {}
    for key in eventlog.COUNTERS:
        prefix = "py." if key.startswith("py_") else "spark."
        m[prefix + key.removeprefix("py_")] = med(c[key] for c in engine)
    walls = [it["wall"] for it in iters]
    busy = [c["exec_run_s"] for c in engine]
    m["spark.idle_core_s"] = med(w * cores - b for w, b in zip(walls, busy))
    m["spark.utilization"] = med(b / (w * cores) for w, b in zip(walls, busy))

    m.update(session_view(untraced))
    m["session.get_spark_s"] = traced["get_spark_s"]
    m["registry.import_s"] = traced["registry_import_s"]
    m["session.eager_cut_s"] = med(span_s(it, "session.eager_cut") for it in iters)
    m["session.cut_jobs"] = med(span_jobs(it, "session.eager_cut") for it in iters)
    m["session.cached_mb_end"] = traced["cached_mb_end"]
    m["session.peak_rss_mb"] = untraced["peak_rss_mb"]
    for name in TRACED_CALLS:
        m[f"{name}_s"] = med(span_s(it, name) for it in iters)
        m[f"{name}_jobs"] = med(span_jobs(it, name) for it in iters)
    m["operators.dedup.lsh_candidates"] = 0.0
    m["operators.dedup.lsh_precision"] = 0.0
    m.update(traced["layer_counts"])
    m["registry.pass_jobs"] = med(
        sum(span_jobs(it, f"registry.{q}") for q in QUERIES) for it in iters
    )
    for q in QUERIES:
        m[f"registry.{q}.s"] = med(span_s(it, f"registry.{q}") for it in iters)
        m[f"registry.{q}.jobs"] = med(
            span_jobs(it, f"registry.{q}") for it in iters
        )
    m["trace.traced_wall_s"] = statistics.median(walls)
    m["trace.overhead_s"] = m["trace.traced_wall_s"] - m["iter.wall_s"]
    return m


UNITS = {
    "utilization": "ratio", "lsh_precision": "ratio", "steal_ratio": "ratio",
    "items_per_s": "1/s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB", "cached_mb_end": "MB", "peak_rss_mb": "MB",
}


def unit_of(name: str) -> str:
    """Metric names end in `_s` or `.s` (seconds), a unit, or a count."""
    last = name.rsplit(".", 1)[-1]
    if last in UNITS:
        return UNITS[last]
    return "s" if last == "s" or last.endswith("_s") else "count"


def detail_report(traced: dict, groups: dict) -> list[str]:
    """Per-call rows of the traced run: median wall and engine counters."""
    below = _descendants(traced["spans"])
    rows: dict[str, list[dict]] = {}
    for it in warm(traced):
        for s in traced["spans"]:
            if s["id"] in below[it["span"]] and s["id"] != it["span"]:
                c = eventlog.total(groups, below[s["id"]])
                c["wall_s"] = s["end"] - s["start"]
                rows.setdefault(s["name"], []).append(c)
    lines = [f"{'span':56s} {'wall_s':>8s} {'jobs':>6s} {'tasks':>6s} "
             f"{'exec_s':>8s} {'py_init_s':>9s}"]
    for name, cs in sorted(rows.items()):
        def med(k):
            return statistics.median(c[k] for c in cs)
        lines.append(
            f"{name:56s} {med('wall_s'):8.3f} {med('jobs'):6.0f} "
            f"{med('tasks'):6.0f} {med('exec_run_s'):8.2f} {med('py_init_s'):9.2f}"
        )
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ai_knowledge_etl_spark", "__init__.py")):
        print(f"no program to measure: {ROOT}/ai_knowledge_etl_spark is missing",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    inp = gen.cached(
        os.path.join(WORK, "inputs"), args.workload, args.seed,
        SIZES[args.workload],
    )

    if args.trace:
        untraced = worker(args, inp, "untraced")
        trace_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        traced = worker(args, inp, "traced", trace_dir=trace_dir)
        groups = eventlog.parse(trace_dir)
        for line in detail_report(traced, groups):
            print(line)
        runs = (untraced, traced)
        metrics = {
            k: (v, unit_of(k))
            for k, v in per_layer(untraced, traced, groups, traced["cores"]).items()
        }
    else:
        res = worker(args, inp, "run")
        setups = [res["setup_s"]] + [
            worker(args, inp, f"setup{i}", setup_only=True)["setup_s"]
            for i in range(SETUP_PROBES)
        ]
        runs = (res,)
        metrics = end_to_end(res, setups)
        print(f"# {args.workload}: {res['items']} items per iteration, "
              f"{len(warm(res))} warm iterations of "
              f"{len(res['iterations'][0]['walls'])} calls; "
              f"fail_ratio {res['failed'] / res['attempted']:.4f}; "
              + "; ".join(f"{k} {v:.3f} {unit_of(k)}"
                          for k, v in session_view(res).items()))
    for name, (value, unit) in metrics.items():
        print(f"{name:48s} {value:14.6f} {unit}")
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
