"""One benchmark session in a fresh process: set up, run, check, report.

    python3 perfbench/worker.py --root DIR --workload NAME --input DIR
        --t0 EPOCH_S --result FILE [--warm N] [--seed N] [--setup-only]
        [--spans]

`--t0` is the wall-clock time at which the parent started this process,
so `setup_s` counts interpreter start, imports, `get_spark()` and the
registry import, which every CLI invocation pays. `--setup-only` stops
there. Otherwise the worker runs one cold iteration, then `--warm` warm
iterations back to back, checks every output after the last one, and
writes one JSON result. The count is fixed rather than a time limit: the JIT keeps
compiling for tens of seconds, so each warm iteration tends to use less
CPU than the one before, and a time limit would measure a different
stretch of that curve on a faster or slower host.

With `--spans` every call into a program layer runs under its own Spark
job group, so the event log of a traced run attributes jobs, tasks and
worker time to it. The spans themselves are always recorded: they cost a
clock read.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import sys
import time

# The unigram-logprob gate keeps documents whose average natural-log token
# probability is at least this. Under the program's capped LM (the top
# config.UNIGRAM_VOCAB_TOPK tokens plus one out-of-vocabulary bucket) the
# generated prose scores about -0.9 to -1.5 and the spam pitch about -5,
# so the gate is live. The registry's pipeline-warc-corpus uses -3.1 too.
LP_MIN = -3.1


class Tracer:
    """In-memory spans; with `groups` each span is also a Spark job group."""

    def __init__(self, sc, groups: bool):
        self.sc = sc
        self.groups = groups
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"pb{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.groups:
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.groups:
                if self._stack:
                    outer = self._stack[-1]
                    self.sc.setJobGroup(outer["id"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name: str, keep: list | None = None) -> None:
        """Run every call of the program function `fn` inside a span named
        `name`, in every loaded program module that binds it; with `keep`,
        also collect what each call returns."""

        def traced(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
            if keep is not None:
                keep.append(out)
            return out

        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("ai_knowledge_etl_spark"):
                for attr, value in list(vars(mod).items()):
                    if value is fn:
                        setattr(mod, attr, traced)


def trace_layers(tracer: Tracer) -> list:
    """Give the program functions that cut or iterate their own spans;
    return the list that collects the LSH candidate frames."""
    from ai_knowledge_etl_spark import session
    from ai_knowledge_etl_spark.operators import clustering, dedup

    candidates: list = []
    tracer.wrap(session.eager_cut, "session.eager_cut")
    tracer.wrap(dedup.minhash_lsh_candidates,
                "operators.dedup.minhash_lsh_candidates", keep=candidates)
    tracer.wrap(clustering.connected_components,
                "operators.clustering.connected_components")
    return candidates


def session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: this Python,
    the JVM and its Python workers, including reaped children. Time the
    hypervisor steals from the guest is not counted."""
    sid, tick, total = os.getsid(0), os.sysconf("SC_CLK_TCK"), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since listdir
        if int(fields[3]) == sid:  # field 6, session id
            total += sum(int(x) for x in fields[11:15])  # utime..cstime
    return total / tick


def machine_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def fingerprint(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(sc) -> float:
    """VmHWM of this Python process plus the JVM it launched."""
    jvm = getattr(sc._gateway, "proc", None)
    return _vm_hwm_mb(os.getpid()) + (_vm_hwm_mb(jvm.pid) if jvm else 0.0)


def timed_call(tracer: Tracer, name: str, fn):
    """(wall seconds, result) of `fn()` in a span; the result is None if
    the call raised."""
    with tracer.span(name) as s:
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — a failed call is data
            print(f"{name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            out = None
    return s["end"] - s["start"], out


# --- corpus-build ------------------------------------------------------------


class CorpusBuild:
    """One iteration: curate_warc_corpus over the WARC files, keeping every
    survivor (top_n = corpus size) and collecting the rows."""

    calls = ("pipeline.curate_warc_corpus",)

    def __init__(self, spark, tracer: Tracer, inp: str, truth: dict):
        self.spark, self.tr, self.inp, self.truth = spark, tracer, inp, truth
        self.items = truth["n_docs"]

    def iteration(self) -> dict:
        wall, raw = timed_call(self.tr, self.calls[0], self._curate)
        return {"walls": {self.calls[0]: wall}, "raw": {self.calls[0]: raw}}

    def _curate(self) -> list:
        from pyspark.sql import functions as F

        from ai_knowledge_etl_spark import pipeline

        files = self.spark.read.format("binaryFile").load(
            os.path.join(self.inp, "warc")
        ).select(F.col("path").alias("file_id"), "content")
        lookup = self.spark.read.parquet(
            os.path.join(self.inp, "uri_lookup.parquet")
        )
        return pipeline.curate_warc_corpus(
            files, lookup, lp_min=LP_MIN, top_n=self.items
        ).collect()

    @staticmethod
    def canonical(call: str, raw: list) -> list:
        return sorted(tuple(r) for r in raw)

    def check(self, call: str, rows: list) -> str | None:
        """None if the call's output holds the planted ground truth."""
        kept = {r[0] for r in rows}
        for g in self.truth["exact_groups"]:
            n = len(kept.intersection(g))
            if n != 1:
                return f"exact-dup group {g[0]} keeps {n} docs"
        spam = kept.intersection(self.truth["spam_ids"])
        if spam:
            return f"{len(spam)} spam docs survive"
        return None

    def layer_counts(self, candidates: list) -> dict:
        """LSH candidate pairs of the last call and their precision against
        the planted clone and copy pairs (traced runs only)."""
        if not candidates:
            return {}
        pairs = {
            (min(a, b), max(a, b))
            for a, b in candidates[-1].select("doc_a", "doc_b").collect()
        }
        planted = {tuple(p) for p in self.truth["clone_pairs"]}
        for g in self.truth["exact_groups"]:
            planted.update((a, b) for a in g for b in g if a < b)
        return {
            "operators.dedup.lsh_candidates": float(len(pairs)),
            "operators.dedup.lsh_precision": (
                len(pairs & planted) / len(pairs) if pairs else 1.0
            ),
        }

    def release(self) -> None:
        from ai_knowledge_etl_spark.session import release_persisted

        release_persisted()


# --- registry-heavy ----------------------------------------------------------


class RegistryHeavy:
    """One iteration: one sequential pass over the frozen query list, in
    seed-shuffled order, collecting each result."""

    def __init__(self, spark, tracer: Tracer, inp: str, seed: int,
                 queries: list[str]):
        self.spark, self.tr, self.inp = spark, tracer, inp
        self.calls = list(queries)
        random.Random(seed).shuffle(self.calls)
        self.items = len(self.calls)
        self._oracle: dict[str, list] = {}

    def iteration(self) -> dict:
        from ai_knowledge_etl_spark.registry import REGISTRY

        out: dict = {"walls": {}, "raw": {}}
        for name in self.calls:
            def query(name=name):
                df = REGISTRY[name].spark(self.spark, self.inp)
                return df.columns, df.collect()

            out["walls"][name], out["raw"][name] = timed_call(
                self.tr, f"registry.{name}", query
            )
        return out

    @staticmethod
    def canonical(call: str, raw) -> list:
        cols, rows = raw
        return _normalize(cols, [tuple(r) for r in rows])

    def check(self, call: str, rows: list) -> str | None:
        """None if the rows match the query's DuckDB oracle on the same
        input directory."""
        if call not in self._oracle:
            self._oracle[call] = self._oracle_rows(call)
        return None if rows == self._oracle[call] else "differs from oracle"

    def _oracle_rows(self, name: str) -> list:
        import duckdb

        from ai_knowledge_etl_spark.registry import REGISTRY, oracle_of
        from ai_knowledge_etl_spark.sources.catalog import TABLES

        con = getattr(self, "_con", None)
        if con is None:
            con = self._con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.inp}/{t}.parquet'"
                )
        res = con.execute(oracle_of(REGISTRY[name]).replace("{SF_DIR}", self.inp))
        return _normalize([d[0] for d in res.description], res.fetchall())

    def layer_counts(self, candidates: list) -> dict:
        return {}

    def release(self) -> None:
        pass


def _normalize(cols, rows) -> list:
    """Order-insensitive rows with floats rounded, as tools/difftest
    compares a query with its oracle."""
    from tools.difftest import _norm_rows

    names, normed = _norm_rows(list(cols), rows)
    return [tuple(names)] + normed


# --- the run ---------------------------------------------------------------


def run(args, spark, tracer: Tracer, result: dict) -> None:
    with open(os.path.join(args.input, "truth.json")) as f:
        truth = json.load(f)
    if args.workload == "corpus-build":
        wl = CorpusBuild(spark, tracer, args.input, truth)
    else:
        with open(os.path.join(os.path.dirname(__file__), "queries.json")) as f:
            queries = json.load(f)["queries"]
        wl = RegistryHeavy(spark, tracer, args.input, args.seed, queries)
    candidates = trace_layers(tracer) if args.spans else []

    # The passes run back to back and their outputs are checked after the
    # last one, so the measured stretch of the session is contiguous: CPU
    # the JIT compiler or the collector spends between two passes is
    # counted, not lost in a gap of varying length.
    iters: list[dict] = []
    outputs: list[dict] = []
    cpu_start = session_cpu_s()
    for _ in range(1 + args.warm):
        cpu0, ticks0 = session_cpu_s(), machine_ticks()
        with tracer.span("iteration") as s:
            it = wl.iteration()
        ticks1 = machine_ticks()
        it["wall"] = s["end"] - s["start"]
        it["cpu"] = session_cpu_s() - cpu0
        it["steal"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        it["span"] = s["id"]
        outputs.append(it.pop("raw"))
        wl.release()
        iters.append(it)
    passes_cpu_s = session_cpu_s() - cpu_start

    fps: dict[str, str] = {}
    failed, attempted = 0, 0
    for raw_by_call in outputs:
        for call, raw in raw_by_call.items():
            attempted += 1
            problem = "raised" if raw is None else None
            if problem is None:
                rows = wl.canonical(call, raw)
                fp = fingerprint(rows)
                if call not in fps:
                    problem = wl.check(call, rows)
                if problem is None and fps.setdefault(call, fp) != fp:
                    problem = "fingerprint differs from the first iteration"
            if problem:
                failed += 1
                print(f"check failed: {call}: {problem}", file=sys.stderr)
    result.update({
        "iterations": iters,
        "passes_cpu_s": passes_cpu_s,
        "attempted": attempted,
        "failed": failed,
        "items": wl.items,
        "layer_counts": wl.layer_counts(candidates),
    })


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--spans", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, args.root)

    from ai_knowledge_etl_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench")
    t_spark = time.time()
    import ai_knowledge_etl_spark.registry  # noqa: F401 — part of set-up

    t_reg = time.time()
    result = {
        "setup_s": t_reg - args.t0,
        "setup_cpu_s": session_cpu_s(),
        "get_spark_s": t_spark - t,
        "registry_import_s": t_reg - t_spark,
        "cores": spark.sparkContext.defaultParallelism,
    }
    try:
        if not args.setup_only:
            tracer = Tracer(spark.sparkContext, args.spans)
            run(args, spark, tracer, result)
            result["spans"] = tracer.spans
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            result["cached_mb_end"] = sum(
                i.memSize() + i.diskSize() for i in infos
            ) / (1024.0 * 1024.0)
        result["peak_rss_mb"] = peak_rss_mb(spark.sparkContext)
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits when its stdin closes
            jvm.wait(timeout=60)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
