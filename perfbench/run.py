"""Benchmark for mantic_sh_spark: one run builds, sets up and serves a
seeded corpus and prints every metric as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the repository root. A run has two halves:

  spark_phases.py, a child process with the Spark JVM: corpus, the timed
      local[4] build, the churn workload's writes, the tier index (set-up)
      and the expected answers of the output checks; then it exits
  this process, with no JVM alive: reader open + prewarm (set-up), one
      closed-loop client for --seconds, the output checks

With --trace 1 spans are recorded around every engine call and traced
serve runs add the registry queries and the local[1] build; their numbers
are per-layer only.

The last line carries the end-to-end metrics of BENCHMARK.json (--trace 0)
or its per-layer metrics (--trace 1); the line before it counts operations
attempted and failed per operation type. A failed output check sets
"correct": false and the exit code to 1. LAYERS.md has the details.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from checks import compare_phrase, compare_topk  # noqa: E402
from ledger import (Failures, PercentileRefused, Tracer, median, percentile,  # noqa: E402
                    read_amp, residue, self_times)

K = 10
SETUPS = 3  # reader opens; setup_s takes the median
WARM_REQUESTS = 150  # untimed requests before the window: phrase, tier and docs caches
SPARK_TIMEOUT_S = 150


def child_env(work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside the work dir,
    and let Spark's Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_DRIVER_MEMORY": "2g",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def run_spark_phases(args, work: str) -> dict:
    """spark_phases.py in its own process group, waited for; killed with
    its JVM if it outlives SPARK_TIMEOUT_S."""
    cmd = [sys.executable, os.path.join(HERE, "spark_phases.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, env=child_env(work), stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=SPARK_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise RuntimeError(f"spark_phases.py exited with {code}")
    with open(os.path.join(work, "spark.json")) as f:
        return json.load(f)


def settled_rss_mb() -> float:
    """Resident set size once garbage is collected and the pyarrow memory
    pool has handed its free blocks back: the memory live objects hold,
    not what the allocators keep cached."""
    import pyarrow as pa

    gc.collect()
    pa.default_memory_pool().release_unused()
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS missing from /proc/self/status")


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.tracer = Tracer(args.trace == 1)
        self.fail = Failures()
        self.problems: list[str] = []
        self.m: dict[str, float] = {}  # metric name -> value, end-to-end and per-layer
        self.reader = None
        self._rid = iter(range(1, 1 << 62))

    def pct(self, name: str, samples, q: float) -> float | None:
        """A percentile; one refused for too few samples fails the run."""
        try:
            return percentile(samples, q)
        except PercentileRefused as e:
            self.problems.append(f"{name}: {e}")
            return None

    def absorb(self, side: dict) -> None:
        """The metrics, check results, operation counts and spans of
        spark_phases.py."""
        self.m.update(side["m"])
        self.problems += side["problems"]
        self.fail.absorb(side["ops"], side["errors"])
        self.tracer.spans += [tuple(s) for s in side["spans"]]
        self.side = side

    def setup(self) -> None:
        """Reader open, SETUPS times on fresh readers, then one prewarm of
        the last. setup_s is the median tier-index build (spark_phases.py)
        + the median open + the prewarm. serve.reader_rss_mb counts from just
        before the last open, with the earlier readers freed."""
        from mantic_sh_spark.serve import IndexReader

        opens = []
        with self.tracer.span("phase.setup"):
            for _ in range(SETUPS):
                self.reader = None
                self.rss_open = settled_rss_mb()
                t0 = time.perf_counter()
                with self.tracer.span("serve.open"):
                    self.reader = IndexReader(os.path.join(self.work, "idx"))
                opens.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with self.tracer.span("serve.prewarm"):
                self.reader.prewarm(inputs.prewarm_queries(self.df), k=K)
            prewarm = time.perf_counter() - t0
        self.m["serve.open_ms"] = median(opens) * 1e3
        self.m["serve.prewarm_s"] = prewarm
        self.m["setup_s"] = self.m["tiers.build_s"] + median(opens) + prewarm

    def request(self, req, parent, samples: list | None) -> None:
        """One closed-loop request. Appends (op, total_ms, call_ms, urls_ms,
        cpu_ms, stats, text) to samples, cpu_ms being the CPU time the
        process spent on it (the reader's pyarrow threads included); a
        raise counts as a failed operation."""
        reader = self.reader
        rid = next(self._rid)
        c0, t0 = time.process_time(), time.perf_counter()
        stats: dict = {}
        call = req.op
        try:
            if req.op == "topk":
                with self.tracer.span("serve.topk", parent, rid):
                    hits = reader.topk(req.text, K)
                stats = dict(reader.last_stats)
                t1 = time.perf_counter()
                call = "urls"
                with self.tracer.span("serve.urls", parent, rid):
                    reader.urls([d for d, _ in hits])
            elif req.op == "phrase":
                with self.tracer.span("serve.phrase_topk", parent, rid):
                    reader.phrase_topk(req.text, K)
                t1 = time.perf_counter()
            else:
                with self.tracer.span("serve.tiered_topk", parent, rid):
                    reader.tiered_topk(req.text, K)
                t1 = time.perf_counter()
        except Exception as e:  # includes TierBudgetExceeded
            self.fail.record(req.op, False, f"in {call}(): {type(e).__name__}: {e}"[:300])
            return
        t2, c2 = time.perf_counter(), time.process_time()
        self.fail.record(req.op, True)
        if samples is not None:
            samples.append((req.op, (t2 - t0) * 1e3, (t1 - t0) * 1e3, (t2 - t1) * 1e3, (c2 - c0) * 1e3,
                            stats, req.text))

    def serve_window(self, reqs, seconds: float) -> tuple[list, float, int]:
        """One closed-loop client: WARM_REQUESTS requests untimed, then the
        stream that follows for `seconds`. Returns (samples, seconds,
        requests timed)."""
        for r in reqs[:WARM_REQUESTS]:
            self.request(r, None, None)
        samples: list = []
        i = WARM_REQUESTS
        with self.tracer.span("phase.serve") as sid:
            t0 = time.perf_counter()
            stop_at = t0 + seconds
            while time.perf_counter() < stop_at:
                self.request(reqs[i % len(reqs)], sid, samples)
                i += 1
            elapsed = time.perf_counter() - t0
        return samples, elapsed, i - WARM_REQUESTS

    def serve(self, seed: int) -> None:
        from mantic_sh_spark.functions.tokenize import tokenize_query

        reqs = inputs.serve_stream(seed, self.df, 20000)
        samples, elapsed, sent = self.serve_window(reqs, self.args.seconds)
        self.m["serve.reader_rss_mb"] = settled_rss_mb() - self.rss_open
        topk = [s for s in samples if s[0] == "topk"]
        m, pct = self.m, self.pct
        m["serve.cpu_ms_per_request"] = sum(s[4] for s in samples) / len(samples)
        m["serve.p50_cpu_ms"] = pct("serve.p50_cpu_ms", [s[4] for s in topk], 50)
        m["serve.p90_cpu_ms"] = pct("serve.p90_cpu_ms", [s[4] for s in topk], 90)
        m["serve.qps"] = len(samples) / elapsed
        m["serve.p50_ms"] = pct("serve.p50_ms", [s[1] for s in topk], 50)
        m["serve.p90_ms"] = pct("serve.p90_ms", [s[1] for s in topk], 90)
        m["serve.topk_ms_p50"] = pct("serve.topk_ms_p50", [s[2] for s in topk], 50)
        m["serve.topk_ms_p90"] = pct("serve.topk_ms_p90", [s[2] for s in topk], 90)
        m["serve.urls_ms_p50"] = pct("serve.urls_ms_p50", [s[3] for s in topk], 50)
        m["serve.phrase_ms_p50"] = pct("serve.phrase_ms_p50", [s[1] for s in samples if s[0] == "phrase"], 50)
        m["serve.tiered_ms_p50"] = pct("serve.tiered_ms_p50", [s[1] for s in samples if s[0] == "tiered"], 50)
        st = [s[5] for s in topk]
        m.update(read_amp("serve", st, [s[2] for s in topk], pct))
        n_terms = sum(len(tokenize_query(s[6])) for s in topk)
        cold = sum(x.get("terms_cold", 0) for x in st)
        considered = sum(x.get("blocks_considered", 0) for x in st)
        decoded = sum(x.get("blocks_decoded", 0) for x in st)
        m["serve.terms_cold_per_query"] = cold / max(len(st), 1)
        m["serve.term_hit_ratio"] = 1.0 - cold / max(n_terms, 1)
        m["serve.blocks_considered_per_query"] = considered / max(len(st), 1)
        m["serve.blocks_decoded_per_query"] = decoded / max(len(st), 1)
        m["serve.decode_ratio"] = decoded / max(considered, 1)
        if self.tracer.enabled:
            m["trace_overhead"] = self.trace_overhead(
                [r for r in reqs[WARM_REQUESTS:WARM_REQUESTS + sent] if r.op == "topk"][:100])
        side = self.side
        self.problems += compare_topk(self.reader, side["check_queries"], side["want_topk"], K)
        self.problems += compare_phrase(self.reader, side["phrases"], side["want_phrase"], K)

    def trace_overhead(self, reqs) -> float:
        """Replay window requests (now cache-warm) in blocks of 20, each block
        once with spans on and once off, alternating which goes first;
        traced time over untraced time, minus one."""
        spent = {True: 0.0, False: 0.0}
        for b in range(0, len(reqs), 20):
            first = b % 40 == 0
            for traced in (first, not first):
                self.tracer.enabled = traced
                t0 = time.perf_counter()
                for r in reqs[b:b + 20]:
                    self.request(r, None, None)
                spent[traced] += time.perf_counter() - t0
        self.tracer.enabled = True
        return spent[True] / spent[False] - 1.0

    # ------------------------------------------------------------ report
    def residues(self) -> None:
        """Per phase: the share of its wall time that no engine-call span
        covers (its self time)."""
        own = self_times(self.tracer.spans)
        totals: dict[str, list[float]] = {}
        for sid, name, start, end, _parent, _req in self.tracer.spans:
            if name.startswith("phase."):
                t = totals.setdefault(name[len("phase."):], [0.0, 0.0])
                t[0] += end - start
                t[1] += end - start - own[sid]
        flagged = 0
        for phase, (total, covered) in totals.items():
            _, share, flag = residue(total, [covered])
            self.m[f"residue.{phase}_share"] = share
            flagged += flag
        self.m["residue.flagged"] = flagged

    def ops(self) -> None:
        by_op = self.fail.by_op()
        for op in ("topk", "phrase", "tiered", "upsert", "delete", "merge"):
            self.m[f"ops.{op}_failed"] = by_op.get(op, {}).get("failed", 0)
        reg = [v for k, v in by_op.items() if k.startswith("registry.")]
        self.m["ops.registry_failed"] = sum(v["failed"] for v in reg)


# Per-layer metrics of phases a traced run of the workload does not run
# (the churn phase, and spark_phases.TRACED_ONLY): reported as 0, no work done.
NOT_RUN_PREFIXES = {
    "serve": ("incremental.", "delete.", "merge.", "churn.", "serve.refresh_ms", "residue.churn",
              "residue.merge"),
    "churn": ("registry.", "residue.registry", "residue.build_1c", "index_build.docs_per_s_1c",
              "index_build.docs_per_cpu_s_1c",
              "index_build.scaling_eff") + tuple(f"index_build.{k}_s_1c" for k in (
                  "call", "docs_stage", "postings_stage", "commit_tail", "commit_worker", "unattributed")),
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an error, so the finally blocks stop the
    # Spark child and remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]

    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work_root)
    try:
        import mantic_sh_spark  # noqa: F401  (fails here when the package is absent)

        run = Run(args, work)
        t0 = time.perf_counter()
        run.absorb(run_spark_phases(args, work))
        t1 = time.perf_counter()
        run.df = inputs.corpus_terms(os.path.join(work, "pages"))
        run.setup()
        run.serve(args.seed)
        print(f"[perfbench] spark phases {t1 - t0:.1f} s, serving {time.perf_counter() - t1:.1f} s",
              file=sys.stderr)
        run.reader = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    run.residues()
    run.ops()

    # a traced run records zero work for the layers of the phases its
    # workload does not run; anything else missing is a bug
    missing = [w["name"] for w in wanted if w["name"] not in run.m]
    not_run = [n for n in missing if args.trace and n.startswith(NOT_RUN_PREFIXES[args.workload])]
    if set(missing) - set(not_run):
        raise RuntimeError(f"metrics not computed: {sorted(set(missing) - set(not_run))}")
    for n in not_run:
        run.m[n] = 0
    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    for e in run.fail.errors:
        print(f"OPERATION FAILED: {e}", file=sys.stderr)
    attempted, failed = run.fail.totals()
    print(json.dumps({"ops": run.fail.by_op(), "not_run": not_run}))
    print(json.dumps({
        "correct": not run.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {w["name"]: {"value": run.m[w["name"]], "unit": w["unit"]} for w in wanted},
    }))
    return 0 if not run.problems else 1


if __name__ == "__main__":
    sys.exit(main())
