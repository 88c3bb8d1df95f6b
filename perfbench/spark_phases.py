"""The Spark half of one benchmark run, in a process of its own so that no
JVM is alive while run.py serves its timed window:

    python3 perfbench/spark_phases.py --workload serve --seed 1 --trace 0 --work DIR

  corpus    synth corpus, written while the JVM starts
  build_4c  the timed build_index at local[4], the JVM's first
  churn     (churn workload) beside 2 closed-loop topk+urls reader
            threads: upsert_pages, refresh, delete_docs, refresh
  setup     build_tier_index three times
  expect    the exhaustive and Spark phrase answers for the output checks
  registry  (traced serve runs) the headline plans.entry_queries.REGISTRY
            queries against their DuckDB oracles
  build_1c  (traced serve runs) the same build at local[1]
  merge     (traced churn runs) a purging merge_segments beside the
            reader threads, on a copy of the churned index

Everything it measures, checks and traces goes to DIR/spark.json for
run.py to report; it never prints a result line of its own.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from checks import build_parity, compare_topk, exhaustive_topk, registry_oracle, spark_phrase  # noqa: E402
from ledger import Failures, PercentileRefused, Tracer, median, percentile, read_amp, residue  # noqa: E402

K = 10
CHURN_CLIENTS = 2
SHUFFLE = 4  # fixed across sessions so both build levels run the same job shape
SETUPS = 3  # set-up repetitions; setup_s takes the median
# commit-worker stages of build_index: they overlap the postings stage, so
# they are off the build's critical path
OVERLAPPED = ("norms+docs manifest (overlapped)", "tid verify (overlapped)", "terms dir", "metrics")
SPAN_IDS = 1 << 40  # this process's span ids start here, run.py's at 1


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process and every process below it
    have used: the JVM and Spark's Python workers, with the children they
    have reaped. Steal time, which this VM loses in bursts, is not CPU
    time, so work measured this way does not swing with it."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
    me, total = os.getpid(), 0.0
    for pid, c in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += c
    return total


def exchange_count(df) -> int:
    """Exchange nodes in the tree part of the formatted physical plan."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return sum(1 for line in plan.split("\n\n", 1)[0].splitlines() if "Exchange" in line)


def segment_bytes(index_dir: str) -> dict[int, int]:
    """Encoded posting bytes per segment, from the index's terms table."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "terms"), columns=["segment_id", "bytes"]).to_pandas()
    return {int(k): int(v) for k, v in t.groupby("segment_id")["bytes"].sum().items()}


def read_request(reader, tracer: Tracer, fail: Failures, text: str, parent, rid: int) -> tuple | None:
    """One topk + urls request: (total ms, topk ms, last_stats), None when
    it raised."""
    t0 = time.perf_counter()
    try:
        with tracer.span("serve.topk", parent, rid):
            hits = reader.topk(text, K)
        stats = dict(reader.last_stats)
        t1 = time.perf_counter()
        with tracer.span("serve.urls", parent, rid):
            reader.urls([d for d, _ in hits])
    except Exception as e:  # any raise is a failed operation
        fail.record("topk", False, f"{type(e).__name__}: {e}"[:300])
        return None
    fail.record("topk", True)
    return (time.perf_counter() - t0) * 1e3, (t1 - t0) * 1e3, stats


class SparkSide:
    def __init__(self, args) -> None:
        self.args = args
        self.work = args.work
        self.tracer = Tracer(args.trace == 1, first_id=SPAN_IDS)
        self.fail = Failures()
        self.problems: list[str] = []
        self.m: dict[str, float] = {}
        self.spark = None
        self.stats: dict[str, dict] = {}
        self.out: dict = {}  # expected answers and inputs run.py needs
        self.batch = None  # the churn phase's upserts and deletes
        self._rid = iter(range(SPAN_IDS, 1 << 62))

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def session(self, cores: int):
        """A fresh Spark session at local[cores] in the same JVM."""
        from mantic_sh_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(cores=cores, app_name=f"perfbench-{cores}c", shuffle_partitions=SHUFFLE)
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM, which takes its Python workers
        down with it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def pct(self, name: str, samples, q: float) -> float | None:
        """A percentile; one refused for too few samples fails the run."""
        try:
            return percentile(samples, q)
        except PercentileRefused as e:
            self.problems.append(f"{name}: {e}")
            return None

    def index_stats(self, index_dir: str) -> dict:
        from mantic_sh_spark.operators.index_build import index_stats

        with self.tracer.span("index_build.index_stats"):
            return index_stats(self.spark, index_dir)

    # ------------------------------------------------------------- phases
    def corpus(self, seed: int) -> None:
        """The synth corpus, generated by make_batch (what gen_pages maps
        over its partitions) in 4 parquet files while the JVM starts; timed
        as synth.corpus_s."""
        gen = threading.Thread(target=self.write_corpus, args=(seed,))
        gen.start()
        try:
            self.session(4)
        finally:
            gen.join()
        self.df = inputs.corpus_terms(self.path("pages"))

    def write_corpus(self, seed: int) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mantic_sh_spark.sources.synth import make_batch

        out = self.path("pages")
        os.makedirs(out)
        t0 = time.perf_counter()
        with self.tracer.span("phase.corpus"), self.tracer.span("synth.make_batch"):
            for part, ids in enumerate(np.array_split(np.arange(inputs.N_DOCS), 4)):
                t = pa.Table.from_pandas(make_batch(ids, inputs.corpus_config(seed)), preserve_index=False)
                t = t.set_column(1, "warc_ts", t.column("warc_ts").cast(pa.timestamp("us", tz="UTC")))
                pq.write_table(t, os.path.join(out, f"part-{part}.parquet"))
        self.m["synth.corpus_s"] = time.perf_counter() - t0

    def build_4c(self, _seed: int) -> None:
        """The timed local[4] build: the first build_index of this JVM."""
        self.build("4c", self.path("idx"))

    def build(self, level: str, index_dir: str) -> None:
        """One timed build_index of the corpus."""
        from mantic_sh_spark.operators import index_build
        from mantic_sh_spark.operators.index_build import build_index

        spark = self.spark
        pages = spark.read.parquet(self.path("pages"))
        with self.tracer.span(f"phase.build_{level}"):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            with self.tracer.span("index_build.build_index"):
                ok, _ = self.fail.call("build", build_index, spark, pages, index_dir,
                                       n_segments=inputs.SEGMENTS, batch_segments=inputs.BATCH_PLAN,
                                       store_positions=True)
            dt, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        tm = dict(index_build.LAST_TIMINGS)
        st = self.stats[level] = self.index_stats(index_dir) if ok else {}
        n = st.get("n_docs") or 0
        m = self.m
        m[f"index_build.docs_per_s_{level}"] = n / dt
        m["build_docs_per_cpu_s" if level == "4c" else "index_build.docs_per_cpu_s_1c"] = n / cpu
        m[f"index_build.call_s_{level}"] = dt
        m[f"index_build.docs_stage_s_{level}"] = tm.get("docs write", 0.0)
        m[f"index_build.postings_stage_s_{level}"] = tm.get("postings encode+write", 0.0)
        m[f"index_build.commit_tail_s_{level}"] = tm.get("commit join", 0.0)
        m[f"index_build.commit_worker_s_{level}"] = sum(tm.get(k, 0.0) for k in OVERLAPPED)
        m[f"index_build.unattributed_s_{level}"] = residue(
            dt, [v for k, v in tm.items() if k not in OVERLAPPED])[0]
        if level == "4c":
            m["index_build.tid_verify_s_4c"] = tm.get("tid verify (overlapped)", 0.0)
            m["index_bytes_per_doc"] = (st.get("index_bytes") or 0) / max(n, 1)
            m["index_build.postings"] = st.get("postings") or 0
            m["index_build.bytes_per_posting"] = (st.get("index_bytes") or 0) / max(st.get("postings") or 0, 1)

    @contextmanager
    def readers(self, index_dir: str, seed: int):
        """CHURN_CLIENTS closed-loop topk+urls clients on self.reader, a
        fresh IndexReader of index_dir, for the body of the with block.
        Their spans hang off a churn.clients span, not off the phase, so
        a phase's residue is the writer's own unspanned time. Yields the
        per-client sample lists of read_request results."""
        from mantic_sh_spark.serve import IndexReader

        self.reader = IndexReader(index_dir)
        reqs = [r.text for r in inputs.serve_stream(seed + 1, self.df, 4000) if r.op == "topk"]
        done = threading.Event()
        out: list[list] = [[] for _ in range(CHURN_CLIENTS)]

        def client(c: int, parent) -> None:
            i = c
            while not done.is_set():
                got = read_request(self.reader, self.tracer, self.fail, reqs[i % len(reqs)], parent, next(self._rid))
                if got is not None:
                    out[c].append(got)
                i += CHURN_CLIENTS

        with self.tracer.span("churn.clients") as cid:
            threads = [threading.Thread(target=client, args=(c, cid)) for c in range(CHURN_CLIENTS)]
            for t in threads:
                t.start()
            try:
                yield out
            finally:
                done.set()
                for t in threads:
                    t.join()

    def churn(self, seed: int) -> None:
        """upsert_pages, refresh, delete_docs, refresh, beside
        CHURN_CLIENTS closed-loop topk+urls clients; each mutation must show
        in the first query after its refresh."""
        from mantic_sh_spark.operators.delete import delete_docs
        from mantic_sh_spark.sources.synth import PAGES_SCHEMA
        from mantic_sh_spark.streaming.incremental import upsert_pages

        idx = self.path("idx")
        spark = self.spark
        batch = self.batch = inputs.churn_batch(seed)
        frame = spark.createDataFrame(batch.pages, PAGES_SCHEMA).cache()
        frame.count()
        refreshes, visible = [], []
        m = self.m
        with self.readers(idx, seed) as out, self.tracer.span("phase.churn"):
            t0 = time.perf_counter()
            with self.tracer.span("incremental.upsert_pages"):
                _, res = self.fail.call("upsert", upsert_pages, spark, idx, frame, n_new_segments=1)
            m["incremental.upsert_s"] = time.perf_counter() - t0
            res = res or {"added": 0, "modified": 0, "segments": []}
            self.new_segs = [int(s) for s in res["segments"]]
            refreshes.append(self.refresh())
            visible += self.visibility(batch.needles, t0, present=True)
            t0 = time.perf_counter()
            with self.tracer.span("delete.delete_docs"):
                _, tomb = self.fail.call("delete", delete_docs, spark, idx, urls=sorted(batch.delete_urls))
            m["delete.call_s"] = time.perf_counter() - t0
            refreshes.append(self.refresh())
            visible += self.visibility(batch.delete_urls, t0, present=False)
        samples = [s for per in out for s in per]
        m["incremental.docs_per_s"] = len(batch.pages) / m["incremental.upsert_s"]
        m["incremental.useful_ratio"] = (res["added"] + res["modified"]) / len(batch.pages)
        m["incremental.visible_p50_s"] = self.pct("incremental.visible_p50_s", visible, 50)
        m["churn.p90_ms"] = self.pct("churn.p90_ms", [s[0] for s in samples], 90)
        m["delete.tombstoned"] = tomb or 0
        m["serve.refresh_ms"] = median(refreshes) * 1e3
        m.update(read_amp("churn", [s[2] for s in samples], [s[1] for s in samples], self.pct))
        self.reader = None

    def merge(self, seed: int) -> None:
        """A purging merge_segments of the upsert's new segment and the
        first base segment, then a refresh, beside the CHURN_CLIENTS
        clients. It runs on a copy of the churned index, so the window
        run.py serves afterwards sees the same index as in untraced runs.
        Afterwards every upserted needle is still found, every deleted url
        still gone, and topk still rank-identical to the exhaustive
        engine."""
        from mantic_sh_spark.operators.merge import merge_segments

        idx = self.path("idx-merged")
        shutil.copytree(self.path("idx"), idx)
        spark = self.spark
        m = self.m
        with self.readers(idx, seed), self.tracer.span("phase.merge"):
            before = self.index_stats(idx)
            seg_bytes = segment_bytes(idx)
            srcs = self.new_segs + [min(s for s in seg_bytes if s not in self.new_segs)]
            t0 = time.perf_counter()
            with self.tracer.span("merge.merge_segments"):
                self.fail.call("merge", merge_segments, spark, idx, srcs, purge=True)
            m["merge.call_s"] = time.perf_counter() - t0
            self.refresh()
            after = self.index_stats(idx)
        m["merge.segments_before"] = before.get("segments", 0)
        m["merge.segments_after"] = after.get("segments", 0)
        m["merge.bytes_rewritten"] = sum(seg_bytes.get(s, 0) for s in srcs)
        self.visibility(self.batch.needles, time.perf_counter(), present=True)
        self.visibility(self.batch.delete_urls, time.perf_counter(), present=False)
        qs = inputs.check_queries(seed + 1, self.df)
        self.problems += compare_topk(self.reader, qs, exhaustive_topk(spark, idx, qs, K), K)
        self.reader = None

    def refresh(self) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("serve.refresh"):
            self.reader.refresh()
        return time.perf_counter() - t0

    def visibility(self, targets: dict, t0: float, present: bool) -> list[float]:
        """Per url -> needle: seconds from t0 until a query shows the
        mutation (the needle returns the url, or nothing once the url is
        deleted). A mutation a query does not show fails the run."""
        out = []
        with self.tracer.span("serve.visibility"):
            for url, needle in targets.items():
                hits = self.reader.topk(needle, K)
                urls = set(self.reader.urls([d for d, _ in hits]).values())
                if present and url not in urls:
                    self.problems.append(f"upserted {url} not returned for {needle}")
                elif not present and hits:
                    self.problems.append(f"deleted {url} still returned for {needle}")
                out.append(time.perf_counter() - t0)
        return out

    def setup(self, _seed: int) -> None:
        """The Spark part of set-up: the tier index, built SETUPS times."""
        from mantic_sh_spark.operators.tiers import build_tier_index

        spark = self.spark
        times = []
        with self.tracer.span("phase.setup"):
            for _ in range(SETUPS):
                t0 = time.perf_counter()
                with self.tracer.span("tiers.build_tier_index"):
                    build_tier_index(spark, self.path("idx"))
                times.append(time.perf_counter() - t0)
        self.m["tiers.build_s"] = median(times)

    def expect(self, seed: int) -> None:
        """Expected answers for run.py's output checks on the final index."""
        idx = self.path("idx")
        self.out["check_queries"] = inputs.check_queries(seed, self.df)
        batch = self.batch
        changed = frozenset(batch.pages["url"]) | frozenset(batch.delete_urls) if batch is not None else frozenset()
        self.out["phrases"] = inputs.phrase_checks(seed, self.path("pages"), changed)
        # two independent Spark jobs: run them side by side
        with ThreadPoolExecutor(2) as pool:
            topk = pool.submit(exhaustive_topk, self.spark, idx, self.out["check_queries"], K)
            phrase = pool.submit(spark_phrase, self.spark, idx, self.out["phrases"], K)
            self.out["want_topk"], self.out["want_phrase"] = topk.result(), phrase.result()

    def registry(self, seed: int) -> None:
        """Per query, on one DataFrame: its plan's Exchange count, a collect
        that warms it and feeds the oracle check, the timed count() and a
        timed noop-sink write. Oracle comparisons run after the phase."""
        import duckdb

        from mantic_sh_spark.plans.entry_queries import REGISTRY

        spark = self.spark
        reg = self.path("registry")
        inputs.write_registry_tables(seed, reg)
        rows, total = {}, 0.0
        for name in inputs.REGISTRY_QUERIES:  # stay None for a query that fails
            for suffix in ("_s", "_noop_s", "_exchanges"):
                self.m[f"registry.{name}{suffix}"] = None
        with self.tracer.span("phase.registry"):
            for name in inputs.REGISTRY_QUERIES:
                op = f"registry.{name}"

                def warm(fn=REGISTRY[name][0]):
                    df = fn(spark, reg)  # plan read before execution: no AQE final plan yet
                    return df, exchange_count(df), df.toPandas()

                with self.tracer.span(f"{op}.warm"):
                    ok, out = self.fail.call(op, warm)
                if not ok:
                    continue
                df, self.m[f"{op}_exchanges"], rows[name] = out
                t0 = time.perf_counter()
                with self.tracer.span(op):
                    self.fail.call(op, df.count)
                t1 = time.perf_counter()
                with self.tracer.span(f"{op}.noop"):
                    self.fail.call(op, df.write.format("noop").mode("overwrite").save)
                t2 = time.perf_counter()
                total += t1 - t0
                self.m[f"{op}_s"] = t1 - t0
                self.m[f"{op}_noop_s"] = t2 - t1
        self.m["registry.suite_s"] = total
        con = duckdb.connect()
        for t in ("documents", "embeddings", "orders", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{reg}/{t}.parquet')")
        for name, pdf in rows.items():
            self.problems += registry_oracle(con, name, pdf, REGISTRY[name][1])
        con.close()

    def build_1c(self, _seed: int) -> None:
        """The same build in a fresh local[1] session of the same JVM, which
        the local[4] build and the registry phase have warmed."""
        self.session(1)
        self.build("1c", self.path("idx1c"))
        self.problems += build_parity(self.stats["4c"], self.stats["1c"])
        one = self.m["index_build.docs_per_s_1c"]
        self.m["index_build.scaling_eff"] = self.m["index_build.docs_per_s_4c"] / one / 4.0 if one else None


PHASES = {"serve": [SparkSide.corpus, SparkSide.build_4c, SparkSide.setup, SparkSide.expect],
          "churn": [SparkSide.corpus, SparkSide.build_4c, SparkSide.churn, SparkSide.setup, SparkSide.expect]}
# phases only traced runs execute; they are per-layer only
TRACED_ONLY = {"serve": [SparkSide.registry, SparkSide.build_1c], "churn": [SparkSide.merge]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)

    side = SparkSide(args)
    try:
        for phase in PHASES[args.workload] + (TRACED_ONLY[args.workload] if args.trace else []):
            t0 = time.perf_counter()
            phase(side, args.seed)
            print(f"[perfbench] {phase.__name__}: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    finally:
        side.close()
    with open(os.path.join(args.work, "spark.json"), "w") as f:
        json.dump({"m": side.m, "problems": side.problems, "ops": side.fail.by_op(),
                   "errors": side.fail.errors, "spans": side.tracer.spans, **side.out}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
