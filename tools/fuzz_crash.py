"""Crash-injection sweep over the index mutation paths.

The crash-consistency story (extend intent rows + gc_aborted_extends,
the pipelined-commit poison guard, merge's commit-dst-then-retire
order) is pinned by two hand-picked fault points in tests/. This
harness removes the hand-picking: it enumerates EVERY durable-effect
call a mutation makes — driver-side `DataFrameWriter.parquet` (all
table writes), `catalog.write_small_parquet` (one-row metadata
commits), and `index_build._delete_path` (retirements) — and for each
k runs the mutation with an injected crash at the k-th call. Since
durable effects are the only thing a crash can leave behind,
crash-BEFORE at each site enumerates every distinct on-disk state a
real kill could produce (a torn individual parquet write additionally
leaves an uncommitted dir, which the manifest gating already makes
invisible and GC collects — the same state as crash-before-the-write
plus garbage bytes).

Right after the injected crash, the probes are queried on the index
as the crash left it (crashed_read): every one must answer, apart from
the two states of a fresh build that crashed before its docs stage
committed. After that the scenario's HEAL step runs unpatched (the
documented recovery: re-send the batch through upsert, re-run the
build for resume, re-run the merge), and the final index must be
indistinguishable from a control run that never crashed:

  * probe BM25 answers, compared by (url, rounded score) — doc ids may
    legitimately differ between a healed fold and the control;
  * collection_stats (n_docs, integer sum_dl) — catches the
    incremental-stats chain desyncing from the norms table;
  * a second gc_aborted_extends must be a no-op (no dangling intents).

Usage:
    python tools/fuzz_crash.py [--scenario upsert_add|upsert_mod|resume|merge]
                               [--stride N]   # sample every Nth fault site

Modelled on SQLite's anything-can-fail fault-injection testing
(https://www.sqlite.org/testing.html §4.1); the reference has no
analog (no durable index to crash: src/brain-scorer.ts rescans).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, ".")

import pyarrow.dataset as pads
from pyspark.sql.readwriter import DataFrameWriter

from mantic_sh_spark.operators import index_build, merge as merge_mod
from mantic_sh_spark.operators.delete import delete_docs
from mantic_sh_spark.operators.index_build import build_index, gc_aborted_extends
from mantic_sh_spark.operators.merge import gc_aborted_merges, merge_segments
from mantic_sh_spark.functions.liveness import MissingDocLen
from mantic_sh_spark.serve import IndexReader
from mantic_sh_spark.session import get_spark
from mantic_sh_spark.sources import catalog
from mantic_sh_spark.sources.catalog import IndexPaths
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
from mantic_sh_spark.streaming.incremental import upsert_pages

ROOT = "/tmp/fuzz_crash"
PROBES = ["w1x w9x", "w3x", "w2x w5x w11x", "zzstopterm w7x"]


class InjectedCrash(Exception):
    pass


class Injector:
    """Counts durable-effect calls; raises at call #trigger (1-based).

    trigger=None → count-only pass. All patched sites are driver-side
    Python calls, so the raise surfaces through the mutation (possibly
    via the commit worker's future join — exactly the path the poison
    guard exists for)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.count = 0
        self.trigger: int | None = None
        self.fired = False
        self.sites: list[str] = []

    def hit(self, site: str) -> None:
        with self.lock:
            self.count += 1
            c = self.count
            if self.trigger is None:
                self.sites.append(site)
        if self.trigger is not None and c == self.trigger:
            self.fired = True
            raise InjectedCrash(f"site #{c}: {site}")


INJ = Injector()
_ORIG = {}


def install_patches() -> None:
    _ORIG["writer_parquet"] = DataFrameWriter.parquet
    _ORIG["small"] = catalog.write_small_parquet
    _ORIG["ib_small"] = index_build.write_small_parquet
    _ORIG["delete"] = index_build._delete_path
    _ORIG["mg_delete"] = merge_mod._delete_path

    def patched_parquet(self, path, *a, **kw):
        INJ.hit(f"write.parquet({path.rsplit('/', 2)[-2:]}")
        return _ORIG["writer_parquet"](self, path, *a, **kw)

    def patched_small(spark, path, pdf, schema):
        INJ.hit(f"write_small_parquet({path.rsplit('/', 1)[-1]})")
        return _ORIG["small"](spark, path, pdf, schema)

    def patched_delete(spark, path):
        INJ.hit(f"_delete_path({path.rsplit('/', 2)[-2:]})")
        return _ORIG["delete"](spark, path)

    DataFrameWriter.parquet = patched_parquet
    catalog.write_small_parquet = patched_small
    index_build.write_small_parquet = patched_small
    index_build._delete_path = patched_delete
    merge_mod._delete_path = patched_delete


def remove_patches() -> None:
    if not _ORIG:
        return
    DataFrameWriter.parquet = _ORIG["writer_parquet"]
    catalog.write_small_parquet = _ORIG["small"]
    index_build.write_small_parquet = _ORIG["ib_small"]
    index_build._delete_path = _ORIG["delete"]
    merge_mod._delete_path = _ORIG["mg_delete"]
    _ORIG.clear()


def snapshot(idx: str) -> dict:
    r = IndexReader(idx)
    probes = {}
    for q in PROBES:
        hits = r.topk(q, k=10)
        urls = r.urls([d for d, _ in hits])
        probes[q] = [(urls[d], s) for d, s in hits]
    st = pads.dataset(IndexPaths(idx).collection_stats).to_table().to_pylist()[0]
    return {"probes": probes, "n_docs": st["n_docs"], "sum_dl": st.get("sum_dl")}


def crashed_read(idx: str, fresh: bool) -> str | None:
    """Query the index as the crash left it, before any heal: every
    probe must answer. Two states are exempt, both of a fresh build:
    opening may fail while no format marker / stats exist yet, and a
    query may raise MissingDocLen while the docs stage has not
    committed — its norms write overlaps the first postings batch, and
    the docs-done row lands only once norms are durable, so postings
    can sit on disk without lengths until the resume re-runs the docs
    stage. Returns a failure message, or None."""
    try:
        r = IndexReader(idx)
    except (RuntimeError, OSError) as e:
        return None if fresh else f"crashed index would not open: {e}"
    for q in PROBES:
        try:
            r.topk(q, k=10)
        except MissingDocLen as e:
            try:
                m = pads.dataset(IndexPaths(idx).manifest).to_table().to_pylist()
            except FileNotFoundError:
                m = []
            docs_done = any(row["stage"] == "docs" and row["status"] == "done"
                            and row["segment_id"] == -1 for row in m)
            if not fresh or docs_done:
                return f"crashed-state query {q!r} raised {e}"
        except Exception as e:  # noqa: BLE001
            return f"crashed-state query {q!r} raised {type(e).__name__}: {e}"
    return None


def diff_snapshots(a: dict, b: dict) -> list[str]:
    out = []
    for key in ("n_docs", "sum_dl"):
        if a[key] != b[key]:
            out.append(f"{key}: control={a[key]} healed={b[key]}")
    for q in PROBES:
        if a["probes"][q] != b["probes"][q]:
            out.append(f"probe {q!r}: control={a['probes'][q]} healed={b['probes'][q]}")
    return out


def _pages(spark, n_docs, seed):
    return gen_pages(spark, SynthConfig(n_docs=n_docs, vocab_size=600, seed=seed),
                     partitions=4)


def _modified_pages(spark, base_cfg_docs, seed):
    """Every 3rd base url re-sent with appended text (modified), plus the
    rest unchanged — the recrawl-batch shape upsert_pages handles."""
    import pandas as pd

    pdf = _pages(spark, base_cfg_docs, seed).toPandas()
    mask = pdf.index % 3 == 0
    pdf.loc[mask, "text"] = pdf.loc[mask, "text"] + " w1x w1x recrawled"
    pdf["html"] = None  # upsert consumes text; html not re-derived here
    return spark.createDataFrame(pdf)


class Scenario:
    """base() lays down the starting index at `dir`; mutate() is the
    operation swept with faults; heal() is the documented recovery."""

    name = ""

    def base(self, spark, idx: str) -> None:
        build_index(spark, _pages(spark, 400, seed=123), idx, n_segments=4)

    def mutate(self, spark, idx: str) -> None:
        raise NotImplementedError

    def heal(self, spark, idx: str) -> None:
        self.mutate(spark, idx)


class UpsertAdd(Scenario):
    name = "upsert_add"

    def mutate(self, spark, idx):
        upsert_pages(spark, idx, _pages(spark, 120, seed=999), n_new_segments=2)


class UpsertMod(Scenario):
    name = "upsert_mod"

    def mutate(self, spark, idx):
        upsert_pages(spark, idx, _modified_pages(spark, 90, seed=123),
                     n_new_segments=2)


class Resume(Scenario):
    name = "resume"

    def base(self, spark, idx):
        pass  # the mutation IS the initial build

    def mutate(self, spark, idx):
        build_index(spark, _pages(spark, 400, seed=123), idx, n_segments=6,
                    batch_segments=2)


class Merge(Scenario):
    name = "merge"

    def base(self, spark, idx):
        super().base(spark, idx)
        pages = _pages(spark, 400, seed=123)
        doomed = [r.url for r in pages.limit(40).select("url").collect()]
        delete_docs(spark, idx, urls=doomed)

    def mutate(self, spark, idx):
        merge_segments(spark, idx, [0, 1], dst_segment=100, purge=True)

    def heal(self, spark, idx):
        # the docstring's recovery: re-run the merge. Sources already
        # retired make the re-run a no-op-shaped merge; the sweep then
        # tells us whether that claim actually holds at every site.
        merge_segments(spark, idx, [0, 1], dst_segment=100, purge=True)


class MergeEmptyPurge(Scenario):
    """Purge merge whose srcs own ZERO tombstones (the live tombstones
    sit under a segment outside the fold): the staged purge set is a
    complete-but-EMPTY dir — review r4 finding: _finish_merge read the
    schema-less dir post-barrier and wedged every later gc replay."""

    name = "merge_empty_purge"

    def base(self, spark, idx):
        super().base(spark, idx)
        paths = IndexPaths(idx)
        import pyspark.sql.functions as F  # noqa: N812

        victims = [
            r.doc_id
            for r in spark.read.parquet(paths.norms)
            .filter(F.col("segment_id") == 2)
            .select("doc_id").orderBy("doc_id").limit(15).collect()
        ]
        delete_docs(spark, idx, doc_ids=victims)

    def mutate(self, spark, idx):
        merge_segments(spark, idx, [0, 1], dst_segment=100, purge=True)

    def heal(self, spark, idx):
        merge_segments(spark, idx, [0, 1], dst_segment=100, purge=True)


class MergeFullSegPurge(Scenario):
    """Purge merge where EVERY doc of one docs segment is tombstoned:
    the survivors staging dir for that segment is complete-but-empty —
    review r4 finding: the 0-row round-trip raised schema inference
    post-barrier; the fix rewrites an empty-survivor segment as a dir
    delete."""

    name = "merge_full_seg_purge"

    def base(self, spark, idx):
        super().base(spark, idx)
        paths = IndexPaths(idx)
        import pyspark.sql.functions as F  # noqa: N812

        victims = [
            r.doc_id
            for r in spark.read.parquet(paths.docs)
            .filter(F.col("segment_id") == 0)
            .select("doc_id").collect()
        ]
        delete_docs(spark, idx, doc_ids=victims)

    def mutate(self, spark, idx):
        merge_segments(spark, idx, [0, 1], dst_segment=100, purge=True)

    def heal(self, spark, idx):
        merge_segments(spark, idx, [0, 1], dst_segment=100, purge=True)


class MergeNoPurge(Scenario):
    """Merge WITHOUT purge over segments that own live tombstones: the
    fold's post-barrier work is the _rehome_tombstones path (stage →
    append under dst → delete src partitions → delete stage), whose
    recovery contract — a replay can only re-append staged ids, never
    lose them — is otherwise untested under faults."""

    name = "merge_no_purge"

    def base(self, spark, idx):
        super().base(spark, idx)
        pages = _pages(spark, 400, seed=123)
        doomed = [r.url for r in pages.limit(30).select("url").collect()]
        delete_docs(spark, idx, urls=doomed)

    def mutate(self, spark, idx):
        merge_segments(spark, idx, [0, 1], dst_segment=100, purge=False)

    def heal(self, spark, idx):
        merge_segments(spark, idx, [0, 1], dst_segment=100, purge=False)


SCENARIOS = {
    s.name: s
    for s in (UpsertAdd(), UpsertMod(), Resume(), Merge(),
              MergeEmptyPurge(), MergeFullSegPurge(), MergeNoPurge())
}


def run_scenario(spark, sc: Scenario, stride: int) -> list[str]:
    base_dir = f"{ROOT}/{sc.name}_base"
    ctrl_dir = f"{ROOT}/{sc.name}_ctrl"
    shutil.rmtree(base_dir, ignore_errors=True)
    shutil.rmtree(ctrl_dir, ignore_errors=True)
    sc.base(spark, base_dir)

    # control: clean mutation, no faults (Resume has no base dir — the
    # mutation is the initial build itself)
    if os.path.exists(base_dir):
        shutil.copytree(base_dir, ctrl_dir)
    sc.mutate(spark, ctrl_dir)
    control = snapshot(ctrl_dir)

    # count pass: how many durable-effect sites does the mutation hit?
    count_dir = f"{ROOT}/{sc.name}_count"
    shutil.rmtree(count_dir, ignore_errors=True)
    if os.path.exists(base_dir):
        shutil.copytree(base_dir, count_dir)
    INJ.count, INJ.trigger, INJ.sites = 0, None, []
    install_patches()
    try:
        sc.mutate(spark, count_dir)
    finally:
        remove_patches()
    sites = list(INJ.sites)
    print(f"[{sc.name}] {len(sites)} durable-effect sites; sweeping stride={stride}")

    failures: list[str] = []
    for k in range(1, len(sites) + 1, stride):
        trial_dir = f"{ROOT}/{sc.name}_k{k}"
        shutil.rmtree(trial_dir, ignore_errors=True)
        if os.path.exists(base_dir):
            shutil.copytree(base_dir, trial_dir)
        INJ.count, INJ.trigger, INJ.fired = 0, k, False
        install_patches()
        crashed = None
        try:
            sc.mutate(spark, trial_dir)
        except Exception as e:  # noqa: BLE001 — any surfacing form is fine
            crashed = e
        finally:
            remove_patches()
        tag = f"{sc.name} k={k} ({sites[k - 1]})"
        if not INJ.fired:
            failures.append(f"{tag}: trigger never fired (count drift?)")
            continue
        if crashed is None:
            failures.append(f"{tag}: injected crash was SWALLOWED — mutation "
                            f"reported success past a failed durable write")
            continue
        bad = crashed_read(trial_dir, fresh=not os.path.exists(base_dir))
        if bad:
            failures.append(f"{tag}: {bad}")
        try:
            sc.heal(spark, trial_dir)
            if gc_aborted_extends(spark, IndexPaths(trial_dir)) or gc_aborted_merges(
                spark, IndexPaths(trial_dir)
            ):
                failures.append(f"{tag}: dangling intent rows after heal")
            mism = diff_snapshots(control, snapshot(trial_dir))
            if mism:
                failures.append(f"{tag}: healed != control: " + "; ".join(mism))
            else:
                print(f"  ok {tag}")
        except Exception as e:  # noqa: BLE001
            failures.append(f"{tag}: HEAL raised {type(e).__name__}: {e}")
        shutil.rmtree(trial_dir, ignore_errors=True)
    return failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scenario", choices=sorted(SCENARIOS), default=None)
    ap.add_argument("--stride", type=int, default=1)
    args = ap.parse_args()
    spark = get_spark(cores=4)
    shutil.rmtree(ROOT, ignore_errors=True)
    t0 = time.time()
    all_failures = []
    names = [args.scenario] if args.scenario else sorted(SCENARIOS)
    for name in names:
        all_failures += run_scenario(spark, SCENARIOS[name], args.stride)
    print(f"\n{time.time() - t0:.0f}s; FAILS: {len(all_failures)}")
    for f in all_failures:
        print("  FAIL", f)
    return 1 if all_failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
