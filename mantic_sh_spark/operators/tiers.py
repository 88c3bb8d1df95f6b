"""R1 exact-match tier ladder — SERVING form (SURVEY.md §2.4 R1;
reference: the tier ladder that puts exact filename/title matches above
path matches above content scores, src/brain-scorer.ts:226-253).

`operators/query.tiered_topk` is the batch/analytics form: a
full-corpus containment pass per query batch (exactly the reference's
own per-query scan). The serving form needs no index of its own: from
format v7 the build folds each posting's tier code — the first
DEFAULT_TIER_SPECS window holding the term's first occurrence — into
its tf (functions/codec.py), so `serve.IndexReader.tiered_topk` is one
block-interval kernel run over the main postings, and every mutation
keeps the ladder current with no rebuild.
"""

from __future__ import annotations

from ..functions.codec import DEFAULT_TIER_SPECS


def build_tier_index(spark, index_dir: str,
                     specs: tuple[tuple[str, str, int], ...] = DEFAULT_TIER_SPECS) -> int:
    """Check that the index at `index_dir` serves the tier ladder
    `specs`, and return its number of tier fields. The ladder is part of
    the on-disk format, so this runs no job: it refuses an index of
    another format (index_build.check_format) and raises ValueError for
    any ladder but DEFAULT_TIER_SPECS, the one format v7 encodes."""
    from ..sources.catalog import IndexPaths
    from .index_build import check_format

    check_format(spark, IndexPaths(index_dir),
                 "its postings carry no tier codes of this ladder")
    if tuple(map(tuple, specs)) != DEFAULT_TIER_SPECS:
        raise ValueError(f"tier ladder {specs!r} is not the one the index format "
                         f"encodes, {DEFAULT_TIER_SPECS!r}")
    return len(specs)
