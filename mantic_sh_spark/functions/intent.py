"""Query intent analysis + entity extraction (T6 / §2.3 of SURVEY.md).

Reference analogs: the intent analyzer that classifies a query before
routing it (src/intent-analyzer.ts:50-116) and the entity extractor
that pulls typed tokens out of the query string
(src/entity-extractor.ts:22-106). Re-expressed for webtext retrieval:

  * syntax-level intent: quoted phrases (optionally with a `~N` slop
    suffix), `field:term` prefixes, trailing-tilde fuzzy terms, plain
    bag-of-words — mapped to the engine that serves each
    (phrase_topk / bm25f_topk / WAND with expansion / WAND).
  * typed entities: urls, emails, versions, numbers, identifiers —
    regex classes over the raw query (driver-side; the corpus-side
    equivalent is the `regex_extract` oracle entry).

All driver-side pure Python: query strings are tiny; the expensive
part of fuzzy expansion (candidate lookup) stays a row-group-pruned
prefix read of the term_dictionary sidecar, never a vocabulary scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .tokenize import tokenize_query

_PHRASE_RE = re.compile(r'"([^"]+)"(?:~(\d+))?')
_FIELD_RE = re.compile(r"\b(url|title|body|lang|site)\s*:\s*(\S+)")
_FUZZY_RE = re.compile(r"(\w[\w-]*)~(?!\d)")

ENTITY_PATTERNS: dict[str, re.Pattern] = {
    # order matters: first match wins per span
    "url": re.compile(r"https?://[^\s\"']+", re.I),
    "email": re.compile(r"\b[\w.+-]+@[\w-]+\.[\w.-]+\b"),
    "version": re.compile(r"\bv?\d+\.\d+(?:\.\d+)*(?:-[\w.]+)?\b"),
    "number": re.compile(r"\b\d{2,}\b"),
    "identifier": re.compile(r"\b[a-z]+(?:[A-Z][a-z0-9]+)+\b|\b\w+_\w+\b"),
}


@dataclass
class QueryPlan:
    """Parsed query: what to run and with which engine."""

    kind: str  # 'phrase' | 'field' | 'fuzzy' | 'terms'
    terms: list[str] = field(default_factory=list)
    phrase: str | None = None
    slop: int = 0
    fields: dict[str, str] = field(default_factory=dict)
    fuzzy_terms: list[str] = field(default_factory=list)
    entities: dict[str, list[str]] = field(default_factory=dict)
    raw: str = ""

    @property
    def engine(self) -> str:
        """CLI engine this plan routes to (src/intent-analyzer.ts's
        search-strategy switch)."""
        if self.kind == "phrase":
            return "phrase"
        if self.kind == "field" and "url" in self.fields:
            return "bm25f"
        return "wand"


def extract_entities(q: str) -> dict[str, list[str]]:
    """Typed entities in the query, non-overlapping, first-class wins
    (src/entity-extractor.ts:22-106)."""
    taken: list[tuple[int, int]] = []
    out: dict[str, list[str]] = {}
    for kind, pat in ENTITY_PATTERNS.items():
        for m in pat.finditer(q):
            span = m.span()
            if any(not (span[1] <= a or span[0] >= b) for a, b in taken):
                continue
            taken.append(span)
            out.setdefault(kind, []).append(m.group(0))
    return out


def parse_query(q: str) -> QueryPlan:
    """Classify a raw query string into an executable plan."""
    entities = extract_entities(q)
    rest = q

    m = _PHRASE_RE.search(rest)
    if m:
        return QueryPlan(
            kind="phrase",
            phrase=m.group(1),
            slop=int(m.group(2)) if m.group(2) else 0,
            terms=tokenize_query(m.group(1)),
            entities=entities,
            raw=q,
        )

    fields: dict[str, str] = {}
    def _take_field(m2: re.Match) -> str:
        fields[m2.group(1).lower()] = m2.group(2)
        return " "

    rest = _FIELD_RE.sub(_take_field, rest)

    fuzzy = _FUZZY_RE.findall(rest)
    rest = _FUZZY_RE.sub(lambda m2: m2.group(1), rest)

    terms = tokenize_query(rest + " " + " ".join(fields.values()))
    if fuzzy:
        kind = "fuzzy"
    elif fields:
        kind = "field"
    else:
        kind = "terms"
    return QueryPlan(kind=kind, terms=terms, fields=fields,
                     fuzzy_terms=[t.lower() for t in fuzzy],
                     entities=entities, raw=q)


def expand_fuzzy_term(index_dir: str, term: str, max_dist: int = 2,
                      limit: int = 3, spark=None,
                      rebuild_if_missing: bool = False) -> list[str]:
    """Closest index terms to a ~fuzzy query term by Levenshtein
    distance (reference: closest-match top-N, T7/T8). Candidates come
    from PREFIX-PRUNED reads of the term directory (terms are sorted
    within each segment file, so the range filters prune row groups) —
    never a vocabulary scan.

    Candidates come from the `term_dictionary` sidecar — the core index
    stores no term strings (postings are keyed by the int64 tid), so fuzzy matching is exactly what the optional
    vocabulary artifact exists for. Build it once per index with
    `operators/index_build.build_term_dictionary`. Every index MUTATION
    (extend/upsert/purge) deletes the sidecar — a stale dictionary
    would silently miss terms — so with `rebuild_if_missing=True` and a
    SparkSession, a missing sidecar triggers the (vocabulary-bounded)
    rebuild inline and the first fuzzy query after an upsert succeeds;
    otherwise it raises FileNotFoundError with the instruction.

    Candidate band: terms whose FIRST character is one of the query
    term's first (max_dist+1) characters. This covers same-head
    corrections and head deletions (e.g. 'park' for 'spark'~ — 'p' is
    term[1]); a correction whose first character was INSERTED or
    SUBSTITUTED to a letter not in the query term's head (e.g.
    'zpark') is outside the band by design — full recall at distance d
    needs a Levenshtein automaton over an FST sidecar, which is the
    web-scale form of this contract. The prefix discipline is
    identical either way."""
    import os

    import pyarrow.dataset as ds

    from ..sources.catalog import IndexPaths

    if not term:
        return []
    dict_path = IndexPaths(index_dir).term_dict
    if not os.path.isdir(dict_path):
        if rebuild_if_missing and spark is not None:
            from ..operators.index_build import build_term_dictionary

            build_term_dictionary(spark, index_dir)
        else:
            raise FileNotFoundError(
                f"no term_dictionary at {dict_path} — fuzzy expansion needs "
                "the vocabulary sidecar; run "
                "operators.index_build.build_term_dictionary(spark, index_dir) "
                "once, or pass spark + rebuild_if_missing=True"
            )
    prefixes = sorted(set(term[: max_dist + 1]))
    d = ds.dataset(dict_path, format="parquet")
    flt = None
    for p in prefixes:
        rng = (ds.field("term") >= p) & (ds.field("term") < p + "￿")
        flt = rng if flt is None else (flt | rng)
    def lev(a: str, b: str) -> int:
        if abs(len(a) - len(b)) > max_dist:
            return max_dist + 1
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            if min(cur) > max_dist:
                return max_dist + 1
            prev = cur
        return prev[-1]

    # STREAM the band, never materialize it: a single-character prefix
    # band over a web-scale vocabulary is ~1e9 rows, and only the
    # handful of terms that pass the distance test need to be resident
    # (memory = one record batch + the passing dict). The dictionary is
    # one row per term (build_term_dictionary groupBys globally), so
    # each band term is lev'd exactly once; the accumulate branch is
    # defensive against a future per-segment layout. Result identical
    # to the old materialize-then-filter form (fuzzy tests + oracle).
    pass_df: dict[str, int] = {}
    pass_dist: dict[str, int] = {}
    scanner = d.scanner(filter=flt, columns=["term", "df"],
                        batch_size=1 << 16)
    for batch in scanner.to_batches():
        for t, n in zip(batch.column(0).to_pylist(),
                        batch.column(1).to_pylist()):
            if abs(len(t) - len(term)) > max_dist:
                continue
            if t in pass_df:
                pass_df[t] += int(n)
                continue
            dist = 0 if t == term else lev(term, t)
            if dist <= max_dist:
                pass_df[t] = int(n)
                pass_dist[t] = dist
    scored = sorted((pass_dist[t], -df_t, t) for t, df_t in pass_df.items())
    return [t for _, _, t in scored[:limit]]
