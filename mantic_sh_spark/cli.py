"""CLI — the spark-submit entry point (reference analog: the commander
CLI of src/index.ts:17-58 and the MCP adapter src/mcp-server.ts, which
shells out to the same pipeline; here one long-lived SparkSession
serves every subcommand).

Usage (local):
    python main.py build  --pages /path/pages --index /path/idx --segments 32
    python main.py query  --index /path/idx --q "router server" --k 10
    python main.py extend --index /path/idx --pages /path/new_pages
    python main.py merge  --index /path/idx --segments 0,1,2
    python main.py delete --index /path/idx --urls https://site0.example/...
    python main.py synth  --out /path/pages --n-docs 100000
    python main.py stats  --index /path/idx
    python main.py refs   --index /path/idx --symbol parseHtml
    python main.py defs   --index /path/idx --symbol parseHtml

Cluster: spark-submit --py-files mantic_sh_spark.zip main.py build ...
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(cores=args.cores, app_name=f"mantic-{args.cmd}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mantic_sh_spark")
    p.add_argument("--cores", type=int, default=None, help="local[N]; default local[*]")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="generate a deterministic synthetic pages corpus")
    s.add_argument("--out", required=True)
    s.add_argument("--n-docs", type=int, default=10000)
    s.add_argument("--vocab", type=int, default=10000)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--partitions", type=int, default=16)

    b = sub.add_parser("build", help="build (or resume) the inverted index")
    b.add_argument("--pages", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--segments", type=int, default=16)
    b.add_argument("--batch-segments", type=int, default=None)
    b.add_argument("--extract", action="store_true",
                   help="derive text from the html column (pinned byte-identical extraction)")
    b.add_argument("--positions", action="store_true",
                   help="store within-doc positions (enables --engine phrase)")
    b.add_argument("--term-dict", action="store_true",
                   help="also materialize the (term, tid, df) vocabulary sidecar "
                        "(fuzzy expansion; otherwise built on first fuzzy query)")

    e = sub.add_parser("extend", help="fold new pages into an existing index")
    e.add_argument("--index", required=True)
    e.add_argument("--pages", required=True)
    e.add_argument("--new-segments", type=int, default=4)

    u = sub.add_parser("upsert", help="incremental update: detect added/modified urls, "
                                      "tombstone old versions, fold in the delta")
    u.add_argument("--index", required=True)
    u.add_argument("--pages", required=True)
    u.add_argument("--new-segments", type=int, default=4)

    m = sub.add_parser("merge", help="k-way merge segments")
    m.add_argument("--index", required=True)
    m.add_argument("--segments", required=True, help="comma-separated src segment ids")
    m.add_argument("--dst", type=int, default=None)
    m.add_argument("--no-purge", action="store_true")

    d = sub.add_parser("delete", help="tombstone documents by url or doc id")
    d.add_argument("--index", required=True)
    d.add_argument("--urls", nargs="*", default=None)
    d.add_argument("--doc-ids", nargs="*", type=int, default=None)

    q = sub.add_parser("query", help="BM25 top-k")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True, nargs="+", help="one or more query strings")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--engine", choices=["auto", "wand", "exhaustive", "phrase", "bm25f"],
                   default="wand",
                   help="auto = classify each query (quoted phrase / field: / "
                        "fuzzy~ / terms) and route to the matching engine")
    q.add_argument("--slop", type=int, default=0, help="proximity window for --engine phrase")
    q.add_argument("--url-weight", type=float, default=2.5,
                   help="url-field weight for --engine bm25f (body weight is 1.0)")
    q.add_argument("--format", choices=["json", "text", "md"], default="json",
                   help="md renders a per-query markdown table (the reference's "
                        "context-formatter output shape)")

    rf = sub.add_parser("refs", help="find_references: per-doc token positions of a "
                                     "symbol (positional index; no Spark job)")
    rf.add_argument("--index", required=True)
    rf.add_argument("--symbol", required=True)
    rf.add_argument("--k", type=int, default=10)
    rf.add_argument("--max-positions", type=int, default=100)

    df_ = sub.add_parser("defs", help="get_definition: definition sites of a symbol "
                                      "(keyword-phrase probes; no Spark job)")
    df_.add_argument("--index", required=True)
    df_.add_argument("--symbol", required=True)
    df_.add_argument("--k", type=int, default=10)

    hl = sub.add_parser("heal", help="roll crashed extend/merge folds back or forward "
                        "NOW (they otherwise heal on the next mutation; readers gate "
                        "them out either way)")
    hl.add_argument("--index", required=True)
    hl.add_argument("--min-age-seconds", type=float, default=3600.0,
                    help="only heal folds whose intent rows are at least this old — "
                    "guards against rolling back a fold that is STILL RUNNING in "
                    "another process (default 3600; pass 0 only when you know no "
                    "writer is alive)")

    st = sub.add_parser("stats", help="index build metrics")
    st.add_argument("--index", required=True)

    sv = sub.add_parser("serve", help="long-lived JSON-lines query service (no Spark "
                                      "job per query; see mantic_sh_spark/serve.py)")
    sv.add_argument("--index", required=True)
    sv.add_argument("--log-dir", default=None,
                    help="persist session query history as a parquet table (S9)")
    sv.add_argument("--concurrency", type=int, default=1,
                    help="query worker threads (IndexReader is thread-safe)")
    sv.add_argument("--prewarm", type=int, default=0, metavar="N",
                    help="before serving, warm the hot caches with the N most "
                         "recent distinct queries from --log-dir: one postings "
                         "read and one decode pass for all their terms (cold "
                         "p90 is ~50%% fetch; prewarmed repeats are ~ms)")

    mc = sub.add_parser("mcp", help="MCP stdio server (JSON-RPC; search_files tool "
                                    "backed by the long-lived reader — see "
                                    "mantic_sh_spark/mcp.py)")
    mc.add_argument("--index", required=True)

    args = p.parse_args(argv)

    if args.cmd == "serve" and args.prewarm and not args.log_dir:
        # a silent no-op here would leave the operator believing the
        # cache is warm while first traffic pays full cold-fetch p90
        p.error("--prewarm warms from the query log and requires --log-dir")

    if args.cmd == "serve":
        # serving replicas read the committed parquet directly — no JVM
        from .serve import serve_loop

        served = serve_loop(args.index, log_dir=args.log_dir,
                            concurrency=args.concurrency,
                            prewarm=args.prewarm)
        print(json.dumps({"served": served}), file=sys.stderr)
        return 0

    if args.cmd == "mcp":
        from .mcp import serve_stdio

        handled = serve_stdio(args.index)
        print(json.dumps({"handled": handled}), file=sys.stderr)
        return 0

    if args.cmd in ("refs", "defs"):
        # serving-plane lookups — no Spark session
        from .serve import IndexReader

        reader = IndexReader(args.index)
        if args.cmd == "refs":
            out = reader.references(args.symbol, k=args.k,
                                    max_positions=args.max_positions)
        else:
            out = reader.definitions(args.symbol, k=args.k)
        print(json.dumps(out))
        return 0

    if args.cmd == "synth":
        from .sources.synth import SynthConfig, gen_pages

        spark = _spark(args)
        cfg = SynthConfig(n_docs=args.n_docs, vocab_size=args.vocab, seed=args.seed)
        gen_pages(spark, cfg, partitions=args.partitions).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "n_docs": args.n_docs}))

    elif args.cmd == "build":
        from .operators.index_build import build_index, index_stats

        spark = _spark(args)
        pages = spark.read.parquet(args.pages)
        build_index(spark, pages, args.index, n_segments=args.segments,
                    batch_segments=args.batch_segments, extract=args.extract,
                    store_positions=args.positions)
        if args.term_dict:
            from .operators.index_build import build_term_dictionary

            build_term_dictionary(spark, args.index)
        print(json.dumps(index_stats(spark, args.index)))

    elif args.cmd == "extend":
        from .operators.index_build import index_stats
        from .streaming.incremental import extend_index

        spark = _spark(args)
        segs = extend_index(spark, args.index, spark.read.parquet(args.pages), args.new_segments)
        print(json.dumps({"new_segments": segs, **index_stats(spark, args.index)}))

    elif args.cmd == "upsert":
        from .operators.index_build import index_stats
        from .streaming.incremental import upsert_pages

        spark = _spark(args)
        res = upsert_pages(spark, args.index, spark.read.parquet(args.pages), args.new_segments)
        print(json.dumps({**res, **index_stats(spark, args.index)}))

    elif args.cmd == "merge":
        from .operators.merge import merge_segments

        spark = _spark(args)
        dst = merge_segments(
            spark, args.index, [int(x) for x in args.segments.split(",")],
            dst_segment=args.dst, purge=not args.no_purge,
        )
        print(json.dumps({"merged_into": dst}))

    elif args.cmd == "heal":
        from .operators.index_build import check_format, gc_aborted_extends
        from .operators.merge import gc_aborted_merges
        from .sources.catalog import IndexPaths

        spark = _spark(args)
        paths = IndexPaths(args.index)
        check_format(spark, paths)
        extends = gc_aborted_extends(spark, paths, min_age_s=args.min_age_seconds)
        merges = gc_aborted_merges(spark, paths, min_age_s=args.min_age_seconds)
        print(json.dumps({"healed_extends": sorted(extends or []),
                          "healed_merges": sorted(merges or [])}))

    elif args.cmd == "delete":
        from .operators.delete import delete_docs

        spark = _spark(args)
        n = delete_docs(spark, args.index, doc_ids=args.doc_ids, urls=args.urls)
        print(json.dumps({"tombstoned": n}))

    elif args.cmd == "query" and args.engine == "auto":
        # intent routing (reference: src/intent-analyzer.ts:50-116):
        # each query is classified and served by the engine its syntax
        # asks for; fuzzy~ terms expand against the term directory
        from pyspark.sql import functions as F

        from .functions.intent import expand_fuzzy_term, parse_query

        spark = _spark(args)
        docs_tbl = spark.read.parquet(f"{args.index}/docs").select("doc_id", "url")
        has_positions = "positions" in spark.read.parquet(f"{args.index}/postings").columns
        out = {}
        for q in args.q:
            plan = parse_query(q)
            engine = plan.engine
            if engine == "phrase" and has_positions:
                from .operators.phrase import phrase_topk

                res = phrase_topk(spark, args.index, [(0, plan.phrase)], k=args.k,
                                  slop=plan.slop).withColumn("score", F.col("n_matches").cast("double"))
            elif engine == "bm25f":
                from .functions.tokenize import tokens_col
                from .operators.delete import tombstone_df
                from .operators.query import _all_query_terms, bm25f_scores, query_terms_df, rank_topk
                from .sources.catalog import IndexPaths

                # same tombstone semantics as the explicit --engine
                # bm25f route (pre-purge parity contract): score over
                # ALL docs — df/avgdl match the index's stale-until-
                # purge collection stats — then drop dead ids from the
                # RESULTS; pre-filtering the corpus would shift idf/
                # avgdl and make the two routes rank differently.
                # gated_docs excludes a crashed extend's orphan docs
                # (manifest gating — same membership as wand/phrase)
                from .operators.index_build import gated_docs

                docs = gated_docs(spark, IndexPaths(args.index)).withColumn(
                    "tokens", tokens_col("text")).withColumn("url_tokens", tokens_col("url"))
                q = [(0, " ".join(plan.terms))]
                scores = bm25f_scores(docs, query_terms_df(spark, q),
                                      fields=[("tokens", 1.0), ("url_tokens", args.url_weight)],
                                      qterm_list=_all_query_terms(q))
                dead = tombstone_df(spark, IndexPaths(args.index))
                if dead is not None:
                    scores = scores.join(dead, "doc_id", "left_anti")
                res = rank_topk(scores, k=args.k)
            else:
                from .operators.wand import wand_topk

                terms = list(plan.terms)
                # rebuild_if_missing: the vocabulary sidecar is built
                # once on the first fuzzy query (deliberately not part
                # of the index build hot path) and after any mutation
                # deleted it
                for ft in plan.fuzzy_terms:
                    terms.extend(expand_fuzzy_term(args.index, ft, spark=spark,
                                                   rebuild_if_missing=True))
                engine = "wand"
                res = wand_topk(spark, args.index, [(0, " ".join(terms))], k=args.k)
            rows = res.join(F.broadcast(
                docs_tbl.join(res.select("doc_id").distinct(), "doc_id", "left_semi")
            ), "doc_id").orderBy("rank").collect()
            out[q] = {
                "engine": engine,
                "intent": plan.kind,
                "results": [
                    {"rank": r.rank, "doc_id": r.doc_id, "url": r.url, "score": r.score}
                    for r in rows
                ],
            }
        print(json.dumps(out, indent=1))

    elif args.cmd == "query":
        spark = _spark(args)
        queries = list(enumerate(args.q))
        if args.engine == "wand":
            from .operators.wand import wand_topk

            res = wand_topk(spark, args.index, queries, k=args.k)
        elif args.engine == "phrase":
            from pyspark.sql import functions as F

            from .operators.phrase import phrase_topk

            res = phrase_topk(spark, args.index, queries, k=args.k, slop=args.slop).withColumn(
                "score", F.col("n_matches").cast("double")
            )
        else:
            from .functions.tokenize import tokens_col
            from .operators.delete import tombstone_df
            from .operators.query import _all_query_terms, bm25_scores, bm25f_scores, query_terms_df, rank_topk
            from .sources.catalog import IndexPaths

            # tombstone parity with wand/phrase's pre-purge contract:
            # score over ALL docs (df/avgdl identical to the index's
            # stale-until-purge collection stats), then drop dead docs
            # from the RESULTS before ranking — filtering the corpus
            # first would shift idf/avgdl and diverge from the index.
            # gated_docs excludes a crashed extend's orphan docs
            # (manifest gating — same membership as wand/phrase)
            from .operators.index_build import gated_docs

            docs = gated_docs(spark, IndexPaths(args.index)).withColumn("tokens", tokens_col("text"))
            qterms = query_terms_df(spark, queries)
            if args.engine == "bm25f":
                # opt-in field-weighted mode: url tokens boost (R4),
                # off the rank-identity path by design
                docs = docs.withColumn("url_tokens", tokens_col("url"))
                scores = bm25f_scores(docs, qterms,
                                      fields=[("tokens", 1.0), ("url_tokens", args.url_weight)],
                                      qterm_list=_all_query_terms(queries))
            else:
                scores = bm25_scores(docs, qterms, qterm_list=_all_query_terms(queries))
            dead = tombstone_df(spark, IndexPaths(args.index))
            if dead is not None:
                scores = scores.join(dead, "doc_id", "left_anti")
            res = rank_topk(scores, k=args.k)
        docs_tbl = spark.read.parquet(f"{args.index}/docs").select("doc_id", "url")
        from pyspark.sql import functions as F

        rows = res.join(F.broadcast(docs_tbl.join(res.select("doc_id").distinct(), "doc_id", "left_semi")), "doc_id").orderBy("query_id", "rank").collect()
        if args.format == "json":
            out = {}
            for r in rows:
                out.setdefault(args.q[r.query_id], []).append(
                    {"rank": r.rank, "doc_id": r.doc_id, "url": r.url, "score": r.score}
                )
            print(json.dumps(out, indent=1))
        elif args.format == "md":
            # markdown context block (reference: src/context-formatter.ts:7-92)
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r.query_id, []).append(r)
            for qid, rs in sorted(by_q.items()):
                print(f"## Results for `{args.q[qid]}`\n")
                print("| rank | score | url |")
                print("|---|---|---|")
                for r in rs:
                    print(f"| {r.rank} | {r.score:.4f} | {r.url} |")
                print()
        else:
            for r in rows:
                print(f"{args.q[r.query_id]}\t{r.rank}\t{r.score:.4f}\t{r.url}")

    elif args.cmd == "stats":
        from .operators.index_build import index_stats

        spark = _spark(args)
        print(json.dumps(index_stats(spark, args.index)))

    return 0


if __name__ == "__main__":
    sys.exit(main())
