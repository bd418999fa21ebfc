"""``query_mix``: passes over eight oracle-paired registry queries, in a
seeded order per pass, each materialised after a warm-up pass.

Each query is three timed calls: the builder (which may run eager jobs),
forcing the executed plan, and executing that plan to a row count (the
work of a noop sink, without planning the query a second time). The
timed operation is one pass, whose wall time is ``query_mix_s``; single
queries last 0.4-4 s and vary too much from run to run to time one by
one. ``attempted`` and ``failed`` count queries.
"""

from __future__ import annotations

import ast
import hashlib
import os
import time

import gen
from common import Ctx, timed_loop
from tracing import median

SF = 0.01
MIN_PASSES = 2


def contract_normaliser(repo: str):
    """``norm`` and ``vhash`` exactly as ``tools/drive_contract.py``
    defines them (read from its source, which runs Spark at import)."""
    import pandas as pd

    with open(os.path.join(repo, "tools", "drive_contract.py")) as f:
        tree = ast.parse(f.read())
    fns = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name in ("norm", "vhash")]
    ns = {"pd": pd, "hashlib": hashlib}
    exec(compile(ast.Module(body=fns, type_ignores=[]), "drive_contract.py", "exec"), ns)
    return ns["norm"], ns["vhash"]


def run_query(ctx: Ctx, fn, name: str, sf_dir: str, stats: dict | None) -> None:
    """Build, plan and execute one query; with ``stats`` given, record its
    job-group counts and executed-plan totals there."""
    tr = ctx.tracer
    with ctx.groups.group(name) as gid, tr.span(f"{name}.query"):
        with tr.span(f"{name}.build"):
            df = fn(ctx.spark, sf_dir)
        qe = df._jdf.queryExecution()
        with tr.span(f"{name}.plan"):
            qe.executedPlan()
        with tr.span(f"{name}.exec"):
            qe.toRdd().count()
    if stats is not None:
        from elastic_freight_spark.plans.metrics import execution_metrics, summarize

        s = summarize(execution_metrics(df, run=False))
        stats[name] = {**ctx.groups.stats(gid), "exchanges": s["n_shuffles"],
                       "scan_bytes": s["scan_bytes"]}


def run(ctx: Ctx) -> dict:
    import duckdb
    import __spark_entry__ as entry
    from elastic_freight_spark.session import TABLES, load_tables

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    norm, vhash = contract_normaliser(repo)
    queries, oracles = entry.queries(), entry.oracle_sql()
    missing = [q for q in gen.QUERY_MIX if q not in oracles]
    if missing:
        raise RuntimeError(f"no oracle for {missing}")

    t0 = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "tables")
    gen.write_tables(sf_dir, ctx.seed, SF)
    with ctx.tracer.span("session.load_tables"):
        load_tables(ctx.spark, sf_dir)
    got = {}
    with ctx.tracer.span("setup.cache_warm"):
        for name in gen.query_order(ctx.seed, 0):
            with ctx.groups.group(f"warm-{name}"):
                got[name] = vhash(norm(queries[name](ctx.spark, sf_dir).toPandas()))
    setup_s = time.perf_counter() - t0

    stats = {} if ctx.tracer.enabled else None
    pass_s, per_pass = [], []
    for p in timed_loop(ctx.seconds, MIN_PASSES):
        t = time.perf_counter()
        for name in gen.query_order(ctx.seed, p + 1):
            run_query(ctx, queries[name], name, sf_dir, stats)
        pass_s.append(time.perf_counter() - t)
        if stats is not None:
            per_pass.append(dict(stats))

    # correctness, outside the timed passes: the warm-up results against
    # each query's DuckDB oracle on the same generated tables
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    wrong = [q for q in gen.QUERY_MIX if got[q] != vhash(norm(con.execute(oracles[q]).df()))]
    con.close()
    ctx.notes += [f"query_mix: {q} differs from its DuckDB oracle" for q in wrong]
    ctx.notes.append(
        f"query_mix: {len(pass_s)} timed passes of {len(gen.QUERY_MIX)} queries at "
        f"sf{SF}, query_mix_s={median(pass_s):.3f}"
    )
    if stats is not None:
        layer_mix(ctx, per_pass)
    n_ops = len(gen.QUERY_MIX) * (len(pass_s) + 1)
    return {
        "setup_s": setup_s,
        "op_s": pass_s,
        "items": len(gen.QUERY_MIX) * len(pass_s),
        "items_s": sum(pass_s),
        "attempted": n_ops,
        # a wrong warm-up answer fails that query in every pass
        "failed": len(wrong) * (len(pass_s) + 1),
    }


def layer_mix(ctx: Ctx, per_pass: list[dict]) -> None:
    """Per-query and per-pass layer metrics (medians over timed passes),
    plus the ranking of queries by their dominant layer."""
    tr, L = ctx.tracer, ctx.layers
    n = len(per_pass)
    layers = ("build", "plan", "exec")
    per_query_pass = {}  # (query, layer) -> seconds in each timed pass
    rank = []
    for name in gen.QUERY_MIX:
        for layer in layers:
            durs = [s.end - s.start for s in tr.spans if s.name == f"{name}.{layer}"][-n:]
            per_query_pass[name, layer] = durs
            L[f"{name}.{layer}_s"] = median(durs)
        L[f"{name}.jobs"] = median([p[name]["jobs"] for p in per_pass])
        L[f"{name}.exchanges"] = median([p[name]["exchanges"] for p in per_pass])
        dominant = max(layers, key=lambda k: L[f"{name}.{k}_s"])
        total = sum(L[f"{name}.{k}_s"] for k in layers)
        rank.append((L[f"{name}.{dominant}_s"], name, dominant, total))
    for k in ("jobs", "stages", "tasks", "exchanges", "shuffle_write_bytes", "scan_bytes"):
        L[f"query_mix.{k}"] = median([sum(p[q][k] for q in gen.QUERY_MIX) for p in per_pass])
    for layer in layers:
        L[f"query_mix.{layer}_s"] = median(
            [sum(per_query_pass[q, layer][i] for q in gen.QUERY_MIX) for i in range(n)]
        )
    ctx.notes.append("query_mix queries ranked by their dominant layer (median s):")
    for secs, name, layer, total in sorted(rank, reverse=True):
        ctx.notes.append(f"  {name:<28} {layer:<5} {secs:8.3f} of {total:8.3f}")
