"""``bulk_index``: the paper's pipeline, one full pass at a time.

read_json_lines -> split_corrupt -> quarantine Parquet write ->
build_index (8 shards, murmur3 ``spark`` routing) -> compact_index ->
``LOOKUPS_PER_PASS`` shard-pruned ``read_shard(...).collect()`` lookups
from one closed-loop client (90% uniformly drawn hits, 10% ids never
written, no id looked up twice in a run).
"""

from __future__ import annotations

import os
import time

import gen
from common import Ctx, data_files, timed_loop
from tracing import median, percentile

N_DOCS = 100_000
N_SHARDS = 8
LOOKUPS_PER_PASS = 3
#: the JIT is still compiling the pipeline after one pass: after a single
#: warm-up pass, the next three passes got faster by about a fifth
WARM_PASSES = 2
MIN_PASSES = 4


def one_pass(ctx: Ctx, docs: gen.DocSet, out: str, ids: list[str]) -> dict:
    """One pass; its facts are checked by ``check_pass`` after the timer.
    ``build_s`` is the ingest-to-compact time, ``s`` the whole pass."""
    from elastic_freight_spark.indexer import IndexConfig, build_index, compact_index
    from elastic_freight_spark.sources.json_source import read_json_lines, split_corrupt

    spark, tr, groups = ctx.spark, ctx.tracer, ctx.groups
    qdir = os.path.join(out, "quarantine")
    cfg = IndexConfig(index_name="docs", doc_id_col="doc_id", num_shards=N_SHARDS,
                      output_path=out, routing="spark")
    facts: dict = {"lookups": [], "qdir": qdir}
    t0 = time.perf_counter()
    with tr.span("bulk_index.pass"):
        with groups.group("quarantine"), tr.span("sources.json_source.quarantine"):
            raw = read_json_lines(spark, docs.paths, gen.DOC_SCHEMA)
            good, bad = split_corrupt(raw)
            bad.write.mode("overwrite").parquet(qdir)
        with groups.group("build_index") as gid, tr.span("indexer.build_index"):
            manifest = build_index(good, cfg)
        if tr.enabled:
            facts["build_stats"] = groups.stats(gid)
            facts["files_written"] = len(data_files(manifest["path"]))
        with groups.group("compact_index"), tr.span("indexer.compact_index"):
            compacted = compact_index(spark, manifest["path"])
        facts["build_s"] = time.perf_counter() - t0
        for doc in ids:
            facts["lookups"].append(lookup(ctx, compacted["path"], doc))
    facts["s"] = time.perf_counter() - t0
    facts["manifest"], facts["compacted"] = manifest, compacted
    return facts


def lookup(ctx: Ctx, path: str, doc: str) -> dict:
    """One point lookup; the rows are checked after the pass."""
    from elastic_freight_spark.indexer import read_shard

    tr = ctx.tracer
    t = time.perf_counter()
    with ctx.groups.group("lookup") as gid, tr.span("indexer.read_shard"):
        with tr.span("indexer.read_shard.route"):
            df = read_shard(ctx.spark, path, doc)
        with tr.span("indexer.read_shard.scan"):
            rows = df.collect()
    res = {"doc": doc, "rows": rows, "s": time.perf_counter() - t}
    if tr.enabled:
        from elastic_freight_spark.plans.metrics import execution_metrics, summarize

        res["plan"] = summarize(execution_metrics(df, run=False))
        res["jobs"] = ctx.groups.stats(gid)["jobs"]
    return res


def check_pass(ctx: Ctx, docs: gen.DocSet, facts: dict) -> list[str]:
    """The correctness gates of one pass; an empty list means it passed."""
    from elastic_freight_spark.indexer import COUNTER_DOC_CREATED, COUNTER_DOC_FAILED

    fails = []
    counters = facts["manifest"]["counters"]
    if counters[COUNTER_DOC_CREATED] != docs.n_good:
        fails.append(f"created {counters[COUNTER_DOC_CREATED]} != {docs.n_good}")
    if counters[COUNTER_DOC_FAILED] != docs.n_null_id:
        fails.append(f"failed {counters[COUNTER_DOC_FAILED]} != {docs.n_null_id}")
    n_quarantined = ctx.spark.read.parquet(facts["qdir"]).count()
    facts["quarantine_rows"] = n_quarantined
    if n_quarantined != docs.n_malformed:
        fails.append(f"quarantined {n_quarantined} != {docs.n_malformed}")
    shards = facts["compacted"]["shards"]
    if sorted(shards, key=int) != [str(s) for s in range(N_SHARDS)]:
        fails.append(f"manifest shards {sorted(shards)}")
    path = facts["compacted"]["path"]
    per_shard = [len(data_files(os.path.join(path, f"shard={s}"))) for s in range(N_SHARDS)]
    if per_shard != [1] * N_SHARDS:
        fails.append(f"files per shard after compaction {per_shard}")
    facts["index_bytes"] = sum(os.path.getsize(f) for f in data_files(path))
    for lk in facts["lookups"]:
        want = docs.sample.get(lk["doc"])
        got = [(r["doc_id"], r["org_id"], r["body"], r["score"], r["views"]) for r in lk["rows"]]
        if got != ([(lk["doc"], *want)] if want else []):
            fails.append(f"lookup {lk['doc']} returned {got[:2]}")
    return fails


def run(ctx: Ctx) -> dict:
    t0 = time.perf_counter()
    docs = gen.write_docs(os.path.join(ctx.work, "input"), N_DOCS, ctx.seed,
                          n_files=2 * ctx.cpus, sample_every=7)
    ids = gen.lookup_ids(docs, ctx.seed, len(docs.sample))
    out = os.path.join(ctx.work, "index")
    k = LOOKUPS_PER_PASS
    failed, notes = 0, []
    with ctx.tracer.span("setup.cache_warm"):
        for w in range(WARM_PASSES):
            fails = check_pass(ctx, docs, one_pass(ctx, docs, out, ids[w * k:(w + 1) * k]))
            failed += bool(fails)
            notes += [f"warm-up pass {w}: {f}" for f in fails]
    setup_s = time.perf_counter() - t0

    passes = []
    for p in timed_loop(ctx.seconds, MIN_PASSES):
        facts = one_pass(ctx, docs, out, ids[(p + WARM_PASSES) * k:(p + WARM_PASSES + 1) * k])
        fails = check_pass(ctx, docs, facts)
        passes.append(facts)
        failed += bool(fails)
        notes += fails
    ctx.notes += notes[:20]
    lat = [lk["s"] for p in passes for lk in p["lookups"]]
    build_s = [p["build_s"] for p in passes]
    ratio = passes[-1]["index_bytes"] / docs.input_bytes
    ctx.notes.append(
        f"bulk_index: {len(passes)} passes of {docs.n_lines} lines "
        f"({docs.input_bytes / 1e6:.1f} MB) + {k} lookups; ingest-to-compact "
        f"median {median(build_s):.3f}s; "
        f"index_bytes_per_input_byte={ratio:.4f}; {len(lat)} lookups: "
        f"lookup_p50_ms={1e3 * median(lat):.1f} lookup_p90_ms={1e3 * percentile(lat, 90):.1f}"
    )
    ctx.layers["indexer.index_bytes_per_input_byte"] = ratio
    if ctx.tracer.enabled:
        layer_bulk(ctx, passes)
    return {
        "setup_s": setup_s,
        "op_s": [p["s"] for p in passes],
        # index_docs_per_s: input lines over the ingest-to-compact time
        "items": docs.n_lines * len(passes),
        "items_s": sum(build_s),
        "attempted": WARM_PASSES + len(passes),
        "failed": failed,
    }


def layer_bulk(ctx: Ctx, passes: list[dict]) -> None:
    """Per-layer metrics of the timed passes (medians over passes, or
    over lookups for the read_shard metrics)."""
    from elastic_freight_spark.indexer import (
        COUNTER_T_FILLING, COUNTER_T_INDEXING, COUNTER_T_MANIFESTING, COUNTER_T_MERGING,
    )

    tr = ctx.tracer
    timed = {s.trace_id for s in [s for s in tr.spans if s.name == "bulk_index.pass"][-len(passes):]}

    def durations(name):
        return [s.end - s.start for s in tr.spans if s.name == name and s.trace_id in timed]

    L = ctx.layers
    L["sources.json_source.quarantine_s"] = median(durations("sources.json_source.quarantine"))
    L["sources.json_source.quarantine_rows"] = median([p["quarantine_rows"] for p in passes])
    L["indexer.build_index_s"] = median(durations("indexer.build_index"))
    L["indexer.compact_index_s"] = median(durations("indexer.compact_index"))
    for key in (COUNTER_T_INDEXING, COUNTER_T_MANIFESTING, COUNTER_T_FILLING):
        L[f"indexer.{key}"] = median([p["manifest"]["counters"][key] for p in passes])
    L[f"indexer.{COUNTER_T_MERGING}"] = median(
        [p["compacted"]["counters"][COUNTER_T_MERGING] for p in passes]
    )
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes"):
        L[f"indexer.build_index.{key}"] = median([p["build_stats"][key] for p in passes])
    L["indexer.files_written"] = median([p["files_written"] for p in passes])
    L["indexer.files_after_compact"] = len(data_files(passes[-1]["compacted"]["path"]))
    counts = [list(p["manifest"]["shards"].values()) for p in passes]
    L["sharding.shard_skew"] = median([max(c) / (sum(c) / len(c)) for c in counts])

    lookups = [lk for p in passes for lk in p["lookups"]]
    L["indexer.read_shard.route_ms"] = 1e3 * median(durations("indexer.read_shard.route"))
    L["indexer.read_shard.scan_ms"] = 1e3 * median(durations("indexer.read_shard.scan"))
    L["indexer.read_shard.jobs_per_lookup"] = median([lk["jobs"] for lk in lookups])
    L["indexer.read_shard.files_scanned_per_lookup"] = median(
        [lk["plan"]["scan_files"] for lk in lookups]
    )
    L["indexer.read_shard.rows_scanned_per_hit"] = median(
        [lk["plan"]["scan_rows"] for lk in lookups if lk["rows"]]
    )
