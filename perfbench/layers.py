"""Per-layer metrics of the traced run (``--trace 1``).

``install`` wraps the engine's public entry points that the workloads
reach, from this file, so each call runs inside a span (see spans.py).
``metrics`` turns the spans of the measured passes into the per-layer
metrics.  Unless noted, a metric is summed over one pass and the median
over the measured passes is reported; a layer a workload never enters
reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import STAGE_FIELDS, Tracer, dir_files

# Registry queries reported one by one: the slowest of the sweep.
SLOW_QUERIES = (
    "q29_signature_neardup", "q38_fundamental_shape", "q77_semantic_dedup",
    "q48_decontamination", "q82_hybrid_retrieval", "q72_dup_spans",
    "q80_url_dedup", "q74_token_rarity", "q84_video_neardup",
    "q28_lsh_near_dup", "q60_timeseries_stats", "q10_rank_relational",
)

# span name -> layer whose stage metrics it feeds
STAGE_LAYERS = {
    "sources.csv_adapter": "sources.csv_adapter",
    "operators.merge.upsert": "operators.merge",
    "operators.merge.overwrite": "operators.merge",
    "operators.merge.append_dedup": "operators.merge",
    "plans.composite_score": "plans.composite_score",
    "plans.fundamental_score": "plans.fundamental_score",
    "plans.segment_merge": "plans.segment_score",
    "plans.segment_score": "plans.segment_score",
    "plans.jobs": "plans.jobs",
    "serving.api": "serving.api",
    "queries.call": "queries",
    "queries.exec": "queries",
    "plans.corpus_pipeline": "plans.corpus_pipeline",
}

NAMES = [
    "session.start_s", "session.warmup_s", "traced.pass_s",
    "sources.csv_adapter.call_s",
    "operators.merge.upsert_s", "operators.merge.overwrite_s",
    "operators.merge.append_dedup_s", "operators.merge.files_written",
    "operators.merge.bytes_written", "operators.merge.write_amp",
    "plans.composite_score.call_s", "plans.fundamental_score.call_s",
    "plans.segment_score.call_s",
    "streaming.news_dedup.trigger_s", "streaming.news_dedup.rows_in",
    "streaming.news_dedup.insert_ratio",
    "serving.api.read_s",
    "queries.call_s", "queries.exec_s",
    *[f"query.{q}.{k}_s" for q in SLOW_QUERIES for k in ("call", "exec")],
    "plans.corpus_pipeline.run_s", "operators.pins.released",
    *[f"{layer}.{f}" for layer in dict.fromkeys(STAGE_LAYERS.values())
      for f in STAGE_FIELDS],
]


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_ratio", "_amp")):
        return "ratio"
    return "count"


def install(spark) -> Tracer:
    from tradingview_data_pipeline_spark.operators.merge import ParquetTable
    from tradingview_data_pipeline_spark.plans import composite_score as cs
    from tradingview_data_pipeline_spark.plans import fundamental_score as fs
    from tradingview_data_pipeline_spark.plans import jobs
    from tradingview_data_pipeline_spark.plans import segment_merge as sm
    from tradingview_data_pipeline_spark.plans import segment_score as ss

    tr = Tracer(spark)

    def files_written(args, kwargs):
        table = args[0]
        before = dir_files(table.path)

        def after(rec):
            new = {p: n for p, n in dir_files(table.path).items()
                   if before.get(p) != n}
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(new.values())
        return after

    tr.wrap(jobs, "ingest_newest", "sources.csv_adapter")
    for method, name in (("merge_upsert", "upsert"), ("overwrite", "overwrite"),
                         ("append_dedup", "append_dedup")):
        tr.wrap(ParquetTable, method, f"operators.merge.{name}", files_written)
    tr.wrap(cs, "composite_scores", "plans.composite_score")
    tr.wrap(fs, "fundamental_scores", "plans.fundamental_score")
    tr.wrap(fs, "fundamental_ranks", "plans.fundamental_score")
    tr.wrap(sm, "merge_overview_performance", "plans.segment_merge")
    tr.wrap(ss, "segment_scores", "plans.segment_score")
    return tr


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def metrics(tr: Tracer, wl, start_s: float, warm_s: float, passes) -> dict:
    ids = [p["id"] for p in passes]
    per_pass: dict[str, dict[int, float]] = defaultdict(lambda: dict.fromkeys(ids, 0.0))
    reads, per_query = [], defaultdict(list)

    def add(key, pid, v):
        per_pass[key][pid] += v

    for s in tr.spans:
        pid = s["pass"]
        if pid not in ids:
            continue
        dur = s["end"] - s["start"]
        name = s["name"]
        if name == "sources.csv_adapter":
            add("sources.csv_adapter.call_s", pid, dur)
        elif name.startswith("operators.merge."):
            add(name + "_s", pid, dur)
            add("operators.merge.files_written", pid, s.get("files_written", 0))
            add("operators.merge.bytes_written", pid, s.get("bytes_written", 0))
        elif name in ("plans.composite_score", "plans.fundamental_score"):
            add(name + ".call_s", pid, dur)
        elif name in ("plans.segment_merge", "plans.segment_score"):
            add("plans.segment_score.call_s", pid, dur)
        elif name == "streaming.news_dedup":
            add("streaming.news_dedup.trigger_s", pid, dur)
            add("streaming.news_dedup.rows_in", pid, s.get("rows_in", 0))
            add("_news_inserted", pid, s.get("rows_inserted", 0))
        elif name == "serving.api":
            reads.append(dur)
        elif name in ("queries.call", "queries.exec"):
            kind = name.split(".")[1]
            add(f"queries.{kind}_s", pid, dur)
            per_query[f"query.{s['query']}.{kind}_s"].append(dur)
        elif name == "plans.corpus_pipeline":
            add("plans.corpus_pipeline.run_s", pid, dur)
        layer = STAGE_LAYERS.get(name)
        if layer:
            for f in STAGE_FIELDS:
                add(f"{layer}.{f}", pid, s[f])

    for p in passes:
        add("operators.pins.released", p["id"], p["released"])
        pid = p["id"]
        inp = getattr(wl, "input_bytes", {}).get(pid)
        if inp:
            add("operators.merge.write_amp", pid,
                per_pass["operators.merge.bytes_written"][pid] / inp)
        rows_in = per_pass["streaming.news_dedup.rows_in"][pid]
        if rows_in:
            add("streaming.news_dedup.insert_ratio", pid,
                per_pass["_news_inserted"][pid] / rows_in)

    out = {n: 0.0 for n in NAMES}
    out.update({k: _median(v.values()) for k, v in per_pass.items() if k in out})
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warm_s
    out["traced.pass_s"] = _median(p["wall"] for p in passes)
    out["serving.api.read_s"] = _median(reads)
    for k, v in per_query.items():
        if k in out:
            out[k] = _median(v)
    return {n: (v, unit(n)) for n, v in out.items()}
