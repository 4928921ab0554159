"""Per-layer metrics, computed from the spans of a traced run.

Names are ``<module>.<metric>``. Each is a median over the workload's
traced operations (per chunk for the replayed selector and codec spans)
unless its note in ``layers.json`` says otherwise. A metric with
no samples on a workload (for example ``datasource.scan_tasks`` on
``query_routed``, which runs no fallback statement) reads 0; the trace file
records the sample counts.
"""

from __future__ import annotations

import json
import os
import statistics

from tracing import dur

HERE = os.path.dirname(os.path.abspath(__file__))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _share(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(bench, columns, codecs, cores: int, store_bytes: int
              ) -> tuple[dict, dict]:
    """``({name: (value, unit)}, per_template_breakdown)``."""
    tr = bench.tracer
    out: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    # session
    put("session.start_s", median(dur(s) for s in tr.find("session.get_spark")), "s")

    # engine, encode job
    enc_ops = tr.find("op.encode")
    put("engine.plan_direct_s", median(dur(s) for s in tr.find("engine.plan_direct")), "s")
    jobs = tr.find("engine.encode_job")
    put("engine.encode_job_s", median(dur(s) for s in jobs), "s")
    put("engine.encode_tasks", median(s["attrs"].get("tasks", 0) for s in enc_ops), "count")
    busy = [s["attrs"]["codec_busy_s"] / (dur(j) * cores)
            for s, j in zip(enc_ops, jobs) if "codec_busy_s" in s["attrs"]]
    put("engine.codec_busy_share", median(busy), "ratio")
    ops = [s for s in tr.spans if s["name"].startswith("op.") and s["end"] is not None]
    put("engine.failed_tasks", sum(s["attrs"].get("failed_tasks", 0) for s in ops), "count")

    # selector and codecs, from the replay (per chunk)
    for c in columns:
        stats = tr.find("selector.stats", col=c)
        best = tr.find("selector.encode_best", col=c)
        win = tr.find("codecs.encode_array", col=c)
        dec = tr.find("codecs.decode_array", col=c)
        put(f"selector.stats_ms.{c}", median(dur(s) * 1e3 for s in stats), "ms")
        put(f"selector.trial_ms.{c}",
            median((dur(b) - dur(s) - dur(w)) * 1e3 for s, b, w in zip(stats, best, win)), "ms")
        put(f"codecs.encode_mbps.{c}",
            median(w["attrs"]["bytes_in"] / dur(w) / 1e6 for w in win), "MB/s")
        put(f"codecs.decode_mbps.{c}",
            median(d["attrs"]["bytes_in"] / dur(d) / 1e6 for d in dec), "MB/s")
        rows = [r for r in bench.job_rows if r["column"] == c]
        put(f"codecs.ratio.{c}", _share(sum(r["bytes_out"] for r in rows),
                                        sum(r["bytes_in"] for r in rows)), "ratio")
    best_all = tr.find("selector.encode_best")
    put("selector.useful_share",
        _share(sum(dur(s) for s in tr.find("codecs.encode_array")),
               sum(dur(s) for s in best_all)), "ratio")
    for k in codecs:
        put(f"selector.wins.{k}", sum(1 for s in best_all if s["attrs"]["codec"] == k),
            "count")

    # catalog
    put("catalog.write_chunk_ms", median(dur(s) * 1e3 for s in tr.find("catalog.write_chunk")), "ms")
    put("catalog.commit_ms", median(dur(s) * 1e3 for s in tr.find("catalog.commit")), "ms")
    put("catalog.compact_s", median(dur(s) for s in tr.find("catalog.compact")), "s")
    put("catalog.read_commits_ms",
        median(dur(s) * 1e3 for s in tr.find("catalog.read_commits")), "ms")
    put("catalog.store_bytes", store_bytes, "bytes")

    # statements: one record per traced statement, siblings joined by op id
    by_op: dict[str, dict] = {}
    for s in tr.spans:
        if s["end"] is not None and s["op"] and s["name"] in (
                "op.query", "sqlagg.store_agg_sql", "engine.collect",
                "datasource.store_sql_view", "sqlagg.route_agg_sql_reason",
                "sqlagg.route_pruning_stats"):
            by_op.setdefault(s["op"], {})[s["name"]] = s
    stmts = [d for d in by_op.values() if "op.query" in d]
    routed = [d for d in stmts if d["op.query"]["attrs"].get("routed")]
    fallback = [d for d in stmts if "routed" in d["op.query"]["attrs"]
                and not d["op.query"]["attrs"]["routed"]]
    n_buckets = len([r for r in bench.job_rows if r["column"] == columns[0]])

    put("datasource.relation_ms",
        median(dur(d["datasource.store_sql_view"]) * 1e3 for d in stmts
             if "datasource.store_sql_view" in d), "ms")
    put("datasource.scan_tasks", median(d["op.query"]["attrs"]["leaf_tasks"] for d in fallback),
        "count")
    put("datasource.bucket_prune_share",
        median(1 - d["op.query"]["attrs"]["leaf_tasks"] / n_buckets for d in fallback), "ratio")
    put("sqlagg.route_ms",
        median((dur(d["sqlagg.route_agg_sql_reason"]) - dur(d["datasource.store_sql_view"])) * 1e3
             for d in stmts if "sqlagg.route_agg_sql_reason" in d), "ms")
    put("sqlagg.build_ms", median(dur(d["sqlagg.store_agg_sql"]) * 1e3 for d in stmts), "ms")
    put("sqlagg.routed_share", _share(len(routed), len(routed) + len(fallback)), "ratio")
    prune = [d["sqlagg.route_pruning_stats"]["attrs"] for d in routed
             if "sqlagg.route_pruning_stats" in d]
    put("sqlagg.buckets_read_share",
        median(_share(p["buckets_read"], p["buckets_total"]) for p in prune), "ratio")
    put("sqlagg.buckets_proven_share",
        median(_share(p["buckets_full"], p["buckets_total"]) for p in prune), "ratio")
    put("engine.spark_jobs", median(d["op.query"]["attrs"]["jobs"] for d in stmts), "count")
    put("engine.tasks", median(d["op.query"]["attrs"]["tasks"] for d in stmts), "count")
    put("engine.collect_ms", median(dur(d["engine.collect"]) * 1e3 for d in stmts), "ms")
    put("engine.decode_job_s", median(dur(s) for s in tr.find("engine.decode_table")), "s")

    detail: dict[str, dict] = {}
    for d in stmts:
        q = d["op.query"]
        t = detail.setdefault(q["attrs"]["template"], {"latency_ms": [], "jobs": [],
                                                       "tasks": [], "routed": []})
        t["latency_ms"].append(dur(q) * 1e3)
        t["jobs"].append(q["attrs"]["jobs"])
        t["tasks"].append(q["attrs"]["tasks"])
        t["routed"].append(q["attrs"].get("routed"))
    for t in detail.values():
        t["n"] = len(t["latency_ms"])
        t["p50_ms"] = median(t["latency_ms"])
    check_mapping(out)
    return out, detail


def load_mapping() -> dict:
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)


def check_mapping(metrics: dict) -> None:
    """Every per-layer metric must name the end-to-end metric and workload
    it should move in layers.json (families use a ``<col>``/``<codec>``
    placeholder)."""
    fams = load_mapping()["per_layer"]
    for name in metrics:
        parts = name.split(".")
        keys = {name, ".".join(parts[:2] + ["<col>"]), ".".join(parts[:2] + ["<codec>"])}
        if not keys & set(fams):
            raise SystemExit(f"perfbench: {name} has no entry in layers.json")
