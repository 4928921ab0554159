"""Layered benchmark for flowforge.

    python3 perfbench/run.py --workload query_routed|query_scan \
        --seed N --seconds S --trace 0|1

Run from the repository root. Everything runs at local[4] from this one
Python process. The input is the seeded web-pages table from
``flowforge.datagen``; statement parameters come from the same seed.

Each run builds a store from the table with a direct-mode encode, decodes
it in full (its order-independent fingerprint must equal the source's),
writes the table once as snappy Parquet for the size reference, and then
one closed-loop client sends the workload's seeded statement stream
through ``sqlagg.store_agg_sql(...).collect()`` for ``--seconds``. Every
answer is checked, untimed, against DuckDB over the source Parquet.
``perfbench/layers.json`` says why each workload exists and which
end-to-end metric each per-layer metric should move.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the build,
decode and statement loop untraced and then again traced, prints the
tracing overhead, replays a sample of encode buckets in this process, writes
the spans to ``.perfbench/traces/<workload>-seed<N>.json`` and prints the
per-layer metrics. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. Work files go under
``.perfbench/`` in the repository root and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import layers
import statements
import tracing
from layers import median

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# A run pays ~35 s of cold start (JVM, Python workers, first use of each
# code path) before it measures anything, so the table is small enough for
# every run of the benchmark to fit its time budget: one full bucket per
# core (~0.14 GB logical). Bucket and chunk sizes match bench.py.
CORES = 4
TARGET_ROWS = CHUNK_ROWS = 16384
ROWS = CORES * TARGET_ROWS
STATEMENTS = 400           # stream length; the run stops at --seconds first
REPLAY_BUCKETS = 3
TAIL_BEYOND = 10

WORKLOADS = ("query_routed", "query_scan")
E2E_UNITS = {"setup_s": "s", "encode_gbps": "GB/s", "decode_gbps": "GB/s",
             "size_vs_snappy": "ratio", "query_p50_ms": "ms",
             "query_tail_ms": "ms", "worker_peak_rss_mb": "MB"}
# end-to-end metric -> the operation kind whose samples it is computed from,
# for the traced-minus-untraced overhead
OVERHEAD_OF = {"encode_gbps": "encode", "decode_gbps": "decode", "query_p50_ms": "query"}
COLUMNS = ("url", "warc_ts", "html", "text", "lang")
CODECS = ("plain", "dict", "dictfsst", "rle", "fsst", "hybrid", "worddict",
          "forbp", "deltazz")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Keep Spark, its Python workers and temp files inside the checkout.
    Must run before the Spark session starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "FLOWFORGE_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        "FLOWFORGE_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


def du(path: str, suffix: str = "") -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if f.endswith(suffix))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least
    TAIL_BEYOND samples above it, never below the median."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 50.0, 0
    j = n - 1 - TAIL_BEYOND
    if n < 2 or j <= (n - 1) / 2:
        return median(xs), 50.0, n
    return xs[j], 100.0 * j / (n - 1), n


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.tracer = tracing.Tracer(enabled=bool(args.trace))
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.encodes: list[dict] = []
        self.decodes: list[dict] = []
        self.queries: list[dict] = []
        self.snappy: dict = {}
        self.store = os.path.join(run_dir, "store")
        self.job_rows: list = []
        self.bytes_in = 0
        self.templates = (statements.ROUTED if args.workload == "query_routed"
                          else statements.SCAN)

    # -- helpers -----------------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def fingerprint(self, df) -> tuple:
        """Row count and an order-independent hash sum. xxhash64 values are
        summed as decimals, since a long sum overflows under ANSI mode."""
        from pyspark.sql import functions as F

        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.xxhash64(*COLUMNS).cast("decimal(38,0)")).alias("h")).collect()[0]
        return int(row["n"]), int(row["h"])

    def counts(self, gid: str, attrs: dict) -> None:
        if self.tracer.enabled:
            attrs.update(self.groups.counts(gid))

    # -- setup -------------------------------------------------------------

    def setup(self) -> float:
        """Session, input, warm-up and the store build; returns setup_s.
        Leaves the tracer off: the build is the first untraced encode."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from flowforge import datagen, session

        tr = self.tracer
        # the input is generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            src = pool.submit(datagen.write_webpages, os.path.join(self.run_dir, "src"),
                              ROWS, seed=self.args.seed)
            with tr.span("session.get_spark", op="setup"):
                self.spark = session.get_spark("perfbench", master=f"local[{CORES}]",
                                               shuffle_partitions=CORES)
            self.src = src.result()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.groups = tracing.JobGroups(self.spark.sparkContext)
        self.groups.start("setup")
        mm = pc.min_max(pq.read_table(self.src, columns=["warc_ts"]).column("warc_ts"))
        self.window = statements.Window(mm["min"].as_py(), mm["max"].as_py())
        self.warm_up()
        tr.enabled = False
        self.encode_op()  # rebuilds the store: the first untraced encode
        return time.perf_counter() - T_START

    def warm_up(self) -> None:
        """Build the store once and run each code path on it (decode twice,
        every statement template once), so the timed operations see warm
        workers with grown heaps and compiled plans. Also takes the source
        fingerprint."""
        from flowforge import engine, sqlagg

        tr = self.tracer
        with tr.span("warm_up.encode", op="setup"):
            engine.encode_path(self.spark, self.src, self.store, target_rows=TARGET_ROWS,
                               chunk_rows=CHUNK_ROWS).collect()
            engine.finalize_store(self.store)
        for _ in range(2):
            with tr.span("warm_up.decode", op="setup"):
                self.fingerprint(engine.decode_table(self.spark, self.store))
        # the source fingerprint's cold Parquet scan overlaps the statements,
        # which mostly wait on planner workers and leave cores idle
        with ThreadPoolExecutor(1) as pool:
            src_fp = pool.submit(self.fingerprint, self.spark.read.parquet(self.src))
            n = len(self.templates)
            for st in statements.stream(self.templates, self.args.seed, self.window, n):
                with tr.span("warm_up.statement", op="setup", template=st["template"]):
                    sqlagg.store_agg_sql(self.spark, st["sql"],
                                         {"pages": self.store}).collect()
            self.src_fp = src_fp.result()

    # -- operations ----------------------------------------------------------

    def encode_op(self) -> None:
        from flowforge import engine

        tr = self.tracer
        shutil.rmtree(self.store, ignore_errors=True)
        gid = self.groups.start("encode")
        self.attempted += 1
        try:
            with tr.span("op.encode", op=gid) as a:
                t0 = time.perf_counter()
                if tr.enabled:
                    with tr.span("engine.plan_direct"):
                        engine.plan_direct(self.src, TARGET_ROWS)
                with tr.span("engine.encode_job"):
                    rows = engine.encode_path(self.spark, self.src, self.store,
                                              target_rows=TARGET_ROWS,
                                              chunk_rows=CHUNK_ROWS).collect()
                with tr.span("catalog.compact"):
                    engine.finalize_store(self.store)
                wall = time.perf_counter() - t0
            self.counts(gid, a)
        except Exception:
            self.fail(f"encode: {traceback.format_exc(limit=3)}")
            return
        a["codec_busy_s"] = sum(r["wall_ms"] for r in rows) / 1000.0
        self.job_rows = [r.asDict() for r in rows]
        self.bytes_in = sum(r["bytes_in"] for r in rows)
        self.encodes.append({"wall": wall, "bytes_in": self.bytes_in,
                             "traced": tr.enabled})
        if sum(r["n_rows"] for r in rows) != ROWS * len(COLUMNS):
            self.fail("encode: job metric rows do not cover the table")

    def decode_op(self) -> None:
        from flowforge import engine

        tr = self.tracer
        gid = self.groups.start("decode")
        self.attempted += 1
        try:
            with tr.span("op.decode", op=gid) as a:
                t0 = time.perf_counter()
                with tr.span("engine.decode_table"):
                    fp = self.fingerprint(engine.decode_table(self.spark, self.store))
                wall = time.perf_counter() - t0
            self.counts(gid, a)
        except Exception:
            self.fail(f"decode: {traceback.format_exc(limit=3)}")
            return
        self.decodes.append({"wall": wall, "traced": tr.enabled})
        if fp != self.src_fp:
            self.fail(f"decode: fingerprint {fp} != source {self.src_fp}")

    def snappy_op(self) -> None:
        """Spark's default snappy Parquet write of the same table: the size
        reference, and the wall time ROADMAP's encode-speed ratio uses."""
        out = os.path.join(self.run_dir, "snappy")
        shutil.rmtree(out, ignore_errors=True)
        self.groups.start("snappy")
        t0 = time.perf_counter()
        self.spark.read.parquet(self.src).write.mode("overwrite").parquet(out)
        self.snappy = {"wall": time.perf_counter() - t0, "bytes": du(out, ".parquet"),
                       "store_bytes": du(self.store)}
        shutil.rmtree(out, ignore_errors=True)

    def query_op(self, st: dict) -> None:
        from flowforge import sqlagg

        tr = self.tracer
        stores = {"pages": self.store}
        gid = self.groups.start(st["template"])
        rec = dict(st, traced=tr.enabled)
        self.attempted += 1
        try:
            with tr.span("op.query", op=gid, template=st["template"]) as a:
                t0 = time.perf_counter()
                with tr.span("sqlagg.store_agg_sql"):
                    df = sqlagg.store_agg_sql(self.spark, st["sql"], stores)
                with tr.span("engine.collect"):
                    rec["rows"] = df.collect()
                rec["latency"] = time.perf_counter() - t0
            self.counts(gid, a)
            if tr.enabled:
                self.query_siblings(st, gid, a)
        except Exception:
            self.fail(f"{st['template']}: {st['sql']}: {traceback.format_exc(limit=3)}")
        finally:
            self.queries.append(rec)

    def query_siblings(self, st: dict, gid: str, attrs: dict) -> None:
        """Traced run only: time the statement's layers as separate calls,
        after the timed statement, so they cannot warm anything it pays for."""
        from flowforge import catalog, datasource, sqlagg

        tr = self.tracer
        with tr.span("datasource.store_sql_view", op=gid):
            datasource.store_sql_view(self.spark, self.store, "perfbench_probe",
                                      pushdown=True)
        with tr.span("sqlagg.route_agg_sql_reason", op=gid) as r:
            route, reason = sqlagg.route_agg_sql_reason(self.spark, st["sql"],
                                                        {"pages": self.store})
            r["routed"] = attrs["routed"] = route is not None
            r["reason"] = reason
        if route is not None:
            with tr.span("sqlagg.route_pruning_stats", op=gid) as p:
                p.update(sqlagg.route_pruning_stats(route) or {})
        with tr.span("catalog.read_commits", op=gid):
            cat = catalog.Manifest(self.store)
            cat.read_commits(cat.read_table_meta()["plan_hash"])

    def check_queries(self) -> None:
        """Untimed: every statement's rows against DuckDB over the source."""
        oracle = statements.Oracle(self.src, os.environ["TMPDIR"])
        try:
            for q in self.queries:
                if "rows" not in q:
                    continue
                want = oracle.rows(q["oracle_sql"])
                if not statements.same_rows(q["rows"], want):
                    self.fail(f"{q['template']}: wrong result for {q['sql']}: "
                              f"got {q['rows'][:3]} want {want[:3]}")
                q["n_rows"] = len(q.pop("rows"))
        finally:
            oracle.close()

    # -- workloads ---------------------------------------------------------

    def measured(self, seconds: float) -> None:
        """Full decode of the store, then the statement loop: whole rounds
        of the template cycle until ``seconds`` have passed, so every run
        has the same template mix."""
        self.decode_op()
        deadline = time.perf_counter() + seconds
        n = len(self.templates)
        for i, st in enumerate(statements.stream(self.templates, self.args.seed,
                                                 self.window, STATEMENTS)):
            if i % n == 0 and i and time.perf_counter() >= deadline:
                break
            self.query_op(st)

    def run(self) -> dict:
        self.setup_s = self.setup()
        self.snappy_op()
        self.measured(self.args.seconds)
        if self.args.trace:
            # the same operations again, traced: the difference to the
            # untraced pass is the tracing overhead
            self.tracer.enabled = True
            self.encode_op()
            self.measured(self.args.seconds)
        self.check_queries()
        self.rss_mb = tracing.worker_peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)
        if self.args.trace:
            self.replay()
        return self.result()

    def replay(self) -> None:
        import numpy as np

        import replay
        from flowforge import engine

        plan = engine.plan_direct(self.src, TARGET_ROWS)
        full = [p["bucket"] for p in plan if p["n_rows"] >= TARGET_ROWS]
        rng = np.random.default_rng([self.args.seed, 7])
        sample = sorted(int(b) for b in rng.choice(full, REPLAY_BUCKETS, replace=False))
        job = {(int(r["bucket"]), r["column"]): int(r["bytes_out"]) for r in self.job_rows}
        self.attempted += 1
        try:
            bad = replay.replay_buckets(self.tracer, plan, sample, CHUNK_ROWS, job,
                                        os.path.join(self.run_dir, "replay-store"))
        except Exception:
            bad = [traceback.format_exc(limit=3)]
        self.replay_check = {"buckets": sample, "mismatches": bad}
        if bad:
            self.fail(f"encode replay cross-check: {bad[:4]}")
        else:
            print(f"perfbench: replay cross-check passed for buckets {sample}: "
                  f"payload bytes per column equal the job's bytes_out")

    # -- results -----------------------------------------------------------

    def e2e(self, traced: bool | None = None) -> dict:
        def pick(xs):
            return [x for x in xs if traced is None or x["traced"] == traced]

        lat = [q["latency"] * 1000 for q in pick(self.queries) if "latency" in q]
        tail_v, tail_q, n = tail(lat)
        enc, dec = pick(self.encodes), pick(self.decodes)
        size = self.snappy["store_bytes"] / self.snappy["bytes"]
        return {
            "setup_s": self.setup_s,
            "encode_gbps": median(e["bytes_in"] / e["wall"] / 1e9 for e in enc),
            "decode_gbps": median(self.bytes_in / d["wall"] / 1e9 for d in dec),
            "size_vs_snappy": size,
            "query_p50_ms": median(lat),
            "query_tail_ms": tail_v,
            "worker_peak_rss_mb": self.rss_mb,
            "_tail": (tail_q, n), "_samples": {"encode": len(enc), "decode": len(dec),
                                               "query": len(lat)},
        }

    def result(self) -> dict:
        a = self.args
        e2e = self.e2e(traced=False if a.trace else None)
        tail_q, n = e2e["_tail"]
        print(f"perfbench: workload={a.workload} seed={a.seed} rows={ROWS} "
              f"samples={e2e['_samples']} op_error_rate="
              f"{self.failed / max(1, self.attempted):.4f} "
              f"({self.failed}/{self.attempted})")
        print(f"perfbench: query_tail_ms is p{tail_q:.1f} of {n} statements; "
              f"ref.snappy_write_s={self.snappy['wall']:.3f}")
        for k, unit in E2E_UNITS.items():
            print(f"perfbench: {k} = {e2e[k]:.6g} {unit}")
        if not a.trace:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        else:
            traced = self.e2e(traced=True)
            overhead = {k: {"untraced": e2e[k], "traced": traced[k]}
                        for k, op in OVERHEAD_OF.items()
                        if e2e["_samples"][op] and traced["_samples"][op]}
            for k, v in overhead.items():
                v["overhead_pct"] = 100.0 * (v["traced"] - v["untraced"]) / v["untraced"]
                print(f"perfbench: tracing overhead {a.workload} {k}: untraced "
                      f"{v['untraced']:.6g}, traced {v['traced']:.6g} "
                      f"({v['overhead_pct']:+.2f}%)")
            per_layer, detail = layers.per_layer(self, COLUMNS, CODECS, CORES,
                                                 du(self.store))
            for k, (v, u) in per_layer.items():
                print(f"perfbench: {k} = {v:.6g} {u}")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
            path = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            self.tracer.dump(path, {
                "workload": a.workload, "seed": a.seed, "rows": ROWS,
                "end_to_end_untraced": {k: e2e[k] for k in E2E_UNITS},
                "end_to_end_traced": {k: traced[k] for k in E2E_UNITS},
                "tracing_overhead": overhead, "per_layer": per_layer,
                "per_template": detail, "replay": self.replay_check,
                "errors": self.errors})
            print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}")
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def close(self) -> None:
        if self.spark is not None:
            tracing.stop_spark(self.spark)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def check_declared(metrics: dict, trace: int) -> None:
    """The printed metric names must be exactly the ones BENCHMARK.json
    declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    if declared != set(metrics):
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"missing {sorted(declared - set(metrics))}, "
                         f"undeclared {sorted(set(metrics) - declared)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "flowforge", "engine.py")):
        print(f"perfbench: no flowforge package under {ROOT}; run from the "
              f"repository root", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    sys.path.insert(0, ROOT)
    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        bench.close()
    check_declared(result["metrics"], args.trace)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
