#!/usr/bin/env python3
"""graphview_spark benchmark: one closed-loop client against the engine.

    python3 graphbench/run.py --workload mixed_read_write --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The client sends one operation, waits
for its reply, then sends the next, for ``--seconds`` seconds of client
busy time, on ``local[nproc]``. It prints a report line, then, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See ``graphbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graphbench")
SF = "0.1"
# the first set-up also pays the JVM start; setup_s is the median of both
N_SETUPS = 2
WORKLOADS = ("mixed_read_write", "bulk_load")
# latency_tail_ms percentile. A run completes only 6 or 20 ops, so no
# percentile above the median leaves ten samples beyond it; p75 is
# reported with its sample count instead (README.md).
TAIL_PCT = 75


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_host() -> int:
    """Size Spark for this host and keep every file it writes inside the
    checkout. Must run before pyspark is imported."""
    for name in ("graphview_spark", os.path.join("tools", "gen_testdata.py")):
        if not os.path.exists(os.path.join(ROOT, name)):
            raise SystemExit(f"graphbench: {name} not found under {ROOT}; "
                             "run from the root of a graphview_spark checkout")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # the session's 48g default exceeds a small host's RAM; a fixed-size
    # heap keeps G1 from resizing mid-run, which moved latency and RSS
    heap = f"{max(1, min(3, int(mem_gib // 4)))}g"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_MASTER": f"local[{ncpu}]",
        "SPARK_DRIVER_MEMORY": heap,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{heap} pyspark-shell",
    })
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    return ncpu


def ensure_data() -> str:
    """The TPC-H-ish parquet tables, generated once per checkout by the
    repo's own generator (seed 42)."""
    out = os.path.join(WORK, "data", f"sf{SF}")
    if not os.path.exists(os.path.join(out, "_complete")):
        part = out + ".partial"
        shutil.rmtree(part, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "gen_testdata.py"), SF, part],
            check=True, stdout=sys.stderr, timeout=600)
        open(os.path.join(part, "_complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(part, out)
    return out


def source_sha256() -> str:
    """Hash of the engine and benchmark sources: a run's code identity."""
    src = hashlib.sha256()
    for pkg in ("graphview_spark", "graphbench"):
        top = os.path.join(ROOT, pkg)
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith(".py"):
                    src.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                    with open(os.path.join(d, f), "rb") as fh:
                        src.update(fh.read())
    return src.hexdigest()[:16]


def provenance() -> dict:
    head = dirty = None
    try:
        git = ["git", "-C", ROOT]
        top = subprocess.run(git + ["rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=30)
        if top.returncode == 0 and os.path.samefile(top.stdout.strip(), ROOT):
            head = subprocess.run(git + ["rev-parse", "HEAD"], capture_output=True,
                                  text=True, timeout=30).stdout.strip()
            dirty = bool(subprocess.run(
                git + ["status", "--porcelain", "--untracked-files=no"],
                capture_output=True, text=True, timeout=30).stdout.strip())
    except (OSError, subprocess.SubprocessError):
        pass
    u = platform.uname()
    return {
        "head": head, "dirty": dirty, "source_sha256": source_sha256(),
        "host": {
            "node": u.node, "machine": u.machine, "kernel": u.release,
            "cpus": len(os.sched_getaffinity(0)),
            "mem_gib": round(os.sysconf("SC_PAGE_SIZE")
                             * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            "python": platform.python_version(),
        },
    }


def percentile(values, pct: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


class Record:
    """One operation; ``root`` is its op span, None when untraced."""
    __slots__ = ("op", "rows", "err", "latency", "root", "ok")

    def __init__(self, op, rows, err, latency, root):
        self.op, self.rows, self.err = op, rows, err
        self.latency, self.root = latency, root
        self.ok = None


class Bench:
    """One benchmark run: set-ups, the closed loop, checks, metrics."""

    def __init__(self, args, ncpu: int):
        from graphbench.trace import Tracer

        self.args, self.ncpu = args, ncpu
        self.tracer = Tracer()
        self.spark = self.g = None
        self.setups: list[float] = []
        # the measured pass; with --trace 1, the traced pass, and
        # ``untraced`` the same op stream run again with tracing off
        self.records: list[Record] = []
        self.untraced: list[Record] = []
        self.samples: dict[str, list[float]] = {
            "catalyst_ms": [], "scan_rows": [], "result_rows": [],
            "plan_nodes": []}

    # -- session --------------------------------------------------------
    def start_session(self):
        from graphview_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark("graphbench", cpus=self.ncpu)
            self.tracer.bind(self.spark)

    def stop_session(self):
        self.tracer.bind(None)
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.g = None

    def shutdown(self):
        """Stop Spark and the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- set-up ---------------------------------------------------------
    def setup(self, build, warmup, times=1):
        """Start the session, build, warm up; ``times`` times, keeping the
        last. The first set-up of a run also pays the JVM start."""
        for _ in range(times):
            self.stop_session()
            self.tracer.enabled = bool(self.args.trace)
            t0 = time.perf_counter()
            self.start_session()
            build()
            warmup()
            self.setups.append(time.perf_counter() - t0)
            self.tracer.enabled = False

    def measure(self, build, warmup, stream, do_op, after_op):
        """``N_SETUPS`` set-ups, then the closed loop. With --trace 1 the
        same op stream runs twice, traced and untraced, each on a fresh
        graph after its own set-up; the seed's parity picks which runs
        first, so JIT warm-up favours neither side across seeds."""
        self.setup(build, warmup, N_SETUPS)
        if not self.args.trace:
            self.records = self.loop(stream(), do_op, after_op, False)
            return
        for i, traced in enumerate((True, False) if self.args.seed % 2 else (False, True)):
            if i:
                self.setup(build, warmup)
            recs = self.loop(stream(), do_op, after_op, traced)
            if traced:
                self.records = recs
            else:
                self.untraced = recs

    # -- the closed loop ------------------------------------------------
    def loop(self, stream, do_op, after_op, traced: bool) -> list[Record]:
        """Run ops until the busy time reaches ``--seconds`` and a block
        of the stream is complete."""
        busy, i, block_end, records = 0.0, 0, False, []
        while busy < self.args.seconds or not block_end:
            op = next(stream)
            block_end = op.block_end
            self.tracer.enabled = traced
            t0 = time.perf_counter()
            with self.tracer.op(i, op.kind) as root:
                try:
                    rows, df = do_op(op)
                    err = None
                except Exception as e:  # the op failed; it is counted below
                    rows, df, err = None, None, type(e).__name__
            dt = time.perf_counter() - t0
            self.tracer.enabled = False
            busy += dt
            rec = Record(op, rows, err, dt, root)
            records.append(rec)
            if traced:
                self.tracer.count_jobs(root)
                if df is not None:
                    from graphbench.trace import catalyst_ms, scan_rows

                    self.samples["catalyst_ms"].append(catalyst_ms(df))
                    self.samples["scan_rows"].append(scan_rows(df))
                    self.samples["result_rows"].append(len(rows))
            after_op(rec)
            i += 1
        return records

    def read(self, sql: str):
        df = self.g.execute(sql)
        with self.tracer.span("spark.action"):
            rows = df.collect()
        return rows, df

    def sample_plan(self, rec, dfs):
        if rec.root is not None and rec.err is None:
            from graphbench.trace import plan_nodes

            self.samples["plan_nodes"].extend(plan_nodes(d) for d in dfs)

    # -- workloads ------------------------------------------------------
    def run_mixed(self):
        from graphbench import check, workload as wl
        from graphview_spark.graph_queries import tpch_graph

        sf_dir = ensure_data()
        con = check.base_tables(sf_dir, os.environ["TMPDIR"])
        n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]

        def build():
            with self.tracer.span("graph_queries.build"):
                self.g = tpch_graph(self.spark, sf_dir)
            self.g.execute(wl.NEIGHBORS_PROC)

        def warmup():
            for op in wl.warmup_reads(wl.MIXED_READS, n_cust):
                self.read(op.sql)

        def do_op(op):
            if op.is_write:
                self.g.execute(op.sql)
                return None, None
            return self.read(op.sql)

        def after_op(rec):
            if rec.op.is_write and rec.op.kind != "delete_node_guard":
                target = ("Customer.Refers" if "edge" in rec.op.kind else "Customer")
                tables = self.g.edges if "." in target else self.g.nodes
                self.sample_plan(rec, [tables[target]])

        self.measure(build, warmup, lambda: wl.mixed_stream(self.args.seed, n_cust),
                     do_op, after_op)
        self.peak_rss = peak_rss_mb(self.spark)
        for recs in filter(None, (self.records, self.untraced)):  # one graph each
            verdicts = check.check_mixed(
                check.GraphModel(con), [(r.op, r.rows, r.err) for r in recs])
            for r, v in zip(recs, verdicts):
                r.ok = v
        con.close()

    def run_bulk(self):
        from pyspark.sql import functions as F

        from graphbench import workload as wl
        import graphview_spark.sources.bulk as bulk
        from graphview_spark.graph import GraphDatabase

        warm, shards = wl.write_shards(self.args.seed, os.path.join(WORK, "shards"))
        loaded = {}

        def load(shard):
            g = GraphDatabase(self.spark)
            g.create_node_table(wl.PEOPLE_DDL)
            n = bulk.bulk_insert_nodes(g, "People", shard.nodes_csv)
            m = bulk.bulk_insert_edges(g, "People", "Knows", shard.edges_csv)
            g.checkpoint_tables()
            loaded["g"] = g
            return (n, m), None

        def after_op(rec):
            g, shard = loaded.pop("g", None), rec.op.params["shard"]
            if rec.err is not None:
                rec.ok = False
                return
            nodes, edges = g.nodes["People"], g.edges["People.Knows"]
            sample = list(shard.out_degree)
            got = dict(
                edges.join(nodes.select(F.col("GlobalNodeId").alias("src"), "id"), "src")
                .filter(F.col("id").isin(sample)).groupBy("id").count().collect())
            rec.ok = (
                rec.rows == (shard.n_nodes, shard.n_edges)
                and nodes.count() == shard.n_nodes
                and edges.count() == shard.n_edges
                and all(got.get(k, 0) == d for k, d in shard.out_degree.items()))
            self.sample_plan(rec, [nodes, edges])

        self.measure(lambda: None, lambda: load(warm), lambda: wl.bulk_stream(shards),
                     lambda op: load(op.params["shard"]), after_op)
        self.peak_rss = peak_rss_mb(self.spark)

    # -- metrics --------------------------------------------------------
    def end_to_end(self) -> tuple[dict, dict]:
        lat = [r.latency for r in self.records]
        busy = sum(lat)
        pct = TAIL_PCT
        tail = percentile(lat, pct) if len(lat) > 1 else lat[0]
        metrics = {
            "setup_s": (statistics.median(self.setups[:N_SETUPS]), "s"),
            "ops_per_s": (len(lat) / busy, "1/s"),
            "latency_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "latency_tail_ms": (tail * 1e3, "ms"),
            "peak_rss_mb": (self.peak_rss, "MB"),
        }
        failed = sum(not r.ok for r in self.records + self.untraced)
        extra = {
            "latency_tail_pct": pct,
            "latency_samples": len(lat),
            "samples_beyond_tail": sum(x > tail for x in lat),
            "failed_ratio": failed / len(self.records + self.untraced),
            "setup_runs_s": self.setups,
        }
        reads = [r.latency for r in self.records if not r.op.is_write]
        writes = [r.latency for r in self.records if r.op.is_write]
        if self.args.workload == "mixed_read_write":
            extra["read_p50_ms"] = statistics.median(reads) * 1e3
            extra["write_p50_ms"] = statistics.median(writes) * 1e3
        if self.args.workload == "bulk_load":
            rows = sum(sum(r.rows) for r in self.records if r.rows)
            extra["load_rows_per_s"] = rows / busy
        kinds = {}
        for r in self.records:
            kinds.setdefault(r.op.kind, []).append(r.latency * 1e3)
        extra["p50_ms_by_kind"] = {k: statistics.median(v) for k, v in kinds.items()}
        extra["latencies_ms"] = [(r.op.kind, round(r.latency * 1e3, 1))
                                 for r in self.records]
        extra["errors"] = sorted({r.err for r in self.records if r.err})
        return metrics, extra

    def per_layer(self) -> tuple[dict, dict]:
        from graphbench.trace import descendants, inclusive
        from graphbench.workload import WRITES

        recs = self.records
        n = len(recs)
        spans = [s for r in recs for s in descendants(r.root)]
        setup_spans = [s for s in self.tracer.spans if s.op is None]

        def setup_s(name):
            # over the set-ups setup_s is the median of, not a traced run's third
            return med([s.dur for s in setup_spans if s.name == name][:N_SETUPS])

        def self_ms(name):
            return sum(s.self_time for s in spans if s.name == name) * 1e3 / n

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        def outermost(name):
            return [s for s in spans if s.name == name
                    and not (s.parent is not None
                             and self.tracer.spans[s.parent].name == name)]

        def per_op(name, attr):
            return sum(inclusive(s, attr) for s in outermost(name)) / n

        def rows_per_s(name, field):
            dur = sum(s.dur for s in spans if s.name == name)
            rows = sum(getattr(r.op.params["shard"], field)
                       for r in recs if r.op.kind == "bulk_load" and r.err is None)
            return rows / dur if dur else 0.0

        sm = self.samples
        m = {
            "session.start_s": (setup_s("session.start"), "s"),
            "graph_queries.build_s": (setup_s("graph_queries.build"), "s"),
            "matching.query.execute_self_ms": (self_ms("matching.query.execute"), "ms"),
            "matching.query.eager_jobs_per_op": (per_op("matching.query.execute", "jobs"), "count"),
            "matching.pattern.parse_ms": (self_ms("matching.pattern.parse"), "ms"),
            "matching.planner.plan_ms": (self_ms("matching.planner.plan"), "ms"),
            "matching.paths.bfs_ms": (self_ms("matching.paths.bfs"), "ms"),
            "matching.paths.jobs_per_op": (per_op("matching.paths.bfs", "jobs"), "count"),
            "spark.action_ms": (self_ms("spark.action"), "ms"),
            "spark.jobs_per_op": (per_op("spark.action", "jobs"), "count"),
            "spark.tasks_per_op": (per_op("spark.action", "tasks"), "count"),
            "spark.catalyst_ms": (sum(sm["catalyst_ms"]) / n, "ms"),
            "spark.scan_rows_per_result": (
                sum(sm["scan_rows"]) / max(1, sum(sm["result_rows"])), "ratio"),
        }
        for kind in WRITES:
            per = [sum(s.dur for s in outermost("graph.dml") if s.op == r.root.op)
                   for r in recs if r.op.kind == kind]
            m[f"graph.dml_ms.{kind}"] = (med(per) * 1e3, "ms")
        m.update({
            "graph.degree_ms": (self_ms("graph.degree"), "ms"),
            "graph.plan_nodes": (
                statistics.fmean(sm["plan_nodes"]) if sm["plan_nodes"] else 0.0, "count"),
            "graph.checkpoint_s": (med([s.dur for s in outermost("graph.checkpoint")]), "s"),
            "sources.bulk.nodes_rows_per_s": (rows_per_s("sources.bulk.nodes", "n_nodes"), "rows/s"),
            "sources.bulk.edges_rows_per_s": (rows_per_s("sources.bulk.edges", "n_edges"), "rows/s"),
        })
        # busy time over that of the untraced pass, at the same positions of
        # the same op stream
        k = min(len(recs), len(self.untraced))
        m["trace.overhead_ratio"] = (
            sum(r.latency for r in recs[:k]) / sum(r.latency for r in self.untraced[:k]),
            "ratio")
        wall = sum(r.root.dur for r in recs)
        m["trace.coverage"] = (
            sum(s.self_time for s in spans) / wall if wall else 0.0, "ratio")
        extra = {"traced_ops": len(recs), "overhead_positions": k,
                 "traced_first": bool(self.args.seed % 2)}
        return m, extra

    def run(self) -> tuple[dict, dict]:
        if self.args.trace:
            self.tracer.install()
        try:
            if self.args.workload == "bulk_load":
                self.run_bulk()
            else:
                self.run_mixed()
        finally:
            self.tracer.enabled = False
            self.tracer.uninstall()
        metrics, extra = self.end_to_end()
        if self.args.trace:
            layer, lextra = self.per_layer()
            extra.update(lextra)
            extra["end_to_end_traced"] = {k: v for k, (v, _) in metrics.items()}
            metrics = layer
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(
                WORK, "traces", f"{self.args.workload}-seed{self.args.seed}.jsonl")
            self.tracer.dump(path)
            extra["trace_file"] = os.path.relpath(path, ROOT)
        return metrics, extra


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    load_start = os.getloadavg()[0]
    ncpu = configure_host()
    prov = provenance()
    bench = Bench(args, ncpu)
    try:
        metrics, extra = bench.run()
    finally:
        bench.shutdown()
    records = bench.records + bench.untraced
    failed = sum(not r.ok for r in records)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "clients": 1, "loop": "closed",
        "master": os.environ["SPARK_MASTER"],
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        **extra, **prov,
        "loadavg_1m": [load_start, os.getloadavg()[0]],
    }
    print("report " + json.dumps(report, default=str))
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
