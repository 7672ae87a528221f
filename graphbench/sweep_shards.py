#!/usr/bin/env python3
"""Rows/s of each bulk-load step as the ``bulk_load`` shard grows.

    python3 graphbench/sweep_shards.py 1000 4000 16000 64000 128000

Run from the root of a checkout. For each node count (edges are four
times as many), it writes 6 shards, loads each into a fresh graph on one
session, and prints the medians of the last 5 loads (the first warms up):
``bulk_insert_nodes`` and ``bulk_insert_edges`` rows/s, ``checkpoint_tables``
seconds, and rows loaded per second over all three.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphbench import run  # noqa: E402


def main(argv) -> int:
    sizes = [int(a) for a in argv] or [4000, 128000]
    ncpu = run.configure_host()
    from graphbench import workload as wl
    import graphview_spark.sources.bulk as bulk
    from graphview_spark.graph import GraphDatabase
    from graphview_spark.session import get_spark

    spark = get_spark("graphbench-sweep", cpus=ncpu)
    out = os.path.join(run.WORK, "sweep")
    os.makedirs(out, exist_ok=True)
    try:
        for nodes in sizes:
            times = []
            for i in range(6):
                shard = wl.write_shard(np.random.default_rng([nodes, i]), out,
                                       f"n{nodes}_{i}", nodes, 4 * nodes)
                g = GraphDatabase(spark)
                g.create_node_table(wl.PEOPLE_DDL)
                t0 = time.perf_counter()
                bulk.bulk_insert_nodes(g, "People", shard.nodes_csv)
                t1 = time.perf_counter()
                bulk.bulk_insert_edges(g, "People", "Knows", shard.edges_csv)
                t2 = time.perf_counter()
                g.checkpoint_tables()
                times.append((t1 - t0, t2 - t1, time.perf_counter() - t2))
            tn, te, tc = (statistics.median(x) for x in zip(*times[1:]))
            print(f"nodes={nodes} edges={4 * nodes} "
                  f"nodes_rows_per_s={nodes / tn:.0f} edges_rows_per_s={4 * nodes / te:.0f} "
                  f"checkpoint_s={tc:.3f} load_rows_per_s={5 * nodes / (tn + te + tc):.0f}",
                  flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
