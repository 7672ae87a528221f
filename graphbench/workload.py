"""Seeded operation streams for the benchmark workloads.

Everything random in a run comes from here and from the seed alone: the
Zipf-skewed anchors, the read/write mix, the write targets and the
bulk-load CSV shards. The engine only ever sees the generated statement
text and files.

Streams are infinite iterators of :class:`Op`; the closed loop in
``run.py`` pulls the next op only after the previous one returned. Ops
come in blocks: one fixed 20-op cycle with every write kind once
(``mixed_read_write``), or one load of each shard (``bulk_load``). A run
ends on a block boundary, so its mix of operations does not depend on
the seed.

Read anchors are customers with a full three-level ``Refers`` subtree
(keys 1 .. n/8), so every anchored read of one shape does the same work
and the seed moves which keys are hot, not how much work a read is.
"""

from __future__ import annotations

import bisect
import os
import random
from dataclasses import dataclass, field

import numpy as np

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# Anchor skew: YCSB's default Zipfian constant (Cooper et al., "Benchmarking
# Cloud Serving Systems with YCSB", SoCC 2010).
ZIPF_S = 0.99

NEIGHBORS_PROC = """CREATE PROCEDURE Neighbors @k BIGINT AS BEGIN
    SELECT B.c_custkey AS nb FROM Customer A, Customer B
    MATCH A-[Refers]->B WHERE A.c_custkey = @k
END"""

# Read statements, one per shape; ``{k}`` is the anchor customer key.
READS = {
    "refers_2hop_placed": (
        "SELECT C.c_custkey AS cust, O.o_orderkey AS okey "
        "FROM Customer A, Customer B, Customer C, Orders O "
        "MATCH A-[Refers]->B-[Refers]->C-[Placed {{prio:'{prio}'}}]->O "
        "WHERE A.c_custkey = {k}"
    ),
    "degree_cols": (
        "SELECT C.c_custkey AS cust, C.c_acctbal AS bal, "
        "C.OutDegree AS outd, C.InDegree AS ind "
        "FROM Customer C, Nation N MATCH C-[FromNation]->N "
        "WHERE C.c_custkey = {k}"
    ),
    "exec_neighbors": "EXEC Neighbors @k = {k}",
    "refers_path": (
        "SELECT P.hops AS hops, B.c_custkey AS dst_key "
        "FROM Customer A, Customer B MATCH A-[Refers*1..3 AS P]->B "
        "WHERE A.c_custkey = {k}"
    ),
}
# One mixed cycle: a read, a read, a write, six times, then two reads; the
# reads are anchored lookups over Customer/Refers/Placed. The order
# is fixed, because a read right after a write pays for re-counting the
# planner statistics the write dropped: with a seeded order, how many
# reads pay that depended on the seed. The seed picks anchors and targets.
_R = ["refers_2hop_placed", "degree_cols", "refers_path",
      "refers_2hop_placed", "degree_cols", "refers_path", "exec_neighbors"] * 2
_W = ["insert_node", "insert_edge", "update", "delete_edge", "delete_node",
      "delete_node_guard"]
MIXED_CYCLE = [op for i in range(6) for op in (_R[2 * i], _R[2 * i + 1], _W[i])] + _R[12:]
MIXED_READS = sorted(set(_R))

WRITES = {
    "insert_edge": (
        "INSERT EDGE INTO Customer.Refers SELECT A, B FROM Customer A, "
        "Customer B WHERE A.c_custkey = {k} AND B.c_custkey = {sink}"
    ),
    "insert_node": (
        "INSERT INTO Customer (c_custkey, c_name, c_mktsegment, c_acctbal) "
        "VALUES ({k}, 'Customer#{k:09d}', 'BUILDING', {bal})"
    ),
    "update": "UPDATE Customer SET c_acctbal = {bal} WHERE c_custkey = {k}",
    "delete_edge": (
        "DELETE EDGE [A]-[Refers]->[B] FROM Customer A, Customer B "
        "WHERE A.c_custkey = {k}"
    ),
    "delete_node": "DELETE NODE FROM Customer WHERE c_custkey = {k}",
    # a connected customer: the engine's guard must refuse the delete
    "delete_node_guard": "DELETE NODE FROM Customer WHERE c_custkey = {k}",
}


@dataclass
class Op:
    kind: str
    sql: str
    params: dict
    is_write: bool = False
    block_end: bool = True


class ZipfKeys:
    """Keys drawn with P(rank r) ~ 1/r^s over a seed-shuffled key order,
    so a few keys repeat often and the hot keys differ between seeds."""

    def __init__(self, rng: random.Random, keys: list[int], s: float = ZIPF_S):
        self.rng = rng
        self.keys = list(keys)
        rng.shuffle(self.keys)
        acc, self.cdf = 0.0, []
        for r in range(1, len(self.keys) + 1):
            acc += r ** -s
            self.cdf.append(acc)

    def draw(self) -> int:
        u = self.rng.random() * self.cdf[-1]
        return self.keys[min(bisect.bisect_left(self.cdf, u), len(self.keys) - 1)]


def _read_op(rng: random.Random, kind: str, k: int) -> Op:
    params = {"k": k}
    if kind == "refers_2hop_placed":
        params["prio"] = rng.choice(PRIORITIES)
    return Op(kind, READS[kind].format(**params), params)


def warmup_reads(kinds: list[str], n_cust: int) -> list[Op]:
    """One statement of each shape on fixed anchors (not from the seed)."""
    return [
        _read_op(random.Random(i), kind, 1 + (7919 * (i + 1)) % n_cust)
        for i, kind in enumerate(kinds)
    ]


def _anchors(rng: random.Random, n_cust: int) -> ZipfKeys:
    # k -> 2k, 2k+1: every key below n/8 has all 14 descendants of 3 hops
    return ZipfKeys(rng, range(1, n_cust // 8))


def mixed_stream(seed: int, n_cust: int):
    """Repeats ``MIXED_CYCLE``: 14 reads and each of the six write kinds
    once (70% reads). Edge inserts, updates and guarded deletes hit the
    read anchors, so reads observe recent writes. Edge deletes take a key
    in [n/8, n/2): it is never an anchor, and it has both of its base
    ``Refers`` edges. Such a key can still be the second or third node of
    a path read, which then finds fewer paths; the model in ``check.py``
    drops the same edges. Inserted customers get keys above the base range
    and never get edges, so deleting one must succeed; a base customer
    always has its FromNation edge, so deleting one must hit the guard."""
    rng = random.Random(seed)
    anchors = _anchors(rng, n_cust)
    next_key, live_inserted = n_cust + 1000, []
    while True:
        for n, kind in enumerate(MIXED_CYCLE):
            if kind in READS:
                op = _read_op(rng, kind, anchors.draw())
            else:
                if kind == "insert_node":
                    params = {"k": next_key, "bal": round(rng.uniform(-999, 9999), 2)}
                    live_inserted.append(next_key)
                    next_key += 1
                elif kind == "delete_node":
                    params = {"k": live_inserted.pop()}
                elif kind == "insert_edge":
                    params = {"k": anchors.draw(), "sink": rng.randrange(n_cust)}
                elif kind == "update":
                    params = {"k": anchors.draw(), "bal": round(rng.uniform(-999, 9999), 2)}
                elif kind == "delete_edge":
                    params = {"k": rng.randrange(n_cust // 8, n_cust // 2)}
                else:  # delete_node_guard
                    params = {"k": anchors.draw()}
                op = Op(kind, WRITES[kind].format(**params), params, True)
            op.block_end = n == len(MIXED_CYCLE) - 1
            yield op


# ---------------------------------------------------------------------------
# bulk_load shards
# ---------------------------------------------------------------------------

PEOPLE_DDL = """CREATE TABLE [People] (
    [ColumnRole:"NodeId"] id BIGINT,
    [ColumnRole:"Property"] name varchar(32),
    [ColumnRole:"Edge", Reference:"People", Attributes:{w:"int"}] Knows VARBINARY(max) )"""
# One block loads every shard once; a run is one or more whole blocks.
# Shard size: below about 100k nodes a load is mostly fixed per-load cost
# (job launches, the checkpoint); README.md has the measured sweep.
SHARD_NODES, SHARD_EDGES, N_SHARDS, DEGREE_SAMPLE = 128_000, 512_000, 6, 16
# Out-degree skew: Zipf rank exponent 0.9, an assumption. It is a degree
# distribution with power-law exponent 1 + 1/0.9, about 2.1.
OUT_DEGREE_S = 0.9


@dataclass
class Shard:
    nodes_csv: str
    edges_csv: str
    n_nodes: int
    n_edges: int
    out_degree: dict = field(default_factory=dict)  # sampled id -> degree


def write_shard(rng: np.random.Generator, out_dir: str, name: str,
                n_nodes: int = SHARD_NODES, n_edges: int = SHARD_EDGES) -> Shard:
    nodes_csv = os.path.join(out_dir, f"{name}_people.csv")
    edges_csv = os.path.join(out_dir, f"{name}_knows.csv")
    with open(nodes_csv, "w") as f:
        f.write("id,name\n")
        f.write("".join(f"{i},p{i}\n" for i in range(n_nodes)))
    # power-law out-degree: sources Zipf over a shuffled id order (hubs)
    by_rank = rng.permutation(n_nodes)
    cdf = np.cumsum(np.arange(1, n_nodes + 1, dtype=float) ** -OUT_DEGREE_S)
    ranks = np.searchsorted(cdf, rng.random(n_edges) * cdf[-1])
    src = by_rank[np.minimum(ranks, n_nodes - 1)]
    sink = rng.integers(0, n_nodes, n_edges)
    w = rng.integers(1, 100, n_edges)
    with open(edges_csv, "w") as f:
        f.write("src,sink,w\n")
        f.write("".join(f"{a},{b},{c}\n"
                        for a, b, c in zip(src.tolist(), sink.tolist(), w.tolist())))
    degree = np.bincount(src, minlength=n_nodes)
    # the hubs plus a few ordinary and likely-isolated ids
    sample = by_rank[: DEGREE_SAMPLE // 2].tolist() + rng.choice(
        n_nodes, DEGREE_SAMPLE // 2, replace=False).tolist()
    return Shard(nodes_csv, edges_csv, n_nodes, n_edges,
                 {k: int(degree[k]) for k in sample})


def write_shards(seed: int, out_dir: str) -> tuple[Shard, list[Shard]]:
    """The warm-up shard and the ``N_SHARDS`` measured shards of a seed."""
    os.makedirs(out_dir, exist_ok=True)
    warm = write_shard(np.random.default_rng([0, 0]), out_dir, "warmup")
    return warm, [
        write_shard(np.random.default_rng([seed % 2**32, i + 1]), out_dir, f"s{i}")
        for i in range(N_SHARDS)]


def bulk_stream(shards: list[Shard]):
    while True:
        for i, shard in enumerate(shards):
            yield Op("bulk_load", "", {"shard": shard}, True,
                     block_end=i == len(shards) - 1)
