"""Result checks, run outside the timed interval.

``mixed_read_write`` replays the op stream against a Python model of the
base graph plus every applied write. The base data is read with DuckDB
from the same parquet files, and the ``Refers`` edges with the oracle SQL
of ``graph_queries``. ``bulk_load`` results are checked in ``run.py``
right after each load, against the counts and out-degrees the generator
wrote.
"""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from graphview_spark import graph_queries as gq


def norm(rows) -> list[tuple]:
    """Order-free, float-rounded form of a result."""
    out = [
        tuple(round(v, 2) if isinstance(v, float) else v for v in r)
        for r in rows
    ]
    return sorted(out, key=repr)


def base_tables(sf_dir: str, temp_dir: str):
    """A DuckDB connection with one view per TPC-H table the model reads."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    for t in ("customer", "orders"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class GraphModel:
    """Customer/Refers/Placed/FromNation state of the TPC-H graph in
    plain Python, updated by each applied write."""

    def __init__(self, con):
        self.nation = dict(con.execute(
            "SELECT c_custkey, c_nationkey FROM customer").fetchall())
        self.bal = {k: round(float(b), 2) for k, b in con.execute(
            "SELECT c_custkey, c_acctbal FROM customer").fetchall()}
        self.refers: dict[int, list[int]] = defaultdict(list)
        for s, t in con.execute(gq._ORACLE_REFERS).fetchall():
            self.refers[s].append(t)
        self.placed: dict[int, list[tuple]] = defaultdict(list)
        for c, o, p in con.execute(
                "SELECT o_custkey, o_orderkey, o_orderpriority FROM orders"
        ).fetchall():
            self.placed[c].append((o, p))

    # reads -------------------------------------------------------------
    def read(self, kind: str, p: dict) -> list[tuple]:
        k = p["k"]
        if kind == "refers_2hop_placed":
            return norm(
                (c, o)
                for b in self.refers.get(k, ())
                for c in self.refers.get(b, ())
                for o, prio in self.placed.get(c, ()) if prio == p["prio"]
            )
        if kind == "degree_cols":
            if k not in self.nation:  # no FromNation edge, no match
                return []
            outd = 1 + len(self.refers.get(k, ())) + len(self.placed.get(k, ()))
            ind = sum(t == k for ts in self.refers.values() for t in ts)
            return norm([(k, self.bal[k], outd, ind)])
        if kind == "exec_neighbors":
            return norm((t,) for t in self.refers.get(k, ()))
        if kind == "refers_path":
            return norm(self._trails(k, 3))
        raise KeyError(kind)

    def _trails(self, k: int, max_hops: int) -> list[tuple]:
        """(hops, end) of every path of 1..max_hops Refers edges from
        ``k`` that uses no edge twice (the engine's path semantics); an
        edge is (source, position in the source's edge list)."""
        out = []

        def walk(node, hops, used):
            for i, t in enumerate(self.refers.get(node, ())):
                if (node, i) not in used:
                    out.append((hops + 1, t))
                    if hops + 1 < max_hops:
                        walk(t, hops + 1, used | {(node, i)})

        walk(k, 0, frozenset())
        return out

    # writes ------------------------------------------------------------
    def apply(self, kind: str, p: dict) -> None:
        k = p["k"]
        if kind == "insert_edge":
            self.refers[k].append(p["sink"])
        elif kind == "insert_node":
            self.bal[k] = p["bal"]
        elif kind == "update":
            if k in self.bal:
                self.bal[k] = p["bal"]
        elif kind == "delete_edge":
            self.refers.pop(k, None)
        elif kind == "delete_node":
            del self.bal[k]
        elif kind != "delete_node_guard":
            raise KeyError(kind)


def check_mixed(model: GraphModel, records) -> list[bool]:
    """Replay ``records`` (op, rows, error name) in order; one verdict
    per op. A DELETE NODE of a connected customer is correct only if the
    engine refused it."""
    verdicts = []
    for op, rows, err in records:
        if op.kind == "delete_node_guard":
            verdicts.append(err == "GraphViewError")
        elif op.is_write:
            verdicts.append(err is None)
            if err is None:
                model.apply(op.kind, op.params)
        else:
            verdicts.append(err is None and norm(rows) == model.read(op.kind, op.params))
    return verdicts
