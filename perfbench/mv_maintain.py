"""mv_maintain: keep three materialized views fresh over a write stream.

One wire connection runs closed-loop cycles against customer / orders /
lineitem.  ``HOLD_BACK`` of the orders (chosen by the seed among those
with ``STREAM_LINES`` lines) are not preloaded; they form the insert
stream, in seed order.  Views:

- ``mv_q3``: the TPC-H Q3 three-way join aggregate;
- ``mv_q1``: a lineitem aggregate, which gets a changelog because
- ``mv_q1_rollup`` is cascaded over it.

A cycle is three phases, each timed as a whole:

- write: INSERT ``B`` orders as VALUES, INSERT their lineitems, then
  DELETE the lines of one order an earlier cycle inserted (seeded choice);
- fresh: REFRESH mv_q3 and mv_q1_rollup (the cascade refreshes mv_q1
  first), from the last write's acknowledgment until every view is current;
- read: the first SELECT on each view after its refresh.

Every ``COMPACT_EVERY`` cycles ``COMPACT TABLE lineitem`` runs, outside the
phases but inside the loop time, so the segment count stays stationary.
Before the loop, one untimed cycle (its victim a preloaded order) and one
compaction warm the JVM, so no timed cycle pays for JIT and plan-code
warm-up.
At the end every view must equal a DuckDB recompute over the live rows the
generator tracked.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from decimal import Decimal, InvalidOperation

import duckdb
import numpy as np
import pandas as pd

from . import datagen
from .common import Clock, Outcome, dir_bytes, more_units
from .trace import NullTracer
from .wire import WireClient

SF = 0.02
HOLD_BACK = 0.10
B = 20
#: every held-back order has this many lines, so each cycle changes the same
#: number of base rows whatever the seed draws
STREAM_LINES = 4
COMPACT_EVERY = 1
TABLES = ("customer", "orders", "lineitem")

_Q3_BODY = (
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1995-03-15' "
    "AND l_shipdate > DATE '1995-03-15' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority"
)
MV_Q3 = (
    "SELECT l_orderkey, o_orderdate, o_orderpriority, "
    "sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS n_items "
    + _Q3_BODY
)
_Q1_BODY = (
    "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus"
)
MV_Q1 = (
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
    "sum(l_extendedprice) AS sum_base_price, "
    "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
    "count(*) AS count_order " + _Q1_BODY
)
MV_Q1_ROLLUP = (
    "SELECT l_linestatus, count(*) AS n_groups, sum(sum_qty) AS total_qty, "
    "sum(count_order) AS n_lines FROM mv_q1 GROUP BY l_linestatus"
)
VIEWS = {
    "mv_q3": f"CREATE MATERIALIZED VIEW mv_q3 AS {MV_Q3}",
    "mv_q1": f"CREATE MATERIALIZED VIEW mv_q1 AS {MV_Q1}",
    "mv_q1_rollup": f"CREATE MATERIALIZED VIEW mv_q1_rollup AS {MV_Q1_ROLLUP}",
}
#: the same definitions as DuckDB recomputes over the tracked live rows
ORACLE = {
    "mv_q3": MV_Q3,
    "mv_q1": MV_Q1,
    "mv_q1_rollup": f"SELECT l_linestatus, count(*) AS n_groups, "
                    f"sum(sum_qty) AS total_qty, sum(count_order) AS n_lines "
                    f"FROM ({MV_Q1}) GROUP BY l_linestatus",
}


class Inputs:
    """Seeded preload, insert stream and delete targets."""

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng(seed)
        t = datagen.tpch(rng, SF)
        orders, lines = t["orders"], t["lineitem"]
        keys = orders["o_orderkey"].to_numpy()
        n_lines = np.bincount(lines["l_orderkey"], minlength=keys.max() + 1)[keys]
        held = rng.permutation(keys[n_lines == STREAM_LINES])
        held = held[: int(len(keys) * HOLD_BACK)]
        is_held = orders["o_orderkey"].isin(held)
        self.rng = rng
        self.customer = t["customer"]
        self.orders = orders[~is_held].reset_index(drop=True)
        self.lineitem = lines[~lines["l_orderkey"].isin(held)].reset_index(drop=True)
        by_key = orders.set_index("o_orderkey")
        self.stream_orders = by_key.loc[held].reset_index()
        self.stream_lines = lines[lines["l_orderkey"].isin(held)]
        self.paths = {}
        for name in TABLES:
            path = os.path.join(work, f"{name}.parquet")
            datagen.write_parquet(name, getattr(self, name), path)
            self.paths[name] = path

    def batch(self, cycle: int) -> tuple[pd.DataFrame, pd.DataFrame]:
        """The ``cycle``-th slice of ``B`` held-back orders and their lines."""
        o = self.stream_orders.iloc[cycle * B:(cycle + 1) * B]
        if len(o) < B:
            raise RuntimeError("insert stream exhausted; lower the cycle count")
        return o, self.stream_lines[self.stream_lines["l_orderkey"].isin(o["o_orderkey"])]


def setup(spark, warehouse: str, inputs: Inputs):
    """Create and load the base tables, then create the views."""
    from incresql_spark.engine import Engine
    from incresql_spark.frequency import FreqTable

    engine = Engine(spark, warehouse)
    for name in TABLES:
        engine.execute_statement(f"CREATE TABLE {name} ({datagen.SCHEMAS[name]})")
        FreqTable(spark, os.path.join(warehouse, "default", name)).insert(
            spark.read.parquet(inputs.paths[name]), assume_distinct=True)
    for ddl in VIEWS.values():
        engine.execute_statement(ddl)
    return engine


def run(spark, tracer, work: str, seed: int, seconds: float,
        deadline: float) -> Outcome:
    from incresql_spark.frequency import FreqTable
    from incresql_spark.server.mysql import MySqlServer

    inputs = Inputs(seed, work)
    warehouse = os.path.join(work, "warehouse")
    clock = Clock()
    engine = setup(spark, warehouse, inputs)
    setup_s = clock.lap()

    server = MySqlServer(engine, port=0)
    port = server.serve_background()
    client = WireClient(port)
    attempted = failed = 0
    last_read: dict[str, list[tuple]] = {}
    columns: dict[str, list[str]] = {}
    latency: dict[str, list[float]] = defaultdict(list)
    live_orders = [inputs.orders]
    live_lines = [inputs.lineitem]
    inserted: list[int] = []
    deleted: set[int] = set()

    def send(tr, kind: str, sql: str, view: str | None = None) -> None:
        nonlocal attempted, failed
        with tr.statement(kind):
            reply = client.query(sql)
        attempted += 1
        latency[kind].append(reply.seconds)
        if not reply.ok:
            failed += 1
            print(f"statement failed: {sql[:80]}: {reply.error}", flush=True)
        elif view is not None:
            last_read[view], columns[view] = reply.rows, reply.columns

    def one_cycle(tr, cycle: int) -> tuple[float, float, float, int]:
        """One cycle: (write, fresh, read) seconds and base rows changed."""
        o, li = inputs.batch(cycle)
        # the victim is an order an earlier cycle inserted (a preloaded one
        # in the first cycle), never one of this cycle's batch
        pool = inserted or inputs.orders["o_orderkey"].tolist()
        victim = int(inputs.rng.choice([k for k in pool if k not in deleted]))
        n_deleted = sum(int((df["l_orderkey"] == victim).sum())
                        for df in (inputs.lineitem, inputs.stream_lines))
        inserted.extend(o["o_orderkey"].tolist())
        deleted.add(victim)
        live_orders.append(o)
        live_lines.append(li)
        writes = [("insert", datagen.values_sql("orders", o)),
                  ("insert", datagen.values_sql("lineitem", li)),
                  ("delete", f"DELETE FROM lineitem WHERE l_orderkey = {victim}")]
        clock = Clock()
        for kind, sql in writes:
            send(tr, kind, sql)
        write = clock.lap()
        send(tr, "refresh", "REFRESH MATERIALIZED VIEW mv_q3")
        send(tr, "refresh", "REFRESH MATERIALIZED VIEW mv_q1_rollup")
        fresh = clock.lap()
        for view in VIEWS:
            send(tr, "select", f"SELECT * FROM {view}", view)
        read = clock.lap()
        return write, fresh, read, len(o) + len(li) + n_deleted

    phases = {"write": [], "fresh": [], "read": [], "cycle": []}
    rows_changed = cycles = 0
    try:
        # One untimed cycle and compaction first: every timed statement then
        # runs on a warm JVM, and the loop starts on a compacted table.
        clock = Clock()
        one_cycle(NullTracer(), 0)
        send(NullTracer(), "compact", "COMPACT TABLE lineitem")
        warmup_s = clock.lap()
        latency.clear()
        tracer.start()
        loop = Clock()
        elapsed = 0.0
        while more_units(elapsed, cycles, seconds, deadline):
            write, fresh, read, changed = one_cycle(tracer, cycles + 1)
            for name, v in zip(("write", "fresh", "read"), (write, fresh, read)):
                phases[name].append(v)
            phases["cycle"].append(write + fresh + read)
            rows_changed += changed
            cycles += 1
            if cycles % COMPACT_EVERY == 0:
                send(tracer, "compact", "COMPACT TABLE lineitem")
            elapsed += loop.lap()
    finally:
        tracer.stop()
        client.close()
        server.shutdown()

    segments = {
        name: len(FreqTable(spark, os.path.join(warehouse, "default", name))._segments())
        for name in TABLES
    }
    orders = pd.concat(live_orders, ignore_index=True)
    lines = pd.concat(live_lines, ignore_index=True)
    lines = lines[~lines["l_orderkey"].isin(deleted)]
    clock = Clock()
    correct = failed == 0 and _check(last_read, columns, {
        "customer": inputs.customer, "orders": orders, "lineitem": lines})
    return Outcome(
        setup_s=setup_s, phases=phases, loop_s=elapsed,
        rows_changed=rows_changed, disk_bytes=dir_bytes(warehouse),
        attempted=attempted, failed=failed, correct=correct,
        segments=segments,
        notes={"warmup_s": round(warmup_s, 3), "check_s": round(clock.lap(), 3),
               "cycles": cycles, "statement_p50_ms": {
                   k: round(statistics.median(v) * 1000, 1) for k, v in latency.items()},
               "sf": SF, "B": B, "compact_every": COMPACT_EVERY},
    )


def _check(got: dict[str, list[tuple]], columns: dict[str, list[str]],
           live: dict[str, pd.DataFrame]) -> bool:
    """Every view's last read must equal DuckDB's recompute over the live
    rows."""
    con = duckdb.connect()
    try:
        for name, df in live.items():
            con.register(name, datagen.to_arrow(name, df))
        ok = True
        for view, sql in ORACLE.items():
            cols = ", ".join(columns.get(view, ["*"]))
            want = con.execute(f"SELECT {cols} FROM ({sql})").fetchall()
            if view not in got or not _same_rows(got[view], want):
                print(f"correctness: {view} differs from the DuckDB recompute "
                      f"({len(got.get(view, []))} rows vs {len(want)})", flush=True)
                ok = False
        return ok
    finally:
        con.close()


def _canon(v) -> str:
    """One spelling per value across engines: numbers by their exact
    decimal value, NULL as a control character, everything else by its
    text."""
    if v is None:
        return "\x00"
    s = str(v)
    try:
        return str(Decimal(s).normalize())
    except InvalidOperation:
        return s


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality of two row lists after ``_canon``."""
    def norm(rows):
        return sorted(tuple(_canon(v) for v in r) for r in rows)
    return norm(got) == norm(want)
