"""sketch_waves: push seeded batches through the sketch and dedup maintainers.

Library API only (the maintainers have no SQL surface), so no engine,
dialect or server code runs.  Documents, events and lineitem rows arrive in
waves whose membership the seed decides.  Each wave is three phases, each
timed as a whole:

- write: land the wave's rows as one segment per landing FreqTable;
- fresh: every maintainer consumes the landed delta (``FreqTable.delta``):
  ``IncrementalHll`` over lineitem, grouped ``IncrementalCms`` over
  documents, ``IncrementalQuantileGrouped`` over events and
  ``IncrementalMinHashDedup`` over documents;
- read: read each maintained state back (and the wave's new near-dup
  pairs).

After every ``COMPACT_EVERY`` waves the landing tables and the minhash
state are compacted, outside the phases but inside the loop time, so the
segment count, and with it a wave's cost, stays stationary.  A run also
stops when the sources hold no further wave.

Set-up lands the first ``BOOTSTRAP`` share of every source and runs the
maintainers over it.  At the end each maintained state must equal the
program's batch operator over the union of everything landed.
"""

from __future__ import annotations

import os

import numpy as np

from . import datagen
from .common import Clock, Outcome, dir_bytes, more_units
from .trace import NullTracer

SF = 0.02                 # lineitem rows come from the TPC-H generator
N_DOCS = 3_000
N_EVENTS = 50_000
BOOTSTRAP = 0.1           # share of each source landed during set-up
WAVE = {"lineitem": 4_000, "documents": 150, "events": 2_500}
SOURCES = ("lineitem", "documents", "events")
#: landing tables and minhash state are compacted after every this many
#: waves, so a wave's cost does not grow with the segments earlier waves left
COMPACT_EVERY = 1


class Inputs:
    """Seeded sources, split into a bootstrap chunk and wave chunks, each
    written to parquet before anything is timed."""

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng(seed)
        frames = {
            "lineitem": datagen.tpch(rng, SF)["lineitem"],
            "documents": datagen.documents(rng, N_DOCS),
            "events": datagen.events(rng, N_EVENTS),
        }
        self.dir = os.path.join(work, "inputs")
        self.chunks: dict[str, list[str]] = {}
        self.rows: dict[str, list[int]] = {}
        firsts = {name: int(len(df) * BOOTSTRAP) for name, df in frames.items()}
        #: as many waves as the smallest source holds after its bootstrap
        self.waves = min((len(df) - firsts[name]) // WAVE[name]
                         for name, df in frames.items())
        for name, df in frames.items():
            df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
            first = firsts[name]
            bounds = [(0, first)] + [
                (first + i * WAVE[name], first + (i + 1) * WAVE[name])
                for i in range(self.waves)
            ]
            paths = []
            for i, (a, b) in enumerate(bounds):
                path = os.path.join(self.dir, f"{name}-{i:03d}.parquet")
                os.makedirs(self.dir, exist_ok=True)
                part = df.iloc[a:b]
                if name == "lineitem":
                    datagen.write_parquet(name, part, path)
                else:
                    part.to_parquet(path, index=False)
                paths.append(path)
            self.chunks[name] = paths
            self.rows[name] = [b - a for a, b in bounds]


class Maintainers:
    """Landing tables plus the four maintainers over one state directory."""

    def __init__(self, spark, root: str, inputs: Inputs):
        from incresql_spark.frequency import FreqTable
        from incresql_spark.operators.text import CMS_D, CMS_W
        from incresql_spark.streaming.cms_incremental import IncrementalCms
        from incresql_spark.streaming.hll_incremental import IncrementalHll
        from incresql_spark.streaming.minhash_incremental import IncrementalMinHashDedup
        from incresql_spark.streaming.quantile_incremental import (
            IncrementalQuantileGrouped,
        )

        self.spark = spark
        self.root = root
        self.inputs = inputs
        self.landing = {}
        for name in SOURCES:
            table = FreqTable(spark, os.path.join(root, "landing", name))
            table.create(spark.read.parquet(inputs.chunks[name][0]).schema)
            self.landing[name] = table
        self.cursor = {name: -1 for name in SOURCES}
        self.hll = IncrementalHll(spark, os.path.join(root, "hll"))
        self.cms = IncrementalCms(spark, os.path.join(root, "cms"), width=CMS_W,
                                  depth=CMS_D, keys=("g",))
        self.quantile = IncrementalQuantileGrouped(spark, os.path.join(root, "quantile"))
        self.minhash = IncrementalMinHashDedup(spark, os.path.join(root, "minhash"))
        self.pairs: list[tuple[int, int]] = []

    def land(self, i: int) -> None:
        for name in SOURCES:
            df = self.spark.read.parquet(self.inputs.chunks[name][i])
            self.landing[name].insert(df, assume_distinct=True)

    def _delta(self, name: str):
        from incresql_spark.frequency import FREQ

        table = self.landing[name]
        until = table.last_seq()
        df = table.delta(self.cursor[name], until).drop(FREQ)
        self.cursor[name] = until
        return df

    def maintain(self, tracer) -> object:
        """Every maintainer consumes its landed delta; returns the new
        near-dup pairs frame (materialized)."""
        from incresql_spark.operators.relational import quantile_grouped_base
        from incresql_spark.operators.text import (
            CMS_D, CMS_W, cms_grouped_sketch, cms_grouped_tokens,
        )

        with tracer.statement("hll"):
            self.hll.add_batch(self._delta("lineitem"))
        with tracer.statement("cms"):
            docs = self._delta("documents")
            self.cms.add_batch_counters(
                cms_grouped_sketch(cms_grouped_tokens(docs), CMS_W, CMS_D))
        with tracer.statement("quantile"):
            self.quantile.add_batch(quantile_grouped_base(_as_orders(self._delta("events"))))
        with tracer.statement("minhash"):
            return self.minhash.add_batch(docs)

    def compact(self) -> None:
        """Merge each landing table and the minhash state into one segment.
        Runs right after ``maintain``, so every cursor sits at its table's
        last seq and no later delta reaches into the merged span."""
        for table in (*self.landing.values(), self.minhash.bands, self.minhash.shingles):
            table.compact()

    def read(self, pairs) -> None:
        """Read every maintained state back, keeping the wave's pairs."""
        for state in (self.hll.registers(), self.cms.sketch(), self.quantile.sample()):
            state.collect()
        self.pairs += [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]


def _as_orders(events):
    """Events in the column shape ``quantile_grouped_base`` reads: value
    quantiles per event type, keyed by event id."""
    return events.selectExpr("event_type AS o_orderpriority",
                             "value AS o_totalprice", "event_id AS o_orderkey")


def run(spark, tracer, work: str, seed: int, seconds: float,
        deadline: float) -> Outcome:
    inputs = Inputs(seed, work)
    clock = Clock()
    m = Maintainers(spark, os.path.join(work, "state"), inputs)
    m.land(0)
    m.read(m.maintain(NullTracer()))
    setup_s = clock.lap()

    phases = {"write": [], "fresh": [], "read": [], "cycle": []}
    attempted = failed = rows_changed = wave = 0
    tracer.start()
    loop = Clock()
    elapsed = 0.0
    while wave < inputs.waves and more_units(elapsed, wave, seconds, deadline):
        wave += 1
        attempted += 1
        try:
            clock = Clock()
            with tracer.statement("land"):
                m.land(wave)
            write = clock.lap()
            pairs = m.maintain(tracer)
            fresh = clock.lap()
            with tracer.statement("read_state"):
                m.read(pairs)
            read = clock.lap()
            if wave % COMPACT_EVERY == 0:
                with tracer.statement("compact_state"):
                    m.compact()
        except Exception as exc:  # noqa: BLE001 — a failed wave is counted
            failed += 1
            print(f"wave {wave} failed: {exc!r}", flush=True)
            elapsed += loop.lap()
            continue
        for name, v in zip(("write", "fresh", "read"), (write, fresh, read)):
            phases[name].append(v)
        phases["cycle"].append(write + fresh + read)
        rows_changed += sum(inputs.rows[n][wave] for n in SOURCES)
        elapsed += loop.lap()
    tracer.stop()

    segments = {n: len(t._segments()) for n, t in m.landing.items()}
    segments.update(bands=len(m.minhash.bands._segments()),
                    shingles=len(m.minhash.shingles._segments()))
    clock = Clock()
    correct = failed == 0 and _check(spark, m, wave)
    check_s = clock.lap()
    return Outcome(
        setup_s=setup_s, phases=phases, loop_s=elapsed,
        rows_changed=rows_changed, disk_bytes=dir_bytes(m.root),
        attempted=attempted, failed=failed, correct=correct,
        segments=segments,
        notes={"check_s": round(check_s, 3), "waves": wave, "sf": SF, "wave_rows": WAVE,
               "bootstrap_share": BOOTSTRAP, "compact_every": COMPACT_EVERY},
    )


def _check(spark, m: Maintainers, waves: int) -> bool:
    """Each maintained state against the batch operator over the union of
    every landed chunk."""
    from incresql_spark.operators.dedup import (
        doc_shingles_df, minhash_bands_long, verify_jaccard_pairs,
    )
    from incresql_spark.operators.relational import (
        hll_registers, hll_values, quantile_grouped_base, quantile_grouped_sample,
    )
    from incresql_spark.operators.text import (
        CMS_D, CMS_W, cms_grouped_sketch, cms_grouped_tokens,
    )
    from pyspark.sql import functions as F

    def union(name):
        return spark.read.parquet(*m.inputs.chunks[name][: waves + 1])

    docs = union("documents")
    docsh = doc_shingles_df(docs)
    bands = minhash_bands_long(docsh)
    candidates = (
        bands.select(F.col("doc_id").alias("doc_a"), "band_id", "bk")
        .join(bands.select(F.col("doc_id").alias("doc_b"), "band_id", "bk"),
              ["band_id", "bk"])
        .filter("doc_a < doc_b").select("doc_a", "doc_b").distinct()
    )
    batch_pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in verify_jaccard_pairs(candidates, docsh, docsh).collect()
    )
    checks = {
        "hll": (m.hll.registers(), hll_registers(hll_values(union("lineitem")))),
        "cms": (m.cms.sketch(),
                cms_grouped_sketch(cms_grouped_tokens(docs), CMS_W, CMS_D)),
        "quantile": (
            m.quantile.sample(),
            quantile_grouped_sample(
                quantile_grouped_base(_as_orders(union("events"))), m.quantile.k,
            ).dropDuplicates(["g", "h", "v"]),
        ),
    }
    ok = True
    for name, (got, want) in checks.items():
        cols = sorted(want.columns)
        g = sorted(tuple(r) for r in got.select(*cols).collect())
        w = sorted(tuple(r) for r in want.select(*cols).collect())
        if g != w:
            print(f"correctness: {name} state differs from the batch operator "
                  f"({len(g)} rows vs {len(w)})", flush=True)
            ok = False
    if sorted(m.pairs) != batch_pairs:
        print(f"correctness: minhash pairs differ from the batch operator "
              f"({len(m.pairs)} vs {len(batch_pairs)})", flush=True)
        ok = False
    return ok
