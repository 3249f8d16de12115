"""``curation``: closed-loop passes over pinned registry composites.

One client runs passes back to back. A pass runs one composite per heavy
operator module, each forced through Spark's ``noop`` sink:

========== ==================
layer      composite
========== ==================
dedup      ``dedup_eval``
similarity ``ann_ivfpq_topk``
joins      ``golden_records``
digest     ``table_diff``
graph      ``trade_pagerank``
========== ==================

Inputs are a seeded synthetic dataset with the schemas of the repo's test
data, written in set-up. One untimed warm pass collects every result for
the DuckDB oracle gate; timed passes count their rows through an
``Observation`` and must return as many rows as the warm pass.
"""

from __future__ import annotations

import importlib.util
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import gen

COMPOSITES = (
    ("dedup", "dedup_eval"),
    ("similarity", "ann_ivfpq_topk"),
    ("joins", "golden_records"),
    ("digest", "table_diff"),
    ("graph", "trade_pagerank"),
)
LAYER_FIELDS = ("wall_s", "driver_s", "jobs", "tasks", "shuffle_bytes")
TRACED_PASSES = 4  # passes of a traced run: traced, plain, plain, traced


@dataclass
class Pass:
    start: float
    phase: str  # "measure" or "scaling"
    traced: bool = False
    end: float = 0.0
    # (composite, offset_from_pass_start_s, rows or None)
    items: list = field(default_factory=list)


class Curation:
    def __init__(self, spark, work: Path, seed: int, tracer) -> None:
        import __spark_entry__ as entry

        self.spark, self.tr = spark, tracer
        self.data = work / "data"
        self.table_names = gen.write_curation_dataset(seed, self.data)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}
        self.passes: list[Pass] = []
        self.attempted = self.failed = 0

    def warm(self) -> None:
        """Untimed first pass: JIT and codegen warm-up, and the results
        the oracle gate checks."""
        for _, name in COMPOSITES:
            df = self.queries[name](self.spark, str(self.data))
            self.expected[name] = (list(df.columns),
                                   [tuple(r) for r in df.collect()])

    def run_pass(self, phase: str) -> Pass:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        tr = self.tr
        tr.cycle = len(self.passes)
        p = Pass(time.perf_counter(), phase, traced=tr.active)
        for layer, name in COMPOSITES:
            self.attempted += 1
            try:
                with tr.span(layer):
                    obs = Observation()
                    (self.queries[name](self.spark, str(self.data))
                     .observe(obs, F.count(F.lit(1)).alias("n"))
                     .write.format("noop").mode("overwrite").save())
                    n = int(obs.get["n"])
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                n = None
            p.items.append((name, time.perf_counter() - p.start, n))
        p.end = time.perf_counter()
        self.passes.append(p)
        print(f"perfbench: pass {len(self.passes) - 1} {phase} "
              f"{p.end - p.start:.3f}s "
              + " ".join(f"{n}={off:.2f}" for n, off, _ in p.items),
              file=sys.stderr, flush=True)
        return p

    def measure(self, seconds: float, traced: bool = False) -> None:
        """Passes back to back: at least one, and another only while the
        last pass's duration still fits in ``seconds``. With ``traced``,
        exactly ``TRACED_PASSES`` passes, the first and last with spans
        on, so a drift over the run (JIT warm-up) cancels between the
        traced and untraced pairs."""
        t0, n, last = time.perf_counter(), 0, 0.0
        while (n < TRACED_PASSES if traced else
               n == 0 or time.perf_counter() - t0 + last <= seconds):
            self.tr.active = traced and n in (0, TRACED_PASSES - 1)
            p = self.run_pass("measure")
            last = p.end - p.start
            n += 1
        self.tr.active = False

    def phase(self, name: str) -> list[Pass]:
        return [p for p in self.passes if p.phase == name]

    @staticmethod
    def samples(passes: list[Pass]) -> dict[str, list[float]]:
        """Per composite: ``visible`` = pass start to its result,
        ``synced`` = pass start to the pass's last result."""
        vis, syn = [], []
        for p in passes:
            ok = [off for _, off, n in p.items if n is not None]
            vis += ok
            syn += [p.end - p.start] * len(ok)
        return {"visible": vis, "synced": syn}

    def gates(self) -> list[str]:
        """Warm-pass results == their DuckDB ``oracle_sql()`` twins, with
        the comparison of ``tools/check_oracle.py``; every timed pass
        returned as many rows as the warm pass."""
        import duckdb

        check = _check_oracle_module()
        errs: list[str] = []
        con = duckdb.connect()
        try:
            for t in self.table_names:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data / t}.parquet'")
            for _, name in COMPOSITES:
                cols, rows = self.expected[name]
                cur = con.execute(self.oracles[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                if sorted(cols) != sorted(ocols):
                    errs.append(f"{name}: columns {sorted(cols)} != oracle "
                                f"{sorted(ocols)}")
                elif len(rows) != len(orows):
                    errs.append(f"{name}: {len(rows)} rows, oracle "
                                f"{len(orows)}")
                elif check.canon(rows, cols) != check.canon(orows, ocols):
                    errs.append(f"{name}: values differ from the oracle")
        finally:
            con.close()
        for p in self.passes:
            for name, _, n in p.items:
                if n is not None and n != len(self.expected[name][1]):
                    errs.append(f"{name}: a timed pass returned {n} rows, "
                                f"the warm pass {len(self.expected[name][1])}")
        return errs


def _check_oracle_module():
    path = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(spark, work, args, t_start: float) -> dict:
    """Set up, measure and check one curation run (see ``perfbench/run.py``)."""
    from perfbench.common import (
        gc_seconds, latency_metrics, overhead, peak_rss_mb, restart_spark)
    from perfbench.trace import NullTracer, Tracer, layer_table

    tracer = Tracer(spark) if args.trace else NullTracer()
    w = Curation(spark, work, args.seed, tracer)
    w.warm()
    values = {"setup_s": time.perf_counter() - t_start}
    if not args.trace:
        w.measure(args.seconds)
        values.update(latency_metrics(w.samples(w.phase("measure"))))
    else:
        gc0 = gc_seconds(spark)
        w.measure(args.seconds, traced=True)
        values["spark.peak_rss_mb"] = peak_rss_mb(spark)
        measured = w.phase("measure")
        traced = [p for p in measured if p.traced]
        plain = [p for p in measured if not p.traced]
        lt = layer_table(tracer, [w.passes.index(p) for p in traced])
        values.update({f"{layer}.{m}": lt.get(layer, {}).get(m, 0)
                       for layer, _ in COMPOSITES for m in LAYER_FIELDS})
        values["spark.gc_s"] = (gc_seconds(spark) - gc0) / len(measured)
        values["spark.space_amp"] = 0.0  # no managed state outlives a pass
        # passes are closed, so their samples are already own times
        values.update(overhead(w.samples(traced), w.samples(plain)))
        # single-threaded baseline: one pass at 1 core
        wide = statistics.median(p.end - p.start for p in plain or measured)
        spark = restart_spark(spark, 1, work)
        w.spark = spark
        narrow = w.run_pass("scaling")
        values["spark.core_scaling"] = (narrow.end - narrow.start) / wide
        tracer.close()
    errors = w.gates()
    return {"spark": spark, "values": values, "errors": errors,
            "attempted": w.attempted, "failed": w.failed, "tracer": tracer}
