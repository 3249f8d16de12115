"""``trickle``: an open loop of webhook envelopes against a preloaded table.

Envelopes arrive on a virtual schedule (``rate`` per second). Each cycle
takes every envelope due so far and runs the whole chain:

1. ``IngestPipeline.process_batch`` (audit log on; routes 80/20 to two
   integrations, each a keyed MERGE),
2. ``IncrementalAggMaintainer.run`` (IVM matview),
3. ``Scd2Maintainer.run`` (SCD2 history),
4. ``DatabaseSyncTarget.run_sync_changes(trim=True)`` (replica),
5. a fixed number of closed-loop user reads: a ``run_readonly_sql``
   aggregate over the table view, ``read_for_keys`` on keys the cycle
   just wrote, and ``read_where_range`` over the cycle's ``ts_us`` span.

Latencies are timed from each envelope's due time, so a slow cycle
charges its delay to every envelope that waited behind it.
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.trace import dir_files

ORG_A, ORG_B = "org_a", "org_b"
OPAQUE = ("svi_trickle_a", "svi_trickle_b")
N_BUCKETS = 16
COLS = ["user_id", "event_type", "ts_us", "value_cents"]
RULES = [
    ("not_null", "event_type"),
    ("not_null", "value_cents"),
    ("in_set", "event_type", list(gen.EVENT_TYPES)),
    ("between", "value_cents", 1, gen.MAX_CENTS),
]
AGG_SQL = ("SELECT event_type, count(*) AS n, sum(value_cents) AS total "
           "FROM perfbench_events GROUP BY event_type")
READ_KINDS = ("sql", "keys", "range")
SYNC_NOW = "2026-01-02 00:00:00"
STREAM = gen.StreamParams(
    rate=200.0, n_keys=20_000, n_keys_b=5_000, share_b=0.2,
    zipf_s=1.1, redelivery=0.03, out_of_order=0.05, max_lag_s=60.0,
)
PRELOAD_VIOLATIONS = 0.2  # share of the bulk load that breaks the contract
# The first warm cycle is cold (JIT, codegen, first reads of the table,
# the consumers' first fold of the bulk load); the second carries what
# came due during the first and is warm. The first measured cycle so
# waits only behind a warm cycle.
WARM_CYCLES = 2
WARM_BACKLOG_S = 1.0  # the schedule starts this long before the loop
TRACED_CYCLES = 4  # measured cycles of a traced run: traced, plain, plain, traced
# Percentiles pool the samples of every measured cycle. On a shared host
# CPU speed can drift by tens of percent over tens of seconds, so one
# cycle is too few; four keep a run near a minute.
MIN_MEASURED = 4
SCALING_BATCH = 1000  # envelopes of each closed core-scaling cycle
READS_PER_CYCLE = 3
KEYS_PER_READ = 8


def make_spec():
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.types import ColumnType

    return ReplicatorSpec(
        name="perfbench_events_v1",
        table="perfbench_events_v1",
        remote_key=Col("user_id", ColumnType.BIGINT),
        denorm_cols=(
            Col("event_type", ColumnType.TEXT),
            Col("ts_us", ColumnType.BIGINT),
            Col("value_cents", ColumnType.BIGINT),
        ),
        timestamp_col="ts_us",
        update_where=lambda s, t: s("ts_us") > t("ts_us"),
        n_buckets=N_BUCKETS,
    )


@dataclass
class Cycle:
    lo: int
    hi: int
    phase: str  # "warm", "measure" or "scaling"
    start: float = 0.0
    visible: float = 0.0
    synced: float = 0.0
    traced: bool = False
    ok: bool = True
    reads: list = field(default_factory=list)  # (kind, arg, rows)


class Trickle:
    def __init__(self, spark, work, seed: int, tracer):
        self.work, self.seed = work, seed
        self.tr = tracer
        self.spec = make_spec()
        self.stream = gen.EnvelopeStream(seed, STREAM)
        self.paths = {
            "audit": work / "audit", "quarantine": work / "quarantine",
            "ivm": work / "ivm", "scd2": work / "scd2",
            "replica": work / "replica", "sync_state": work / "sync_state.json",
        }
        self.preload = gen.preload(seed, STREAM.n_keys, PRELOAD_VIOLATIONS,
                                   STREAM.base_us)
        self.cycles: list[Cycle] = []
        self.attempted = self.failed = 0
        self.next_idx = 0
        self.due0 = 0.0
        self.bind(spark)

    def bind(self, spark) -> None:
        """(Re)create the package objects on ``spark``; all state lives on
        disk under ``work``, so a new session picks up where the old left."""
        from webhookdb_spark.operators.history import Scd2Maintainer
        from webhookdb_spark.operators.matview import IncrementalAggMaintainer
        from webhookdb_spark.operators.upsert import upsert_envelopes
        from webhookdb_spark.sinks.sync_target import DatabaseSyncTarget, SyncState
        from webhookdb_spark.storage import Warehouse
        from webhookdb_spark.streaming.ingest import IngestPipeline, IntegrationRuntime

        self.spark = spark
        self.wh = Warehouse(spark, self.work / "wh")
        self.tables = (self.wh.table(ORG_A, self.spec.table),
                       self.wh.table(ORG_B, self.spec.table))
        self.ivm = IncrementalAggMaintainer(
            spark, str(self.paths["ivm"]), "user_id", "event_type", "value_cents")
        self.scd2 = Scd2Maintainer(
            spark, str(self.paths["scd2"]), "user_id",
            ("event_type", "value_cents"), "ts_us")
        self.sync = DatabaseSyncTarget(
            state=SyncState(self.paths["sync_state"]), ts_col="ts_us",
            key_col="user_id", dest_path=self.paths["replica"])
        self.pipeline = IngestPipeline(
            warehouse=self.wh, audit_table_path=str(self.paths["audit"]),
            _merge_fn=self.tr.wrap_merge(upsert_envelopes))
        for opaque, org in zip(OPAQUE, (ORG_A, ORG_B)):
            self.pipeline.register(
                IntegrationRuntime(opaque_id=opaque, org=org, spec=self.spec))

    # -- set-up --------------------------------------------------------------
    def load(self) -> None:
        """Bulk-load table A through the landing contract. Table B starts
        empty. The IVM, SCD2 and sync consumers fold the load in the first
        warm cycle."""
        from webhookdb_spark.operators.upsert import upsert_envelopes_with_contract

        a = self.tables[0]
        # Table A tracks ts_us zone maps, so range reads can prune buckets.
        a.create(self.spec.schema(), key="user_id", n_buckets=N_BUCKETS,
                 zonemap_cols=("ts_us",))
        env = self.spark.createDataFrame(_preload_frame(self.preload))
        upsert_envelopes_with_contract(
            a, env, self.spec, RULES, str(self.paths["quarantine"]),
            buckets=list(range(N_BUCKETS)))

    def closed_cycle(self) -> float:
        """One closed-loop cycle of ``SCALING_BATCH`` envelopes, without
        reads; returns envelopes per second through the whole chain."""
        c = self.run_cycle(self.next_idx + SCALING_BATCH, "scaling")
        return SCALING_BATCH / (c.synced - c.start)

    # -- the loop --------------------------------------------------------------
    def open_loop(self, seconds: float, traced: bool = False) -> float:
        """Run the open loop. Envelope ``i`` is due at ``due0 + i / rate``;
        each cycle takes everything due so far. The schedule starts
        ``WARM_BACKLOG_S`` before the loop, so the first of the
        ``WARM_CYCLES`` warm-up cycles already carries a batch. Cycles
        that start within ``seconds`` after the warm-up ends are
        measured, and at least ``MIN_MEASURED``. With ``traced``, exactly
        ``TRACED_CYCLES`` cycles are measured and the first and last run
        with spans on, so a drift over the run cancels between the traced
        and untraced pairs. Returns when the measured phase began."""
        rate = STREAM.rate
        first = self.next_idx
        t0 = time.perf_counter() - WARM_BACKLOG_S
        self.due0 = t0 - first / rate
        n, t_meas = 0, None
        while True:
            now = time.perf_counter()
            k = n - WARM_CYCLES
            if (k >= TRACED_CYCLES if traced else
                    k >= MIN_MEASURED and now - t_meas >= seconds):
                break
            hi = first + int((now - t0) * rate) + 1
            if hi <= self.next_idx:
                time.sleep(self.due0 + self.next_idx / rate - now + 1e-4)
                continue
            if k == 0:
                t_meas = now
            self.tr.active = traced and k in (0, TRACED_CYCLES - 1)
            self.run_cycle(hi, "measure" if k >= 0 else "warm")
            n += 1
        self.tr.active = False
        return t_meas

    def run_cycle(self, hi: int, phase: str) -> Cycle:
        """One pass of the chain over envelopes ``[next_idx, hi)``; the
        scaling baseline runs it without the user reads."""
        lo, tr = self.next_idx, self.tr
        cyc = Cycle(lo, hi, phase, start=time.perf_counter(), traced=tr.active)
        self.next_idx = hi
        tr.cycle = len(self.cycles)
        self.attempted += 1
        try:
            env = self.spark.createDataFrame(self._frame(lo, hi))
            with tr.span("ingest", dirs=[str(self.paths["audit"])]) as c:
                self.pipeline.process_batch(env)
                c["rows_in"] = hi - lo
                # everything due at cycle start and not yet taken
                c["backlog_events"] = hi - lo
            cyc.visible = time.perf_counter()
            self._maintain()
            cyc.synced = time.perf_counter()
        except Exception:
            cyc.ok = False
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        if phase != "scaling":
            cyc.reads = self._reads(self.tables[0], cyc, tr)
        self.cycles.append(cyc)
        print(f"perfbench: cycle {len(self.cycles) - 1} {phase} "
              f"[{lo},{hi}) visible {cyc.visible - cyc.start:.3f}s "
              f"synced {cyc.synced - cyc.start:.3f}s "
              f"end {time.perf_counter() - cyc.start:.3f}s",
              file=sys.stderr, flush=True)
        return cyc

    def _maintain(self) -> None:
        tr = self.tr
        a = self.tables[0]
        p = self.paths
        with tr.span("matview", dirs=[str(p["ivm"])]):
            self.ivm.run(a)
        with tr.span("history", dirs=[str(p["scd2"])]):
            self.scd2.run(a)
        with tr.span("sync", dirs=[str(p["replica"])]) as c:
            # `now` only stamps the target's stats window
            c["rows"] = self.sync.run_sync_changes(a, now=SYNC_NOW, trim=True)

    def _reads(self, a, cyc: Cycle, tr) -> list:
        from webhookdb_spark.functions.converters import str2inthash_py
        from webhookdb_spark.plans.query_surface import run_readonly_sql

        env = self.stream.batch(cyc.lo, cyc.hi)
        keys_a = env.key[env.integ == 0]
        p = STREAM
        lo_ts = p.base_us + int(cyc.lo / p.rate * 1e6)
        hi_ts = p.base_us + int((cyc.hi - 1) / p.rate * 1e6)
        out = []
        for r in range(READS_PER_CYCLE):
            kind = READ_KINDS[r % len(READ_KINDS)]
            self.attempted += 1
            try:
                if kind == "sql":
                    with tr.span("query"):
                        a.read().createOrReplaceTempView("perfbench_events")
                        res = run_readonly_sql(self.spark, AGG_SQL)
                    arg, rows = None, [tuple(x) for x in res.rows]
                elif kind == "keys":
                    u = gen.uniform(self.seed, 200 + r,
                                    np.arange(KEYS_PER_READ) + cyc.lo)
                    arg = sorted({int(keys_a[int(x * len(keys_a))]) for x in u}) \
                        if len(keys_a) else [0]
                    with tr.span("lookup") as c:
                        rows = [tuple(x) for x in
                                a.read_for_keys(arg).select(*COLS).collect()]
                        c["buckets_opened"] = len(
                            {str2inthash_py(str(k)) % N_BUCKETS for k in arg})
                        c["buckets"] = N_BUCKETS
                else:
                    arg = (lo_ts, hi_ts)
                    with tr.span("lookup") as c:
                        rows = [tuple(x) for x in
                                a.read_where_range("ts_us", lo_ts, hi_ts)
                                .select(*COLS).collect()]
                        cand = a.zonemap_candidates("ts_us", lo_ts, hi_ts)
                        c["buckets_opened"] = N_BUCKETS if cand is None else len(cand)
                        c["buckets"] = N_BUCKETS
                out.append((kind, arg, rows))
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
        return out

    def _frame(self, lo: int, hi: int) -> pd.DataFrame:
        e = self.stream.batch(lo, hi)
        p = STREAM
        recv = pd.to_datetime(
            p.base_us + (e.idx / p.rate * 1e6).astype(np.int64), unit="us", utc=True)
        bodies = [gen.body_json(k, gen.EVENT_TYPES[t], ts, c)
                  for k, t, ts, c in zip(e.key, e.etype, e.ts_us, e.cents)]
        opaque = np.array(OPAQUE)[e.integ]
        return pd.DataFrame({
            "integration_opaque_id": opaque,
            "service_name": "perfbench_events_v1",
            "request_method": "POST",
            "request_path": [f"/v1/service_integrations/{o}" for o in opaque],
            "body": bodies,
            "received_at": recv,
            "_seq": e.idx,
        })

    # -- correctness -----------------------------------------------------------
    def gates(self) -> list[str]:
        """Untimed checks against a model replayed from the generated
        envelopes; returns the failures (empty = correct)."""
        errs: list[str] = []
        models = [_Model(STREAM.n_keys, self.preload), _Model(STREAM.n_keys_b)]
        for cyc in self.cycles:
            _apply(models, self.stream.batch(cyc.lo, cyc.hi))
            for kind, arg, rows in cyc.reads:
                want = models[0].expect(kind, arg)
                if sorted(rows, key=repr) != sorted(want, key=repr):
                    errs.append(f"read {kind}{arg if kind != 'range' else ''} "
                                f"after cycle [{cyc.lo},{cyc.hi}) differs: "
                                f"{len(rows)} rows vs {len(want)} expected")
                    break
        tabs = [t.read().select(*COLS).toPandas() for t in self.tables]
        for name, m, df in zip(("table A", "table B"), models, tabs):
            errs += _frame_diff(name, m.frame(), df)
        a = tabs[0]
        want_agg = {r.event_type: (int(r.n), int(r.total)) for r in a.groupby(
            "event_type").agg(n=("user_id", "size"),
                              total=("value_cents", "sum")).reset_index().itertuples()}
        agg = self.ivm.aggregate()
        got_agg = {r["group"]: (int(r["n_keys"]), int(r["total"]))
                   for r in (agg.collect() if agg is not None else [])}
        if got_agg != want_agg:
            errs.append(f"IVM aggregate {got_agg} != groupBy(table) {want_agg}")
        rep = self.spark.read.parquet(str(self.paths["replica"])).select(*COLS).toPandas()
        errs += _frame_diff("sync replica", a, rep)
        hist = self.scd2.history().where("is_current").select(
            "user_id", "event_type", "value_cents").toPandas()
        errs += _frame_diff("SCD2 current version",
                            a[["user_id", "event_type", "value_cents"]], hist)
        want_q = int(self.preload.bad.sum())
        got_q = self.spark.read.parquet(str(self.paths["quarantine"])).count()
        if got_q != want_q:
            errs.append(f"quarantine holds {got_q} rows, expected {want_q}")
        got_audit = self.spark.read.parquet(str(self.paths["audit"])).count()
        if got_audit != self.next_idx:
            errs.append(f"audit log holds {got_audit} deliveries, "
                        f"expected {self.next_idx}")
        return errs

    # -- metrics ---------------------------------------------------------------
    def phase(self, name: str) -> list[Cycle]:
        return [c for c in self.cycles if c.phase == name]

    def samples(self, cycles: list[Cycle]) -> dict[str, list[float]]:
        """Per envelope: its due time to the cycle's ``process_batch``
        return (``visible``) and to its sync return (``synced``)."""
        rate = STREAM.rate
        vis, syn = [], []
        for c in cycles:
            if c.ok:
                due = self.due0 + np.arange(c.lo, c.hi) / rate
                vis.append(c.visible - due)
                syn.append(c.synced - due)
        cat = (lambda xs: list(np.concatenate(xs)) if xs else [])
        return {"visible": cat(vis), "synced": cat(syn)}

    @staticmethod
    def own(cycles: list[Cycle]) -> dict[str, list[float]]:
        """Per cycle, its own time from cycle start to ``visible`` and to
        ``synced``: the part of a latency that does not carry the wait
        behind the cycle before."""
        ok = [c for c in cycles if c.ok]
        return {"visible": [c.visible - c.start for c in ok],
                "synced": [c.synced - c.start for c in ok]}

    def state_bytes(self) -> tuple[int, int]:
        """(bytes on disk of all table-derived state, live bytes of the
        current snapshots of both tables)."""
        roots = [str(t.path) for t in self.tables] + [
            str(self.paths[k]) for k in ("ivm", "scd2", "replica")]
        total = sum(dir_files(roots).values())
        live = 0
        for t in self.tables:
            for rel in t.manifest.buckets.values():
                live += sum(dir_files([str(t.path / rel)]).values())
        return total, live


def _preload_frame(pre: gen.Preload) -> pd.DataFrame:
    bodies = [gen.body_json(k, t, ts, c)
              for k, t, ts, c in zip(pre.key, pre.etype, pre.ts_us, pre.cents)]
    return pd.DataFrame({
        "opaque_id": pre.key.astype(str),
        "body": bodies,
        "received_at": pd.to_datetime(pre.ts_us, unit="us", utc=True),
        "_seq": pre.key,
    })


class _Model:
    """Expected table state: per key, the MERGE contract of the package —
    within a batch the last-arriving envelope per key wins, and it
    replaces the stored row only if its ``ts_us`` is newer."""

    def __init__(self, n_keys: int, pre: gen.Preload | None = None) -> None:
        self.present = np.zeros(n_keys, dtype=bool)
        self.ts = np.zeros(n_keys, dtype=np.int64)
        self.etype = np.full(n_keys, -1, dtype=np.int64)
        self.cents = np.zeros(n_keys, dtype=np.int64)
        if pre is not None:
            ok = ~pre.bad
            self.present[:] = ok
            self.ts[ok] = pre.ts_us[ok]
            # EVENT_TYPES is sorted, so searchsorted maps names to indices
            self.etype[ok] = np.searchsorted(gen.EVENT_TYPES,
                                             pre.etype[ok].astype(str))
            self.cents[ok] = pre.cents[ok]

    def apply(self, key, ts, etype, cents) -> None:
        # last arrival per key: reverse, take first occurrence
        rk = key[::-1]
        _, first = np.unique(rk, return_index=True)
        sel = len(key) - 1 - first
        k, t = key[sel], ts[sel]
        win = ~self.present[k] | (t > self.ts[k])
        k = k[win]
        self.present[k] = True
        self.ts[k] = t[win]
        self.etype[k] = etype[sel][win]
        self.cents[k] = cents[sel][win]

    def frame(self) -> pd.DataFrame:
        k = np.nonzero(self.present)[0]
        return pd.DataFrame({
            "user_id": k.astype(np.int64),
            "event_type": gen.EVENT_TYPES[self.etype[k]],
            "ts_us": self.ts[k], "value_cents": self.cents[k],
        })

    def rows(self, k: np.ndarray) -> list[tuple]:
        return [(int(x), str(gen.EVENT_TYPES[self.etype[x]]), int(self.ts[x]),
                 int(self.cents[x])) for x in k]

    def expect(self, kind: str, arg) -> list[tuple]:
        if kind == "keys":
            k = np.array(arg, dtype=np.int64)
            return self.rows(k[self.present[k]])
        if kind == "range":
            lo, hi = arg
            return self.rows(np.nonzero(
                self.present & (self.ts >= lo) & (self.ts <= hi))[0])
        k = np.nonzero(self.present)[0]
        out = []
        for i, name in enumerate(gen.EVENT_TYPES):
            sel = k[self.etype[k] == i]
            if len(sel):
                out.append((str(name), len(sel), int(self.cents[sel].sum())))
        return out


def _apply(models, env: gen.Envelopes) -> None:
    for i, m in enumerate(models):
        s = env.integ == i
        m.apply(env.key[s], env.ts_us[s], env.etype[s], env.cents[s])


def _frame_diff(name: str, want: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    cols = list(want.columns)
    w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
    if len(w) != len(g):
        return [f"{name}: {len(g)} rows, expected {len(w)}"]
    bad = (w != g).any(axis=1)
    if bad.any():
        i = int(np.nonzero(bad.to_numpy())[0][0])
        return [f"{name}: {int(bad.sum())} rows differ, first "
                f"{g.iloc[i].to_dict()} vs expected {w.iloc[i].to_dict()}"]
    return []


# Per-layer metrics of the trickle chain; curation layers stay 0 here.
TRICKLE_LAYERS = {
    "ingest": ("wall_s", "jobs", "bytes_written", "backlog_events"),
    "upsert": ("wall_s", "driver_s", "jobs", "tasks", "py4j_calls",
               "rows_changed", "buckets_touched", "bytes_written"),
    "matview": ("wall_s", "driver_s", "jobs", "tasks", "bytes_written"),
    "history": ("wall_s", "driver_s", "jobs", "tasks", "bytes_written"),
    "sync": ("wall_s", "driver_s", "jobs", "rows", "bytes_written"),
    "query": ("wall_s", "driver_s", "jobs"),
    "lookup": ("wall_s", "jobs"),
}


def layer_metrics(lt: dict) -> dict[str, float]:
    out = {f"{layer}.{m}": lt.get(layer, {}).get(m, 0)
           for layer, ms in TRICKLE_LAYERS.items() for m in ms}
    out["upsert.rows_in"] = lt.get("ingest", {}).get("rows_in", 0)
    changed = out["upsert.rows_changed"]
    out["upsert.write_amp"] = out["upsert.bytes_written"] / changed if changed else 0
    lk = lt.get("lookup", {})
    out["lookup.bucket_share"] = (lk["buckets_opened"] / lk["buckets"]
                                  if lk.get("buckets") else 0)
    return out


def run(spark, work, args, t_start: float) -> dict:
    """Set up, measure and check one trickle run (see ``perfbench/run.py``)."""
    from perfbench.common import (
        cpu_count, gc_seconds, latency_metrics, overhead, peak_rss_mb,
        restart_spark)
    from perfbench.trace import NullTracer, Tracer, layer_table

    tracer = Tracer(spark) if args.trace else NullTracer()
    w = Trickle(spark, work, args.seed, tracer)
    w.load()
    if not args.trace:
        t_meas = w.open_loop(args.seconds)
        values = {"setup_s": t_meas - t_start,
                  **latency_metrics(w.samples(w.phase("measure")))}
    else:
        gc0 = gc_seconds(spark)
        w.open_loop(args.seconds, traced=True)
        rss = peak_rss_mb(spark)
        measured = w.phase("measure")
        traced = [c for c in measured if c.traced]
        values = layer_metrics(layer_table(
            tracer, [w.cycles.index(c) for c in traced]))
        values["spark.gc_s"] = (gc_seconds(spark) - gc0) / len(w.cycles)
        values["spark.peak_rss_mb"] = rss
        total, live = w.state_bytes()
        values["spark.space_amp"] = total / live
        values.update(overhead(
            w.own(traced), w.own([c for c in measured if not c.traced])))
        # single-threaded baseline: one closed-loop cycle of the chain at N
        # cores and one at 1 core, each the first in a fresh session; the
        # gates then run on the 1-core session
        tracer.close()
        rates = []
        for cpus in (cpu_count(), 1):
            spark = restart_spark(spark, cpus, work)
            w.bind(spark)
            rates.append(w.closed_cycle())
        values["spark.core_scaling"] = rates[0] / rates[1]
    errors = w.gates()
    return {"spark": spark, "values": values, "errors": errors,
            "attempted": w.attempted, "failed": w.failed, "tracer": tracer}
