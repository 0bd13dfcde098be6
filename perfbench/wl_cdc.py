"""cdc_replicate — the CDC write path plus reads of the same state.

``events`` is cut into time-ordered waves by ``ts``; each wave lands as
a new parquet file in the source directory, then one
``Engine.run_cycle`` runs with ``now`` injected so the cycle captures
exactly that wave (controller DEFAULT case: hi = now − buffer = the
wave's last ts). ``materialize_current_state=True`` folds every capture
into the manifest-committed current-state table. The capture stamp is
injected too (``snapshot_at=now``), the engine's deterministic replay
mode. After each cycle the
consumer reads both ``Engine.current_state_table`` and
``Engine.current_state`` (the view) through a full-row, order-
insensitive hash, so column pruning cannot skip work. Every
``MAINTAIN_EVERY`` cycles ``Engine.maintain_state`` runs between
cycles, timed on its own.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

import pyarrow.parquet as pq

import gen
from harness import median, tail

TABLE = "events"
BUFFER_SECS = 180
MAINTAIN_EVERY = 4
WARMUP_CYCLES = 4

SIZES = {
    # 1,500 keys × ~67 versions over 30 days, ~1 day (~3.3k rows) per wave
    "full": {"rows": 100_000, "users": 1_500, "wave_hours": 24.0},
    "tiny": {"rows": 2_000, "users": 15, "wave_hours": 24.0},
}


def state_hash(df):
    """(rows, wrapping sum of xxhash64 over every column in name order)."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    r = df.select(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def dir_rows_bytes(path: str) -> tuple[int, int]:
    rows = size = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dp, f)
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
    return rows, size


class CdcReplicate:
    name = "cdc_replicate"
    # a floor of four cycles, so a run on a slow host still reports a
    # median of several samples
    min_steps = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.scale]
        self.cycle_s, self.state_s, self.view_s, self.maint_s = [], [], [], []
        self.warm_s = []
        self.captured = []
        self.fold_bytes, self.changed_keys = 0, 0

    # ------------------------------------------------------------ set-up
    def setup(self, rep_dir: str) -> None:
        from leftshove_spark.engine import Engine
        from leftshove_spark.session import EngineConfig

        rng = self.ctx.rng("cdc")
        self.events = gen.events_table(rng, self.size["rows"], self.size["users"])
        self.waves = gen.wave_cuts(rng, self.events, self.size["wave_hours"], jitter=0.02)
        self.src = os.path.join(rep_dir, "source")
        os.makedirs(self.src)
        self.next_wave = 0
        self._land()
        cfg = EngineConfig(materialize_current_state=True, warehouse_dir=os.path.join(rep_dir, "wh"))
        self.engine = Engine(
            self.ctx.spark, cfg,
            state_path=os.path.join(rep_dir, "state.json"),
            sink_root=os.path.join(rep_dir, "sink"),
        )
        self.engine.seed([{"name": TABLE, "path": self.src, "nms_column": "ts", "pkey_column": "user_id"}])
        self.engine.create_sinks()
        self.sink = self.engine.sink_path(self.engine.state.get(TABLE, "0"))
        self.state_dir = self.engine.current_state_path(self.engine.state.get(TABLE, "0"))
        self.sink_rows = 0
        self.landed_rows = 0
        self.prev_files: set[str] = set()
        self.live_users: set[int] = set()
        self.pending = True  # wave 0 landed, not yet captured
        self.cycles = 0

    def _land(self) -> None:
        """Write the next wave file (pyarrow, untimed)."""
        end_ts, lo, hi = self.waves[self.next_wave]
        part = self.events.slice(lo, hi - lo)
        gen.write_parquet(part, os.path.join(self.src, f"wave-{self.next_wave:05d}.parquet"))
        self.wave_end, self.wave_rows = end_ts, hi - lo
        self.wave_users = set(part.column("user_id").to_numpy().tolist())
        self.next_wave += 1

    # -------------------------------------------------------------- loop
    def _cycle(self, timed: bool) -> bool:
        ctx = self.ctx
        if not self.pending:
            if self.next_wave >= len(self.waves):
                return False
            self._land()
        self.pending = False
        self.landed_rows += self.wave_rows
        self.live_users |= self.wave_users
        now = self.wave_end + timedelta(seconds=BUFFER_SECS)
        with ctx.op("cdc.cycle") as op:
            t0 = time.perf_counter()
            with ctx.tracer.span("bench.cycle"):
                res = self.engine.run_cycle(now=now, snapshot_at=now)
            dt = time.perf_counter() - t0
            rows, _ = dir_rows_bytes(self.sink)
            got = rows - self.sink_rows
            self.sink_rows = rows
            op.check(res.get(TABLE) is not None, f"cycle failed: {res}")
            op.check(got == self.wave_rows, f"captured {got} rows, wave landed {self.wave_rows}")
        self._account_fold()
        if not timed:
            self.warm_s.append(dt)
        else:
            self.cycle_s.append(dt)
            self.captured.append(got)
            self._read()
        self.cycles += 1
        if self.cycles % MAINTAIN_EVERY == 0:
            with ctx.op("cdc.maintain"):
                t0 = time.perf_counter()
                with ctx.tracer.span("bench.maintain"):
                    self.engine.maintain_state(TABLE)
                dm = time.perf_counter() - t0
            self.prev_files = self._live_files()
            if timed:
                self.maint_s.append(dm)
        return True

    def _read(self) -> None:
        """The consumer reads the table and the view; they must agree."""
        ctx = self.ctx
        with ctx.op("cdc.state_read"):
            t0 = time.perf_counter()
            with ctx.tracer.span("bench.state_read"):
                hs = state_hash(self.engine.current_state_table(TABLE))
            ds = time.perf_counter() - t0
        with ctx.op("cdc.view_read") as op:
            t0 = time.perf_counter()
            with ctx.tracer.span("bench.view_read"):
                hv = state_hash(self.engine.current_state(TABLE))
            dv = time.perf_counter() - t0
            op.check(hs == hv, f"materialized table {hs} != view {hv}")
            op.check(hv[0] == len(self.live_users), f"view rows {hv[0]} != live keys {len(self.live_users)}")
        self.state_s.append(ds)
        self.view_s.append(dv)

    def _live_files(self) -> set[str]:
        from leftshove_spark import statestore

        m = statestore.load_manifest(self.state_dir) or {"files": {}}
        return {rel for rels in m["files"].values() for rel in rels}

    def _account_fold(self) -> None:
        files = self._live_files()
        new = files - self.prev_files
        data = os.path.join(self.state_dir, "data")
        self.fold_bytes += sum(os.path.getsize(os.path.join(data, r)) for r in new)
        self.changed_keys += len(self.wave_users)
        self.prev_files = files

    def warmup(self) -> None:
        for _ in range(WARMUP_CYCLES):
            self._cycle(timed=False)

    def step(self) -> bool:
        return self._cycle(timed=True)

    def finish(self) -> None:
        with self.ctx.op("cdc.final_check") as op:
            op.check(self.sink_rows == self.landed_rows, f"sink rows {self.sink_rows} != landed {self.landed_rows}")

    # ----------------------------------------------------------- metrics
    def _rates(self):
        return [r / t for r, t in zip(self.captured, self.cycle_s) if t > 0]

    def e2e(self) -> dict:
        return {
            "step_latency_s": median(self.cycle_s),
            "rows_per_s": median(self._rates()),
        }

    def detail(self) -> dict:
        p, v = tail(self.cycle_s)
        return {
            "cdc_cycle_p50_s": median(self.cycle_s),
            "cdc_cycle_tail_s": {"value": v, "percentile": p, "samples": len(self.cycle_s)},
            "cdc_rows_per_s": median(self._rates()),
            "state_read_p50_s": median(self.state_s),
            "view_read_p50_s": median(self.view_s),
            "maintain_p50_s": median(self.maint_s),
            "cycle_samples_s": self.cycle_s,
            "warmup_cycle_samples_s": self.warm_s,
            "rows_per_wave_p50": median(self.captured),
            "keys": self.size["users"],
            "versions_per_key": self.size["rows"] / self.size["users"],
        }

    def space(self) -> dict:
        live = self._live_files()
        data = os.path.join(self.state_dir, "data")
        live_bytes = sum(os.path.getsize(os.path.join(data, r)) for r in live)
        live_rows = sum(pq.read_metadata(os.path.join(data, r)).num_rows for r in live)
        sink_rows, sink_bytes = dir_rows_bytes(self.sink)
        return {
            "statestore.live_files": len(live),
            "statestore.bytes_per_live_row": live_bytes / live_rows if live_rows else 0.0,
            "statestore.bytes_written_per_changed_key": self.fold_bytes / self.changed_keys if self.changed_keys else 0.0,
            "sinks.bytes_per_row": sink_bytes / sink_rows if sink_rows else 0.0,
        }

    # ------------------------------------------------------------ tracing
    def wrap(self, tr) -> None:
        from leftshove_spark import engine, state, statestore, streaming

        self.cases: dict[str, int] = {}

        def count_case(sp, decision):
            self.cases[decision.case.value] = self.cases.get(decision.case.value, 0) + 1

        tr.wrap(engine, "read_parquet_normalized", "sources.read_parquet_normalized")
        tr.wrap(engine, "next_window", "controller.next_window", on_result=count_case)
        tr.wrap(engine, "build_capture", "snapshot.build_capture")
        tr.wrap(engine, "append_snapshot", "sinks.append_snapshot")
        tr.wrap(engine.Engine, "capture_table", "engine.capture_table")
        tr.wrap(engine.Engine, "refresh_view", "engine.refresh_view")
        tr.wrap(streaming, "maintain_current_state", "streaming.maintain_current_state")
        tr.wrap(statestore, "read_state", "statestore.read_state")
        tr.wrap(statestore, "commit_fold_retrying", "statestore.commit_fold_retrying")
        tr.wrap(statestore, "commit_fold", "statestore.commit_fold")
        tr.wrap(statestore, "maintain_store", "statestore.maintain_store")
        tr.wrap(state.StateStore, "commit_watermark", "state.commit_watermark")

    def layers(self, rep) -> dict:
        """Per-layer self seconds per cycle over the measured loop."""
        n = max(1, len(self.cycle_s))
        out = {
            "sources.read_parquet_normalized_s": rep.self_s("sources.read_parquet_normalized") / n,
            "engine.capture_table_self_s": rep.self_s("engine.capture_table") / n,
            "controller.next_window_s": rep.self_s("controller.next_window") / n,
            "snapshot.build_capture_s": rep.self_s("snapshot.build_capture") / n,
            "sinks.append_snapshot_s": rep.self_s("sinks.append_snapshot") / n,
            "streaming.maintain_current_state_self_s": rep.self_s("streaming.maintain_current_state") / n,
            "statestore.read_state_s": rep.self_s("statestore.read_state") / n,
            "statestore.commit_fold_s": (rep.self_s("statestore.commit_fold") + rep.self_s("statestore.commit_fold_retrying")) / n,
            "state.commit_watermark_s": rep.self_s("state.commit_watermark") / n,
            "engine.refresh_view_s": rep.self_s("engine.refresh_view") / n,
            "statestore.maintain_store_s": rep.self_s("statestore.maintain_store") / n,
        }
        for case in ("backlog", "stale", "near_realtime", "default", "skip"):
            out[f"controller.case_{case}"] = self.cases.get(case, 0)
        cyc = rep.tree_totals("bench.cycle")
        out["spark.jobs_per_cycle"] = cyc["jobs"] / n
        out["spark.tasks_per_cycle"] = cyc["tasks"] / n
        out["spark.shuffle_bytes_per_cycle"] = cyc["shuffle_bytes"] / n
        out["spark.executor_run_s_per_cycle"] = cyc["run_ms"] / 1000.0 / n
        out.update(self.space())
        return out
