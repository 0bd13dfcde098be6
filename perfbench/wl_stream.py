"""corpus_stream — the composed Structured Streaming corpus pipeline.

Documents joined to their embeddings (``doc_id, text, embedding,
version``) land in waves; each wave is drained by one
``run_corpus_stream_pipeline`` call: admit (near-dup screening against
the persistent LSH index) → decontaminate (cosine to the frozen eval
embeddings) → index (IVFADC encode against frozen cents/books) → state
(latest ``version`` per ``doc_id``). The frozen ``(cents, books)`` are
trained in set-up. Each wave after the first plants near-dups of
earlier admitted docs, docs carrying an eval item's exact embedding,
and edits (same id, new text, higher version) of earlier clean docs.
"""

from __future__ import annotations

import os
import time

import gen
from harness import median, tail

SIZES = {
    "full": {"docs_per_wave": 100, "waves": 24, "vocab": 3000},
    "tiny": {"docs_per_wave": 20, "waves": 6, "vocab": 500},
}
SHARES = {"dup": 0.10, "contam": 0.05, "edit": 0.05}
STAGES = {
    "start_near_dedup_stream": "admit",
    "start_decontaminate_stream": "decontaminate",
    "start_ivfadc_index_stream": "index",
    "start_current_state_stream": "state",
}
WARMUP_WAVES = 1


class CorpusStream:
    name = "corpus_stream"
    min_steps = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.scale]
        self.wave_s: list[float] = []
        self.wave_docs: list[int] = []
        self.stage_runs: dict[str, list[dict]] = {s: [] for s in STAGES.values()}

    def setup(self, rep_dir: str) -> None:
        from leftshove_spark.ext.similarity import ivfadc_train

        rng = self.ctx.rng("stream")
        vocab = gen.vocabulary(rng, self.size["vocab"])
        self.corpus = gen.stream_corpus(
            rng, vocab, self.size["waves"], self.size["docs_per_wave"],
            SHARES["dup"], SHARES["contam"], SHARES["edit"],
        )
        self.landing = os.path.join(rep_dir, "landing")
        self.work = os.path.join(rep_dir, "work")
        self.bench_dir = os.path.join(rep_dir, "eval_emb")
        os.makedirs(self.landing)
        gen.write_parquet(self.corpus.benchmark, os.path.join(self.bench_dir, "part-0.parquet"))
        train_path = os.path.join(rep_dir, "train.parquet")
        gen.write_parquet(self.corpus.train, train_path)
        train = self.ctx.spark.read.parquet(train_path)
        self.cents, self.books = ivfadc_train(
            train, n_centroids=4, id_col="doc_id", vec_col="embedding"
        )
        self.next_wave = 0

    def _wave(self, timed: bool) -> bool:
        from leftshove_spark.streaming import run_corpus_stream_pipeline

        if self.next_wave >= len(self.corpus.waves):
            return False
        w = self.corpus.waves[self.next_wave]
        gen.write_parquet(w, os.path.join(self.landing, f"wave-{self.next_wave:05d}.parquet"))
        self.next_wave += 1
        with self.ctx.op("stream.wave"):
            t0 = time.perf_counter()
            with self.ctx.tracer.span("bench.wave"):
                self.dirs = run_corpus_stream_pipeline(
                    self.ctx.spark,
                    landing_dir=self.landing,
                    work_dir=self.work,
                    benchmark_emb_dir=self.bench_dir,
                    cents=self.cents,
                    books=self.books,
                    threshold=0.95,
                )
            dt = time.perf_counter() - t0
        if timed:
            self.wave_s.append(dt)
            self.wave_docs.append(w.num_rows)
        return True

    def warmup(self) -> None:
        for _ in range(WARMUP_WAVES):
            self._wave(timed=False)

    def step(self) -> bool:
        return self._wave(timed=True)

    def finish(self) -> None:
        from leftshove_spark.streaming import current_state_table
        from leftshove_spark.views import latest_per_key_window

        from wl_cdc import state_hash

        spark = self.ctx.spark
        c = self.corpus
        landed_ids = []
        for w in c.waves[: self.next_wave]:
            landed_ids.extend(w.column("doc_id").to_pylist())
        landed_set = set(landed_ids)
        want_rejected = c.near_dups & landed_set
        with self.ctx.op("stream.check_admit") as op:
            adm = [r["doc_id"] for r in spark.read.parquet(self.dirs["admitted"]).select("doc_id").collect()]
            rejected = len(landed_ids) - len(adm)
            op.check(rejected == len(want_rejected),
                     f"admitted {len(adm)} + rejected {len(want_rejected)} != landed {len(landed_ids)}")
            op.check(not (set(adm) & want_rejected), "a planted near-dup was admitted")
            self.admitted, self.rejected = len(adm), rejected
        with self.ctx.op("stream.check_decontaminate") as op:
            clean_df = spark.read.parquet(self.dirs["clean"])
            clean = [r["doc_id"] for r in clean_df.select("doc_id").collect()]
            quar = {r["doc_id"] for r in spark.read.parquet(self.dirs["quarantine"]).select("doc_id").collect()}
            want_quar = c.contaminated & landed_set
            op.check(len(clean) + len(quar) == len(adm), f"clean {len(clean)} + quarantine {len(quar)} != admitted {len(adm)}")
            op.check(quar == want_quar, f"quarantined {sorted(quar)[:5]} != planted {sorted(want_quar)[:5]}")
            self.quarantined = len(quar)
        with self.ctx.op("stream.check_index") as op:
            n_idx = spark.read.parquet(self.dirs["ivfadc_index"]).count()
            op.check(n_idx == len(clean), f"index rows {n_idx} != clean rows {len(clean)}")
        with self.ctx.op("stream.check_state") as op:
            got = state_hash(current_state_table(spark, self.dirs["state"]))
            want = state_hash(latest_per_key_window(clean_df, "doc_id", order_col="version"))
            op.check(got == want, f"state {got} != latest_per_key_window(clean) {want}")

    # ----------------------------------------------------------- metrics
    def e2e(self) -> dict:
        total = sum(self.wave_s)
        return {
            "step_latency_s": median(self.wave_s),
            "rows_per_s": sum(self.wave_docs) / total if total else 0.0,
        }

    def detail(self) -> dict:
        p, v = tail(self.wave_s)
        total = sum(self.wave_s)
        return {
            "stream_wave_p50_s": median(self.wave_s),
            "stream_wave_tail_s": {"value": v, "percentile": p, "samples": len(self.wave_s)},
            "stream_docs_per_s": sum(self.wave_docs) / total if total else 0.0,
            "waves": len(self.wave_s),
            "docs_per_wave": self.size["docs_per_wave"],
            "shares": SHARES,
            "admitted": getattr(self, "admitted", None),
            "rejected": getattr(self, "rejected", None),
            "quarantined": getattr(self, "quarantined", None),
        }

    # ------------------------------------------------------------ tracing
    def wrap(self, tr) -> None:
        from leftshove_spark import statestore, streaming

        for fn, stage in STAGES.items():
            tr.wrap(streaming, fn, f"streaming.{stage}", close_later=self._hold_open(tr, stage))
        tr.wrap(statestore, "read_state", "statestore.read_state")
        tr.wrap(statestore, "commit_fold_retrying", "statestore.commit_fold_retrying")
        tr.wrap(statestore, "commit_fold", "statestore.commit_fold")

    def _hold_open(self, tr, stage):
        """Keep the stage span open until its query has drained, and
        keep the query for its progress reports."""

        def close_later(sp, query):
            drain = query.awaitTermination

            def drain_then_close(*a, **kw):
                try:
                    return drain(*a, **kw)
                finally:
                    tr.close(sp)
                    self.stage_runs[stage].append({"span": sp, "query": query})

            query.awaitTermination = drain_then_close

        return close_later

    def layers(self, rep) -> dict:
        n = max(1, len(self.wave_s))
        out = {}
        for stage, runs in self.stage_runs.items():
            runs = runs[-len(self.wave_s):] if self.wave_s else []
            wall = sum(r["span"].end - r["span"].start for r in runs)
            trig, rows = 0.0, 0
            for r in runs:
                for p in r["query"].recentProgress:
                    trig += (p.durationMs or {}).get("triggerExecution", 0) / 1000.0
                    rows += int(p.numInputRows or 0)
            out[f"streaming.{stage}.wall_s"] = wall / n
            out[f"streaming.{stage}.trigger_s"] = trig / n
            out[f"streaming.{stage}.overhead_s"] = (wall - trig) / n
            # rows the stage's source read, as its progress reports them
            out[f"streaming.{stage}.input_rows"] = rows / n
        landed = self.admitted + self.rejected
        out["streaming.admit.reject_ratio"] = self.rejected / landed if landed else 0.0
        out["streaming.decontaminate.quarantine_ratio"] = (
            self.quarantined / self.admitted if self.admitted else 0.0
        )
        out["statestore.read_state_s"] = rep.self_s("statestore.read_state") / n
        out["statestore.commit_fold_s"] = (
            rep.self_s("statestore.commit_fold") + rep.self_s("statestore.commit_fold_retrying")
        ) / n
        out["spark.jobs_per_wave"] = rep.tree_totals("bench.wave")["jobs"] / n
        return out

