"""batch_analytics — read-only batch work: registered queries, corpus
operators and one fused curation pipeline.

One step runs every row of ``RELATIONAL`` and ``CORPUS`` through
``queries.QUERIES[name](spark, sf_dir).collect()`` (plan + execute +
drain), then one ``run_pipeline(count_stages=False)`` over a documents
corpus with planted rejects, drained by a collect. Steps repeat until
the run's time is up, at least twice; each row and the curation report
the median of their executions.
Nothing here touches the state store or the streaming code, so this is
the bypass workload for changes there.
"""

from __future__ import annotations

import os
import time

import duckdb

import gen
from harness import geomean, median, rows_fingerprint

# scan+agg and the latest-per-key window: the cheapest rows of the two
# plan classes the engine is built around
RELATIONAL = ["q1_pricing_summary", "j3_dedup_latest_window"]
# BM25 retrieval; MinHash-LSH pair mining, connected components and
# duplicated-passage redaction run inside the curation pass below
CORPUS = ["x_bm25_search"]
ORACLE_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

SIZES = {
    "full": {"sf": 0.01, "docs": 600, "vocab": 3000, "curation_docs": 300},
    "tiny": {"sf": 0.001, "docs": 100, "vocab": 500, "curation_docs": 60},
}
# quality_filter → exact_dedup → near_dedup → decontaminate →
# substring_redact → hash_split; every filter stage drops its plants
CURATION_SPEC = [
    {"op": "quality_filter"},
    {"op": "exact_dedup"},
    {"op": "near_dedup"},
    {"op": "decontaminate", "n": 6},  # + the eval set, bound per run
    {"op": "substring_redact", "window": 20},
    {"op": "hash_split"},
]


class BatchAnalytics:
    name = "batch_analytics"
    min_steps = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.scale]
        self.times: dict[str, list[float]] = {n: [] for n in RELATIONAL + CORPUS}
        self.first_rows: dict[str, tuple] = {}
        self.build_s: list[float] = []
        self.curate_s: list[float] = []
        self.curate_fp = None

    def setup(self, rep_dir: str) -> None:
        rng = self.ctx.rng("batch")
        self.sf_dir = os.path.join(rep_dir, "sf")
        info = gen.write_sf_dir(rng, self.sf_dir, self.size["sf"], self.size["docs"], self.size["vocab"])
        self.cur = gen.curation_corpus(rng, info["vocab"], self.size["curation_docs"])
        cdir = os.path.join(rep_dir, "curation")
        gen.write_parquet(self.cur.table, os.path.join(cdir, "docs.parquet"))
        gen.write_parquet(self.cur.benchmark, os.path.join(cdir, "eval.parquet"))
        self.cur_paths = (os.path.join(cdir, "docs.parquet"), os.path.join(cdir, "eval.parquet"))
        self.tables = info["tables"]

    # -------------------------------------------------------------- loop
    def _row(self, name: str, timed: bool) -> None:
        from leftshove_spark.queries import QUERIES

        with self.ctx.op(f"query.{name}") as op:
            t0 = time.perf_counter()
            with self.ctx.tracer.span(f"queries.{name}"):
                df = QUERIES[name](self.ctx.spark, self.sf_dir)
                rows = df.collect()
            dt = time.perf_counter() - t0
            fp = rows_fingerprint(rows)
            if name not in self.first_rows:
                self.first_rows[name] = (df.columns, rows, fp)
            else:
                op.check(fp == self.first_rows[name][2], f"result {fp} differs from the first execution")
        if timed:
            self.times[name].append(dt)

    def _curate(self, timed: bool) -> None:
        from leftshove_spark.pipeline_runner import run_pipeline

        spark = self.ctx.spark
        docs = spark.read.parquet(self.cur_paths[0])
        evals = spark.read.parquet(self.cur_paths[1])
        spec = [dict(s, benchmark=evals) if s["op"] == "decontaminate" else dict(s) for s in CURATION_SPEC]
        with self.ctx.op("curate") as op:
            t0 = time.perf_counter()
            res = run_pipeline(spark, docs, spec, count_stages=False)
            t1 = time.perf_counter()
            with self.ctx.tracer.span("bench.curate_drain"):
                rows = res.df.select("doc_id", "text", "split").collect()
            t2 = time.perf_counter()
            self._check_curation(op, rows)
        if timed:
            self.build_s.append(t1 - t0)
            self.curate_s.append(t2 - t0)

    def _check_curation(self, op, rows) -> None:
        cur = self.cur
        ids = [r["doc_id"] for r in rows]
        got = set(ids)
        op.check(len(ids) == len(got), "duplicate doc_id in the curated output")
        for stage, planted in cur.rejects.items():
            op.check(not (got & planted), f"{stage} kept {len(got & planted)} planted rejects")
        op.check(got == cur.expected_ids, f"kept {len(got)} docs, expected {len(cur.expected_ids)}")
        leaked = [r["doc_id"] for r in rows if r["doc_id"] in cur.boilerplate_ids and cur.boilerplate in r["text"]]
        op.check(not leaked, f"boilerplate not redacted in {len(leaked)} docs")
        op.check(all(r["split"] in ("train", "val", "test") for r in rows), "bad split label")
        fp = rows_fingerprint(rows)
        if self.curate_fp is None:
            self.curate_fp = fp
        op.check(fp == self.curate_fp, f"curated output {fp} differs from the first run {self.curate_fp}")

    def warmup(self) -> None:
        t0 = time.perf_counter()
        self._curate(timed=False)
        self.warm_s = {"curate": [time.perf_counter() - t0]}
        # two sweeps: after a single one the first measured sweep still
        # ran 30-40% slower than the second
        for _ in range(2):
            for name in RELATIONAL + CORPUS:
                t0 = time.perf_counter()
                self._row(name, timed=False)
                self.warm_s.setdefault(name, []).append(time.perf_counter() - t0)

    def step(self) -> bool:
        """Every query row, then one curation. A single ~10 s curation
        sample moved by ~20% from run to run, so a run takes at least two
        steps: two samples of everything, interleaved as bench.py
        interleaves its rounds, so one burst of host noise does not hit
        both. Steps this size let the loop stop within ~12 s of the
        run's time."""
        with self.ctx.tracer.span("bench.step"):
            for name in RELATIONAL + CORPUS:
                self._row(name, timed=True)
            self._curate(timed=True)
        return True

    def finish(self) -> None:
        """Every query row against its DuckDB oracle (queries.oracle
        through gatecheck.compare), outside every timed region."""
        from leftshove_spark import gatecheck
        from leftshove_spark.queries import oracle

        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name in RELATIONAL + CORPUS:
                with self.ctx.op(f"oracle.{name}") as op:
                    cols, rows, _ = self.first_rows[name]
                    ok, detail = gatecheck.compare(cols, [tuple(r) for r in rows], con, oracle(name))
                    op.check(ok, detail)
        finally:
            con.close()

    # ----------------------------------------------------------- metrics
    def _medians(self, names):
        return [median(self.times[n]) for n in names if self.times[n]]

    def e2e(self) -> dict:
        return {
            "step_latency_s": geomean(self._medians(RELATIONAL + CORPUS)),
            "rows_per_s": self.cur.table.num_rows / median(self.curate_s) if self.curate_s else 0.0,
        }

    def detail(self) -> dict:
        return {
            "sql_geomean_s": geomean(self._medians(RELATIONAL)),
            "sql_pass_s": sum(self._medians(RELATIONAL)),
            "corpus_ops_geomean_s": geomean(self._medians(CORPUS)),
            "curate_docs_per_s": self.cur.table.num_rows / median(self.curate_s) if self.curate_s else 0.0,
            "curate_p50_s": median(self.curate_s),
            "curations": len(self.curate_s),
            "row_samples_s": self.times,
            "curate_samples_s": self.curate_s,
            "warmup_samples_s": self.warm_s,
            "tables": self.tables,
            "curation": {
                "docs_in": self.cur.table.num_rows,
                "docs_out": len(self.cur.expected_ids),
                "planted": {k: len(v) for k, v in self.cur.rejects.items()},
                "boilerplate_docs": len(self.cur.boilerplate_ids),
            },
        }

    # ------------------------------------------------------------ tracing
    def wrap(self, tr) -> None:
        from leftshove_spark import pipeline_runner
        from leftshove_spark.ext import graph

        tr.wrap(pipeline_runner, "run_pipeline", "pipeline_runner.run_pipeline")
        for op in {s["op"] for s in CURATION_SPEC}:
            tr.wrap_dict(pipeline_runner.STAGES, op, f"pipeline_runner.stage.{op}")
        tr.wrap(graph, "connected_components", "graph.connected_components")

    def layers(self, rep) -> dict:
        out = {}
        for name in RELATIONAL + CORPUS:
            out[f"queries.{name}_s"] = median(self.times[name])
            n = max(1, len(self.times[name]))
            tot = rep.tree_totals(f"queries.{name}")
            out[f"spark.{name}.jobs"] = tot["jobs"] / n
            out[f"spark.{name}.shuffle_bytes"] = tot["shuffle_bytes"] / n
        passes = max(1, len(self.curate_s))
        out["graph.connected_components_s"] = rep.self_s("graph.connected_components") / passes
        out["pipeline_runner.build_s"] = median(self.build_s)
        out["pipeline_runner.drain_s"] = median([c - b for b, c in zip(self.build_s, self.curate_s)])
        for op in {s["op"] for s in CURATION_SPEC}:
            out[f"pipeline_runner.stage.{op}_s"] = rep.self_s(f"pipeline_runner.stage.{op}") / passes
        return out
