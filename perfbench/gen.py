"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is produced here from one
``numpy.random.Generator``: the TPC-H-ish star schema and ``events``
(same schemas and value domains as the repo's fixtures), the CDC wave
cut points, the documents/embeddings corpus, and the planted
duplicates, contaminations and boilerplate that give each curation
stage something to decide. Files are written with pyarrow, never
through Spark, so generation stays outside every timed span.

The same seed always yields the same tables and the same plants.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1)
EMB_DIM = 64
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that"]
# words some registered queries search for (x_bm25_search: hash join vector)
SEED_WORDS = (
    "hash join vector key agg row scan slow fast table value part data "
    "window batch spark order column stream filter merge sort group query "
    "line customer small big"
).split()


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --------------------------------------------------------------- relational
def _ts_col(days_from: datetime, span_days: int, n: int, rng) -> pa.Array:
    base = np.datetime64(days_from.replace(microsecond=0), "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The star schema of the repo's fixtures at scale factor ``sf``."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = n_ord * 4
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    colors = np.array(["small", "red", "blue", "green", "large", "steel"])
    things = np.array(["ring", "widget", "bolt", "gear", "pipe", "valve"])
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(
            np.char.add(colors[rng.integers(0, 6, n_part)], " "),
            things[rng.integers(0, 6, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts_col(datetime(1995, 1, 1), 2404, n_ord, rng),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_col(datetime(1995, 1, 2), 2498, n_li, rng),
    })
    return out


def events_table(
    rng: np.random.Generator, n_rows: int, n_users: int, days: int = 30
) -> pa.Table:
    """``events`` sorted by ``ts``: unique microsecond timestamps over
    ``days`` days from 2024-01-01, ``n_users`` keys drawn uniformly."""
    span_us = days * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, size=n_rows, replace=False))
    base = np.datetime64(EPOCH, "us")
    types = np.array(["error", "click", "view", "signup", "purchase"])
    return pa.table({
        "event_id": pa.array(np.arange(n_rows), pa.int64()),
        "ts": pa.array(base + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_rows), pa.int64()),
        "event_type": types[rng.integers(0, 5, n_rows)],
        "value": np.round(rng.lognormal(3.4, 1.0, n_rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
    })


def wave_cuts(
    rng: np.random.Generator, events: pa.Table, hours: float, jitter: float = 0.25
) -> list[tuple[datetime, int, int]]:
    """Cut the ts-sorted events into consecutive waves of about
    ``hours`` each (span jittered by ±``jitter``). Returns
    ``(wave_end_ts, first_row, end_row)`` per wave: the wave holds rows
    ``[first_row, end_row)`` and every row with ts ≤ wave_end_ts."""
    ts = events.column("ts").to_numpy()
    start = ts[0] - np.timedelta64(1, "us")
    waves, first = [], 0
    while first < len(ts):
        span = hours * (1.0 + rng.uniform(-jitter, jitter))
        end = start + np.timedelta64(int(span * 3_600_000_000), "us")
        last = int(np.searchsorted(ts, end, side="right"))
        if last == first:
            start = end
            continue
        end_ts = ts[last - 1].astype("datetime64[us]").astype(datetime)
        waves.append((end_ts, first, last))
        first, start = last, ts[last - 1]
    return waves


# ------------------------------------------------------------------- corpus
def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words: the query words first, then
    pronounceable synthetic words."""
    cons, vows = list("bcdfghjklmnprstvz"), list("aeiou")
    words, seen = list(SEED_WORDS), set(SEED_WORDS) | set(STOPWORDS)
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(0, 17)] + vows[rng.integers(0, 5)] for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def random_text(rng: np.random.Generator, vocab: list[str], n_tokens: int) -> list[str]:
    """Content words uniform over ``vocab`` with ~1 stopword in 5."""
    toks = [vocab[i] for i in rng.integers(0, len(vocab), n_tokens)]
    for i in np.flatnonzero(rng.random(n_tokens) < 0.2):
        toks[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return toks


def random_embeddings(rng: np.random.Generator, n: int, n_labels: int = 10):
    """Unit-scale vectors around ``n_labels`` loose cluster centres —
    any two stay far below a 0.95 cosine."""
    centres = rng.normal(size=(n_labels, EMB_DIM))
    labels = rng.integers(0, n_labels, n)
    vecs = 0.35 * centres[labels] + rng.normal(size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels


def emb_array(vecs: np.ndarray) -> pa.Array:
    return pa.array(list(vecs), pa.list_(pa.float32()))


def corpus_tables(rng: np.random.Generator, n_docs: int, vocab: list[str]) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` with the fixture schemas."""
    texts = [" ".join(random_text(rng, vocab, int(rng.integers(40, 120)))) for _ in range(n_docs)]
    vecs, labels = random_embeddings(rng, n_docs)
    langs = np.array(["en", "zh", "es", "de", "fr"])
    return {
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, 5, n_docs)],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": emb_array(vecs),
            "label": pa.array(labels, pa.int32()),
        }),
    }


def write_sf_dir(rng: np.random.Generator, out_dir: str, sf: float, n_docs: int, vocab_size: int) -> dict:
    """Every table a relational/corpus query reads, one parquet each."""
    tables = tpch_tables(rng, sf)
    tables["events"] = events_table(rng, max(1_000, int(100_000 * sf)), max(15, int(1_500 * sf)))
    vocab = vocabulary(rng, vocab_size)
    tables.update(corpus_tables(rng, n_docs, vocab))
    for name, t in tables.items():
        write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"tables": {k: v.num_rows for k, v in tables.items()}, "vocab": vocab}


# ---------------------------------------------------- curation plants (batch)
@dataclass
class CurationCorpus:
    """A documents corpus with planted rejects for a curation spec of
    quality_filter → exact_dedup → near_dedup → decontaminate →
    substring_redact → hash_split, and the survivors it must yield."""

    table: pa.Table
    benchmark: pa.Table
    expected_ids: set[int]
    boilerplate: str
    boilerplate_ids: set[int]
    rejects: dict[str, set[int]] = field(default_factory=dict)


def curation_corpus(
    rng: np.random.Generator, vocab: list[str], n_base: int, share: float = 0.1
) -> CurationCorpus:
    k = max(2, int(n_base * share))
    texts: dict[int, str] = {}
    for i in range(n_base):
        texts[i] = " ".join(random_text(rng, vocab, int(rng.integers(40, 100))))
    ids = rng.permutation(n_base)
    originals = ids[: 2 * k]
    exact_src, near_src = originals[:k], originals[k:]
    # the eval set: held-out docs, never landed themselves
    bench_texts = [" ".join(random_text(rng, vocab, 40)) for _ in range(max(3, k // 4))]
    nxt = n_base
    rejects = {"quality_filter": set(), "exact_dedup": set(), "near_dedup": set(), "decontaminate": set()}
    for src in exact_src:
        texts[nxt] = texts[int(src)]
        rejects["exact_dedup"].add(nxt)
        nxt += 1
    for src in near_src:
        extra = " ".join(random_text(rng, vocab, 2))
        texts[nxt] = texts[int(src)] + " " + extra
        rejects["near_dedup"].add(nxt)
        nxt += 1
    for _ in range(k):  # too short for min_tokens=20
        texts[nxt] = " ".join(random_text(rng, vocab, int(rng.integers(5, 15))))
        rejects["quality_filter"].add(nxt)
        nxt += 1
    for j in range(k // 2):  # carries a 10-token span of an eval doc
        span = bench_texts[j % len(bench_texts)].split()[10:20]
        body = random_text(rng, vocab, 50)
        texts[nxt] = " ".join(body[:25] + span + body[25:])
        rejects["decontaminate"].add(nxt)
        nxt += 1
    boilerplate = " ".join(random_text(rng, vocab, 30))
    plain = [int(i) for i in ids[2 * k:]]
    boiler_ids = {plain[j] for j in range(min(len(plain), k))}
    for i in boiler_ids:
        toks = texts[i].split()
        cut = len(toks) // 2
        texts[i] = " ".join(toks[:cut] + [boilerplate] + toks[cut:])
    rejected = set().union(*rejects.values())
    all_ids = sorted(texts)
    langs = np.array(["en", "zh", "es", "de", "fr"])
    table = pa.table({
        "doc_id": pa.array(all_ids, pa.int64()),
        "text": [texts[i] for i in all_ids],
        "lang": langs[rng.integers(0, 5, len(all_ids))],
    })
    benchmark = pa.table({
        "doc_id": pa.array(range(10**9, 10**9 + len(bench_texts)), pa.int64()),
        "text": bench_texts,
    })
    return CurationCorpus(
        table=table,
        benchmark=benchmark,
        expected_ids=set(all_ids) - rejected,
        boilerplate=boilerplate,
        boilerplate_ids=boiler_ids,
        rejects=rejects,
    )


# ------------------------------------------------------ stream waves (stream)
@dataclass
class StreamCorpus:
    """Docs for the composed corpus stream, pre-assigned to waves, with
    the benchmark (eval) embeddings and the plants per wave."""

    waves: list[pa.Table]
    benchmark: pa.Table
    near_dups: set[int]
    contaminated: set[int]
    train: pa.Table


def stream_corpus(
    rng: np.random.Generator,
    vocab: list[str],
    n_waves: int,
    docs_per_wave: int,
    dup_share: float,
    contam_share: float,
    edit_share: float,
) -> StreamCorpus:
    """Wave w lands ``docs_per_wave`` rows: fresh docs plus near-dups of
    docs admitted in earlier waves (text + two words), docs carrying an
    eval item's exact embedding, and edits (same id, new text, higher
    ``version``) of earlier clean docs. Wave 0 holds fresh docs only."""
    n_bench = 16
    bench_vecs, _ = random_embeddings(rng, n_bench)
    benchmark = pa.table({
        "doc_id": pa.array(range(10**9, 10**9 + n_bench), pa.int64()),
        "embedding": emb_array(bench_vecs),
    })
    texts: dict[int, str] = {}
    clean_pool: list[int] = []
    waves, near, contam = [], set(), set()
    nxt = 0
    for w in range(n_waves):
        n_dup = 0 if w == 0 else max(1, int(docs_per_wave * dup_share))
        n_con = 0 if w == 0 else max(1, int(docs_per_wave * contam_share))
        n_edit = 0 if w == 0 else max(1, int(docs_per_wave * edit_share))
        n_new = docs_per_wave - n_dup - n_con - n_edit
        rows_id, rows_text, rows_vec, rows_ver = [], [], [], []
        fresh_vecs, _ = random_embeddings(rng, n_new + n_con + n_edit)
        for j in range(n_new):
            texts[nxt] = " ".join(random_text(rng, vocab, int(rng.integers(40, 90))))
            rows_id.append(nxt); rows_text.append(texts[nxt]); rows_vec.append(fresh_vecs[j]); rows_ver.append(1)
            nxt += 1
        picks = rng.choice(len(clean_pool), size=n_dup + n_edit, replace=False) if clean_pool else []
        for j in range(n_dup):
            src = clean_pool[int(picks[j])]
            rows_id.append(nxt); rows_text.append(texts[src] + " " + " ".join(random_text(rng, vocab, 2)))
            rows_vec.append(fresh_vecs[0]); rows_ver.append(1)
            near.add(nxt)
            nxt += 1
        for j in range(n_con):
            rows_id.append(nxt); rows_text.append(" ".join(random_text(rng, vocab, 60)))
            rows_vec.append(bench_vecs[int(rng.integers(0, n_bench))]); rows_ver.append(1)
            contam.add(nxt)
            nxt += 1
        for j in range(n_edit):
            src = clean_pool[int(picks[n_dup + j])]
            texts[src] = " ".join(random_text(rng, vocab, int(rng.integers(40, 90))))
            rows_id.append(src); rows_text.append(texts[src])
            rows_vec.append(fresh_vecs[n_new + n_con + j]); rows_ver.append(w + 1)
        clean_pool.extend(i for i in rows_id[:n_new])
        waves.append(pa.table({
            "doc_id": pa.array(rows_id, pa.int64()),
            "text": rows_text,
            "embedding": emb_array(np.array(rows_vec, dtype=np.float32)),
            "version": pa.array(rows_ver, pa.int64()),
        }))
    train_vecs, _ = random_embeddings(rng, 400)
    train = pa.table({
        "doc_id": pa.array(range(400), pa.int64()),
        "embedding": emb_array(train_vecs),
    })
    return StreamCorpus(waves=waves, benchmark=benchmark, near_dups=near, contaminated=contam, train=train)
