"""Seeded input generators for the benchmark workloads.

Everything the program reads is written here from ``seed``: the ten
fixture-shaped tables ``Engine`` registers, the copy workload's event
versions and poll deltas, and the streaming workload's JSONL slices.
The same seed always yields the same files.  Each generator also
returns the measured share of every input property it plants, so a run
can report what it actually fed the program.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = "red blue hot cold old large small green".split()
_NOUN = "plate widget ring rod bolt gear anvil gizmo".split()


def _ts_us(days_from: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"))


def write_tables(out_dir: str, seed: int, sf: float, skip: tuple = ()) -> dict:
    """Write the ten fixture-shaped tables (schemas as in FIXTURES.md)
    at scale ``sf``; returns row counts and the planted near-dup share."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
        ),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n_ord) * 86400.0),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2499, n_line) * 86400.0),
    })
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_ev))),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    n_near = 0
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            n_near += 1
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name, t in tables.items():
        if name not in skip:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "rows": {n: t.num_rows for n, t in tables.items() if n not in skip},
        "near_dup_doc_share": round(n_near / n_doc, 4),
    }


# ---------------------------------------------------------------- copy


@dataclass
class CopyInputs:
    """The copy workload's event versions: one base file, then deltas
    appended one per poll.  ``all_rows`` returns the versions as plain
    Python tuples (event_id, ts, user_id, event_type, value, props) so
    the expectation is computed without Spark."""

    base: pa.Table
    deltas: list
    props: dict = field(default_factory=dict)

    def all_rows(self, n_deltas: int) -> list[tuple]:
        out = _rows(self.base)
        for d in self.deltas[:n_deltas]:
            out.extend(_rows(d))
        return out


def _rows(t: pa.Table) -> list[tuple]:
    cols = [t.column(c).to_pylist() for c in t.column_names]
    return list(zip(*cols))


COPY_INDICES = tuple(f"idx-{i}" for i in range(8))


def copy_inputs(seed: int, n_ids: int, rewrite_share: float,
                n_deltas: int, delta_rows: int) -> CopyInputs:
    """Event versions for the ES copy: ``n_ids`` ids, a ``rewrite_share``
    of base rows re-writing an existing id, each id pinned to one of 8
    indices, ES-millisecond timestamps distinct per version, and body
    sizes spread over two orders of magnitude (a ``note`` string in
    ``props``).  Each delta is half updates of known ids, half new ids,
    timestamped after everything before it."""
    rng = np.random.default_rng(seed + 1_000_003)
    index_of = rng.integers(0, len(COPY_INDICES), 10 * n_ids + 10 * n_deltas * delta_rows)
    n_rewrite = int(n_ids * rewrite_share / (1 - rewrite_share))
    ids = np.concatenate([np.arange(n_ids), rng.integers(0, n_ids, n_rewrite)])
    rng.shuffle(ids)
    text_pool = "".join(rng.choice(list("abcdefghij klmnop"), 50_000))
    t0 = np.datetime64("2024-01-01T00:00:00", "ms")
    span_ms = 20 * 86_400_000

    def table(ids: np.ndarray, ts_ms: np.ndarray) -> pa.Table:
        n = len(ids)
        note_len = np.minimum(4000, rng.lognormal(4.0, 1.1, n).astype(int))
        starts = rng.integers(0, len(text_pool) - 4000, n)
        notes = [text_pool[a:a + k] for a, k in zip(starts, note_len)]
        props = [
            json.dumps({"k": int(k), "note": s}, separators=(",", ":"))
            for k, s in zip(rng.integers(0, 100, n), notes)
        ]
        return pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array((t0 + ts_ms.astype("timedelta64[ms]")).astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 5000, n), pa.int64()),
            "event_type": [COPY_INDICES[index_of[i]] for i in ids],
            "value": np.round(rng.uniform(0, 1000, n), 2),
            "props": props,
        })

    base_ts = np.sort(rng.choice(span_ms, len(ids), replace=False))
    base = table(ids, base_ts)
    deltas = []
    next_id = n_ids
    next_ms = span_ms + 1000
    known, n_upd_seen = set(ids.tolist()), 0
    for _ in range(n_deltas):
        n_upd = delta_rows // 2
        upd = rng.choice(next_id, n_upd, replace=False)
        new = np.arange(next_id, next_id + delta_rows - n_upd)
        next_id += len(new)
        d_ids = np.concatenate([upd, new])
        rng.shuffle(d_ids)
        d_ts = next_ms + np.sort(rng.choice(60_000, delta_rows, replace=False))
        next_ms = int(d_ts[-1]) + 1000
        n_upd_seen += sum(1 for i in d_ids.tolist() if i in known)
        known.update(d_ids.tolist())
        deltas.append(table(d_ids, d_ts))
    body_bytes = np.array([len(p) for p in base.column("props").to_pylist()])
    counts = np.bincount(index_of[np.unique(ids)], minlength=len(COPY_INDICES))
    props = {
        "rewrite_share": round(1 - n_ids / len(ids), 4),
        "index_fanout": int((counts > 0).sum()),
        "index_share_min": round(counts.min() / counts.sum(), 4),
        "index_share_max": round(counts.max() / counts.sum(), 4),
        "body_bytes_p10": int(np.percentile(body_bytes, 10)),
        "body_bytes_p50": int(np.percentile(body_bytes, 50)),
        "body_bytes_p90": int(np.percentile(body_bytes, 90)),
        "body_bytes_max": int(body_bytes.max()),
        "delta_rows": delta_rows,
        "delta_update_share": round(n_upd_seen / max(1, n_deltas * delta_rows), 4),
    }
    return CopyInputs(base=base, deltas=deltas, props=props)


# -------------------------------------------------------------- stream


def _pseudo_words(rng: np.random.Generator, n: int) -> list[str]:
    syl = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]
    return ["".join(rng.choice(syl, int(rng.integers(2, 4)))) for _ in range(n)]


@dataclass
class StreamSlices:
    """Epoch slices of scroll documents (doc_id, index_id, ts, source)."""

    epochs: list
    props: dict


def stream_slices(seed: int, n_epochs: int, per_epoch: int) -> StreamSlices:
    """Text documents for the admission loop, with planted EXACT
    duplicates: ~10% copy a text from an earlier epoch, ~5% copy an
    earlier doc of the same epoch, ~5% re-use a doc id from an earlier
    epoch, ~3% arrive twice in one epoch (two versions, later ts wins).
    Fresh texts draw from a large pseudo-word vocabulary, so distinct
    documents share almost no word 3-shingles and near-dup admission
    can only reject the planted copies."""
    rng = np.random.default_rng(seed + 2_000_003)
    vocab = _pseudo_words(rng, 20_000)
    langs = ["en", "de", "fr", "es", "zh"]
    next_id = 0
    seen_texts: list[str] = []
    seen_ids: list[str] = []
    epochs = []
    planted = {"across_epoch": 0, "within_epoch": 0, "reused_id": 0, "two_versions": 0}
    total = 0

    def fresh() -> str:
        return " ".join(rng.choice(vocab, int(rng.integers(12, 150))))

    for e in range(n_epochs):
        docs: list[dict] = []
        base_ms = e * 3_600_000
        for j in range(per_epoch):
            r = rng.random()
            ts_ms = base_ms + j * 10
            if r < 0.10 and seen_texts:
                text = seen_texts[int(rng.integers(0, len(seen_texts)))]
                doc_id, kind = None, "across_epoch"
            elif r < 0.15 and docs:
                text = docs[int(rng.integers(0, len(docs)))]["source"]
                doc_id, kind = None, "within_epoch"
            elif r < 0.20 and seen_ids:
                text = fresh()
                doc_id, kind = seen_ids[int(rng.integers(0, len(seen_ids)))], "reused_id"
            else:
                text, doc_id, kind = fresh(), None, None
            if doc_id is None:
                doc_id = f"d{next_id:08d}"
                next_id += 1
            if kind:
                planted[kind] += 1
            docs.append({"doc_id": doc_id, "index_id": langs[int(rng.integers(0, 5))],
                         "ts_ms": ts_ms, "source": text})
        # a few ids arrive twice in one epoch: the later version wins
        for d in list(docs[: max(1, per_epoch * 3 // 100)]):
            docs.append({**d, "ts_ms": d["ts_ms"] + 5, "source": fresh()})
            planted["two_versions"] += 1
        order = rng.permutation(len(docs))
        docs = [docs[i] for i in order]
        for d in docs:
            d["ts"] = _iso_ms(d.pop("ts_ms"))
        seen_texts.extend(d["source"] for d in docs)
        seen_ids.extend(sorted({d["doc_id"] for d in docs}))
        total += len(docs)
        epochs.append(docs)
    props = {f"{k}_share": round(v / total, 4) for k, v in planted.items()}
    props["docs_per_epoch"] = round(total / max(1, n_epochs), 1)
    return StreamSlices(epochs=epochs, props=props)


def _iso_ms(ms: int) -> str:
    t = np.datetime64("2024-01-01T00:00:00", "ms") + np.timedelta64(int(ms), "ms")
    return str(t.astype("datetime64[us]"))


def append_slice(index_dir: str, docs: list, n_shards: int = 2) -> None:
    """Append one slice to the scroll index's JSONL shards (the shape
    ``es_scroll`` polls: lines consumed per shard are the offset)."""
    os.makedirs(index_dir, exist_ok=True)
    handles = [
        open(os.path.join(index_dir, f"shard-{i}.jsonl"), "a", encoding="utf-8")
        for i in range(n_shards)
    ]
    try:
        for i, d in enumerate(docs):
            handles[i % n_shards].write(json.dumps(d) + "\n")
    finally:
        for h in handles:
            h.close()
