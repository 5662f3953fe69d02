"""Seeded input generators and reference models for the benchmark.

Everything the program reads is generated here from the run's seed and
written as parquet; the same seed gives byte-identical feeds, so they are
cached per seed (``cached``) and generation stays outside the timed
process. The reference models re-derive the expected outputs from the
generated files alone, never from program state.

Feeds:

* ``queue_feed`` -- the ``cdc_replay`` source's events log (the fixture's
  events schema), one parquet file per chunk of triggers. Every trigger's
  ``batch_events`` events repeat one seeded block of ``props`` lengths, so
  each trigger does the same work: the same runs of large events that
  overflow a queue request's byte cap, and the same number of oversize
  (> 240 KB) claim-check events.
* ``full_feed`` -- ``CDC_FULL_FEED_SCHEMA`` envelope files, one per
  trigger, with the ``scripts/cdc_full_soak.py`` event mix: inserts, good
  updates, below-gate updates, redeliveries and periodic in-band Deletes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes, so stale cached feeds are not reused.
FEED_VERSION = 2

# --- cdc_queue ------------------------------------------------------------

EVENT_TYPES = ["signup", "purchase", "click", "view", "error"]
# binlog op of each event_type -- the classification the source applies
OP_OF = {"signup": "Insert", "purchase": "Insert", "click": "Update",
         "view": "Update", "error": "Delete"}
# claim-check threshold of sinks/queue.py (240 KB effective)
MAX_MESSAGE_BYTES = 245_760
OVERSIZE_PER_BLOCK = 2      # events per trigger that take the reference path
LARGE_RUNS_PER_BLOCK = 8    # runs of 3 adjacent 90-200 KB events per trigger:
                            # each run overflows one request's byte cap
_ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))


def _props_lengths(rng: np.random.RandomState, n: int) -> np.ndarray:
    """Skewed props lengths for one trigger's block of ``n`` events."""
    lens = np.minimum(np.exp(rng.normal(5.5, 1.1, n)).astype(np.int64) + 16,
                      6_000)
    blocks = rng.permutation(n // 3)[:LARGE_RUNS_PER_BLOCK + OVERSIZE_PER_BLOCK]
    for b in blocks[:LARGE_RUNS_PER_BLOCK]:
        lens[3 * b:3 * b + 3] = rng.randint(90_000, 200_000, 3)
    for b in blocks[LARGE_RUNS_PER_BLOCK:]:
        lens[3 * b] = rng.randint(250_000, 262_000)
    return lens


def queue_feed(out: str, seed: int, batch_events: int, chunk_triggers: int,
               n_chunks: int) -> None:
    """Write ``n_chunks`` event files of ``chunk_triggers * batch_events``
    events each into ``out`` (``part-<chunk>.parquet``)."""
    rng = np.random.RandomState(seed)
    lens = _props_lengths(rng, batch_events)
    base = "".join(rng.choice(_ALPHABET, 256))
    pattern = base * (int(lens.max()) // len(base) + 2)
    per_chunk = chunk_triggers * batch_events
    for c in range(n_chunks):
        ids = np.arange(c * per_chunk, (c + 1) * per_chunk, dtype=np.int64)
        props = [
            f"{i}:{pattern[(i * 7) % len(base):(i * 7) % len(base) + int(n)]}"
            for i, n in zip(ids.tolist(), lens[ids % batch_events].tolist())
        ]
        t = pa.table({
            "event_id": ids,
            "ts": pa.array(1_704_067_200_000_000 + ids * 1_000_000,
                           pa.timestamp("us")),
            "user_id": rng.randint(0, 5_000, per_chunk).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, per_chunk),
            "value": np.round(rng.uniform(0, 500, per_chunk), 2),
            "props": props,
        })
        # small row groups: the source's range filter prunes by statistics
        pq.write_table(t, os.path.join(out, f"part-{c:05d}.parquet"),
                       row_group_size=max(1, batch_events // 4))


def queue_expected(paths: list[str], server_uuid: str) -> dict[int, str]:
    """seq -> the exact JSON payload ``CdcPipeline.transformed`` should
    emit for each event in ``paths`` (source envelope, then to_json)."""
    out: dict[int, str] = {}
    for p in paths:
        cols = pq.read_table(p).to_pydict()
        for seq, uid, et, val, props in zip(
            cols["event_id"], cols["user_id"], cols["event_type"],
            cols["value"], cols["props"],
        ):
            content = json.dumps({"after": {
                "event_id": str(seq), "user_id": str(uid),
                "event_type": et, "value": str(val), "props": props,
            }})
            out[seq] = json.dumps(
                {"event_type": OP_OF[et], "gtid": f"{server_uuid}:{seq}",
                 "database": "testdata", "table": "events",
                 "content": content, "seq": seq},
                separators=(",", ":"),
            )
    return out


# --- cdc_full -------------------------------------------------------------

VOCAB = 2000
DIM = 8
N_CELLS = 16
MIN_TOKENS = 5        # the main.py / cdc_full default quality gate
DELETE_EVERY = 8      # an in-band Delete wave every DELETE_EVERY triggers
DELETE_MOD = 97       # ... for ids in one residue class mod DELETE_MOD
FULL_SCHEMA = pa.schema([
    ("event_type", pa.string()),
    ("gtid_seq", pa.int64()),
    ("content", pa.struct([("doc_id", pa.int64()), ("text", pa.string()),
                           ("embedding", pa.list_(pa.float32()))])),
])


def _quantized(rng: np.random.RandomState, n: int) -> np.ndarray:
    """Vectors on a 1/1024 grid: exact in float32 and in float64."""
    return (rng.randint(-1024, 1025, (n, DIM)) / 1024.0).astype(np.float32)


def _texts(rng: np.random.RandomState, n: int) -> list[str]:
    """Gate-passing texts over a skewed vocabulary: P(w_k) grows with k,
    so high ids are frequent terms and low ids rare ones."""
    lens = rng.randint(6, 61, n)
    words = np.sqrt(rng.randint(0, VOCAB * VOCAB, int(lens.sum()))).astype(int)
    out, at = [], 0
    for n_tok in lens.tolist():
        out.append(" ".join(f"w{w}" for w in words[at:at + n_tok].tolist()))
        at += n_tok
    return out


def centroids(seed: int) -> list[tuple[int, list[float]]]:
    rng = np.random.RandomState(seed + 7919)
    return [(c, [float(x) for x in v])
            for c, v in enumerate(_quantized(rng, N_CELLS))]


def full_feed(out: str, seed: int, docs_per_trigger: int,
              n_triggers: int) -> None:
    """One envelope file per trigger (``env-<trigger>.parquet``).

    Trigger b carries ``docs_per_trigger`` new docs (version 0) and, for
    b > 0, over the previous trigger's docs: a good update (version b) of
    the tail quarter, a below-gate update (version b) of the second
    quarter, and a redelivery of the last fifth's version-0 envelopes.
    Every ``DELETE_EVERY``-th trigger also deletes in-band (sequence b)
    every doc seen so far in one residue class mod ``DELETE_MOD``."""
    rng = np.random.RandomState(seed)
    p = docs_per_trigger
    images: dict[int, tuple[str, np.ndarray]] = {}  # version-0 images
    for b in range(n_triggers):
        rows: list[tuple[str, int, int, str | None, np.ndarray | None]] = []
        new = range(b * p, (b + 1) * p)
        for d, t, v in zip(new, _texts(rng, p), _quantized(rng, p)):
            images[d] = (t, v)
            rows.append(("Insert", 0, d, t, v))
        if b > 0:
            base = (b - 1) * p
            good = range(base + 3 * p // 4, b * p)
            for d, t, v in zip(good, _texts(rng, len(good)),
                               _quantized(rng, len(good))):
                rows.append(("Update", b, d, t, v))
            bad = range(base + p // 4, base + p // 2)
            for d, v in zip(bad, _quantized(rng, len(bad))):
                rows.append(("Update", b, d, "tiny doc", v))
            for d in range(b * p - p // 5, b * p):
                rows.append(("Insert", 0, d, *images[d]))
        if b % DELETE_EVERY == DELETE_EVERY - 1:
            cls = (b // DELETE_EVERY) % DELETE_MOD
            for d in range(cls, (b + 1) * p, DELETE_MOD):
                rows.append(("Delete", b, d, None, None))
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        t = pa.table({
            "event_type": [r[0] for r in rows],
            "gtid_seq": pa.array([r[1] for r in rows], pa.int64()),
            "content": [
                {"doc_id": r[2], "text": r[3],
                 "embedding": None if r[4] is None else r[4].tolist()}
                for r in rows
            ],
        }, schema=FULL_SCHEMA)
        path = os.path.join(out, f"env-{b:05d}.parquet")
        pq.write_table(t, path)
        # the file source orders by modification time: make it the index
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))


def full_model(paths: list[str]) -> dict:
    """Latest-live gated corpus after ingesting ``paths`` in order (the
    cdc_full_soak.py rule): an upsert is admitted iff it passes the token
    gate, first-wins per (doc_id, version); a doc serves its highest
    admitted version unless an in-band Delete with a sequence at or above
    that version killed it."""
    admitted: dict[tuple[int, int], tuple[str, list[float]]] = {}
    kill: dict[int, int] = {}
    for p in paths:
        rows = pq.read_table(p).to_pylist()
        batch: dict[tuple[int, int], tuple[str, list[float]]] = {}
        for r in rows:
            c, seq = r["content"], r["gtid_seq"]
            if r["event_type"] == "Delete":
                kill[c["doc_id"]] = max(kill.get(c["doc_id"], -1), seq)
            elif len(c["text"].split(" ")) >= MIN_TOKENS:
                key = (c["doc_id"], seq)
                if key not in admitted:
                    img = (c["text"], c["embedding"])
                    batch[key] = min(batch.get(key, img), img)
        admitted.update(batch)
    latest: dict[int, int] = {}
    for d, v in admitted:
        latest[d] = max(latest.get(d, -1), v)
    live = {d: admitted[(d, v)] for d, v in latest.items()
            if v > kill.get(d, -1)}
    return {"ledger_rows": len(admitted), "live": live}


def probe_terms(seed: int, n: int) -> list[list[str]]:
    """BM25 term sets mixing rare (low id) and frequent (high id) words."""
    rng = np.random.RandomState(seed + 104_729)
    return [
        [f"w{k}" for k in rng.randint(5, 80, 2)]
        + [f"w{k}" for k in rng.randint(1_700, VOCAB, 2)]
        for _ in range(n)
    ]


def probe_vectors(seed: int, n: int) -> list[list[float]]:
    rng = np.random.RandomState(seed + 130_363)
    return [[float(x) for x in v] for v in _quantized(rng, n)]


# --- cache ----------------------------------------------------------------


def cached(cache_root: str, kind: str, params: dict, make) -> str:
    """Directory holding the feed ``make(dir)`` writes for ``params``,
    generated once per parameter set and reused by later runs."""
    key = json.dumps({"kind": kind, "v": FEED_VERSION, **params},
                     sort_keys=True)
    name = f"{kind}-{hashlib.sha256(key.encode()).hexdigest()[:16]}"
    final = os.path.join(cache_root, name)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    with open(os.path.join(tmp, "params.json"), "w") as f:
        f.write(key)
    os.replace(tmp, final)
    return final
