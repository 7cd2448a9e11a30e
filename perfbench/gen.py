"""Seeded input generators and their ground truth.

Pure NumPy/PyArrow, no Spark: the program under test sees only the files
and arrays made here, and the expected results are computed here by plain
NumPy, independently of the program. The same seed gives the same inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- kinesis

#: event-time span of one epoch's fresh records, and the watermark delay
#: the workload passes to streaming_dedup. Re-deliveries repeat a record
#: of the same or the previous epoch, so they stay inside the delay and
#: are dropped by the dedup state. Late rows start at epoch 2 and sit two
#: epoch spans behind the watermark: the engine applies the maximum event
#: time seen in epoch e to epoch e+1 or e+2 (it lags one more epoch when
#: no-data batches are off), and they are late either way.
EPOCH_SPAN_S = 10
WATERMARK_DELAY_S = 60
WATERMARK_DELAY = "60 seconds"
BASE_TS_S = 1_700_000_000
N_SHARDS = 4
REDELIVERY_SHARE = 0.05
LATE_SHARE = 0.01

STREAM_SCHEMA = pa.schema(
    [
        ("streamName", pa.string()),
        ("shardId", pa.string()),
        ("sequenceNumber", pa.string()),
        ("partitionKey", pa.string()),
        ("data", pa.binary()),
        ("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class KinesisTruth:
    """Per-epoch fresh (counted) records; ``expected(k)`` is the table the
    processor must hold after epochs 0..k-1 are merged."""

    n_users: int
    per_epoch: int
    users: list[np.ndarray]  # fresh, on-time records' user index per epoch
    cents: list[np.ndarray]
    redelivered: list[int]  # planted re-deliveries per epoch
    late: list[int]  # planted late rows per epoch

    def expected(self, n_epochs: int) -> dict[str, tuple[int, int]]:
        if n_epochs == 0:
            return {}
        u = np.concatenate(self.users[:n_epochs])
        c = np.concatenate(self.cents[:n_epochs])
        cnt = np.bincount(u, minlength=self.n_users)
        tot = np.bincount(u, weights=c, minlength=self.n_users)
        return {
            user_key(i): (int(cnt[i]), int(round(tot[i])))
            for i in np.nonzero(cnt)[0]
        }


def user_key(i: int) -> str:
    return f"user-{i:05d}"


def kinesis_backlog(
    seed: int, out_dir: str, n_epochs: int, per_epoch: int, n_users: int
) -> KinesisTruth:
    """Land ``n_epochs`` files of ``per_epoch`` STREAM_RECORD rows each.

    Each file holds fresh records with Zipf-skewed user keys, about 5%
    at-least-once re-deliveries of an earlier record (same shardId,
    sequenceNumber and arrival time) and, from epoch 2 on, about 1% rows
    behind the watermark. Files get strictly increasing modification
    times, so the file source reads file ``e`` as epoch ``e``.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    weights = 1.0 / np.arange(1, n_users + 1) ** 1.1
    weights /= weights.sum()
    perm = rng.permutation(n_users)  # hot users are not the low ids
    n_dup = int(round(per_epoch * REDELIVERY_SHARE))
    next_seq = np.zeros(N_SHARDS, dtype=np.int64)
    truth = KinesisTruth(n_users, per_epoch, [], [], [], [])
    prev: dict[str, np.ndarray] | None = None
    mtime0 = int(os.path.getmtime(out_dir)) - 2 * n_epochs
    for e in range(n_epochs):
        n_late = int(round(per_epoch * LATE_SHARE)) if e >= 2 else 0
        n_fresh = per_epoch - n_dup - n_late
        n_new = n_fresh + n_late
        shard = rng.integers(0, N_SHARDS, n_new)
        seq = np.empty(n_new, dtype=np.int64)
        for s in range(N_SHARDS):
            idx = np.nonzero(shard == s)[0]
            seq[idx] = next_seq[s] + np.arange(len(idx))
            next_seq[s] += len(idx)
        users = perm[rng.choice(n_users, n_new, p=weights)]
        cents = rng.integers(1, 100_000, n_new)
        t0 = BASE_TS_S + e * EPOCH_SPAN_S
        ts = t0 + rng.uniform(0, EPOCH_SPAN_S, n_new)
        ts[n_fresh:] = (
            t0 - 2 * EPOCH_SPAN_S - WATERMARK_DELAY_S - 1
            - rng.uniform(0, EPOCH_SPAN_S, n_late)
        )
        cur = {"shard": shard, "seq": seq, "users": users,
               "cents": cents, "ts": ts}
        # re-deliveries copy fresh records of this or the previous epoch
        fresh = {k: v[:n_fresh] for k, v in cur.items()}
        src = fresh if prev is None else {
            k: np.concatenate([prev[k], v]) for k, v in fresh.items()
        }
        pick = rng.integers(0, len(src["seq"]), n_dup)
        rows = {k: np.concatenate([v, src[k][pick]]) for k, v in cur.items()}
        order = rng.permutation(per_epoch)
        rows = {k: v[order] for k, v in rows.items()}
        table = pa.table(
            {
                "streamName": pa.array(["bench-stream"] * per_epoch),
                "shardId": pa.array(
                    [f"shardId-{s:012d}" for s in rows["shard"]]
                ),
                "sequenceNumber": pa.array(
                    [f"{s:056d}" for s in rows["seq"]]
                ),
                "partitionKey": pa.array([user_key(u) for u in rows["users"]]),
                "data": pa.array(
                    [b'{"cents":%d}' % c for c in rows["cents"]],
                    type=pa.binary(),
                ),
                "approximateArrivalTimestamp": pa.array(
                    (rows["ts"] * 1e6).astype(np.int64),
                    type=pa.timestamp("us", tz="UTC"),
                ),
            },
            schema=STREAM_SCHEMA,
        )
        path = os.path.join(out_dir, f"epoch-{e:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (mtime0 + 2 * e, mtime0 + 2 * e))
        truth.users.append(users[:n_fresh])
        truth.cents.append(cents[:n_fresh])
        truth.redelivered.append(n_dup)
        truth.late.append(n_late)
        prev = fresh
    return truth


# ----------------------------------------------------------------- corpus

EN_STOP = ("the", "a", "of", "and", "is", "to", "in", "it", "on", "for")
ES_MARK = ("el", "la", "de", "y", "es")
#: per-document labels; the program must keep every "unique" document,
#: drop every "exact" and "gated" one, and should drop every "near" one
LABELS = ("unique", "exact", "near", "gated")


@dataclass
class CorpusTruth:
    doc_ids: np.ndarray
    labels: np.ndarray  # one of LABELS per doc_id

    def ids(self, label: str) -> set[int]:
        return set(self.doc_ids[self.labels == label].tolist())


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    # four or more letters: never collides with a language marker word
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        chars = letters[rng.integers(0, 26, (n, 8))]
        lens = rng.integers(4, 9, n)
        words.update("".join(c[:k]) for c, k in zip(chars, lens))
    return np.array(sorted(words)[:n])


def _doc(rng, vocab, markers, n_words, marker_share) -> list[str]:
    w = vocab[rng.integers(0, len(vocab), n_words)]
    m = rng.random(n_words) < marker_share
    w[m] = np.asarray(markers)[rng.integers(0, len(markers), int(m.sum()))]
    return w.tolist()


def corpus(
    seed: int, path: str, n_docs: int, exact_share: float = 0.1,
    near_share: float = 0.1, gated_share: float = 0.1,
) -> CorpusTruth:
    """Write a (doc_id, text) parquet file of ``n_docs`` documents.

    Planted: unique English documents; exact duplicates of a unique
    document (different case and whitespace, so they normalize equal);
    near-duplicates (about 5% of a unique document's words replaced);
    and documents that fail the gate (Spanish, or too short and
    non-alphabetic to reach the quality bar). Every duplicate gets a
    higher doc_id than its source, so the source is the survivor under
    the program's min-id rule.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 20_000)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_gated = int(n_docs * gated_share)
    n_unique = n_docs - n_exact - n_near - n_gated
    texts: list[str] = []
    labels: list[str] = []
    for _ in range(n_unique):
        texts.append(" ".join(_doc(rng, vocab, EN_STOP, int(rng.integers(60, 120)), 0.3)))
        labels.append("unique")
    for _ in range(n_exact):
        src = texts[int(rng.integers(0, n_unique))].split(" ")
        texts.append("  ".join(w.upper() if rng.random() < 0.3 else w for w in src) + " \n")
        labels.append("exact")
    for _ in range(n_near):
        w = texts[int(rng.integers(0, n_unique))].split(" ")
        n_edit = max(1, int(round(0.05 * len(w))))
        for i in rng.choice(len(w), n_edit, replace=False):
            w[i] = str(rng.choice(vocab))
        texts.append(" ".join(w))
        labels.append("near")
    for i in range(n_gated):
        if i % 2:
            texts.append(" ".join(_doc(rng, vocab, ES_MARK, int(rng.integers(60, 120)), 0.35)))
        else:
            texts.append(" ".join(f"{int(x)}" for x in rng.integers(0, 10**6, 6)))
        labels.append("gated")
    # sources are listed before their copies, so increasing ids keep
    # every source below its duplicates
    doc_ids = np.cumsum(rng.integers(1, 4, n_docs)).astype(np.int64)
    table = pa.table({"doc_id": pa.array(doc_ids), "text": pa.array(texts)})
    pq.write_table(table, path)
    return CorpusTruth(doc_ids, np.array(labels))


# ---------------------------------------------------------------- vectors

@dataclass
class VectorSet:
    base_ids: np.ndarray
    base: np.ndarray  # float32 (n, dims), as written
    appends: list[tuple[np.ndarray, np.ndarray]]  # (ids, vecs) per append
    queries: list[tuple[np.ndarray, np.ndarray]]  # (ids, vecs) per batch
    #: per batch: query id -> the appended vector id it copies (a fresh
    #: query must find that vector, proving appends are visible)
    fresh: list[dict[int, int]]


QUERY_ID_BASE = 1_000_000_000


def vectors(
    seed: int, n_base: int, dims: int, n_batches: int, batch_q: int,
    append_every: int, append_n: int, n_clusters: int = 32,
) -> VectorSet:
    """Clustered embeddings: ``n_base`` base vectors, then ``n_batches``
    query batches with ``append_n`` new vectors arriving before batch 1
    and every ``append_every``-th batch after it (the first append comes
    early, so a short run measures one). Each batch after an append holds a few
    queries that are near-copies of just-appended vectors."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dims))

    def draw(n):
        c = rng.integers(0, n_clusters, n)
        return (centers[c] + 0.35 * rng.normal(size=(n, dims))).astype(np.float32)

    base_ids = rng.permutation(n_base).astype(np.int64)
    base = draw(n_base)
    appends, queries, fresh = [], [], []
    next_id = n_base
    next_q = QUERY_ID_BASE
    for b in range(n_batches):
        f: dict[int, int] = {}
        qv = draw(batch_q)
        if b % append_every == 1 % append_every:
            ids = np.arange(next_id, next_id + append_n, dtype=np.int64)
            next_id += append_n
            vecs = draw(append_n)
            appends.append((ids, vecs))
            for j, src in enumerate(rng.choice(append_n, min(4, append_n, batch_q), replace=False)):
                qv[j] = vecs[src] + 1e-3 * rng.normal(size=dims).astype(np.float32)
                f[next_q + j] = int(ids[src])
        else:
            appends.append(None)
        qids = np.arange(next_q, next_q + batch_q, dtype=np.int64)
        next_q += batch_q
        queries.append((qids, qv))
        fresh.append(f)
    return VectorSet(base_ids, base, appends, queries, fresh)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            }
        ),
        path,
    )


def brute_top_k(index_vecs: np.ndarray, index_ids: np.ndarray,
                q: np.ndarray, k: int) -> list[set[int]]:
    """Exact cosine top-k neighbour ids per query (NumPy brute force)."""
    a = index_vecs.astype(np.float64)
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    b = q.astype(np.float64)
    b /= np.linalg.norm(b, axis=1, keepdims=True)
    sims = b @ a.T
    top = np.argpartition(-sims, k - 1, axis=1)[:, :k]
    return [set(index_ids[row].tolist()) for row in top]


def cosine(u, v) -> float:
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))

