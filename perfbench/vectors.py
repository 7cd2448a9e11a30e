"""vector_search: ivf_query batches over a persisted IVF index, with an
ivf_append of newly arrived vectors every few batches.

The index is built once (ivf_build, part of set-up). Every batch is
checked against NumPy: returned cosines, ranks, that neighbours exist in
the index, and that queries copying a just-appended vector find it.
recall@10 is measured against a brute-force top-10 over base plus
appended vectors.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from kinesis_app_spark.operators.vectorindex import ivf_append, ivf_build, ivf_query

import gen
from spans import median

SIZES = {
    "full": {"n_base": 6000, "dims": 32, "batches": 60, "batch_q": 64,
             "append_every": 2, "append_n": 100, "centroids": 16},
    "tiny": {"n_base": 600, "dims": 8, "batches": 6, "batch_q": 8,
             "append_every": 2, "append_n": 20, "centroids": 4},
}
K, NPROBE = 10, 4


def prepare(seed: int, work: str, size: str) -> dict:
    sz = SIZES[size]
    vs = gen.vectors(seed, sz["n_base"], sz["dims"], sz["batches"],
                     sz["batch_q"], sz["append_every"], sz["append_n"])
    paths = {"base": os.path.join(work, "base.parquet")}
    gen.write_vectors(paths["base"], vs.base_ids, vs.base)
    for b, (qids, qv) in enumerate(vs.queries):
        gen.write_vectors(os.path.join(work, f"q{b}.parquet"), qids, qv)
        if vs.appends[b] is not None:
            ids, vecs = vs.appends[b]
            gen.write_vectors(os.path.join(work, f"a{b}.parquet"), ids, vecs)
    return {"vs": vs, "work": work, "centroids": sz["centroids"]}


def fixture(spark, ctx, inputs: dict, tag: str) -> dict:
    index = os.path.join(ctx.durable, f"index-{tag}")
    shutil.rmtree(index, ignore_errors=True)
    with ctx.tracer.span("vectorindex.build"):
        ivf_build(spark.read.parquet(os.path.join(inputs["work"], "base.parquet")),
                  index, n_centroids=inputs["centroids"])
    return {"index": index}


class Index:
    """What the index should hold: base plus every vector appended so far."""

    def __init__(self, vs: gen.VectorSet):
        self.ids = vs.base_ids.copy()
        self.vecs = vs.base.copy()

    def add(self, ids, vecs):
        self.ids = np.concatenate([self.ids, ids])
        self.vecs = np.concatenate([self.vecs, vecs])


def check_batch(idx: Index, qids, qv, fresh: dict, rows) -> tuple[bool, list[float]]:
    """(batch correct, recall@10 per query)."""
    pos = {int(i): n for n, i in enumerate(idx.ids)}
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(r)
    truth = gen.brute_top_k(idx.vecs, idx.ids, qv, K)
    ok = set(by_q) == {int(q) for q in qids}
    recalls = []
    for n, q in enumerate(qids):
        got = sorted(by_q.get(int(q), []), key=lambda r: r["rank"])
        ids = [int(r["neighbor_id"]) for r in got]
        ok &= len(got) == K and [r["rank"] for r in got] == list(range(1, K + 1))
        ok &= len(set(ids)) == len(ids) and all(i in pos for i in ids)
        if ok:
            cos = [gen.cosine(qv[n], idx.vecs[pos[i]]) for i in ids]
            ok &= all(abs(c - r["cos"]) < 1e-5 for c, r in zip(cos, got))
            ok &= all(a["cos"] >= b["cos"] for a, b in zip(got, got[1:]))
        if int(q) in fresh:
            ok &= bool(ids) and ids[0] == fresh[int(q)]
        recalls.append(len(set(ids) & truth[n]) / K)
    return ok, recalls


def warmup(spark, ctx, inputs: dict, fx: dict) -> bool:
    qids, _ = inputs["vs"].queries[0]
    rows = ivf_query(spark, fx["index"], spark.read.parquet(
        os.path.join(inputs["work"], "q0.parquet")), k=K, nprobe=NPROBE).collect()
    return len(rows) == K * len(qids)


def loop(spark, ctx, inputs: dict, fx: dict) -> dict:
    vs, work, index = inputs["vs"], inputs["work"], fx["index"]
    idx = Index(vs)
    tr = ctx.tracer
    batch_s, recalls = [], []
    attempted = failed = answered = 0
    cpu0 = ctx.cpu()
    t0 = time.perf_counter()
    b = 0
    # at least up to the first append, so every run measures one
    first_append = next(i for i, a in enumerate(vs.appends) if a is not None)
    while b < len(vs.queries) and (b <= first_append or time.perf_counter() - t0 < ctx.seconds):
        with ctx.jobs.unit(f"batch-{b}"):
            if vs.appends[b] is not None:
                ids, vecs = vs.appends[b]
                with tr.span("vectorindex.append", unit=b):
                    ivf_append(spark.read.parquet(os.path.join(work, f"a{b}.parquet")), index)
                idx.add(ids, vecs)
                attempted += 1
            qids, qv = vs.queries[b]
            t = time.perf_counter()
            with tr.span("vectorindex.query", unit=b):
                rows = ivf_query(
                    spark, index,
                    spark.read.parquet(os.path.join(work, f"q{b}.parquet")),
                    k=K, nprobe=NPROBE,
                ).collect()
            batch_s.append(time.perf_counter() - t)
        if ctx.corrupt:
            rows = rows[1:]
        attempted += 1
        answered += len(qids)
        ok, rec = check_batch(idx, qids, qv, vs.fresh[b], rows)
        failed += not ok
        recalls += rec
        b += 1
    wall = time.perf_counter() - t0
    cpu = ctx.cpu() - cpu0
    qps = answered / wall
    out = {
        "attempted": attempted,
        "failed": failed,
        "units": len(batch_s),
        "e2e": {
            "units_per_s": qps,
            "unit_s_p50": median(batch_s),
            "result_quality": float(np.mean(recalls)),
        },
        "extra": {"query_batches": (len(batch_s), "count")},
        "cpu_s": cpu,
        "unit_s": batch_s,
    }
    if tr.enabled:
        n_probed = _probed_rows(index, vs, b)
        out["layers"] = {
            "vectorindex.query_s_p50": (median(tr.durations("vectorindex.query")), "s"),
            "vectorindex.append_s_p50": (median(tr.durations("vectorindex.append")), "s"),
            "vectorindex.probed_rows_per_query": (n_probed, "count"),
            "vectorindex.scan_yield": (K / max(n_probed, 1), "ratio"),
            "vectorindex.postings_files": (_n_files(os.path.join(index, "postings.parquet")), "count"),
        }
        out["unit_tags"] = [f"batch-{i}" for i in range(b)]
    return out


def _n_files(d: str) -> int:
    return sum(n.endswith(".parquet") for _r, _d, ns in os.walk(d) for n in ns)


def _probed_rows(index: str, vs, n_batches: int) -> float:
    """Rows an ivf_query scores per query, from the index as written: the
    postings of the NPROBE cells whose centroids are closest by cosine,
    averaged over the run's queries (against the final index)."""
    cents = pq.read_table(os.path.join(index, "centroids.parquet")).to_pydict()
    cv = np.array(cents["centv"], dtype=np.float64)
    cv /= np.linalg.norm(cv, axis=1, keepdims=True)
    cell_ids = np.array(cents["cell"])
    sizes = {}
    for d in os.listdir(os.path.join(index, "postings.parquet")):
        if d.startswith("cell="):
            sizes[int(d[5:])] = sum(
                pq.read_metadata(os.path.join(index, "postings.parquet", d, f)).num_rows
                for f in os.listdir(os.path.join(index, "postings.parquet", d))
                if f.endswith(".parquet"))
    q = np.concatenate([vs.queries[i][1] for i in range(n_batches)]).astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    top = np.argsort(-(q @ cv.T), axis=1, kind="stable")[:, :NPROBE]
    return float(np.mean([sum(sizes.get(int(cell_ids[c]), 0) for c in row) for row in top]))
