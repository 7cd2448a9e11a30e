"""kinesis_ingest: drain a landed backlog of Kinesis-shaped records.

file_stream (one file per trigger, so every epoch has the same size) ->
streaming_dedup within a watermark -> a run_processor callback that
aggregates per user and vt_merges the running totals into a versioned
table, tagged with the epoch's batch_id. Closed loop: the engine starts
the next epoch only after the previous one commits.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

from pyspark.sql import functions as F

from kinesis_app_spark.operators.versioned import (
    vt_committed_batch_ids,
    vt_create,
    vt_files,
    vt_latest_version,
    vt_merge,
    vt_read,
)
from kinesis_app_spark.pinning import pin
from kinesis_app_spark.schemas import STREAM_RECORD
from kinesis_app_spark.streaming.ops import streaming_dedup
from kinesis_app_spark.streaming.runner import StreamRunner
from kinesis_app_spark.streaming.sources import file_stream

import gen
from spans import drain_listener_bus, median, pct

SIZES = {
    # per_epoch records per epoch file; epochs is the backlog's upper
    # bound (the run stops on time, long before it drains)
    "full": {"per_epoch": 2000, "n_users": 2000, "epochs": 80},
    "tiny": {"per_epoch": 200, "n_users": 50, "epochs": 12},
}

TABLE_SCHEMA = "user string, n long, cents long"
#: epochs before the clock starts on a cold JVM. Measured on a 4-vCPU VM:
#: epoch 0 (query start) takes ~6 s, epoch 1 ~2.3 s, epochs 2-5 ~1.6 s,
#: 6-9 1.3-1.45 s, and from epoch 10 on 1.0-1.2 s. Six epochs take the
#: query start and the steepest JIT warm-up out of the clock within a
#: run's time budget (a cold JVM and the first set-up already cost ~17 s)
WARMUP_EPOCHS = 6


def prepare(seed: int, work: str, size: str) -> dict:
    sz = SIZES[size]
    src = os.path.join(work, "backlog")
    truth = gen.kinesis_backlog(
        seed, src, sz["epochs"], sz["per_epoch"], sz["n_users"]
    )
    return {"src": src, "truth": truth}


def fixture(spark, ctx, inputs: dict, tag: str) -> dict:
    table = os.path.join(ctx.durable, f"table-{tag}")
    shutil.rmtree(table, ignore_errors=True)
    with ctx.tracer.span("versioned.create"):
        vt_create(spark.createDataFrame([], TABLE_SCHEMA), table)
    return {"table": table}


def _processor(spark, ctx, table: str, state: dict):
    cents = F.get_json_object(F.col("data").cast("string"), "$.cents")

    def process(batch_df, batch_id: int) -> None:
        if state["stop"]:
            # past the time limit: leave the table as it is, but read the
            # epoch in full, as the engine requires of a stateful batch
            batch_df.write.format("noop").mode("overwrite").save()
            return
        with ctx.jobs.unit(f"epoch-{batch_id}"), ctx.tracer.span(
            "streaming.processor", unit=batch_id, parent=state["drain_span"]
        ):
            # pinned: vt_merge reads its change set more than once, and the
            # stateful dedup upstream must run once per epoch
            agg = pin(batch_df.groupBy(F.col("partitionKey").alias("user")).agg(
                F.count(F.lit(1)).alias("bn"),
                F.sum(cents.cast("long")).alias("bc"),
            ), eager=True)
            cur = vt_read(spark, table)
            upd = agg.join(cur, "user", "left").select(
                "user",
                (F.coalesce(F.col("n"), F.lit(0)) + F.col("bn")).alias("n"),
                (F.coalesce(F.col("cents"), F.lit(0)) + F.col("bc")).alias("cents"),
                F.lit("U").alias("op"),
            )
            with ctx.tracer.span("versioned.merge", unit=batch_id):
                state["versions"].append(vt_merge(
                    spark, table, upd, keys=["user"], batch_id=int(batch_id)))
        now = time.perf_counter()
        state["merged"].append(int(batch_id))
        state["done_at"][int(batch_id)] = now
        merged, warm = state["merged"], state["warm"]
        if len(merged) > warm and now - state["done_at"][merged[warm - 1]] >= ctx.seconds:
            state["stop"] = True
        if state["stop"] or len(merged) == state["n_files"]:
            state["done"].set()

    return process


def loop(spark, ctx, inputs: dict, fx: dict) -> dict:
    table, truth = fx["table"], inputs["truth"]
    ckpt = os.path.join(ctx.durable, "checkpoint")
    shutil.rmtree(ckpt, ignore_errors=True)
    # on a JVM that already ran the workload, only the query-start epoch
    warm = 1 if ctx.jvm_warm else min(WARMUP_EPOCHS, len(truth.users) // 2)
    state = {"stop": False, "merged": [], "done_at": {}, "versions": [],
             "drain_span": None, "warm": warm, "n_files": len(truth.users),
             "done": threading.Event()}
    # one dedup state store per core, as a streaming deployment sizes it
    # (the session default is sized for batch shuffles, which AQE coalesces)
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(spark.sparkContext.defaultParallelism))
    cpu0 = ctx.cpu()
    with ctx.tracer.span("streaming.drain") as drain:
        state["drain_span"] = drain
        with ctx.tracer.span("sources.file_stream"):
            stream = file_stream(spark, inputs["src"], STREAM_RECORD,
                                 max_files_per_trigger=1)
        with ctx.tracer.span("streaming.dedup"):
            deduped = streaming_dedup(
                stream, ["shardId", "sequenceNumber"],
                watermark=("approximateArrivalTimestamp", gen.WATERMARK_DELAY),
            )
        with ctx.tracer.span("streaming.query_start"):
            q = StreamRunner(ckpt).run_processor(
                deduped, _processor(spark, ctx, table, state),
                query_name="bench_ingest", output_mode="append",
            )
        while q.isActive and not state["done"].wait(1.0):
            pass
        # let the last merged epoch finish its trigger and report progress
        deadline = time.monotonic() + 30
        while (q.isActive and state["merged"] and time.monotonic() < deadline
               and state["merged"][-1] not in ctx.progress.by_batch()):
            time.sleep(0.05)
        q.stop()
    drain_listener_bus(spark)
    cpu = ctx.cpu() - cpu0
    error = q.exception()
    merged = state["merged"]
    k = len(merged)
    progress = ctx.progress.by_batch()
    steady = [b for b in merged[warm:] if b in progress]
    failed = 0 if error is None and steady else 1
    # the epochs, in order, and the table they left behind
    ok = merged == list(range(k)) and vt_committed_batch_ids(table) == set(
        range(k)
    )
    got = {
        r["user"]: (int(r["n"]), int(r["cents"]))
        for r in vt_read(spark, table).collect()
    }
    if ctx.corrupt and got:
        got.pop(min(got))
    if not ok or got != truth.expected(k):
        failed = k + 1
    # every epoch drops exactly its planted re-deliveries and late rows
    dropped_dup = dropped_late = rows_in = 0
    for b in merged:
        p = progress.get(b)
        if p is None:
            continue
        ops = p.get("stateOperators") or [{}]
        dd = sum(int(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)) for o in ops)
        dl = sum(int(o.get("numRowsDroppedByWatermark", 0)) for o in ops)
        if (dd, dl) != (truth.redelivered[b], truth.late[b]):
            failed = min(failed + 1, k + 1)
        dropped_dup += dd
        dropped_late += dl
        rows_in += int(p["numInputRows"])
    epoch_s = [progress[b]["durationMs"]["triggerExecution"] / 1000.0 for b in steady]
    records = sum(int(progress[b]["numInputRows"]) for b in steady)
    drain_s = (state["done_at"][steady[-1]]
               - state["done_at"][merged[warm - 1]]) if steady else 1.0
    out = {
        "attempted": k + 1,  # the epochs plus the final table check
        "failed": failed,
        "error": None if error is None else str(error)[:2000],
        "units": len(steady),
        "e2e": {
            "units_per_s": records / drain_s,
            "unit_s_p50": median(epoch_s),
        },
        "extra": {
            "epoch_s_p90": (pct(epoch_s, 90), "s"),
            "steady_epochs": (len(steady), "count"),
        },
        "cpu_s": cpu,
        "unit_s": epoch_s,
    }
    if ctx.tracer.enabled:
        out["layers"] = _layers(ctx, progress, steady, state, table,
                                dropped_dup, dropped_late, rows_in, warm)
        out["unit_tags"] = [f"epoch-{b}" for b in steady]
    return out


def _layers(ctx, progress, steady, state, table, dropped_dup,
            dropped_late, rows_in, warm) -> dict:
    def dur(key):
        return median([progress[b]["durationMs"].get(key, 0) for b in steady])

    def ops(b):
        return progress[b].get("stateOperators") or []

    last = progress[steady[-1]] if steady else {}
    live = vt_files(table, vt_latest_version(table)) or []
    merges = ctx.tracer.durations("versioned.merge")[warm:]
    # data files each steady merge added, read from the table afterwards
    added = []
    for v in state["versions"][warm:]:
        before = {f["path"] for f in vt_files(table, v - 1) or []}
        added.append(sum(f["path"] not in before for f in vt_files(table, v) or []))
    return {
        "sources.latest_offset_ms_p50": (dur("latestOffset"), "ms"),
        "sources.get_batch_ms_p50": (dur("getBatch"), "ms"),
        "streaming.query_start_s": (
            ctx.tracer.durations("streaming.query_start")[0], "s"),
        "streaming.add_batch_ms_p50": (dur("addBatch"), "ms"),
        "streaming.wal_commit_ms_p50": (dur("walCommit"), "ms"),
        "streaming.commit_offsets_ms_p50": (dur("commitOffsets"), "ms"),
        "streaming.query_planning_ms_p50": (dur("queryPlanning"), "ms"),
        "streaming.processor_s_p50": (
            median(ctx.tracer.durations("streaming.processor")[warm:]), "s"),
        "streaming.state_commit_ms_p50": (median(
            [sum(o.get("commitTimeMs", 0) for o in ops(b)) for b in steady]), "ms"),
        "streaming.state_rows_total": (
            sum(o.get("numRowsTotal", 0) for o in last.get("stateOperators") or []), "count"),
        "streaming.state_memory_bytes": (
            sum(o.get("memoryUsedBytes", 0) for o in last.get("stateOperators") or []), "bytes"),
        "streaming.dedup_drop_ratio": (dropped_dup / max(rows_in, 1), "ratio"),
        "streaming.late_rows_dropped": (dropped_late, "count"),
        "versioned.merge_s_p50": (median(merges), "s"),
        "versioned.files_per_merge": (median(added), "count"),
        "versioned.live_files": (len(live), "count"),
        "versioned.table_bytes": (
            sum(os.path.getsize(f["path"]) for f in live
                if os.path.exists(f["path"])), "bytes"),
    }
