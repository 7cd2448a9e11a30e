"""A REAL AWS Kinesis connector built on Spark's Python DataSource API and
boto3 — the reference's live-Kinesis I/O path (src/Kinesis/Kinesis.hs)
re-expressed Spark-first, testable end-to-end against a local moto server
and pointable at real AWS by changing ``endpointUrl``.

Parity map (reference -> here):
- `getAllShards` / DescribeStream paging (src/Kinesis/Kinesis.hs:42-49)
  -> ``_list_shards``: boto3 ``list_shards`` with NextToken paging; batch
  ``partitions()`` emits one InputPartition per shard, so Spark schedules
  one task per shard exactly like the reference's one-worker-per-shard
  assignment (src/Kinesis/Coordination.hs:248-257).
- `streamRecords` iterator loop + AfterSequenceNumber resume
  (src/Kinesis/Kinesis.hs:54-77) -> ``_drain_shard`` (batch snapshot) and
  ``KinesisSimpleStreamReader.read`` (micro-batch tail); offsets are
  {shardId: last_sequence_number} dicts persisted in the checkpoint log —
  the reference's Redis ``_shardSeq`` (src/Kinesis/Types.hs:98) done by
  the engine, exactly-once instead of at-least-once.
- the retry taxonomy `kinesisH`/`httpRetryH`/`networkRetryH` +
  `awsPolicy` (src/Kinesis/Kinesis.hs:89-176: exponential backoff from
  25 ms capped at 60 s, bounded attempts, retry throttling/5xx/transport
  errors, crash on everything else) -> ``_with_retries``.

Scale posture: the BATCH reader is the high-throughput path — per-shard
tasks run ``GetRecords`` loops executor-side in parallel, yielding one
Arrow RecordBatch per fetch (never per-row pickling), so a backfill of a
large resharded stream fans out across the cluster. TWO streaming
readers (option ``readerMode``):

- ``simple`` (default): ``SimpleDataSourceStreamReader`` — driver-side
  prefetch with exact {shardId: seq} offsets; right for a
  control-plane-rate tail (Kinesis's own per-shard caps mean a single
  driver thread tails a handful of shards fine).
- ``partitioned`` (round 4): a full ``DataSourceStreamReader`` that
  plans one InputPartition PER SHARD per micro-batch, so executors run
  the GetRecords loops in parallel — the high-rate / many-shard tail
  path that removes the driver-side caveat. Offsets are arrival-TIME
  bounds ({"ts_us": T}): Kinesis has no cheap "end offset" metadata
  call (unlike Kafka), so the planner pins a timestamp instead and
  ``read`` takes exactly the records with start < arrival <= end via a
  native ``AT_TIMESTAMP`` iterator — no data moves at planning time,
  and replay of a committed range is deterministic because arrival
  timestamps are server-assigned and immutable. Boundary discipline:
  per-shard arrival times are non-decreasing (one sequencer per
  shard), records with arrival == start are skipped (they belonged to
  the previous batch), ``planningLagSeconds`` (default 2) backs the
  bound off the wall clock so an in-flight put or clock skew can
  never stamp a record at-or-before an already-planned bound
  (set 0 only on clock-synchronized rigs probing the boundary).

Sequence numbers are kept as their native opaque decimal STRINGS (they
exceed int64); ordering comparisons go through ``int()``.

The PRODUCER half lives here too (``KinesisBotoWriter`` /
``KinesisBotoStreamWriter``): PutRecords with the API's 500-record/5 MiB
batching, call-level retry via the same backoff policy, and
partial-failure retry (only the per-record-failed subset resends), so
``df.write.format("kinesis_boto")`` and ``writeStream`` close the E2E
loop the reference leaves to an external producer.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

SCHEMA = (
    "shardId string, sequenceNumber string, partitionKey string, "
    "data binary, approximateArrivalTimestamp timestamp"
)

#: Kinesis error codes the reference retries (kinesisH,
#: src/Kinesis/Kinesis.hs:125-135) plus their modern boto3 spellings.
_RETRYABLE_CODES = {
    "ProvisionedThroughputExceededException",
    "InternalFailure",
    "InternalServerError",
    "ServiceUnavailable",
    "ServiceUnavailableException",
    "LimitExceededException",
    "ThrottlingException",
}


def _conn_opts(options) -> dict:
    """Connection params from (lowercased) DataSource options. Credentials
    fall back to the default boto3 chain when absent."""
    return {
        "stream": options.get("streamname"),
        "region": options.get("region", "us-east-1"),
        "endpoint_url": options.get("endpointurl") or None,
        "access_key": options.get("accesskeyid") or None,
        "secret_key": options.get("secretaccesskey") or None,
        "session_token": options.get("sessiontoken") or None,
        "max_fetch": int(options.get("maxrecordsperfetch", 10000)),
        "max_retries": int(options.get("maxretries", 10)),
        "starting_position": options.get(
            "startingposition", "TRIM_HORIZON"
        ).upper(),
        "reader_mode": options.get("readermode", "simple").lower(),
        # default 2 s: the partitioned planner's arrival-time bound must
        # trail the wall clock far enough that an in-flight put (or
        # driver-vs-Kinesis clock skew) cannot be stamped at-or-before an
        # already-planned bound after the executor read drained to tip —
        # with 0 such a record lands <= start of the NEXT batch and is
        # skipped forever (round-4 advice). 0 remains available for
        # clock-synchronized test rigs probing the boundary protocol.
        "planning_lag_s": float(options.get("planninglagseconds", 2.0)),
        # maxOffsetsPerTrigger analogue for the arrival-time protocol:
        # cap how far one micro-batch's bound may advance past the last
        # planned bound, so a TRIM_HORIZON start drains a multi-day
        # backlog in bounded batches instead of making micro-batch 1 the
        # entire retained stream (the reference's configRecordBatch,
        # src/Kinesis/Types.hs:79-80, re-expressed for time bounds).
        # 0 = unbounded (one batch takes the whole backlog). Use with
        # processingTime triggers: Trigger.AvailableNow pins its drain
        # target from the FIRST latestOffset, which a cap bounds to one
        # window — the cap is for continuous tails, not one-shot drains.
        "max_batch_s": float(options.get("maxbatchseconds", 0.0)),
        # planner-state directory for maxBatchSeconds (round 6): the
        # planner persists its last EMITTED arrival bound here so a
        # restarted process resumes capping from a position that is
        # never behind the checkpoint (every checkpointed bound was
        # emitted, and every emission is persisted first). Without it a
        # clean restart's first latestOffset runs UNCAPPED once (safe
        # but unbounded — see latestOffset). Must live and die with the
        # query's checkpointLocation. Deleting the CHECKPOINT but
        # keeping the state is safe (the persisted bound is at-or-ahead
        # of anything the dead checkpoint held); deleting the STATE but
        # keeping the checkpoint is NOT a supported reset — a
        # configured-but-empty state dir is taken as "genuinely fresh
        # query" and the first cap anchors at the backlog head, which
        # an invisible surviving checkpoint may already be past. Reset
        # by deleting both.
        "planner_state_dir": options.get("plannerstatedir") or None,
        # how far past a batch's end bound the executor scan keeps
        # looking for out-of-order stragglers before stopping (round 6:
        # the stop rule is a pure function of (start, end, this
        # constant) — never of GetRecords response framing — so a
        # committed batch replays to the identical record set). AWS
        # documents arrival stamps as approximate; sub-second reorder is
        # the observed envelope, 1 s covers it. Changing the value
        # between a run and its restart changes replay membership:
        # treat it as fixed per checkpoint, like planningLagSeconds.
        "boundary_jitter_s": float(options.get("boundaryjitterseconds", 1.0)),
    }


def _client(conn: dict):
    import boto3

    return boto3.client(
        "kinesis",
        region_name=conn["region"],
        endpoint_url=conn["endpoint_url"],
        aws_access_key_id=conn["access_key"],
        aws_secret_access_key=conn["secret_key"],
        aws_session_token=conn["session_token"],
    )


def _is_retryable(exc) -> bool:
    """The reference's three retry handlers collapsed: Kinesis error codes
    (kinesisH), HTTP transport faults (httpRetryH) and socket-level
    IOExceptions (networkRetryH) retry; everything else crashes."""
    from botocore.exceptions import (
        BotoCoreError,
        ClientError,
        ConnectionError as BotoConnectionError,
    )

    if isinstance(exc, ClientError):
        code = exc.response.get("Error", {}).get("Code", "")
        status = (
            exc.response.get("ResponseMetadata", {}).get("HTTPStatusCode", 0)
        )
        return code in _RETRYABLE_CODES or status >= 500
    if isinstance(exc, (BotoConnectionError, OSError)):
        return True
    return isinstance(exc, BotoCoreError) and "timeout" in str(exc).lower()


def _with_retries(fn, max_retries: int):
    """`awsPolicy n` (src/Kinesis/Kinesis.hs:139-142): exponential backoff
    from 25 ms, delay capped at 60 s, at most ``max_retries`` retries."""
    delay = 0.025
    for attempt in range(max_retries + 1):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — filtered by _is_retryable
            if attempt >= max_retries or not _is_retryable(e):
                raise
            time.sleep(min(delay, 60.0))
            delay *= 2


def _list_shards(client, stream: str, max_retries: int) -> list[dict]:
    """All shards, NextToken-paged — `getAllShards`'s awsIteratedList."""
    shards, token = [], None
    while True:
        def call(tok=token):
            if tok:
                return client.list_shards(NextToken=tok)
            return client.list_shards(StreamName=stream)

        resp = _with_retries(call, max_retries)
        shards.extend(resp["Shards"])
        token = resp.get("NextToken")
        if not token:
            return shards


def _to_utc_naive(ts) -> dt.datetime | None:
    if ts is None:
        return None
    if ts.tzinfo is not None:
        ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return ts


def _records_to_rows(shard_id: str, records: list[dict]) -> list[tuple]:
    return [
        (
            shard_id,
            r["SequenceNumber"],
            r["PartitionKey"],
            bytes(r["Data"]),
            _to_utc_naive(r.get("ApproximateArrivalTimestamp")),
        )
        for r in records
    ]


def _rows_batch(rows: list[tuple]):
    import pyarrow as pa

    return pa.record_batch(
        {
            "shardId": pa.array([r[0] for r in rows], pa.string()),
            "sequenceNumber": pa.array([r[1] for r in rows], pa.string()),
            "partitionKey": pa.array([r[2] for r in rows], pa.string()),
            "data": pa.array([r[3] for r in rows], pa.binary()),
            "approximateArrivalTimestamp": pa.array(
                [r[4] for r in rows], pa.timestamp("us")
            ),
        }
    )


def _shard_iterator(
    client, conn: dict, shard_id: str, after_seq: str | None,
    default_type: str | None = None,
) -> str:
    """AfterSequenceNumber resume when an offset exists, else
    ``default_type`` or the configured start position
    (src/Kinesis/Kinesis.hs:61-66)."""
    if after_seq:
        kwargs = {
            "ShardIteratorType": "AFTER_SEQUENCE_NUMBER",
            "StartingSequenceNumber": after_seq,
        }
    else:
        kwargs = {
            "ShardIteratorType": default_type or conn["starting_position"]
        }
    resp = _with_retries(
        lambda: client.get_shard_iterator(
            StreamName=conn["stream"], ShardId=shard_id, **kwargs
        ),
        conn["max_retries"],
    )
    return resp["ShardIterator"]


class _KShard(InputPartition):
    def __init__(self, shard_id: str, conn: dict):
        self.shard_id = shard_id
        self.conn = conn


class KinesisBotoDataSource(DataSource):
    """format("kinesis_boto"). Options: streamName (required), region,
    endpointUrl (point at moto/kinesalite/LocalStack or leave unset for
    real AWS), accessKeyId/secretAccessKey/sessionToken (else the default
    boto3 chain), startingPosition (TRIM_HORIZON default | LATEST for
    streaming — the reference DEFAULTS to Latest, src/Kinesis/Kinesis.hs:62-64;
    this engine defaults to TRIM_HORIZON because silently skipping
    history is the surprising choice for a batch-capable connector; batch
    snapshot supports TRIM_HORIZON only), maxRecordsPerFetch (GetRecords
    Limit, default 10000), maxRetries (default 10, the reference's
    `runKinesis 10`)."""

    @classmethod
    def name(cls):
        return "kinesis_boto"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        conn = _conn_opts(self.options)
        if not conn["stream"]:
            raise ValueError("kinesis_boto: streamName option is required")
        if conn["starting_position"] != "TRIM_HORIZON":
            raise ValueError(
                "kinesis_boto batch snapshot reads the full retained "
                "stream; startingPosition must be TRIM_HORIZON"
            )
        return KinesisBotoBatchReader(conn)

    def streamReader(self, schema):
        """Partition-planned streaming reader — one task per shard per
        micro-batch — behind ``readerMode=partitioned``. Raising
        PySparkNotImplementedError in the default mode makes Spark fall
        back to simpleStreamReader (pyspark's documented dispatch)."""
        conn = _conn_opts(self.options)
        if conn["reader_mode"] != "partitioned":
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"},
            )
        if not conn["stream"]:
            raise ValueError("kinesis_boto: streamName option is required")
        return KinesisPartitionedStreamReader(conn)

    def simpleStreamReader(self, schema):
        conn = _conn_opts(self.options)
        if not conn["stream"]:
            raise ValueError("kinesis_boto: streamName option is required")
        return KinesisSimpleStreamReader(conn)

    def _writer_conn(self, schema):
        conn = _conn_opts(self.options)
        if not conn["stream"]:
            raise ValueError("kinesis_boto: streamName option is required")
        names = [f.name for f in schema.fields]
        if "data" not in names or "partitionKey" not in names:
            raise ValueError(
                "kinesis_boto sink needs columns (data binary|string, "
                f"partitionKey string[, explicitHashKey string]); got {names}"
            )
        conn["has_ehk"] = "explicitHashKey" in names
        conn["inject_marker"] = (
            self.options.get("failfirstputmarker") or None
        )
        return conn

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "kinesis_boto sink is append-only (a stream cannot be "
                "overwritten); use mode('append')"
            )
        return KinesisBotoWriter(self._writer_conn(schema))

    def streamWriter(self, schema, overwrite):
        return KinesisBotoStreamWriter(self._writer_conn(schema))


class KinesisBotoBatchReader(DataSourceReader):
    """Bounded snapshot of the retained stream: one task per shard, each
    draining its shard's GetRecords loop executor-side — the distributed
    backfill/replay path."""

    def __init__(self, conn: dict):
        self.conn = conn

    def partitions(self):
        client = _client(self.conn)
        shards = _list_shards(client, self.conn["stream"],
                              self.conn["max_retries"])
        return [_KShard(s["ShardId"], self.conn) for s in shards]

    def read(self, partition: _KShard):
        conn = partition.conn
        client = _client(conn)
        it = _shard_iterator(client, conn, partition.shard_id, None)
        while it:
            resp = _with_retries(
                lambda i=it: client.get_records(
                    ShardIterator=i, Limit=conn["max_fetch"]
                ),
                conn["max_retries"],
            )
            rows = _records_to_rows(partition.shard_id, resp["Records"])
            if rows:
                yield _rows_batch(rows)
            it = resp.get("NextShardIterator")
            # snapshot termination: caught up on an open shard (closed
            # shards end with NextShardIterator=None)
            if not resp["Records"] and resp.get("MillisBehindLatest", 0) == 0:
                return


class KinesisSimpleStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch tail. Offsets are {shardId: last_seq} (TRIM_HORIZON
    start = ""). Each ``read`` polls every shard once (newly discovered
    shards — resharding — enter at their TRIM_HORIZON); ``readBetweenOffsets``
    replays a committed range deterministically by re-reading from
    AFTER_SEQUENCE_NUMBER and clipping at the recorded end — Spark calls it
    only for batch replay after restart, which is what makes the sink
    exactly-once over an at-least-once wire protocol."""

    def __init__(self, conn: dict):
        self.conn = conn
        self._client = None

    def _cli(self):
        if self._client is None:
            self._client = _client(self.conn)
        return self._client

    def initialOffset(self):
        client = self._cli()
        shards = _list_shards(client, self.conn["stream"],
                              self.conn["max_retries"])
        pos = self.conn["starting_position"]
        if pos == "TRIM_HORIZON":
            return {s["ShardId"]: "" for s in shards}
        if pos == "LATEST":
            # The reference's default start (`Latest`,
            # src/Kinesis/Kinesis.hs:62-64). LATEST is resolved to a
            # CONCRETE per-shard sequence number at start time by walking
            # each shard to its current end and discarding — offsets must
            # be concrete or the first micro-batch is not replayable
            # (exactly-once needs readBetweenOffsets to be deterministic,
            # and "whatever was latest when the crashed run started" is
            # not recoverable from a LATEST marker). The walk costs one
            # pass over currently-retained records per shard — the same
            # order of work the TRIM_HORIZON path's first batch pays;
            # for a huge retained stream prefer resuming from a
            # checkpoint or batch-replaying an offset range.
            return {
                s["ShardId"]: self._latest_seq(s["ShardId"])
                for s in shards
            }
        raise ValueError(
            "kinesis_boto streaming supports startingPosition "
            f"TRIM_HORIZON or LATEST; got {pos}"
        )

    def _latest_seq(self, shard_id: str) -> str:
        """Last sequence number currently in a shard ('' if empty)."""
        rows = self._poll_shard(shard_id, "", clip_to=None, drain=True)
        return rows[-1][1] if rows else ""

    def _poll_shard(self, shard_id: str, after_seq: str,
                    clip_to: str | None = None,
                    drain: bool = False) -> list[tuple]:
        client = self._cli()
        conn = self.conn
        try:
            # an empty offset always means "from the horizon": LATEST is
            # resolved to concrete offsets in initialOffset, never used
            # as a per-poll iterator type (a LATEST iterator would skip
            # records that landed between polls)
            it = _shard_iterator(client, conn, shard_id,
                                 after_seq or None,
                                 default_type="TRIM_HORIZON")
        except Exception as e:  # noqa: BLE001
            # a fully expired/closed shard can refuse iterators; treat as
            # drained (its records live on in committed batches)
            if "ResourceNotFound" in type(e).__name__ + str(e):
                return []
            raise
        rows: list[tuple] = []
        while it:
            resp = _with_retries(
                lambda i=it: client.get_records(
                    ShardIterator=i, Limit=conn["max_fetch"]
                ),
                conn["max_retries"],
            )
            rows.extend(_records_to_rows(shard_id, resp["Records"]))
            it = resp.get("NextShardIterator")
            if drain:
                # LATEST resolution: walk to the shard's current end
                if not resp["Records"] and resp.get(
                    "MillisBehindLatest", 0
                ) == 0:
                    break
                continue
            if clip_to is None:
                # tail mode: one fetch round per micro-batch per shard
                # bounds batch size; the next batch continues
                break
            if rows and int(rows[-1][1]) >= int(clip_to):
                break
            if not resp["Records"] and resp.get("MillisBehindLatest", 0) == 0:
                break
        if clip_to is not None:
            rows = [r for r in rows if int(r[1]) <= int(clip_to)]
        return rows

    def read(self, start: dict):
        client = self._cli()
        shards = _list_shards(client, self.conn["stream"],
                              self.conn["max_retries"])
        end = dict(start)
        out: list[tuple] = []
        for s in shards:
            sid = s["ShardId"]
            rows = self._poll_shard(sid, start.get(sid, ""))
            if rows:
                end[sid] = rows[-1][1]
                out.extend(rows)
            elif sid not in end:
                end[sid] = ""
        return iter(out), end

    def readBetweenOffsets(self, start: dict, end: dict):
        out: list[tuple] = []
        for sid, end_seq in end.items():
            if not end_seq:
                continue
            start_seq = start.get(sid, "")
            if start_seq and int(start_seq) >= int(end_seq):
                continue
            out.extend(self._poll_shard(sid, start_seq, clip_to=end_seq))
        return iter(out)

    def commit(self, end: dict):
        # offsets are durable in the checkpoint log — the engine-side
        # replacement for the reference's Redis _shardSeq writeback
        # (src/Kinesis/Coordination.hs:343-359)
        pass


class _KShardTsRange(InputPartition):
    """One shard's (start_us, end_us] arrival-time slice of a micro-batch."""

    def __init__(self, shard_id: str, conn: dict, start_us: int, end_us: int):
        self.shard_id = shard_id
        self.conn = conn
        self.start_us = start_us
        self.end_us = end_us


class KinesisPartitionedStreamReader(DataSourceStreamReader):
    """Executor-parallel micro-batch tail: ``partitions(start, end)``
    emits one InputPartition per shard, so N shards drain N-way
    parallel across the cluster — the reference's one-worker-per-shard
    layout (src/Kinesis/Coordination.hs:248-257) at executor scale.

    Offset design: Kafka exposes end offsets as a metadata call, so its
    planner pins {partition: offset}. Kinesis has no such call — the
    only way to learn a shard's last sequence number is to READ the
    shard, which must not happen on the driver at planning time. The
    planner therefore pins an arrival-TIME bound {"ts_us": T}
    (monotonically non-decreasing across batches) and ``read`` takes
    exactly the records with start < arrival <= end:

    - the iterator starts at the shard's native ``AT_TIMESTAMP(start)``
      position (TRIM_HORIZON for the epoch bound 0), so per-batch work
      is proportional to NEW records, never the retained stream;
    - arrival timestamps are assigned by the shard's sequencer at
      ingest and are immutable and non-decreasing within a shard, so a
      committed (start, end] range replays deterministically after a
      restart, records on the start boundary are exactly the previous
      batch's tail (skipped), and the scan stops at the first record
      past end;
    - ``planningLagSeconds`` (default 2) backs T off the wall clock:
      an in-flight PutRecords or driver-vs-Kinesis clock skew could
      otherwise assign an arrival time just under an already-planned
      bound AFTER the executor read drained to tip — the next batch
      would then skip the record as ts <= start, permanently (the
      Kafka-less protocol's one race). 0 is for clock-synchronized
      test rigs probing the boundary protocol itself.
    """

    def __init__(self, conn: dict):
        self.conn = conn
        self._client_obj = None
        self._last_ts_us = 0
        self._anchor_us: int | None = None
        # Whether THIS process has learned a real stream position — from
        # partitions()/commit() (replay recovery), from the persisted
        # planner state (clean restart with plannerStateDir), or from
        # its own first emission. The maxBatchSeconds cap must not be
        # applied before then: capping from the anchor can emit a bound
        # BEHIND a checkpoint this process cannot see, and Spark records
        # that regressed bound as a batch end — the NEXT batch then
        # starts from it and re-reads committed arrival windows
        # (duplicate delivery; reproduced with a probe source, round 6).
        self._position_learned = False
        persisted = self._read_planner_state()
        if persisted is not None:
            self._last_ts_us = max(self._last_ts_us, persisted)
            self._position_learned = True

    def _planner_state_path(self) -> str | None:
        d = self.conn.get("planner_state_dir")
        if not d:
            return None
        return os.path.join(d, f"{self.conn['stream']}.planner_ts_us")

    def _read_planner_state(self) -> int | None:
        path = self._planner_state_path()
        if not path or not os.path.exists(path):
            return None
        try:
            with open(path) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None  # unreadable state: uncapped-once fallback

    def _write_planner_state(self, ts_us: int) -> None:
        path = self._planner_state_path()
        if not path:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(str(int(ts_us)))
        os.replace(tmp, path)  # atomic: readers see old or new, never torn

    def _cli(self):
        if self._client_obj is None:
            self._client_obj = _client(self.conn)
        return self._client_obj

    def _oldest_arrival_us(self):
        """Earliest arrival timestamp across shards (one Limit=1 peek
        per shard, driver-side, once per cold start) — anchors the
        rate-limited TRIM_HORIZON start at the BACKLOG HEAD, so the
        maxBatchSeconds cap measures from the oldest retained record
        instead of from epoch 0. None when the stream is empty."""
        client = self._cli()
        oldest = None
        for s in _list_shards(
            client, self.conn["stream"], self.conn["max_retries"]
        ):
            try:
                it = _with_retries(
                    lambda sid=s["ShardId"]: client.get_shard_iterator(
                        StreamName=self.conn["stream"],
                        ShardId=sid,
                        ShardIteratorType="TRIM_HORIZON",
                    ),
                    self.conn["max_retries"],
                )["ShardIterator"]
                recs = _with_retries(
                    lambda i=it: client.get_records(ShardIterator=i, Limit=1),
                    self.conn["max_retries"],
                )["Records"]
            except Exception as e:  # noqa: BLE001
                if "ResourceNotFound" in type(e).__name__ + str(e):
                    continue
                raise
            for r in recs:
                ts = _to_utc_naive(r.get("ApproximateArrivalTimestamp"))
                if ts is None:
                    continue
                ts_us = int(
                    ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
                )
                if oldest is None or ts_us < oldest:
                    oldest = ts_us
        return oldest

    def _ensure_anchor(self) -> int:
        """The stream's starting bound, established by whichever
        planning call runs FIRST — the engine calls latestOffset before
        initialOffset on a fresh query, so the anchor cannot be derived
        inside initialOffset alone (clamping it to a bound the first
        latestOffset already emitted would pin the start at "now" and
        silently skip the whole backlog below it).

        TRIM_HORIZON: 0 — or, with maxBatchSeconds set, the backlog
        head (one Limit=1 peek per shard) minus a second, so the cap
        measures from the oldest retained record instead of epoch 0.
        LATEST: un-lagged now — skip exactly what is already in the
        stream, and never let the lagged planner emit end < start."""
        if self._anchor_us is not None:
            return self._anchor_us
        pos = self.conn["starting_position"]
        if pos == "TRIM_HORIZON":
            anchor = 0
            if self.conn["max_batch_s"] > 0:
                oldest = self._oldest_arrival_us()
                if oldest is not None:
                    anchor = max(0, oldest - 1_000_000)
        elif pos == "LATEST":
            anchor = int(time.time() * 1_000_000)
        else:
            raise ValueError(
                "kinesis_boto partitioned streaming supports "
                f"startingPosition TRIM_HORIZON or LATEST; got {pos}"
            )
        self._anchor_us = anchor
        self._last_ts_us = max(self._last_ts_us, anchor)
        return anchor

    def initialOffset(self):
        # the engine only asks for an initial offset when there is NO
        # checkpoint — the anchor IS the query's true position, so the
        # maxBatchSeconds cap is safe from here on. (On a fresh query
        # the engine calls latestOffset BEFORE initialOffset, so this
        # alone cannot bound the very first engine-planned batch — that
        # is what plannerStateDir is for.)
        self._position_learned = True
        return {"ts_us": self._ensure_anchor()}

    def _now_us(self) -> int:
        lag_us = int(self.conn["planning_lag_s"] * 1_000_000)
        return max(0, int(time.time() * 1_000_000) - lag_us)

    def latestOffset(self):
        self._ensure_anchor()
        now = self._now_us()
        cap_s = self.conn["max_batch_s"]
        # The cap may be applied only from a position that is provably
        # at-or-ahead of the checkpoint: one this process learned from
        # partitions()/commit()/its own emissions, or the persisted
        # planner state (which is written BEFORE every emission, so it
        # is never behind any checkpointed bound). With plannerStateDir
        # configured and no state file, the query is genuinely fresh
        # (no bound was ever emitted), so the anchor itself is safe.
        # Otherwise — a clean restart without planner state — the
        # checkpointed offset is invisible here and capping from the
        # anchor could emit a bound BEHIND it; Spark would record that
        # regressed bound as a batch end and the following batch would
        # re-read committed arrival windows. Uncapped "now" is never
        # behind any committed bound, so the one uncapped batch is safe
        # (merely unbounded once); capping resumes immediately after.
        cap_ok = self._position_learned or (
            self._planner_state_path() is not None
        )
        if cap_s > 0 and cap_ok and self._last_ts_us > 0:
            # bounded advance: one trigger consumes at most cap_s
            # seconds of arrival time past the last planned bound, so a
            # backlog drains across many bounded batches.
            end = min(now, self._last_ts_us + int(cap_s * 1_000_000))
        else:
            end = now
        self._last_ts_us = max(self._last_ts_us, end)
        self._position_learned = True
        # persist BEFORE returning: the state file must never lag a
        # bound Spark might record in its offset log
        self._write_planner_state(self._last_ts_us)
        return {"ts_us": self._last_ts_us}

    def partitions(self, start: dict, end: dict):
        # replayed batches (restart recovery) re-teach the planner its
        # position so the NEXT latestOffset caps from the right bound
        self._last_ts_us = max(
            self._last_ts_us, int(start["ts_us"]), int(end["ts_us"])
        )
        self._position_learned = True
        shards = _list_shards(
            self._cli(), self.conn["stream"], self.conn["max_retries"]
        )
        return [
            _KShardTsRange(
                s["ShardId"], self.conn, start["ts_us"], end["ts_us"]
            )
            for s in shards
        ]

    def read(self, partition: _KShardTsRange):
        conn = partition.conn
        client = _client(conn)
        if partition.start_us <= 0:
            kwargs = {"ShardIteratorType": "TRIM_HORIZON"}
        else:
            kwargs = {
                "ShardIteratorType": "AT_TIMESTAMP",
                "Timestamp": dt.datetime.fromtimestamp(
                    partition.start_us / 1e6, tz=dt.timezone.utc
                ),
            }
        try:
            it = _with_retries(
                lambda: client.get_shard_iterator(
                    StreamName=conn["stream"],
                    ShardId=partition.shard_id,
                    **kwargs,
                ),
                conn["max_retries"],
            )["ShardIterator"]
        except Exception as e:  # noqa: BLE001
            if "ResourceNotFound" in type(e).__name__ + str(e):
                return  # expired/deleted shard: records live in old batches
            raise
        # Batch membership must be a pure function of (start, end) and
        # the shard's record sequence — NEVER of GetRecords response
        # framing — or a checkpoint replay can emit a different record
        # set than the original run (losing a record forever, or
        # double-reading one). Two round-6 rules deliver that:
        #
        # - STOP rule: scan until the first record stamped past
        #   end + boundaryJitterSeconds. AWS documents arrival stamps as
        #   approximate, so an out-of-order straddler (ts <= end) can be
        #   sequenced AFTER a past-end record; scanning a fixed jitter
        #   allowance past the bound picks it up on every run, whereas
        #   "finish the current response" (round 5) made its inclusion
        #   depend on how the service chunked responses.
        # - UNSTAMPED rule: a record with no ApproximateArrivalTimestamp
        #   inherits the batch classification of the nearest PRECEDING
        #   stamped record in sequence order ("carry"). That is stable
        #   across replays (the preceding stamped record is a fixed
        #   property of the shard), puts the record in exactly one batch
        #   (the one that takes its predecessor), and an unstamped HEAD
        #   record (no predecessor) belongs to the first-ever batch
        #   (TRIM_HORIZON scan, start_us <= 0) — every later scan
        #   classifies it as the previous batch's tail.
        jitter_us = int(conn["boundary_jitter_s"] * 1_000_000)
        carry = "current" if partition.start_us <= 0 else "prev"
        while it:
            resp = _with_retries(
                lambda i=it: client.get_records(
                    ShardIterator=i, Limit=conn["max_fetch"]
                ),
                conn["max_retries"],
            )
            rows = []
            stop = False
            for r in resp["Records"]:
                ts = _to_utc_naive(r.get("ApproximateArrivalTimestamp"))
                if ts is None:
                    cls = carry  # unstamped: predecessor's batch
                else:
                    ts_us = int(
                        ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
                    )
                    if ts_us <= partition.start_us:
                        cls = "prev"  # previous batch's boundary tail
                    elif ts_us <= partition.end_us:
                        cls = "current"
                    else:
                        cls = "next"
                        if ts_us > partition.end_us + jitter_us:
                            # chunk-independent scan boundary: no
                            # straddler can be sequenced beyond the
                            # jitter allowance
                            stop = True
                            break
                    carry = cls
                if cls == "current":
                    rows.append(
                        (
                            partition.shard_id,
                            r["SequenceNumber"],
                            r["PartitionKey"],
                            bytes(r["Data"]),
                            ts,
                        )
                    )
            if rows:
                yield _rows_batch(rows)
            if stop:
                return
            it = resp.get("NextShardIterator")
            if not resp["Records"] and resp.get("MillisBehindLatest", 0) == 0:
                return

    def commit(self, end: dict):
        # bounds are durable in the checkpoint log; nothing external.
        # Also track the committed bound: with maxBatchSeconds this is a
        # second way (besides partitions()) a restarted planner relearns
        # its position before the next capped advance.
        self._last_ts_us = max(self._last_ts_us, int(end["ts_us"]))
        self._position_learned = True


# ---------------------------------------------------------------------
# Producer side — PutRecords sink (batch df.write + streaming writeStream).
# The reference is a pure consumer, but its retry taxonomy
# (src/Kinesis/Kinesis.hs:89-176) applies unchanged to the produce path:
# transport/throttle/5xx faults retry with the same capped backoff, and
# PutRecords adds one wrinkle HTTP-level retries cannot see — PARTIAL
# failure (200 OK with FailedRecordCount > 0, per-record ErrorCode).
# Only the failed subset may be resent, or the stream gets duplicates of
# the rows that already landed.
# ---------------------------------------------------------------------

#: AWS PutRecords hard limits: 500 records / 5 MiB per call, 1 MiB per
#: record (data + partition key).
_PUT_MAX_RECORDS = 500
_PUT_MAX_BYTES = 5 * 1024 * 1024
_REC_MAX_BYTES = 1024 * 1024


@dataclasses.dataclass
class KinesisPutCommit(WriterCommitMessage):
    """Per-task audit: how many records landed, over how many PutRecords
    calls, and how many record-sends were partial-failure retries."""

    n_records: int = 0
    n_calls: int = 0
    n_retried: int = 0


def _put_records_once(client, stream: str, records: list[dict],
                      inject_marker: str | None):
    """One PutRecords call. ``inject_marker`` (test-only option) forces the
    FIRST call process-wide to report its second half failed with a
    throttling code — the records genuinely are not sent — so the partial
    retry path is exercised against a real endpoint. O_EXCL on a marker
    file makes the injection exactly-once across tasks AND task retries
    (the same discipline as fake_kinesis.failShardOnce)."""
    if inject_marker is not None:
        try:
            os.close(os.open(inject_marker,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            pass
        else:
            half = len(records) // 2
            sent = (
                client.put_records(StreamName=stream, Records=records[:half])
                if half else {"Records": [], "FailedRecordCount": 0}
            )
            if sent.get("FailedRecordCount", 0):
                raise RuntimeError(
                    "kinesis_boto fault injection: real endpoint failed "
                    "during injected partial failure"
                )
            n_fail = len(records) - half
            return {
                "FailedRecordCount": n_fail,
                "Records": list(sent["Records"]) + [
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "injected partial failure",
                    }
                ] * n_fail,
            }
    return client.put_records(StreamName=stream, Records=records)


def _put_batch(client, conn: dict, records: list[dict]) -> tuple[int, int]:
    """PutRecords with BOTH retry layers: call-level faults go through
    ``_with_retries`` (awsPolicy backoff), and partial failures resend only
    the per-record-failed subset — order within the batch is preserved for
    the survivors, duplicates are never produced for rows that already
    landed. Returns (n_calls, n_retried_record_sends)."""
    n_calls, n_retried = 0, 0
    pending = records
    delay = 0.025
    for _attempt in range(conn["max_retries"] + 1):
        resp = _with_retries(
            lambda p=pending: _put_records_once(
                client, conn["stream"], p, conn.get("inject_marker")
            ),
            conn["max_retries"],
        )
        n_calls += 1
        if not resp.get("FailedRecordCount", 0):
            return n_calls, n_retried
        pending = [
            rec
            for rec, status in zip(pending, resp["Records"])
            if "ErrorCode" in status
        ]
        n_retried += len(pending)
        time.sleep(min(delay, 60.0))
        delay *= 2
    raise RuntimeError(
        f"kinesis_boto: {len(pending)} records still failing after "
        f"{conn['max_retries']} partial-failure retries"
    )


def _write_rows(conn: dict, iterator) -> KinesisPutCommit:
    """Drain a task's rows into size-capped PutRecords batches. Runs
    executor-side: N output partitions produce in parallel, the producer
    twin of the one-task-per-shard consume path."""
    client = _client(conn)
    msg = KinesisPutCommit()
    batch: list[dict] = []
    batch_bytes = 0

    def flush():
        nonlocal batch, batch_bytes
        if batch:
            calls, retried = _put_batch(client, conn, batch)
            msg.n_records += len(batch)
            msg.n_calls += calls
            msg.n_retried += retried
            batch, batch_bytes = [], 0

    for row in iterator:
        data = row["data"]
        if data is None or row["partitionKey"] is None:
            raise ValueError(
                "kinesis_boto sink: data and partitionKey must be non-null"
            )
        if isinstance(data, str):
            data = data.encode("utf-8")
        rec = {"Data": bytes(data), "PartitionKey": row["partitionKey"]}
        rec_bytes = len(rec["Data"]) + len(rec["PartitionKey"])
        if rec_bytes > _REC_MAX_BYTES:
            raise ValueError(
                f"kinesis_boto sink: record of {rec_bytes} B exceeds the "
                f"1 MiB PutRecords per-record limit"
            )
        if conn["has_ehk"] and row["explicitHashKey"] is not None:
            rec["ExplicitHashKey"] = row["explicitHashKey"]
        if (
            len(batch) >= _PUT_MAX_RECORDS
            or batch_bytes + rec_bytes > _PUT_MAX_BYTES
        ):
            flush()
        batch.append(rec)
        batch_bytes += rec_bytes
    flush()
    return msg


class KinesisBotoWriter(DataSourceWriter):
    """Batch sink: ``df.write.format("kinesis_boto").mode("append")``.
    Expects (data binary|string, partitionKey string[, explicitHashKey
    string]). Delivery is at-least-once BY THE WIRE PROTOCOL: PutRecords
    has no transaction, so a task retried after a mid-batch crash resends
    its whole partition — same contract as every real Kinesis producer.
    Consumers dedup on an idempotence key in the payload (this repo's
    streaming_dedup / dropDuplicatesWithinWatermark operators)."""

    def __init__(self, conn: dict):
        self.conn = conn

    def write(self, iterator):
        return _write_rows(self.conn, iterator)

    def commit(self, messages):
        # nothing to finalize — records are visible as they land
        pass

    def abort(self, messages):
        # cannot unput: partially-produced data remains (documented
        # at-least-once); consumers own idempotence
        pass


class KinesisBotoStreamWriter(DataSourceStreamWriter):
    """Streaming sink: ``writeStream.format("kinesis_boto")``. Each
    micro-batch's partitions produce in parallel; a failed epoch is
    replayed by Spark from the checkpoint, so delivery is at-least-once
    with replay granularity = one micro-batch (exactly the reference's
    redeliver-after-crash window, src/Kinesis/Coordination.hs:343-359,
    with Redis swapped for the checkpoint log)."""

    def __init__(self, conn: dict):
        self.conn = conn

    def write(self, iterator):
        return _write_rows(self.conn, iterator)

    def commit(self, messages, batchId):
        pass

    def abort(self, messages, batchId):
        pass


def register(spark) -> None:
    spark.dataSource.register(KinesisBotoDataSource)
