"""Message-publisher sink (K5): rows -> JSON messages -> injected
transport, with ack-await and ordered delivery.

The reference tails the block stream and publishes each streamer message
as a JSON Pub/Sub message, awaiting the ack before logging the block
height (`rust-near-gcp-pubsub-writer/src/main.rs:48-67`; strictly
sequential via `buffer_unordered(1)`). This module re-expresses that as a
Spark sink:

- serialization is JVM-side (`to_json(struct(...))`) — the Python
  boundary carries finished payload strings only;
- the TRANSPORT is injected (a zero-arg factory constructed per
  partition), the same seam as the repo's RPC clients (`plans/gold.py`):
  a real deployment passes a Pub/Sub/Kafka client factory, tests pass the
  file-backed transport below. `publish(batch)` returning without raising
  IS the ack (the reference's `awaiter.get().await`);
- ordering: the reference's strict total order serializes the whole
  stream through one publisher — at 100 TB that is the bottleneck, so the
  default here is ORDER PER KEY (repartition by the ordering key, sort by
  the sequence column within partitions, publish sequentially within each
  partition — Pub/Sub ordering-key semantics). `ordered="total"` gives
  the reference-exact single-publisher order for streams that need it,
  explicitly documented as non-scaling;
- at-least-once: the streaming sink fences replayed micro-batches with a
  published-batch marker. A crash between transport ack and marker write
  re-publishes that one batch on restart — the same at-least-once
  contract the reference has (it can crash between ack and its height
  log too). The per-batch max of the sequence column is recorded as a
  cursor sidecar (the reference's height eprintln, made durable).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

DEFAULT_CHUNK = 500  # messages per transport.publish() call


def _payload_df(df: DataFrame, key_col: str, seq_col: str, *, ordered: str) -> DataFrame:
    """JVM-side serialization + ordering. Output columns: _key, _seq,
    _payload — the only things that cross into Python."""
    from pyspark.sql import functions as F

    cols = [c for c in df.columns]
    out = df.select(
        F.col(key_col).cast("string").alias("_key"),
        F.col(seq_col).cast("long").alias("_seq"),
        F.to_json(F.struct(*cols)).alias("_payload"),
    )
    if ordered == "total":
        # reference-exact: one publisher, global sequence order. Does not
        # scale past one partition's throughput — documented trade.
        return out.repartition(1).sortWithinPartitions("_seq")
    if ordered == "per_key":
        return out.repartition("_key").sortWithinPartitions("_key", "_seq")
    if ordered == "none":
        return out
    raise ValueError(f"ordered must be total|per_key|none, got {ordered!r}")


def publish_rows(
    df: DataFrame,
    transport_factory,
    *,
    key_col: str,
    seq_col: str,
    ordered: str = "per_key",
    chunk_size: int = DEFAULT_CHUNK,
) -> None:
    """Publish every row of `df` as a JSON message.

    `transport_factory()` is called once per partition ON THE EXECUTOR
    and must return an object with `publish(list[(key, seq, payload)])`
    that is durable when it returns. Messages flow through in bounded
    chunks so executor memory stays flat regardless of partition size.
    """
    shaped = _payload_df(df, key_col, seq_col, ordered=ordered)

    def _drain(rows) -> None:
        transport = transport_factory()
        buf: list[tuple[str, int, str]] = []
        for r in rows:
            buf.append((r._key, r._seq, r._payload))
            if len(buf) >= chunk_size:
                transport.publish(buf)  # returning == acked
                buf = []
        if buf:
            transport.publish(buf)

    shaped.foreachPartition(_drain)


def publish_stream(
    stream_df: DataFrame,
    transport_factory,
    state_path: str,
    *,
    key_col: str,
    seq_col: str,
    checkpoint_path: str,
    ordered: str = "per_key",
    chunk_size: int = DEFAULT_CHUNK,
    replay_fence: int | None = 1000,
):
    """Streaming publisher: each micro-batch is published then fenced; the
    query drains the pending input and stops (availableNow).

    Markers under `<state_path>/published/` make a REPLAYED batch a no-op
    (at-least-once overall: only a crash inside the publish->marker gap
    re-sends that single batch). `<state_path>/_CURSOR` tracks the max
    sequence value acked so far — the durable twin of the reference's
    per-block height log (main.rs:63-66).

    ``replay_fence`` bounds marker state: markers more than this many
    batches behind the newest are pruned, so the no-op fence only covers
    the trailing ``replay_fence`` batches. A NORMAL restart replays at
    most the trailing uncommitted batches, well inside any sane fence —
    but restoring an old checkpoint backup, or pointing a FRESH
    checkpoint at the same ``state_path``, replays batch ids whose
    markers may already be pruned and re-publishes them (duplicates
    beyond the documented crash-gap window; ADVICE r13). If either
    recovery mode is on the table, pass ``replay_fence=None`` to keep
    every marker (one empty file per batch), or size the fence to the
    deepest checkpoint rollback you will ever restore.
    """
    from near_public_lakehouse_spark.operators.export import _require_local_path
    from near_public_lakehouse_spark.streaming.jobs import _start_batches

    # markers and _CURSOR use driver-local os/open — an object-store URI
    # would silently become a literal local dir and lose the replay fence
    # on driver failover (r13 review; export.py grew the same guard in r6)
    _require_local_path(state_path, "publish_stream (its markers + cursor)")
    if replay_fence is not None and replay_fence < 1:
        # a non-positive fence would prune the marker of the batch just
        # written, destroying the crash-gap no-op fence (r14 review)
        raise ValueError(f"replay_fence must be >= 1 or None, got {replay_fence}")
    os.makedirs(f"{state_path}/published", exist_ok=True)

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        marker = f"{state_path}/published/batch_{batch_id}"
        if os.path.exists(marker):
            return  # replayed batch, already acked
        from pyspark.sql import functions as F

        # one materialization for the two actions below (publish pass +
        # max-seq agg previously recomputed the whole batch — r13 review)
        batch_df.persist()
        try:
            publish_rows(
                batch_df,
                transport_factory,
                key_col=key_col,
                seq_col=seq_col,
                ordered=ordered,
                chunk_size=chunk_size,
            )
            hi = batch_df.agg(
                F.max(F.col(seq_col).cast("long")).alias("hi")
            ).collect()[0].hi
        finally:
            batch_df.unpersist()
        cursor_path = f"{state_path}/_CURSOR"
        cur = None
        if os.path.exists(cursor_path):
            # r6 ADVICE (publish.py:139): a crash mid-write can leave a
            # truncated cursor; tolerate it as absent — the marker files
            # are the replay fence, the cursor only needs monotonicity.
            # r7 ADVICE (publish.py:142): valid-JSON-non-object payloads
            # ('[1,2]', '"x"') are corruption too — check the shape
            # instead of letting .get raise and wedge every restart.
            try:
                with open(cursor_path) as fh:
                    obj = json.load(fh)
                cur = obj.get("hi") if isinstance(obj, dict) else None
                if not isinstance(cur, int):
                    cur = None
            except (json.JSONDecodeError, OSError):
                cur = None
        if hi is not None and (cur is None or int(hi) > cur):
            # Atomic replace so a crash never leaves a half-written cursor.
            tmp = f"{cursor_path}.tmp.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump({"hi": int(hi)}, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, cursor_path)
        with open(marker, "w") as fh:
            fh.write("")
        # Bounded marker state: only the checkpoint's trailing batches can
        # ever replay, so markers far behind this batch are dead weight —
        # an unbounded one-file-per-batch directory otherwise (r13 review).
        # replay_fence=None keeps everything (deep-rollback recovery; see
        # docstring / ADVICE r13).
        if replay_fence is None:
            return
        floor = batch_id - replay_fence
        # Amortized directory sweep: every fence/10 batches (>=1), so the
        # directory holds at most ~1.1x the fence in markers.
        if floor > 0 and batch_id % max(1, replay_fence // 10) == 0:
            pub_dir = f"{state_path}/published"
            for n in os.listdir(pub_dir):
                if n.startswith("batch_"):
                    try:
                        if int(n[6:]) < floor:
                            os.remove(os.path.join(pub_dir, n))
                    except (ValueError, OSError):
                        pass

    return _start_batches(stream_df, _publish, checkpoint_path)


# ---------------------------------------------------------------------------
# File-backed transport (tests / local runs)


class FileTransport:
    """Durable local transport: each publish() appends one JSON-lines file
    named so that (partition arrival order, chunk order) is reconstructable
    — tests verify per-key ordering through it. fsync before returning =
    the ack contract."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._n = 0

    def publish(self, batch) -> None:
        import time
        import uuid

        # r6 ADVICE (publish.py:180): lexicographic (pid, counter) order is
        # not publish order across micro-batches — a key's messages can span
        # writers, and a reused worker's counter restarts at 0. Lead the
        # filename with a zero-padded wall-clock ns stamp so read_all's sort
        # reconstructs cross-batch publish order; (pid, counter) only breaks
        # same-instant ties within one writer.
        t_ns = time.time_ns()
        pid = os.getpid()
        path = os.path.join(
            self.root,
            f"msgs_{t_ns:020d}_{pid}_{self._n:06d}_{uuid.uuid4().hex[:8]}.jsonl",
        )
        self._n += 1
        with open(path, "w") as fh:
            for key, seq, payload in batch:
                fh.write(json.dumps({"key": key, "seq": seq, "data": payload}) + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    @staticmethod
    def read_all(root: str) -> list[dict]:
        """All messages in publish-time order (ns-stamp filename prefix);
        within one writer the counter breaks same-instant ties — this is
        what per-key ordering asserts, and it holds across micro-batches.

        Caveat (r7 ADVICE): the stamp is `time.time_ns()`, a WALL clock —
        an NTP step between publishes can reorder files, and a cross-
        process same-nanosecond tie falls back to pid order, which is
        unrelated to publish order. Acceptable for this test/local
        transport because the publisher's per-key sequence numbers (the
        `seq` field) are the real ordering contract consumers must use;
        the filename order is best-effort diagnostics. A production
        transport gets ordering from the broker, not filenames."""
        out: list[dict] = []
        for name in sorted(os.listdir(root)):
            if not name.startswith("msgs_"):
                continue
            with open(os.path.join(root, name)) as fh:
                out.extend(json.loads(line) for line in fh if line.strip())
        return out


def file_transport_factory(root: str):
    """Factory-of-factory so the closure shipped to executors carries only
    the path string."""

    def make() -> FileTransport:
        return FileTransport(root)

    return make
