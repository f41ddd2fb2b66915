"""Per-chat stateful processing: session store + in-flight dedup
(SURVEY §2.9 T3/T4; reference telegram-agent.py:374-390, 419-433,
456-476) via applyInPandasWithState.

Keyed state per chat_id holds (session_id, turns). Semantics
reproduced:
  - at most one in-flight turn per chat: within a micro-batch, the
    first message per chat is processed, the rest get a 'busy' reply
    (the reference's dedup admission — its in-flight set collapses to
    per-batch admission under micro-batching);
  - a processed turn threads the chat's session id into the model and
    stores the returned session id (resumable across batches —
    checkpointing persists it, replacing sessions.json);
  - '/reset' clears the key's state (reference :489-495).

The model is pluggable (prompt, session_id) → (reply, session_id); the
default stub is deterministic for tests — the reference never tests
live LLM calls either (CLAUDE.md:100).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

ModelFn = Callable[[str, str | None], tuple[str, str]]


def stub_model(prompt: str, session_id: str | None) -> tuple[str, str]:
    """Deterministic chat model: echoes a digest; session id chains on
    the previous one so resumption is observable in tests."""
    basis = f"{session_id or ''}|{prompt}"
    new_session = hashlib.md5(basis.encode()).hexdigest()[:12]
    return (f"ack:{prompt[:40]}", new_session)


OUTPUT_SCHEMA = StructType(
    [
        StructField("chat_id", LongType()),
        StructField("update_id", LongType()),
        StructField("reply", StringType()),
        StructField("session_id", StringType()),
        StructField("status", StringType()),  # ok | busy | reset
    ]
)
STATE_SCHEMA = StructType(
    [StructField("session_id", StringType()), StructField("turns", LongType())]
)


def make_chat_handler(model: ModelFn = stub_model, ttl_ms: int | None = None):
    """Build the applyInPandasWithState function for the chat branch.

    With `ttl_ms`, idle chats are evicted by processing-time timeout —
    at 100 TB the chat_id key space is unbounded, so state MUST have an
    eviction policy (the reference's in-memory dicts grow forever;
    SURVEY §4.3 flags exactly this).

    Deployment note: ProcessingTimeTimeout makes the micro-batch engine
    run no-data batches to fire timers (shouldRunAnotherBatch is always
    true). ALWAYS pair ttl_ms with a processing-time trigger interval —
    with the default ASAP trigger the query busy-loops empty batches,
    and StreamingQuery.processAllAvailable() never returns (noNewData
    is never signaled). Observe timer queries by polling the sink."""

    def handle(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (chat_id,) = key
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()  # idle session evicted; next message starts fresh
            yield pd.DataFrame([], columns=[f.name for f in OUTPUT_SCHEMA.fields])
            return
        session_id, turns = (
            state.get if state.exists else (None, 0)
        )
        rows: list[dict] = []
        in_flight = False
        # Concatenate ALL Arrow chunks before sorting: a group larger
        # than arrow.maxRecordsPerBatch arrives as several chunks in
        # arbitrary shuffle order, and a per-chunk sort would let a
        # later update_id win admission over an earlier one.
        chunks = list(pdfs)
        batch = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.DataFrame(columns=["update_id", "text"])
        )
        for r in batch.sort_values("update_id").itertuples():
            text = r.text or ""
            if text.strip().startswith("/reset"):
                session_id, turns = None, 0
                rows.append(
                    dict(chat_id=chat_id, update_id=r.update_id,
                         reply="session reset", session_id=None, status="reset")
                )
                continue
            if in_flight:
                # per-chat dedup admission: one turn per batch
                rows.append(
                    dict(chat_id=chat_id, update_id=r.update_id,
                         reply="busy: a turn is already in flight",
                         session_id=session_id, status="busy")
                )
                continue
            in_flight = True
            reply, session_id = model(text, session_id)
            turns += 1
            rows.append(
                dict(chat_id=chat_id, update_id=r.update_id,
                     reply=reply, session_id=session_id, status="ok")
            )
        if session_id is None and turns == 0:
            # '/reset' (or nothing ever processed) leaves the key in
            # its virgin shape — REMOVE the entry instead of storing
            # (None, 0): absent state is the same fresh chain, and
            # under NoTimeout a stored tombstone would occupy the
            # state store forever across an unbounded chat_id space.
            if state.exists:
                state.remove()
        else:
            state.update((session_id, turns))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(rows, columns=[f.name for f in OUTPUT_SCHEMA.fields])

    return handle


def chat_turns(
    messages: DataFrame,
    model: ModelFn = stub_model,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Wire the chat branch: group by chat_id → stateful handler.

    Streaming frames only: state persists across micro-batches via the
    checkpoint, and `applyInPandasWithState` refuses a batch frame.
    Pass `ttl_ms` to evict idle chats by processing-time timeout.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        messages.groupBy("chat_id")
        .applyInPandasWithState(
            make_chat_handler(model, ttl_ms=ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
