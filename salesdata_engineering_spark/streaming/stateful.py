"""Custom stateful streaming operators (applyInPandasWithState).

The built-in stateful ops (windowed aggs, dropDuplicates,
session_window — streaming/windows.py) cover the reference surface;
this module is the escape hatch for state machines Spark has no
operator for, per the north-star's "custom stateful operators" row.

``running_user_totals`` keeps one (count, total) accumulator per user
in Spark's managed state store and emits the updated totals every
micro-batch the user appears in. The state store is checkpointed with
the query, so a restart resumes the accumulation exactly — the same
guarantee the reference hand-rolled with its MySQL staging ledger
(/root/reference src/main/transformations/jobs/main.py:39-49), applied
to per-key aggregation state instead of file status.

Scale shape: state is hash-partitioned by the grouping key across
executors (one shuffle per batch), each key's state is O(1) bytes, and
Pandas batches arrive Arrow-vectorized — this is the
applyInPandasWithState contract, identical on local[32] and a
1000-executor cluster.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"

# STATE-SCHEMA VERSIONING (VERDICT r12 item 8; history: the flat tuple
# grew from (n, total) to (n, nvals, total) in round 11, a silently
# BREAKING change for long-lived checkpoints — ADVICE r11). Spark pins
# the exact state STRUCT schema in the checkpoint
# (StateSchemaCompatibilityChecker): ANY arity/type change to a flat
# tuple layout is rejected on restart, so versioning cannot live in the
# struct itself. The struct schema is therefore FROZEN as
# (v bigint, payload binary) and the layout inside the payload is what
# versions: a future layout change bumps the operator's _*_VERSION,
# packs the new field list, and adds ONE upgrader entry to its
# migrations dict — a restart from an older checkpoint then upgrades
# each key's state lazily on first touch, no wipe, no offline rewrite.
# The jump from the r11/r12 flat-tuple layout TO this blob layout is
# itself the last breaking change (same struct-schema pinning): wipe
# the checkpoint or drain-and-reseed once.
STATE_SCHEMA = "v bigint, payload binary"
_TOTALS_VERSION = 2
#: one-step upgraders: v -> (fields at v) -> (fields at v+1). Empty
#: today; the restart test exercises the machinery with a synthetic
#: v3 layout (tests/test_streaming.py).
_TOTALS_MIGRATIONS: dict[int, object] = {}


def _pack(*fields) -> bytes:
    """Versioned-state payload codec: JSON field list. Exact for the
    layouts used here — ints are arbitrary precision and json round-trips
    finite floats via repr (shortest-roundtrip)."""
    return json.dumps(list(fields)).encode()


def _load_versioned(state: GroupState, migrations: dict, version: int):
    """Current-layout field list from a (v, payload) state row, applying
    one-step upgraders for state written by older code; None when no
    state exists."""
    if not state.exists:
        return None
    v, payload = state.get
    fields = json.loads(bytes(payload).decode())
    while v < version:
        fields = migrations[v](fields)
        v += 1
    if v != version:
        raise ValueError(
            f"state written by NEWER code (v={v} > supported {version}); "
            "refusing to misparse — upgrade the job, not the checkpoint"
        )
    return fields


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one user into the persisted (n, total).

    Never materializes the group — pdfs is an iterator of Arrow batches;
    only two scalars live in state.
    """
    fields = _load_versioned(state, _TOTALS_MIGRATIONS, _TOTALS_VERSION)
    n, nvals, total = fields if fields is not None else (0, 0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        # SQL SUM semantics: NULL values contribute nothing, and a sum
        # that never saw a non-NULL value is NULL (not 0.0) — nvals
        # carries "seen any" across micro-batches (all-NULL probe axis)
        nvals += int(pdf["value"].notna().sum())
        total += float(pdf["value"].sum())
    state.update((_TOTALS_VERSION, _pack(n, nvals, total)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total if nvals else None],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) with managed state.

    Works on a streaming DataFrame (state carried across micro-batches
    via the checkpoint) — each emitted row is the accumulator AFTER
    folding the current batch, so draining a bounded source with one
    file per trigger yields the per-batch running history and the last
    row per user equals the global aggregate.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CDC_OUT_SCHEMA = (
    "user_id bigint, last_op string, last_value double, "
    "last_ts timestamp, last_seq bigint"
)
# same frozen (v, payload) struct as STATE_SCHEMA — see the versioning
# note at the top; payload layout v2 = [ts_ns, seq, op, value]
CDC_STATE_SCHEMA = "v bigint, payload binary"
_CDC_VERSION = 2
_CDC_MIGRATIONS: dict[int, object] = {}


def _update_latest(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's change rows for one key into the persisted
    last-writer state: keep the row with the max (ts, event_id)."""
    def _pick_key(t):
        # total order matching the oracle's DESC NULLS LAST: a NULL
        # sequence id (nullkeys axis, r13) or NULL payload loses to
        # any non-NULL at the same ts
        return (t[0], t[1] is not None, t[1] or 0,
                t[2] is not None, t[2] or "",
                t[3] is not None, 0.0 if t[3] is None else t[3])

    loaded = _load_versioned(state, _CDC_MIGRATIONS, _CDC_VERSION)
    best = tuple(loaded) if loaded is not None else None  # (ts_ns, seq, op, value)
    for pdf in pdfs:
        # a NULL-ts change has no position in a change log — excluded
        # in all three CDC paths (class-12 convention, dupnullmix r12)
        pdf = pdf[pdf["ts"].notna()].reset_index(drop=True)
        if len(pdf) == 0:
            continue
        ts_ns = pdf["ts"].astype("datetime64[ns]").astype("int64")
        # nullable Int64, not float64 (ADVICE r13): NULLs survive as
        # pd.NA and lose the pick via na_position, while bigint ids
        # above 2^53 keep exact values — float64 rounded them, which
        # could pick the wrong last-writer or corrupt the stored seq
        seq = pdf["event_id"].astype("Int64")
        # payload columns are the FINAL tie-breaks (duplicate change
        # rows whose copies differ only in NULL pattern otherwise tie,
        # and the stable sort would pick by arrival order);
        # na_position='first' makes NULL payloads lose the max pick
        i = int(
            pd.DataFrame(
                {"a": ts_ns, "b": seq,
                 "c": pdf["event_type"].astype(object),
                 "d": pdf["value"].astype("float64")}
            )
            .sort_values(["a", "b", "c", "d"], na_position="first")
            .index[-1]
        )
        # preserve SQL NULLs: str(None) would mint the STRING 'None'
        # and float(None) NaN, both of which defeat three-valued logic
        # downstream (the tombstone filter must drop NULL ops the same
        # way the batch twin and the oracle do).
        op_i, val_i = pdf["event_type"].iloc[i], pdf["value"].iloc[i]
        seq_i = seq.iloc[i]
        cand = (
            int(ts_ns.iloc[i]),
            None if pd.isna(seq_i) else int(seq_i),
            None if pd.isna(op_i) else str(op_i),
            None if pd.isna(val_i) else float(val_i),
        )
        if best is None or _pick_key(cand) > _pick_key(best):
            best = cand
    if best is None:
        # every row in this batch was NULL-ts and no prior state: the
        # key has no valid change yet — no state, no emission
        return
    state.update((_CDC_VERSION, _pack(*best)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_op": [best[2]],
            "last_value": [best[3]],
            "last_ts": [pd.Timestamp(best[0])],
            "last_seq": [best[1]],
        }
    )


def streaming_cdc_latest(events: DataFrame) -> DataFrame:
    """Streaming CDC apply-changes: per-key last-writer-wins state.

    The streaming twin of the batch ``cdc_apply_changes`` operator
    (registry_maintenance.py) — the SAME snapshot semantics running
    against a live change feed instead of a compacted log: state holds
    one (ts, seq, op, value) tuple per key, each micro-batch folds its
    rows by max (ts, event_id), and every batch emits the key's current
    snapshot row (update mode). Tombstone filtering happens downstream
    of the drain, exactly like the batch operator — a key whose latest
    op is a delete stays out of the final snapshot but still flows as
    state. State is O(1) per key and hash-partitioned by key; a restart
    resumes from the checkpointed store."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_latest,
        outputStructType=CDC_OUT_SCHEMA,
        stateStructType=CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
