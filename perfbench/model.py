"""Pure-Python reference models the benchmark checks the program against.

``LwwModel`` replays delivered Kafka-shaped records with the warehouse's
documented semantics: corrupt messages (undecodable JSON, or a missing
``operation`` / ``document_id`` / ``version``) go to quarantine; deletes and
data-less envelopes write nothing; every other envelope upserts its row
keyed on ``(document_id, video_id, session_id)`` when its version is newer
than the stored one (last write wins, so redelivery and late delivery are
no-ops). It shares no code with the program.
"""

from __future__ import annotations

import json
import math

REQUIRED = ("operation", "document_id", "version")
#: warehouse columns the model predicts (``ingestion_time`` is wall clock)
COLUMNS = (
    "original_id",
    "original_timestamp",
    "video_id",
    "session_id",
    "watched_seconds",
    "video_duration_seconds",
    "watched_ratio",
    "device_type",
    "quality",
    "is_deleted",
    "version",
)


def decode(value: bytes) -> dict | None:
    """The envelope, or None when the message is corrupt."""
    try:
        env = json.loads(value)
    except ValueError:
        return None
    if not isinstance(env, dict) or any(env.get(k) is None for k in REQUIRED):
        return None
    return env


def watched_ratio(watched: int | None, duration: int | None) -> float:
    """floor(w / d * 10^4 + 0.5) / 10^4 with the missing-field defaults
    (watched 0, duration 1) and ratio 0 for non-positive durations."""
    w = float(watched if watched is not None else 0)
    d = float(duration if duration is not None else 1)
    raw = w / d if d > 0 else 0.0
    return math.floor(raw * 10000.0 + 0.5) / 10000.0


def warehouse_row(env: dict) -> tuple:
    d = env["data"]
    ts = d.get("timestamp")
    return (
        env["document_id"],
        None if ts is None else f"{ts[:10]} {ts[11:19]}",
        d.get("video_id"),
        d.get("session_id"),
        d.get("watched_seconds"),
        d.get("video_duration_seconds"),
        watched_ratio(d.get("watched_seconds"), d.get("video_duration_seconds")),
        d.get("device_type"),
        d.get("quality"),
        False,
        env["version"],
    )


class LwwModel:
    def __init__(self) -> None:
        self.rows: dict[tuple, tuple] = {}
        self.corrupt = 0

    def copy(self) -> LwwModel:
        other = LwwModel()
        other.rows = dict(self.rows)
        other.corrupt = self.corrupt
        return other

    def apply(self, messages) -> int:
        """Apply one delivered batch; returns how many keys' stored rows
        it changed."""
        changed = set()
        for msg in messages:
            env = decode(msg.value)
            if env is None:
                self.corrupt += 1
                continue
            if env["operation"] not in ("insert", "update") or env.get("data") is None:
                continue
            row = warehouse_row(env)
            key = row[0], row[2], row[3]
            cur = self.rows.get(key)
            if cur is None or row[-1] > cur[-1]:
                self.rows[key] = row
                changed.add(key)
        return len(changed)

    def changes_since(self, old: LwwModel) -> dict[tuple, tuple]:
        """What ``table_changes`` must report from ``old`` to this state:
        key -> (version, change type). Rows are never removed."""
        out = {}
        for key, row in self.rows.items():
            prev = old.rows.get(key)
            if prev is None:
                out[key] = (row[-1], "insert")
            elif prev[-1] != row[-1]:
                out[key] = (row[-1], "update")
        return out

    def rollup(self) -> dict[tuple, tuple]:
        """(device_type, quality) -> (rows, sum of watched_seconds)."""
        out: dict[tuple, list] = {}
        for row in self.rows.values():
            acc = out.setdefault((row[7], row[8]), [0, 0])
            acc[0] += 1
            acc[1] += row[4] or 0
        return {k: tuple(v) for k, v in out.items()}


def count_row_mismatches(got: dict[tuple, tuple], want: dict[tuple, tuple]) -> int:
    """Keys missing on either side plus keys whose rows differ."""
    return len(got.keys() ^ want.keys()) + sum(
        1 for k in got.keys() & want.keys() if got[k] != want[k]
    )


def _normalized(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def _is_null(x) -> bool:
    import pandas as pd

    return x is None or x is pd.NA or (isinstance(x, float) and math.isnan(x))


def frame_mismatch(got, want) -> bool:
    """True unless two pandas frames hold the same rows: columns matched
    by name, row order ignored, values compared exactly (NULL == NaN)."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return True
    a, b = _normalized(got), _normalized(want)
    for c in a.columns:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if _is_null(x) and _is_null(y):
                continue
            if _is_null(x) or _is_null(y) or x != y:
                return True
    return False
