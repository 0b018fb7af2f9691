"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same bytes. The program under test only ever receives what these functions
return (Kafka-shaped records, parquet tables); nothing it computes feeds
back into the inputs.

CDC envelopes follow the reference producer's data model: a 50/30/20
insert/update/delete mix, ``data = null`` on deletes, per-document
``video_id``/``session_id`` so the dedup key is stable, and watched/duration
fields with occasional NULLs. On top of that the stream carries the
delivery faults a real queue produces: Zipf-skewed key popularity for
updates and deletes, a small share of corrupt messages, redelivered
duplicates and envelopes delivered after newer versions of the same key.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
from dataclasses import dataclass

DEVICE_TYPES = ["mobile", "desktop", "tablet", "smart_tv"]
QUALITIES = ["360p", "480p", "720p", "1080p", "4k"]

#: fault rates of the delivered stream (shares of envelopes)
CORRUPT_SHARE = 0.005
REDELIVER_SHARE = 0.03
OUT_OF_ORDER_SHARE = 0.02
#: how far (in delivery positions) a late or redelivered envelope may slip
MAX_SLIP = 200
ZIPF_S = 1.1


def zipf_cum(n: int) -> list[float]:
    """Cumulative Zipf(s=ZIPF_S) weights of popularity ranks 1..n."""
    return list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(n)))


@dataclass(frozen=True)
class Message:
    """One Kafka-shaped record: ``value`` is the envelope JSON text."""

    key: bytes | None
    value: bytes


def _iso(epoch_s: int) -> str:
    # a 2024 calendar of 12 x 28-day months (every date valid), formatted
    # like the producer's ``isoformat() + 'Z'`` truncated to seconds
    day, rem = divmod(epoch_s, 86400)
    hh, rem = divmod(rem, 3600)
    mm, ss = divmod(rem, 60)
    month, dom = divmod(day % 336, 28)
    return f"2024-{month + 1:02d}-{dom + 1:02d}T{hh:02d}:{mm:02d}:{ss:02d}Z"


class CdcGenerator:
    """A CDC envelope stream over a growing document population.

    ``preload(n)`` emits one insert per new document; ``stream(n)`` emits
    ``n`` envelopes of the mixed workload followed by its faults, in
    delivery order. Versions are assigned in creation order, so a message
    delivered late carries a lower version than ones already delivered.
    """

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        self._version = 0
        self._docs: list[tuple[str, str, str, str]] = []
        self._zipf_cum: list[float] = []
        self._zipf_order: list[int] = []

    def _new_doc(self) -> tuple[str, str, str, str]:
        rng = self._rng
        doc = (
            f"{rng.getrandbits(96):024x}",
            f"video_{rng.randint(10000, 99999)}",
            f"session_{rng.randint(100000, 999999)}",
            rng.choice(DEVICE_TYPES),
        )
        self._docs.append(doc)
        return doc

    def _envelope(self, op: str, doc: tuple[str, str, str, str]) -> bytes:
        rng = self._rng
        self._version += 1
        ts = _iso(rng.randrange(336 * 86400))
        data = None
        if op != "delete":
            duration = rng.randint(60, 3600)
            watched = rng.randint(0, duration)
            data = {
                "video_id": doc[1],
                "session_id": doc[2],
                "watched_seconds": None if rng.random() < 0.01 else watched,
                "video_duration_seconds": None if rng.random() < 0.01 else duration,
                "timestamp": ts,
                "device_type": doc[3],
                "quality": rng.choice(QUALITIES),
            }
        env = {
            "operation": op,
            "document_id": doc[0],
            "timestamp": ts,
            "data": data,
            "version": self._version,
        }
        return json.dumps(env, separators=(",", ":")).encode()

    def _hot_doc(self) -> tuple[str, str, str, str]:
        """A Zipf(s=1.1)-popular existing document: popularity ranks are a
        seeded permutation of the documents that existed when the ranks
        were last drawn (at the start of each ``stream`` call)."""
        r = bisect.bisect_left(self._zipf_cum, self._rng.random() * self._zipf_cum[-1])
        return self._docs[self._zipf_order[r]]

    def preload(self, n: int) -> list[Message]:
        return [
            Message(doc[0].encode(), self._envelope("insert", doc))
            for doc in (self._new_doc() for _ in range(n))
        ]

    def stream(self, n: int) -> list[Message]:
        rng = self._rng
        if not self._docs:
            raise ValueError("stream() needs preloaded documents to update")
        self._zipf_order = list(range(len(self._docs)))
        rng.shuffle(self._zipf_order)
        self._zipf_cum = zipf_cum(len(self._docs))
        slotted: list[tuple[float, Message]] = []
        for pos in range(n):
            u = rng.random()
            if u < 0.5:
                op, doc = "insert", self._new_doc()
            else:
                op, doc = ("update" if u < 0.8 else "delete"), self._hot_doc()
            msg = Message(doc[0].encode(), self._envelope(op, doc))
            slot = float(pos)
            if rng.random() < OUT_OF_ORDER_SHARE:
                slot += rng.randint(1, MAX_SLIP) + 0.5
            slotted.append((slot, msg))
            if rng.random() < REDELIVER_SHARE:
                slotted.append((pos + rng.randint(1, MAX_SLIP) + 0.25, msg))
            if rng.random() < CORRUPT_SHARE:
                slotted.append((pos + 0.75, self._corrupt(msg)))
        slotted.sort(key=lambda sm: sm[0])
        return [m for _, m in slotted]

    def _corrupt(self, msg: Message) -> Message:
        """A malformed twin of a real envelope: truncated JSON text, or
        valid JSON that lacks its ``document_id``."""
        if self._rng.random() < 0.5:
            cut = self._rng.randint(1, len(msg.value) - 2)
            return Message(msg.key, msg.value[:cut])
        env = json.loads(msg.value)
        del env["document_id"]
        return Message(None, json.dumps(env, separators=(",", ":")).encode())


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

#: the testdata corpus vocabulary (30 words) — near-dup detection works on
#: word shingles, so a small vocabulary gives realistic shingle collisions
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64
EMBED_LABELS = 10


def documents_table(seed: int, n: int) -> dict[str, list]:
    """``documents`` columns: 10-100 word texts over ``VOCAB``, 5% of them
    near-duplicates of an earlier document (its text plus ``" dup"``)."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def embeddings_table(seed: int, n: int) -> dict[str, list]:
    """``embeddings`` columns: unit float32 vectors, weakly clustered
    around ``EMBED_LABELS`` random centres (like the testdata corpus, no
    pair is a near-duplicate)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, size=n)
    x = rng.normal(size=(n, EMBED_DIM)) + 0.6 * centres[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": list(range(n)),
        "embedding": [row.tolist() for row in x.astype(np.float32)],
        "label": labels.astype(np.int32).tolist(),
    }
