"""Seeded input generators: a news-shaped document corpus, a reader-event
stream, an embeddings table, and the parquet files the pipeline and the
query mix read.

Everything here is a pure function of its seed: the same seed gives the
same rows and byte-identical parquet files.

The seed varies the content, not the amount of work: documents come in
blocks of 20, and each block holds every source once, exactly two
boilerplate openers and one text length from each of 20 equal-width
length bins, in seeded order.  Any run of consecutive documents therefore
touches about the same number of source partitions, text bytes and
boilerplate copies whatever the seed, which keeps the spread between
seeds down to what the engine itself does.
"""

from __future__ import annotations

import bisect
import itertools
import math
import os
import random
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

N_SOURCES = 20
#: documents per block (see the module docstring)
BLOCK = N_SOURCES
#: text-length spread of the reference-shaped `documents` table (chars)
MIN_CHARS, MAX_CHARS = 44, 577
#: documents per block that open with the shared boilerplate span (10%)
BOILERPLATE_PER_BLOCK = 2
#: boilerplate length in tokens: two whole 8-token spans, so the curate
#: stage's keep-first span registry trims exactly these from later copies
BOILERPLATE_TOKENS = 16
VOCAB_SIZE = 4000
ZIPF_S = 1.1
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
#: doc ids step by this so the registry's one-shot jobs-DAG oracle
#: (which keeps ``doc_id % 5 = 0``) keeps every generated document
DOC_ID_STEP = 5
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
#: the reference `embeddings` table: 64-dim unit vectors, labels 0-9
EMBED_DIMS = 64
N_LABELS = 10

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

EMBED_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)

_ONSETS = "b c d f g h k l m n p r s t v z br ch dr gr kr pl st tr".split()
_VOWELS = "a e i o u ai ea ou".split()


def _word(rng: random.Random) -> str:
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(1, 3))
    )


class Corpus:
    """A seeded stream of news documents.  ``take(n)`` returns the next
    ``n`` rows; ids increase monotonically, so later batches are always
    later articles (the order the curate registry's keep-first rule and a
    live feed agree on)."""

    def __init__(self, seed: int):
        self._rng = random.Random(seed)
        vocab: list[str] = []
        seen: set[str] = set()
        while len(vocab) < VOCAB_SIZE:
            w = _word(self._rng)
            if w not in seen:
                seen.add(w)
                vocab.append(w)
        self._vocab = vocab
        self._cum = list(
            itertools.accumulate(1.0 / r**ZIPF_S for r in range(1, VOCAB_SIZE + 1))
        )
        self._lang_cum = list(itertools.accumulate(w for _, w in LANGS))
        self._boilerplate = " ".join(self._words(BOILERPLATE_TOKENS))
        self._next_id = DOC_ID_STEP
        self._block: list[tuple[str, int, bool]] = []

    def _words(self, n: int) -> list[str]:
        top = self._cum[-1]
        return [
            self._vocab[bisect.bisect_left(self._cum, self._rng.random() * top)]
            for _ in range(n)
        ]

    def _next_block(self) -> list[tuple[str, int, bool]]:
        """(source, target length, boilerplate?) for the next BLOCK docs."""
        sources = [f"src{i}" for i in range(N_SOURCES)]
        width = (MAX_CHARS - MIN_CHARS + 1) / BLOCK
        lengths = [
            self._rng.randint(MIN_CHARS + math.ceil(i * width), MIN_CHARS + math.ceil((i + 1) * width) - 1)
            for i in range(BLOCK)
        ]
        boiler = [i < BOILERPLATE_PER_BLOCK for i in range(BLOCK)]
        for xs in (sources, lengths, boiler):
            self._rng.shuffle(xs)
        return list(zip(sources, lengths, boiler))

    def _text(self, target: int, boilerplate: bool) -> str:
        text = self._boilerplate if boilerplate else ""
        while True:
            (w,) = self._words(1)
            nxt = f"{text} {w}" if text else w
            if len(nxt) > target:
                break
            text = nxt
        while len(text) < MIN_CHARS:  # a long first word can stop early
            text = f"{text} {self._vocab[0]}"
        return text

    def take(self, n: int) -> list[dict]:
        rows = []
        for _ in range(n):
            if not self._block:
                self._block = self._next_block()
            source, target, boilerplate = self._block.pop()
            text = self._text(target, boilerplate)
            lang_at = self._rng.random() * self._lang_cum[-1]
            rows.append(
                {
                    "doc_id": self._next_id,
                    "text": text,
                    "lang": LANGS[bisect.bisect_left(self._lang_cum, lang_at)][0],
                    "source": source,
                    "n_chars": len(text),
                }
            )
            self._next_id += DOC_ID_STEP
        return rows


def make_events(seed: int, n: int, n_users: int = 150) -> list[dict]:
    """Reader events over 30 days: the table the temporal queries read."""
    rng = random.Random(seed)
    t0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
    span = 30 * 86_400_000_000
    stamps = sorted(rng.randrange(span) for _ in range(n))
    return [
        {
            "event_id": i,
            "ts": t0 + stamps[i],
            "user_id": rng.randrange(n_users),
            "event_type": rng.choice(EVENT_TYPES),
            "value": rng.randrange(1, 5000) / 100.0,
            "props": f'{{"k": {rng.randrange(100)}}}',
        }
        for i in range(n)
    ]


def make_embeddings(seed: int, n: int) -> list[dict]:
    """Unit vectors in random directions with uniform labels, as in the
    reference table (its same-label and cross-label mean cosines are both
    near 0): the table the similarity and ANN queries read."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(EMBED_DIMS)]
        norm = math.sqrt(sum(x * x for x in v))
        rows.append(
            {"vec_id": i, "embedding": [x / norm for x in v], "label": rng.randrange(N_LABELS)}
        )
    return rows


def write_parquet(rows: list[dict], schema: pa.Schema, path: str) -> int:
    """Write ``rows`` to ``path`` atomically: the file is written under a
    hidden temporary name in the same directory and renamed into place, so
    a file-source stream polling the directory never reads a partial
    parquet.  Returns the file size in bytes."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, tmp, compression="zstd", write_statistics=False)
    os.replace(tmp, path)
    return os.path.getsize(path)


def text_bytes(rows: list[dict]) -> int:
    """Input size as the pipeline's users count it: UTF-8 bytes of text."""
    return sum(len(r["text"].encode()) for r in rows)
