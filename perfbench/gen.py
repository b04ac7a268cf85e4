"""Seeded input generators for the benchmark.

Everything a run reads is made here from ``--seed``, so the benchmark needs
nothing outside its own checkout:

- :func:`write_corpus` writes the corpus tables the curation queries read
  (``customer``, ``documents`` and ``embeddings``), with the same schemas
  and value ranges as the engine's test corpus, at a chosen scale factor;
- :class:`ScheduleGenerator` produces the pretalx-shaped schedule documents
  of the ``schedule_sync`` workload, one per cycle, and keeps the ground truth
  of what the hub must hold after each cycle.

The same seed gives byte-identical tables and identical documents.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.42, 0.14, 0.15, 0.14, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The corpus tables the curation queries read, at scale factor ``sf``
    (0.01 = 1.5k customers, 500 documents, 200 embeddings)."""
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vec = max(200, int(20_000 * sf))
    return {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vec),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; ~2% exact
    duplicates and ~5% near-duplicates (another document plus ``dup``)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.07:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), n, p=LANG_WEIGHTS)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around one weak centroid per label."""
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, n)
    x = 0.15 * centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_corpus(root: str, seed: int, sf: float) -> dict[str, int]:
    """Write the corpus as ``<root>/<table>.parquet``; returns row counts."""
    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, table in corpus_tables(seed, sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --- schedule_sync: pretalx-shaped schedule documents -------------------------

ROOMS = (1, 2, 3)
_TITLE_WORDS = "data stream lake spark merge table query engine scale graph".split()


@dataclass
class ScheduleGenerator:
    """A conference schedule that changes between sync cycles.

    Each :meth:`next_doc` call edits the previous schedule: ``update_frac``
    of the talks get a new title, ``delete_frac`` are removed and as many
    new talks are added, so the hub size stays at ``n_talks``. ``expected``
    is what the hub must hold after the document is synced: match key
    (lower-cased talk code) -> talk name.
    """

    seed: int
    n_talks: int
    n_speakers: int = 200
    update_frac: float = 0.05
    delete_frac: float = 0.02
    prefix: str = "T"
    talks: dict[str, dict] = field(default_factory=dict)
    cycle: int = 0
    _next_code: int = 0

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        for _ in range(self.n_talks):
            self._add_talk()

    def _title(self) -> str:
        r = self._rng
        return " ".join(r.choice(_TITLE_WORDS) for _ in range(4)) + f" {r.randrange(10**6)}"

    def _add_talk(self) -> None:
        r = self._rng
        code = f"{self.prefix}-{self._next_code:07d}"
        self._next_code += 1
        day, minute = r.randrange(3), r.randrange(0, 600, 15)
        off = r.choice(("+01:00", "+0200", "+00:00"))
        self.talks[code] = {
            "title": self._title(),
            "room": r.choice(ROOMS),
            "abstract": f"abstract {r.randrange(10**6)}",
            "speakers": [
                f"SPK{r.randrange(self.n_speakers)}" for _ in range(r.randint(1, 3))
            ],
            "start": f"2026-08-0{day + 1}T{9 + minute // 60:02d}:{minute % 60:02d}:00{off}",
            "duration": r.choice(("00:15", "00:30", "00:45", "01:00")),
            "code": code,
        }

    def doc(self) -> dict:
        speakers = [
            {"code": f"SPK{i}", "name": f"Speaker Number {i}"}
            for i in range(self.n_speakers)
        ]
        return {"speakers": speakers, "talks": list(self.talks.values())}

    def next_doc(self) -> tuple[dict, dict[str, int]]:
        """Advance one cycle; returns the new document and the
        create/update/delete counts a correct sync must apply."""
        r = self._rng
        codes = sorted(self.talks)
        n_del = int(self.n_talks * self.delete_frac)
        n_upd = int(self.n_talks * self.update_frac)
        picked = r.sample(codes, n_del + n_upd)
        for code in picked[:n_del]:
            del self.talks[code]
        for code in picked[n_del:]:
            self.talks[code]["title"] = self._title()
        for _ in range(n_del):
            self._add_talk()
        self.cycle += 1
        return self.doc(), {"create": n_del, "update": n_upd, "delete": n_del}

    def expected(self) -> dict[str, str]:
        return {code.lower(): t["title"] for code, t in self.talks.items()}


def write_doc(path: str, doc: dict) -> None:
    """One multi-line JSON schedule document, as the pretalx API serves it."""
    with open(path, "w") as fh:
        json.dump(doc, fh)
