"""Benchmark inputs: the pinned fixture-page corpus and seeded table generators.

The 104 gate-passing fixture pages are read from
``tests/goldens/transcripts_smoke.parquet`` (turn 1 of each ``conv-<slug>``)
and pinned by the sha256 manifest ``pages.sha256.json`` beside this file.
Everything else is generated from the workload seed, so the same seed gives
byte-identical inputs.

Regenerate the manifest (only when the fixture parquet is deliberately
changed) with ``python3 perfbench/corpus.py --write-manifest``.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_PARQUET = os.path.join(ROOT, "tests", "goldens", "transcripts_smoke.parquet")
GOLDENS_PARQUET = os.path.join(ROOT, "tests", "goldens", "goldens.parquet")
MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pages.sha256.json")

# Non-HTML chatter: none of these passes the pipeline's HTML gate.
CHATTER = (
    "Sure - let me look into that for you.",
    "The command exited with status 0.",
    "",
    "Here's a summary of the findings so far: nothing conclusive.",
    "<div><p>an html fragment that is not a full document</p></div>",
)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])

_EPOCH = datetime.datetime(2026, 1, 1)


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _fixture_turns() -> dict[str, str]:
    t = pq.read_table(FIXTURE_PARQUET, columns=["conv_id", "turn_idx", "text"])
    return {
        c: x for c, i, x in zip(
            t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist(),
            t.column("text").to_pylist(),
        ) if i == 1
    }


def load_pages() -> list[tuple[str, str]]:
    """[(slug, html)] for the pinned pages, in manifest order.

    Raises ValueError if a page is missing or its bytes differ from the
    manifest, so a drifted corpus never reaches a timed run."""
    with open(MANIFEST) as fh:
        manifest = json.load(fh)
    turns = _fixture_turns()
    pages = []
    for entry in manifest["pages"]:
        html = turns.get("conv-" + entry["slug"])
        if html is None or _sha256(html) != entry["sha256"]:
            raise ValueError(f"fixture page {entry['slug']!r} is missing or changed")
        pages.append((entry["slug"], html))
    return pages


def write_manifest() -> None:
    """Pin every fixture page that passes the pipeline's HTML gate."""
    import re

    sys.path.insert(0, ROOT)
    from readability_1_spark.pipeline import HTML_GATE

    turns = _fixture_turns()
    pages = [
        {"slug": c[len("conv-"):], "sha256": _sha256(x), "bytes": len(x.encode("utf-8"))}
        for c, x in sorted(turns.items()) if x and re.search(HTML_GATE, x)
    ]
    with open(MANIFEST, "w") as fh:
        json.dump({"source": "tests/goldens/transcripts_smoke.parquet (turn_idx == 1)",
                   "pages": pages}, fh, indent=1)
        fh.write("\n")


def transcripts(pages: list[tuple[str, str]], copies: int, seed: int,
                hot_convs: int = 4, hot_share: float = 0.3, conv_len: int = 6):
    """A seeded transcripts table with ``copies`` fetches of every page.

    A third of the turns are HTML.  Every page appears exactly ``copies``
    times, so the extraction work is the same for every seed; the seed moves
    where each fetch lands (conversation, turn, partition).  ``hot_share`` of
    all turns belong to ``hot_convs`` hot conversations.

    Returns (pyarrow.Table, {(conv_id, turn_idx): slug} for the HTML turns).
    """
    rng = random.Random(seed)
    html = [i for i in range(len(pages)) for _ in range(copies)]
    rng.shuffle(html)
    kinds = html + [-1] * (2 * len(html))
    rng.shuffle(kinds)
    n_hot = int(len(kinds) * hot_share)
    conv, turn, role, text, tool, ts, expected = [], [], [], [], [], [], {}
    next_idx: dict[str, int] = {}
    cold = 0
    for n, k in enumerate(kinds):
        if n < n_hot:
            c = f"hot-{rng.randrange(hot_convs)}"
        else:
            c = f"conv-{cold // conv_len:05d}"
            cold += 1
        i = next_idx.get(c, 0)
        next_idx[c] = i + 1
        conv.append(c)
        turn.append(i)
        ts.append(_EPOCH + datetime.timedelta(seconds=n))
        if k >= 0:
            role.append("tool")
            tool.append("browser")
            text.append(pages[k][1])
            expected[(c, i)] = pages[k][0]
        else:
            role.append("user" if i % 2 == 0 else "assistant")
            tool.append(None)
            text.append(CHATTER[rng.randrange(len(CHATTER))])
    table = pa.Table.from_arrays(
        [pa.array(conv), pa.array(turn, pa.int32()), pa.array(role), pa.array(text),
         pa.array(tool, pa.string()), pa.array(ts, pa.timestamp("us"))],
        schema=TRANSCRIPT_SCHEMA,
    )
    return table, expected


_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()


def _timestamps(rng, n: int, start: str, end: str, unit: str = "D") -> np.ndarray:
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype(f"datetime64[{unit}]").astype("datetime64[us]")


def registry_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Seeded ``lineitem``, ``events`` and ``documents`` tables (the ones the
    benchmarked queries read), with the schemas and value ranges of the
    registry's test data at scale factor sf."""
    rng = np.random.default_rng(seed)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = int(15_000 * sf), int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))

    def choice(values, n, p=None):
        return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]

    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n_line),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": choice(["A", "N", "R"], n_line),
        "l_linestatus": choice(["F", "O"], n_line),
        "l_shipdate": _timestamps(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.sort(_timestamps(rng, n_events, "2024-01-01", "2024-01-30T23:59:59.999999",
                                  unit="us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": choice(["view", "click", "purchase", "signup", "error"], n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    # Documents: 10-100 words each; about 5% are near-duplicates of an
    # earlier document with " dup" appended, which the dedup queries find.
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(choice(_WORDS, int(rng.integers(10, 101)))))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": choice(["en", "zh", "es", "de", "fr"], n_docs,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"lineitem": lineitem, "events": events, "documents": documents}


if __name__ == "__main__":
    if sys.argv[1:] != ["--write-manifest"]:
        sys.exit("usage: python3 perfbench/corpus.py --write-manifest")
    write_manifest()
