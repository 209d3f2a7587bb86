"""Seeded input generation. The program under test only ever sees the
files written here; the same seed always yields the same bytes.

Shapes follow the engine's sf0.1 test tables (documents spread over
sources, events over users, customers with market segments, labelled
64-d embeddings); sizes are the workloads' choice, and every value is
drawn from ``random.Random(seed)``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

#: the English markers the engine's lang-ID and stopword gates look for
STOPWORDS = ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with")
#: marker words of the other languages the lang-ID knows (culled as 'lang')
FOREIGN = {
    "es": ("el", "la", "de", "que", "y", "los", "del", "se", "las"),
    "de": ("der", "die", "und", "das", "den", "von", "zu", "mit", "ist"),
}
EVENT_TYPES = ("view", "purchase", "click", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
#: known titles each ingest round re-delivers. Fixed, because each
#: re-delivered title makes the synced indexes re-encode all of its rows
REDELIVERED_TITLES = 3
#: width of the streaming embeddings table (the sf0.1 table's)
EMBEDDING_DIM = 64
_SYLLABLES = (
    "ba", "ko", "ri", "tu", "ne", "sa", "lo", "mi", "da", "ve",
    "pa", "zu", "ge", "fo", "ha", "ji", "ku", "ly", "mo", "ti",
)


def vocabulary(rng: random.Random, n: int = 600) -> list[str]:
    """``n`` distinct pseudo-words of 2-4 syllables (none is a marker
    word of any language, so lang-ID is decided by the markers alone)."""
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def english_text(rng: random.Random, vocab: list[str], n_tokens: int) -> str:
    """One line of ``n_tokens`` tokens, about a quarter of them English
    stopwords: passes every default curation gate."""
    return " ".join(
        rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(vocab)
        for _ in range(n_tokens)
    )


def documents(seed: int, n_docs: int, n_titles: int) -> list[dict]:
    """``documents(doc_id, text, title)``: English documents of 40-120
    tokens, spread over ``n_titles`` titles."""
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    return [
        {
            "doc_id": i,
            "text": english_text(rng, vocab, rng.randint(40, 120)),
            "title": f"src{rng.randrange(n_titles)}",
        }
        for i in range(n_docs)
    ]


def curation_corpus(seed: int, n_docs: int, n_exact: int, n_near: int) -> tuple[list[dict], dict]:
    """Documents plus planted duplicates for ``curate_documents``.

    Of the ``n_docs`` base documents about 6% are foreign-language and
    about 4% too short, so the filter stages also cull. Planted after
    them, with fresh ids:

    - ``n_exact`` exact duplicates: a copy of a distinct passing base
      document, upper-cased and re-spaced (the fingerprint normalizes
      case and whitespace);
    - ``n_near`` near duplicates: a copy of another passing base
      document with one extra token appended (word 3-shingle Jaccard
      above 0.98, far over the 0.8 threshold).

    Returns (rows, expected) where expected maps ``exact``/``near`` to
    the planted ids and ``filtered`` to the ids the gates must cull.
    """
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    rows: list[dict] = []
    passing: list[int] = []
    filtered: list[int] = []
    for i in range(n_docs):
        roll = rng.random()
        if roll < 0.06:
            markers = FOREIGN[rng.choice(sorted(FOREIGN))]
            text = " ".join(
                rng.choice(markers) if rng.random() < 0.3 else rng.choice(vocab)
                for _ in range(rng.randint(40, 120))
            )
            filtered.append(i)
        elif roll < 0.10:
            text = "the " + " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 7)))
            filtered.append(i)
        else:
            text = english_text(rng, vocab, rng.randint(60, 120))
            passing.append(i)
        rows.append({"doc_id": i, "text": text})
    originals = rng.sample(passing, n_exact + n_near)
    exact_ids, near_ids = [], []
    for j, src in enumerate(originals):
        new_id = n_docs + j
        text = rows[src]["text"]
        if j < n_exact:
            text = "  ".join(text.upper().split(" "))
            exact_ids.append(new_id)
        else:
            text = f"{text} {rng.choice(vocab)}"
            near_ids.append(new_id)
        rows.append({"doc_id": new_id, "text": text})
    return rows, {"exact": exact_ids, "near": near_ids, "filtered": filtered}


def write_documents_parquet(path: str, rows: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(rows), path)


def ingest_round(
    rng: random.Random,
    vocab: list[str],
    round_no: int,
    known_titles: list[str],
    n_docs: int,
) -> list[dict]:
    """One landed file's records (``FormName``, ``text``): ``n_docs``
    single-chunk documents grouped into titles of 2-8 documents. The
    first ``REDELIVERED_TITLES`` titles re-deliver distinct already
    ingested titles (with a possibly different document count), within
    the first half of the file; the rest are new."""
    titles = rng.sample(known_titles, min(REDELIVERED_TITLES, len(known_titles)))
    records: list[dict] = []
    while len(records) < n_docs:
        if titles and len(records) < n_docs // 2:
            title = titles.pop(0)
        else:
            title = f"r{round_no:03d}-t{len(records):03d}"
        m = min(rng.randint(2, 8), n_docs - len(records))
        records.extend(
            {"FormName": title, "text": english_text(rng, vocab, rng.randint(30, 80))}
            for _ in range(m)
        )
    return records


def write_jsonl(path: str, records: list[dict]) -> None:
    """Write to a hidden temp name, then rename: the file source sees a
    complete file or nothing."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    os.replace(tmp, path)


def streaming_dir(
    seed: int,
    out_dir: str,
    *,
    n_events: int,
    n_users: int,
    n_customers: int,
    n_vectors: int,
    n_files: int,
) -> dict:
    """A table dir for the streaming corpus entries: ``events.parquet``
    and ``embeddings.parquet`` are directories of ``n_files`` landed
    part files each, events split into consecutive stretches of time;
    ``customer.parquet`` is one file. Returns row counts."""
    rng = random.Random(seed)
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 1_000_000
    events = {
        "event_id": list(range(n_events)),
        # in time order, so each part file lands a later stretch of time
        # and no micro-batch brings rows behind an earlier one's watermark
        "ts": sorted(start + dt.timedelta(microseconds=rng.randrange(span_us)) for _ in range(n_events)),
        "user_id": [rng.randrange(n_users) for _ in range(n_events)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.uniform(1, 500), 2) for _ in range(n_events)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)],
    }
    ev_schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    _write_split(pa.Table.from_pydict(events, ev_schema), f"{out_dir}/events.parquet", n_files)

    vectors = []
    for _ in range(n_vectors):
        v = [rng.gauss(0, 1) for _ in range(EMBEDDING_DIM)]
        norm = sum(x * x for x in v) ** 0.5
        vectors.append([x / norm for x in v])
    emb = pa.Table.from_pydict(
        {
            "vec_id": list(range(n_vectors)),
            "embedding": vectors,
            "label": [rng.randrange(10) for _ in range(n_vectors)],
        },
        pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
        ),
    )
    _write_split(emb, f"{out_dir}/embeddings.parquet", n_files)

    cust = pa.Table.from_pydict(
        {
            "c_custkey": list(range(n_customers)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
            "c_nationkey": [rng.randrange(25) for _ in range(n_customers)],
            "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_customers)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_customers)],
        },
        pa.schema(
            [
                ("c_custkey", pa.int64()),
                ("c_name", pa.string()),
                ("c_nationkey", pa.int32()),
                ("c_acctbal", pa.float64()),
                ("c_mktsegment", pa.string()),
            ]
        ),
    )
    pq.write_table(cust, f"{out_dir}/customer.parquet")
    return {"events": n_events, "embeddings": n_vectors, "customer": n_customers}


def _write_split(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")
