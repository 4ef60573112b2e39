"""Seeded input generator for the benchmark.

Writes `events.parquet` and `documents.parquet` with the schema, size and
value distributions measured on the engine's sf0.1 test tables (the figures
are in perfbench/README.md; `python3 perfbench/gen.py --stats <dir>` prints
them for any directory holding the two tables):
- events: 100 000 rows, sorted by a uniform time over the 30 days from
  2024-01-01, sequential event_id, 5 equally likely event types, 100
  equally likely `props` values (500 type x props combinations, 1 500
  series and 300 000 samples once ingested), 1 500 equally likely users,
  value exponential with mean 50, rounded to cents.
- documents: 5 000 docs; text of 10-100 words (uniform) drawn uniformly from
  a 30-word vocabulary shared by all languages; 5 % are another doc's text
  with " dup" appended, 0.16 % an exact copy of an earlier doc; language
  en 41 %, es/fr/zh 15 % each, de 14 %; source `src<doc_id mod 20>`.
The same seed always gives byte-identical tables.
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_EVENTS = 100_000
N_USERS = 1_500
N_PROPS = 100
START_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_SHARE = [0.14, 0.41, 0.15, 0.15, 0.15]
N_DOCS = 5_000
N_SOURCES = 20
NEAR_DUP = 0.05
EXACT_DUP = 0.0016


def events(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(START_US + rng.integers(0, SPAN_US, N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, N_PROPS, N_EVENTS)]),
    })


def documents(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    texts = []
    copied = set()  # near-duplicate bases, each used once
    for i in range(N_DOCS):
        roll = rng.random()
        if i > 0 and roll < EXACT_DUP:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and roll < EXACT_DUP + NEAR_DUP and len(copied) < i:
            base = int(rng.integers(0, i))
            while base in copied:
                base = int(rng.integers(0, i))
            copied.add(base)
            texts.append(texts[base] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_SHARE)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write(out_dir: str, seed: int) -> None:
    pq.write_table(events(seed), f"{out_dir}/events.parquet")
    pq.write_table(documents(seed), f"{out_dir}/documents.parquet")


def stats(data_dir: str) -> dict:
    """The figures gen.py reproduces, measured on `data_dir`'s tables."""
    e = pq.read_table(f"{data_dir}/events.parquet").to_pandas()
    d = pq.read_table(f"{data_dir}/documents.parquet").to_pandas()
    per_series = e.groupby(["event_type", "props"]).size()
    words = d.text.str.split()
    q = lambda xs: [round(float(x), 2) for x in np.quantile(xs, [0.1, 0.5, 0.9])]  # noqa: E731
    return {
        "events": len(e), "event_types": e.event_type.nunique(),
        "type_share_max": round(e.event_type.value_counts(normalize=True).max(), 4),
        "props_values": e.props.nunique(), "users": e.user_id.nunique(),
        "type_props_series": len(per_series),
        "samples_per_series_min_med_max": [int(per_series.min()), float(per_series.median()),
                                           int(per_series.max())],
        "value_mean_p10_p50_p90": [round(e.value.mean(), 2)] + q(e.value),
        "events_per_day_min_max": [int(x) for x in
                                   e.ts.dt.floor("D").value_counts().agg(["min", "max"])],
        "docs": len(d), "distinct_terms": len({w for t in words for w in t}),
        "words_per_doc_p10_p50_p90": q(words.str.len()),
        "exact_dup_share": round(d.text.duplicated().mean(), 4),
        "near_dup_share": round(d.text.str.endswith(" dup").mean(), 4),
        "lang_share": {k: round(v, 3) for k, v in
                       sorted(d.lang.value_counts(normalize=True).items())},
        "sources": d.source.nunique(),
    }


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--stats":
        sys.exit("usage: gen.py --stats <dir with events.parquet and documents.parquet>")
    for k, v in stats(sys.argv[2]).items():
        print(f"{k}: {v}")
