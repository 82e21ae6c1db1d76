"""Seeded input generators for the benchmark.

Everything the engine reads during a benchmark run is written here, from
`--seed` alone, so the same seed gives byte-identical files and the
program never sees anything but these files.

Corpus model (the shape of the sf0.1 testdata tables): `documents` holds
5,000 word-bag texts of 10-100 words drawn uniformly from a 30-word
vocabulary, 5% of them near-duplicates (another doc's text + " dup"), a
skewed language mix and 20 round-robin sources; `embeddings` holds 2,000
unit vectors of dimension 64 around 10 labelled centres; `events` holds
100,000 click-stream rows over 30 days.

Derived inputs:
  * `inflate`        -- the copy-marker model of tools/scale_smoke.py: copy c
                        of doc i gets id i*mult+c and " c<c> " between every
                        pair of words, so copies share no shingles and the
                        corpus grows in rows, not in duplicate pairs.
  * `Poller`         -- NewsAPI/GNews poll pages of raw envelopes, with a
                        re-fetch duplicate share and a corrupt-line share.
  * `curated_drops`  -- `(doc_id, text)` JSON-lines drops of gate-clean
                        English texts with a near-duplicate share.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DUP_FRAC = 0.05
EMB_DIM = 64
N_LABELS = 10
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_T0 = _dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86_400

# Curated drops: English texts of 28-40 words drawn without replacement from
# this bank, so most pass the curation gate (enough words, no repetition).
BANK = (
    "every morning brings fresh coffee and quiet conversation about distant "
    "mountains where eager travelers discover hidden valleys beneath golden "
    "sunlight while children play near rivers full of shining fish completely "
    "different material concerning engine rooms with broadcast joins running "
    "across many executors at considerable scale during long nights when "
    "operators watch dashboards showing steady progress everywhere gardens "
    "bloom under warm skies as farmers gather ripened fruit baskets along "
    "winding paths toward village markets filled with cheerful voices trading "
    "stories bread honey wool lanterns maps candles barrels copper wheels"
).split()

# NewsAPI pages hold up to 100 articles (the reference asks for
# pageSize=100). GNews returns at most 10 articles per request on its free
# plan, though the reference asks for max=100.
PAGE_SIZES = {"newsapi": 100, "gnews": 10}


def _rng(seed: int, stream: int) -> np.random.Generator:
    """An independent generator per input kind, so adding one input kind
    never shifts another's values."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def documents(seed: int, n: int = 5000) -> pa.Table:
    rng = _rng(seed, 1)
    n_words = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    texts, off = [], 0
    for k in n_words:
        texts.append(" ".join(VOCAB[w] for w in words[off : off + k]))
        off += k
    dups = rng.choice(n, size=int(n * DUP_FRAC), replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int = 2000) -> pa.Table:
    rng = _rng(seed, 2)
    centres = rng.normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, size=n)
    v = centres[labels] + 1.5 * rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def events(seed: int, n: int = 100_000) -> pa.Table:
    rng = _rng(seed, 3)
    offs = np.sort(rng.integers(0, EVENT_SPAN_S * 1_000_000, size=n))
    t0 = int(EVENT_T0.replace(tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(t0 + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 2000, size=n)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), size=n)],
                pa.string(),
            ),
            "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
                pa.string(),
            ),
        }
    )


def write_corpus(out_dir: str, seed: int) -> pa.Table:
    """The sf0.1-shaped table set the registry queries read; returns the
    documents table."""
    docs = documents(seed)
    _write(docs, f"{out_dir}/documents.parquet")
    _write(embeddings(seed), f"{out_dir}/embeddings.parquet")
    _write(events(seed), f"{out_dir}/events.parquet")
    return docs


def inflate(docs: pa.Table, mult: int) -> pa.Table:
    """Copy-marker inflation (see module docstring), same columns."""
    ids, texts, langs, sources = [], [], [], []
    for d, t, lang in zip(
        docs["doc_id"].to_pylist(), docs["text"].to_pylist(), docs["lang"].to_pylist()
    ):
        for c in range(mult):
            i = d * mult + c
            ids.append(i)
            texts.append(t.replace(" ", f" c{c} "))
            langs.append(lang)
            sources.append(f"src{i % N_SOURCES}")
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_inflated(out_dir: str, docs: pa.Table, mult: int) -> pa.Table:
    big = inflate(docs, mult)
    _write(big, f"{out_dir}/documents.parquet")
    return big


def _iso(ts: float) -> str:
    return _dt.datetime.fromtimestamp(ts, _dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.000Z"
    )


def envelope(doc_id: int, text: str, source: str, api: str, fetched: float) -> dict:
    words = text.split(" ")
    return {
        "source_api": api,
        "fetched_at": _iso(fetched),
        "inserted_at": _iso(fetched + 1),
        "article": {
            "title": " ".join(words[:8]),
            "description": " ".join(words[8:20]),
            "content": text,
            "url": f"https://{source}.example.com/{doc_id}",
            "publishedAt": _iso(fetched - 600),
            "author": f"author{doc_id % 50}",
            "source": {"id": source, "name": source, "url": f"https://{source}.example.com"},
        },
    }


class Poller:
    """The two producers' polls: one NewsAPI page and one GNews page per
    5-minute tick, each a JSON-lines file named in arrival order.
    `dup_frac` of each page re-fetches an article an earlier page already
    carried; `corrupt_frac` of lines are cut short mid-object. Articles are
    taken from `docs` in order, wrapping around (which only adds
    re-fetches). The same seed and call sequence give the same files.

    Both shares are unverified assumptions: no source gives a re-fetch or
    corrupt-line rate for these APIs. SURVEY.md T2 says the same article is
    re-fetched on every 5-minute poll, so the deployed re-fetch share is
    likely higher than the default here."""

    def __init__(self, docs: pa.Table, seed: int, dup_frac: float = 0.2, corrupt_frac: float = 0.01):
        self.rng = _rng(seed, 4)
        self.ids = docs["doc_id"].to_pylist()
        self.texts = docs["text"].to_pylist()
        self.srcs = docs["source"].to_pylist()
        self.dup_frac, self.corrupt_frac = dup_frac, corrupt_frac
        self.seen: list[int] = []
        self.tick = 0

    def poll(self, out_dir: str, n_ticks: int) -> list[str]:
        """Write the next n_ticks ticks of pages; returns their paths."""
        fetched0 = EVENT_T0.replace(tzinfo=_dt.timezone.utc).timestamp()
        os.makedirs(out_dir, exist_ok=True)
        paths = []
        for tick in range(self.tick, self.tick + n_ticks):
            for api, size in PAGE_SIZES.items():
                lines = []
                for _ in range(size):
                    if self.seen and self.rng.random() < self.dup_frac:
                        k = self.seen[int(self.rng.integers(0, len(self.seen)))]
                    else:
                        k = len(self.seen) % len(self.ids)
                        self.seen.append(k)
                    env = envelope(self.ids[k], self.texts[k], self.srcs[k], api, fetched0 + tick * 300)
                    line = json.dumps(env, separators=(",", ":"))
                    if self.rng.random() < self.corrupt_frac:
                        line = line[: len(line) // 2]
                    lines.append(line)
                path = f"{out_dir}/poll-{tick:05d}-{api}.json"
                with open(path, "w") as f:
                    f.write("\n".join(lines) + "\n")
                paths.append(path)
        self.tick += n_ticks
        return paths


def valid_urls(paths: list[str]) -> tuple[set[str], int, int]:
    """(URLs of the envelopes that parse, envelope lines, corrupt lines)
    over the given poll files -- what the stream must land exactly once."""
    urls: set[str] = set()
    n = bad = 0
    for p in paths:
        with open(p) as f:
            for line in f:
                n += 1
                try:
                    urls.add(json.loads(line)["article"]["url"])
                except json.JSONDecodeError:
                    bad += 1
    return urls, n, bad


def curated_drops(
    out_dir: str, seed: int, n_drops: int, size: int, near_dup_frac: float = 0.1
) -> list[str]:
    """`(doc_id, text)` JSON-lines drops of gate-clean English texts; ids
    are unique across drops. `near_dup_frac` of the docs repeat an earlier
    doc (of this drop or an earlier one) with its last word replaced, so
    both the in-batch pair search and the band-index probe find pairs.
    Returns the drop paths in arrival order."""
    rng = _rng(seed, 5)
    texts: list[str] = []
    paths = []
    os.makedirs(out_dir, exist_ok=True)
    for d in range(n_drops):
        path = f"{out_dir}/drop-{d:05d}.json"
        with open(path, "w") as f:
            for k in range(size):
                if texts and rng.random() < near_dup_frac:
                    words = texts[int(rng.integers(0, len(texts)))].split(" ")
                    words[-1] = BANK[int(rng.integers(0, len(BANK)))]
                    text = " ".join(words)
                else:
                    n_words = int(rng.integers(28, 41))
                    text = " ".join(BANK[i] for i in rng.choice(len(BANK), n_words, replace=False))
                texts.append(text)
                f.write(json.dumps({"doc_id": 1_000_000 * (d + 1) + k, "text": text}) + "\n")
        paths.append(path)
    return paths
