"""Seeded input generator for the benchmark workloads.

Everything here is NumPy/PyArrow on the driver — no Spark job — so the
inputs exist before the engine is touched, and the same seed gives
byte-identical files. The engine only ever sees the files and lists
these functions return.

Corpus shape follows the engine's synthetic ``documents`` table
(doc_id, text, lang, source, n_chars): whitespace-joined words drawn
Zipf-style from a seeded vocabulary, with English stopwords mixed in so
the language and quality gates see realistic hit rates. Duplication is
injected explicitly so every dedup stage has real work:

- exact duplicates: a copy of an earlier document's text;
- near duplicates: a copy with a few words replaced (MinHash/LSH work);
- boilerplate: a shared 16-word passage appended to a share of the
  documents (repeated-passage removal work).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "zh", "es", "de", "fr")
N_SOURCES = 8
STOPWORDS_EN = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da",
    "zu", "fe", "go", "hi", "ja", "ko", "lu", "ma", "ni", "or",
    "pe", "qu", "ra", "si", "tu", "ul", "vo", "we", "xi", "yo",
)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a stream
    never shifts the numbers another stream draws."""
    return np.random.default_rng([seed, *stream])


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct made-up words in frequency-rank order. The word
    at rank ``r`` has 2 + r % 3 two-letter syllables whatever the seed,
    so every seed's corpus has the same byte size up to stopwords."""
    rng = rng_for(seed, 0)
    words: list[str] = []
    seen: set[str] = set(STOPWORDS_EN)
    while len(words) < size:
        n = 2 + len(words) % 3
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_p(n: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _doc_words(
    rng: np.random.Generator, vocab: list[str], p: np.ndarray, n: int
) -> list[str]:
    idx = rng.choice(len(vocab), size=n, p=p)
    out = [vocab[i] for i in idx]
    # ~15% English stopwords so language_id / quality_score see hits
    for pos in np.flatnonzero(rng.random(n) < 0.15):
        out[pos] = STOPWORDS_EN[int(rng.integers(0, len(STOPWORDS_EN)))]
    return out


def _balanced(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """``n`` labels in [0, k), as equal in count as possible, in seeded
    order."""
    return rng.permutation(np.arange(n) % k)


def edit_words(
    rng: np.random.Generator, words: list[str], vocab: list[str], frac: float
) -> list[str]:
    """Replace about ``frac`` of the words (at least one) with random
    vocabulary words — a near-duplicate revision."""
    out = list(words)
    n_edit = max(1, int(round(len(out) * frac)))
    for pos in rng.choice(len(out), size=min(n_edit, len(out)), replace=False):
        out[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def corpus(
    seed: int,
    n_docs: int,
    vocab_size: int = 2000,
    exact_dup_share: float = 0.1,
    near_dup_share: float = 0.0,
    boilerplate_share: float = 0.0,
    words: tuple[int, int] = (30, 120),
) -> tuple[dict[str, list], dict]:
    """Columns of a ``documents`` table plus its input properties.

    The seed changes content, not size: the duplicate and boilerplate
    counts, the multiset of document lengths and the lang/source
    balance are the same for every seed, so seeds differ in what the
    engine reads, not in how much."""
    rng = rng_for(seed, 1)
    vocab = vocabulary(seed, vocab_size)
    p = _zipf_p(vocab_size)
    boiler = _doc_words(rng_for(seed, 2), vocab, p, 16)
    n_exact = round(n_docs * exact_dup_share)
    n_near = round(n_docs * near_dup_share)
    n_orig = n_docs - n_exact - n_near
    # doc 0 is always an original; copies point at earlier originals
    kinds = np.concatenate(
        [[0], rng.permutation([0] * (n_orig - 1) + [1] * n_exact + [2] * n_near)]
    )
    lengths = rng.permutation(np.linspace(words[0], words[1], n_orig).round().astype(int))
    boiler_at = set(rng.choice(n_orig, size=round(n_orig * boilerplate_share), replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        kind = int(kinds[i])
        if kind == 0:
            k = len(originals)
            ws = _doc_words(rng, vocab, p, int(lengths[k]))
            if k in boiler_at:
                ws = ws + boiler
            texts.append(" ".join(ws))
            originals.append(i)
            continue
        src = texts[originals[int(rng.integers(0, len(originals)))]]
        if kind == 1:
            texts.append(src)
        else:
            texts.append(" ".join(edit_words(rng, src.split(" "), vocab, 0.05)))
    cols = {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [LANGS[int(i)] for i in _balanced(rng, n_docs, len(LANGS))],
        "source": [f"src{int(i)}" for i in _balanced(rng, n_docs, N_SOURCES)],
        "n_chars": [len(t) for t in texts],
    }
    props = {
        "docs": n_docs,
        "distinct_texts": len(set(texts)),
        "exact_dup_share": round(n_exact / n_docs, 4),
        "near_dup_share": round(n_near / n_docs, 4),
        "boilerplate_share": round(len(boiler_at) / n_docs, 4),
        "vocab_size": vocab_size,
        "user_bytes": sum(len(t.encode()) for t in texts),
    }
    return cols, props


_DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def write_parquet(cols: dict[str, list], path: str, schema: pa.Schema) -> None:
    """One file, one row group, no wall-clock metadata — so the bytes
    depend only on the data."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), path)


def write_documents(cols: dict[str, list], sf_dir: str) -> str:
    path = os.path.join(sf_dir, "documents.parquet")
    write_parquet(cols, path, _DOC_SCHEMA)
    return path


def embeddings(
    seed: int, n: int, dim: int = 64, n_clusters: int = 16
) -> np.ndarray:
    """Clustered float32 vectors (Gaussian blobs around unit centers),
    so IVF probing has structure to exploit."""
    rng = rng_for(seed, 3)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    member = rng.integers(0, n_clusters, n)
    vecs = centers[member] + 0.35 * rng.normal(size=(n, dim)) / np.sqrt(dim)
    return vecs.astype(np.float32)


def write_vectors(vecs: np.ndarray, path: str, id_col: str) -> str:
    """(``id_col`` = row number, embedding) as float32 lists."""
    schema = pa.schema([(id_col, pa.int64()), ("embedding", pa.list_(pa.float32()))])
    write_parquet(
        {id_col: list(range(len(vecs))), "embedding": [v.tolist() for v in vecs]},
        path,
        schema,
    )
    return path


def requests(
    seed: int, vecs: np.ndarray, texts: list[str], n: int, terms: int = 3
) -> list[dict]:
    """The serving request stream: a corpus vector plus seeded noise, 3
    BM25 terms drawn from words that occur in the corpus, and the dense
    arm (exact or IVF) by a seeded 50/50 mix."""
    rng = rng_for(seed, 4)
    present = sorted({w for t in texts for w in t.split(" ")} - set(STOPWORDS_EN))
    dim = vecs.shape[1]
    out = []
    for _ in range(n):
        base = vecs[int(rng.integers(0, len(vecs)))].astype(np.float64)
        q = base + 0.1 * rng.normal(size=dim) / np.sqrt(dim)
        picked = rng.choice(len(present), size=terms, replace=False)
        out.append(
            {
                "vec": [float(x) for x in q],
                "terms": [present[int(i)] for i in picked],
                "arm": "ivf" if rng.random() < 0.5 else "exact",
            }
        )
    return out


class ChangeFeed:
    """Deterministic CDC feed over a live corpus: batch ``i`` depends
    only on the seed and the batches before it. Each batch holds
    upserts that revise a live document's text, a few inserts of new
    keys, and deletes; rows are shuffled so sequence numbers arrive out
    of order, and one key per batch carries an upsert and a delete whose
    row order contradicts their sequence order."""

    def __init__(self, seed: int, texts: dict[int, str], vocab: list[str]):
        self.rng = rng_for(seed, 5)
        self.live = dict(texts)
        self.vocab = vocab
        self.seq = 0
        self.next_id = max(texts) + 1
        self.changed_bytes: list[int] = []

    def batch(self, n_upserts: int, n_inserts: int, n_deletes: int) -> dict[str, list]:
        rng = self.rng
        keys = sorted(self.live)
        picked = rng.choice(len(keys), size=n_upserts + n_deletes, replace=False)
        rows: list[tuple[int, str | None, str]] = []
        for j in picked[:n_upserts]:
            k = keys[int(j)]
            rows.append((k, " ".join(edit_words(rng, self.live[k].split(" "), self.vocab, 0.1)), "U"))
        for _ in range(n_inserts):
            ws = [self.vocab[int(i)] for i in rng.integers(0, len(self.vocab), 40)]
            rows.append((self.next_id, " ".join(ws), "I"))
            self.next_id += 1
        for j in picked[n_upserts:]:
            rows.append((keys[int(j)], None, "D"))
        seqs = list(range(self.seq + 1, self.seq + 1 + len(rows)))
        self.seq += len(rows)
        # the first upserted key also gets deleted at a LOWER seq than
        # its upsert, delivered after it: the upsert must win
        k0 = rows[0][0]
        rows.append((k0, None, "D"))
        seqs.append(seqs[0])
        seqs[0] = self.seq + 1
        self.seq += 1
        order = rng.permutation(len(rows))
        batch = {"doc_id": [], "text": [], "seq": [], "op": []}
        for i in order:
            k, text, op = rows[int(i)]
            batch["doc_id"].append(k)
            batch["text"].append(text)
            batch["seq"].append(seqs[int(i)])
            batch["op"].append(op)
        # apply to the generator's own view by seq order
        for k, text, op, _s in sorted(
            zip(batch["doc_id"], batch["text"], batch["op"], batch["seq"]),
            key=lambda r: r[3],
        ):
            if op == "D":
                self.live.pop(k, None)
            else:
                self.live[k] = text
        self.changed_bytes.append(
            sum(len(t.encode()) for t in batch["text"] if t is not None)
        )
        return batch


_CHANGE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("seq", pa.int64()),
        ("op", pa.string()),
    ]
)


def write_changes(batch: dict[str, list], path: str) -> str:
    write_parquet(batch, path, _CHANGE_SCHEMA)
    return path
