"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical tables.  Tables use the schemas of the repository's test
data (``events``, ``documents``, ``embeddings``), so the engine's own
loaders (``sources.batch.load_table``, ``streaming.live.read_table_stream``)
and the DuckDB oracle texts in ``__spark_entry__.oracle_sql()`` apply to
them unchanged.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_TYPE_P = np.array([0.40, 0.30, 0.15, 0.05, 0.10])
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int,
              s: float) -> np.ndarray:
    """``n`` draws from a finite Zipf(s) law over ``n_keys`` keys; the
    rank -> key id map is a seeded permutation, so the hot keys are
    spread over the id space instead of being the smallest ids."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_keys, size=n, p=p / p.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def events(seed: int, n: int, n_keys: int, zipf_s: float,
           start_id: int = 0, t0=EPOCH,
           mean_gap_us: int = 20_000_000) -> pa.Table:
    """``events`` rows: strictly increasing ``ts`` and ``event_id``,
    Zipf-skewed ``user_id``, a tagged-union ``event_type`` and a
    2-decimal ``value`` of which about 13% reach the ``>= 100`` gate the
    CEP window queries use."""
    rng = np.random.default_rng(seed)
    gaps = rng.integers(1, 2 * mean_gap_us, size=n)
    ts = np.datetime64(t0, "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(start_id, start_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": zipf_keys(rng, n, n_keys, zipf_s),
        "event_type": EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n,
                                             p=EVENT_TYPE_P)],
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def drops(seed: int, n_drops: int, rows: int, n_keys: int, zipf_s: float,
          t0=EPOCH) -> list[pa.Table]:
    """``n_drops`` consecutive slices of one event history: drop ``i``
    holds event ids ``[i*rows, (i+1)*rows)`` and every timestamp in it is
    later than every timestamp of drop ``i-1``, so arrival order equals
    event-time order and the batch oracle over the concatenation is the
    reference for the live result."""
    whole = events(seed, n_drops * rows, n_keys, zipf_s, t0=t0,
                   mean_gap_us=2_000_000)
    return [whole.slice(i * rows, rows) for i in range(n_drops)]


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
BOILERPLATE = ("please accept our cookie policy.",
               "read our privacy policy and terms of use.")


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, size=int(k)))
             for k in rng.integers(3, 10, size=size * 2)}
    words -= set(STOP_WORDS)
    return np.array(STOP_WORDS + tuple(sorted(words)[:size]))


def _doc_tokens(rng, vocab, p, n_words):
    return list(vocab[rng.choice(len(vocab), size=n_words, p=p)])


def _render(tokens, line_breaks, boiler):
    lines, start = [], 0
    for end in list(line_breaks) + [len(tokens)]:
        if end > start:
            lines.append(" ".join(tokens[start:end]) + ".")
        start = end
    if boiler is not None:
        lines.insert(len(lines) // 2, boiler)
    return "\n".join(lines)


def _edit(rng, tokens, vocab, p, rate):
    out = list(tokens)
    k = max(1, int(round(rate * len(out))))
    for i in rng.choice(len(out), size=k, replace=False):
        out[i] = vocab[rng.choice(len(vocab), p=p)]
    return out


def corpus(seed: int, n_docs: int, n_fresh: int, vocab_size: int,
           zipf_s: float, exact_share: float, near_share: float,
           fresh_near_share: float, edit_rate: float):
    """A prior corpus of ``n_docs`` documents plus a fresh drop of
    ``n_fresh`` documents, with planted duplicates.

    In the prior corpus ``exact_share`` of the documents are verbatim
    copies and ``near_share`` are near copies (``edit_rate`` of the
    tokens substituted) of distinct originals; ``fresh_near_share`` of
    the drop are near copies of prior originals.  Every original is
    copied at most once, so the planted pairs are exactly the duplicate
    relation.  Returns ``(prior, fresh, planted)`` where ``planted`` maps
    ``"exact"``, ``"near"`` and ``"fresh_near"`` to lists of
    ``(original_id, copy_id)``.
    """
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, vocab_size)
    p = 1.0 / np.arange(1, len(vocab) + 1, dtype=np.float64) ** zipf_s
    p /= p.sum()

    def new_doc():
        n_words = int(rng.integers(30, 160))
        toks = _doc_tokens(rng, vocab, p, n_words)
        breaks = np.sort(rng.choice(np.arange(4, n_words - 3),
                                    size=min(4, n_words // 12),
                                    replace=False))
        boiler = (BOILERPLATE[int(rng.integers(len(BOILERPLATE)))]
                  if rng.random() < 0.2 else None)
        return toks, breaks, boiler

    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    docs = [new_doc() for _ in range(n_orig)]
    originals = rng.permutation(n_orig)
    planted = {"exact": [], "near": [], "fresh_near": []}
    for j, src in enumerate(originals[:n_exact + n_near]):
        toks, breaks, boiler = docs[src]
        if j >= n_exact:
            toks = _edit(rng, toks, vocab, p, edit_rate)
        planted["exact" if j < n_exact else "near"].append(
            (int(src), len(docs)))
        docs.append((toks, breaks, boiler))
    # shuffle ids so copies are not all at the end of the id range
    perm = rng.permutation(len(docs))
    new_id = np.empty_like(perm)
    new_id[perm] = np.arange(len(docs))
    docs = [docs[i] for i in perm]
    planted = {k: [tuple(sorted((int(new_id[a]), int(new_id[b]))))
                   for a, b in v] for k, v in planted.items()}

    used = {a for a, _ in planted["exact"] + planted["near"]}
    used |= {b for _, b in planted["exact"] + planted["near"]}
    pool = np.array([i for i in range(n_docs) if i not in used])
    n_fnear = int(n_fresh * fresh_near_share)
    fresh = []
    for j, src in enumerate(rng.choice(pool, size=n_fnear, replace=False)):
        toks, breaks, boiler = docs[src]
        fresh.append((_edit(rng, toks, vocab, p, edit_rate), breaks, boiler))
        planted["fresh_near"].append((int(src), n_docs + j))
    fresh += [new_doc() for _ in range(n_fresh - n_fnear)]

    def table(rows, first_id):
        text = [_render(t, b, bp) for t, b, bp in rows]
        ids = np.arange(first_id, first_id + len(rows), dtype=np.int64)
        return pa.table({
            "doc_id": ids,
            "text": text,
            "lang": np.where(ids % 7 == 0, "de", "en"),
            "source": np.char.add("src", (ids % 4).astype(str)),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        })

    return table(docs, 0), table(fresh, n_docs), planted


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------

def embeddings(seed: int, n: int, dim: int, n_clusters: int,
               spread: float = 0.35):
    """Clustered unit-scale embeddings (``vec_id``, ``embedding``
    float32 list, ``label`` = generating cluster) and the cluster centres
    the query generator samples around."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n)
    vecs = centres[labels] + rng.normal(scale=spread / np.sqrt(dim),
                                        size=(n, dim))
    vecs = vecs.astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return emb, vecs, centres


def queries(seed: int, centres: np.ndarray, n: int,
            spread: float = 0.35) -> np.ndarray:
    """``n`` query vectors drawn around random cluster centres, from a
    stream independent of the corpus draw."""
    rng = np.random.default_rng([seed, 1])
    dim = centres.shape[1]
    lab = rng.integers(0, len(centres), size=n)
    q = centres[lab] + rng.normal(scale=spread / np.sqrt(dim), size=(n, dim))
    return q.astype(np.float32)
