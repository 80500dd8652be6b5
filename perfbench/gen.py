"""Seeded, vectorized input generators for the benchmark workloads.

Every generator takes a seed and a size, writes parquet files with pyarrow
(no Spark), and returns a manifest describing what it planted.  The program
under test only ever sees the written files; the manifests stay with the
benchmark, which uses them to check the program's outputs.

Text is drawn from a synthetic consonant-vowel vocabulary under a mild Zipf
law, so no generated sentence contains an English refusal phrase by chance.
Documents are built by slicing one long joined string at word offsets, which
keeps the per-row Python work to a single slice.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 3000
ZIPF_EXPONENT = 0.8

# Phrases the reference's ethics filter drops; planted into the refusal stratum.
REFUSAL_PHRASES = [
    "as an ai language model",
    "cannot provide information",
    "not able to provide",
    "ethical guidelines",
    "against my programming",
    "potentially harmful",
]

# Characters the two cleaners rewrite, with the text they become.
THIN_SPACE, THIN_SPACE_CLEAN = "\u2009", " "
OPEN_QUOTE, CLOSE_QUOTE, QUOTE_CLEAN = "\u201c", "\u201d", '"'

CONVERSATION_TYPE = pa.list_(
    pa.struct(
        [
            pa.field("content", pa.string()),
            pa.field("do_train", pa.bool_()),
            pa.field("role", pa.string()),
        ]
    )
)


class TextSource:
    """Seeded word sampler: documents are word-index arrays rendered by
    slicing one joined string."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        syllables = np.array(
            [c + v for c in "bdfgklmnprstvz" for v in "aeiou"], dtype=object
        )
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < VOCAB_SIZE:
            n_syl = int(rng.integers(2, 4))
            w = "".join(syllables[rng.integers(0, len(syllables), n_syl)])
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = np.array(words, dtype=object)
        self.word_len = np.array([len(w) for w in words], dtype=np.int64)
        p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_EXPONENT
        self.p = p / p.sum()

    def sample(self, n: int) -> np.ndarray:
        return self.rng.choice(VOCAB_SIZE, size=n, p=self.p)

    def render(self, idx: np.ndarray, lengths: np.ndarray) -> list[str]:
        """Render consecutive runs of ``idx`` (run i has ``lengths[i]`` words)
        as space-joined strings."""
        if len(idx) == 0:
            return [""] * len(lengths)
        big = " ".join(self.words[idx])
        # char offset of word j = sum of earlier word lengths + j spaces
        starts = np.concatenate([[0], np.cumsum(self.word_len[idx] + 1)])
        word_bounds = np.concatenate([[0], np.cumsum(lengths)])
        lo = starts[word_bounds[:-1]]
        hi = starts[word_bounds[1:]] - 1
        return [big[a:b] if b > a else "" for a, b in zip(lo.tolist(), hi.tolist())]

    def docs(self, lengths: np.ndarray) -> tuple[np.ndarray, list[str]]:
        idx = self.sample(int(lengths.sum()))
        return idx, self.render(idx, lengths)


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet parts under directory ``path``
    so scans get several tasks."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


# ---------------------------------------------------------------------------
# curate: conversations with planted strata
# ---------------------------------------------------------------------------

# stratum codes for training pairs
CLEAN, NEARDUP, REFUSAL, SHORT, LONG, UPPER, REPEAT = range(7)
STRATUM_NAMES = ["clean", "neardup", "refusal", "short", "long", "upper", "repeat"]
STRATUM_SHARE = [0.78, 0.10, 0.04, 0.03, 0.01, 0.02, 0.02]


def curate_inputs(seed: int, n_conversations: int, out_dir: str) -> dict:
    """Write ``conversations`` (id, conversation) and ``expected`` (id,
    n_messages, response, cluster) tables; return the manifest.

    Each conversation has 1-3 user/assistant turns; every assistant message
    is a training pair.  Each pair belongs to one stratum:

    - clean: 20-120 random words, a fifth of them with a thin space and
      curly quotes the cleaners rewrite; all pass every filter;
    - neardup: clusters of a 100-200 word template and 1-5 copies of it,
      each with one word replaced (word 5-gram Jaccard to the template
      >= 0.90), so MinHash dedup keeps exactly one per cluster;
    - refusal / short (1-3 words) / long (520-700 words) / upper (all caps)
      / repeat (one word 20-40 times): each fails exactly one filter.

    ``expected`` lists the pairs that must survive, with their cleaned
    response; a cluster id is set for near-duplicate members (one of each
    cluster survives)."""
    rng = np.random.default_rng(seed)
    src = TextSource(rng)
    turns = rng.choice([1, 2, 3], size=n_conversations, p=[0.45, 0.35, 0.20])
    n_pairs = int(turns.sum())
    stratum = rng.choice(len(STRATUM_SHARE), size=n_pairs, p=STRATUM_SHARE)

    lengths = np.zeros(n_pairs, dtype=np.int64)
    lengths[stratum == CLEAN] = rng.integers(20, 121, (stratum == CLEAN).sum())
    lengths[stratum == REFUSAL] = rng.integers(20, 81, (stratum == REFUSAL).sum())
    lengths[stratum == SHORT] = rng.integers(1, 4, (stratum == SHORT).sum())
    lengths[stratum == LONG] = rng.integers(520, 701, (stratum == LONG).sum())
    lengths[stratum == UPPER] = rng.integers(20, 81, (stratum == UPPER).sum())
    _, texts = src.docs(lengths)
    texts = np.array(texts, dtype=object)
    cleaned = texts.copy()

    # cleaner work on a fifth of the clean rows: a thin space after the
    # first word and curly quotes around the second
    clean_idx = np.flatnonzero(stratum == CLEAN)
    dirty = clean_idx[rng.random(len(clean_idx)) < 0.2]
    for i in dirty.tolist():
        w = texts[i].split(" ")
        raw = w[0] + THIN_SPACE + OPEN_QUOTE + w[1] + CLOSE_QUOTE + " " + " ".join(w[2:])
        texts[i] = raw.rstrip()
        cleaned[i] = (
            w[0] + THIN_SPACE_CLEAN + QUOTE_CLEAN + w[1] + QUOTE_CLEAN + " " + " ".join(w[2:])
        ).rstrip()

    for i in np.flatnonzero(stratum == REFUSAL).tolist():
        w = texts[i].split(" ")
        cut = int(rng.integers(1, len(w)))
        phrase = REFUSAL_PHRASES[int(rng.integers(0, len(REFUSAL_PHRASES)))]
        texts[i] = " ".join(w[:cut] + [phrase] + w[cut:])
    for i in np.flatnonzero(stratum == UPPER).tolist():
        texts[i] = texts[i].upper()
    rep_idx = np.flatnonzero(stratum == REPEAT)
    rep_words = src.words[src.sample(len(rep_idx))]
    rep_times = rng.integers(20, 41, len(rep_idx))
    for i, w, t in zip(rep_idx.tolist(), rep_words, rep_times.tolist()):
        texts[i] = " ".join([w] * t)

    # near-duplicate clusters over the NEARDUP pairs, in shuffled order
    cluster = np.full(n_pairs, -1, dtype=np.int64)
    nd_idx = rng.permutation(np.flatnonzero(stratum == NEARDUP))
    sizes: list[int] = []
    left = len(nd_idx)
    while left > 0:
        s = min(int(rng.integers(2, 7)), left)
        if left - s == 1:
            s += 1
        sizes.append(s)
        left -= s
    tmpl_len = rng.integers(100, 201, len(sizes))
    tmpl_idx = src.sample(int(tmpl_len.sum()))
    tmpl_off = np.concatenate([[0], np.cumsum(tmpl_len)])
    pos = 0
    for c, s in enumerate(sizes):
        base = tmpl_idx[tmpl_off[c] : tmpl_off[c + 1]]
        members = nd_idx[pos : pos + s]
        pos += s
        copies = np.tile(base, (s, 1))
        swap_at = rng.integers(0, len(base), s - 1)
        copies[np.arange(1, s), swap_at] = rng.integers(0, VOCAB_SIZE, s - 1)
        rendered = src.render(copies.ravel(), np.full(s, len(base)))
        for m, t in zip(members.tolist(), rendered):
            texts[m] = t
            cleaned[m] = t
            cluster[m] = c

    # instructions: 5-20 words for every pair
    instr_len = rng.integers(5, 21, n_pairs)
    instructions = src.docs(instr_len)[1]

    # assemble conversations: user, assistant, user, assistant, ...
    conv_of_pair = np.repeat(np.arange(n_conversations), turns)
    pair_start = np.concatenate([[0], np.cumsum(turns)])[:-1]
    turn_of_pair = np.arange(n_pairs) - pair_start[conv_of_pair]
    content = np.empty(2 * n_pairs, dtype=object)
    content[0::2] = instructions
    content[1::2] = texts
    role = np.tile(np.array(["user", "assistant"], dtype=object), n_pairs)
    do_train = np.tile(np.array([False, True]), n_pairs)
    offsets = np.concatenate([[0], np.cumsum(2 * turns)]).astype(np.int32)
    messages = pa.StructArray.from_arrays(
        [pa.array(content, pa.string()), pa.array(do_train), pa.array(role, pa.string())],
        fields=list(CONVERSATION_TYPE.value_type),
    )
    conv = pa.ListArray.from_arrays(pa.array(offsets), messages)
    ids = np.arange(n_conversations, dtype=np.int64) + seed * 1_000_000
    conversations = pa.table({"id": pa.array(ids), "conversation": conv})
    _write(conversations, os.path.join(out_dir, "conversations"), 8)

    # the pairs that must survive: the output conversation of a pair at
    # turn t has 2t + 2 messages, which identifies the pair within its id
    keep = (stratum == CLEAN) | (stratum == NEARDUP)
    expected = pa.table(
        {
            "id": pa.array(ids[conv_of_pair[keep]]),
            "n_messages": pa.array(2 * turn_of_pair[keep] + 2, pa.int32()),
            "response": pa.array(cleaned[keep], pa.string()),
            "cluster": pa.array(cluster[keep]),
        }
    )
    _write(expected, os.path.join(out_dir, "expected"), 1)

    counts = np.bincount(stratum, minlength=len(STRATUM_NAMES))
    manifest = {
        "seed": seed,
        "conversations": n_conversations,
        "pairs": n_pairs,
        "strata": dict(zip(STRATUM_NAMES, counts.tolist())),
        "clusters": len(sizes),
        "dirty_rows": len(dirty),
        "expected_rows": int((stratum == CLEAN).sum()) + len(sizes),
        "text_bytes": int(sum(len(t.encode()) for t in texts)),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


# ---------------------------------------------------------------------------
# serve: a base corpus with vectors, delivery batches, tombstones, queries
# ---------------------------------------------------------------------------

DIM = 64


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vector_column(mat: np.ndarray) -> pa.Array:
    flat = pa.array(mat.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def serve_inputs(
    seed: int, n_base: int, batch_size: int, n_delete: int, n_queries: int,
    out_dir: str,
) -> dict:
    """Write the tables the ``serve`` workload feeds the program:

    - ``base`` (doc_id, text) and ``embeddings`` (vec_id, embedding) for
      the base corpus the stores and the vector index are built from;
    - ``batch`` (doc_id, text), one delivery; a tenth of it repeats a base
      document with one word changed, so onboarding has near-duplicates
      to drop;
    - ``deletes`` (doc_id): ``n_delete`` base ids (base documents are
      always delivered, so every tombstone removes a live document);
    - ``queries`` (query_id, terms, query_vec): 2-4 words of one base
      document and that document's vector plus noise.
    """
    rng = np.random.default_rng(seed)
    src = TextSource(rng)
    total = n_base + batch_size
    lengths = rng.integers(40, 121, total)
    idx, texts = src.docs(lengths)
    texts = np.array(texts, dtype=object)
    word_start = np.concatenate([[0], np.cumsum(lengths)])
    picks = rng.choice(batch_size, size=batch_size // 10, replace=False) + n_base
    for p, o in zip(picks.tolist(), rng.integers(0, n_base, len(picks)).tolist()):
        w = src.words[idx[word_start[o] : word_start[o + 1]]].copy()
        w[int(rng.integers(0, len(w)))] = src.words[int(rng.integers(0, VOCAB_SIZE))]
        texts[p] = " ".join(w)
    doc_ids = np.arange(total, dtype=np.int64)

    def table(lo: int, hi: int) -> pa.Table:
        return pa.table({"doc_id": doc_ids[lo:hi], "text": pa.array(texts[lo:hi], pa.string())})

    _write(table(0, n_base), os.path.join(out_dir, "base"), 4)
    _write(table(n_base, total), os.path.join(out_dir, "batch"), 2)
    vecs = unit_vectors(rng, n_base)
    _write(pa.table({"vec_id": doc_ids[:n_base], "embedding": _vector_column(vecs)}),
           os.path.join(out_dir, "embeddings"), 4)
    victims = np.sort(rng.choice(n_base, size=n_delete, replace=False))
    _write(pa.table({"doc_id": doc_ids[victims]}), os.path.join(out_dir, "deletes"), 1)

    anchors = rng.integers(0, n_base, n_queries)
    n_terms = rng.integers(2, 5, n_queries)
    terms = []
    for a, t in zip(anchors.tolist(), n_terms.tolist()):
        words = src.words[idx[word_start[a] : word_start[a + 1]]]
        terms.append(sorted(set(rng.choice(words, size=t).tolist())))
    qvec = vecs[anchors] + 0.3 * unit_vectors(rng, n_queries)
    qvec /= np.linalg.norm(qvec, axis=1, keepdims=True)
    queries = pa.table(
        {
            "query_id": pa.array(np.arange(n_queries, dtype=np.int64)),
            "terms": pa.array(terms, pa.list_(pa.string())),
            "query_vec": _vector_column(qvec),
        }
    )
    _write(queries, os.path.join(out_dir, "queries"), 1)
    return {
        "seed": seed,
        "base": n_base,
        "batch": batch_size,
        "planted_neardups": len(picks),
        "deletes": n_delete,
        "queries": n_queries,
    }
