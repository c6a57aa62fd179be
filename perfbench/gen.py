"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed gives
byte-identical files. The program under test only ever sees the files
written here; the independent checks in ``oracle.py`` read the same
documents back from the in-memory lists these functions return.

Token surface (all workloads): a Zipfian vocabulary of lowercase words,
each token drawn from the word's fixed set of spellings -- mixed case,
digits and apostrophes inside, punctuation and quotes around -- plus pure
numbers and pure punctuation, which normalize to nothing. No vocabulary
word starts with ``EMPTY_LETTER``, and no spelling puts a letter in front
of a word, so that letter's index file must come out empty.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMPTY_LETTER = "x"
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
FIRST_LETTERS = np.array([c for c in LETTERS if c != EMPTY_LETTER])

#: letter_index: a manifest of book-chapter-sized ASCII files, shaped on
#: the paper's corpus (355 chapters, ~1.0 M tokens, 33 262 distinct words):
#: ~2 800 tokens per file and ~3.3 distinct words per 100 tokens, so the
#: split of work between tokenizing (per token) and the letter writer (per
#: distinct word) is the paper's; fewer files, to fit the run budget
LETTER_FILES = 120
LETTER_WORDS = (1_800, 3_800)  # tokens per file, uniform; mean 2 800
LETTER_VOCAB = 11_500  # ~11 200 of them drawn from 120 x 2 800 tokens

#: index_update: many short documents and three kinds of parquet drops
UPDATE_BASE_DOCS = 15_000
UPDATE_WORDS = (4, 12)
UPDATE_VOCAB = 20_000
UPDATE_NEW_DOCS = 2_000
UPDATE_DELETE_SMALL = 500
#: over INDEX_DELETE_BROADCAST_CAP (65 536); drawn from ids up to
#: UPDATE_ID_SPACE, so most name documents that are already gone
UPDATE_DELETE_BIG = 68_000
UPDATE_ID_SPACE = 100_000
UPDATE_CHANGED_DOCS = 300

#: near_dup: shards with planted near-duplicate families and clones
NEAR_SHARDS = 3
NEAR_DOCS = 1_250
NEAR_WORDS = (50, 110)
NEAR_VOCAB = 20_000
NEAR_FAMILY_SHARE = 0.15  # share of docs that are edited copies of another
NEAR_EDIT_RATES = (0.02, 0.05, 0.10, 0.20)  # word substitution rates
NEAR_CLONE_SHARE = 0.05  # share of docs that are byte-identical clones
NEAR_SHORT_DOCS = 6  # docs of 1-3 words (single-shingle rule)
#: a header shared by most docs: its shingles sit above the operator's
#: shingle-frequency cap (1000 docs), so the cap decides those edges
NEAR_BOILERPLATE = (
    "this page is part of the open archive collection please cite the "
    "source when you reuse any part of it"
)
NEAR_BOILERPLATE_SHARE = 0.93


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words, none starting with EMPTY_LETTER."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(2, 11, n)
        firsts = rng.choice(FIRST_LETTERS, n)
        rest = rng.choice(LETTERS, (n, 10))
        for f, r, k in zip(firsts, rest, lens):
            w = f + "".join(r[: k - 1])
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def _zipf_probs(size: int, s: float = 1.07, q: float = 2.7) -> np.ndarray:
    p = 1.0 / (np.arange(size) + q) ** s
    return p / p.sum()


#: spellings of a word; each keeps the word's first letter first among
#: its letters, so normalization maps every spelling back to the word
_SPELLINGS = (
    lambda w, d: w,
    lambda w, d: w,
    lambda w, d: w,
    lambda w, d: w.capitalize(),
    lambda w, d: w.upper(),
    lambda w, d: w + ",",
    lambda w, d: w + ".",
    lambda w, d: '"' + w + '"',
    lambda w, d: "(" + w + ");",
    lambda w, d: w[:1] + "'" + w[1:],  # That's -> thats
    lambda w, d: d + w,  # 123ab -> ab
    lambda w, d: w[:1] + d + w[1:] + "!",
)
#: tokens that normalize to the empty string and must be dropped
_NON_WORDS = ("42", "1999", "--", "...", "3.14", "&", "7", "#12")


def _token_table(rng: np.random.Generator, vocab: list[str]) -> np.ndarray:
    """(len(vocab), len(_SPELLINGS)) object array of spelled tokens."""
    digits = rng.integers(0, 1000, len(vocab))
    return np.array(
        [[f(w, str(d)) for f in _SPELLINGS] for w, d in zip(vocab, digits)],
        dtype=object,
    )


def _spelled_tokens(
    rng: np.random.Generator, table: np.ndarray, word_idx: np.ndarray
) -> np.ndarray:
    """Spelled tokens for ``word_idx``: plain spellings dominate, 3% of
    positions become non-words."""
    spell = rng.integers(0, table.shape[1], len(word_idx))
    toks = table[word_idx, spell]
    non = rng.random(len(word_idx)) < 0.03
    toks[non] = rng.choice(np.array(_NON_WORDS, dtype=object), int(non.sum()))
    return toks


def _join_lines(toks: np.ndarray, per_line: int = 12) -> str:
    lines = [" ".join(toks[i : i + per_line]) for i in range(0, len(toks), per_line)]
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------- letter_index


def letter_index_docs(seed: int) -> list[str]:
    """Texts of the letter_index corpus, in manifest order (doc_id = i + 1)."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, LETTER_VOCAB)
    table = _token_table(rng, vocab)
    probs = _zipf_probs(len(vocab))
    lens = rng.integers(LETTER_WORDS[0], LETTER_WORDS[1] + 1, LETTER_FILES)
    idx = rng.choice(len(vocab), int(lens.sum()), p=probs)
    toks = _spelled_tokens(rng, table, idx)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    return [_join_lines(toks[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]


def write_letter_index(seed: int, root: str) -> tuple[str, dict]:
    """Write the corpus files and the reference-format manifest under
    ``root``; returns (manifest path, {doc_id: text})."""
    docs = dict(enumerate(letter_index_docs(seed), start=1))
    return write_texts(docs, root), docs


# ---------------------------------------------------------------- index_update


def _short_texts(
    rng: np.random.Generator, table: np.ndarray, probs: np.ndarray, n: int
) -> list[str]:
    lens = rng.integers(UPDATE_WORDS[0], UPDATE_WORDS[1] + 1, n)
    idx = rng.choice(len(probs), int(lens.sum()), p=probs)
    toks = _spelled_tokens(rng, table, idx)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(toks[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]


def index_update_inputs(seed: int) -> dict:
    """The base corpus A and the update drops, as plain Python data.

    - ``base``: {doc_id: text}, ids 1..UPDATE_BASE_DOCS
    - ``new``: {doc_id: text}, fresh ids above the base
    - ``delete_small``: sorted doc_ids from A, below
      ``INDEX_DELETE_BROADCAST_CAP``
    - ``delete_big``: sorted doc_ids from 1..UPDATE_ID_SPACE, above the cap
    - ``changed``: {doc_id: new text} for ids in A; the first two texts are
      empty, so those documents' words leave the index
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, UPDATE_VOCAB)
    table = _token_table(rng, vocab)
    probs = _zipf_probs(len(vocab))
    n_a = UPDATE_BASE_DOCS
    base = dict(zip(range(1, n_a + 1), _short_texts(rng, table, probs, n_a)))
    new_ids = range(n_a + 1, n_a + UPDATE_NEW_DOCS + 1)
    new = dict(zip(new_ids, _short_texts(rng, table, probs, len(new_ids))))
    ids = np.arange(1, n_a + 1)
    small = np.sort(rng.choice(ids, UPDATE_DELETE_SMALL, replace=False))
    big = np.sort(
        rng.choice(UPDATE_ID_SPACE, UPDATE_DELETE_BIG, replace=False) + 1
    )
    changed_ids = np.sort(rng.choice(ids, UPDATE_CHANGED_DOCS, replace=False))
    changed_texts = _short_texts(rng, table, probs, len(changed_ids))
    changed_texts[0] = changed_texts[1] = ""
    return {
        "base": base,
        "new": new,
        "delete_small": [int(x) for x in small],
        "delete_big": [int(x) for x in big],
        "changed": dict(zip((int(x) for x in changed_ids), changed_texts)),
    }


def _write_docs_parquet(docs: dict, path: str) -> None:
    """One file, one row group -- what a default pyarrow write produces."""
    table = pa.table(
        {
            "doc_id": pa.array(list(docs), pa.int64()),
            "text": pa.array(list(docs.values()), pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=max(len(docs), 1))


def _write_ids_parquet(ids: list[int], path: str) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64())}),
        path,
        row_group_size=max(len(ids), 1),
    )


def write_index_update(inputs: dict, root: str) -> dict:
    """Write an ``index_update_inputs``-shaped dict as single-file
    parquet drops under ``root``; returns their paths."""
    os.makedirs(root, exist_ok=True)
    paths = {k: os.path.join(root, f"{k}.parquet") for k in inputs}
    for k in ("base", "new", "changed"):
        _write_docs_parquet(inputs[k], paths[k])
    for k in ("delete_small", "delete_big"):
        _write_ids_parquet(inputs[k], paths[k])
    return paths


def update_inputs_from(docs: dict) -> dict:
    """``index_update_inputs``-shaped drops cut from any corpus, for the
    traced run's maintenance probe on the other workloads: every tenth
    document is new, every seventh base document is deleted (small set),
    UPDATE_DELETE_BIG even ids are deleted (over the cap), and the first
    UPDATE_CHANGED_DOCS // 10 base documents change to their words in
    reverse order."""
    base = {i: t for i, t in docs.items() if i % 10}
    ids = sorted(base)
    changed = ids[: UPDATE_CHANGED_DOCS // 10]
    return {
        "base": base,
        "new": {i: t for i, t in docs.items() if not i % 10},
        "delete_small": ids[::7],
        "delete_big": list(range(2, 2 * UPDATE_DELETE_BIG + 1, 2)),
        "changed": {i: " ".join(reversed(base[i].split())) for i in changed},
    }


# -------------------------------------------------------------------- near_dup


def _edit(rng: np.random.Generator, idx: np.ndarray, rate: float, n_vocab: int):
    out = idx.copy()
    hit = rng.random(len(idx)) < rate
    out[hit] = rng.integers(0, n_vocab, int(hit.sum()))
    return out


def near_dup_shard(seed: int, shard: int) -> dict:
    """{doc_id: text} for one shard. Families: an original plus copies
    with words substituted at one of NEAR_EDIT_RATES; clones: exact copies
    of another document's bytes; a few 1-3 word documents."""
    rng = np.random.default_rng([seed, 3, shard])
    vocab = _vocabulary(rng, NEAR_VOCAB)
    words = np.array(vocab, dtype=object)
    probs = _zipf_probs(len(vocab))
    n = NEAR_DOCS
    lens = rng.integers(NEAR_WORDS[0], NEAR_WORDS[1] + 1, n)
    flat = rng.choice(len(vocab), int(lens.sum()), p=probs)
    seqs = np.split(flat, np.cumsum(lens)[:-1])
    for i in rng.choice(n, NEAR_SHORT_DOCS, replace=False):
        seqs[i] = seqs[i][: int(rng.integers(1, 4))]
    order = rng.permutation(n)
    n_fam = int(n * NEAR_FAMILY_SHARE)
    n_clone = int(n * NEAR_CLONE_SHARE)
    family, clones = order[:n_fam], order[n_fam : n_fam + n_clone]
    originals = order[n_fam + n_clone :]
    for i in family:
        src = int(rng.choice(originals))
        rate = NEAR_EDIT_RATES[int(rng.integers(len(NEAR_EDIT_RATES)))]
        seqs[i] = _edit(rng, seqs[src], rate, len(vocab))
    texts = []
    header = rng.random(n) < NEAR_BOILERPLATE_SHARE
    for i, seq in enumerate(seqs):
        body = " ".join(words[seq])
        texts.append(NEAR_BOILERPLATE + " " + body if header[i] else body)
    for i in clones:
        texts[i] = texts[int(rng.choice(originals))]
    base_id = shard * n
    return {base_id + i + 1: t for i, t in enumerate(texts)}


def write_shards(shards: list[dict], root: str) -> list[str]:
    """Write each {doc_id: text} shard as one single-row-group parquet
    file; returns the paths."""
    os.makedirs(root, exist_ok=True)
    paths = []
    for s, docs in enumerate(shards):
        paths.append(os.path.join(root, f"shard{s}.parquet"))
        _write_docs_parquet(docs, paths[-1])
    return paths


def shards_from(docs: dict) -> list[dict]:
    """NEAR_SHARDS shards cut from the first NEAR_DOCS documents of any
    corpus, for the traced run's dedup probe on the other workloads."""
    ids = sorted(docs)[:NEAR_DOCS]
    return [{i: docs[i] for i in ids[s::NEAR_SHARDS]} for s in range(NEAR_SHARDS)]


def write_texts(docs: dict, root: str) -> str:
    """Write each document as a text file plus a reference-format
    manifest listing them in doc_id order; returns the manifest path."""
    os.makedirs(os.path.join(root, "docs"), exist_ok=True)
    names = []
    for i in sorted(docs):
        names.append(f"docs/d{i:07d}.txt")
        with open(os.path.join(root, names[-1]), "w", encoding="ascii") as fh:
            fh.write(docs[i])
    manifest = os.path.join(root, "manifest.txt")
    with open(manifest, "w", encoding="ascii") as fh:
        fh.write(f"{len(names)}\n" + "\n".join(names) + "\n")
    return manifest
