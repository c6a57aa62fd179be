"""Independent expected outputs, computed in plain Python/numpy from the
generator's own documents -- never from the program or a stored copy of
its output.

Index semantics (the paper's): split on whitespace, keep only ASCII
letters, lowercase, drop empty words, count each word once per document,
1-based document ids, lines ordered by document frequency descending then
word ascending, one file per letter ``a``..``z`` (empty letters included).

Near-duplicate semantics (``operators.dedup`` as documented): word
3-shingles over the normalized words (documents of 1-3 words give one
shingle of all their words, documents without words give none), each
shingle hashed as the first 15 hex digits of its md5; byte-identical
documents collapse to their smallest id; shingles held by more than
``max_shingle_df`` distinct contents are ignored by ``near_dup_clusters``
(not by ``minhash_lsh_pairs``); an edge joins two documents whose Jaccard,
rounded half-up to 6 decimals, reaches the threshold; every document maps
to the smallest id of its connected component.
"""

from __future__ import annotations

import hashlib
import re
import string
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_NON_ALPHA = re.compile("[^a-zA-Z]")


def normalize(token: str) -> str:
    """``That's`` -> ``thats``; ``123ab`` -> ``ab``; ``42`` -> ``''``."""
    return _NON_ALPHA.sub("", token).lower()


class Normalizer:
    """``normalize`` memoized per distinct raw token."""

    def __init__(self) -> None:
        self._memo: dict[str, str] = {}

    def words(self, text: str) -> list[str]:
        memo = self._memo
        out = []
        for tok in text.split():
            w = memo.get(tok)
            if w is None:
                w = memo[tok] = normalize(tok)
            if w:
                out.append(w)
        return out


# --------------------------------------------------------------------- index


def build_index(docs: dict[int, str], norm: Normalizer | None = None) -> dict:
    """{word: ascending doc_id list} over ``{doc_id: text}``."""
    norm = norm or Normalizer()
    index: dict[str, list[int]] = defaultdict(list)
    for doc_id in sorted(docs):
        for w in set(norm.words(docs[doc_id])):
            index[w].append(doc_id)
    return dict(index)


def letter_files(index: dict) -> dict[str, bytes]:
    """Expected bytes of ``a.txt`` .. ``z.txt``."""
    lines: dict[str, list] = {c: [] for c in string.ascii_lowercase}
    for w, ids in index.items():
        lines[w[0]].append((-len(ids), w, ids))
    out = {}
    for c, rows in lines.items():
        rows.sort()
        out[c] = "".join(
            f"{w}:[{' '.join(map(str, ids))}]\n" for _, w, ids in rows
        ).encode("ascii")
    return out


class IndexForm:
    """An index in comparable array form: words ascending, their
    document frequencies, and the concatenated posting lists."""

    def __init__(self, words: list[str], df: np.ndarray, ids: np.ndarray):
        self.words, self.df, self.ids = words, df, ids

    @classmethod
    def of(cls, index: dict) -> "IndexForm":
        words = sorted(index)
        df = np.array([len(index[w]) for w in words], dtype=np.int64)
        flat = [i for w in words for i in index[w]]
        return cls(words, df, np.array(flat, dtype=np.int64))

    @classmethod
    def of_table(cls, table) -> "IndexForm":
        """From an arrow table ``(word, df, doc_ids)`` in any row order."""
        import pyarrow.compute as pc

        table = table.take(pc.sort_indices(table, [("word", "ascending")]))
        ids = table.column("doc_ids").combine_chunks()
        return cls(
            table.column("word").to_pylist(),
            table.column("df").to_numpy().astype(np.int64),
            ids.flatten().to_numpy().astype(np.int64),
        )

    def mismatch(self, other: "IndexForm") -> str | None:
        """None when equal, else a short description of the first
        difference. Posting lists must also match ``df``."""
        if self.words != other.words:
            a, b = set(self.words), set(other.words)
            return (
                f"word sets differ: {len(a - b)} missing, {len(b - a)} "
                f"unexpected (e.g. {sorted(a ^ b)[:3]})"
            )
        if not np.array_equal(self.df, other.df):
            return "document frequencies differ"
        if not np.array_equal(self.ids, other.ids):
            return "posting lists differ"
        return None


def delete_docs(docs: dict[int, str], ids) -> dict[int, str]:
    gone = set(ids)
    return {i: t for i, t in docs.items() if i not in gone}


# ------------------------------------------------------------------ near-dup


def shingle_hashes(words: list[str], n: int = 3) -> set[int]:
    if not words:
        return set()
    if len(words) <= n:
        grams = [" ".join(words)]
    else:
        grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    return {int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams}


def round6(x: float) -> float:
    """Half-up rounding to 6 decimals of the value's shortest decimal
    form -- how Spark's ``round`` treats a double."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return round6(inter / (len(a) + len(b) - inter))


class NearDup:
    """Expected near-duplicate structure of one shard."""

    def __init__(
        self,
        docs: dict[int, str],
        threshold: float = 0.5,
        max_shingle_df: int = 1000,
    ):
        self.threshold = threshold
        norm = Normalizer()
        self.sets = {i: shingle_hashes(norm.words(t)) for i, t in docs.items()}
        groups: dict[bytes, list[int]] = defaultdict(list)
        for i in sorted(docs):
            groups[hashlib.md5(docs[i].encode()).digest()].append(i)
        self.clone_groups = [g for g in groups.values() if len(g) > 1]
        reps = [g[0] for g in groups.values()]
        sdf = Counter(h for r in reps for h in self.sets[r])
        capped = {
            r: {h for h in self.sets[r] if sdf[h] <= max_shingle_df}
            for r in reps
        }
        self.n_capped_shingles = sum(1 for c in sdf.values() if c > max_shingle_df)
        parent = {i: i for i in docs}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a: int, b: int) -> None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for g in self.clone_groups:
            if self.sets[g[0]]:
                for m in g[1:]:
                    union(g[0], m)
        self.edges = 0
        for a, b in self._candidates(capped):
            if jaccard(capped[a], capped[b]) >= threshold:
                self.edges += 1
                union(a, b)
        self.clusters = {i: find(i) for i in sorted(docs)}

    @staticmethod
    def _candidates(sets: dict[int, set]):
        """Document pairs (a < b) sharing at least one shingle."""
        posting: dict[int, list[int]] = defaultdict(list)
        for d in sorted(sets):
            for h in sets[d]:
                posting[h].append(d)
        pairs = set()
        for ds in posting.values():
            for i, a in enumerate(ds):
                for b in ds[i + 1 :]:
                    pairs.add((a, b))
        return pairs

    def cluster_mismatch(self, doc_ids, reps) -> str | None:
        got = dict(zip((int(x) for x in doc_ids), (int(x) for x in reps)))
        if got == self.clusters:
            return None
        bad = [i for i in self.clusters if got.get(i) != self.clusters[i]]
        extra = set(got) - set(self.clusters)
        return (
            f"{len(bad)} documents in the wrong cluster (e.g. {bad[:3]}), "
            f"{len(extra)} unknown ids"
        )

    def pairs_mismatch(self, a, b, jac) -> str | None:
        """LSH pairs: each one verified by exact uncapped Jaccard, no
        duplicates, and every clone pair with shingles recalled."""
        seen = set()
        for x, y, j in zip(a, b, jac):
            x, y = int(x), int(y)
            if not x < y or (x, y) in seen:
                return f"pair ({x}, {y}) out of order or repeated"
            seen.add((x, y))
            exact = jaccard(self.sets[x], self.sets[y])
            if exact != float(j) or exact < self.threshold:
                return f"pair ({x}, {y}): jaccard {j}, exact {exact}"
        for g in self.clone_groups:
            if self.sets[g[0]]:
                for i, x in enumerate(g):
                    for y in g[i + 1 :]:
                        if (x, y) not in seen:
                            return f"clone pair ({x}, {y}) not recalled"
        return None
