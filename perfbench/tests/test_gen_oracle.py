"""Tests of the benchmark's input generator and its independent checks.

    python3 -m pytest perfbench/tests -q

No Spark: everything here is plain Python/numpy.
"""

from __future__ import annotations

import hashlib
import os
import string
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402

CAP = 65_536  # operators.inverted_index.INDEX_DELETE_BROADCAST_CAP


@pytest.mark.parametrize(
    "token, word",
    [("That's", "thats"), ("123ab", "ab"), ("42", ""), ("(Word);", "word"), ("--", "")],
)
def test_normalize_hand_worked(token, word):
    assert oracle.normalize(token) == word


def test_words_drop_empty_tokens():
    assert oracle.Normalizer().words("  That's 123ab\n42 \t-- THE ") == [
        "thats",
        "ab",
        "the",
    ]


def test_letter_files_order_ids_and_empty_letters():
    docs = {1: "b a a", 2: "A. c", 3: "a b 7", 4: "99"}
    files = oracle.letter_files(oracle.build_index(docs))
    assert sorted(files) == list(string.ascii_lowercase)
    assert files["a"] == b"a:[1 2 3]\n"
    assert files["b"] == b"b:[1 3]\n"
    assert files["c"] == b"c:[2]\n"
    assert all(files[c] == b"" for c in "defghijklmnopqrstuvwxyz")


def test_letter_lines_sorted_by_df_then_word():
    docs = {1: "bb ba bc", 2: "bc ba", 3: "bc"}
    assert oracle.letter_files(oracle.build_index(docs))["b"] == (
        b"bc:[1 2 3]\nba:[1 2]\nbb:[1]\n"
    )


def test_generated_corpus_leaves_a_letter_empty():
    docs = dict(enumerate(gen.letter_index_docs(5), start=1))
    files = oracle.letter_files(oracle.build_index(docs))
    assert files[gen.EMPTY_LETTER] == b""
    assert sum(1 for c in files if files[c]) == 25


def test_generated_tokens_need_normalizing():
    text = gen.letter_index_docs(5)[0]
    toks = text.split()
    assert any(t != oracle.normalize(t) and oracle.normalize(t) for t in toks)
    assert any(not oracle.normalize(t) for t in toks)


def test_delete_sets_straddle_the_broadcast_cap():
    inp = gen.index_update_inputs(7)
    assert len(inp["delete_small"]) <= CAP < len(set(inp["delete_big"]))
    assert set(inp["delete_small"]) <= set(inp["base"])
    assert set(inp["changed"]) <= set(inp["base"])
    assert not set(inp["new"]) & set(inp["base"])
    derived = gen.update_inputs_from({i: "w" for i in range(1, 200)})
    assert len(derived["delete_small"]) <= CAP < len(set(derived["delete_big"]))


def test_index_form_compares_postings():
    idx = oracle.build_index({1: "a b", 2: "b"})
    assert idx == {"a": [1], "b": [1, 2]}
    same = oracle.IndexForm.of(idx)
    assert same.mismatch(oracle.IndexForm.of(dict(idx))) is None
    other = oracle.IndexForm.of({"a": [1], "b": [2, 1]})
    assert other.mismatch(same) == "posting lists differ"
    assert oracle.IndexForm.of({"a": [1]}).mismatch(same).startswith("word sets")


def test_delete_and_update_semantics():
    a = {1: "x y", 2: "y z", 3: "z"}
    assert oracle.build_index(oracle.delete_docs(a, [2])) == {
        "x": [1], "y": [1], "z": [3]
    }
    changed = {2: ""}
    kept = oracle.delete_docs(a, changed)
    assert oracle.build_index({**kept, **changed}) == {
        "x": [1], "y": [1], "z": [3]
    }


WORDS = [f"w{c}" for c in "abcdefghij"]  # ten distinct words


def test_planted_pair_known_jaccard():
    # one substitution in the middle of 10 words changes 3 of 8 shingles:
    # 5 common, 11 in the union
    edited = WORDS[:5] + ["zz"] + WORDS[6:]
    a = oracle.shingle_hashes(WORDS)
    b = oracle.shingle_hashes(edited)
    assert len(a) == len(b) == 8
    assert oracle.jaccard(a, b) == round(5 / 11, 6)
    # substitutions at words 0 and 5 change shingles 0, 3, 4 and 5:
    # 4 common, 12 in the union
    edited2 = ["zz"] + WORDS[1:5] + ["yy"] + WORDS[6:]
    assert oracle.jaccard(a, oracle.shingle_hashes(edited2)) == round(4 / 12, 6)


def test_short_documents_form_one_shingle():
    assert len(oracle.shingle_hashes(["a", "b"])) == 1
    assert oracle.shingle_hashes(["a", "b"]) == oracle.shingle_hashes(["a", "b"])
    assert oracle.shingle_hashes([]) == set()


def test_round6_is_half_up():
    assert oracle.round6(0.4999995) == 0.5
    assert oracle.round6(0.49999949) == 0.499999


def test_near_dup_clusters_and_cap():
    base = " ".join(WORDS)
    docs = {
        1: base,
        2: " ".join(WORDS[:9] + ["zz"]),  # 7 of 8 shingles shared
        3: base,  # byte-identical clone of 1
        4: "p q r s t",
        5: "P, q. r s t!",  # same words as 4 after normalizing
    }
    nd = oracle.NearDup(docs)
    assert nd.clusters == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert [sorted(g) for g in nd.clone_groups] == [[1, 3]]
    # cap of 1: every shingle shared by two contents is ignored, so only
    # the clone star joins documents
    capped = oracle.NearDup(docs, max_shingle_df=1)
    assert capped.clusters == {1: 1, 2: 2, 3: 1, 4: 4, 5: 5}


def test_lsh_pair_verification():
    docs = {1: " ".join(WORDS), 2: " ".join(WORDS[:9] + ["zz"]), 3: " ".join(WORDS)}
    nd = oracle.NearDup(docs)
    j = oracle.jaccard(nd.sets[1], nd.sets[2])
    assert nd.pairs_mismatch([1, 1, 2], [2, 3, 3], [j, 1.0, j]) is None
    assert "not recalled" in nd.pairs_mismatch([1], [2], [j])
    assert "exact" in nd.pairs_mismatch([1, 1], [2, 3], [0.9, 1.0])


def test_planted_families_are_near_duplicates():
    shard = gen.near_dup_shard(11, 0)
    nd = oracle.NearDup(shard)
    assert nd.edges > 0 and nd.clone_groups
    assert nd.n_capped_shingles > 0  # the shared header is over the cap
    assert len(set(nd.clusters.values())) < len(shard)


def digest_tree(root: str) -> str:
    """md5 over every file's relative path and bytes under ``root``."""
    h = hashlib.md5()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_inputs(tmp_path):
    def digests(seed: int, tag: str) -> list[str]:
        root = tmp_path / f"{tag}{seed}"
        gen.write_letter_index(seed, str(root / "l"))
        gen.write_index_update(gen.index_update_inputs(seed), str(root / "u"))
        shards = [gen.near_dup_shard(seed, s) for s in range(gen.NEAR_SHARDS)]
        gen.write_shards(shards, str(root / "n"))
        return [digest_tree(str(root / k)) for k in "lun"]

    first, again, other = digests(3, "a"), digests(3, "b"), digests(4, "c")
    assert first == again
    assert all(x != y for x, y in zip(first, other))
