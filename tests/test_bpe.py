"""Distributed BPE training pinned against a sequential reference
implementation: same normalization, same weighting, same greedy merge
semantics, same tie-breaks — the merge lists must be identical."""

from __future__ import annotations

import re

from personal_data_lakehouse_spark.functions.bpe import train_bpe
from tests.conftest import SF_DIR


def _ref_bpe(word_counts: dict[str, int], n_merges: int, min_count: int = 2):
    syms = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        for w, c in word_counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + c
        if not pc:
            break
        (left, right), count = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if count < min_count:
            break
        merges.append((left, right, count))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_distributed_bpe_matches_sequential_reference(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = [r.text for r in docs.select("text").collect()]
    counts: dict[str, int] = {}
    for t in texts:
        for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1

    got = train_bpe(docs, "text", n_merges=8)
    want = _ref_bpe(counts, 8)
    assert got == want
    assert len(got) == 8
    # merged symbols grow: later merges can reference earlier merge outputs
    assert any(len(left) > 1 or len(right) > 1 for left, right, _ in got)


def test_bpe_merge_memo_follows_a_rewritten_corpus(spark, tmp_path):
    """The merge-table memo is stamped with documents.parquet's mtime: a
    corpus rewritten at the SAME path is retrained, not served the first
    corpus's merges."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from personal_data_lakehouse_spark.plans.training_ops import bpe_merges_for

    sf = str(tmp_path)
    path = f"{sf}/documents.parquet"
    got = []
    for word, stamp in (("aaaa", 1_000_000), ("bbbb", 2_000_000)):
        pq.write_table(
            pa.table({"doc_id": [0, 1, 2], "text": [f"{word} {word}"] * 3}),
            path,
        )
        # explicit stamps: two writes inside one filesystem tick must not
        # look like the same file
        os.utime(path, (stamp, stamp))
        got.append(bpe_merges_for(spark, sf, n_merges=1))
    assert got == [[("a", "a", 18)], [("b", "b", 18)]]


def _ref_encode(word: str, merges) -> int:
    s = list(word)
    for left, right, _c in merges:
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return len(s)


def test_encode_bpe_matches_sequential_reference(spark):
    """encode ∘ train: per-document BPE token counts from the distributed
    encoder equal a sequential greedy application of the same merges."""
    from personal_data_lakehouse_spark.functions import normalize_text
    from personal_data_lakehouse_spark.functions.bpe import encode_bpe

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(80)
    merges = train_bpe(docs, n_merges=6)
    assert merges  # training must produce something to apply
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in encode_bpe(docs, merges).collect()
    }
    norm = {
        r["doc_id"]: r["nt"]
        for r in docs.select(
            "doc_id", normalize_text("text").alias("nt")
        ).collect()
    }
    for doc_id, text in norm.items():
        words = [w for w in text.split(" ") if w]
        want = (len(words), sum(_ref_encode(w, merges) for w in words))
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
