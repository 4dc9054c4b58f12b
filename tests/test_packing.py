"""Sequence-packing tests: the distributed prefix sum must equal a
naive single-stream packing, including docs that span chunk boundaries."""

from __future__ import annotations

import pytest

from facebook_page_scrapy_spark import queries as Q


@pytest.fixture()
def docs_dir(spark, tmp_path):
    # token counts: doc i has i+1 ws-tokens; doc 7 is empty (dropped)
    rows = []
    for i in range(30):
        text = "" if i == 7 else " ".join(f"t{j}" for j in range(i + 1))
        rows.append((i, text, "en", "s1", len(text)))
    # one giant doc spanning multiple 2048-token sequences
    rows.append((100, " ".join("w" for _ in range(5000)), "en", "s1", 9999))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.repartition(5).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_pack_sequences_matches_naive_stream(spark, docs_dir):
    got = {r.doc_id: r for r in Q.q_pack_sequences(spark, docs_dir).collect()}
    S = 2048
    cum = 0
    for i in sorted(got):
        n = got[i].n_tokens
        start = cum
        cum += n
        assert got[i].seq_id == start // S, i
        assert got[i].seq_offset == start % S, i
        assert got[i].n_seqs_spanned == (cum - 1) // S - start // S + 1, i
    # empty doc dropped, all others present
    assert 7 not in got and len(got) == 30
    # the 5000-token doc spans >= 3 sequences
    assert got[100].n_seqs_spanned >= 3


def test_pack_sequences_partitioning_invariant(spark, docs_dir):
    a = sorted(
        (r.doc_id, r.seq_id, r.seq_offset)
        for r in Q.q_pack_sequences(spark, docs_dir).collect()
    )
    b = sorted(
        (r.doc_id, r.seq_id, r.seq_offset)
        for r in Q.q_pack_sequences(spark, docs_dir).repartition(11).collect()
    )
    assert a == b


def test_greedy_pack_no_split_invariants(spark):
    """Next-fit semantics: within every (shard, bin), docs are contiguous by
    doc_id, offsets chain exactly (offset_{i+1} = offset_i + len_i), nothing
    exceeds capacity, and a new bin only opens when the doc would not fit."""
    from facebook_page_scrapy_spark import queries as Q

    rows = sorted(
        Q.q_greedy_pack(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: (r.shard, r.doc_id),
    )
    assert rows
    prev = {}
    for r in rows:
        assert 0 < r.n_tokens <= Q._NF_LEN
        assert r.bin_offset + r.n_tokens <= Q._NF_LEN
        if r.shard in prev:
            p = prev[r.shard]
            if r.bin == p.bin:
                assert r.bin_offset == p.bin_offset + p.n_tokens
            else:
                assert r.bin == p.bin + 1 and r.bin_offset == 0
                # the doc genuinely did not fit in the previous bin
                assert p.bin_offset + p.n_tokens + r.n_tokens > Q._NF_LEN
        else:
            assert r.bin == 0 and r.bin_offset == 0
        prev[r.shard] = r
