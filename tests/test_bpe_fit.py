"""The BPE fit's driver-side merge learner (_bpe_merges) against the
DuckDB oracle of q_tokenizer_fit, on generated corpora whose tiny
alphabet makes count ties and early exhaustion of adjacent pairs
common; and the tokenizer keys on corpora that run out of pairs
before _BPE_MERGES rounds."""
from __future__ import annotations

import os
from collections import Counter

import duckdb
import pytest
from hypothesis import example, given, settings, strategies as st

from engine.queries.llm import _BPE_MERGES, _bpe_merges
from engine.registry import ORACLE, QUERIES, load_all

load_all()

WORD = st.text(alphabet="abx", min_size=1, max_size=5)

# corpora that run out of adjacent pairs before _BPE_MERGES rounds:
# (texts, the oracle's merges, q_tokenizer_apply rows, and
# q_tokenizer_eval rows — only the k = 0 budget is reached)
NO_TYPES = [(0, 0, None, None, None, None)]
SHORT_FITS = {
    "empty": ([], [], [], NO_TYPES),
    "single_chars": (["a b c"], [], [(0, 3, 3, 3)], NO_TYPES),
    "one_type": (["ab ab ab"], [(1, "a b", 3)], [(0, 3, 6, 3)],
                 [(0, 1, 3, 6, 2.0, 1_000_000)]),
}


def _oracle_fit(texts):
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for row in enumerate(texts):
        con.execute("INSERT INTO documents VALUES (?, ?)", row)
    rows = con.sql(ORACLE["q_tokenizer_fit"]).fetchall()
    con.close()
    return sorted(rows)


def _type_seqs(texts):
    # _bpe_type_table's (seq, freq) rows: each word of length >= 2,
    # char-split with double spaces inside single-space sentinels
    freq = Counter(w for t in texts for w in t.split(" ") if len(w) >= 2)
    return [(" " + "  ".join(w) + " ", n) for w, n in freq.items()]


@settings(max_examples=150, deadline=None)
@given(st.lists(st.lists(WORD, min_size=1, max_size=8).map(" ".join),
                max_size=6))
@example([])
@example(["a b c"])
@example(["ab ab ab"])
def test_bpe_merges_equal_duckdb_oracle(texts):
    """The in-memory merge loop learns the oracle's merges exactly:
    same pairs, counts and ranks, the `n DESC, pair ASC` tie-break,
    and the same stop when no adjacent pair is left."""
    assert _bpe_merges(_type_seqs(texts), _BPE_MERGES) \
        == _oracle_fit(texts), texts


@pytest.mark.parametrize("name", sorted(SHORT_FITS))
def test_short_fit_learns_the_oracle_merges(name):
    texts, merges, _, _ = SHORT_FITS[name]
    assert _oracle_fit(texts) == merges
    assert _bpe_merges(_type_seqs(texts), _BPE_MERGES) == merges


def test_bpe_merges_strips_spaces_only():
    # Spark's trim strips U+0020 alone: a tab at a word's edge is a
    # token, not whitespace to drop
    seqs = [(" \t  a ", 2), (" a  \t ", 1)]
    assert _bpe_merges(seqs, 3) == [(1, "\t a", 2), (2, "a \t", 1)]


@pytest.mark.parametrize("name", sorted(SHORT_FITS))
def test_tokenizer_keys_run_on_a_short_fit(spark, sf_dir, tmp_path, name):
    """A corpus that runs out of adjacent pairs before _BPE_MERGES
    rounds: the fit returns the merges it learned, and apply, vocab
    and eval walk that list instead of raising."""
    texts, merges, apply_rows, eval_rows = SHORT_FITS[name]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long").write.parquet(f"{sf}/documents.parquet")
    for f in os.listdir(sf_dir):
        if f != "documents.parquet":  # every other table as is
            os.symlink(f"{sf_dir}/{f}", f"{sf}/{f}")
    s = spark.newSession()  # its own memo store and views

    def rows(key):
        return sorted(tuple(r) for r in QUERIES[key](s, sf).collect())

    assert rows("q_tokenizer_fit") == merges
    assert rows("q_tokenizer_apply") == apply_rows
    assert rows("q_tokenizer_eval") == eval_rows
    merged = [t for t, kind, _, _ in rows("q_tokenizer_vocab")
              if kind == "merge"]
    assert merged == [p.replace(" ", "") for _, p, _ in merges]
