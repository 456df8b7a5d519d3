"""BPE merge learning + encoding vs a pure-Python reference."""

from collections import Counter

from pyspark.sql import functions as F

from kgforge.operators.bpe import (
    bpe_encode,
    bpe_learn,
    pair_counts,
    word_counts,
    _symbolize,
)


def _py_syms(w):
    return tuple(list(w[:-1]) + [w[-1] + "</w>"])


def _py_apply(syms, a, b):
    out = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return tuple(out)


def _py_learn(word_cnt, k):
    vocab = {_py_syms(w): c for w, c in word_cnt.items()}
    merges = []
    for rank in range(k):
        pc = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        # max count, ties -> lexicographically largest (a, b): mirrors the
        # operator's single max(struct) agg
        (a, b), c = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
        if c < 1:
            break
        merges.append((a, b, rank))
        nv = {}
        for syms, cnt in vocab.items():
            ns = _py_apply(syms, a, b)
            nv[ns] = nv.get(ns, 0) + cnt
        vocab = nv
    return merges


TEXTS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
    "low lower newest",
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id bigint, text string"
    )


def _py_word_counts():
    c = Counter()
    for t in TEXTS:
        for w in t.lower().split():
            c[w] += 1
    return dict(c)


def test_word_and_pair_counts(spark):
    wc = {
        r["word"]: r["cnt"] for r in word_counts(_docs(spark)).collect()
    }
    assert wc == _py_word_counts()
    pc = {
        (r["a"], r["b"]): r["pair_cnt"]
        for r in pair_counts(_symbolize(word_counts(_docs(spark)))).collect()
    }
    ref = Counter()
    for w, c in _py_word_counts().items():
        s = _py_syms(w)
        for i in range(len(s) - 1):
            ref[(s[i], s[i + 1])] += c
    assert pc == dict(ref)


def test_bpe_learn_matches_python(spark):
    got = bpe_learn(_docs(spark), num_merges=8)
    assert got == _py_learn(_py_word_counts(), 8)
    # classic corpus: 'est</w>' family merges dominate
    assert len(got) == 8 and got[0][2] == 0


def test_bpe_learn_single_char_words(spark):
    docs = spark.createDataFrame([(0, "a a b ab")], "doc_id bigint, text string")
    merges = bpe_learn(docs, num_merges=3)
    assert merges == _py_learn({"a": 2, "b": 1, "ab": 1}, 3)


def test_bpe_encode_counts(spark):
    merges = bpe_learn(_docs(spark), num_merges=8)
    rows = bpe_encode(_docs(spark), merges).orderBy("doc_id").collect()
    ranks = {(a, b): r for a, b, r in merges}

    def enc_len(w):
        syms = list(_py_syms(w))
        while len(syms) > 1:
            best, br = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (br is None or r < br):
                    best, br = i, r
            if best is None:
                break
            syms = syms[:best] + [syms[best] + syms[best + 1]] + syms[best + 2:]
        return len(syms)

    for row, text in zip(rows, TEXTS):
        words = text.lower().split()
        assert row["n_words"] == len(words)
        assert row["n_bpe_tokens"] == sum(enc_len(w) for w in words)


RUN_TEXTS = ["aaaaa aaaaa aaaaaa", "aaaaaa bbbbb aaaaa", "bbbbbb bbbbb"]


def test_duckdb_twin_folds_runs_of_identical_symbols():
    """The DuckDB twin of bpe_learn replays each merge as one string
    replace. On runs of 5 and 6 identical symbols ('aaaaa' merges (a, a)
    to aa aa a</w>, never aa a aa</w>) it must give the reference's
    merges."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as e

    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"doc_id": range(len(RUN_TEXTS)), "text": RUN_TEXTS}))
    con.execute("CREATE TABLE documents AS SELECT * FROM docs")
    got = [tuple(r) for r in con.execute(e._bpe_merges_sql(6)).fetchall()]
    counts = Counter(w for t in RUN_TEXTS for w in t.split())
    assert got == _py_learn(dict(counts), 6)
    assert ("aa", "aa", 2) in got
