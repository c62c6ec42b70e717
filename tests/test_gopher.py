"""gopher_repetition: deterministic hand-checked cases + a hypothesis
differential against a Python re-derivation of the documented formulas
(count·len upper-bound semantics, clamped at 1.0)."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pyjanitor_spark as pj

WAVE = settings(
    max_examples=int(os.environ.get("FUZZ_GOPHER_EXAMPLES", "8")),
    deadline=None,
    derandomize=not os.environ.get("FUZZ_GOPHER_RANDOM"),
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _brute(text: str, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    def rep_frac(items):
        items = [s.strip() for s in items]
        items = [s for s in items if s]
        return 1.0 - len(set(items)) / len(items) if items else 0.0

    import re

    lines = text.split("\n")
    paras = re.split(r"\n{2,}", text)
    toks = [t for t in re.split(r"\s+", text) if t != ""]
    chars = len(text)
    out = {
        "dup_line_frac": rep_frac(lines),
        "dup_para_frac": rep_frac(paras),
    }
    for n in sorted(set(top_ns) | set(dup_ns)):
        grams = [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]
        c = Counter(grams)
        if n in top_ns:
            key = f"top_{n}_gram_char_frac"
            if c and chars > 0:
                top = max(c.items(), key=lambda kv: (kv[1], len(kv[0]), kv[0]))
                out[key] = min(1.0, top[1] * len(top[0]) / chars)
            else:
                out[key] = 0.0
        if n in dup_ns:
            key = f"dup_{n}_gram_char_frac"
            if c and chars > 0:
                s = sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)
                out[key] = min(1.0, s / chars)
            else:
                out[key] = 0.0
    return out


def test_hand_checked(spark):
    rows = [
        (1, "a b a b a b a b"),
        (2, "x\nx\ny\n\nz z z z z z z z z z"),
        (3, ""),
        (4, "unique words only here today"),
        (5, "p q r s t p q r s t p q r s t"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.asDict() for r in pj.gopher_repetition(df, "id", "text").collect()}
    # doc 1: 'a b' x4, len 3, text len 15 -> 12/15
    assert got[1]["top_2_gram_char_frac"] == pytest.approx(0.8)
    # doc 1 top 3-gram 'a b a' x3 * 5 = 15/15 -> 1.0 exactly
    assert got[1]["top_3_gram_char_frac"] == 1.0
    # doc 2: lines x,x,y,z... -> 4 non-empty lines ('' between \n\n is
    # dropped), x duplicated: 1 - 3/4
    assert got[2]["dup_line_frac"] == pytest.approx(0.25)
    assert got[3] == {
        k: (3 if k == "id" else 0.0) for k in got[3]
    }  # empty doc all zero
    # doc 5: 5-gram 'p q r s t' x3 -> clamped 1.0 (27*? overlap bound)
    assert got[5]["dup_5_gram_char_frac"] == 1.0
    # doc 4: no repeats anywhere
    assert got[4]["dup_5_gram_char_frac"] == 0.0
    assert got[4]["dup_line_frac"] == 0.0


def test_matches_brute_on_hand_rows(spark):
    rows = [
        (1, "a b a b a b a b"),
        (2, "x\nx\ny\n\nz z z z z z z z z z"),
        (4, "unique words only here today"),
        (5, "p q r s t p q r s t p q r s t"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.asDict() for r in pj.gopher_repetition(df, "id", "text").collect()}
    for i, t in rows:
        want = _brute(t)
        for k, v in want.items():
            assert got[i][k] == pytest.approx(v, abs=1e-12), (i, k)


VOCAB = ["aa", "b", "ccc", "dd"]


@st.composite
def docs(draw):
    n = draw(st.integers(1, 4))
    rows = []
    for i in range(n):
        parts = []
        for _ in range(draw(st.integers(1, 3))):
            words = draw(st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12))
            parts.append(" ".join(words))
        sep = draw(st.sampled_from(["\n", "\n\n"]))
        rows.append((i, sep.join(parts)))
    return rows


# n = 1 (unigrams) rides along with the default sizes
TOP_NS, DUP_NS = (1, 2, 3, 4), (1, 5, 6, 7, 8, 9, 10)


@WAVE
@given(rows=docs())
def test_gopher_vs_brute_fuzz(spark, rows):
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r.asDict()
        for r in pj.gopher_repetition(
            df, "id", "text", top_ns=TOP_NS, dup_ns=DUP_NS
        ).collect()
    }
    for i, t in rows:
        want = _brute(t, TOP_NS, DUP_NS)
        for k, v in want.items():
            assert got[i][k] == pytest.approx(v, abs=1e-12), (i, k, t)


def test_validates(spark):
    df = spark.createDataFrame([(1, "a")], "id long, text string")
    with pytest.raises(ValueError):
        pj.gopher_repetition(df, "id", "text", top_ns=(0,), dup_ns=())


def _brute_exact(text: str, top_ns=(2, 3), dup_ns=(2, 5)):
    """Span-union re-derivation: char offsets in the whitespace-
    normalized text, interval union over repeated-gram occurrences."""
    import re

    def rep_frac(items):
        items = [s.strip() for s in items]
        items = [s for s in items if s]
        return 1.0 - len(set(items)) / len(items) if items else 0.0

    norm = re.sub(r"\s+", " ", text).strip()
    toks = norm.split(" ") if norm else []
    chars = len(text)
    starts, p = [], 0
    for t in toks:
        starts.append(p)
        p += len(t) + 1
    out = {
        "dup_line_frac": rep_frac(text.split("\n")),
        "dup_para_frac": rep_frac(re.split(r"\n{2,}", text)),
    }

    def union(spans):
        tot, ce = 0, -1
        for s, e in sorted(spans):
            tot += max(0, e - max(s, ce))
            ce = max(ce, e)
        return tot

    for kind, ns in (("top", top_ns), ("dup", dup_ns)):
        for n in ns:
            occ: dict = {}
            for i in range(len(toks) - n + 1):
                g = " ".join(toks[i : i + n])
                occ.setdefault(g, []).append(
                    (starts[i], starts[i + n - 1] + len(toks[i + n - 1]))
                )
            if kind == "dup":
                spans = [sp for v in occ.values() if len(v) >= 2 for sp in v]
            else:
                spans = (
                    occ[
                        max(
                            occ,
                            key=lambda g: (len(occ[g]), len(g), g),
                        )
                    ]
                    if occ
                    else []
                )
            out[f"{kind}_{n}_gram_char_frac"] = (
                min(1.0, union(spans) / chars) if chars > 0 and spans else 0.0
            )
    return out


def test_exact_hand_checked(spark):
    # 'a a a a': three overlapping 'a a' bigrams cover the whole 7-char
    # normalized text -> span-union 1.0; the upper bound would be
    # min(1, 3*3/7) = 1.0 too, but 'x y x y z' separates them
    df = spark.createDataFrame(
        [
            (1, "a a a a"),
            (2, "x y x y z"),
            (3, ""),
            (4, "q w e r t"),
            (5, "x x x y z y z"),
        ],
        "id long, text string",
    )
    got = {
        r.id: r.asDict()
        for r in pj.gopher_repetition(
            df, "id", "text", top_ns=(2,), dup_ns=(2,), exact=True
        ).collect()
    }
    assert got[1]["top_2_gram_char_frac"] == pytest.approx(1.0)
    # 'x y' occurs at chars [0,3) and [4,7): union 6 of 9 chars
    assert got[2]["top_2_gram_char_frac"] == pytest.approx(6 / 9)
    assert got[2]["dup_2_gram_char_frac"] == pytest.approx(6 / 9)
    assert got[3]["top_2_gram_char_frac"] == 0.0
    assert got[4]["dup_2_gram_char_frac"] == 0.0
    # 'x x' and 'y z' tie on (count 2, length 3); the larger string
    # 'y z' wins, covering [6,9) + [10,13) = 6 of 13 chars — the
    # overlapping 'x x' occurrences would cover only [0,5) = 5
    assert got[5]["top_2_gram_char_frac"] == pytest.approx(6 / 13)


@WAVE
@given(rows=docs())
def test_gopher_exact_vs_brute_fuzz(spark, rows):
    top_ns, dup_ns = (1, 2, 3), (1, 2, 5)
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r.asDict()
        for r in pj.gopher_repetition(
            df, "id", "text", top_ns=top_ns, dup_ns=dup_ns, exact=True
        ).collect()
    }
    ub = {
        r.id: r.asDict()
        for r in pj.gopher_repetition(
            df, "id", "text", top_ns=top_ns, dup_ns=dup_ns
        ).collect()
    }
    for i, t in rows:
        want = _brute_exact(t, top_ns, dup_ns)
        for k, v in want.items():
            assert got[i][k] == pytest.approx(v, abs=1e-12), (i, k, t)
            # exact is a tightening of the clamped upper bound
            assert got[i][k] <= ub[i][k] + 1e-12, (i, k, t)
