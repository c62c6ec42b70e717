"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of ``(seed, size)``: it writes parquet
plus a ground-truth file into a directory and returns
nothing.  ``ensure_inputs`` caches a finished directory under
``<cache>/<workload>-<size>-<seed>`` so repeated runs with one seed pay
generation once; generation never runs inside a timed region.

Ground truth is written next to the inputs and is never shown to the
program under test: the program reads only the generated parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the English / foreign function words double as the language signal
# (pyjanitor_spark's language ID profiles are derived from such words)
_MARKERS = {
    "en": "the and of to is in that it was for on are with as at be this "
          "have from or had by not but what a an".split(),
    "de": "der die und das ist nicht mit dem den ein eine auf im sie ich "
          "des sich von zu war als auch es an".split(),
    "fr": "le la et les est des un une du dans que qui pour sur pas au "
          "plus par avec son ne se ce il aux".split(),
    "es": "el la los que es en un una las del por con para su al lo como "
          "pero sus ya este entre cuando".split(),
}
# content words come from letters no marker profile leans on, so the
# function words alone decide the language
_CONS = list("bkpvzgm")
_VOWS = list("uyo")


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        syl = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_CONS) + rng.choice(_VOWS) for _ in range(syl)))
    return sorted(words)


def _sentence(rng, vocab, markers) -> list[str]:
    n = int(rng.integers(8, 15))
    is_marker = rng.random(n) < 0.35
    return [
        markers[int(rng.integers(len(markers)))] if m else vocab[int(rng.integers(len(vocab)))]
        for m in is_marker
    ]


def _doc_words(rng, vocab, lang: str) -> list[list[str]]:
    return [_sentence(rng, vocab, _MARKERS[lang]) for _ in range(int(rng.integers(8, 13)))]


def _render(sentences: list[list[str]]) -> str:
    return " ".join(" ".join([s[0].capitalize(), *s[1:]]) + "." for s in sentences)


def _near_copy(rng, vocab, sentences: list[list[str]], edits: int) -> list[list[str]]:
    out = [list(s) for s in sentences]
    for _ in range(edits):
        si = int(rng.integers(len(out)))
        wi = int(rng.integers(len(out[si])))
        out[si][wi] = vocab[int(rng.integers(len(vocab)))]
    return out


def _exact_variant(text: str) -> str:
    # dedupe_exact normalizes case and whitespace: the copy differs only there
    return "  " + text.upper().replace(". ", ".\n  ")


# ---------------------------------------------------------------- curation

CURATION_NON_EN = 0.12
CURATION_REPETITIVE = 0.03
CURATION_DUP_SHARE = 0.25  # share of docs that are planted extra copies


def _corpus(rng, n_docs: int):
    """Return (texts, truth rows) with shuffled ids.  Truth kinds:
    ``unique``, ``dup`` (member of a planted group), ``foreign``,
    ``repetitive``."""
    vocab = _vocab(rng, 3000)
    n_copies = int(n_docs * CURATION_DUP_SHARE)
    n_foreign = int(n_docs * CURATION_NON_EN)
    n_rep = int(n_docs * CURATION_REPETITIVE)
    n_base = n_docs - n_copies - n_foreign - n_rep
    n_groups = max(1, n_copies // 2)
    items: list[tuple[str, str, int, str]] = []  # text, kind, group, lang
    bases = [_doc_words(rng, vocab, "en") for _ in range(n_base)]
    sizes = np.full(n_groups, n_copies // n_groups)
    sizes[: n_copies - int(sizes.sum())] += 1
    for g, base in enumerate(bases):
        if g < n_groups:
            items.append((_render(base), "dup", g, "en"))
            for c in range(int(sizes[g])):
                if c % 3 == 2:
                    items.append((_exact_variant(_render(base)), "dup", g, "en"))
                else:
                    items.append((_render(_near_copy(rng, vocab, base, 2)), "dup", g, "en"))
        else:
            items.append((_render(base), "unique", -1, "en"))
    langs = ["de", "fr", "es"]
    for i in range(n_foreign):
        lang = langs[i % 3]
        items.append((_render(_doc_words(rng, vocab, lang)), "foreign", -1, lang))
    for _ in range(n_rep):
        line = _render([_sentence(rng, vocab, _MARKERS["en"])])
        items.append((" ".join([line] * 12), "repetitive", -1, "en"))
    order = rng.permutation(len(items))
    texts, truth = [], []
    for doc_id, i in enumerate(order):
        text, kind, group, lang = items[int(i)]
        texts.append(text)
        truth.append({"doc_id": doc_id, "kind": kind, "group": group, "lang": lang})
    return texts, truth


def gen_curation(seed: int, n_docs: int, out: str) -> None:
    rng = np.random.default_rng([seed, 1])
    texts, truth = _corpus(rng, n_docs)
    docs = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts})
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    _write_json(os.path.join(out, "truth.json"), {"docs": truth})


# ------------------------------------------------------------------ wrangle

WRANGLE_START, WRANGLE_END = "1994-01-01", "1997-12-31"


def gen_wrangle(seed: int, n_lines: int, out: str) -> None:
    """TPC-H-style lineitem / orders / part / supplier with a Zipf-hot
    ``L_PartKey``; mixed-case column names give ``clean_names`` work.
    Every foreign key resolves."""
    rng = np.random.default_rng([seed, 2])
    n_orders, n_parts, n_supp = max(1, n_lines // 4), 20000, 500
    day0 = np.datetime64("1992-01-01")
    o_date = day0 + rng.integers(0, 7 * 365, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "O_OrderKey": np.arange(n_orders, dtype=np.int64),
        "O_OrderDate": pa.array(o_date.astype("datetime64[D]"), pa.date32()),
        "O_OrderPriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"], n_orders),
    })
    brands = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
    part = pa.table({
        "P_PartKey": np.arange(n_parts, dtype=np.int64),
        "P_Brand": rng.choice(brands, n_parts),
        "P_RetailPrice": np.round(rng.uniform(900, 2100, n_parts), 2),
    })
    # supplier credit windows overlap so each priced line matches a few
    lo = np.round(rng.uniform(0, 95000, n_supp), 2)
    supplier = pa.table({
        "S_SuppKey": np.arange(n_supp, dtype=np.int64),
        "S_Name": [f"Supplier#{i:06d}" for i in range(n_supp)],
        "S_CreditLo": lo,
        "S_CreditHi": np.round(lo + rng.uniform(500, 1000, n_supp), 2),
    })
    hot = np.minimum(rng.zipf(1.3, n_lines) - 1, n_parts - 1)
    partkey = rng.permutation(n_parts)[hot].astype(np.int64)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    disc = np.round(rng.uniform(0, 0.1, n_lines), 2)
    tax = np.round(rng.uniform(0, 0.08, n_lines), 2)
    ship = o_date[rng.integers(0, n_orders, n_lines)]
    lineitem = pa.table({
        "L_OrderKey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "L_PartKey": partkey,
        "L_SuppKey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "L_Quantity": qty,
        "L_ExtendedPrice": np.round(qty * rng.uniform(900, 2000, n_lines), 2),
        "L_Discount": pa.array(disc, mask=rng.random(n_lines) < 0.10),
        "L_Tax": pa.array(tax, mask=rng.random(n_lines) < 0.05),
        "L_ShipDate": pa.array(ship.astype("datetime64[D]"), pa.date32()),
    })
    for name, t in (("lineitem", lineitem), ("orders", orders), ("part", part), ("supplier", supplier)):
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    _write_json(os.path.join(out, "truth.json"), {"expected": _wrangle_expected(out)})


def wrangle_sql(data: str) -> str:
    """The wrangle chain rendered as DuckDB SQL (the independent oracle)."""
    return f"""
    WITH x AS (
      SELECT l.*, o.o_orderdate,
        CASE WHEN l.l_quantity < 10 THEN 'small'
             WHEN l.l_quantity < 30 THEN 'medium' ELSE 'large' END AS qty_band,
        COALESCE(l.l_discount, l.l_tax, 0.0) AS disc
      FROM (SELECT L_OrderKey l_orderkey, L_PartKey l_partkey, L_SuppKey l_suppkey,
                   L_Quantity l_quantity, L_ExtendedPrice l_extendedprice,
                   L_Discount l_discount, L_Tax l_tax, L_ShipDate l_shipdate
            FROM '{data}/lineitem.parquet') l
      JOIN (SELECT O_OrderKey o_orderkey, O_OrderDate o_orderdate
            FROM '{data}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate BETWEEN DATE '{WRANGLE_START}' AND DATE '{WRANGLE_END}'
    ), n AS (
      SELECT *, l_extendedprice * (1 - disc) AS net FROM x
    ), g AS (
      SELECT *, AVG(net) OVER (PARTITION BY l_partkey) AS part_mean_net,
        ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY net DESC) AS rk FROM n
    ), t AS (
      SELECT * FROM g WHERE rk <= 3
    ), z AS (
      SELECT *, (net - AVG(net) OVER ()) / STDDEV_SAMP(net) OVER () AS net_z FROM t
    ), j AS (
      SELECT z.*, p.P_Brand p_brand FROM z
      JOIN '{data}/supplier.parquet' s ON z.net >= s.S_CreditLo AND z.net < s.S_CreditHi
      JOIN '{data}/part.parquet' p ON z.l_partkey = p.P_PartKey
    ), lg AS (
      SELECT p_brand, qty_band, 'net' AS measure, net AS value FROM j
      UNION ALL SELECT p_brand, qty_band, 'part_mean_net', part_mean_net FROM j
      UNION ALL SELECT p_brand, qty_band, 'net_z', net_z FROM j
    ), a AS (
      SELECT p_brand, qty_band, measure, SUM(value) AS value FROM lg
      GROUP BY ALL
    ), grid AS (
      SELECT * FROM (SELECT DISTINCT p_brand FROM a), (SELECT DISTINCT qty_band FROM a),
                    (SELECT DISTINCT measure FROM a)
    ), c AS (
      SELECT grid.*, COALESCE(a.value, 0.0) AS value FROM grid LEFT JOIN a
      USING (p_brand, qty_band, measure)
    )
    SELECT p_brand, measure,
      SUM(value) FILTER (WHERE qty_band = 'large') AS large,
      SUM(value) FILTER (WHERE qty_band = 'medium') AS medium,
      SUM(value) FILTER (WHERE qty_band = 'small') AS small,
      (SELECT COUNT(*) FROM j) AS joined_rows
    FROM c GROUP BY p_brand, measure ORDER BY p_brand, measure
    """


def _wrangle_expected(data: str) -> list[list]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return [list(r) for r in con.execute(wrangle_sql(data)).fetchall()]
    finally:
        con.close()


# -------------------------------------------------------------------- cache

GENERATORS = {
    "curation": gen_curation,
    "wrangle": gen_wrangle,
}


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


def ensure_inputs(cache: str, workload: str, seed: int, size: int) -> str:
    """Generate (or reuse) the inputs for one (workload, seed, size)."""
    final = os.path.join(cache, f"{workload}-{size}-{seed}")
    if os.path.exists(os.path.join(final, "DONE")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](seed, size, tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def input_checksum(path: str) -> str:
    """md5 over every generated file's name and decoded contents (parquet
    bytes embed a writer version, so tables are hashed by value)."""
    h = hashlib.md5()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name == "DONE":
                continue
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            if name.endswith(".parquet"):
                h.update(pq.read_table(full).to_pandas().to_csv().encode())
            else:
                with open(full, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()
