"""The DuckDB oracle on the benchmarked verbs, in the default tier.

Every ``queries()`` entry that calls a verb the perfbench workloads call
runs through ``tools/check_correctness.check`` at sf0.01 (override with
``CHECK_SF_DIR``), so a change to a benchmarked verb's output fails here
without anyone running the full oracle by hand."""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as entry
from tools.check_correctness import SF, check

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# perfbench verb -> the registry entries that call it
ENTRIES = {
    # wrangle
    "clean_names": ["clean_names"],
    "filter_date": ["filter_date"],
    "case_when": ["case_when"],
    "coalesce": ["coalesce"],
    "z_score": ["z_score"],
    "groupby_agg": ["groupby_agg", "groupby_agg_multi", "groupby_agg_nunique"],
    "groupby_topk": ["groupby_topk"],
    "conditional_join": [
        "conditional_join_equi",
        "conditional_join_range",
        "conditional_join_range_open",
        "conditional_join_left",
        "conditional_join_right",
        "conditional_join_outer",
        "conditional_join_keep_first",
        "conditional_join_keep_last",
        "conditional_join_indicator",
    ],
    "pivot_longer": ["pivot_longer"],
    "pivot_wider": ["pivot_wider"],
    "complete": ["complete"],
    # curation
    "language_id": ["language_id"],
    "quality_score": ["quality_score"],
    "gopher_repetition": ["gopher_repetition", "gopher_repetition_exact"],
    "dedupe_exact": ["dedupe_exact"],
    "dedupe_near": ["dedupe_near", "dedupe_near_best"],
    "minhash_lsh_pairs": [
        "minhash_lsh_pairs",
        "near_dup_clusters",
        "near_dup_clusters_contracted",
    ],
    "ngram_jaccard_pairs": [
        "ngram_jaccard_pairs",
        "ngram_jaccard_capped",
        "ngram_jaccard_sampled",
    ],
    "contamination_score": ["contamination"],
    "split_train_holdout": ["split_train_holdout"],
    "assign_packs": ["assign_packs"],
}

# called by the workloads but checked elsewhere: every entry reads through
# read_table, apply_math is z_score's carrier, and perfbench verifies the
# sink's output row by row
NO_ENTRY = {"read_table", "functions", "write_parquet"}


def test_entries_cover_every_benchmarked_verb():
    with open(os.path.join(ROOT, "perfbench", "workloads.py"), encoding="utf-8") as fh:
        called = set(re.findall(r"\bpj\.(\w+)", fh.read()))
    assert called - NO_ENTRY == set(ENTRIES)


GATED = [n for names in ENTRIES.values() for n in names]


def test_every_gated_entry_has_an_oracle():
    # an entry without an oracle_sql() twin would only check that Spark runs
    assert set(GATED) <= set(entry.queries()) & set(entry.oracle_sql())


@pytest.mark.parametrize("name", GATED)
def test_oracle(spark, name):
    [line] = check(spark, [name], SF)
    assert line.startswith("OK"), line
