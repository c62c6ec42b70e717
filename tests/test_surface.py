"""The public surface does not grow knobs: every defaulted parameter of
a public function is an option a caller can set and every later change
must keep working, so their count is a ratchet.  Lower ``MAX_OPTIONS``
when a change removes options; a change that adds one must remove
another."""

from __future__ import annotations

import inspect

import pyjanitor_spark
import pyjanitor_spark.functions
import pyjanitor_spark.utils.order

# defaulted parameters over the public functions below, after the
# distinct-value CDF verbs, assign_packs, take_token_budget and
# partitioned_cumsum lost their num_partitions option, semdedup its
# check option, and nb_score and ngram_lm_score their broadcast_model
# option
MAX_OPTIONS = 471


def _public_functions(module):
    names = getattr(module, "__all__", None)
    if names is None:
        names = [n for n in vars(module) if not n.startswith("_")]
    return [getattr(module, n) for n in names if inspect.isfunction(getattr(module, n))]


def _options() -> int:
    seen, count = set(), 0
    for module in (pyjanitor_spark, pyjanitor_spark.utils.order, pyjanitor_spark.functions):
        for fn in _public_functions(module):
            if fn in seen:
                continue
            seen.add(fn)
            count += sum(
                p.default is not inspect.Parameter.empty
                for p in inspect.signature(fn).parameters.values()
            )
    return count


def test_public_options_do_not_grow():
    assert _options() <= MAX_OPTIONS


def test_no_public_function_takes_num_partitions():
    """A partition count is the engine's choice
    (``spark.sql.shuffle.partitions``); no public function takes one."""
    takers = {
        fn.__name__
        for module in (pyjanitor_spark, pyjanitor_spark.utils.order, pyjanitor_spark.functions)
        for fn in _public_functions(module)
        if "num_partitions" in inspect.signature(fn).parameters
    }
    assert not takers
