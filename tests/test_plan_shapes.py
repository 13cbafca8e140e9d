"""Structural plan contract for the 17 bench.py headline queries.

The headline queries sit at the local-mode per-stage latency floor, so only
structural changes move them: an Exchange, a broadcast, a Python evaluation
node or a partial WindowGroupLimit added or removed. This test pins those
four counts per query, deterministically and without timing noise. A change
that moves any count updates SHAPES below and states the plan-level reason.

Counts are taken from the tree section of ``explain("formatted")`` only
(the text before the first blank line): the node-detail section repeats
every node, so counting the whole dump would double every number.
"""

import contextlib
import io
import os
import re

import pytest

import __spark_entry__ as entry
from bench import HEADLINE

# sf0.01 sits beside the sf0.001 tables the entry point reads
SF_DIR = os.path.join(os.path.dirname(entry.SF0001), "sf0.01")

PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|ArrowAggregatePython|ArrowWindowPython"
    r"|AggregateInPandas|WindowInPandas|FlatMap(Co)?GroupsIn(Pandas|Arrow)"
    r"|MapIn(Pandas|Arrow))\b"
)

# query: (exchanges incl. broadcasts, broadcast exchanges,
#         python eval nodes, window group limits)
SHAPES = {
    "agg_pricing_summary": (2, 0, 0, 0),
    "agg_url_traffic": (1, 0, 0, 0),
    "window_ctr_volume": (3, 1, 0, 1),
    "window_host_dequeue": (4, 0, 1, 2),
    "filter_swiss_flags": (1, 0, 0, 0),
    "dedup_exact": (2, 0, 0, 0),
    "dedup_minhash_lsh_pairs": (4, 1, 0, 0),
    "dedup_embedding_pairs": (9, 4, 2, 0),
    "sim_topk_bruteforce": (4, 1, 0, 2),
    "sim_ann_suite": (11, 5, 2, 5),
    "text_token_counts": (2, 1, 0, 0),
    "text_lang_quality": (1, 0, 0, 0),
    "robots_parse": (6, 2, 0, 0),
    "corpus_curation": (4, 2, 0, 0),
    "image_phash_suite": (4, 0, 0, 0),
    "text_dup_decontam_suite": (9, 1, 0, 0),
    "text_normalize": (9, 5, 0, 0),
}


def plan_shape(df) -> tuple[int, int, int, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().strip().split("\n\n", 1)[0].splitlines()

    def count(pattern):
        return sum(1 for line in tree if re.search(pattern, line))

    return (
        count("Exchange"),
        count("BroadcastExchange"),
        count(PYTHON_NODE),
        count("WindowGroupLimit"),
    )


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_plan_shape(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    got = plan_shape(df)
    assert got == SHAPES[name], (
        f"{name}: (exchanges, broadcasts, python, window_group_limits) "
        f"expected {SHAPES[name]}, got {got}"
    )
