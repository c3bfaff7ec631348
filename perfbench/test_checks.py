"""The output checks must reject perturbed outputs.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402

VO = checks._verify_oracle()
COLS = ["k", "v"]
SPARK_TYPES = [("k", "bigint"), ("v", "double")]
DUCK_TYPES = ["BIGINT", "DOUBLE"]
ROWS = [(1, 0.5), (2, 1.25), (3, None)]


def _compare(rows, cols=COLS, spark_types=SPARK_TYPES, duck_types=DUCK_TYPES):
    return checks.compare(VO, cols, spark_types, rows, COLS, duck_types, ROWS)


def test_identical_output_passes_in_any_order():
    assert _compare(list(reversed(ROWS))) is None


def test_perturbed_value_fails():
    assert _compare([(1, 0.5), (2, 1.2500000000000002), (3, None)]) \
        == "value-hash mismatch"


def test_missing_row_fails():
    assert _compare(ROWS[:2]).startswith("rowcount")


def test_renamed_column_fails():
    assert _compare(ROWS, cols=["k", "w"]).startswith("columns")


def test_wider_oracle_type_fails():
    assert "type mismatch" in _compare(ROWS, duck_types=["HUGEINT", "DOUBLE"])


def _market(**over):
    state = dict(
        stock_keys=["A", "B", "C", "D"],
        rankings=[("A", "Large Cap", 1), ("B", "Large Cap", 2),
                  ("C", "Mid Cap", 1), ("D", None, None)],
        sector_rows=20, industry_rows=119,
        news=[("tv_1", "u1"), ("tv_2", "u2")],
        expected_urls={"u1", "u2"},
    )
    state.update(over)
    return checks.check_market(n_sectors=20, n_industries=119, **state)


def test_consistent_market_state_passes():
    assert _market() == []


def test_missing_ranking_key_fails():
    assert _market(rankings=[("A", "Large Cap", 1), ("C", "Mid Cap", 1),
                             ("D", None, None)])


def test_rank_gap_fails():
    assert _market(rankings=[("A", "Large Cap", 1), ("B", "Large Cap", 3),
                             ("C", "Mid Cap", 1), ("D", None, None)])


def test_segment_row_count_fails():
    assert _market(industry_rows=118)


def test_duplicate_tweet_id_fails():
    assert _market(news=[("tv_1", "u1"), ("tv_1", "u2")])


def test_teaser_or_missing_url_fails():
    assert _market(news=[("tv_1", "u1"), ("tv_3", "premium")])
    assert _market(news=[("tv_1", "u1")])


PREP = {"input_rows": 500, "after_exact_dedup": 499,
        "after_near_dedup_and_quality": 300, "train_rows": 240,
        "val_rows": 30, "test_rows": 30}


def test_consistent_corpus_accounting_passes():
    assert checks.check_corpus_prep(PREP, 500, 499) is None


def test_perturbed_corpus_accounting_fails():
    assert checks.check_corpus_prep(PREP, 501, 499)
    assert checks.check_corpus_prep({**PREP, "train_rows": 241}, 500, 499)
    assert checks.check_corpus_prep({**PREP, "after_near_dedup_and_quality": 0},
                                    500, 499)


def test_exact_dedup_that_keeps_a_duplicate_fails():
    assert checks.check_corpus_prep({**PREP, "after_exact_dedup": 500}, 500, 499)
