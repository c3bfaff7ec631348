"""Output checks.  They run outside every timed region; a failed check
counts as a failed op in the result line.

- Registry queries are compared with their DuckDB oracle
  (``analytics.ORACLE``) the way ``tools/verify_oracle.py`` does it:
  row count, column names, type lint and the order-insensitive
  ``value_hash``.
- The market warehouse is checked for its end state after the last day.
"""

from __future__ import annotations

import importlib.util
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _verify_oracle():
    spec = importlib.util.spec_from_file_location(
        "verify_oracle", os.path.join(REPO, "tools", "verify_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB answers for the registry over one generated table dir."""

    def __init__(self, sf_dir: str, sql: dict[str, str]):
        self.vo = _verify_oracle()
        self.con = self.vo._connect(sf_dir)
        self.sql = sql

    def check(self, name: str, cols: list[str], dtypes, rows) -> str | None:
        """None when Spark's (cols, dtypes, rows) match the oracle, else
        the first problem found."""
        if name not in self.sql:
            return f"{name}: no oracle"
        rel = self.con.sql(self.sql[name])
        return compare(self.vo, cols, dtypes, rows,
                       rel.columns, rel.types, self.vo._fetch_arrow_rows(rel))


def compare(vo, cols, dtypes, rows, dcols, dtypes_duck, drows) -> str | None:
    if len(rows) != len(drows):
        return f"rowcount {len(rows)} vs {len(drows)}"
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in dcols):
        return f"columns {cols} vs {dcols}"
    problems = vo.type_lint(dtypes, dcols, dtypes_duck)
    if problems:
        return problems[0]
    if vo.value_hash(rows, [c.lower() for c in cols]) != \
            vo.value_hash(drows, [c.lower() for c in dcols]):
        return "value-hash mismatch"
    return None


def check_market(stock_keys, rankings, sector_rows: int, industry_rows: int,
                 news, expected_urls, *, n_sectors: int, n_industries: int,
                 ) -> list[str]:
    """End state of the market warehouse.

    ``rankings``: (symbol, market_cap_category, fundamental_rank) rows;
    ``news``: (tweet_id, article_url) rows."""
    problems = []
    rank_keys = {r[0] for r in rankings}
    if set(stock_keys) != rank_keys or len(rank_keys) != len(rankings):
        problems.append(
            f"stock_rankings keys != stock_data keys "
            f"({len(rank_keys)} vs {len(set(stock_keys))})")
    by_cat = defaultdict(list)
    for _, cat, rank in rankings:
        if cat is not None:
            by_cat[cat].append(rank)
    for cat, ranks in by_cat.items():
        if sorted(r for r in ranks if r is not None) != list(range(1, len(ranks) + 1)):
            problems.append(f"fundamental_rank in {cat!r} is not 1..{len(ranks)}")
    if sector_rows != n_sectors:
        problems.append(f"sector_data has {sector_rows} rows, not {n_sectors}")
    if industry_rows != n_industries:
        problems.append(f"industry_data has {industry_rows} rows, not {n_industries}")
    ids = [t for t, _ in news]
    if len(set(ids)) != len(ids):
        problems.append("news tweet_id values are not unique")
    if {u for _, u in news} != set(expected_urls) or len(ids) != len(set(expected_urls)):
        problems.append(f"news holds {len(ids)} rows for "
                        f"{len(set(expected_urls))} distinct non-teaser URLs")
    return problems


def check_corpus_prep(res: dict, n_docs: int, n_distinct: int) -> str | None:
    """The corpus build's row accounting: every input row is seen, exact
    dedup keeps one row per distinct text, each later stage only removes
    rows, and the splits add up to what was kept."""
    if res["input_rows"] != n_docs:
        return f"input_rows {res['input_rows']} != {n_docs} documents"
    if res["after_exact_dedup"] != n_distinct:
        return (f"after_exact_dedup {res['after_exact_dedup']} != "
                f"{n_distinct} distinct texts")
    if not 0 < res["after_near_dedup_and_quality"] <= res["after_exact_dedup"] <= n_docs:
        return f"row accounting is not monotone: {res}"
    if sum(res[f"{s}_rows"] for s in ("train", "val", "test")) \
            != res["after_near_dedup_and_quality"]:
        return f"splits do not add up: {res}"
    return None
