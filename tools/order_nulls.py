"""Structural closure of the NULL-ordering oracle class (VERDICT r9 #1).

Spark's ASC ordering is NULLS FIRST and DESC is NULLS LAST; DuckDB's
defaults are the opposite. An oracle whose window ORDER BY items are
unqualified therefore diverges from the engine whenever a NULL lands at
a decisive adjacency — the class that produced eight real divergences
in round 9 (PARITY_SWEEPS.md). This module makes the contract explicit:

- :func:`find_unqualified` — static audit: every window ORDER BY item
  (``OVER (...)`` and named ``WINDOW w AS (...)`` specs) lacking an
  explicit ``NULLS FIRST``/``NULLS LAST`` qualifier.
- :func:`qualify_sql` — mechanical rewrite appending the SPARK contract
  (ASC -> NULLS FIRST, DESC -> NULLS LAST) to each unqualified item.
  The engine side orders with Spark defaults everywhere (the only
  explicit orderings in the package — ``desc_nulls_last``,
  ``asc_nulls_first`` — ARE the Spark defaults), so the rewrite is a
  no-op on Spark-side SQL and a contract fix on DuckDB-side SQL.

Run as a script to rewrite the workload sources in place:
    python tools/order_nulls.py [--check]
"""

from __future__ import annotations

import re
import sys

# A window spec starts after OVER ( or WINDOW <name> AS ( .
_SPEC_OPEN = re.compile(r"\b(?:OVER|WINDOW\s+\w+\s+AS)\s*\(", re.IGNORECASE)
_ORDER_BY = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
# Frame clause (or spec end) terminates the order-item list.
_FRAME = re.compile(r"\b(?:ROWS|RANGE|GROUPS)\b", re.IGNORECASE)
_QUALIFIED = re.compile(r"\bNULLS\s+(?:FIRST|LAST)\b", re.IGNORECASE)
_DESC_TAIL = re.compile(r"\bDESC\s*$", re.IGNORECASE)


def _match_paren(text: str, open_idx: int) -> int:
    """Index of the ')' matching text[open_idx] == '(' (quote-aware)."""
    depth = 0
    i = open_idx
    n = len(text)
    while i < n:
        c = text[i]
        if c == "'":  # skip SQL string literal ('' is the escape)
            i += 1
            while i < n:
                if text[i] == "'":
                    if i + 1 < n and text[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError(f"unbalanced parens at {open_idx}")


def _split_items(seg: str) -> list[tuple[int, int]]:
    """(start, end) spans of top-level comma-separated items in seg."""
    spans = []
    depth = 0
    start = 0
    i = 0
    n = len(seg)
    while i < n:
        c = seg[i]
        if c == "'":
            i += 1
            while i < n:
                if seg[i] == "'":
                    if i + 1 < n and seg[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            spans.append((start, i))
            start = i + 1
        i += 1
    spans.append((start, n))
    return spans


def _order_item_spans(
    sql: str, source_mode: bool = False
) -> list[tuple[int, int]]:
    """Absolute (start, end) spans of every window ORDER BY item.

    ``source_mode`` (scanning raw Python files): reject specs that are
    implausibly long or cross a string-literal boundary — the SQL-quote-
    aware paren matcher can be derailed by apostrophes in surrounding
    Python code and silently extend a spec across literals (the round-10
    bpe-oracle corruption; caught by the nullts sweep)."""
    out = []
    for m in _SPEC_OPEN.finditer(sql):
        open_idx = m.end() - 1
        try:
            close_idx = _match_paren(sql, open_idx)
        except ValueError:
            continue
        body = sql[open_idx + 1 : close_idx]
        if source_mode and ('"""' in body or len(body) > 600):
            continue
        ob = _ORDER_BY.search(body)
        if not ob:
            continue
        # order items run from after ORDER BY to the frame clause (at
        # paren depth 0 of the spec body) or the spec end
        seg_start = ob.end()
        seg_end = len(body)
        depth = 0
        i = seg_start
        while i < seg_end:
            c = body[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0:
                fm = _FRAME.match(body, i)
                if fm:
                    seg_end = i
                    break
            i += 1
        seg = body[seg_start:seg_end]
        base = open_idx + 1 + seg_start
        for s, e in _split_items(seg):
            # trim whitespace to the real item span
            item = seg[s:e]
            ls = len(item) - len(item.lstrip())
            rs = len(item) - len(item.rstrip())
            if item.strip():
                out.append((base + s + ls, base + e - rs))
    return out


def find_unqualified(sql: str) -> list[str]:
    """Window ORDER BY items lacking NULLS FIRST/LAST, as text."""
    return [
        sql[s:e]
        for s, e in _order_item_spans(sql)
        if not _QUALIFIED.search(sql[s:e])
    ]


def qualify_sql(sql: str, skip_braced: bool = False) -> str:
    """Append the Spark NULL-placement contract to unqualified items.

    With ``skip_braced`` (source-rewrite mode over f-string Python
    files), items containing ``{``/``}`` are left alone — a placeholder
    could hold a comma-joined list the span splitter would misread —
    and specs that look derailed are rejected by ``_order_item_spans``'s
    source mode.
    """
    edits = []
    for s, e in _order_item_spans(sql, source_mode=skip_braced):
        item = sql[s:e]
        if _QUALIFIED.search(item):
            continue
        if skip_braced and ("{" in item or "}" in item):
            continue
        kw = " NULLS LAST" if _DESC_TAIL.search(item) else " NULLS FIRST"
        edits.append((e, kw))
    for pos, kw in sorted(edits, reverse=True):
        sql = sql[:pos] + kw + sql[pos:]
    return sql


def unqualified_order_items(reg) -> dict[str, list[str]]:
    """Registry name → the window ORDER BY items of its oracle text that
    lack NULLS FIRST/LAST (queries with none are left out)."""
    bad = {}
    for name in sorted(reg):
        sql = reg[name].oracle
        items = find_unqualified(sql) if sql else []
        if items:
            bad[name] = items
    return bad


def main() -> None:
    import ast
    import glob
    import os

    check = "--check" in sys.argv
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from etl_manager_spark.workloads import load_registry

    bad = unqualified_order_items(load_registry())
    total = sum(len(v) for v in bad.values())
    print(f"audit: {len(bad)} oracles / {total} unqualified order items")
    if check:
        for name, items in sorted(bad.items()):
            for it in items:
                print(f"  {name}: {it!r}")
        sys.exit(1 if bad else 0)
    for path in sorted(
        glob.glob(os.path.join(repo, "etl_manager_spark", "workloads", "*.py"))
    ):
        with open(path) as fh:
            src = fh.read()
        new = qualify_sql(src, skip_braced=True)
        if new != src:
            ast.parse(new)  # must still be valid Python
            with open(path, "w") as fh:
                fh.write(new)
            print(f"rewrote {os.path.basename(path)}")


if __name__ == "__main__":
    main()
