"""The dataset catalog (``schemas.CATALOG``) is the one declaration of
each canonical dataset's directory, provenance source, key, written
columns and single-file shape. Ingest, the handler and validation read
it; no other module spells a dataset's ``.parquet`` path, keeps its own
set of meta tables, its own table of date columns or keys, or its own
copy of a dataset's column list."""

from __future__ import annotations

import ast
from pathlib import Path

from quantlab_data_pipeline_spark.schemas import CATALOG, META_DIR, SCHEMAS

PACKAGE = Path(__file__).resolve().parents[1] / "quantlab_data_pipeline_spark"
TESTS = Path(__file__).resolve().parent

_META = {name for name, ds in CATALOG.items() if ds.dir == META_DIR}
_COLUMN_LISTS = [schema.names for schema in SCHEMAS.values()]


def _strings(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, text) of every string literal and f-string literal part
    under ``tree``, docstrings left out."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
    ]


def _literal_strings(node: ast.AST) -> list[str] | None:
    """The elements of a list/tuple/set literal of strings, else None."""
    if isinstance(node, (ast.List, ast.Tuple, ast.Set)) and all(
        isinstance(e, ast.Constant) and isinstance(e.value, str) for e in node.elts
    ):
        return [e.value for e in node.elts]
    return None


def _per_dataset_lists(node: ast.AST) -> list[tuple]:
    """(dataset, string list) pairs of a dict literal from two or more
    dataset names to string-list literals, else []."""
    if not (
        isinstance(node, ast.Dict)
        and len(node.keys) >= 2
        and all(isinstance(k, ast.Constant) and k.value in CATALOG for k in node.keys)
    ):
        return []
    pairs = [(CATALOG[k.value], _literal_strings(v)) for k, v in zip(node.keys, node.values)]
    return pairs if all(cols is not None for _, cols in pairs) else []


def _catalog_uses(source: str, path_rules: bool = True) -> list[str]:
    """Where ``source`` repeats what the catalog declares:

    * a ``<dataset>.parquet`` string;
    * a function naming a dataset that also builds a ``.parquet`` path,
      or a module reading ``schemas`` that builds one (its dataset
      paths come from the catalog) — with ``path_rules``;
    * a collection literal holding two or more meta-table names;
    * a dict literal from datasets to their date columns;
    * a dict literal from two or more datasets to their keys;
    * a list or tuple literal equal to a dataset's full column list.
    """
    tree = ast.parse(source)
    found = [
        f"line {line}: {text!r}"
        for line, text in _strings(tree)
        if any(f"{name}.parquet" in text for name in CATALOG)
    ]
    if path_rules:
        reads_catalog = any(
            isinstance(node, ast.ImportFrom) and (node.module or "").endswith("schemas")
            for node in ast.walk(tree)
        )
        scopes = [tree] if reads_catalog else [
            node for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for scope in scopes:
            strings = _strings(scope)
            names = reads_catalog or any(text in CATALOG for _, text in strings)
            found += [
                f"line {line}: {text!r} beside a dataset name"
                for line, text in strings
                if names and ".parquet" in text
            ]
    for node in ast.walk(tree):
        elems = _literal_strings(node)
        if elems is not None and len(_META & set(elems)) >= 2:
            found.append(f"line {node.lineno}: meta-table set {sorted(elems)}")
        if isinstance(node, (ast.List, ast.Tuple)) and elems in _COLUMN_LISTS:
            found.append(f"line {node.lineno}: column list of a dataset")
        per_dataset = _per_dataset_lists(node)
        if per_dataset and all(set(cols) <= set(ds.date_cols) for ds, cols in per_dataset):
            found.append(f"line {node.lineno}: date-column table")
        if per_dataset and all(cols == list(ds.key) for ds, cols in per_dataset):
            found.append(f"line {node.lineno}: key table")
    return found


def test_only_the_catalog_declares_datasets():
    offenders = {
        rel: uses
        for p in sorted(PACKAGE.rglob("*.py"))
        if (rel := p.relative_to(PACKAGE).as_posix()) != "schemas.py"
        if (uses := _catalog_uses(p.read_text()))
    }
    assert offenders == {}


def test_ingest_tests_take_paths_from_the_catalog():
    assert _catalog_uses((TESTS / "test_ingest.py").read_text(), path_rules=False) == []


def test_catalog_guard_sees_the_repeated_shapes():
    src = (
        '"""Reads ``prices_daily.parquet``."""\n'
        'from .schemas import FIELD_MAP\n'
        '_META = frozenset({"assets_master", "universe_sp500"})\n'
        '_DATES = {"prices_daily": ["date"], "assets_master": ["first_date", "ipodate"]}\n'
        'KEYS = {"prices_daily": ["date", "asset_id"], "risk_free": ["date"]}\n'
        'def f(root):\n'
        '    return root / "data_processed" / "returns_daily.parquet"\n'
        'def g(root, table):\n'
        '    return root / f"{table}.parquet"\n'
        'COLS = ("date", "asset_id", "ticker", "ret_1d")\n'
        'SOME = ["date", "asset_id", "ticker"]\n'
    )
    found = sorted(int(u.split(":")[0].removeprefix("line ")) for u in _catalog_uses(src))
    assert found == [3, 4, 5, 7, 7, 9, 10], found


def test_catalog_guard_path_rule_is_scoped_to_functions():
    src = (
        'def f(docs):\n'
        '    return docs / "events.parquet"\n'
        'def g(tables):\n'
        '    return tables["prices_daily"]\n'
        'def h(root, name="prices_daily"):\n'
        '    return root / f"{name}.parquet"\n'
    )
    assert [u.split(":")[0] for u in _catalog_uses(src)] == ["line 6"]


def test_timestamp_columns_are_the_schema_date_fields():
    assert CATALOG["assets_master"].date_cols == ["first_date", "last_date", "ipodate"]
    assert CATALOG["analyst_ratings_history"].date_cols == ["date", "statistic_date"]


def test_every_key_column_is_in_its_schema():
    for name, ds in CATALOG.items():
        assert ds.key and set(ds.key) <= set(ds.schema.names), name


def test_time_col_is_the_key_date_column():
    times = {name: ds.time_col for name, ds in CATALOG.items()}
    assert times.pop("fundamentals_quarterly") == "report_date"
    assert times.pop("assets_master") is None
    assert set(times.values()) == {"date"} and len(times) == 13
