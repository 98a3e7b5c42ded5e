"""The `__spark_entry__` registry: every module's QUERIES/ORACLES
dicts, unioned. Builds no plans."""

import ast
import pathlib
import re

import pytest

import __spark_entry__ as entry

PKG = pathlib.Path(entry.__file__).parent / "debezium_spark"


def _sites(needle: str | float) -> list[str]:
    """`path:line` of every match of `needle` in the package source: a
    float matches equal number literals, a string is a regex matched
    against code, comments and SQL strings alike (`\\s+` in it also
    spans line breaks)."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        if isinstance(needle, float):
            lines = [
                node.lineno for node in ast.walk(ast.parse(text))
                if isinstance(node, ast.Constant) and node.value == needle
            ]
        else:
            lines = [
                text.count("\n", 0, m.start()) + 1
                for m in re.finditer(needle, text)
            ]
        out.extend(f"{path.relative_to(PKG)}:{n}" for n in lines)
    return out


def _lines_of(owner: str) -> set[str]:
    """`path:line` of every line of `owner`, a module path or a
    `path::function` of that module."""
    path, _, fn = owner.partition("::")
    text = (PKG / path).read_text()
    span = range(1, text.count("\n") + 2)
    if fn:
        node = next(
            n for n in ast.parse(text).body
            if isinstance(n, ast.FunctionDef) and n.name == fn
        )
        span = range(node.lineno, node.end_lineno + 1)
    return {f"{path}:{n}" for n in span}


def test_every_query_has_an_oracle():
    names = set(entry.queries())
    assert names == set(entry.oracle_sql())
    assert len(names) == 164


def test_no_name_shadows_another():
    # dict.update would silently drop a duplicate name
    assert sum(len(m.QUERIES) for m in entry._QUERY_MODULES) == len(
        entry.queries()
    )
    assert sum(len(m.ORACLES) for m in entry._QUERY_MODULES) == len(
        entry.oracle_sql()
    )


def test_modules_register_in_one_dict_pair():
    # no second-tier registry dicts (QUERIES_*/ORACLES_* such as the
    # former late-registration pair) beside QUERIES/ORACLES
    for mod in entry._QUERY_MODULES:
        extra = [
            n for n in vars(mod)
            if n.startswith(("QUERIES_", "ORACLES_"))
        ]
        assert extra == [], (mod.__name__, extra)


# Every rule both engines must compute alike is written once, by one
# owner that holds its Spark side and its DuckDB twin: (needles, owner).
# A string needle is a regex over code, comments and SQL text alike.
RULES = {
    "rounding-nudge": ((1e-9, r"1e-0?9"), "functions/rounding.py"),
    "tokenizer-md5-60": (
        (
            re.escape("F.split(F.trim("),
            re.escape("string_split_regex(trim(text)"),
            r"(F\.)?conv\((F\.)?substring\((F\.)?md5\(",
            re.escape("'0x' || substr(md5("),
        ),
        "functions/tokens.py",
    ),
    "latest-state": (
        (r"(?i)ORDER\s+BY\s+seq\s+DESC",),
        "cdc/materialize.py::sql_latest_state",
    ),
    "generation-law": ((r"40503", r"1700000000000"), "cdc/envelope.py"),
    "knuth32": ((r"2654435761",), "functions/tokens.py"),
    "content-md5": (
        (re.escape("F.lower(F.trim("), re.escape("lower(trim(")),
        "functions/tokens.py",
    ),
    "txn-id": ((r"//\s*100\b", r"/\s*100\)"), "cdc/envelope.py"),
    "seq-law": (
        (r"\*\s*(F\.lit\()?10\)?\s*\+", r"-\s*\S+\s*\*\s*(F\.lit\()?10\b"),
        "cdc/envelope.py",
    ),
    "snapshot-chunk": (
        (r"//\s*(1000\b|\{CHUNK_SIZE\})", r'key"?\)?\s*/\s*(1000|CHUNK_SIZE)\b',
         r"\b5000\b"),
        "cdc/materialize.py",
    ),
}


@pytest.mark.parametrize("rule", RULES)
def test_rule_has_one_owner(rule):
    needles, owner = RULES[rule]
    own = _lines_of(owner)
    for needle in needles:
        sites = _sites(needle)
        assert sites, needle
        assert set(sites) <= own, (needle, sites)
