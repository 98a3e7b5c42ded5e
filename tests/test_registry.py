"""The `__spark_entry__` registry: every module's QUERIES/ORACLES
dicts, unioned. Builds no plans."""

import ast
import pathlib
import re

import __spark_entry__ as entry

PKG = pathlib.Path(entry.__file__).parent / "debezium_spark"


def _sites(pattern: str) -> list[str]:
    """`path:line` of every match of the regex `pattern` in the package
    source, code, comments and SQL strings alike; `\\s+` in it also
    spans line breaks."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        for m in re.finditer(pattern, text):
            line = text.count("\n", 0, m.start()) + 1
            out.append(f"{path.relative_to(PKG)}:{line}")
    return out


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


def test_rounding_nudge_lives_in_one_module():
    # both twins of the nudge, the Spark helpers and the DuckDB builders
    # every oracle calls, are written once, in functions/rounding.py:
    # no other module holds it as a number or inside SQL text
    literals = [
        f"{path.relative_to(PKG)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and node.value == 1e-9
    ]
    sites = literals + _sites(r"1e-0?9")
    assert sites
    assert all(s.startswith("functions/rounding.py:") for s in sites), sites


def test_tokenizer_and_hash_live_in_one_module():
    # the Spark tokenizer, its DuckDB twin and the md5-60 hash are
    # written once, in functions/tokens.py
    spellings = {
        "spark tokenizer": ("F.split(F.trim(",),
        "sql tokenizer": ("string_split_regex(trim(text)",),
        "md5-60": (
            "F.conv(F.substring(F.md5(",
            "conv(substring(md5(",
            "'0x' || substr(md5(",
        ),
    }
    for what, needles in spellings.items():
        sites = _sites("|".join(map(re.escape, needles)))
        assert sites, what
        assert all(s.startswith("functions/tokens.py:") for s in sites), (
            what, sites,
        )


def test_latest_state_rule_lives_in_one_function():
    # the max-seq-wins order is spelled in SQL once, by
    # materialize.sql_latest_state; every oracle calls it
    path = PKG / "cdc" / "materialize.py"
    fn = next(
        node for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "sql_latest_state"
    )
    own = {
        f"cdc/materialize.py:{n}" for n in range(fn.lineno, fn.end_lineno + 1)
    }
    sites = _sites(r"(?i)ORDER\s+BY\s+seq\s+DESC")
    assert sites
    assert set(sites) <= own, sites
