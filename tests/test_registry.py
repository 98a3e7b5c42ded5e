"""The `__spark_entry__` registry: every module's QUERIES/ORACLES
dicts, unioned. Builds no plans."""

import ast
import pathlib

import __spark_entry__ as entry


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
    # every Spark-side `+ 1e-9` goes through functions/rounding.py;
    # oracle SQL strings are str constants and do not match
    pkg = pathlib.Path(entry.__file__).parent / "debezium_spark"
    sites = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "functions" / "rounding.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and node.value == 1e-9
    ]
    assert sites == []


def test_tokenizer_and_hash_live_in_one_module():
    # the Spark tokenizer, its DuckDB twin and the md5-60 hash are
    # written once, in functions/tokens.py
    pkg = pathlib.Path(entry.__file__).parent / "debezium_spark"
    spellings = {
        "spark tokenizer": ("F.split(F.trim(",),
        "sql tokenizer": ("string_split_regex(trim(text)",),
        "md5-60": ("F.conv(F.substring(F.md5(", "conv(substring(md5("),
    }
    for what, needles in spellings.items():
        sites = [
            f"{path.relative_to(pkg)}:{n}"
            for path in sorted(pkg.rglob("*.py"))
            for n, line in enumerate(path.read_text().splitlines(), 1)
            if any(s in line for s in needles)
        ]
        assert sites, what
        assert all(s.startswith("functions/tokens.py:") for s in sites), (
            what, sites,
        )
