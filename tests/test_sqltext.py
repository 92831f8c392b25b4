"""The operators spell SQL text through one quoting module: no operator
interpolates a raw identifier or a hand-formatted DOUBLE literal."""

import pathlib
import re

OPERATORS = pathlib.Path(__file__).resolve().parent.parent / "pdtable_spark" / "operators"

#: ``f"`{name}`"`` — a backtick opening an interpolation (a doubled
#: backtick is reST markup in a docstring, not SQL)
RAW_IDENT = re.compile(r"(?<!`)`\{")
#: ``f"{v!r}D"`` — repr is not a SQL literal for NaN or ±inf
RAW_DOUBLE = re.compile(r"!r\}D")


def test_operators_quote_sql_only_through_sqltext():
    offenders = []
    for path in sorted(OPERATORS.glob("*.py")):
        if path.name == "sqltext.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if RAW_IDENT.search(line) or RAW_DOUBLE.search(line):
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, "quote via operators.sqltext (ident / num):\n" + "\n".join(offenders)


def test_package_compiles_without_warnings():
    """SQL text lives in Python string literals, where a regex escape such
    as ``'\\s+'`` is an invalid Python escape: it compiles with a warning
    today (an error in a later Python) and works only because unknown
    escapes pass through.  Every module must compile with warnings as
    errors."""
    import warnings

    failures = []
    for path in sorted(OPERATORS.parent.rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(), str(path), "exec")
            except SyntaxError as e:  # a warning raised as an error
                failures.append(f"{path.relative_to(OPERATORS.parent)}:{e.lineno}: {e.msg}")
    assert not failures, "\n".join(failures)
