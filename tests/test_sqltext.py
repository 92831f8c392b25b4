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
