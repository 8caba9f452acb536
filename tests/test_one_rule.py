"""Every plan calls the one rule in ``functions/``: no module under
``plans/`` restates a text or rounding rule in its own SQL, and none
reaches into ``plans/text`` for a private fragment. Reads the source
only; no Spark session."""

import ast
import re
from pathlib import Path

import pytest

PLANS = sorted((Path(__file__).resolve().parent.parent
                / "immoeliza_pipeline_spark" / "plans").glob("*.py"))

RESTATED = {
    "word n-gram (functions.text.sql_word_shingles)": r"t\[i\] \|\|",
    "stopword filter (functions.text.sql_stopword_ratio)":
        r"list_filter\(t, x -> x IN",
    "half-up rounding (functions.num.sql_quantize)": r"floor\(.*\+ 0\.5",
}


@pytest.mark.parametrize("rule", sorted(RESTATED))
def test_plans_do_not_restate_rule(rule):
    pattern = re.compile(RESTATED[rule])
    hits = [f"{p.name}:{i}" for p in PLANS
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if pattern.search(line)]
    assert not hits, f"{rule} written by hand at {hits}"


def test_plans_import_nothing_private_from_plans_text():
    hits = [f"{p.name}:{node.lineno}" for p in PLANS
            for node in ast.walk(ast.parse(p.read_text()))
            if isinstance(node, ast.ImportFrom)
            and (node.module or "").endswith("plans.text")
            and any(a.name.startswith("_") for a in node.names)]
    assert not hits, hits
