"""Every plan, operator and streaming stage calls the one rule in
``functions/`` (or, for the md5 sampling key, in
``operators/similarity``): none restates a text, rounding, sign-bit
packing, window or sampling rule in its own code or SQL, and none reaches into
``plans/text`` for a private fragment. Session conf is set in
``session`` only (and by ``streaming/events.process_all``), and the
exactly-once epoch sink and the stream drain are written once, in
``streaming/events``. Reads the source only; no Spark session."""

import ast
import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "immoeliza_pipeline_spark"
PLANS = sorted((PKG / "plans").glob("*.py"))
LAYERS = sorted(p for d in ("plans", "operators", "streaming")
                for p in (PKG / d).glob("*.py"))
MODULES = sorted(PKG.rglob("*.py"))
EVENTS = PKG / "streaming" / "events.py"

# rule: (pattern, the files it must not appear in, the rule's own module)
RESTATED = {
    "word n-gram (functions.text.sql_word_shingles)": (r"t\[i\] \|\|", PLANS),
    "stopword filter (functions.text.sql_stopword_ratio)":
        (r"list_filter\(t, x -> x IN", PLANS),
    "half-up rounding (functions.num.sql_quantize)": (r"floor\(.*\+ 0\.5", PLANS),
    "sign-bit packing (functions.num.pack_sign_bits)":
        (r"THEN \{1 << |lit\((2 \*\*|1 <<)", LAYERS),
    "whitespace class (functions.text.WS)": (r"\\s", LAYERS),
    "token-window count (functions.text.window_count)":
        (r"\+ *[\w{}.]+ *- *1\) */", LAYERS),
    "token-window slice (functions.text.window_slice)":
        (r"slice\([^,]+, [^,]*\+ *1\b|\[\([^]]*\+ *1\):", LAYERS),
    "md5 sampling key (operators.similarity.sql_md5_prefix)":
        (r"substr(ing)?\((F\.)?md5\(",
         [p for p in LAYERS if p != PKG / "operators" / "similarity.py"]),
    "session conf (session._RUNTIME_CONF)":
        (r"conf\.set\(",
         [p for p in MODULES if p not in (PKG / "session.py", EVENTS)]),
    "epoch sink (streaming.events.write_epoch)":
        (r'partitionBy\("__epoch"\)', [p for p in MODULES if p != EVENTS]),
    "stream drain (streaming.events.drain)":
        (r"processAllAvailable", [p for p in MODULES if p != EVENTS]),
}


@pytest.mark.parametrize("rule", sorted(RESTATED))
def test_plans_do_not_restate_rule(rule):
    pattern, files = RESTATED[rule]
    pattern = re.compile(pattern)
    hits = [f"{p.parent.name}/{p.name}:{i}" for p in files
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
