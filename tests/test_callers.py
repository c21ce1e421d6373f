"""Caller guard: every top-level def in webcrawler_spark/ has a caller in the
crawl, search, benchmark, script or driver-contract surface.

A def counts as called when its name appears outside its own body in the
package, perfbench/, scripts/ or __spark_entry__.py: as a Name, an
Attribute, an import alias or a string constant (perfbench patches engine
functions by attribute name). References from tests/ do not count: code that
only its own tests reach is code the system does not need. Pure ``ast``; no
Spark session.
"""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CALLER_ROOTS = ("webcrawler_spark", "perfbench", "scripts", "__spark_entry__.py")

# module.name -> why it stays without a non-test caller
KEEP = {
    "warc.read_warc": "Spark source for real Common Crawl WARC/WET archives",
    "warc.pages_from_warc": "on-ramp from real archives to the crawl's page table",
    "oracle.run_oracle": "reference crawl the crawl-order/seen-set parity tests compare to",
}


def _names(node):
    """Every name a subtree mentions, as a Counter."""
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out[n.value] += 1
    return out


def _modules():
    for root in CALLER_ROOTS:
        p = ROOT / root
        for f in [p] if p.suffix == ".py" else sorted(p.rglob("*.py")):
            yield f, ast.parse(f.read_text(encoding="utf-8"))


def _top_level_defs(modules):
    for f, tree in modules:
        if f.is_relative_to(ROOT / "webcrawler_spark"):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    yield f"{f.stem}.{node.name}", node


def test_every_top_level_def_has_a_caller():
    modules = list(_modules())
    total = Counter()
    for _, tree in modules:
        total.update(_names(tree))
    uncalled = sorted(
        key
        for key, node in _top_level_defs(modules)
        if total[node.name] - _names(node)[node.name] == 0 and key not in KEEP
    )
    assert not uncalled, f"defs with no caller outside tests/: {uncalled}"


def test_keep_list_names_existing_defs():
    defs = {key for key, _ in _top_level_defs(_modules())}
    assert set(KEEP) <= defs, sorted(set(KEEP) - defs)
    assert all(reason.strip() for reason in KEEP.values())
