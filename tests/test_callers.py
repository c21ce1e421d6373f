"""Caller guard: every top-level def in webcrawler_spark/, and every method of
a package class, has a caller in the crawl, search, benchmark, script or
driver-contract surface.

A def counts as called when its name appears outside its own body in the
package, perfbench/, scripts/ or __spark_entry__.py: as a Name, an
Attribute, an import alias or a string constant (perfbench patches engine
functions by attribute name). References from tests/ do not count: code that
only its own tests reach is code the system does not need. Pure ``ast``; no
Spark session.

Methods are matched by name as well, so any other use of the same name
(a variable, another class's attribute) counts as a caller. Dunders are
skipped, and so are the methods of classes with a base class: those are
framework callbacks such as ``HTMLParser.handle_starttag``.
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
    "catalog.Catalog.rollback_to": "operator recovery from a bad committed epoch",
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


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _top_level_defs(modules):
    for f, tree in modules:
        if f.is_relative_to(ROOT / "webcrawler_spark"):
            for node in tree.body:
                if isinstance(node, _DEFS):
                    yield f"{f.stem}.{node.name}", node


def _methods(modules):
    """Non-dunder methods of base-less package classes, as
    ``module.Class.method``."""
    for key, node in _top_level_defs(modules):
        if isinstance(node, ast.ClassDef) and not node.bases:
            for m in node.body:
                if isinstance(m, _DEFS) and not (
                    m.name.startswith("__") and m.name.endswith("__")
                ):
                    yield f"{key}.{m.name}", m


def _uncalled(modules):
    """Keys of the defs and methods with no caller. A caller that is itself
    uncalled does not count, so code reached only from dead code is listed
    too."""
    defs = [*_top_level_defs(modules), *_methods(modules)]
    total = Counter()
    for _, tree in modules:
        total.update(_names(tree))
    # the names each def contributes to the total; a class's own names
    # leave out its methods', which are counted as defs of their own
    own = {key: _names(node) for key, node in defs}
    for key, _ in _methods(modules):
        own[key.rsplit(".", 1)[0]] -= own[key]
    dead = {}
    while True:
        new = {
            key: node
            for key, node in defs
            if key not in dead and key not in KEEP
            and total[node.name] - _names(node)[node.name] <= 0
        }
        if not new:
            return set(dead)
        for key in new:
            total.subtract(own[key])
        dead.update(new)


def test_every_top_level_def_has_a_caller():
    modules = list(_modules())
    uncalled = sorted(_uncalled(modules) & {k for k, _ in _top_level_defs(modules)})
    assert not uncalled, f"defs with no caller outside tests/: {uncalled}"


def test_every_method_has_a_caller():
    modules = list(_modules())
    uncalled = sorted(_uncalled(modules) & {k for k, _ in _methods(modules)})
    assert not uncalled, f"methods with no caller outside tests/: {uncalled}"


def test_keep_list_names_existing_defs():
    modules = list(_modules())
    defs = {key for key, _ in [*_top_level_defs(modules), *_methods(modules)]}
    assert set(KEEP) <= defs, sorted(set(KEEP) - defs)
    assert all(reason.strip() for reason in KEEP.values())
