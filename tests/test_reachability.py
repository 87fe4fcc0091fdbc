"""Every top-level name in the package is reached by a non-test caller.

The scan walks the AST of every non-test ``.py`` file in the repository
and the ``python`` code blocks of ``docs/PIPELINES.md``. A reference is
a ``Name`` id, an ``Attribute`` attr or an import alias; names inside an
f-string are AST nodes too, so SQL built with f-strings still counts.
A top-level definition of a package module is live when a non-package
file, a module-level statement of the package, or the body of a live
definition references its name. Names are matched by spelling only, so
a name shared by two modules keeps both alive: the scan can miss dead
code, never call live code dead.

What no caller reaches is either deleted, moved under ``tests/`` or
listed in ``ALLOWED`` with the reason it stays.
"""
from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ad_data_lake_spark"
DOC_RECIPES = ROOT / "docs" / "PIPELINES.md"
SKIP_DIRS = {"tests", "spark-warehouse", "bench_results", "__pycache__"}

# (module, name) -> why it stays without a non-test caller.
ALLOWED = {
    ("llm.dedup", "_simhash_jvm"): "JVM packed-vote reference the Arrow simhash kernel is pinned against",
    ("llm.dedup", "minhash_index_probe"): "probe half of the persisted band index, semantics pinned by a test",
    ("llm.curation", "boilerplate_ngrams"): "the boilerplate n-gram set remove_boilerplate's output is checked against",
    ("llm.similarity", "binary_codes"): "packed sign-bit codes at rest, pinned against an independent numpy pack",
    ("llm.similarity", "_binary_word"): "helper of binary_codes",
    ("llm.multimodal", "sample_frame_indices"): "JVM frame-sampling plan that sampled_indices is pinned against",
    ("llm.wav_codec", "parse_wav_meta"): "header-only WAV probe, the metadata twin of decode_wav",
    ("commit_protocol", "MemoryConditionalStore"): "in-memory arbiter backend the commit-protocol tests run on",
    ("functions.dynamic_json", "sanitize_dynamic_json"): "public sanitizer named in docs/MIGRATION.md",
    ("sinks", "write_nested_report_json"): "the S14 nested-report JSON sink",
}


def _sources():
    """Yield (relative module name or None, source text) for every scanned file."""
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if SKIP_DIRS & set(rel.parts[:-1]) or rel.parts[0].startswith("."):
            continue
        module = None
        if rel.parts[0] == PACKAGE:
            module = ".".join(rel.with_suffix("").parts[1:])
        yield module, path.read_text()
    for block in re.findall(r"```python\n(.*?)```", DOC_RECIPES.read_text(), re.S):
        yield None, block


def _refs(node):
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.add(sub.name.split(".")[-1])
    return out


def _defined(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def unreached():
    """The set of (module, name) top-level package names no live code reaches."""
    live = set()
    defs = {}  # (module, name) -> referenced names of its statement
    for module, text in _sources():
        for stmt in ast.parse(text).body:
            names = [n for n in _defined(stmt) if not n.startswith("__")] if module else []
            if not names:
                live |= _refs(stmt)
                continue
            for name in names:
                defs[(module, name)] = _refs(stmt) - {name}
    reached, grew = set(), True
    while grew:
        grew = False
        for key, refs in defs.items():
            if key not in reached and key[1] in live:
                reached.add(key)
                live |= refs
                grew = True
    return set(defs) - reached


def test_unreached_names_are_the_allowlist():
    dead = unreached()
    assert dead - set(ALLOWED) == set(), "unreached and not allowlisted"
    assert set(ALLOWED) - dead == set(), "allowlisted but reached or gone"
