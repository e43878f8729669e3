"""Every public engine definition has a consumer outside the tests.

A no-Spark AST scan of ``streaming_cdc_spark/``: each public (no leading
underscore), non-``@query`` top-level function, class or module-level
assigned name must be named — as a Name, an attribute, an import or a
string constant — somewhere in the engine outside its own body, in
``tools/``, ``bench.py``, ``perfbench/`` or ``__spark_entry__.py``.
A definition that only tests
call is a second path to keep working; delete it with its tests, or, if
it is the only implementation of a reference capability or the
reference a test compares a shipped path against, add it to ``KEEP``
with the reason.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "streaming_cdc_spark")

# "module path" keeps every public definition of that module;
# "module path:name" keeps one. Paths are relative to the package.
KEEP = {
    "sources/zeshel.py:zeshel_mentions": "Zeshel join-source reader (SURVEY S9), the only one",
    "sources/aida.py:read_aida": "AIDA CoNLL document reader, the only one",
    "sources/aida.py:aida_mentions": "AIDA mention records with the --NME-- filter (P3), the only one",
    "sources/ecbplus.py:read_ecbplus": "ECB+ reader, the only one",
    "sources/kilt.py:read_kilt_mentions": "KILT reader, the only one",
    "sources/pubtator.py:read_pubtator": "PubTator document reader, the only one",
    "sources/pubtator.py:pubtator_mentions": "PubTator mention records (P1), the only one",
    "sources/kafka.py:read_mention_stream_kafka": "Kafka mention-stream source, the only one; "
    "the connector is not on this classpath, so only its guard and parsing are tested",
    "sources/mentions.py": "TSV, JSONL, dendrogram, cluster-pair and vocab I/O: "
    "the reference file formats of SURVEY §1",
    "operators/encoder.py:encode_mentions": "the only transformer encoder path (model_name=...)",
    "pipelines.py:ep2_nn_threshold": "EP2 batch pipeline, named by the north star",
    "pipelines.py:ep3_grinch": "EP3 GRINCH pipeline, named by the north star",
    "operators/ann.py:semantic_dedup_flags": "reference the cell-grouped semantic dedup is compared against",
    "operators/ann.py:collect_pq_codebooks": "reference the fused PQ planning collect is compared against",
    "operators/multimodal.py:extract_media_features": "the only blob decode path "
    "(PIL for image/*, deterministic fake otherwise)",
    "operators/multimodal.py:MEDIA_SCHEMA": "the media column contract extract_media_features reads",
    "plans/inspect.py": "plan-inspection helpers the plan tests assert with",
}


def _py_files(top: str):
    for dirpath, _dirs, files in os.walk(top):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _refs(node: ast.AST) -> Counter:
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out[n.value] += 1
    return out


def _is_query(node) -> bool:
    for d in node.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        name = target.id if isinstance(target, ast.Name) else getattr(target, "attr", None)
        if name == "query":
            return True
    return False


def _defined_names(node) -> list[str]:
    """Public names a top-level statement defines: a non-@query def or
    class, or the Name targets of a module-level assignment."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [] if _is_query(node) else [node.name]
    elif isinstance(node, ast.Assign):
        names = [t.id for t in node.targets if isinstance(t, ast.Name)]
    elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        names = [node.target.id]
    else:
        names = []
    return [n for n in names if not n.startswith("_")]


def _unreferenced() -> dict[str, str]:
    """{"module path:name": module path} of the public, non-@query
    top-level definitions nothing outside the tests references."""
    engine: Counter = Counter()
    defs = []
    for path in _py_files(PKG):
        tree = ast.parse(open(path).read(), path)
        engine += _refs(tree)
        rel = os.path.relpath(path, PKG)
        for node in tree.body:
            for name in _defined_names(node):
                defs.append((rel, name, _refs(node)[name]))
    outside: Counter = Counter()
    others = [os.path.join(ROOT, f) for f in ("bench.py", "__spark_entry__.py")]
    for top in ("tools", "perfbench"):
        others += _py_files(os.path.join(ROOT, top))
    for path in others:
        outside += _refs(ast.parse(open(path).read(), path))
    return {
        f"{rel}:{name}": rel
        for rel, name, own in defs
        if engine[name] - own <= 0 and not outside[name]
    }


def test_every_public_definition_has_a_non_test_consumer():
    unref = _unreferenced()
    unkept = sorted(k for k, mod in unref.items() if k not in KEEP and mod not in KEEP)
    assert not unkept, (
        "only tests reach these engine definitions; delete them with their "
        f"tests, or add each to KEEP with its reason: {unkept}"
    )


def test_keep_list_is_current():
    unref = _unreferenced()
    stale = sorted(k for k in KEEP if k not in unref and k not in unref.values())
    assert not stale, f"KEEP entries with no unreferenced definition left: {stale}"
    assert len(KEEP) <= 25
