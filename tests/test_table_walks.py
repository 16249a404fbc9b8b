"""The AST rule that keeps each table-format module to ONE metadata
walk: in ``operators/iceberg.py``, ``operators/lakehouse.py`` and
``operators/hudi.py`` a single function opens the tar bundle
(``parse_tar(``), a single Iceberg function names ``"metadata.json"``,
a single Delta function lists the ``_delta_log/<v>.json`` commits
(the module's one ``".json"`` literal), and every ``parse_*`` reader
calls the module's walk — so a gate added to the walk reaches every
reader."""

import ast
import os

from google_analytics_to_s3_spark import operators

_OPS = os.path.dirname(operators.__file__)

# module -> (the walk function every parse_* must call directly,
#            the literal only that walk may hold, or None)
_WALKS = {
    "iceberg": (("_open_table",), "metadata.json"),
    "lakehouse": (("_open_log", "_commits"), ".json"),
    "hudi": (("_timeline",), None),
}


def _functions(tree):
    """(name, node) for every function, methods as ``Class.name``;
    nested functions count as part of their enclosing function."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, ast.FunctionDef):
                    yield f"{node.name}.{sub.name}", sub


def _docstrings(fn):
    return {id(n.body[0].value) for n in ast.walk(fn)
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))
            and n.body and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)}


def walk_violations(module: str, source: str) -> list[str]:
    """What in ``source`` (the text of ``operators/<module>.py``)
    breaks the one-walk rule; empty when it holds."""
    walks, literal = _WALKS[module]
    opens, holds, calls = [], [], {}
    for name, fn in _functions(ast.parse(source)):
        docs = _docstrings(fn)
        called = set()
        for node in ast.walk(fn):
            if isinstance(node, ast.Call):
                callee = getattr(node.func, "id",
                                 getattr(node.func, "attr", None))
                called.add(callee)
                if callee == "parse_tar":
                    opens.append(name)
            elif (literal and isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and node.value.endswith(literal)
                  and id(node) not in docs):
                holds.append(name)
        calls[name] = called
    out = []
    if len(set(opens)) != 1:
        out.append(f"parse_tar( in {sorted(set(opens))}")
    if literal and len(set(holds)) != 1:
        out.append(f"{literal!r} in {sorted(set(holds))}")
    for name, called in calls.items():
        if name.startswith("parse_"):
            out += [f"{name} does not call {w}" for w in walks
                    if w not in called]
    return out


def _source(module: str) -> str:
    with open(os.path.join(_OPS, f"{module}.py")) as f:
        return f.read()


def test_each_format_module_has_one_walk():
    for module in _WALKS:
        assert walk_violations(module, _source(module)) == [], module


def test_all_seventeen_readers_are_under_the_rule():
    readers = [name for module in _WALKS
               for name, _ in _functions(ast.parse(_source(module)))
               if name.startswith("parse_")]
    assert len(readers) == 17, readers


def test_walk_rule_sees_a_hand_written_second_walk():
    iceberg = _source("iceberg") + (
        "\n\ndef parse_iceberg_rogue(bundle):\n"
        "    files = {m['name']: m['data'] for m in parse_tar(bundle)}\n"
        "    return json.loads(files['metadata.json'])\n")
    assert walk_violations("iceberg", iceberg) == [
        "parse_tar( in ['_open_table', 'parse_iceberg_rogue']",
        "'metadata.json' in ['_open_table', 'parse_iceberg_rogue']",
        "parse_iceberg_rogue does not call _open_table",
    ]
    delta = _source("lakehouse") + (
        "\n\ndef parse_delta_rogue(bundle):\n"
        "    files = _open_log(bundle)\n"
        "    return sorted(n for n in files\n"
        "                  if n.startswith('_delta_log/')\n"
        "                  and n.endswith('.json'))\n")
    assert walk_violations("lakehouse", delta) == [
        "'.json' in ['_commits', 'parse_delta_rogue']",
        "parse_delta_rogue does not call _commits",
    ]
    hudi = _source("hudi") + (
        "\n\ndef parse_hudi_rogue(bundle):\n"
        "    return len(parse_tar(bundle))\n")
    assert walk_violations("hudi", hudi) == [
        "parse_tar( in ['_timeline', 'parse_hudi_rogue']",
        "parse_hudi_rogue does not call _timeline",
    ]
