"""Near-duplicate function detector (Spark-free).

Scope: every function in the package outside ``plans/oracle.py``,
nested ones included, that spans at least ``MIN_LINES`` source lines
and keeps at least ``MIN_CODE_LINES`` lines once its docstring is
removed (the second bound keeps out thin registry wrappers whose
length is all docstring). Each body, docstring removed, is rendered
with ``ast.unparse`` and split into Python tokens, and every pair is
scored with ``difflib.SequenceMatcher(autojunk=False).ratio()``.
Pairs are pruned only through the matcher's own upper bounds
(``real_quick_ratio`` then ``quick_ratio``), so a skipped pair cannot
score at the threshold.

A pair at ``THRESHOLD`` or above fails the test unless it is in
``ALLOWED`` with its reason. A listed pair that has fallen below the
threshold also fails: delete its entry, so the list only shrinks.
Collapse a new near-duplicate into a shared helper instead of listing
it.
"""

from __future__ import annotations

import ast
import difflib
import io
import pathlib
import tokenize

import quickbooks_aws_etl_pipeline_spark as pkg

MIN_LINES = 20
MIN_CODE_LINES = 10
THRESHOLD = 0.9

# (module:function, module:function) -> reason. Keys are sorted pairs.
ALLOWED = {
    ("plans.core_relational:sql_shipping_priority",
     "plans.olap_suite:sql_pipe_syntax"):
        "one TPC-H Q3 text in standard SQL and in pipe syntax; the "
        "pipe key exists to run the same query through the other "
        "parser",
    ("sources.reports:flatten_report_tree",
     "sources.reports:flatten_report_tree.walk_row"):
        "the report flattener and its own nested recursive walk; the "
        "outer body is mostly the inner one",
    ("operators.multimodal:image_tiles",
     "operators.multimodal:image_tiles.batches"):
        "the mapInPandas stub and its own nested batch generator",
}

_LAYOUT = {tokenize.NEWLINE, tokenize.NL, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENDMARKER}


def _defs(node, prefix):
    """(qualified name, node) for every function under ``node``,
    nested ones included."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
            qual = prefix + child.name
            if not isinstance(child, ast.ClassDef):
                yield qual, child
            yield from _defs(child, qual + ".")
        else:
            yield from _defs(child, prefix)


def _tokens(src: str) -> list[str]:
    toks = tokenize.generate_tokens(io.StringIO(src).readline)
    return [t.string for t in toks if t.type not in _LAYOUT]


def _functions() -> dict[str, list[str]]:
    root = pathlib.Path(pkg.__file__).parent
    out: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        if path.name == "oracle.py":
            continue
        mod = ".".join(path.relative_to(root).with_suffix("").parts)
        for qual, node in _defs(ast.parse(path.read_text()), ""):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                body = body[1:]
            if (node.end_lineno - node.lineno + 1 >= MIN_LINES and body
                    and node.end_lineno - body[0].lineno + 1
                    >= MIN_CODE_LINES):
                src = "\n".join(ast.unparse(stmt) for stmt in body)
                out[f"{mod}:{qual}"] = _tokens(src)
    return out


def near_duplicate_pairs(threshold: float = THRESHOLD
                         ) -> dict[tuple[str, str], float]:
    """Every pair of scoped functions whose token ratio is at least
    ``threshold``, keyed by the name pair in sorted order."""
    funcs = sorted(_functions().items())
    found = {}
    sm = difflib.SequenceMatcher(autojunk=False)
    for i, (name_b, toks_b) in enumerate(funcs):
        sm.set_seq2(toks_b)
        for name_a, toks_a in funcs[:i]:
            sm.set_seq1(toks_a)
            if (sm.real_quick_ratio() >= threshold
                    and sm.quick_ratio() >= threshold):
                ratio = sm.ratio()
                if ratio >= threshold:
                    found[(name_a, name_b)] = round(ratio, 3)
    return found


def test_no_new_near_duplicate_functions():
    found = near_duplicate_pairs()
    new = {p: r for p, r in found.items() if p not in ALLOWED}
    assert not new, (
        "near-duplicate functions (ratio >= "
        f"{THRESHOLD}); collapse them into one helper: {new}")
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, (
        f"allowlisted pairs now below {THRESHOLD}; delete their "
        f"entries: {stale}")
