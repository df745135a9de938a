"""Guard for the counted write path: metastore persistence and sinks count
the rows they write on the write itself (``persistence.write_counted``).
A ``.count()`` call there runs the upstream plan a second time, so each
one must be listed below with the reason it has to stay."""

import ast
import os
from collections import defaultdict

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pramen_spark")

# (file, enclosing function) -> one reason per allowed ``.count()`` call
ALLOWED = {
    ("metastore/persistence.py", "repartition_by_records"): [
        "sizing: the partition count must be known before the write starts",
    ],
    ("metastore/persistence.py", "ParquetPersistence.save_table"): [
        "control read after an append: the partition total includes older files",
    ],
    ("sinks/cmd_line_sink.py", "CmdLineSink.send"): [
        "no format set: nothing is written, so the count is the only action",
    ],
    ("sinks/standardization_sink.py", "StandardizationSink.send"): [
        "control read of the raw layer after its write (_INFO raw checkpoint)",
        "control read of the delta publish partition after its write",
        "control read of the parquet publish layer after its write",
    ],
}


def guarded_files():
    yield "metastore/persistence.py"
    for name in sorted(os.listdir(os.path.join(ROOT, "sinks"))):
        if name.endswith(".py"):
            yield f"sinks/{name}"


def count_calls(rel_path):
    """``.count()`` calls without arguments per enclosing function."""
    with open(os.path.join(ROOT, rel_path)) as f:
        tree = ast.parse(f.read())
    found = defaultdict(int)

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                visit(child, scope + [child.name])
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "count"
                and not child.args
                and not child.keywords
            ):
                found[".".join(scope) or "<module>"] += 1
            visit(child, scope)

    visit(tree, [])
    return found


def test_no_count_outside_allow_list():
    seen = {}
    for rel in guarded_files():
        for func, n in count_calls(rel).items():
            seen[(rel, func)] = n
    unexpected = {
        key: n for key, n in seen.items() if n > len(ALLOWED.get(key, []))
    }
    assert not unexpected, (
        f"count() before a write in {unexpected}: count on the write with "
        "persistence.write_counted, or add an allow-list entry with its reason"
    )
    stale = {key for key, reasons in ALLOWED.items() if seen.get(key, 0) < len(reasons)}
    assert not stale, f"allow-list entries with no matching count(): {stale}"


def test_detector_sees_counts():
    # the scan must find the allowed sizing count, or it guards nothing
    assert count_calls("metastore/persistence.py")["repartition_by_records"] == 1
