"""Guard for parquet reads: a parquet read that infers its schema runs a
Spark job (footer reads) before its plan executes, so parquet reads in
``pramen_spark/`` go through ``metastore/schema_cache.py``, which serves
known schemas. Any other ``read.parquet(`` or parquet ``read.format(...)
.load(`` must be listed below with the reason it stays."""

import ast
import os
from collections import defaultdict

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pramen_spark")

CACHE_MODULE = "metastore/schema_cache.py"

# (file, enclosing function) -> one reason per allowed parquet read
ALLOWED = {
    ("metastore/persistence.py", "TransientTableManager.add_table"): [
        "PERSIST read-back with the nullable schema of the DataFrame just written",
    ],
    ("sources/spark_source.py", "SparkSource._read"): [
        "formats other than parquet, or a user schema; parquet without one takes read_parquet",
    ],
    ("sinks/standardization_sink.py", "StandardizationSink.send"): [
        "raw layer in the user's raw.format (json by default); inferring it is the check",
    ],
    ("streaming/stream.py", "neardup_foreach_batch_sink.write_batch"): [
        "index appended by every micro-batch: its files change each time, so no entry is reused",
    ],
    ("api.py", "ConversionTransformer.run"): [
        "file list of a raw partition in the operation's input.format with user options",
    ],
}


def python_files():
    for root, _dirs, files in os.walk(ROOT):
        for name in sorted(files):
            if name.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, name), ROOT).replace(os.sep, "/")
                if rel != CACHE_MODULE:
                    yield rel


def _chain(node, assigns, seen=()):
    """Attribute names and format() arguments along a call chain such as
    ``spark.read.option(...).format("x").load``, from the call inward,
    following local names to what they were assigned (``reader =
    spark.read.format(f)`` then ``reader.load(p)``)."""
    attrs, formats = [], []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            func = node.func
            if isinstance(func, ast.Attribute) and func.attr == "format" and node.args:
                formats.append(node.args[0])
            node = func
        else:
            attrs.append(node.attr)
            node = node.value
    if isinstance(node, ast.Name) and node.id not in seen:
        for value in assigns.get(node.id, []):
            more_attrs, more_formats = _chain(value, assigns, seen + (node.id,))
            attrs += more_attrs
            formats += more_formats
    return attrs, formats


def is_parquet_read(call, assigns=None):
    """``….read….parquet(…)``, or ``….read….load(…)`` whose format is
    parquet, not a literal (it may be parquet) or not set (parquet is
    Spark's default)."""
    if not isinstance(call.func, ast.Attribute) or call.func.attr not in ("parquet", "load"):
        return False
    attrs, formats = _chain(call.func.value, assigns or {})
    if "read" not in attrs or "write" in attrs:
        return False
    if call.func.attr == "parquet":
        return True
    return not formats or any(
        not isinstance(f, ast.Constant) or f.value == "parquet" for f in formats
    )


def local_assigns(func):
    """name -> values assigned to it in ``func``."""
    assigns = defaultdict(list)
    for node in ast.walk(func):
        if isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    assigns[target.id].append(node.value)
    return assigns


def parquet_reads(rel_path):
    """Parquet reads per enclosing function."""
    with open(os.path.join(ROOT, rel_path)) as f:
        tree = ast.parse(f.read())
    found = defaultdict(int)

    def visit(node, scope, assigns):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, scope + [child.name], local_assigns(child))
                continue
            if isinstance(child, ast.ClassDef):
                visit(child, scope + [child.name], {})
                continue
            if isinstance(child, ast.Call) and is_parquet_read(child, assigns):
                found[".".join(scope) or "<module>"] += 1
            visit(child, scope, assigns)

    visit(tree, [], {})
    return found


def test_no_parquet_read_outside_allow_list():
    seen = {}
    for rel in python_files():
        for func, n in parquet_reads(rel).items():
            seen[(rel, func)] = n
    unexpected = {key: n for key, n in seen.items() if n > len(ALLOWED.get(key, []))}
    assert not unexpected, (
        f"parquet read outside the schema cache in {unexpected}: read through "
        "schema_cache.read_parquet, or add an allow-list entry with its reason"
    )
    stale = {key for key, reasons in ALLOWED.items() if seen.get(key, 0) < len(reasons)}
    assert not stale, f"allow-list entries with no matching parquet read: {stale}"


def test_detector_sees_reads():
    # the scan must find the shapes it guards, or it guards nothing
    def reads(src):
        tree = ast.parse(src)
        assigns = local_assigns(tree)
        return sum(is_parquet_read(n, assigns) for n in ast.walk(tree) if isinstance(n, ast.Call))

    assert reads("spark.read.parquet(p)") == 1
    assert reads("spark.read.option('basePath', b).parquet(p)") == 1
    assert reads("spark.read.format('parquet').load(p)") == 1
    assert reads("spark.read.format(fmt).load(p)") == 1
    assert reads("spark.read.load(p)") == 1
    assert reads("spark.read.format('delta').load(p)") == 0
    assert reads("r = spark.read.format(fmt)\nr = r.option(k, v)\nr.load(p)") == 1
    assert reads("df.write.parquet(p)") == 0
    assert reads("df = spark.read.parquet(p)\ndf.write.parquet(q)") == 1
    assert reads("spark.readStream.schema(s).parquet(p)") == 0
    assert parquet_reads("metastore/persistence.py")["TransientTableManager.add_table"] == 1
