"""The zone columns have one owner: only ``operators/table.py`` names a
chunk's ``<c>__min``/``<c>__max``/``<c>__nulls`` columns, so every
zone-map-pruned read goes through its two evaluators (``_stats_may_match``
for files and DataSource chunks, ``zone_filter`` for Spark chunk scans).
The token manifest's renaming projection (``encode.read_manifest``) is the
one exception: it exposes the ``doc_id`` zone map, it prunes nothing."""

import ast
import pathlib

import pandora_apache_avro_idl_to_apache_parquet_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent
OWNER = ROOT / "operators" / "table.py"
SUFFIXES = ("__min", "__max", "__nulls")


def _zone_names(tree):
    """(line, string) of every string constant or f-string part ending in a
    zone suffix, with the function that holds it."""
    found = []

    def walk(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and node.value.endswith(SUFFIXES)):
            found.append((node.lineno, node.value, fn))
        for child in ast.iter_child_nodes(node):
            walk(child, fn)

    walk(tree, None)
    return found


def test_only_table_names_zone_columns():
    offenders = []
    for path in sorted(ROOT.rglob("*.py")):
        if path == OWNER or "__pycache__" in path.parts:
            continue
        rel = path.relative_to(ROOT).as_posix()
        for line, value, fn in _zone_names(ast.parse(path.read_text())):
            if (rel, fn) != ("operators/encode.py", "read_manifest"):
                offenders.append(f"{rel}:{line} names {value!r}")
    assert not offenders, offenders


def test_scan_sees_the_owner_and_the_exception():
    owner = {v for _, v, _ in _zone_names(ast.parse(OWNER.read_text()))}
    assert {"__min", "__max", "__nulls"} <= owner
    manifest = ROOT / "operators" / "encode.py"
    assert {v for _, v, _ in _zone_names(ast.parse(manifest.read_text()))} == {
        "doc_id__min", "doc_id__max"}
